"""The shared ANN building blocks in operators/similarity.py, pinned on
hand-built frames: the tie rules every IVF, PQ and re-rank tier
inherits from ``nearest_cell_expr`` and ``rerank_topk``."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_rerank_topk_ties_zero_norm_and_k(spark):
    from mito_spark.operators.similarity import rerank_topk

    base = spark.createDataFrame(
        [
            (10, [1.0, 0.0]),  # cos 1 with query 1
            (11, [3.0, 0.0]),  # cos exactly 1 too: the tie goes to id 10
            (12, [0.0, 0.0]),  # zero norm: NULL cosine, dropped
            (13, [0.0, 1.0]),  # cos 0 with query 1, 1 with query 2
            (14, [2.0, 0.0]),  # cos 1, but cut before the re-rank
        ],
        "vec_id long, v array<double>",
    )
    queries = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "query_id long, q array<double>"
    )
    cand = spark.createDataFrame(
        [(1, 11, 5), (1, 10, 4), (1, 12, 3), (1, 13, 2), (1, 14, 1), (2, 12, 9), (2, 13, 8)],
        "query_id long, neighbor_id long, score long",
    )
    rows = rerank_topk(
        cand, [F.desc("score"), F.asc("neighbor_id")], base, queries, k=2, rerank_factor=2
    ).collect()
    got = sorted((r["query_id"], r["rank"], r["neighbor_id"], r["cos_sim"]) for r in rows)
    assert got == [(1, 1, 10, 1.0), (1, 2, 11, 1.0), (2, 1, 13, 1.0)]


def test_nearest_cell_ties_go_to_lower_id(spark):
    from mito_spark.operators.similarity import nearest_cell_expr

    # c1 and c2 coincide; the origin is equidistant from all three
    centroids = [[0.0, 1.0], [1.0, 0.0], [1.0, 0.0]]
    df = spark.createDataFrame(
        [(0, [0.0, 0.0], [9.0, 0.0, 0.0, 9.0]), (1, [1.0, 0.0], [9.0, 1.0, 0.0, 9.0])],
        "id int, v array<double>, w array<double>",
    )
    rows = df.select(
        "id",
        nearest_cell_expr(centroids).alias("on_v"),
        # the PQ form: a slice column instead of v
        nearest_cell_expr(centroids, F.slice(F.col("w"), 2, 2)).alias("on_slice"),
    ).collect()
    assert {r["id"]: (r["on_v"], r["on_slice"]) for r in rows} == {0: (0, 0), 1: (1, 1)}


def test_cluster_silhouette_rejects_one_cell_before_any_job(spark, sf_dir):
    from mito_spark.operators.similarity import cluster_silhouette

    sc = spark.sparkContext
    sc.setJobGroup("silhouette_one_cell", "silhouette_one_cell")
    try:
        with pytest.raises(ValueError, match=">= 2 cells"):
            cluster_silhouette(spark, sf_dir, n_cells=1)
    finally:
        sc._jsc.clearJobGroup()
    assert sc.statusTracker().getJobIdsForGroup("silhouette_one_cell") == []
