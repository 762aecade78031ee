"""Connected components (operators/graph.py): star-contraction
correctness on known graphs + the dedup manifest invariants."""

from __future__ import annotations

from pyspark.sql import functions as F

from mito_spark.operators.graph import connected_components, dedup_connected_components


def _labels(spark, edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    return {r.node: r.component for r in connected_components(df).collect()}


def test_cc_chain_triangle_pair(spark):
    got = _labels(spark, [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_cc_long_adversarial_chain(spark):
    # a 40-node path is the diameter-hostile case for naive label
    # propagation; alternating-star must still collapse it (O(log n))
    n = 40
    got = _labels(spark, [(i, i + 1) for i in range(n)])
    assert got == {i: 0 for i in range(n + 1)}


def test_cc_edge_order_and_direction_irrelevant(spark):
    a = _labels(spark, [(5, 9), (9, 7), (3, 5)])
    b = _labels(spark, [(7, 9), (5, 3), (9, 5)])
    assert a == b == {3: 3, 5: 3, 7: 3, 9: 3}


def test_cc_self_loops_dropped(spark):
    got = _labels(spark, [(1, 1), (1, 2), (3, 3)])
    # 3 only appears in a self-loop → not incident to any real edge
    assert got == {1: 1, 2: 1}


def test_dedup_cc_manifest_invariants(spark, sf_dir):
    out = dedup_connected_components(spark, sf_dir).collect()
    assert len(out) > 0
    by_cluster: dict = {}
    for r in out:
        by_cluster.setdefault(r.cluster_id, []).append(r)
    for cid, members in by_cluster.items():
        # exactly one canonical per cluster, and it is the min doc_id
        canon = [m for m in members if m.is_canonical]
        assert len(canon) == 1 and canon[0].doc_id == cid == min(m.doc_id for m in members)
        assert all(m.cluster_size == len(members) for m in members)
        assert len(members) >= 2  # clusters come from pairs


def test_cc_plan_bounded_driver_traffic(spark):
    # the star probe is the ONLY driver round-trip in the loop: one
    # action returning a bool per round, whatever the graph's size —
    # under AQE that action is 3 jobs (its two shuffle stages run as
    # jobs of their own, then the result job)
    from mito_spark.operators.graph import _is_star_forest

    sc = spark.sparkContext
    cases = {
        "star": ([(2, 1), (3, 1)], True),
        "chain": ([(2, 1), (3, 2)], False),
        "big_star": ([(i, 1) for i in range(2, 202)], True),
    }
    for name, (edges, want) in cases.items():
        group = f"cc_probe_{name}"
        sc.setJobGroup(group, group)
        try:
            got = _is_star_forest(spark.createDataFrame(edges, "u long, v long"))
        finally:
            sc._jsc.clearJobGroup()
        assert got is want, name
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 3, name


def test_cc_empty_edges(spark):
    df = spark.createDataFrame([], "src long, dst long")
    assert connected_components(df).count() == 0


def test_cc_duplicate_and_reversed_edges(spark):
    # duplicate edges and both orientations must not produce duplicate
    # labels: at convergence every node appears exactly once
    edges = [(1, 2), (2, 1), (1, 2), (2, 3), (3, 2), (2, 3)]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = connected_components(df).collect()
    assert sorted((r.node, r.component) for r in out) == [(1, 1), (2, 1), (3, 1)]


def test_label_propagation_semantics(spark, sf_dir):
    from mito_spark.operators.graph import label_propagation

    rows = label_propagation(spark, sf_dir).collect()
    labels = {r["true_label"] for r in rows}
    n_seed = sum(1 for r in rows if r["is_seed"])
    assert 0 < n_seed < len(rows)
    for r in rows:
        if r["is_seed"]:
            # seeds keep their true label, always
            assert r["pred_label"] == r["true_label"]
        elif r["pred_label"] is not None:
            # propagated labels come from the label domain
            assert r["pred_label"] in labels
    # propagation extends coverage beyond the seed set
    n_labeled = sum(1 for r in rows if r["pred_label"] is not None)
    assert n_labeled > n_seed


def test_label_propagation_monotone_rounds(spark, sf_dir):
    """More rounds can only ADD labels, never change existing ones."""
    from mito_spark.operators.graph import label_propagation

    one = {r["vec_id"]: r["pred_label"] for r in label_propagation(spark, sf_dir, rounds=1).collect()}
    two = {r["vec_id"]: r["pred_label"] for r in label_propagation(spark, sf_dir, rounds=2).collect()}
    for vid, lab in one.items():
        if lab is not None:
            assert two[vid] == lab
    assert sum(v is not None for v in two.values()) >= sum(v is not None for v in one.values())


def test_dedup_cluster_stats_consistent(spark, sf_dir):
    from mito_spark.operators.graph import (
        dedup_cluster_stats,
        dedup_connected_components,
    )

    stats = dedup_cluster_stats(spark, sf_dir).collect()
    cc_rows = dedup_connected_components(spark, sf_dir).count()
    assert sum(r["n_docs"] for r in stats) == cc_rows
    for r in stats:
        assert r["cluster_size"] >= 2  # singletons never enter the pair graph
        assert r["docs_dropped"] == r["n_docs"] - r["n_clusters"] >= 0
        assert r["n_docs"] == r["cluster_size"] * r["n_clusters"]


def test_pagerank_mass_and_determinism(spark, sf_dir):
    """Ranks are a (near-)distribution — with no dangling nodes total
    mass stays ~1 — and the decimal-sum discipline makes the result
    partition-count invariant."""
    from mito_spark.operators.graph import knn_pagerank

    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        a = {r["vec_id"]: r["pagerank"] for r in knn_pagerank(spark, sf_dir).collect()}
        spark.conf.set("spark.sql.shuffle.partitions", "17")
        b = {r["vec_id"]: r["pagerank"] for r in knn_pagerank(spark, sf_dir).collect()}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert a == b
    assert abs(sum(a.values()) - 1.0) < 1e-3
    assert all(v > 0 for v in a.values())


def test_pagerank_precomputed_edges_match_default(spark, sf_dir):
    from mito_spark.operators.graph import knn_pagerank
    from mito_spark.operators.similarity import knn_graph

    default = {tuple(r) for r in knn_pagerank(spark, sf_dir).collect()}
    reused = {
        tuple(r)
        for r in knn_pagerank(spark, sf_dir, edges=knn_graph(spark, sf_dir, k=5)).collect()
    }
    assert default == reused


def test_graph_clustering_known_graph(spark):
    """Triangle counts and coefficients on a hand-checkable graph:
    a triangle {0,1,2} plus a pendant 3-2 edge."""
    from mito_spark.operators.graph import graph_clustering

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (3, 2)], "vec_id long, neighbor_id long"
    )
    rows = {r["vec_id"]: r for r in graph_clustering(spark, "", edges=edges).collect()}
    assert rows[0]["n_triangles"] == 1 and rows[0]["clustering_coeff"] == 1.0
    assert rows[1]["n_triangles"] == 1 and rows[1]["clustering_coeff"] == 1.0
    # node 2: degree 3, one triangle among 3 possible neighbor pairs
    assert rows[2]["degree"] == 3 and rows[2]["n_triangles"] == 1
    assert abs(rows[2]["clustering_coeff"] - round(1 / 3, 6)) < 1e-9
    # pendant: degree 1 -> coefficient undefined (NULL), zero triangles
    assert rows[3]["n_triangles"] == 0 and rows[3]["clustering_coeff"] is None


# ---------- k-core ----------


def test_kcore_known_graph(spark):
    """4-clique + pendant chain: the 3-core is exactly the clique,
    each clique member with core degree 3; chain nodes peel off."""
    from mito_spark.operators.graph import graph_kcore

    clique = [(a, b) for a in range(4) for b in range(4) if a < b]
    chain = [(3, 10), (10, 11), (11, 12)]
    edges = spark.createDataFrame(
        clique + chain, "vec_id long, neighbor_id long"
    )
    got = {
        r.vec_id: (r.in_kcore, r.core_degree)
        for r in graph_kcore(spark, "", kcore=3, edges=edges).collect()
    }
    assert got == {
        0: (True, 3),
        1: (True, 3),
        2: (True, 3),
        3: (True, 3),
        10: (False, None),
        11: (False, None),
        12: (False, None),
    }


def test_kcore_converges_within_budget(spark, sf_dir):
    """The unrolled KCORE_ROUNDS budget must reach the true fixpoint
    at the gate SF: one extra round changes nothing. (Both engines
    unroll the same rounds, so correctness never depends on this —
    this pins the SEMANTIC claim that the output IS the k-core.)"""
    from mito_spark.operators.graph import KCORE_ROUNDS, graph_kcore

    a = {tuple(r) for r in graph_kcore(spark, sf_dir, rounds=KCORE_ROUNDS).collect()}
    b = {
        tuple(r)
        for r in graph_kcore(spark, sf_dir, rounds=KCORE_ROUNDS + 1).collect()
    }
    assert a == b


def test_cluster_split_eliminates_leakage_baseline_leaks(spark, sf_dir):
    """The group-aware split's guarantee, verified end-to-end: re-run
    the leakage probe (near-dup pairs straddling splits) under the
    CLUSTER-keyed assignment — it must be EMPTY by construction —
    while the baseline doc-keyed split demonstrably leaks on the same
    corpus (split_leakage_check finds pairs)."""
    import pyspark.sql.functions as F

    from mito_spark.engine import load_table
    from mito_spark.operators.dedup import minhash_lsh_dedup, split_leakage_check
    from mito_spark.operators.graph import connected_components
    from mito_spark.operators.sampling import hash_split

    assert split_leakage_check(spark, sf_dir).count() > 0  # baseline leaks

    pairs = minhash_lsh_dedup(spark, sf_dir).localCheckpoint()
    cc = connected_components(pairs, "id_a", "id_b").select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    )
    labels = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .join(cc, "doc_id", "left")
        .select(
            "doc_id",
            hash_split(
                F.coalesce("cluster_id", "doc_id"),
                {"train": 0.9, "val": 0.05, "test": 0.05},
                salt="splitc:v1",
            ).alias("split"),
        )
    )
    leaking = (
        pairs.join(labels.withColumnRenamed("doc_id", "id_a").withColumnRenamed("split", "sa"), "id_a")
        .join(labels.withColumnRenamed("doc_id", "id_b").withColumnRenamed("split", "sb"), "id_b")
        .where(F.col("sa") != F.col("sb"))
    )
    assert leaking.count() == 0  # zero by construction


def test_cluster_split_groups_never_straddle(spark, sf_dir):
    """Every near-dup cluster's docs carry ONE split label (the
    group-key invariant underneath the leakage guarantee)."""
    import pyspark.sql.functions as F

    from mito_spark.operators.dedup import minhash_lsh_dedup
    from mito_spark.operators.graph import connected_components
    from mito_spark.operators.sampling import hash_split

    pairs = minhash_lsh_dedup(spark, sf_dir).localCheckpoint()
    cc = connected_components(pairs, "id_a", "id_b")
    per_cluster = (
        cc.select(
            F.col("component").alias("cluster_id"),
            hash_split(
                F.col("component"),
                {"train": 0.9, "val": 0.05, "test": 0.05},
                salt="splitc:v1",
            ).alias("split"),
        )
        .groupBy("cluster_id")
        .agg(F.countDistinct("split").alias("n_splits"))
    )
    assert per_cluster.where("n_splits > 1").count() == 0


def test_star_probe_exactly_characterizes_min_stars(spark):
    # the r13 convergence probe: True only for depth-1 forests whose
    # every edge points child -> smaller parent (= component minimum)
    from mito_spark.operators.graph import _is_star_forest

    def probe(edges):
        return _is_star_forest(spark.createDataFrame(edges, "u long, v long"))

    assert probe([(2, 1), (3, 1), (9, 7)])          # two min-stars
    assert not probe([(1, 2), (1, 3)])              # star at a MAX — labels would not be minima
    assert not probe([(2, 1), (3, 2)])              # chain: 2 is child and parent
    assert not probe([(3, 1), (3, 2)])              # two parents for one child
    assert _is_star_forest(
        spark.createDataFrame([], "u long, v long")
    )                                               # empty edge set is converged


def test_cc_premature_convergence_guard(spark):
    # a wrongly-oriented star must still contract to min-labels (the
    # probe's u > v clause; without it this would label component 1 as 2)
    got = _labels(spark, [(1, 2)])
    assert got == {1: 1, 2: 1}
    got = _labels(spark, [(1, 2), (1, 3)])
    assert got == {1: 1, 2: 1, 3: 1}
