"""Behavioral tests for the r5 beyond-parity operators: SemDeDup and
DSIR importance weights (the oracle rows check engine-equivalence;
these check the semantics are the intended ones)."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from mito_spark.engine import load_table
from mito_spark.functions.strings import fields
from mito_spark.operators.dsir import dsir_importance_weights
from mito_spark.operators.similarity import semdedup

THRESHOLD = 0.95


@pytest.fixture(scope="module")
def sem_rows(spark, sf_dir):
    return semdedup(spark, sf_dir, threshold=THRESHOLD).collect()


def _vectors(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    return {r.vec_id: np.array(r.v) for r in emb.collect()}


def test_semdedup_is_a_total_manifest(spark, sf_dir, sem_rows):
    n_emb = load_table(spark, sf_dir, "embeddings").count()
    assert len(sem_rows) == n_emb  # one verdict per vector, none lost
    assert len({r.vec_id for r in sem_rows}) == n_emb


def test_semdedup_matches_brute_force_within_cells(spark, sf_dir, sem_rows):
    """The keep/drop rule re-derived with numpy must agree exactly:
    dropped iff an earlier same-cell vector is >= threshold similar,
    dup_of = the lowest such id."""
    vecs = _vectors(spark, sf_dir)
    cells: dict[int, list[int]] = {}
    for r in sorted(sem_rows, key=lambda r: r.vec_id):
        cells.setdefault(r.cell, []).append(r.vec_id)

    def cos(a, b):
        na, nb = np.linalg.norm(a), np.linalg.norm(b)
        return float(a @ b) / (na * nb) if na and nb else math.nan

    expected: dict[int, int | None] = {}
    for members in cells.values():
        for i, x in enumerate(members):
            dup = None
            for y in members[:i]:
                if cos(vecs[x], vecs[y]) >= THRESHOLD:
                    dup = y
                    break  # members sorted ascending: first hit is min
            expected[x] = dup
    got = {r.vec_id: r.dup_of for r in sem_rows}
    assert got == expected
    for r in sem_rows:
        assert r.dropped == (r.dup_of is not None)


def test_dsir_prefers_target_language(spark, sf_dir):
    """Mean log-weight of target-lang (en) docs must exceed the mean of
    every other language — the model was fit to prefer them."""
    rows = dsir_importance_weights(spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents")
    # one row per doc that has tokens
    n_docs_with_tokens = docs.where(F.trim(F.col("text")) != "").count()
    assert len(rows) == n_docs_with_tokens
    by_lang: dict[str, list[float]] = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(r.log_weight)
    mean_en = sum(by_lang["en"]) / len(by_lang["en"])
    for lang, ws in by_lang.items():
        if lang != "en":
            assert mean_en > sum(ws) / len(ws), f"en not preferred over {lang}"


def test_dsir_plan_broadcasts_model_and_has_no_window(spark, sf_dir):
    """The hashed model table must broadcast (fixed n_buckets width)
    and the plan must be window-free — the scale contract."""
    plan = dsir_importance_weights(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "Window" not in plan


def test_dsir_resample_is_seeded_deterministic(spark, sf_dir):
    from mito_spark.operators.dsir import dsir_resample

    a = dsir_resample(spark, sf_dir, m=30, seed="s1").collect()
    b = dsir_resample(spark, sf_dir, m=30, seed="s1").collect()
    assert a == b  # same seed -> identical sample
    c = {r.doc_id for r in dsir_resample(spark, sf_dir, m=30, seed="s2").collect()}
    assert c != {r.doc_id for r in a}  # fresh seed -> different draw
    assert len(a) == 30
    # keys are sorted descending (top-m semantics)
    keys = [r.sel_key for r in a]
    assert keys == sorted(keys, reverse=True)


def test_cluster_profile_partitions_the_corpus(spark, sf_dir):
    from mito_spark.operators.similarity import embedding_cluster_profile

    rows = embedding_cluster_profile(spark, sf_dir).collect()
    n_emb = load_table(spark, sf_dir, "embeddings").count()
    assert sum(r.n_members for r in rows) == n_emb  # total partition
    assert len(rows) <= 16
    for r in rows:
        assert r.mean_dist > 0
        assert 0 < r.dominant_share <= 1
        assert r.dominant_label is not None


def test_knn_graph_properties(spark, sf_dir):
    """Every node has <= k neighbors with contiguous ranks; ranks
    order by descending cosine; no self-edges."""
    from mito_spark.operators.similarity import knn_graph

    rows = knn_graph(spark, sf_dir, k=5).collect()
    by_node: dict[int, list] = {}
    for r in rows:
        assert r.vec_id != r.neighbor_id
        by_node.setdefault(r.vec_id, []).append(r)
    assert by_node  # graph is non-empty
    for node, nbrs in by_node.items():
        nbrs.sort(key=lambda r: r.rank)
        assert [r.rank for r in nbrs] == list(range(1, len(nbrs) + 1))
        assert len(nbrs) <= 5
        cs = [r.cos_sim for r in nbrs]
        assert cs == sorted(cs, reverse=True)


def test_winnowing_guarantee(spark):
    """The winnowing invariant: two docs sharing a run of >= w+k-1
    tokens MUST share at least one fingerprint; density is ~2/(w+1)."""
    from pyspark.sql import functions as F

    k, w = 5, 4
    import random

    rng = random.Random(3)
    vocab = [f"t{i:03d}" for i in range(400)]
    shared = [rng.choice(vocab) for _ in range(w + k - 1)]  # minimal guaranteed run
    doc_a = [rng.choice(vocab) for _ in range(60)] + shared + [rng.choice(vocab) for _ in range(60)]
    doc_b = [rng.choice(vocab) for _ in range(80)] + shared + [rng.choice(vocab) for _ in range(40)]
    doc_c = [rng.choice(vocab) for _ in range(120)]  # unrelated
    docs = spark.createDataFrame(
        [(0, " ".join(doc_a)), (1, " ".join(doc_b)), (2, " ".join(doc_c))],
        "doc_id long, text string",
    )
    # reuse the operator's internals on a custom frame via temp view +
    # the oracle SQL shape is engine-checked; here check the guarantee
    # with the Spark expressions directly
    staged = docs.select("doc_id", fields(F.lower(F.col("text"))).alias("toks"))
    toks = F.col("toks")
    n_grams = F.greatest(F.size(toks) - (k - 1), F.lit(1))
    grams = staged.select(
        "doc_id",
        F.transform(
            F.sequence(F.lit(1), n_grams),
            lambda i: F.conv(
                F.substring(F.md5(F.concat_ws(" ", F.slice(toks, i, k))), 1, 15), 16, 10
            ).cast("bigint"),
        ).alias("g"),
    )
    g = F.col("g")
    n_windows = F.greatest(F.size(g) - (w - 1), F.lit(1))
    rows = {
        r.doc_id: set(r.f)
        for r in grams.select(
            "doc_id",
            F.array_distinct(
                F.transform(F.sequence(F.lit(1), n_windows), lambda j: F.array_min(F.slice(g, j, w)))
            ).alias("f"),
        ).collect()
    }
    assert rows[0] & rows[1], "shared w+k-1 run must share a fingerprint"
    assert not (rows[0] & rows[2]) or len(rows[0] & rows[2]) < len(rows[0] & rows[1])
    # density sanity: fingerprints are a small fraction of grams
    n_doc_a_grams = len(doc_a) - k + 1
    assert len(rows[0]) < 0.6 * n_doc_a_grams


def test_winnow_dup_pairs_finds_planted_overlap(spark, sf_dir, tmp_path):
    """Two docs sharing a long run must appear as a pair; the pair
    join must not explode on boilerplate (df cap)."""
    import random

    from pyspark.sql import functions as F

    from mito_spark.operators import text as T

    rng = random.Random(17)
    vocab = [f"u{i:03d}" for i in range(300)]
    shared = [rng.choice(vocab) for _ in range(30)]
    rows = [
        (0, " ".join([rng.choice(vocab) for _ in range(50)] + shared)),
        (1, " ".join(shared + [rng.choice(vocab) for _ in range(50)])),
    ] + [(i, " ".join(rng.choice(vocab) for _ in range(80))) for i in range(2, 30)]
    # write a mini documents table so the (spark, sf_dir) operator runs on it
    p = str(tmp_path / "minidocs")
    spark.createDataFrame(rows, "doc_id long, text string").withColumn(
        "lang", F.lit("en")
    ).withColumn("source", F.lit("t")).withColumn(
        "n_chars", F.length("text").cast("bigint")
    ).write.mode("overwrite").parquet(p + "/documents.parquet")
    pairs = {(r.id_a, r.id_b): r.n_shared for r in T.winnow_dup_pairs(spark, p).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] >= 2


def test_cluster_silhouette_partitions_and_bounds(spark, sf_dir):
    """Silhouette report covers the whole corpus, one row per occupied
    cell, and every mean silhouette is inside the metric's [-1, 1]."""
    from mito_spark.operators.similarity import cluster_silhouette

    rows = cluster_silhouette(spark, sf_dir).collect()
    n_emb = load_table(spark, sf_dir, "embeddings").count()
    assert sum(r.n_members for r in rows) == n_emb
    assert len(rows) <= 16
    for r in rows:
        assert -1.0 <= r.mean_silhouette <= 1.0


def test_jl_report_unbiased_and_concentrating(spark, sf_dir):
    """The JL lemma, measured: the scaled projection keeps the
    pair-distance ratio distribution centered on 1 (unbiased scale),
    and quadrupling out_dim tightens the spread (concentration in the
    output dimension). Same hash sample on every run, so pair counts
    agree across out_dims."""
    from mito_spark.operators.similarity import jl_projection_report

    def stats(rows):
        n = sum(r.n_pairs for r in rows)
        mean = sum(r.mean_ratio * r.n_pairs for r in rows) / n
        var = sum(r.n_pairs * (r.mean_ratio - mean) ** 2 for r in rows) / n
        return n, mean, var

    n8, m8, v8 = stats(jl_projection_report(spark, sf_dir, out_dim=8).collect())
    n32, m32, v32 = stats(jl_projection_report(spark, sf_dir, out_dim=32).collect())
    assert n8 == n32  # identical sampled pair set
    assert abs(m8 - 1.0) < 0.2
    assert abs(m32 - 1.0) < 0.1
    assert v32 < v8  # 4x the dims -> strictly tighter ratios


def test_dedup_attribution_is_a_partition_of_the_corpus(spark, sf_dir):
    """The 2x2x2 dedup verdict table partitions the corpus exactly
    (doc counts and shares sum to totals), any_dup is the OR of the
    tier verdicts, and no row violates exact ⊂ minhash (a J=1 pair
    has identical signatures under every hash, so it collides in
    every band and survives the J >= 0.5 verify)."""
    from mito_spark.operators.dedup import dedup_attribution_report

    rows = dedup_attribution_report(spark, sf_dir).collect()
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert sum(r.n_docs for r in rows) == n_docs
    assert abs(sum(r.doc_share for r in rows) - 1.0) < 1e-3
    assert abs(sum(r.token_share for r in rows) - 1.0) < 1e-3
    for r in rows:
        assert r.any_dup == (r.exact_dup or r.minhash_dup or r.simhash_dup)
        assert not (r.exact_dup and not r.minhash_dup), "exact dup missed by minhash"


def test_source_overlap_matrix_consistency(spark, sf_dir):
    """Every verified near-dup pair lands in exactly one unordered
    source cell; pair counts reconcile with the LSH tier, mean
    Jaccard respects the verify threshold, and shares are in (0, 1]."""
    from mito_spark.operators.dedup import minhash_lsh_dedup, source_overlap_matrix

    rows = source_overlap_matrix(spark, sf_dir).collect()
    n_pairs = minhash_lsh_dedup(spark, sf_dir).count()
    assert sum(r.n_pairs for r in rows) == n_pairs
    for r in rows:
        assert r.source_a <= r.source_b  # unordered cell key
        assert 0.5 <= r.mean_jaccard <= 1.0
        assert 0 < r.smaller_source_share <= 1.0
