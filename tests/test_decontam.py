"""Decontamination + repetition-quality operators (corpus hygiene).

Cross-checked against the DuckDB oracle twins the driver runs, plus
semantic invariants (probe docs are self-contaminated; repetition flag
fires on constructed degenerate docs).
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from mito_spark.operators import decontam


def _oracle(sf_dir: str, sql: str) -> pd.DataFrame:
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    return con.sql(sql).df()


def _assert_matches_oracle(sdf, sf_dir: str, sql: str) -> None:
    sp = sdf.toPandas()
    du = _oracle(sf_dir, sql)
    cols = sorted(sp.columns)
    assert cols == sorted(du.columns)
    sp = sp[cols].sort_values(cols).reset_index(drop=True)
    du = du[cols].sort_values(cols).reset_index(drop=True)
    pd.testing.assert_frame_equal(sp, du, check_dtype=False)


def test_decontaminate_matches_oracle(spark, sf_dir):
    _assert_matches_oracle(
        decontam.decontaminate(spark, sf_dir), sf_dir, decontam.DECONTAM_SQL
    )


def test_repetition_matches_oracle(spark, sf_dir):
    _assert_matches_oracle(
        decontam.repetition_quality(spark, sf_dir), sf_dir, decontam.REPETITION_SQL
    )


def test_probe_docs_fully_contaminated(spark, sf_dir):
    """Every probe-set doc overlaps itself 100% → flagged; docs with no
    probe hits are clean."""
    rows = decontam.decontaminate(spark, sf_dir).collect()
    for r in rows:
        if r.doc_id % decontam.PROBE_MOD == 0:
            assert r.n_probe_hits == r.n_grams and r.contaminated
        if r.n_probe_hits == 0:
            assert not r.contaminated and r.overlap_frac == 0.0


def test_repetition_flag_on_degenerate_docs(spark):
    rows = [
        (0, "spam spam spam spam spam spam spam spam spam spam"),
        (1, "a clean sentence with ten entirely distinct little words"),
        (2, "one two one two one two one two one two one two"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    docs.createOrReplaceTempView("_rep_docs")
    # reuse the operator body against an in-memory table via a monkey
    # substitution of load_table semantics: call the column program
    # directly through a local copy of the projection
    from mito_spark.operators.decontam import max_run_len, ngrams
    from mito_spark.functions.strings import fields

    toks = fields(F.lower(F.col("text")))
    n_tok = F.size(toks)
    run2 = max_run_len(ngrams(toks, 2))
    out = {
        r.doc_id: (r.r2, r.nt)
        for r in docs.select("doc_id", run2.alias("r2"), n_tok.alias("nt")).collect()
    }
    # doc 0: "spam spam" 2-gram repeats 9 times out of 9 → share 1.0
    assert out[0] == (9, 10)
    # doc 1: all 2-grams distinct → max run 1
    assert out[1][0] == 1
    # doc 2: "one two" repeats 6 times, "two one" 5 → max run 6 of 11
    assert out[2] == (6, 12)


def test_max_run_len_empty_and_single(spark):
    # pure-expression check via a literal frame
    df = spark.range(1).select(
        decontam.max_run_len(F.array().cast("array<string>")).alias("e"),
        decontam.max_run_len(F.array(F.lit("x"))).alias("s"),
        decontam.max_run_len(
            F.array(F.lit("x"), F.lit("y"), F.lit("x"))
        ).alias("m"),
    )
    r = df.first()
    assert (r.e, r.s, r.m) == (0, 1, 2)


def test_pipeline_excludes_contaminated_docs(spark, sf_dir):
    """training_corpus must not emit chunks for any contaminated or
    repetition-flagged doc."""
    from mito_spark.operators import pipeline

    out_ids = {
        r.doc_id
        for r in pipeline.training_corpus(spark, sf_dir).select("doc_id").distinct().collect()
    }
    bad = {
        r.doc_id
        for r in decontam.decontaminate(spark, sf_dir)
        .where("contaminated")
        .collect()
    }
    rep = {
        r.doc_id
        for r in decontam.repetition_quality(spark, sf_dir)
        .where("repetition_flag")
        .collect()
    }
    assert not (out_ids & bad)
    assert not (out_ids & rep)


def test_bloom_never_misses_and_only_overflags(spark, sf_dir):
    """Structural Bloom guarantees on the gate corpus: zero false
    negatives (a probe shingle's own positions are always set), the
    bloom doc flags are a superset of the exact flags, and the
    measured FP rate is sane (0 <= fp < 1)."""
    from mito_spark.operators.decontam import bloom_decontaminate_report

    (r,) = bloom_decontaminate_report(spark, sf_dir).collect()
    assert r["false_negatives"] == 0
    assert r["contam_docs_bloom"] >= r["contam_docs_exact"]
    assert (
        r["extra_flagged_docs"] == r["contam_docs_bloom"] - r["contam_docs_exact"]
    )
    assert r["sample_lookups"] <= 4 * 2048  # E|sample| bounded
    if r["fp_rate"] is not None:
        assert 0.0 <= r["fp_rate"] < 1.0


def test_bloom_autosize_floors_to_gate_constants_and_fp_in_band(spark, sf_dir):
    """Auto-knob discipline (r9 VERDICT next#6): the gate corpus must
    derive exactly the (M, K) the static oracle SQL is generated with,
    the sizing must scale with the probe count, and the MEASURED FP
    rate must sit within 3 binomial standard errors of the textbook
    prediction (1 - e^{-kn/m})^k."""
    import math

    from mito_spark.operators.decontam import (
        BLOOM_K,
        BLOOM_M,
        _bloom_size,
        bloom_decontaminate_report,
    )

    (r,) = bloom_decontaminate_report(spark, sf_dir).collect()
    assert (r["m_bits"], r["k_hashes"]) == (BLOOM_M, BLOOM_K)
    assert _bloom_size(r["n_probe_shingles"]) == (BLOOM_M, BLOOM_K)
    # sizing scales: 10x the probe set needs a bigger filter
    m10, _ = _bloom_size(10 * r["n_probe_shingles"])
    assert m10 > BLOOM_M
    # measured-vs-predicted: fp_rate = sample_fp / negative lookups,
    # so recover the negative-lookup count for the binomial band
    assert r["fp_rate"] is not None and r["fp_rate"] > 0
    n_neg = round(r["sample_fp"] / r["fp_rate"])
    sigma = math.sqrt(r["predicted_fp"] * (1 - r["predicted_fp"]) / n_neg)
    assert abs(r["fp_rate"] - r["predicted_fp"]) <= 3 * sigma


def test_decontam_ladder_monotone_and_exempts_short_docs(spark, sf_dir):
    """Gate-corpus shape: a stricter (longer) shingle can only check
    FEWER docs (length exemption made visible) and the standing n=13
    row must agree with the single-n operator's totals."""
    from mito_spark.operators.decontam import (
        NGRAM_N,
        decontam_ngram_ladder,
        decontaminate,
    )

    rows = {r["ngram_n"]: r for r in decontam_ngram_ladder(spark, sf_dir).collect()}
    assert sorted(rows) == [8, 13, 21]
    assert rows[8]["n_docs"] >= rows[13]["n_docs"] >= rows[21]["n_docs"]
    single = decontaminate(spark, sf_dir).toPandas()
    assert rows[NGRAM_N]["n_docs"] == len(single)
    assert rows[NGRAM_N]["contam_docs"] == int(single["contaminated"].sum())
