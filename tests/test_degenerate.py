"""Degenerate-corpus robustness: every ``degenerate``-tagged operator
(the documents/embeddings operators) must run (error-as-value, never
task failure) on adversarial inputs — empty text, whitespace-only
text, single-char docs, zero vectors.
This probe found the funnel ANSI bugs and the zero-norm cosine
failures; it stays as the regression net."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry


@pytest.fixture(scope="module")
def degen_dir(spark, tmp_path_factory):
    td = str(tmp_path_factory.mktemp("degen"))
    spark.createDataFrame(
        [
            (0, "", "en", "src0", 0),
            (1, "   ", "en", "src0", 3),
            (2, "x", "en", "src1", 1),
            (3, "a b c d e f g h i j k l", "en", "src1", 23),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(f"{td}/documents.parquet")
    spark.createDataFrame(
        [(0, [0.0] * 8, 0), (1, [1.0] + [0.0] * 7, 1), (2, [0.5] * 8, 0), (3, [0.2] * 8, 1)],
        "vec_id long, embedding array<float>, label int",
    ).write.parquet(f"{td}/embeddings.parquet")
    return td


@pytest.mark.parametrize("name", entry.tagged("degenerate"))
def test_operator_survives_degenerate_corpus(spark, degen_dir, name):
    # noop write, NOT count(): a counted plan prunes every output
    # column, so expression-level crashes in projected columns (the
    # exact class this net exists to catch) would pass silently —
    # count() masked a span_rewrite element_at task-failure on
    # zero-token docs until the noop form exposed it
    df = entry.queries()[name](spark, degen_dir)
    df.write.format("noop").mode("overwrite").save()


@pytest.fixture(scope="module")
def no_words_dir(spark, tmp_path_factory):
    td = str(tmp_path_factory.mktemp("nowords"))
    spark.createDataFrame(
        [(0, "", "en", "src0", 0), (1, "   ", "en", "src0", 3)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(f"{td}/documents.parquet")
    return td


@pytest.mark.parametrize(
    "name",
    [
        "bpe_merge_candidates",
        "bpe_learn_merges",
        "bpe_encode",
        "bpe_learn_merges_bytes",
        "tokenizer_fertility",
        "tokenizer_fertility_subword",
        "tokenizer_compression_curve",
        "wordpiece_learn",
        "wordpiece_encode",
        "wordpiece_learn_subword",
        "wordpiece_encode_subword",
        "unigram_lm_train",
    ],
)
def test_tokenizer_matches_oracle_on_no_words_corpus(spark, no_words_dir, name):
    """A corpus whose documents hold no words: each tokenizer-family
    operator must agree with its DuckDB twin (row count, columns and
    value hash, as the correctness gate compares), not merely survive."""
    _assert_matches_oracle(spark, no_words_dir, name)


@pytest.fixture(scope="module")
def early_stop_dir(spark, tmp_path_factory):
    td = str(tmp_path_factory.mktemp("earlystop"))
    spark.createDataFrame(
        [(i, "ab ab ab", "en", "src0", 8) for i in range(3)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(f"{td}/documents.parquet")
    return td


@pytest.mark.parametrize(
    "name", ["bpe_encode", "tokenizer_fertility", "tokenizer_fertility_subword"]
)
def test_bpe_reports_match_oracle_when_merges_run_out(spark, early_stop_dir, name):
    """Three docs "ab ab ab": both BPE trainers run out of pairs after
    two merges, well before their round budget. The per-doc reports
    must keep the last encoded state on both engines (the oracle
    chains' empty-argmax fallback), not lose every doc."""
    _assert_matches_oracle(spark, early_stop_dir, name)


def _assert_matches_oracle(spark, sf_dir, name):
    import duckdb

    from scripts.check_correctness import canon

    got = canon(entry.queries()[name](spark, sf_dir).toPandas())
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet/*.parquet'"
    )
    want = canon(con.execute(entry.oracle_sql()[name]).df())
    assert got[:3] == want[:3]
