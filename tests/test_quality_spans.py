"""Tests for the r5 wave-2 operators: exact-substring span dedup,
C4 quality filters, surprisal bucketing, contrastive pair mining, and
retransmission dedup — semantics against hand-built frames plus the
plan-shape properties their docstrings promise."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mito_spark.operators import contrastive, events, quality, spans


# ---------- exact_substring_spans ----------


def test_spans_finds_planted_duplicate_run(spark, tmp_path):
    """Two docs sharing a 12-token run must both be flagged; the
    window count must be exact (n_tokens - w + 1)."""
    shared = " ".join(f"s{i}" for i in range(12))
    docs = spark.createDataFrame(
        [
            (0, f"alpha beta {shared} gamma"),
            (1, f"{shared} delta epsilon zeta"),
            (2, "totally unrelated words only here nothing shared at all ok"),
        ],
        "doc_id long, text string",
    )
    d = str(tmp_path / "spans")
    docs.withColumn("lang", F.lit("en")).withColumn(
        "source", F.lit("t")
    ).withColumn("n_chars", F.length("text")).write.parquet(d + "/documents.parquet")
    out = {
        r["doc_id"]: r.asDict()
        for r in spans.exact_substring_spans(spark, d, w=8).collect()
    }
    # doc 0: 15 tokens -> 8 windows; the shared 12-token run yields
    # 12-8+1 = 5 shared windows
    assert out[0]["n_windows"] == 8
    assert out[0]["dup_windows"] == 5
    assert out[1]["dup_windows"] == 5
    assert out[2]["dup_windows"] == 0
    assert out[2]["dup_fraction"] == 0.0


def test_spans_short_doc_zero_windows(spark, tmp_path):
    docs = spark.createDataFrame(
        [(0, "one two three"), (1, "a b c d e f g h i")],
        "doc_id long, text string",
    )
    d = str(tmp_path / "short")
    docs.withColumn("lang", F.lit("en")).withColumn(
        "source", F.lit("t")
    ).withColumn("n_chars", F.length("text")).write.parquet(d + "/documents.parquet")
    out = {r["doc_id"]: r.asDict() for r in spans.exact_substring_spans(spark, d).collect()}
    assert out[0]["n_windows"] == 0
    assert out[0]["dup_fraction"] is None  # 0/0: error-as-value NULL
    assert out[1]["n_windows"] == 2


def test_spans_plan_no_python_and_exchange_reuse(spark, sf_dir):
    plan = spans.exact_substring_spans(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "mapInPandas" not in plan.lower()


# ---------- c4_quality_filters ----------


def test_c4_flags(spark, tmp_path):
    good = " ".join(f"word{i % 17}xy" for i in range(60))  # 60 words, len 6-8
    docs = spark.createDataFrame(
        [
            (0, good),
            (1, "short doc"),  # under MIN_WORDS
            (2, good + " lorem ipsum"),  # blocklist
            (3, good.replace("word1xy", "{brace}")),  # brace + symbols
            (4, " ".join(["same"] * 80)),  # top-word ratio 1.0
        ],
        "doc_id long, text string",
    )
    d = str(tmp_path / "c4")
    docs.withColumn("lang", F.lit("en")).withColumn(
        "source", F.lit("t")
    ).withColumn("n_chars", F.length("text")).write.parquet(d + "/documents.parquet")
    out = {r["doc_id"]: r.asDict() for r in quality.c4_quality_filters(spark, d).collect()}
    assert out[0]["keep"] is True
    assert out[1]["keep"] is False and out[1]["n_words"] == 2
    assert out[2]["keep"] is False and out[2]["has_lorem"] is True
    assert out[3]["keep"] is False and out[3]["has_brace"] is True
    assert out[4]["keep"] is False and out[4]["top_word_ratio"] == 1.0


def test_c4_empty_text_null_metrics(spark, tmp_path):
    docs = spark.createDataFrame([(0, "")], "doc_id long, text string")
    d = str(tmp_path / "c4e")
    docs.withColumn("lang", F.lit("en")).withColumn(
        "source", F.lit("t")
    ).withColumn("n_chars", F.length("text")).write.parquet(d + "/documents.parquet")
    (row,) = quality.c4_quality_filters(spark, d).collect()
    assert row["mean_word_len"] is None and row["keep"] is False


# ---------- surprisal_buckets ----------


def test_surprisal_buckets_partition_all_docs(spark, sf_dir):
    from mito_spark.operators.text import unigram_surprisal

    buckets = quality.surprisal_buckets(spark, sf_dir).collect()
    n_docs_bucketed = sum(r["n_docs"] for r in buckets)
    n_docs = unigram_surprisal(spark, sf_dir).count()
    assert n_docs_bucketed == n_docs
    assert [r["bucket"] for r in buckets] == sorted(r["bucket"] for r in buckets)
    # monotone: bucket ranges must not overlap (min of bucket i+1 >= max of bucket i)
    for lo, hi in zip(buckets, buckets[1:]):
        assert hi["min_surprisal"] >= lo["max_surprisal"] - 1e-9


def test_surprisal_buckets_no_global_window(spark, sf_dir):
    """The scale contract: cutoffs come from ONE aggregate row, not a
    corpus-wide NTILE — no WindowExec without partitioning."""
    plan = (
        quality.surprisal_buckets(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan  # no window operator at all


# ---------- contrastive_pairs ----------


def test_contrastive_structure(spark, sf_dir):
    rows = contrastive.contrastive_pairs(spark, sf_dir, n_probes=4, n_neg=3).collect()
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {0, 1, 2, 3}
    for q, rs in by_q.items():
        pos = [r for r in rs if r["kind"] == "positive"]
        neg = sorted(
            (r for r in rs if r["kind"] == "hard_negative"), key=lambda r: r["rank"]
        )
        assert len(pos) == 1 and pos[0]["rank"] == 1
        assert [r["rank"] for r in neg] == [1, 2, 3]
        # negatives are ranked by descending similarity
        sims = [r["cos_sim"] for r in neg]
        assert sims == sorted(sims, reverse=True)


def test_contrastive_labels_disjoint(spark, sf_dir):
    """A positive's label equals the probe's; negatives' differ."""
    from mito_spark.engine import load_table

    emb = {
        r["vec_id"]: r["label"]
        for r in load_table(spark, sf_dir, "embeddings").select("vec_id", "label").collect()
    }
    for r in contrastive.contrastive_pairs(spark, sf_dir, n_probes=4).collect():
        same = emb[r["neighbor_id"]] == emb[r["query_id"]]
        assert same if r["kind"] == "positive" else not same


def test_contrastive_broadcast_probes(spark, sf_dir):
    plan = (
        contrastive.contrastive_pairs(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


# ---------- events_retransmit_dedup ----------


def test_retransmit_lag_semantics(spark, tmp_path):
    """Gap is measured to the previous RAW event: three events 10 s
    apart with eps=15 drop BOTH followers (not just the second)."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = [
        (1, base, 7, "click", 1.0, "{}"),
        (2, base + dt.timedelta(seconds=10), 7, "click", 1.0, "{}"),
        (3, base + dt.timedelta(seconds=20), 7, "click", 1.0, "{}"),
        (4, base + dt.timedelta(seconds=100), 7, "click", 1.0, "{}"),
        (5, base + dt.timedelta(seconds=5), 7, "scroll", 1.0, "{}"),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, value double, props string",
    )
    d = str(tmp_path / "retrans")
    ev.write.parquet(d + "/events.parquet")
    out = events.events_retransmit_dedup(spark, d, eps_s=15).collect()
    assert sorted(r["event_id"] for r in out) == [2, 3]
    gaps = {r["event_id"]: r["gap_s"] for r in out}
    assert gaps[2] == 10.0 and gaps[3] == 10.0


def test_span_rewrite_keep_one_copy(spark, tmp_path):
    """Identical docs: the lower doc_id keeps its text; the higher one
    is rewritten to empty. A doc sharing a run keeps its non-shared
    tokens."""
    shared = " ".join(f"s{i}" for i in range(10))
    docs = spark.createDataFrame(
        [
            (5, shared),
            (9, shared),  # exact dup of doc 5 -> fully removed
            (12, f"unique prefix tokens {shared}"),
        ],
        "doc_id long, text string",
    )
    d = str(tmp_path / "rw")
    docs.withColumn("lang", F.lit("en")).withColumn(
        "source", F.lit("t")
    ).withColumn("n_chars", F.length("text")).write.parquet(d + "/documents.parquet")
    out = {r["doc_id"]: r.asDict() for r in spans.span_rewrite(spark, d).collect()}
    assert out[5]["n_removed"] == 0 and out[5]["clean_text"] == shared
    assert out[9]["n_removed"] == 10 and out[9]["clean_text"] == ""
    # doc 12: shared windows removed, but its unique prefix survives
    assert out[12]["clean_text"].startswith("unique prefix tokens")
    assert out[12]["n_removed"] > 0


def test_span_rewrite_total_tokens_conserved(spark, sf_dir):
    """Removal only ever deletes tokens: sum(n_removed) > 0 on the
    corpus (planted dups exist) and clean token count + removed =
    original everywhere."""
    rows = spans.span_rewrite(spark, sf_dir).collect()
    assert sum(r["n_removed"] for r in rows) > 0
    for r in rows:
        n_clean = len(r["clean_text"].split()) if r["clean_text"] else 0
        assert n_clean + r["n_removed"] == r["n_tokens"]


# ---------- vocab_coverage ----------


def test_vocab_coverage_oov_bounds(spark, sf_dir):
    from mito_spark.operators import quality as q

    rows = q.vocab_coverage(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_oov"] <= r["n_tokens"]
        assert abs(r["oov_rate"] - round(r["n_oov"] / r["n_tokens"], 6)) < 1e-9
    # with vocab smaller than the corpus vocabulary, some docs have OOV
    assert any(r["n_oov"] > 0 for r in rows)


def test_vocab_coverage_full_vocab_zero_oov(spark, sf_dir):
    from mito_spark.operators import quality as q

    rows = q.vocab_coverage(spark, sf_dir, v=10_000).collect()
    assert all(r["n_oov"] == 0 for r in rows)


# ---------- seq_length_histogram ----------


def test_seq_length_histogram_conserves_mass(spark, sf_dir):
    from mito_spark.engine import load_table
    from mito_spark.operators import quality as q
    from mito_spark.functions.strings import fields

    rows = q.seq_length_histogram(spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents").select(
        F.size(fields(F.lower(F.col("text")))).alias("n")
    ).where(F.col("n") > 0)
    n_docs, n_tokens = docs.agg(F.count(F.lit(1)), F.sum("n")).first()
    assert sum(r["n_docs"] for r in rows) == n_docs
    assert sum(r["n_tokens"] for r in rows) == n_tokens
    for r in rows:
        # bin bounds: [2^b, 2^(b+1))
        assert 2 ** r["len_bin"] <= r["min_len"] <= r["max_len"] < 2 ** (r["len_bin"] + 1)
        # waste at ctx=128 is bounded by n_docs * 127
        assert 0 <= r["pad_waste_128"] <= r["n_docs"] * 127


# ---------- jaccard_prefix_join threshold boundary ----------


def test_prefix_join_exact_threshold_boundary(spark, tmp_path):
    """A pair at shingle-Jaccard EXACTLY 0.8 must be returned
    (>= is inclusive) — replacing the LAST token of an 11-token doc
    changes exactly one 3-gram shingle: inter 8, union 10, J = 0.8.
    Replacing token 10 changes two shingles (inter 7, union 11,
    J ≈ 0.636) and must be excluded."""
    from mito_spark.operators.dedup import jaccard_prefix_join

    base = [f"w{i}" for i in range(11)]
    at_boundary = base[:-1] + ["zz"]
    below = base[:9] + ["yy"] + [base[10]]
    docs = spark.createDataFrame(
        [
            (1, " ".join(base)),
            (2, " ".join(at_boundary)),
            (3, " ".join(below)),
        ],
        "doc_id long, text string",
    )
    d = str(tmp_path / "jb")
    docs.withColumn("lang", F.lit("en")).withColumn(
        "source", F.lit("t")
    ).withColumn("n_chars", F.length("text")).write.parquet(d + "/documents.parquet")
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_prefix_join(spark, d, threshold=0.8).collect()
    }
    assert pairs.get((1, 2)) == 0.8  # inclusive boundary, found
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_label_propagation_plan_no_cartesian(spark, sf_dir):
    from mito_spark.operators.graph import label_propagation

    plan = (
        label_propagation(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan


# ---------- corpus_shuffle ----------


def test_corpus_shuffle_is_permutation(spark, sf_dir):
    from mito_spark.operators.sampling import corpus_shuffle

    rows = corpus_shuffle(spark, sf_dir).collect()
    n = len(rows)
    assert len({r["doc_id"] for r in rows}) == n  # every doc exactly once
    by_shard: dict[int, list[int]] = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    for shard, ps in by_shard.items():
        assert sorted(ps) == list(range(1, len(ps) + 1))  # dense ranks
    # uniformity: no shard holds more than 3x its fair share
    assert max(len(p) for p in by_shard.values()) <= 3 * (n // len(by_shard) + 1)


def test_corpus_shuffle_salt_changes_order(spark, sf_dir):
    from mito_spark.operators.sampling import corpus_shuffle

    a = {(r["doc_id"], r["shard"], r["pos"]) for r in corpus_shuffle(spark, sf_dir).collect()}
    b = {(r["doc_id"], r["shard"], r["pos"]) for r in corpus_shuffle(spark, sf_dir, salt="shuffle:v2").collect()}
    assert a != b  # new salt = new epoch permutation
    c = {(r["doc_id"], r["shard"], r["pos"]) for r in corpus_shuffle(spark, sf_dir).collect()}
    assert a == c  # same salt = bit-identical order


# ---------- split_leakage_check ----------


def test_split_leakage_pairs_cross_boundary(spark, tmp_path):
    """Planted near-dup pair crossing the split boundary must be
    reported; an identical pair inside train must NOT."""
    from pyspark.sql import functions as FF

    from mito_spark.operators.dedup import split_leakage_check
    from mito_spark.operators.sampling import hash_split

    # find doc_ids whose hash_split labels differ (one train, one not)
    probe = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
    labels = {
        r["doc_id"]: r["s"]
        for r in probe.select(
            "doc_id",
            hash_split(FF.col("doc_id"), {"train": 0.9, "val": 0.05, "test": 0.05}).alias("s"),
        ).collect()
    }
    train_ids = [i for i, s in labels.items() if s == "train"]
    eval_ids = [i for i, s in labels.items() if s != "train"]
    text = " ".join(f"tok{i}" for i in range(30))
    td = str(tmp_path / "leak")
    spark.createDataFrame(
        [
            (train_ids[0], text),          # leaks into...
            (eval_ids[0], text + " tail"), # ...this eval near-copy
            (train_ids[1], "other " + text),  # train-train dup: not a leak
            (train_ids[2], "other " + text + " x"),
            (eval_ids[1], " ".join(f"z{i}" for i in range(30))),  # clean eval doc
        ],
        "doc_id long, text string",
    ).withColumn("lang", FF.lit("en")).withColumn("source", FF.lit("t")).withColumn(
        "n_chars", FF.length("text")
    ).write.parquet(td + "/documents.parquet")
    rows = split_leakage_check(spark, td).collect()
    got = {(r["eval_id"], r["train_id"]) for r in rows}
    assert (eval_ids[0], train_ids[0]) in got
    for r in rows:
        assert labels[r["eval_id"]] != "train" and labels[r["train_id"]] == "train"


# ---------- lsh_recall_report ----------


def test_lsh_recall_on_planted_dups(spark, tmp_path):
    """Corpus of exact-duplicate pairs: the exact join finds all of
    them, LSH bands find identical signatures with certainty, so
    recall must be exactly 1.0."""
    from mito_spark.operators.dedup import lsh_recall_report

    rows = []
    for i in range(10):
        text = " ".join(f"w{i}_{j}" for j in range(20))
        rows.append((2 * i, text))
        rows.append((2 * i + 1, text))  # exact dup -> J = 1.0
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    d = str(tmp_path / "recall")
    docs.withColumn("lang", F.lit("en")).withColumn(
        "source", F.lit("t")
    ).withColumn("n_chars", F.length("text")).write.parquet(d + "/documents.parquet")
    (row,) = lsh_recall_report(spark, d).collect()
    assert row["n_exact_pairs"] == 10
    assert row["n_lsh_pairs"] == 10
    assert row["recall"] == 1.0


# ---------- partition-count invariance ----------


@pytest.mark.parametrize(
    "name",
    [
        "corpus_shuffle",
        "dataset_split",
        "stratified_sample",
        "token_pack_bins",
        "dedup_exact",
        "surprisal_buckets",
        "events_retention_cohorts",
        "events_rolling_window",
        "orders_priority_pivot",
        "lineitem_metrics_unpivot",
        "bpe_merge_candidates",
        "bpe_learn_merges_bytes",
        "bpe_encode",
        "events_user_ewma",
        "events_user_ewma_calendar",
        "ann_pq_recall_report",
        "kn_bigram_perplexity",
        "weighted_sample_es",
        "doc_perplexity_filter",
        "heavy_hitters",
        "tokenizer_fertility",
        "tokenizer_fertility_subword",
        "filter_attribution_report",
        "cluster_silhouette",
        "jl_projection_report",
        "rake_keywords",
        "minhash_estimate_report",
        "dedup_attribution_report",
        "source_overlap_matrix",
        "dedup_paragraphs",
        "dedup_canonical_quality",
        "ngram_novelty_report",
        "embedding_outlier_report",
        "simhash_estimate_report",
        "bbit_minhash_report",
        "cms_calibration_report",
        "bloom_decontaminate_report",
        "unigram_lm_train",
        "unigram_lm_vocab",
        "unigram_encode",
        "hll_calibration_report",
        "collocation_pmi_report",
        "lsh_bucket_skew_report",
        "dedup_threshold_sweep",
    ],
)
def test_partition_count_invariance(spark, sf_dir, name):
    """Results must be identical under different shuffle parallelism —
    the property that makes an answer THE answer on any cluster size.
    All assignment/sampling ops here derive ordering from md5 hashes
    or explicit sort keys, never from partition iteration order."""
    import __spark_entry__ as entry

    fn = entry.queries()[name]
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        a = {tuple(r) for r in fn(spark, sf_dir).collect()}
        spark.conf.set("spark.sql.shuffle.partitions", "17")
        b = {tuple(r) for r in fn(spark, sf_dir).collect()}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert a == b


def test_boilerplate_ngrams_df_semantics(spark, tmp_path):
    """df counts DOCUMENTS containing the gram (distinct per doc), not
    occurrences: a doc repeating a gram 5x contributes 1."""
    from mito_spark.operators.spans import boilerplate_ngrams

    rep = "a b c " * 5  # gram 'a b c' appears 5x in doc 0
    docs = spark.createDataFrame(
        [(0, rep.strip()), (1, "a b c x y z"), (2, "p q r s t u")],
        "doc_id long, text string",
    )
    d = str(tmp_path / "bp")
    docs.withColumn("lang", F.lit("en")).withColumn(
        "source", F.lit("t")
    ).withColumn("n_chars", F.length("text")).write.parquet(d + "/documents.parquet")
    out = {r["gram"]: r for r in boilerplate_ngrams(spark, d).collect()}
    assert out["a b c"]["df"] == 2  # docs 0 and 1, not 6 occurrences
    assert abs(out["a b c"]["doc_share"] - round(2 / 3, 6)) < 1e-9


# ---------- auto-scale rules (VERDICT r5 wrong#1/#2) ----------


def test_auto_n_shards_bounds_per_task_rows():
    """The per-shard rank is one window task, so the derived shard
    count must bound rows-per-shard at the target at ANY corpus size
    (a fixed count puts n/const rows through one task)."""
    import math

    from mito_spark.operators.sampling import (
        MIN_SHARDS,
        SHARD_TARGET_ROWS,
        auto_n_shards,
    )

    for n in (1, 500, 10**6, 10**9, 25 * 10**9):
        s = auto_n_shards(n)
        assert s >= MIN_SHARDS
        assert math.ceil(n / s) <= SHARD_TARGET_ROWS or s == MIN_SHARDS
        if s > MIN_SHARDS:
            assert math.ceil(n / s) <= SHARD_TARGET_ROWS
    # gate-SF sync: the static floor is what the 500-doc corpora derive
    assert auto_n_shards(500) == MIN_SHARDS


def test_corpus_shuffle_default_equals_derived_shards(spark, sf_dir):
    """The n_shards=None default must equal the explicit auto value —
    the oracle twin derives the same count from COUNT(*)."""
    from mito_spark.engine import load_table
    from mito_spark.operators.sampling import auto_n_shards, corpus_shuffle

    n = load_table(spark, sf_dir, "documents").count()
    auto = {tuple(r) for r in corpus_shuffle(spark, sf_dir).collect()}
    pinned = {
        tuple(r)
        for r in corpus_shuffle(spark, sf_dir, n_shards=auto_n_shards(n)).collect()
    }
    assert auto == pinned


def test_auto_n_cells_bounds_cell_population():
    """semdedup's per-cell pairwise pass costs Sum(|cell|^2); the
    derived cell count must keep E|cell| at the target as n grows —
    the default call path cannot silently go quadratic."""
    from mito_spark.operators.similarity import _CELL_TARGET, _MIN_CELLS, auto_n_cells

    for n in (1, 500, 10**6, 10**8, 10**9):
        c = auto_n_cells(n)
        assert c >= _MIN_CELLS
        if c > _MIN_CELLS:
            # expected population within 2x of target (floor division)
            assert n / c <= 2 * _CELL_TARGET
    # beyond the cap (~1e9 rows) the rule saturates — the documented
    # point where flat k-means hands off to a hierarchical quantizer
    assert auto_n_cells(10**12) == 1 << 20
    # linear growth: 100x corpus -> ~100x cells (bounded pairwise work)
    assert 50 <= auto_n_cells(10**8) / auto_n_cells(10**6) <= 200
    # gate-SF sync: 500-row embeddings derive the static oracle's 16
    assert auto_n_cells(500) == _MIN_CELLS


def test_semdedup_gate_sf_derives_static_oracle_cells(spark, sf_dir):
    """The static SEMDEDUP_SQL twin is generated at n_cells=16; the
    auto rule must derive exactly 16 at every gate SF or the oracle
    silently desyncs."""
    from mito_spark.engine import load_table
    from mito_spark.operators.similarity import auto_n_cells

    n = load_table(spark, sf_dir, "embeddings").count()
    assert auto_n_cells(n) == 16


# ---------- label_propagation seed invariant (ADVICE r5) ----------


def test_label_propagation_null_seed_stays_null(spark, tmp_path):
    """A SEED node (vec_id % 4 == 0) whose true label is NULL must
    keep pred_label NULL — propagation is gated on the seed predicate,
    not on lab's nullness, so neighbor votes cannot overwrite it."""
    from mito_spark.operators.graph import label_propagation

    emb = spark.createDataFrame(
        [
            (0, None, [1.0, 0.0]),   # seed with NULL label
            (1, "a", [1.0, 0.0]),
            (2, "a", [1.0, 0.0]),
            (4, "b", [0.0, 1.0]),    # seed with a real label
            (5, None, [0.0, 1.0]),   # non-seed: free to absorb votes
        ],
        "vec_id long, label string, embedding array<double>",
    )
    d = str(tmp_path / "lp")
    emb.write.parquet(d + "/embeddings.parquet")
    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (5, 4), (1, 2), (2, 1)],
        "vec_id long, neighbor_id long",
    )
    out = {r["vec_id"]: r for r in label_propagation(spark, d, edges=edges).collect()}
    assert out[0]["is_seed"] and out[0]["pred_label"] is None
    assert out[4]["is_seed"] and out[4]["pred_label"] == "b"
    assert out[5]["pred_label"] == "b"  # non-seed absorbed its vote


def test_label_propagation_precomputed_edges_match_default(spark, sf_dir):
    """Passing knn_graph's own edges must reproduce the default path
    exactly — the composed-report reuse cannot change answers."""
    from mito_spark.operators.graph import label_propagation
    from mito_spark.operators.similarity import knn_graph

    default = {tuple(r) for r in label_propagation(spark, sf_dir).collect()}
    edges = knn_graph(spark, sf_dir, k=5)
    reused = {tuple(r) for r in label_propagation(spark, sf_dir, edges=edges).collect()}
    assert default == reused


# ---------- bigram surprisal + BPE merge candidates ----------


def _write_docs(spark, tmp_path, rows, name="d"):
    d = str(tmp_path / name)
    spark.createDataFrame(rows, "doc_id long, text string").withColumn(
        "lang", F.lit("en")
    ).withColumn("source", F.lit("t")).withColumn(
        "n_chars", F.length("text")
    ).write.parquet(d + "/documents.parquet")
    return d


def test_bigram_surprisal_short_docs_null(spark, tmp_path):
    """Docs with <2 tokens have no bigrams: n_bigrams=0 and NULL
    surprisal (absent evidence is not zero surprisal)."""
    from mito_spark.operators.text import bigram_surprisal

    d = _write_docs(
        spark, tmp_path, [(0, "only"), (1, ""), (2, "a b a b"), (3, "a b c")]
    )
    out = {r["doc_id"]: r for r in bigram_surprisal(spark, d).collect()}
    assert out[0]["n_bigrams"] == 0 and out[0]["mean_bigram_surprisal"] is None
    assert out[1]["n_bigrams"] == 0 and out[1]["mean_bigram_surprisal"] is None
    assert out[2]["n_bigrams"] == 3 and out[2]["mean_bigram_surprisal"] is not None
    # word order matters: 'a b a b' (predictable) scores LOWER than a
    # doc of the same unigrams shuffled into an unseen order would
    assert out[3]["n_bigrams"] == 2


def test_bigram_surprisal_detects_shuffled_text(spark, tmp_path):
    """The point of the bigram rung: a document whose word ORDER is
    anomalous scores higher than an in-order one, even with identical
    unigram distributions."""
    from mito_spark.operators.text import bigram_surprisal, unigram_surprisal

    base = "the quick brown fox jumps over the lazy dog"
    rows = [(i, base) for i in range(10)]
    rows.append((10, "dog the over quick lazy brown the jumps fox"))  # shuffled
    d = _write_docs(spark, tmp_path, rows)
    bg = {r["doc_id"]: r["mean_bigram_surprisal"] for r in bigram_surprisal(spark, d).collect()}
    ug = {r["doc_id"]: r["mean_surprisal"] for r in unigram_surprisal(spark, d).collect()}
    assert bg[10] > bg[0]  # bigram model flags the shuffle
    assert abs(ug[10] - ug[0]) < 1e-6  # unigram model cannot see it


def _py_kn_reference(docs: dict[int, list[str]]):
    """Pure-Python interpolated Kneser-Ney bigram model (Chen &
    Goodman 1999) with the operator's exact expression tree and
    rounding discipline — the oracle-independent ground truth."""
    import math
    from collections import Counter
    from decimal import Decimal

    cb: Counter = Counter()
    for toks in docs.values():
        for a, b in zip(toks, toks[1:]):
            cb[(a, b)] += 1
    ca: Counter = Counter()
    n1a: Counter = Counter()
    n1b: Counter = Counter()
    for (a, b), c in cb.items():
        ca[a] += c
        n1a[a] += 1
        n1b[b] += 1
    tot = len(cb)
    n1 = sum(1 for c in cb.values() if c == 1)
    n2 = sum(1 for c in cb.values() if c == 2)
    dd = 0.5 if n1 + 2 * n2 == 0 else n1 / (n1 + 2 * n2)
    out = {}
    for d, toks in docs.items():
        pairs = Counter(zip(toks, toks[1:]))
        if not pairs:
            out[d] = (0, None, None)
            continue
        total = Decimal(0)
        n_bg = 0
        for (a, b), n in pairs.items():
            p = (cb[(a, b)] - dd) / ca[a] + dd * n1a[a] / ca[a] * (n1b[b] / tot)
            total += Decimal(str(round(n * -math.log(p), 9)))
            n_bg += n
        xent = round(float(total) / n_bg, 6)
        out[d] = (n_bg, xent, round(math.exp(xent), 6))
    return out


def test_kn_perplexity_matches_python_reference(spark, tmp_path):
    """kn_bigram_perplexity must reproduce a pure-Python interpolated
    KN model — discount estimation (n1/(n1+2n2)), continuation
    probabilities, per-doc cross-entropy, and perplexity."""
    from mito_spark.operators.text import kn_bigram_perplexity

    texts = {
        0: "the quick brown fox jumps over the lazy dog",
        1: "the quick brown fox naps under the old tree",
        2: "dog the over quick lazy brown the jumps fox",  # shuffled
        3: "the the the the",  # repetitive
        4: "only",  # no bigrams
        5: "",  # empty
    }
    d = _write_docs(spark, tmp_path, list(texts.items()))
    expect = _py_kn_reference({i: t.split() for i, t in texts.items()})
    got = {r["doc_id"]: r for r in kn_bigram_perplexity(spark, d).collect()}
    assert set(got) == set(expect)
    for i, (n_bg, xent, ppl) in expect.items():
        assert got[i]["n_bigrams"] == n_bg
        if xent is None:
            assert got[i]["kn_xent"] is None and got[i]["kn_ppl"] is None
        else:
            assert got[i]["kn_xent"] == pytest.approx(xent, abs=2e-6)
            assert got[i]["kn_ppl"] == pytest.approx(ppl, rel=2e-6)
    # the model ladder's point: the shuffled doc is the anomaly, and
    # the repetitive doc is the most predictable thing in the corpus
    assert got[2]["kn_ppl"] > got[0]["kn_ppl"]
    assert got[3]["kn_ppl"] < got[0]["kn_ppl"]


def test_bpe_merges_count_occurrences_not_docs(spark, tmp_path):
    from mito_spark.operators.text import bpe_merge_candidates

    d = _write_docs(spark, tmp_path, [(0, "x y x y x y"), (1, "p q")])
    out = {r["pair"]: r["n_occurrences"] for r in bpe_merge_candidates(spark, d).collect()}
    assert out["x y"] == 3  # three occurrences in one doc
    assert out["y x"] == 2
    assert out["p q"] == 1


def test_bpe_learn_applies_merges_greedily(spark, tmp_path):
    """Round 2's counts must reflect round 1's APPLIED merge: corpus
    'x y x y x y' — round 1 merges (x, y) [3 occurrences, greedy
    non-overlapping]; after application the doc is ['x y','x y','x y'],
    so round 2's top pair is ('x y', 'x y') with 2 occurrences."""
    from mito_spark.operators.text import bpe_learn_merges

    d = _write_docs(spark, tmp_path, [(0, "x y x y x y"), (1, "x y z")])
    rows = {r["round"]: r for r in bpe_learn_merges(spark, d, rounds=2).collect()}
    assert (rows[1]["a"], rows[1]["b"], rows[1]["n_occurrences"]) == ("x", "y", 4)
    assert (rows[2]["a"], rows[2]["b"]) == ("x y", "x y")
    assert rows[2]["n_occurrences"] == 2


def test_bpe_learn_stops_when_no_pairs(spark, tmp_path):
    from mito_spark.operators.text import bpe_learn_merges

    d = _write_docs(spark, tmp_path, [(0, "solo"), (1, "")])
    assert bpe_learn_merges(spark, d, rounds=3).count() == 0


def test_retention_cohorts_semantics(spark, tmp_path):
    """Hand-built two-cohort stream: week-0 users {1,2}, of whom only
    user 2 returns in week 1; user 3 starts in week 1 (its own cohort,
    weeks_since 0)."""
    import datetime as dt

    from mito_spark.operators.events import retention_cohorts

    w0 = dt.datetime(2024, 1, 1)  # a Monday
    w1 = w0 + dt.timedelta(days=7)
    rows = [
        (1, w0, 1, "click", 1.0, "{}"),
        (2, w0 + dt.timedelta(days=2), 2, "click", 1.0, "{}"),
        (3, w1 + dt.timedelta(days=1), 2, "click", 1.0, "{}"),  # user 2 returns
        (4, w1, 3, "click", 1.0, "{}"),  # new cohort
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, value double, props string",
    )
    d = str(tmp_path / "ret")
    ev.write.parquet(d + "/events.parquet")
    out = {
        (r["cohort_week"].date().isoformat(), r["weeks_since"]): r["n_users"]
        for r in retention_cohorts(spark, d).collect()
    }
    assert out[("2024-01-01", 0)] == 2
    assert out[("2024-01-01", 1)] == 1
    assert out[("2024-01-08", 0)] == 1
    assert len(out) == 3


def test_rolling_window_boundary_inclusive(spark, tmp_path):
    """An event exactly `days` before another is INSIDE its trailing
    frame (RANGE bounds are inclusive); one microsecond older is out.
    Equal timestamps are peers — both include each other."""
    import datetime as dt

    from mito_spark.operators.events import events_rolling_window

    t0 = dt.datetime(2024, 1, 10)
    rows = [
        (1, t0 - dt.timedelta(days=7), 1, "click", 1.0, "{}"),          # exactly 7d before
        (2, t0 - dt.timedelta(days=7, microseconds=1), 1, "click", 2.0, "{}"),  # 1us too old
        (3, t0, 1, "click", 4.0, "{}"),
        (4, t0, 1, "click", 8.0, "{}"),                                  # peer of 3
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, value double, props string",
    )
    d = str(tmp_path / "roll")
    ev.write.parquet(d + "/events.parquet")
    out = {r["event_id"]: r for r in events_rolling_window(spark, d).collect()}
    assert out[3]["n_events_trailing"] == 3  # events 1, 3, 4 — not 2
    assert out[3]["value_trailing"] == 13.0
    assert out[4]["n_events_trailing"] == 3  # peers include each other
    assert out[1]["n_events_trailing"] == 2  # event 2 is 1us earlier: in 1's frame


def test_priority_pivot_static_schema_and_zero_fill(spark, sf_dir):
    from mito_spark.operators.relational2 import orders_priority_pivot
    from mito_spark.engine import load_table

    df = orders_priority_pivot(spark, sf_dir)
    assert df.columns == [
        "order_year", "p1_orders", "p2_orders", "p3_orders", "p4_orders", "p5_orders",
    ]
    rows = df.collect()
    total = sum(sum(r[c] for c in df.columns[1:]) for r in rows)
    assert total == load_table(spark, sf_dir, "orders").count()
    assert all(all(r[c] >= 0 for c in df.columns[1:]) for r in rows)


def test_rolling_window_matches_bruteforce(spark, tmp_path):
    """Seeded random stream vs an O(n²) per-user brute force: every
    event's trailing count/sum must match exactly (decimal-exact sum,
    inclusive bounds, microsecond key)."""
    import datetime as dt
    import random

    from mito_spark.operators.events import ROLLING_DAYS, events_rolling_window

    rng = random.Random(42)
    base = dt.datetime(2024, 3, 1)
    rows = []
    for eid in range(200):
        user = rng.randrange(5)
        ts = base + dt.timedelta(seconds=rng.randrange(0, 30 * 86400), microseconds=rng.randrange(10**6))
        value = round(rng.uniform(0, 100), 4)
        rows.append((eid, ts, user, "click", value, "{}"))
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, value double, props string",
    )
    d = str(tmp_path / "rollrand")
    ev.write.parquet(d + "/events.parquet")
    got = {r["event_id"]: r for r in events_rolling_window(spark, d).collect()}
    span = dt.timedelta(days=ROLLING_DAYS)
    from decimal import Decimal

    for eid, ts, user, _, _, _ in rows:
        in_frame = [
            r for r in rows if r[2] == user and ts - span <= r[1] <= ts
        ]
        assert got[eid]["n_events_trailing"] == len(in_frame), eid
        want = float(sum(Decimal(str(round(r[4], 4))) for r in in_frame))
        assert abs(got[eid]["value_trailing"] - want) < 1e-9, eid


def test_lexical_diversity_planted_extremes(spark, tmp_path):
    """A boilerplate source (one word repeated) must read TTR near 0
    and low Herdan C; an all-unique source reads TTR 1.0 and C = 1.0
    (types == tokens). Single-token sources NULL their C (ln 1 = 0)."""
    from pyspark.sql import functions as F  # noqa: F401

    from mito_spark.operators.quality import lexical_diversity_report

    rows = [
        (0, "spam " * 50, "boiler", ),
        (1, "spam " * 50, "boiler"),
        (2, " ".join(f"uniq{i}" for i in range(60)), "fresh"),
        (3, "solo", "tiny"),
    ]
    d = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, t, "en", src, len(t)) for i, t, src in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(f"{d}/documents.parquet")
    got = {r.source: r for r in lexical_diversity_report(spark, d).collect()}
    assert got["boiler"].n_types == 1 and got["boiler"].mean_doc_ttr == 0.02
    assert got["fresh"].mean_doc_ttr == 1.0 and got["fresh"].herdan_c == 1.0
    assert got["tiny"].herdan_c is None  # ln(1) = 0 denominator
    assert got["boiler"].herdan_c == 0.0  # ln(1 type) = 0 numerator
