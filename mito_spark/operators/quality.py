"""Corpus quality filtering beyond the Gopher repetition rules
(decontam.repetition_quality): C4-style heuristic filters and
surprisal-based quality bucketing — the two standard pre-training
curation passes that sit between dedup and sampling.

Both are scan-shaped: per-document metrics are computed in one
codegen'd projection (no Python, no explode for the cheap metrics),
and the only shuffles are the per-doc term rollup (top-word ratio)
and the final aggregate. At 100 TB this is the cheapest pass in the
pipeline — it should never dominate, and this shape guarantees it.

Reference anchor: the reference exposes string/regexp predicates the
user composes into such filters by hand (lib/strings.go, processor
chains); these operators package the published filter sets
(C4, arXiv:1910.10683 §2.2; Gopher, arXiv:2112.11446 A.1.1) as
first-class operators the way a training-data team actually ships
them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mito_spark.engine import load_table, spread
from mito_spark.functions.strings import fields
from mito_spark.operators.text import SURPRISAL_PER_DOC_CTE

MIN_WORDS, MAX_WORDS = 50, 100_000
MIN_MEAN_WLEN, MAX_MEAN_WLEN = 3.0, 10.0
MAX_SYMBOL_RATIO = 0.1
MAX_TOP_WORD_RATIO = 0.2


def c4_quality_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document C4-style filter flags: word count bounds, mean
    word length bounds, symbol ratio, top-word concentration, plus the
    C4 blocklist checks (lorem ipsum, curly braces), and the combined
    ``keep`` verdict.

    All metrics except top_word_ratio are single-projection column
    expressions over the scan (regexp_replace length arithmetic — no
    explode); top_word_ratio needs one explode + (doc_id, term) rollup
    and a (doc_id) max, both keyed on doc_id so they share one
    shuffle's partitioning. The two branches each tokenize from the
    scan (two parquet scans of the text column) DELIBERATELY: at scale
    recomputing a projection from columnar storage is cheaper than
    materializing the tokenized corpus to block storage to save one
    regexp pass.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    low = F.lower(F.col("text"))
    toks = fields(low)
    n_words = F.size(toks).cast("bigint")
    nonspace = F.length(F.regexp_replace(low, r"\s", ""))
    symbols = F.length(F.regexp_replace(low, r"[a-z0-9\s]", ""))
    base = docs.select(
        "doc_id",
        n_words.alias("n_words"),
        F.round(
            F.try_divide(nonspace.cast("double"), n_words.cast("double")), 6
        ).alias("mean_word_len"),
        F.round(
            F.try_divide(symbols.cast("double"), F.length(low).cast("double")), 6
        ).alias("symbol_ratio"),
        low.contains("lorem ipsum").alias("has_lorem"),
        (low.contains("{") | low.contains("}")).alias("has_brace"),
    )
    top = (
        docs.select("doc_id", F.explode(fields(F.lower(F.col("text")))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("doc_id")
        .agg(F.max("n").alias("top_n"), F.sum("n").alias("tot"))
        .select(
            "doc_id",
            F.round(
                F.try_divide(F.col("top_n").cast("double"), F.col("tot").cast("double")),
                6,
            ).alias("top_word_ratio"),
        )
    )
    joined = base.join(top, "doc_id", "left")
    keep = (
        F.col("n_words").between(MIN_WORDS, MAX_WORDS)
        & F.col("mean_word_len").between(MIN_MEAN_WLEN, MAX_MEAN_WLEN)
        & (F.col("symbol_ratio") <= MAX_SYMBOL_RATIO)
        & (F.col("top_word_ratio") <= MAX_TOP_WORD_RATIO)
        & ~F.col("has_lorem")
        & ~F.col("has_brace")
    )
    return joined.select(
        "doc_id",
        "n_words",
        "mean_word_len",
        "symbol_ratio",
        "top_word_ratio",
        "has_lorem",
        "has_brace",
        F.coalesce(keep, F.lit(False)).alias("keep"),
    )


C4_SQL = rf"""
WITH base AS (
  SELECT doc_id, lower(text) AS low,
         CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '')) AS BIGINT) AS n_words,
         len(regexp_replace(lower(text), '\s', '', 'g')) AS nonspace,
         len(regexp_replace(lower(text), '[a-z0-9\s]', '', 'g')) AS symbols,
         len(lower(text)) AS n_chars
  FROM documents
), m AS (
  SELECT doc_id, n_words,
         CASE WHEN n_words = 0 THEN NULL
              ELSE ROUND(CAST(nonspace AS DOUBLE) / n_words, 6) END AS mean_word_len,
         CASE WHEN n_chars = 0 THEN NULL
              ELSE ROUND(CAST(symbols AS DOUBLE) / n_chars, 6) END AS symbol_ratio,
         contains(low, 'lorem ipsum') AS has_lorem,
         (contains(low, '{{') OR contains(low, '}}')) AS has_brace
  FROM base
), terms AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, COUNT(*) AS n FROM terms GROUP BY doc_id, term
), top AS (
  SELECT doc_id, ROUND(CAST(MAX(n) AS DOUBLE) / SUM(n), 6) AS top_word_ratio
  FROM tf GROUP BY doc_id
)
SELECT m.doc_id, n_words, mean_word_len, symbol_ratio, top_word_ratio,
       has_lorem, has_brace,
       COALESCE(
         n_words BETWEEN {MIN_WORDS} AND {MAX_WORDS}
         AND mean_word_len BETWEEN {MIN_MEAN_WLEN} AND {MAX_MEAN_WLEN}
         AND symbol_ratio <= {MAX_SYMBOL_RATIO}
         AND top_word_ratio <= {MAX_TOP_WORD_RATIO}
         AND NOT has_lorem AND NOT has_brace, FALSE) AS keep
FROM m LEFT JOIN top ON m.doc_id = top.doc_id
"""

N_BUCKETS = 10


def surprisal_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile quality-bucketing over per-document mean unigram
    surprisal (the CCNet head/middle/tail pattern, arXiv:1911.00359,
    generalized to 10 buckets): bucket 1 = lowest surprisal
    (most corpus-typical), bucket 10 = highest (noise/outliers).

    Scale design: NO global NTILE over documents (that is a
    single-partition sort of the whole corpus). Instead the 9 decile
    cutoffs are computed as ONE aggregate row, broadcast back, and the
    bucket id is a pure column expression (count of cutoffs below the
    doc's score). Here the cutoff aggregate is exact
    ``percentile`` so the DuckDB twin (quantile_cont — same linear
    interpolation) matches bit-for-bit; at 100 TB swap in
    ``percentile_approx`` — a mergeable sketch, same plan shape, no
    other change.

    Per-bucket sums follow the repo's decimal-sum convention so the
    float aggregation is order-free.
    """
    from mito_spark.operators.text import unigram_surprisal

    per_doc = unigram_surprisal(spark, sf_dir).localCheckpoint()
    qs = [i / N_BUCKETS for i in range(1, N_BUCKETS)]
    cutoffs = per_doc.agg(
        F.expr(
            f"percentile(mean_surprisal, array({', '.join(str(q) for q in qs)}))"
        ).alias("cuts")
    )
    bucketed = per_doc.crossJoin(F.broadcast(cutoffs)).select(
        "doc_id",
        "n_tokens",
        "mean_surprisal",
        (
            F.lit(1)
            + F.aggregate(
                F.col("cuts"),
                F.lit(0),
                lambda acc, c: acc
                + F.when(F.col("mean_surprisal") > c, 1).otherwise(0),
            )
        ).alias("bucket"),
    )
    return (
        bucketed.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.round(F.min("mean_surprisal"), 6).alias("min_surprisal"),
            F.round(F.max("mean_surprisal"), 6).alias("max_surprisal"),
            F.round(
                F.sum(
                    F.round(F.col("mean_surprisal"), 9).cast("decimal(28,9)")
                ).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_surprisal"),
        )
        .orderBy("bucket")
    )


# the per-doc surprisal CTE chain is shared with text.SURPRISAL_SQL —
# single definition of the smoothing + decimal-sum convention
_SURPRISAL_PER_DOC = SURPRISAL_PER_DOC_CTE

SURPRISAL_BUCKETS_SQL = (
    "WITH "
    + _SURPRISAL_PER_DOC
    + f""", cuts AS (
  SELECT quantile_cont(mean_surprisal,
    [{', '.join(str(i / N_BUCKETS) for i in range(1, N_BUCKETS))}]) AS cuts
  FROM per_doc
), bucketed AS (
  SELECT doc_id, n_tokens, mean_surprisal,
         1 + len(list_filter(cuts, c -> mean_surprisal > c)) AS bucket
  FROM per_doc CROSS JOIN cuts
)
SELECT bucket, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       ROUND(MIN(mean_surprisal), 6) AS min_surprisal,
       ROUND(MAX(mean_surprisal), 6) AS max_surprisal,
       ROUND(CAST(SUM(CAST(ROUND(mean_surprisal, 9) AS DECIMAL(28,9))) AS DOUBLE) / COUNT(*), 6) AS avg_surprisal
FROM bucketed GROUP BY bucket ORDER BY bucket
"""
)


VOCAB_SIZE = 20


def vocab_coverage(spark: SparkSession, sf_dir: str, v: int = VOCAB_SIZE) -> DataFrame:
    """Tokenizer-coverage report: per-document OOV rate against the
    top-``v`` corpus vocabulary (frequency desc, term asc ties) — the
    pre-flight check before committing a tokenizer/vocab to a corpus.

    Plan: the vocabulary is ONE bounded aggregate (TakeOrdered of the
    term-frequency rollup) broadcast to a per-(doc, term) left join;
    shuffles are the term rollup and the doc rollup. At 100 TB the
    vocab is still ≤ v rows — nothing about this plan grows with the
    corpus except the two keyed aggregations.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    terms = docs.select(
        "doc_id", F.explode(fields(F.lower(F.col("text")))).alias("term")
    )
    vocab = (
        terms.groupBy("term")
        .agg(F.count(F.lit(1)).alias("cf"))
        .orderBy(F.desc("cf"), F.asc("term"))
        .limit(v)
        .select("term", F.lit(True).alias("in_vocab"))
    )
    per_doc = (
        terms.join(F.broadcast(vocab), "term", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(
                F.when(F.col("in_vocab").isNull(), 1).otherwise(0)
            ).alias("n_oov"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "n_oov",
        F.round(
            F.col("n_oov").cast("double") / F.col("n_tokens").cast("double"), 6
        ).alias("oov_rate"),
    )


VOCAB_COVERAGE_SQL = rf"""
WITH terms AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '')) AS term
  FROM documents
), vocab AS (
  SELECT term FROM terms GROUP BY term
  ORDER BY COUNT(*) DESC, term LIMIT {VOCAB_SIZE}
), per_doc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM(CASE WHEN vocab.term IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
  FROM terms LEFT JOIN vocab ON terms.term = vocab.term
  GROUP BY doc_id
)
SELECT doc_id, n_tokens, n_oov,
       ROUND(CAST(n_oov AS DOUBLE) / n_tokens, 6) AS oov_rate
FROM per_doc
"""


CTX_LENGTHS = (128, 512)


def seq_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length planning report: documents bucketed by
    floor(log2(n_tokens)) with per-bin doc/token mass and the padding
    waste a naive one-doc-per-sequence batch would pay at each context
    length in CTX_LENGTHS (ceil(n/ctx)*ctx - n summed per bin) — the
    numbers that justify token_pack_bins.

    Pure scan arithmetic + one small groupBy; the histogram has
    ~log2(max_len) rows at any corpus size.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    n = F.size(fields(F.lower(F.col("text")))).cast("bigint")
    base = docs.select(n.alias("n_tokens")).where(F.col("n_tokens") > 0)
    binned = base.select(
        "n_tokens",
        F.floor(F.log2("n_tokens")).cast("int").alias("len_bin"),
        *[
            (
                (F.ceil(F.col("n_tokens") / F.lit(c)) * c - F.col("n_tokens"))
            ).alias(f"waste_{c}")
            for c in CTX_LENGTHS
        ],
    )
    return (
        binned.groupBy("len_bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.min("n_tokens").alias("min_len"),
            F.max("n_tokens").alias("max_len"),
            *[
                F.sum(f"waste_{c}").cast("bigint").alias(f"pad_waste_{c}")
                for c in CTX_LENGTHS
            ],
        )
        .orderBy("len_bin")
    )


SEQ_LENGTH_SQL = rf"""
WITH base AS (
  SELECT CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens
  FROM documents
), binned AS (
  SELECT n_tokens,
         CAST(floor(log2(n_tokens)) AS INTEGER) AS len_bin,
         {', '.join(f'CAST(ceil(CAST(n_tokens AS DOUBLE) / {c}) * {c} - n_tokens AS BIGINT) AS waste_{c}' for c in CTX_LENGTHS)}
  FROM base WHERE n_tokens > 0
)
SELECT len_bin, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       MIN(n_tokens) AS min_len, MAX(n_tokens) AS max_len,
       {', '.join(f'CAST(SUM(waste_{c}) AS BIGINT) AS pad_waste_{c}' for c in CTX_LENGTHS)}
FROM binned GROUP BY len_bin ORDER BY len_bin
"""


ZIPF_TOP = 1000


def text_zipf_profile(
    spark: SparkSession, sf_dir: str, top: int = ZIPF_TOP
) -> DataFrame:
    """Corpus-level Zipf-law fit: least-squares slope/intercept of
    ln(frequency) vs ln(rank) over the ``top`` most frequent words —
    the one-row corpus-health diagnostic curation pipelines watch
    (natural language sits near slope −1; keyword spam, template
    boilerplate, and synthetic text bend the log-log line, and a
    round-over-round slope drift flags a contaminated crawl batch).

    Plan: one tokenize+count shuffle to the word-frequency table, a
    TakeOrdered for the top-``top`` rows (never a vocab-wide window —
    at 100 TB the vocabulary is 10⁸ word types and a global
    ROW_NUMBER over it would single-partition; the orderBy().limit()
    form is a distributed top-k), then the regression moments over
    ``top`` bounded points. Engine-exactness by the bigram-surprisal
    recipe: each point's ln products are rounded at 9dp and summed as
    DECIMAL(28,9) (order-free), the closed-form slope runs the same
    double expression on both engines, output rounded at 6dp.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    wc = (
        docs.select(F.explode(fields(F.lower(F.col("text")))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    n_vocab = wc.agg(F.count(F.lit(1)).alias("n_vocab"))
    ranked = wc.orderBy(F.desc("n"), F.asc("w")).limit(top).localCheckpoint()
    from pyspark.sql import Window

    w_rank = Window.orderBy(F.desc("n"), F.asc("w"))  # bounded: ≤ top rows
    r = ranked.select("w", "n", F.row_number().over(w_rank).alias("rank"))
    lx = F.log(F.col("rank").cast("double"))
    ly = F.log(F.col("n").cast("double"))

    def dec(c):
        return F.round(c, 9).cast("decimal(28,9)")

    pts = r.select(
        dec(lx).alias("x"), dec(ly).alias("y"), dec(lx * ly).alias("xy"), dec(lx * lx).alias("xx")
    )
    agg = pts.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum("xy").alias("sxy"),
        F.sum("xx").alias("sxx"),
    )
    k = F.col("k").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx = F.col("sxy").cast("double"), F.col("sxx").cast("double")
    slope = (k * sxy - sx * sy) / (k * sxx - sx * sx)
    return (
        agg.crossJoin(F.broadcast(n_vocab))  # 1×1
        .select(
            "n_vocab",
            F.col("k").alias("n_fit"),
            F.round(slope, 6).alias("zipf_slope"),
            F.round((sy - slope * sx) / k, 6).alias("zipf_intercept"),
        )
    )


def _zipf_sql(top: int = ZIPF_TOP) -> str:
    return rf"""
WITH wc AS (
  SELECT w, COUNT(*) AS n FROM (
    SELECT unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '')) AS w
    FROM documents
  ) GROUP BY w
), tot AS (
  SELECT COUNT(*) AS n_vocab FROM wc
), ranked AS (
  SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, w) AS rank
  FROM wc ORDER BY n DESC, w LIMIT {top}
), pts AS (
  SELECT CAST(ROUND(ln(CAST(rank AS DOUBLE)), 9) AS DECIMAL(28,9)) AS x,
         CAST(ROUND(ln(CAST(n AS DOUBLE)), 9) AS DECIMAL(28,9)) AS y,
         CAST(ROUND(ln(CAST(rank AS DOUBLE)) * ln(CAST(n AS DOUBLE)), 9) AS DECIMAL(28,9)) AS xy,
         CAST(ROUND(ln(CAST(rank AS DOUBLE)) * ln(CAST(rank AS DOUBLE)), 9) AS DECIMAL(28,9)) AS xx
  FROM ranked
), agg AS (
  SELECT COUNT(*) AS k, SUM(x) AS sx, SUM(y) AS sy, SUM(xy) AS sxy, SUM(xx) AS sxx
  FROM pts
)
SELECT (SELECT n_vocab FROM tot) AS n_vocab,
       CAST(k AS BIGINT) AS n_fit,
       ROUND((CAST(k AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(k AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS zipf_slope,
       ROUND((CAST(sy AS DOUBLE) - (CAST(k AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
              / (CAST(k AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * CAST(sx AS DOUBLE))
             / CAST(k AS DOUBLE), 6) AS zipf_intercept
FROM agg
"""


ZIPF_SQL = _zipf_sql()


# --- CCNet-style perplexity filtering (head / middle / tail) ---------

PPL_TERCILES = (1 / 3, 2 / 3)


def doc_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style per-document perplexity filter (arXiv:1911.00359
    §4.4): score every document's perplexity under the corpus-fit
    interpolated Kneser-Ney bigram LM (text.kn_bigram_perplexity — the
    KenLM stand-in), split the scored corpus into ``head`` / ``middle``
    / ``tail`` at the perplexity TERCILES, and emit the keep verdict
    the CCNet recipe ships (drop the tail; unscorable docs — fewer
    than two tokens, so no bigram evidence — are 'unscored' and
    dropped).

    This is the quality pass the published pre-training pipelines
    (CCNet, LLaMA, RedPajama) run between dedup and sampling; the
    reference exposes the predicate algebra users would compose it
    from by hand (lib/strings.go, processor chains) — here it is a
    first-class operator.

    Scale design (the surprisal_buckets discipline): NO global NTILE
    over documents (a single-partition sort of the corpus). The two
    tercile cutoffs are ONE aggregate row over the per-doc frame,
    broadcast back, and the bucket is a pure column expression. The
    cutoff aggregate is exact ``percentile`` so the DuckDB twin
    (quantile_cont — same type-7 linear interpolation over identical
    6dp-rounded doubles) matches bit-for-bit; at 100 TB swap in
    ``percentile_approx`` (mergeable sketch, same plan shape) or
    CCNet's own move — fixed per-language cutoffs fit once on the LM
    corpus — with no other change. The per-doc frame is checkpointed
    once: the cutoff aggregate and the final projection both read it,
    and re-running it would repeat the KN chain's tokenize scan and
    pair shuffle (its cost profile is kn_bigram_perplexity's, measured
    in BENCH_NOTES).
    """
    from mito_spark.operators.text import kn_bigram_perplexity

    per_doc = kn_bigram_perplexity(spark, sf_dir).localCheckpoint()
    cutoffs = per_doc.agg(
        F.expr(
            f"percentile(kn_ppl, array({PPL_TERCILES[0]!r}, {PPL_TERCILES[1]!r}))"
        ).alias("cuts")
    )
    c1 = F.element_at(F.col("cuts"), 1)
    c2 = F.element_at(F.col("cuts"), 2)
    bucket = (
        F.when(F.col("kn_ppl").isNull(), F.lit("unscored"))
        .when(F.col("kn_ppl") > c2, F.lit("tail"))
        .when(F.col("kn_ppl") > c1, F.lit("middle"))
        .otherwise(F.lit("head"))
    )
    return per_doc.crossJoin(F.broadcast(cutoffs)).select(
        "doc_id",
        "n_bigrams",
        "kn_ppl",
        bucket.alias("bucket"),
        bucket.isin("head", "middle").alias("keep"),
    )


def _doc_perplexity_filter_sql() -> str:
    from mito_spark.operators.text import KN_PERPLEXITY_SQL

    c1, c2 = PPL_TERCILES
    return f"""
WITH kn AS (
{KN_PERPLEXITY_SQL}
), cuts AS (
  SELECT quantile_cont(kn_ppl, [{c1!r}, {c2!r}]) AS cuts FROM kn
), bucketed AS (
  SELECT doc_id, n_bigrams, kn_ppl,
         CASE WHEN kn_ppl IS NULL THEN 'unscored'
              WHEN kn_ppl > cuts[2] THEN 'tail'
              WHEN kn_ppl > cuts[1] THEN 'middle'
              ELSE 'head' END AS bucket
  FROM kn CROSS JOIN cuts
)
SELECT doc_id, n_bigrams, kn_ppl, bucket,
       bucket IN ('head', 'middle') AS keep
FROM bucketed
"""


DOC_PERPLEXITY_FILTER_SQL = _doc_perplexity_filter_sql()


# --- Filter attribution: which quality pass removes what -------------


def filter_attribution_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Joint attribution across the three standard curation passes —
    C4 heuristics (c4_quality_filters.keep), Gopher repetition rules
    (NOT repetition_quality.repetition_flag), and the CCNet perplexity
    tail cut (doc_perplexity_filter.keep) — as the full 2x2x2 verdict
    table: one row per (c4_keep, rep_keep, ppl_keep) combination with
    document count, token mass, and corpus shares. This is the ablation
    a curation team reads before ordering/tuning filters: the
    one-filter-unique cells say what each pass alone is buying, the
    all-False cell what everything agrees is garbage, and the
    keep_all row the corpus that survives the full stack.

    Pure composition: three per-doc frames the repo already oracles,
    joined on doc_id (co-partitioned one-key shuffles), one 8-row
    aggregate. Shares are quotients of exact integer sums against the
    1-row corpus totals (broadcast), rounded at 6dp.
    """
    from mito_spark.operators.decontam import repetition_quality
    from mito_spark.operators.text import token_count

    c4 = c4_quality_filters(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("c4_keep")
    )
    rep = repetition_quality(spark, sf_dir).select(
        "doc_id", (~F.col("repetition_flag")).alias("rep_keep")
    )
    ppl = doc_perplexity_filter(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("ppl_keep")
    )
    toks = token_count(spark, sf_dir).select(
        "doc_id", F.col("n_tokens").cast("bigint").alias("n_tokens")
    )
    joined = toks.join(c4, "doc_id").join(rep, "doc_id").join(ppl, "doc_id")
    totals = joined.agg(
        F.count(F.lit(1)).alias("tot_docs"), F.sum("n_tokens").alias("tot_tokens")
    )
    return (
        joined.groupBy("c4_keep", "rep_keep", "ppl_keep")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_tokens").alias("n_tokens"))
        .crossJoin(F.broadcast(totals))
        .select(
            "c4_keep",
            "rep_keep",
            "ppl_keep",
            (F.col("c4_keep") & F.col("rep_keep") & F.col("ppl_keep")).alias(
                "keep_all"
            ),
            "n_docs",
            "n_tokens",
            F.round(
                F.col("n_docs").cast("double") / F.col("tot_docs").cast("double"), 6
            ).alias("doc_share"),
            F.round(
                F.col("n_tokens").cast("double") / F.col("tot_tokens").cast("double"),
                6,
            ).alias("token_share"),
        )
        .orderBy("c4_keep", "rep_keep", "ppl_keep")
    )


def _filter_attribution_sql() -> str:
    from mito_spark.operators.decontam import REPETITION_SQL
    from mito_spark.operators.text import TOKEN_COUNT_SQL

    return f"""
WITH c4f AS ({C4_SQL}
), rep AS ({REPETITION_SQL}
), ppl AS ({DOC_PERPLEXITY_FILTER_SQL}
), tc AS ({TOKEN_COUNT_SQL}
), joined AS (
  SELECT tc.doc_id, CAST(tc.n_tokens AS BIGINT) AS n_tokens,
         c4f.keep AS c4_keep,
         NOT rep.repetition_flag AS rep_keep,
         ppl.keep AS ppl_keep
  FROM tc JOIN c4f ON tc.doc_id = c4f.doc_id
          JOIN rep ON tc.doc_id = rep.doc_id
          JOIN ppl ON tc.doc_id = ppl.doc_id
), totals AS (
  SELECT COUNT(*) AS tot_docs, CAST(SUM(n_tokens) AS BIGINT) AS tot_tokens
  FROM joined
)
SELECT c4_keep, rep_keep, ppl_keep,
       (c4_keep AND rep_keep AND ppl_keep) AS keep_all,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       ROUND(CAST(COUNT(*) AS DOUBLE) / tot_docs, 6) AS doc_share,
       ROUND(CAST(SUM(n_tokens) AS DOUBLE) / tot_tokens, 6) AS token_share
FROM joined CROSS JOIN totals
GROUP BY c4_keep, rep_keep, ppl_keep, tot_docs, tot_tokens
ORDER BY c4_keep, rep_keep, ppl_keep
"""


FILTER_ATTRIBUTION_SQL = _filter_attribution_sql()


# --- per-source token-distribution drift --------------------------------

DRIFT_TOP_V = 256  # corpus top-V vocabulary the KL is measured over


def source_token_drift(
    spark: SparkSession, sf_dir: str, top_v: int = DRIFT_TOP_V
) -> DataFrame:
    """Per-source token-distribution DRIFT from the corpus: KL(source
    ‖ corpus) over the corpus top-V vocabulary (add-1 smoothing on the
    source side — a source missing a common token must cost, not
    crash the log), plus each source's token entropy and effective
    vocabulary exp(H). The ingest monitor FineWeb-style pipelines run
    per dump/source: a crawler change, an encoding bug, or a
    spam-flooded source shows up as a KL spike against the corpus
    profile long before any downstream quality filter moves.

    Scale shape: ONE tokenize scan to (source, token) counts
    (map-side combined; |sources|·V working set after the top-V cut),
    the corpus top-V as a broadcast V-row frame, per-source rollups
    on V-bounded rows. Parity: every KL/entropy term is
    9dp-rounded-ln × exact count ratios, summed as decimal(20,9)
    (order-free) and finished at 6dp — the house transcendental
    discipline.

    KL here is over the TRUNCATED top-V event space renormalized
    implicitly by the smoothing denominator (n_s + V); the number is
    a monitoring statistic comparable across sources and rounds, not
    a full-vocabulary divergence — the docstring states it so the
    oracle and the reader agree on the same quantity.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    tok = (
        docs.select("source", F.explode(fields(F.lower(F.col("text")))).alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint()  # one scan feeds corpus top-V, totals, KL
    )
    corpus = tok.groupBy("w").agg(F.sum("c").alias("cc"))
    topv = (
        corpus.orderBy(F.desc("cc"), F.asc("w")).limit(top_v).localCheckpoint()
    )
    n_corpus = topv.agg(F.sum("cc").alias("nc"))  # totals over the SAME event space
    src_tot = tok.groupBy("source").agg(
        F.sum("c").alias("ns"), F.count(F.lit(1)).alias("n_types")
    )
    # per-(source, top-V token) smoothed source prob vs corpus prob
    grid = (
        src_tot.crossJoin(F.broadcast(topv))
        .join(
            tok.select("source", "w", "c"),
            ["source", "w"],
            "left",
        )
        .crossJoin(F.broadcast(n_corpus))
    )
    v_lit = F.lit(float(top_v))
    ps = (F.coalesce(F.col("c"), F.lit(0)) + 1).cast("double") / (
        F.col("ns") + v_lit
    )
    pc = F.col("cc").cast("double") / F.col("nc").cast("double")
    term = F.round(ps * F.round(F.log(ps / pc), 9), 9).cast("decimal(20,9)")
    kl = (
        grid.groupBy("source")
        .agg(F.sum(term).alias("klsum"))
        .select("source", F.round(F.col("klsum").cast("double"), 6).alias("kl_vs_corpus"))
    )
    # source entropy over its OWN full distribution (no smoothing:
    # only observed tokens, p > 0)
    hterm = F.round(
        (F.col("c").cast("double") / F.col("ns"))
        * -F.round(F.log(F.col("c").cast("double") / F.col("ns")), 9),
        9,
    ).cast("decimal(20,9)")
    ent = (
        tok.join(src_tot.select("source", "ns"), "source")
        .groupBy("source")
        .agg(F.sum(hterm).alias("hsum"))
        .select(
            "source",
            F.round(F.col("hsum").cast("double"), 6).alias("token_entropy"),
            F.round(F.exp(F.round(F.col("hsum").cast("double"), 6)), 6).alias(
                "eff_vocab"
            ),
        )
    )
    return (
        src_tot.join(kl, "source")
        .join(ent, "source")
        .select(
            "source",
            F.col("ns").alias("n_tokens"),
            "n_types",
            "kl_vs_corpus",
            "token_entropy",
            "eff_vocab",
        )
        .orderBy("source")
    )


def _source_drift_sql(top_v: int = DRIFT_TOP_V) -> str:
    return rf"""
WITH tok AS MATERIALIZED (
  SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT source, unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '')) AS w
        FROM documents)
  GROUP BY source, w
), topv AS MATERIALIZED (
  SELECT w, cc FROM (
    SELECT w, CAST(SUM(c) AS BIGINT) AS cc FROM tok GROUP BY w)
  ORDER BY cc DESC, w LIMIT {top_v}
), nc AS (
  SELECT CAST(SUM(cc) AS BIGINT) AS nc FROM topv
), src_tot AS MATERIALIZED (
  SELECT source, CAST(SUM(c) AS BIGINT) AS ns, CAST(COUNT(*) AS BIGINT) AS n_types
  FROM tok GROUP BY source
), kl AS (
  SELECT source,
         ROUND(CAST(SUM(CAST(ROUND(ps * ROUND(ln(ps / pc), 9), 9) AS DECIMAL(20,9))) AS DOUBLE), 6) AS kl_vs_corpus
  FROM (
    SELECT s.source,
           CAST(coalesce(t.c, 0) + 1 AS DOUBLE) / (s.ns + CAST({top_v} AS DOUBLE)) AS ps,
           CAST(v.cc AS DOUBLE) / CAST(nc.nc AS DOUBLE) AS pc
    FROM src_tot s CROSS JOIN topv v CROSS JOIN nc
    LEFT JOIN tok t ON t.source = s.source AND t.w = v.w
  ) GROUP BY source
), ent AS (
  SELECT tok.source,
         ROUND(CAST(SUM(CAST(ROUND((CAST(c AS DOUBLE) / ns) * -ROUND(ln(CAST(c AS DOUBLE) / ns), 9), 9) AS DECIMAL(20,9))) AS DOUBLE), 6) AS token_entropy
  FROM tok JOIN src_tot USING (source)
  GROUP BY tok.source
)
SELECT s.source, s.ns AS n_tokens, s.n_types, kl.kl_vs_corpus,
       ent.token_entropy,
       ROUND(EXP(ent.token_entropy), 6) AS eff_vocab
FROM src_tot s JOIN kl USING (source) JOIN ent USING (source)
ORDER BY s.source
"""


SOURCE_DRIFT_SQL = _source_drift_sql()


def charset_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source character-class profile — the cheapest ingest-drift
    monitor there is (a crawl dump whose alpha/digit/punct mix moved is
    a different kind of content long before any model-based signal
    fires, and a jump in non-ASCII mass flags an encoding regression
    at the fetcher): (source, n_docs, n_chars, alpha_share,
    digit_share, space_share, punct_share, n_non_ascii).

    Naming caveat: ``punct_share`` counts every code point outside
    alpha/digit/whitespace — on non-Latin text that includes the
    CJK/Cyrillic letters themselves; read it beside ``n_non_ascii``,
    which separates the two causes.

    Shape: pure scan-level regexp_replace length arithmetic (the C4
    recipe — no explode, no Python), integer class counts summed per
    source with map-side combine, shares derived ONCE from the summed
    integers (exact-rational, 6dp) — so the result is partition-count
    invariant and identical on both engines. Output is |sources| rows;
    at 100 TB this is a parquet-scan-bandwidth pass ending in a
    ~KB-sized frame.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    t = F.col("text")
    n_chars = F.length(t).cast("bigint")
    n_alpha = F.length(F.regexp_replace(t, r"[^A-Za-z]", "")).cast("bigint")
    n_digit = F.length(F.regexp_replace(t, r"[^0-9]", "")).cast("bigint")
    n_space = (n_chars - F.length(F.regexp_replace(t, r"\s", ""))).cast("bigint")
    n_ascii = F.length(F.regexp_replace(t, r"[^\x00-\x7F]", "")).cast("bigint")
    per_doc = docs.select(
        "source",
        n_chars.alias("nc"),
        n_alpha.alias("na"),
        n_digit.alias("nd"),
        n_space.alias("ns"),
        (n_chars - n_ascii).alias("nna"),
    )
    tot = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("nc").alias("nc"),
        F.sum("na").alias("na"),
        F.sum("nd").alias("nd"),
        F.sum("ns").alias("ns"),
        F.sum("nna").alias("n_non_ascii"),
    )
    share = lambda c: F.round(  # noqa: E731
        F.try_divide(c.cast("double"), F.col("nc").cast("double")), 6
    )
    return tot.select(
        "source",
        "n_docs",
        F.col("nc").alias("n_chars"),
        share(F.col("na")).alias("alpha_share"),
        share(F.col("nd")).alias("digit_share"),
        share(F.col("ns")).alias("space_share"),
        share(F.col("nc") - F.col("na") - F.col("nd") - F.col("ns")).alias(
            "punct_share"
        ),
        F.col("n_non_ascii"),
    ).orderBy("source")


CHARSET_PROFILE_SQL = r"""
WITH per_doc AS (
  SELECT source,
         length(text) AS nc,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS na,
         length(regexp_replace(text, '[^0-9]', '', 'g')) AS nd,
         length(text) - length(regexp_replace(text, '\s', '', 'g')) AS ns,
         length(text) - length(regexp_replace(text, '[^\x00-\x7F]', '', 'g')) AS nna
  FROM documents
), tot AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(nc) AS BIGINT) AS nc, CAST(SUM(na) AS BIGINT) AS na,
         CAST(SUM(nd) AS BIGINT) AS nd, CAST(SUM(ns) AS BIGINT) AS ns,
         CAST(SUM(nna) AS BIGINT) AS n_non_ascii
  FROM per_doc GROUP BY 1
)
SELECT source, n_docs, nc AS n_chars,
       ROUND(CAST(na AS DOUBLE) / nullif(nc, 0), 6) AS alpha_share,
       ROUND(CAST(nd AS DOUBLE) / nullif(nc, 0), 6) AS digit_share,
       ROUND(CAST(ns AS DOUBLE) / nullif(nc, 0), 6) AS space_share,
       ROUND(CAST(nc - na - nd - ns AS DOUBLE) / nullif(nc, 0), 6) AS punct_share,
       n_non_ascii
FROM tot ORDER BY source
"""


def lexical_diversity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source lexical diversity — the vocabulary-richness signals
    corpus datasheets report (Templin 1957's type-token ratio; Herdan
    1960's C, the log-log form that, unlike raw TTR, is comparable
    across sources of different size): per source, doc/token/type
    counts, the mean per-document TTR, and Herdan's C =
    ln(types)/ln(tokens). A source whose diversity is an outlier is
    boilerplate-heavy (low) or noise/OCR junk (high) — the cheap
    aggregate cousin of the perplexity filters.

    Parity discipline: per-doc TTR is a 6dp round of an exact integer
    quotient, summed as DECIMAL(18,6) for the order-free mean; the
    two logarithms round at 9dp before dividing (the kn_perplexity
    precedent — absorbs the 1-ulp libm spread), and a single-token
    source NULLs out via a zero denominator identically on both
    engines. Docs with zero tokens contribute no rows (both engines
    aggregate the exploded token frame).

    Scale shape: ONE corpus tokenize explode feeds a (source, doc)
    rollup and a (source, token)-distinct rollup — two shuffles, both
    map-side combinable; output is |sources| rows.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "source", "doc_id", F.explode(fields(F.lower(F.col("text")))).alias("w")
    )
    per_doc = (
        t.groupBy("source", "doc_id")
        .agg(F.count(F.lit(1)).alias("n"), F.countDistinct("w").alias("ty"))
        .select(
            "source",
            "n",
            F.round(F.col("ty").cast("double") / F.col("n"), 6)
            .cast("decimal(18,6)")
            .alias("ttr6"),
        )
    )
    per_source = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n").alias("n_tokens"),
        F.round(
            F.sum("ttr6").cast("double") / F.count(F.lit(1)), 6
        ).alias("mean_doc_ttr"),
    )
    types_g = t.groupBy("source").agg(F.countDistinct("w").alias("n_types"))
    l_ty = F.round(F.log(F.col("n_types").cast("double")), 9)
    l_tk = F.round(F.log(F.col("n_tokens").cast("double")), 9)
    return (
        per_source.join(types_g, "source")
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "n_types",
            "mean_doc_ttr",
            F.round(F.try_divide(l_ty, F.nullif(l_tk, F.lit(0.0))), 6).alias(
                "herdan_c"
            ),
        )
        .orderBy("source")
    )


LEXICAL_DIVERSITY_SQL = r"""
WITH t AS (
  SELECT source, doc_id,
         unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '')) AS w
  FROM documents
), per_doc AS (
  SELECT source, doc_id, COUNT(*) AS n, COUNT(DISTINCT w) AS ty
  FROM t GROUP BY 1, 2
), per_source AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n) AS BIGINT) AS n_tokens,
         ROUND(CAST(SUM(CAST(ROUND(CAST(ty AS DOUBLE) / n, 6) AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS mean_doc_ttr
  FROM per_doc GROUP BY 1
), types_g AS (
  SELECT source, CAST(COUNT(DISTINCT w) AS BIGINT) AS n_types FROM t GROUP BY 1
)
SELECT s.source, s.n_docs, s.n_tokens, g.n_types, s.mean_doc_ttr,
       ROUND(ROUND(ln(CAST(g.n_types AS DOUBLE)), 9)
             / NULLIF(ROUND(ln(CAST(s.n_tokens AS DOUBLE)), 9), 0.0), 6) AS herdan_c
FROM per_source s JOIN types_g g USING (source)
ORDER BY s.source
"""


# --- Shannon n-gram entropy ladder ----------------------------------------

ENTROPY_MAX_N = 3
_LN2 = 0.6931471805599453  # folded literal: both engines divide by it


def ngram_entropy_report(
    spark: SparkSession, sf_dir: str, max_n: int = ENTROPY_MAX_N
) -> DataFrame:
    """Corpus REDUNDANCY ladder — Shannon's n-gram entropy estimates
    (Shannon 1951, "Prediction and Entropy of Printed English"): per
    n in 1..max_n the token-level entropy H_n of the n-gram
    distribution in bits, and the conditional entropy
    H(w_n | w_1..w_{n-1}) = H_n − H_{n−1} — the steepness of that
    ladder is the corpus's predictability: template boilerplate and
    duplicated spans pull the conditional entropies toward 0 (the
    next word is determined), natural prose holds them up. The
    information-theoretic cousin of ``lexical_diversity_report``
    (type-counting) and ``text_zipf_profile`` (rank-frequency shape),
    and the signal a curation pipeline reads BEFORE paying for a
    perplexity model: H_2 − H_1 collapsing round-over-round means a
    crawl batch is template-flooded.

    Exactness: the plug-in estimate is computed as
    H = (ln N − Σ c·ln(c) / N) / ln 2 with each c·ln(c) term
    9dp-rounded and summed as DECIMAL(28,9) (order-free across the
    type shuffle), ln 2 a folded literal, output 6dp — the zipf/
    surprisal recipe. Conditional rows subtract the PRE-ROUNDED H
    values so both engines subtract identical doubles.

    Scale shape (r13 optimization round, guide §2.2/§2.4): ONE
    tokenize scan stages the token array plus one PLAIN string gram
    array per rung n >= 2 (materialized in the checkpoint, so each
    explode is a free attribute fan-out — the winnow Generate rule;
    the unigram rung reuses ``toks`` directly, paying no transform),
    then a UNION of the per-rung explodes feeds ONE groupBy(n, gram)
    type shuffle + one per-n rollup, replacing the r12 per-n
    explode→groupBy legs (6 Exchanges down to 2; same total gram
    volume, keyed (n, gram) so the rungs' types never collide). The
    first r13 form staged a single combined struct<n,g> array
    instead — measured SLOWER (2.10 s vs 1.88 s solo, 3.04 s vs
    1.56 s under session load at sf0.1): the unigram rung paid an
    interpreted struct+slice transform over every token that the
    plain ``toks`` reuse avoids, and the struct materialization
    bought nothing the union does not. Output max_n rows via a left
    join against the literal rung list (an absent rung — no doc long
    enough — yields the same NULL row the old empty-aggregate
    produced).
    """
    docs = spread(load_table(spark, sf_dir, "documents"))

    def slicer(width: int):
        # closure factory: the HOF lambda must take exactly ONE
        # parameter — a second (even defaulted) binds the array index.
        # element_at unroll (r13): the gram_col guard admits only full
        # windows, so no slice allocation per position is needed
        return lambda i: F.concat_ws(
            " ", *[F.element_at(F.col("toks"), i + j) for j in range(width)]
        )

    def gram_col(n: int):
        return F.when(
            F.size("toks") >= n,
            F.transform(F.sequence(F.lit(1), F.size("toks") - (n - 1)), slicer(n)),
        ).otherwise(F.array().cast("array<string>"))

    staged = (
        docs.select(fields(F.lower(F.col("text"))).alias("toks"))
        .select(
            "toks", *[gram_col(n).alias(f"g{n}") for n in range(2, max_n + 1)]
        )
        .localCheckpoint()
    )

    def dec(c):
        return F.round(c, 9).cast("decimal(28,9)")

    legs = [
        staged.select(
            F.lit(n).alias("n"),
            F.explode("toks" if n == 1 else f"g{n}").alias("g"),
        )
        for n in range(1, max_n + 1)
    ]
    grams = legs[0]
    for leg in legs[1:]:
        grams = grams.unionAll(leg)
    cnts = grams.groupBy("n", "g").agg(F.count(F.lit(1)).alias("c"))
    per_n = cnts.groupBy("n").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(
            dec(
                F.col("c").cast("double")
                * F.round(F.log(F.col("c").cast("double")), 9)
            )
        ).alias("s"),
    )
    rungs = spark.createDataFrame([(n,) for n in range(1, max_n + 1)], "n int")
    out = rungs.join(per_n, "n", "left").select(
        "n",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.coalesce(F.col("n_types"), F.lit(0)).cast("bigint").alias("n_types"),
        F.round(
            (
                F.round(F.log(F.col("n_tokens").cast("double")), 9)
                - F.col("s").cast("double") / F.col("n_tokens").cast("double")
            )
            / F.lit(_LN2),
            6,
        ).alias("entropy_bits"),
    )
    from pyspark.sql import Window

    # conditional ladder over the <= max_n-row frame (bounded window)
    w = Window.orderBy("n").rowsBetween(-1, -1)
    return (
        out.select(
            "n",
            "n_tokens",
            "n_types",
            "entropy_bits",
            F.round(
                F.col("entropy_bits")
                - F.coalesce(F.sum("entropy_bits").over(w), F.lit(0.0)),
                6,
            ).alias("cond_entropy_bits"),
        )
        .orderBy("n")
    )


def _entropy_sql(max_n: int = ENTROPY_MAX_N) -> str:
    legs = []
    for n in range(1, max_n + 1):
        if n == 1:
            g = "SELECT unnest(toks) AS g FROM staged"
        else:
            g = f"""SELECT unnest(list_transform(range(1, greatest(len(toks) - {n - 1}, 0) + 1),
                 i -> array_to_string(toks[i:i+{n - 1}], ' '))) AS g FROM staged"""
        legs.append(f"""SELECT {n} AS n,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_types,
       ROUND((ROUND(ln(CAST(SUM(c) AS DOUBLE)), 9)
              - CAST(SUM(CAST(ROUND(CAST(c AS DOUBLE) * ROUND(ln(CAST(c AS DOUBLE)), 9), 9) AS DECIMAL(28,9))) AS DOUBLE)
                / CAST(SUM(c) AS DOUBLE)) / {_LN2!r}, 6) AS entropy_bits
FROM (SELECT g, COUNT(*) AS c FROM ({g}) GROUP BY g)""")
    union = "\nUNION ALL\n".join(legs)
    return rf"""
WITH staged AS MATERIALIZED (
  SELECT list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '') AS toks
  FROM documents
), ladder AS (
{union}
)
SELECT n, n_tokens, n_types, entropy_bits,
       ROUND(entropy_bits - COALESCE(SUM(entropy_bits) OVER (
         ORDER BY n ROWS BETWEEN 1 PRECEDING AND 1 PRECEDING), 0.0), 6) AS cond_entropy_bits
FROM ladder ORDER BY n
"""


NGRAM_ENTROPY_SQL = _entropy_sql()


# --- term burstiness (Church-Gale adaptation + Fano factor) ---------------

BURST_DF_FLOOR = 5  # a term must appear in >= this many docs to rank
BURST_TOP = 20


def term_burstiness_report(
    spark: SparkSession, sf_dir: str, top: int = BURST_TOP
) -> DataFrame:
    """Per-term BURSTINESS — the Church & Gale (1995, "Poisson
    mixtures") observation that content words are not Poisson: once a
    word appears in a document it tends to appear AGAIN, while
    function words spread evenly. Two classic statistics per term:

    - **adaptation** = cf/df — mean occurrences per CONTAINING doc
      (E[tf | tf > 0]): ~1 for function words, >> 1 for topical and
      boilerplate terms;
    - **fano** = var(tf)/mean(tf) over ALL docs (zeros included) —
      the Poisson yardstick (Fano = 1 under Poisson; burstiness shows
      as Fano >> 1). Computed from exact integer moments:
      fano = Σtf²/cf − cf/N, the algebraic collapse of
      ((Σtf² − cf²/N)/N)/(cf/N) — two double ops on exact integers,
      bit-identical on both engines.

    Why a pipeline wants it: high-Fano high-df terms are the
    boilerplate/template vocabulary (they concentrate in doc clumps —
    prime n-gram-filter candidates, cf. boilerplate_ngrams); Fano ≈ 1
    terms are the Poisson background no filter should key on. The
    report ranks the top-`top` bursty terms above a df floor
    (BURST_DF_FLOOR — singleton-doc terms have degenerate variance).

    Scale shape: ONE tokenize explode → (doc, term) tf rollup →
    (term) moment rollup — both map-side combinable; the doc count N
    rides a broadcast 1-row frame; final selection is a global
    top-`top` (TakeOrdered — never a corpus-wide window). The
    intermediate is |vocab|-bounded; nothing corpus-sized survives
    the second shuffle.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    tf = (
        docs.select("doc_id", F.explode(fields(F.lower(F.col("text")))).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    per_term = tf.groupBy("w").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("tf").alias("cf"),
        F.sum(F.col("tf") * F.col("tf")).alias("s2"),
    )
    scored = (
        per_term.where(F.col("df") >= BURST_DF_FLOOR)
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col("w").alias("term"),
            "df",
            "cf",
            F.round(F.col("cf").cast("double") / F.col("df").cast("double"), 6).alias(
                "adaptation"
            ),
            F.round(
                F.col("s2").cast("double") / F.col("cf").cast("double")
                - F.col("cf").cast("double") / F.col("n_docs").cast("double"),
                6,
            ).alias("fano"),
        )
    )
    return scored.orderBy(F.desc("fano"), F.asc("term")).limit(top)


def _burstiness_sql(top: int = BURST_TOP) -> str:
    return rf"""
WITH tf AS (
  SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (SELECT doc_id,
               unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '')) AS w
        FROM documents)
  GROUP BY doc_id, w
), per_term AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS df, CAST(SUM(tf) AS BIGINT) AS cf,
         CAST(SUM(tf * tf) AS BIGINT) AS s2
  FROM tf GROUP BY w
), n AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents
)
SELECT w AS term, df, cf,
       ROUND(CAST(cf AS DOUBLE) / CAST(df AS DOUBLE), 6) AS adaptation,
       ROUND(CAST(s2 AS DOUBLE) / CAST(cf AS DOUBLE)
             - CAST(cf AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) AS fano
FROM per_term CROSS JOIN n
WHERE df >= {BURST_DF_FLOOR}
ORDER BY fano DESC, term ASC
LIMIT {top}
"""


TERM_BURSTINESS_SQL = _burstiness_sql()
