"""Dataset assembly operators for training pipelines: deterministic
splits and token-budget sequence packing.

Both are map-dominant by design — the split is pure map (zero shuffle,
trivially resumable, stable under re-runs and backfills because the
assignment is a content hash, not a random() call), and packing is one
window over a partitioning key. North-star surface (BASELINE.json);
the reference has no sampling/packing (SURVEY §2.2 aggregation note).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from mito_spark.engine import load_table
from mito_spark.functions.strings import fields


def hash_split(col: Column, weights: dict[str, float], salt: str = "split:v1") -> Column:
    """Deterministic weighted split label from a stable hash of ``col``.

    md5(salt:key) → uniform in [0, 1) via the first 15 hex digits;
    cumulative weight thresholds pick the label. Engine-portable (md5
    arithmetic, no Spark-specific hash), so the DuckDB oracle assigns
    identical labels — and so would any other engine, which is what
    makes the split reproducible across the pipeline's lifetime.
    Changing ``salt`` re-deals the assignment; weights need not sum to
    1 (they are normalized)."""
    u = F.conv(F.substring(F.md5(F.concat(F.lit(salt + ":"), col.cast("string"))), 1, 15), 16, 10).cast(
        "double"
    ) / float(1 << 60)
    total = sum(weights.values())
    expr = None
    acc = 0.0
    items = list(weights.items())
    for name, w in items[:-1]:
        acc += w / total
        expr = F.when(u < acc, name) if expr is None else expr.when(u < acc, name)
    last = items[-1][0]
    return F.lit(last) if expr is None else expr.otherwise(last)


def dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """queries() entry: 90/5/5 train/val/test split of documents by
    content-stable doc_id hash; per-(lang, split) counts prove the
    proportions and determinism."""
    docs = load_table(spark, sf_dir, "documents")
    split = hash_split(F.col("doc_id"), {"train": 0.9, "val": 0.05, "test": 0.05})
    return (
        docs.select("lang", split.alias("split"))
        .groupBy("lang", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


DATASET_SPLIT_SQL = """
WITH u AS (
  SELECT lang,
         CAST('0x' || substr(md5('split:v1:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
           / 1152921504606846976.0 AS u
  FROM documents
)
SELECT lang,
       CASE WHEN u < 0.9 THEN 'train' WHEN u < 0.95 THEN 'val' ELSE 'test' END AS split,
       COUNT(*) AS n_docs
FROM u GROUP BY 1, 2
"""


PACK_BUDGET = 512


def token_pack_bins(
    spark: SparkSession, sf_dir: str, budget: int = PACK_BUDGET
) -> DataFrame:
    """Sequence packing: assign documents to fixed token-budget bins.

    Greedy-by-cumulative-sum within a shard: documents are ordered
    deterministically (doc_id) inside each (lang) shard, and a doc
    whose running token total crosses a budget boundary opens the next
    bin (bin = floor((cumsum - tokens) / budget) — i.e. placement by
    the tokens *before* this doc). One window per shard — a single
    shuffle on the shard key; bins never span shards so downstream
    readers can consume shards independently. Oversized docs (> budget)
    occupy their own bin span, never dropped silently.

    Output: per (lang, bin) the doc count and token fill — the packing
    manifest a sequence-assembly job would consume."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = F.size(fields(F.lower(F.col("text"))))
    w = Window.partitionBy("lang").orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    with_bins = docs.select(
        "lang", "doc_id", toks.alias("n_tokens")
    ).withColumn("bin", F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / budget))
    return with_bins.groupBy("lang", "bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("tokens_in_bin"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


TOKEN_PACK_SQL = rf"""
WITH t AS (
  SELECT lang, doc_id,
         len(list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '')) AS n_tokens
  FROM documents
), c AS (
  SELECT lang, doc_id, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM t
)
SELECT lang, CAST(FLOOR((cum - n_tokens) / {PACK_BUDGET}.0) AS BIGINT) AS bin,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS tokens_in_bin,
       MIN(doc_id) AS first_doc,
       MAX(doc_id) AS last_doc
FROM c GROUP BY 1, 2
"""


MIN_SHARDS = 8
SHARD_TARGET_ROWS = 100_000


def auto_n_shards(
    n_rows: int,
    target_shard_rows: int = SHARD_TARGET_ROWS,
    min_shards: int = MIN_SHARDS,
) -> int:
    """Shard count scaled to the corpus: ceil(n / target_shard_rows),
    floor ``min_shards``. Each shard's rank is one window task (all
    rows of a shard land in a single partition of the per-shard sort),
    so a FIXED shard count puts n/const rows through one task — at
    100 TB / 8 shards that is 12.5 TB in a single sort. This rule
    bounds the per-task row count at target_shard_rows (~a few MB of
    (id, key) pairs) at any corpus size. The SQL twin derives the
    identical count from COUNT(*) with the same constants."""
    return max(min_shards, -(-n_rows // target_shard_rows))


def corpus_shuffle(
    spark: SparkSession,
    sf_dir: str,
    salt: str = "shuffle:v1",
    n_shards: int | None = None,
) -> DataFrame:
    """Deterministic global corpus shuffle — the training-order
    randomization every pretraining pipeline runs before packing.
    NOT an ORDER BY rand(): shard = md5-hash of the doc id (uniform,
    reproducible across runs and engines), position = rank of the md5
    key WITHIN the shard. Equivalent to a uniform random permutation,
    but the only shuffle is one hash partition + per-shard sort —
    each executor sorts its own shard; no global sort, no skew, and
    changing the salt re-shuffles without touching the data.

    ``n_shards=None`` (the default) derives the shard count from the
    corpus size (``auto_n_shards``) so the per-shard window task stays
    bounded at any scale; the oracle twin computes the same rule from
    COUNT(*), so Python and SQL can never drift.

    Output: (doc_id, shard, pos) — the read order for epoch 0; a
    training job reads shards in index order, rows by pos.
    """
    docs = load_table(spark, sf_dir, "documents")
    if n_shards is None:
        n_shards = auto_n_shards(docs.count())
    key = F.md5(F.concat(F.lit(salt + ":"), F.col("doc_id").cast("string")))
    keyed = docs.select("doc_id", key.alias("k"))
    shard = F.pmod(
        F.conv(F.substring(F.col("k"), 1, 15), 16, 10).cast("bigint"),
        F.lit(n_shards),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("shard").orderBy("k", "doc_id")
    return (
        keyed.withColumn("shard", shard.cast("int"))
        .withColumn("pos", F.row_number().over(w))
        .select("doc_id", "shard", "pos")
    )


# n_shards is DERIVED in SQL with the same auto_n_shards rule the
# Python default uses (GREATEST(min, CEIL(n/target))), so the twin
# tracks the operator at every SF — no hardcoded shard constant.
CORPUS_SHUFFLE_SQL = f"""
WITH nsh AS (
  SELECT GREATEST({MIN_SHARDS}, CAST(CEIL(COUNT(*) / {SHARD_TARGET_ROWS}.0) AS BIGINT)) AS n_shards
  FROM documents
), keyed AS (
  SELECT doc_id, md5('shuffle:v1:' || CAST(doc_id AS VARCHAR)) AS k
  FROM documents
), sharded AS (
  SELECT doc_id, k,
         CAST(CAST('0x' || substring(k, 1, 15) AS BIGINT) % (SELECT n_shards FROM nsh) AS INTEGER) AS shard
  FROM keyed
)
SELECT doc_id, shard,
       ROW_NUMBER() OVER (PARTITION BY shard ORDER BY k, doc_id) AS pos
FROM sharded
"""


WEIGHTED_SAMPLE_K = 20
# 2^60 — exactly representable as a double, so u = (v+1)/2^60 is an
# exact binary scaling of the 15-hex-digit md5 integer on both engines
U_DENOM = "1152921504606846976.0"


def weighted_sample_es(
    spark: SparkSession,
    sf_dir: str,
    k: int = WEIGHTED_SAMPLE_K,
    salt: str = "wsample:v1",
) -> DataFrame:
    """Deterministic WEIGHTED sampling without replacement, k docs per
    source stratum, weight = document length — the Efraimidis-Spirakis
    exponential-race reservoir (Inf. Proc. Letters 97(5), 2006) in its
    distributed top-k form: each item draws a deterministic uniform
    u from md5(salt:doc_id) and is ranked by

        es_key = ln(u) / w          (equivalent to ranking u^(1/w))

    — the k largest keys per stratum are EXACTLY a weight-proportional
    sample without replacement (P(item wins a slot) follows the
    sequential w_i/Σw_remaining race). This is the principled form of
    "sample long documents proportionally more" that a training-mix
    builder wants, and the md5-based u makes it reproducible across
    runs, engines, and partitionings (the repo's hash_split/
    corpus_shuffle discipline — never a rand() call).

    Plan: one scan projecting a SLIM (source, doc_id, w, es_key)
    frame, then the shared exact two-stage ``per_key_topk`` — no
    global sort, no stratum-count parallelism collapse, nothing
    corpus-sized past the scan. Items with w ≤ 0 are excluded by
    definition (zero weight = zero selection probability).

    Engine exactness: u is an exact power-of-two scaling of the first
    15 md5 hex digits, and es_key is ROUNDED to 9dp before ranking so
    both engines rank the identical total order (doc_id breaks ties)
    — the 1-ulp ln() divergence between libms cannot reorder the
    sample. Output: (source, doc_id, n_chars, es_key, es_rank).
    """
    from mito_spark.operators.topk import per_key_topk

    docs = load_table(spark, sf_dir, "documents").where(F.col("n_chars") > 0)
    v = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(salt + ":"), F.col("doc_id").cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("bigint")
    u = (v.cast("double") + 1) / F.lit(float(U_DENOM))
    es_key = F.round(F.log(u) / F.col("n_chars").cast("double"), 9)
    slim = docs.select("source", "doc_id", "n_chars", es_key.alias("es_key"))
    return per_key_topk(
        slim,
        "source",
        [F.col("es_key").desc(), F.col("doc_id").asc()],
        k,
        rank_name="es_rank",
    ).select("source", "doc_id", "n_chars", "es_key", "es_rank")


WEIGHTED_SAMPLE_SQL = f"""
WITH cand AS (
  SELECT source, doc_id, n_chars,
         ROUND(ln((CAST(CAST('0x' || substring(md5('wsample:v1:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS DOUBLE) + 1)
                  / {U_DENOM})
               / CAST(n_chars AS DOUBLE), 9) AS es_key
  FROM documents
  WHERE n_chars > 0
), ranked AS (
  SELECT source, doc_id, n_chars, es_key,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY es_key DESC, doc_id) AS es_rank
  FROM cand
)
SELECT source, doc_id, n_chars, es_key, es_rank
FROM ranked WHERE es_rank <= {WEIGHTED_SAMPLE_K}
"""


# --- packing-strategy efficiency --------------------------------------

PACK_SEQ_LENS = (32, 128, 512)  # context lengths bracketing the
# corpus's ~54-token mean doc, so all three regimes appear: docs
# mostly longer than L (truncation bites), comparable, and shorter
# (padding dominates)


def packing_efficiency_report(
    spark: SparkSession, sf_dir: str, seq_lens: tuple[int, ...] = PACK_SEQ_LENS
) -> DataFrame:
    """The sequence-assembly decision table: per context length L, the
    cost of the two standard strategies — PAD (one doc per sequence,
    truncated at L: pays padding waste + truncation loss) vs PACK
    (concatenate-and-chunk, GPT-2 style: pays near-zero padding but
    splits documents across sequence boundaries, i.e. attention
    contamination unless the loader masks). Columns per L:
    (seq_len, n_docs, total_tokens, trunc_lost, pad_seqs, pad_waste,
    pack_seqs, pack_waste, split_docs). ``token_pack_bins`` emits the
    manifest for the chosen strategy; this report is how you choose.

    Scale shape: ONE tokenize scan into a per-lang running-sum window
    (the shard-local cumulative sum ``token_pack_bins`` already uses —
    never a global single-partition window), checkpointed and shared
    by every L; each rung is pure column arithmetic + one |langs|-row
    rollup. All counts integer-exact (ceil as (x + L - 1) DIV L);
    the two waste ratios are 6dp try_divides.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = F.size(fields(F.lower(F.col("text"))))
    w = Window.partitionBy("lang").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    base = (
        docs.select("lang", "doc_id", toks.alias("n"))
        .select("lang", "doc_id", "n", F.sum("n").over(w).alias("cum"))
        .localCheckpoint()  # one window pass shared by every rung
    )
    lang_tot = base.groupBy("lang").agg(F.max("cum").alias("tot"))
    outs = []
    for L in seq_lens:
        kept = F.least(F.col("n"), F.lit(L))
        split = (
            (F.col("n") > 0)
            & (
                F.floor((F.col("cum") - F.col("n")) / L)
                != F.floor((F.col("cum") - 1) / L)
            )
        ).cast("int")
        d = base.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.coalesce(F.sum("n"), F.lit(0)).cast("bigint").alias("total_tokens"),
            F.coalesce(F.sum(kept), F.lit(0)).cast("bigint").alias("kept"),
            F.coalesce(F.sum(split), F.lit(0)).cast("bigint").alias("split_docs"),
        )
        p = lang_tot.agg(
            F.coalesce(
                F.sum(F.expr(f"(tot + {L} - 1) DIV {L}")), F.lit(0)
            )
            .cast("bigint")
            .alias("pack_seqs")
        )
        outs.append(
            d.crossJoin(F.broadcast(p)).select(
                F.lit(L).cast("bigint").alias("seq_len"),
                "n_docs",
                "total_tokens",
                (F.col("total_tokens") - F.col("kept")).alias("trunc_lost"),
                F.col("n_docs").alias("pad_seqs"),
                F.round(
                    F.try_divide(
                        (F.col("n_docs") * L - F.col("kept")).cast("double"),
                        (F.col("n_docs") * L).cast("double"),
                    ),
                    6,
                ).alias("pad_waste"),
                "pack_seqs",
                F.round(
                    F.try_divide(
                        (F.col("pack_seqs") * L - F.col("total_tokens")).cast("double"),
                        (F.col("pack_seqs") * L).cast("double"),
                    ),
                    6,
                ).alias("pack_waste"),
                "split_docs",
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out.orderBy("seq_len")


def _packing_efficiency_sql(seq_lens: tuple[int, ...] = PACK_SEQ_LENS) -> str:
    rows = []
    for L in seq_lens:
        rows.append(f"""SELECT CAST({L} AS BIGINT) AS seq_len,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM base) AS n_docs,
       (SELECT CAST(coalesce(SUM(n), 0) AS BIGINT) FROM base) AS total_tokens,
       (SELECT CAST(coalesce(SUM(n), 0) - coalesce(SUM(LEAST(n, {L})), 0) AS BIGINT) FROM base) AS trunc_lost,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM base) AS pad_seqs,
       (SELECT ROUND(CAST(COUNT(*) * {L} - coalesce(SUM(LEAST(n, {L})), 0) AS DOUBLE)
                     / CAST(COUNT(*) * {L} AS DOUBLE), 6) FROM base) AS pad_waste,
       (SELECT CAST(coalesce(SUM((tot + {L} - 1) // {L}), 0) AS BIGINT) FROM lang_tot) AS pack_seqs,
       (SELECT ROUND(CAST((SELECT coalesce(SUM((tot + {L} - 1) // {L}), 0) FROM lang_tot) * {L}
                          - (SELECT coalesce(SUM(n), 0) FROM base) AS DOUBLE)
                     / CAST((SELECT coalesce(SUM((tot + {L} - 1) // {L}), 0) FROM lang_tot) * {L} AS DOUBLE), 6)) AS pack_waste,
       (SELECT CAST(coalesce(SUM(CASE WHEN n > 0 AND FLOOR((cum - n) / {L}) <> FLOOR((cum - 1) / {L})
                                       THEN 1 ELSE 0 END), 0) AS BIGINT) FROM base) AS split_docs""")
    return (
        r"""
WITH base AS MATERIALIZED (
  SELECT lang, doc_id, n,
         SUM(n) OVER (PARTITION BY lang ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM (SELECT lang, doc_id,
               len(list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '')) AS n
        FROM documents)
), lang_tot AS MATERIALIZED (
  SELECT lang, CAST(MAX(cum) AS BIGINT) AS tot FROM base GROUP BY lang
)
"""
        + "\nUNION ALL\n".join(rows)
        + "\nORDER BY seq_len\n"
    )


PACKING_EFFICIENCY_SQL = _packing_efficiency_sql()


# Poisson(1) CDF cuts for the hash-derived bootstrap weights — full
# double literals so both engines branch identically.
_POIS1_CDF = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238463,
    0.9963401531726563,
    0.9994058151824183,
    0.999916758850712,
    0.9999897508033253,
    0.999998874797402,
)
BOOT_REPLICATES = 64
_TWO60 = float(1 << 60)


def bootstrap_ci_report(
    spark: SparkSession, sf_dir: str, b: int = BOOT_REPLICATES
) -> DataFrame:
    """Per-source mean document length with a 95% POISSON-BOOTSTRAP
    confidence interval — the error bar every per-source statistic in
    this repo's report family deserves, computed the way massive-data
    systems actually bootstrap: classic resample-with-replacement
    needs the whole dataset per replicate, but for large n the
    multinomial resample counts converge to independent Poisson(1)
    weights per (doc, replicate), so ONE pass scores all B replicates
    (Chamandy et al., "Estimating Uncertainty for Massive Data
    Streams", Google 2012; the streaming cousin of Kleiner's Bag of
    Little Bootstraps).

    Determinism: the Poisson weights are not random — each (replicate,
    doc) draws u = md5-derived-60-bit / 2^60 and inverts the Poisson(1)
    CDF through full-double literal cuts, so both engines materialize
    the identical weight matrix (the corpus_shuffle/weighted_sample_es
    hash-randomness discipline). Replicate means divide exact integer
    sums; the CI takes exact interpolated percentiles over the B-row
    per-source mean set.

    Scale shape: the B-fold row expansion happens IN-TASK (a transform
    + posexplode over a literal sequence) and collapses map-side — the
    partial aggregate reduces every task's rows to |sources| × B
    before the shuffle, so the exchange carries S×B tiny rows no
    matter the corpus size; the percentile sort runs on B rows per
    source. A degenerate (source, replicate) whose weights all drew 0
    yields a NULL mean via try_divide and drops out of the percentile
    on both engines identically.
    """
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "source",
        F.col("doc_id").cast("string").alias("did"),
        F.size(fields(F.lower(F.col("text")))).cast("bigint").alias("x"),
    )
    cuts = _POIS1_CDF

    def _w(u: Column) -> Column:
        expr = F.lit(len(cuts))
        for k in range(len(cuts) - 1, -1, -1):
            expr = F.when(u < F.lit(cuts[k]), F.lit(k)).otherwise(expr)
        return expr

    reps = F.transform(
        F.sequence(F.lit(0), F.lit(b - 1)),
        lambda i: F.struct(
            i.alias("b"),
            _w(
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.lit("boot:v1:"),
                                i.cast("string"),
                                F.lit(":"),
                                F.col("did"),
                            )
                        ),
                        1,
                        15,
                    ),
                    16,
                    10,
                ).cast("bigint")
                / F.lit(_TWO60)
            ).alias("w"),
        ),
    )
    expanded = base.select(
        "source", "x", F.explode_outer(reps).alias("r")
    ).select("source", "x", F.col("r.b").alias("b"), F.col("r.w").alias("w"))
    means = (
        expanded.groupBy("source", "b")
        .agg(
            F.sum(F.col("w") * F.col("x")).alias("swx"),
            F.sum("w").alias("sw"),
        )
        .select(
            "source",
            F.try_divide(
                F.col("swx").cast("double"), F.col("sw").cast("double")
            ).alias("m"),
        )
    )
    ci = means.groupBy("source").agg(
        F.round(F.percentile("m", 0.025), 6).alias("ci_lo"),
        F.round(F.percentile("m", 0.975), 6).alias("ci_hi"),
    )
    stats = base.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(
            F.sum("x").cast("double") / F.count(F.lit(1)), 6
        ).alias("mean_tokens"),
    )
    return (
        stats.join(ci, "source")
        .select("source", "n_docs", "mean_tokens", "ci_lo", "ci_hi")
        .orderBy("source")
    )


def _bootstrap_sql(b: int = BOOT_REPLICATES) -> str:
    cuts = _POIS1_CDF
    w_case = "CASE " + " ".join(
        f"WHEN u < {cuts[k]!r} THEN {k}" for k in range(len(cuts))
    ) + f" ELSE {len(cuts)} END"
    return rf"""
WITH base AS (
  SELECT source, CAST(doc_id AS VARCHAR) AS did,
         len(list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '')) AS x
  FROM documents
), expanded AS (
  SELECT source, x,
         unnest(range(0, {b})) AS b,
         unnest(list_transform(range(0, {b}),
           i -> CAST(CAST('0x' || substr(md5('boot:v1:' || CAST(i AS VARCHAR) || ':' || did), 1, 15) AS BIGINT) AS DOUBLE) / 1152921504606846976.0)) AS u
  FROM base
), weighted AS (
  SELECT source, x, b, {w_case} AS w FROM expanded
), means AS (
  SELECT source, b,
         CAST(SUM(w * x) AS DOUBLE) / nullif(CAST(SUM(w) AS DOUBLE), 0.0) AS m
  FROM weighted GROUP BY 1, 2
), ci AS (
  SELECT source,
         ROUND(quantile_cont(m, 0.025), 6) AS ci_lo,
         ROUND(quantile_cont(m, 0.975), 6) AS ci_hi
  FROM means GROUP BY 1
), stats AS (
  SELECT source, COUNT(*) AS n_docs,
         ROUND(CAST(SUM(x) AS DOUBLE) / COUNT(*), 6) AS mean_tokens
  FROM base GROUP BY 1
)
SELECT s.source, s.n_docs, s.mean_tokens, c.ci_lo, c.ci_hi
FROM stats s JOIN ci c ON c.source = s.source
ORDER BY s.source
"""


BOOTSTRAP_CI_SQL = _bootstrap_sql()


# --- word2vec negative-sampling table ------------------------------------

NS_TABLE_SIZE = 1 << 20  # slot budget of the sampling table (word2vec's 1e8
# scaled to the demo corpus; a constant — slots per token derive from it)
NS_POWER_NUM, NS_POWER_DEN = 3, 4  # the unigram^(3/4) smoothing exponent


def negative_sampling_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The word2vec negative-sampling distribution (Mikolov et al.
    2013 §2.2): token probability ∝ count^(3/4) — the smoothing that
    upweights the tail so frequent words don't monopolize negatives —
    materialized as the SLOT TABLE the original implementation builds
    (n_slots out of NS_TABLE_SIZE per token): the sampling plan a
    contrastive/embedding trainer ships to its workers.

    Exactness without transcendentals: count^(3/4) is computed as
    sqrt(sqrt(c·c·c)) — IEEE sqrt is CORRECTLY ROUNDED (unlike
    exp/ln/pow), so both engines produce the bit-identical double from
    the same integer count, no 9dp crutch needed. The smoothed weights
    round at 9dp into DECIMAL so the normalizing total is an exact
    sum (order-free); probabilities and slot counts are then single
    correctly-rounded divides off exact operands.

    Scale shape: ONE corpus tokenize+count shuffle builds the vocab
    frame; everything after is vocab-bounded (the word-TYPE table
    working-set argument of `text._word_types`). floor() slot allocation under-fills the
    table by < |vocab| slots — the standard remainder the original
    table build also leaves; a trainer tops up from the head or
    ignores it (documented convention, deterministic on both
    engines). Output ordered (cnt desc, token asc).
    """
    docs = load_table(spark, sf_dir, "documents")

    vocab = (
        docs.select(F.explode(fields(F.lower(F.col("text")))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    c = F.col("cnt").cast("double")
    sm = F.round(F.sqrt(F.sqrt(c * c * c)), 9).cast("decimal(28,9)")
    smoothed = vocab.select("token", "cnt", sm.alias("sm"))
    tot = smoothed.agg(F.sum("sm").alias("tot"))
    return (
        smoothed.crossJoin(F.broadcast(tot))
        .select(
            "token",
            "cnt",
            F.round(F.col("sm").cast("double"), 6).alias("smoothed"),
            F.round(
                F.col("sm").cast("double") / F.col("tot").cast("double"), 6
            ).alias("prob"),
            F.floor(
                F.col("sm").cast("double")
                * float(NS_TABLE_SIZE)
                / F.col("tot").cast("double")
            )
            .cast("bigint")
            .alias("n_slots"),
        )
        .orderBy(F.desc("cnt"), F.asc("token"))
    )


NEGATIVE_SAMPLING_SQL = rf"""
WITH vocab AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
    SELECT unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '')) AS token
    FROM documents
  ) GROUP BY token
), smoothed AS (
  SELECT token, cnt,
         CAST(ROUND(sqrt(sqrt(CAST(cnt AS DOUBLE) * cnt * cnt)), 9) AS DECIMAL(28,9)) AS sm
  FROM vocab
), tot AS (
  SELECT SUM(sm) AS tot FROM smoothed
)
SELECT token, cnt,
       ROUND(CAST(sm AS DOUBLE), 6) AS smoothed,
       ROUND(CAST(sm AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS prob,
       CAST(FLOOR(CAST(sm AS DOUBLE) * {float(NS_TABLE_SIZE)!r} / CAST(tot AS DOUBLE)) AS BIGINT) AS n_slots
FROM smoothed, tot
ORDER BY cnt DESC, token ASC
"""


# --- word2vec frequent-word subsampling ----------------------------------

SUBSAMPLE_T = 1e-4  # word2vec C-code default sample threshold
SUBSAMPLE_TOP = 50


def subsample_frequent_words(
    spark: SparkSession, sf_dir: str, top: int = SUBSAMPLE_TOP
) -> DataFrame:
    """The word2vec frequent-word SUBSAMPLING plan (Mikolov et al.
    2013 §2.3) — the other half of the sampling pair next to
    ``negative_sampling_table``: frequent tokens are randomly dropped
    from training windows with a frequency-dependent keep
    probability, which both speeds training and improves rare-word
    vectors. This materializes the per-token keep table a trainer
    ships with its corpus shards.

    Formula: the C implementation's keep probability
    p_keep = (sqrt(f/t) + 1) · t/f, clipped to 1, with f the corpus
    relative frequency and t = 1e-4 (the paper's prose states the
    simpler 1 − sqrt(t/f); the C form is what every released
    word2vec/fastText binary actually runs, so that is the spec
    here). Every step is a correctly-rounded IEEE op on exact
    operands — divide, sqrt, multiply-add, least — no transcendentals,
    so both engines hold the bit-identical double before the final
    6dp display round (the negative_sampling_table discipline).

    Scale shape: ONE tokenize+count shuffle to the vocab frame; the
    total rides a broadcast 1-row aggregate; output is the top-`top`
    tokens by count (TakeOrdered) with cnt, freq, p_keep, and the
    expected kept occurrences — the head of the table is where
    subsampling bites (p_keep is monotone non-increasing in f, pinned
    by a property test).
    """
    docs = load_table(spark, sf_dir, "documents")

    vocab = (
        docs.select(F.explode(fields(F.lower(F.col("text")))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    tot = vocab.agg(F.sum("cnt").alias("tot"))
    f = F.col("cnt").cast("double") / F.col("tot").cast("double")
    t = F.lit(SUBSAMPLE_T)
    p_keep = F.least(F.lit(1.0), (F.sqrt(f / t) + F.lit(1.0)) * t / f)
    return (
        vocab.crossJoin(F.broadcast(tot))
        .select(
            "token",
            "cnt",
            F.round(f, 6).alias("freq"),
            F.round(p_keep, 6).alias("p_keep"),
            F.round(F.col("cnt").cast("double") * p_keep, 6).alias("expected_kept"),
        )
        .orderBy(F.desc("cnt"), F.asc("token"))
        .limit(top)
    )


SUBSAMPLE_SQL = rf"""
WITH vocab AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
    SELECT unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '')) AS token
    FROM documents
  ) GROUP BY token
), tot AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS tot FROM vocab
)
SELECT token, cnt,
       ROUND(CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS freq,
       ROUND(LEAST(1.0, (sqrt((CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE)) / {SUBSAMPLE_T!r}) + 1.0)
                        * {SUBSAMPLE_T!r} / (CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE))), 6) AS p_keep,
       ROUND(CAST(cnt AS DOUBLE)
             * LEAST(1.0, (sqrt((CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE)) / {SUBSAMPLE_T!r}) + 1.0)
                          * {SUBSAMPLE_T!r} / (CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE))), 6) AS expected_kept
FROM vocab CROSS JOIN tot
ORDER BY cnt DESC, token ASC
LIMIT {SUBSAMPLE_TOP}
"""
