"""Data Selection via Importance Resampling (DSIR) weights.

Re-expresses the DSIR recipe (Xie et al. 2023, arXiv:2302.03169) as a
Spark pipeline: fit two hashed bag-of-words unigram models — one on a
TARGET slice (here: lang = 'en', standing in for "looks like the
high-quality target distribution"), one on the RAW corpus — and score
every document with the log importance weight

    log w(x) = Σ_tokens [ log p_target(bucket(tok)) − log p_raw(bucket(tok)) ]

Documents whose token distribution resembles the target get high
weights; a pipeline then samples proportionally (deterministic top-m
here; the Gumbel-top-k randomization is a seeded-hash addition at
deploy time).

Scale shape: tokens hash into ``n_buckets`` feature buckets with the
engine-portable md5-derived hash, so the model is a FIXED-WIDTH table
regardless of vocabulary — it broadcasts onto the per-(doc, bucket)
counts. Two shuffles total (bucket counts, per-doc sum), no windows.
Cross-engine exactness follows the repo's decimal-sum convention:
per-bucket contributions are rounded to 9dp and summed as
DECIMAL(28,9) — order-free — then the total is cast back to double.

Reference parity note: the reference (elastic/mito) has no data-
selection tier; north-star surface like the rest of the LLM-pipeline
operators (BASELINE.json).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mito_spark.engine import load_table
from mito_spark.functions.strings import fields
from mito_spark.operators.dedup import hash60

N_BUCKETS = 512


def dsir_importance_weights(
    spark: SparkSession,
    sf_dir: str,
    target_lang: str = "en",
    n_buckets: int = N_BUCKETS,
) -> DataFrame:
    """Per-document DSIR log importance weight. Output: (doc_id, lang,
    n_tokens, log_weight) — log_weight > 0 means the hashed-unigram
    model finds the doc more target-like than corpus-average."""
    docs = load_table(spark, sf_dir, "documents")
    terms = docs.select(
        "doc_id",
        "lang",
        F.explode(fields(F.lower(F.col("text")))).alias("tok"),
    ).withColumn("bucket", hash60(F.col("tok")) % n_buckets)
    raw_ct = terms.groupBy("bucket").agg(F.count(F.lit(1)).alias("cr"))
    tgt_ct = (
        terms.where(F.col("lang") == target_lang)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    totals = raw_ct.agg(F.sum("cr").alias("nr")).crossJoin(
        tgt_ct.agg(F.sum("ct").alias("nt"))
    )
    # every observed bucket appears in raw_ct; absent target buckets
    # smooth to ct=0 (add-1). llr per bucket in double, then the
    # per-doc contribution n·llr is 9dp-rounded into exact decimals.
    llr_tbl = (
        raw_ct.join(tgt_ct, "bucket", "left")
        .select("bucket", "cr", F.coalesce("ct", F.lit(0)).alias("ct"))
        .crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            (
                F.log((F.col("ct") + 1).cast("double") / (F.col("nt") + n_buckets).cast("double"))
                - F.log((F.col("cr") + 1).cast("double") / (F.col("nr") + n_buckets).cast("double"))
            ).alias("llr"),
        )
    )
    per_db = terms.groupBy("doc_id", "lang", "bucket").agg(F.count(F.lit(1)).alias("n"))
    return (
        per_db.join(F.broadcast(llr_tbl), "bucket")
        .select(
            "doc_id",
            "lang",
            "n",
            F.round(F.col("n") * F.col("llr"), 9).cast("decimal(28,9)").alias("contrib"),
        )
        .groupBy("doc_id", "lang")
        .agg(F.sum("n").alias("n_tokens"), F.sum("contrib").alias("w"))
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            F.round(F.col("w").cast("double"), 6).alias("log_weight"),
        )
    )


def _dsir_sql(target_lang: str = "en", n_buckets: int = N_BUCKETS) -> str:
    return rf"""
WITH terms AS (
  SELECT doc_id, lang,
         CAST('0x' || substr(md5(unnest(list_filter(
           string_split_regex(trim(lower(text)), '\s+'), x -> x <> ''))), 1, 15) AS BIGINT)
           % {n_buckets} AS bucket
  FROM documents
), raw_ct AS (
  SELECT bucket, COUNT(*) AS cr FROM terms GROUP BY bucket
), tgt_ct AS (
  SELECT bucket, COUNT(*) AS ct FROM terms WHERE lang = '{target_lang}' GROUP BY bucket
), totals AS (
  SELECT (SELECT CAST(SUM(cr) AS BIGINT) FROM raw_ct) AS nr,
         (SELECT CAST(SUM(ct) AS BIGINT) FROM tgt_ct) AS nt
), llr_tbl AS (
  SELECT r.bucket,
         ln(CAST(COALESCE(t.ct, 0) + 1 AS DOUBLE) / (nt + {n_buckets}))
           - ln(CAST(r.cr + 1 AS DOUBLE) / (nr + {n_buckets})) AS llr
  FROM raw_ct r LEFT JOIN tgt_ct t ON r.bucket = t.bucket CROSS JOIN totals
), per_db AS (
  SELECT doc_id, lang, bucket, COUNT(*) AS n FROM terms GROUP BY doc_id, lang, bucket
)
SELECT doc_id, lang,
       CAST(SUM(n) AS BIGINT) AS n_tokens,
       ROUND(CAST(SUM(CAST(ROUND(n * llr, 9) AS DECIMAL(28,9))) AS DOUBLE), 6) AS log_weight
FROM per_db JOIN llr_tbl USING (bucket)
GROUP BY doc_id, lang
"""


DSIR_SQL = _dsir_sql()


# 2^60 + 1: hash60 yields [0, 2^60), so (h+1)/DENOM is uniform on
# (0, 1) exclusive at both ends — safe for the double log-log below
_GUMBEL_DENOM = (1 << 60) + 1


def dsir_resample(
    spark: SparkSession,
    sf_dir: str,
    m: int = 100,
    seed: str = "r5",
    target_lang: str = "en",
    n_buckets: int = N_BUCKETS,
) -> DataFrame:
    """Importance RESAMPLING on the DSIR weights: the Gumbel-top-k
    trick draws m documents without replacement with probability
    ∝ softmax(log w) by ranking log w(x) + Gumbel noise. The noise is
    SEEDED AND ENGINE-PORTABLE — u = (hash60(seed:doc_id)+1) / (2^60+1)
    uniform on (0,1), g = −ln(−ln u) — so the "random" sample is
    reproducible bit-for-bit across engines and runs (the repo-wide
    determinism convention; swap the seed to draw a fresh sample).

    Scale shape: the noise is a map-side expression; selection is a
    global top-m = TakeOrdered (never a full sort) of key-only rows."""
    w = dsir_importance_weights(spark, sf_dir, target_lang=target_lang, n_buckets=n_buckets)
    u = (
        hash60(F.concat(F.lit(seed + ":"), F.col("doc_id").cast("string"))) + 1
    ).cast("double") / F.lit(float(_GUMBEL_DENOM))
    gumbel = -F.log(-F.log(u))
    return (
        w.withColumn("sel_key", F.round(F.col("log_weight") + gumbel, 6))
        .orderBy(F.desc("sel_key"), F.asc("doc_id"))
        .limit(m)
        .select("doc_id", "lang", "log_weight", "sel_key")
    )


def _dsir_resample_sql(
    m: int = 100, seed: str = "r5", target_lang: str = "en", n_buckets: int = N_BUCKETS
) -> str:
    base = _dsir_sql(target_lang, n_buckets)
    return rf"""
WITH dsir AS ({base})
SELECT doc_id, lang, log_weight,
       ROUND(log_weight + -ln(-ln(
         CAST(CAST('0x' || substr(md5('{seed}:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) + 1 AS DOUBLE)
           / {float(_GUMBEL_DENOM)!r})), 6) AS sel_key
FROM dsir
ORDER BY sel_key DESC, doc_id ASC
LIMIT {m}
"""


DSIR_RESAMPLE_SQL = _dsir_resample_sql()
