"""Corpus-hygiene operators a training-data pipeline needs beyond the
reference's surface: PII redaction, stratified sampling, and
domain-mix rebalancing.

All three are map-dominant or one-aggregation shapes — zero Python in
the row path (regexp built-ins, md5-hash determinism, window
functions), so they stay inside whole-stage codegen and scale as scans:

- ``pii_redaction``: regex scrub of emails / IPv4s / phone-shaped
  tokens. Patterns are restricted to the RE2 ∩ java.util.regex common
  subset (the same portability rule as functions/regexpfns.py) so the
  DuckDB oracle executes the identical patterns.
- ``stratified_sample``: deterministic per-stratum top-n by md5 rank —
  the reproducible replacement for RAND()-based sampling (stable under
  re-runs, backfills, and engine changes; same idiom as
  sampling.hash_split).
- ``domain_mix``: rebalance per-source token share by downsampling
  every source to the smallest source's token count with a
  deterministic hash-threshold keep rule. The per-source fraction
  table is tiny (|sources| rows) and broadcast back — no second
  shuffle of the big side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mito_spark.engine import load_table
from mito_spark.functions.strings import fields

# RE2 ∩ Java-regex portable patterns (no lookarounds, no backrefs).
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PHONE_RE = r"\b\d{3}-\d{3}-\d{4}\b"


def _with_synthetic_pii(docs: DataFrame) -> DataFrame:
    """The synthetic corpus contains no PII, which would make a
    redaction test vacuous. Append deterministic doc_id-derived PII so
    both engines redact identical, non-trivial content."""
    d = F.col("doc_id")
    pii = F.concat(
        F.lit(" contact user"),
        d.cast("string"),
        F.lit("@example.com ip 10.0."),
        (d % 256).cast("string"),
        F.lit("."),
        ((d * 7) % 256).cast("string"),
        F.lit(" tel 555-"),
        F.lpad((d % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad(((d * 3) % 10000).cast("string"), 4, "0"),
    )
    return docs.withColumn("text_pii", F.concat(F.col("text"), pii))


def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """queries() entry: scrub emails/IPv4s/phones from documents,
    report per-doc match counts and a hash of the redacted text (the
    hash proves the redacted bytes match across engines, not just the
    counts)."""
    docs = _with_synthetic_pii(load_table(spark, sf_dir, "documents"))
    t = F.col("text_pii")
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, PHONE_RE, "<PHONE>"), IPV4_RE, "<IP>"
        ),
        EMAIL_RE,
        "<EMAIL>",
    )
    return docs.select(
        "doc_id",
        F.regexp_count(t, F.lit(EMAIL_RE)).alias("n_emails"),
        F.regexp_count(t, F.lit(IPV4_RE)).alias("n_ips"),
        F.regexp_count(t, F.lit(PHONE_RE)).alias("n_phones"),
        F.length(redacted).alias("redacted_len"),
        F.md5(redacted).alias("redacted_md5"),
    )


PII_SQL = rf"""
WITH pii AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com ip 10.0.' || CAST(doc_id % 256 AS VARCHAR)
              || '.' || CAST((doc_id * 7) % 256 AS VARCHAR)
              || ' tel 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
              || '-' || lpad(CAST((doc_id * 3) % 10000 AS VARCHAR), 4, '0') AS t
  FROM documents
), red AS (
  SELECT doc_id, t,
         regexp_replace(
           regexp_replace(
             regexp_replace(t, '{PHONE_RE}', '<PHONE>', 'g'),
             '{IPV4_RE}', '<IP>', 'g'),
           '{EMAIL_RE}', '<EMAIL>', 'g') AS r
  FROM pii
)
SELECT doc_id,
       len(regexp_extract_all(t, '{EMAIL_RE}')) AS n_emails,
       len(regexp_extract_all(t, '{IPV4_RE}')) AS n_ips,
       len(regexp_extract_all(t, '{PHONE_RE}')) AS n_phones,
       length(r) AS redacted_len,
       md5(r) AS redacted_md5
FROM red
"""


STRAT_PER_STRATUM = 20
STRAT_SALT = "strat:v1"


def stratified_sample(
    spark: SparkSession,
    sf_dir: str,
    per_stratum: int = STRAT_PER_STRATUM,
    salt: str = STRAT_SALT,
) -> DataFrame:
    """queries() entry: deterministic n-per-stratum sample of
    documents by source. Rank inside each stratum is the md5 of a
    salted doc_id (ties impossible — the hash is of a unique key), so
    the sample is stable across runs and engines. One shuffle on the
    stratum key; no RAND()."""
    docs = load_table(spark, sf_dir, "documents")
    rk = F.md5(F.concat(F.lit(salt + ":"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("source").orderBy(rk)
    return (
        docs.select("source", "doc_id", rk.alias("rk"))
        .withColumn("rank_in_stratum", F.row_number().over(w))
        .where(F.col("rank_in_stratum") <= per_stratum)
        .select("source", "doc_id", "rank_in_stratum")
    )


STRATIFIED_SQL = f"""
WITH ranked AS (
  SELECT source, doc_id,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY md5('{STRAT_SALT}:' || CAST(doc_id AS VARCHAR))
         ) AS rank_in_stratum
  FROM documents
)
SELECT source, doc_id, rank_in_stratum
FROM ranked WHERE rank_in_stratum <= {STRAT_PER_STRATUM}
"""


MIX_SALT = "mix:v1"


def domain_mix(spark: SparkSession, sf_dir: str, salt: str = MIX_SALT) -> DataFrame:
    """queries() entry: rebalance the corpus so every source
    contributes ~equal tokens — downsample each source to the smallest
    source's token count via a deterministic md5-threshold keep rule.

    Plan shape: one groupBy(source) over the corpus for token totals
    (|sources| rows), a windowed global min over that tiny aggregate,
    then the keep-fraction table joins BACK as a broadcast — the big
    side is touched twice but shuffled zero extra times. Output is the
    per-source rebalance manifest (before/after tokens, docs kept)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.size(fields(F.lower(F.col("text"))))
    with_toks = docs.select("source", "doc_id", toks.alias("n_tokens"))
    totals = with_toks.groupBy("source").agg(F.sum("n_tokens").alias("src_tokens"))
    # try_divide: a zero-token source (degenerate corpus) must yield a
    # NULL keep_frac (keeps nothing), not an ANSI task failure
    fracs = totals.withColumn(
        "keep_frac",
        F.try_divide(
            F.min("src_tokens").over(Window.partitionBy()), F.col("src_tokens")
        ),
    )
    u = F.conv(
        F.substring(F.md5(F.concat(F.lit(salt + ":"), F.col("doc_id").cast("string"))), 1, 15),
        16,
        10,
    ).cast("double") / float(1 << 60)
    kept = (
        with_toks.join(F.broadcast(fracs), "source")
        .where(u < F.col("keep_frac"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("docs_kept"),
            F.sum("n_tokens").alias("tokens_kept"),
        )
    )
    return (
        fracs.join(kept, "source", "left")
        .select(
            "source",
            "src_tokens",
            F.round("keep_frac", 6).alias("keep_frac"),
            F.coalesce("docs_kept", F.lit(0)).alias("docs_kept"),
            F.coalesce("tokens_kept", F.lit(0)).alias("tokens_kept"),
        )
        .orderBy("source")
    )


DOMAIN_MIX_SQL = rf"""
WITH t AS (
  SELECT source, doc_id,
         len(list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '')) AS n_tokens
  FROM documents
), totals AS (
  SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS src_tokens FROM t GROUP BY source
), fracs AS (
  SELECT source, src_tokens,
         CAST(MIN(src_tokens) OVER () AS DOUBLE) / src_tokens AS keep_frac
  FROM totals
), kept AS (
  SELECT t.source, COUNT(*) AS docs_kept, CAST(SUM(t.n_tokens) AS BIGINT) AS tokens_kept
  FROM t JOIN fracs USING (source)
  WHERE CAST('0x' || substr(md5('{MIX_SALT}:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
          / 1152921504606846976.0 < keep_frac
  GROUP BY t.source
)
SELECT f.source, f.src_tokens, ROUND(f.keep_frac, 6) AS keep_frac,
       COALESCE(k.docs_kept, 0) AS docs_kept,
       COALESCE(k.tokens_kept, 0) AS tokens_kept
FROM fracs f LEFT JOIN kept k USING (source)
ORDER BY f.source
"""


MIX_T_ALPHA = 0.5
MIX_T_SALT = "mixT:v1"


def domain_mix_temperature(
    spark: SparkSession,
    sf_dir: str,
    alpha: float = MIX_T_ALPHA,
    salt: str = MIX_T_SALT,
) -> DataFrame:
    """Temperature-flattened domain mixing — the standard LLM
    data-mixing rule: target share of source i ∝ share_i^alpha
    (alpha=1 keeps natural proportions, alpha→0 approaches uniform;
    0.5 is the multilingual-sampling convention). The realized-token
    budget is set by the binding source (the one whose natural mass
    runs out first at the target ratios), so every keep_frac ≤ 1 and
    at least one source keeps everything — no oversampling.

    Same plan shape as domain_mix: one corpus aggregate (|sources|
    rows), window math on that tiny table, deterministic md5-threshold
    keep, broadcast back. Output: per-source manifest (natural tokens,
    target share, keep fraction, kept tokens)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.size(fields(F.lower(F.col("text"))))
    with_toks = docs.select("source", "doc_id", toks.alias("n_tokens"))
    totals = with_toks.groupBy("source").agg(F.sum("n_tokens").alias("src_tokens"))
    w = Window.partitionBy()
    # try_divide throughout: a zero-token source has _p = 0 and would
    # divide by zero three ways under ANSI; NULL shares/fracs keep
    # nothing and drop out of the min (error-as-value)
    powed = totals.withColumn(
        "_p", F.pow(F.col("src_tokens").cast("double"), F.lit(alpha))
    ).withColumn("target_share", F.try_divide(F.col("_p"), F.sum("_p").over(w)))
    # budget B s.t. max_i(B * share_i / tokens_i) == 1
    budget = F.min(
        F.try_divide(F.col("src_tokens"), F.col("target_share"))
    ).over(w)
    fracs = powed.withColumn(
        "keep_frac",
        F.try_divide(budget * F.col("target_share"), F.col("src_tokens")),
    )
    u = F.conv(
        F.substring(F.md5(F.concat(F.lit(salt + ":"), F.col("doc_id").cast("string"))), 1, 15),
        16,
        10,
    ).cast("double") / float(1 << 60)
    kept = (
        with_toks.join(F.broadcast(fracs.select("source", "keep_frac")), "source")
        .where(u < F.col("keep_frac"))
        .groupBy("source")
        .agg(F.sum("n_tokens").alias("tokens_kept"))
    )
    return (
        fracs.join(kept, "source", "left")
        .select(
            "source",
            "src_tokens",
            F.round("target_share", 6).alias("target_share"),
            F.round("keep_frac", 6).alias("keep_frac"),
            F.coalesce("tokens_kept", F.lit(0)).alias("tokens_kept"),
        )
        .orderBy("source")
    )


DOMAIN_MIX_T_SQL = rf"""
WITH t AS (
  SELECT source, doc_id,
         len(list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '')) AS n_tokens
  FROM documents
), totals AS (
  SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS src_tokens FROM t GROUP BY source
), powed AS (
  SELECT source, src_tokens,
         pow(CAST(src_tokens AS DOUBLE), {MIX_T_ALPHA}) / SUM(pow(CAST(src_tokens AS DOUBLE), {MIX_T_ALPHA})) OVER () AS target_share
  FROM totals
), fracs AS (
  SELECT source, src_tokens, target_share,
         MIN(src_tokens / target_share) OVER () * target_share / src_tokens AS keep_frac
  FROM powed
), kept AS (
  SELECT t.source, CAST(SUM(t.n_tokens) AS BIGINT) AS tokens_kept
  FROM t JOIN fracs USING (source)
  WHERE CAST('0x' || substr(md5('{MIX_T_SALT}:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
          / 1152921504606846976.0 < keep_frac
  GROUP BY t.source
)
SELECT f.source, f.src_tokens,
       ROUND(f.target_share, 6) AS target_share,
       ROUND(f.keep_frac, 6) AS keep_frac,
       COALESCE(k.tokens_kept, 0) AS tokens_kept
FROM fracs f LEFT JOIN kept k USING (source)
ORDER BY f.source
"""


# --- mixing-epoch plan (the upsampling complement) ----------------------

EPOCH_BUDGET_FACTOR = 2.0  # train-token budget as a multiple of the corpus
EPOCH_CAP = 4.0  # max repeats per source before quality degrades
# (the 4-epoch convention from repeated-data studies — past ~4 epochs
# repeated tokens stop helping; the flag column marks sources the
# target mixture would over-repeat)


def domain_epoch_plan(
    spark: SparkSession,
    sf_dir: str,
    alpha: float = MIX_T_ALPHA,
    budget_factor: float = EPOCH_BUDGET_FACTOR,
    epoch_cap: float = EPOCH_CAP,
) -> DataFrame:
    """Per-source EPOCH plan for a fixed training-token budget — the
    UPSAMPLING complement of ``domain_mix_temperature`` (which
    downsamples to the binding source): target share ∝ tokens^alpha,
    allocated_i = budget·share_i, epochs_i = allocated_i /
    available_i — the published data-mixture table (GPT-3 Table 2.2 /
    LLaMA Table 1 report exactly these epochs columns). Sources whose
    epochs exceed ``epoch_cap`` are flagged and capped (repeating
    data past ~4 epochs stops helping); realized_tokens re-reports
    the post-cap allocation so the shortfall is visible rather than
    silently re-spread.

    Scale shape: ONE corpus aggregate to |sources| rows, then pure
    window math on that tiny frame — same posture as the temperature
    op; nothing here grows with the corpus. Parity: pow/shares mirror
    the temperature op's established expressions; epochs round 6dp;
    token columns integer-floored identically.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.size(fields(F.lower(F.col("text"))))
    totals = (
        docs.select("source", toks.alias("n_tokens"))
        .groupBy("source")
        .agg(F.sum("n_tokens").alias("src_tokens"))
    )
    w = Window.partitionBy()
    powed = totals.withColumn(
        "_p", F.pow(F.col("src_tokens").cast("double"), F.lit(alpha))
    ).withColumn("target_share", F.try_divide(F.col("_p"), F.sum("_p").over(w)))
    budget = F.sum("src_tokens").over(w).cast("double") * F.lit(float(budget_factor))
    alloc = budget * F.col("target_share")
    epochs = F.try_divide(alloc, F.col("src_tokens").cast("double"))
    eff = F.least(epochs, F.lit(float(epoch_cap)))
    return (
        powed.select(
            "source",
            "src_tokens",
            F.round("target_share", 6).alias("target_share"),
            F.floor(alloc).cast("bigint").alias("allocated_tokens"),
            F.round(epochs, 6).alias("epochs"),
            (epochs > F.lit(float(epoch_cap))).alias("capped"),
            F.floor(eff * F.col("src_tokens").cast("double"))
            .cast("bigint")
            .alias("realized_tokens"),
        )
        .orderBy("source")
    )


DOMAIN_EPOCH_SQL = rf"""
WITH t AS (
  SELECT source,
         len(list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '')) AS n_tokens
  FROM documents
), totals AS (
  SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS src_tokens FROM t GROUP BY source
), powed AS (
  SELECT source, src_tokens,
         pow(CAST(src_tokens AS DOUBLE), {MIX_T_ALPHA})
           / SUM(pow(CAST(src_tokens AS DOUBLE), {MIX_T_ALPHA})) OVER () AS target_share,
         CAST(SUM(src_tokens) OVER () AS DOUBLE) * CAST({EPOCH_BUDGET_FACTOR!r} AS DOUBLE) AS budget
  FROM totals
)
SELECT source, src_tokens,
       ROUND(target_share, 6) AS target_share,
       CAST(FLOOR(budget * target_share) AS BIGINT) AS allocated_tokens,
       ROUND(budget * target_share / CAST(src_tokens AS DOUBLE), 6) AS epochs,
       budget * target_share / CAST(src_tokens AS DOUBLE) > CAST({EPOCH_CAP!r} AS DOUBLE) AS capped,
       CAST(FLOOR(LEAST(budget * target_share / CAST(src_tokens AS DOUBLE), CAST({EPOCH_CAP!r} AS DOUBLE))
                  * CAST(src_tokens AS DOUBLE)) AS BIGINT) AS realized_tokens
FROM powed
ORDER BY source
"""
