"""Corpus snapshot diffing — the bookkeeping step of an incremental
ingest: given two snapshots of the same corpus (yesterday's crawl and
today's), classify every document as added / removed / changed /
unchanged and roll the result up per source.

Why it's an engine operator and not a script: at 100 TB the diff IS
the expensive part — a full-outer join of two corpus-sized frames.
The design keeps that join cheap:

- content equality compares md5 CONTENT HASHES computed in the scan
  projection, so the shuffle carries (doc_id, source, hash, length) —
  constant width per row — never the document bodies;
- the join keys on doc_id with no skew (ids are unique), so AQE's
  plain hash join partitions evenly; snapshots stored bucketed by
  doc_id co-locate and the shuffle disappears entirely;
- everything downstream of the join is a map-side-combinable count
  rollup into a |status| × |source| frame.

``snapshot_diff(old, new)`` is the composable API; the registry entry
``corpus_snapshot_diff`` derives two deterministic simulated snapshots
from the documents table (5% removed, 10% edited-in-place via
truncation, 10% added — md5-bucketed, portable to the oracle) so the
gate hash-proves all four statuses.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from mito_spark.engine import load_table, spread
from mito_spark.functions.strings import fields
from mito_spark.operators.similarity import vectors

# Simulated-snapshot buckets (of 100): [0,5) removed in the new
# snapshot, [80,90) edited between snapshots, [90,100) newly added.
SNAP_REMOVED_LT = 5
SNAP_EDIT_FROM = 80
SNAP_ADDED_FROM = 90


def _snap_bucket(doc_id: Column) -> Column:
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("snap:v1:"), doc_id.cast("string"))), 1, 15
            ),
            16,
            10,
        ).cast("bigint")
        % 100
    )


def snapshot_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """Diff two (doc_id, source, text) snapshots into the per-source
    status rollup (status, source, n_docs, sum_chars_new). Hash-only
    shuffle; see module docstring for the scale shape."""
    o = old.select(
        "doc_id",
        F.col("source").alias("src_o"),
        F.md5("text").alias("h_o"),
    )
    n = new.select(
        "doc_id",
        F.col("source").alias("src_n"),
        F.md5("text").alias("h_n"),
        F.length("text").cast("bigint").alias("len_n"),
    )
    j = o.join(n, "doc_id", "full_outer")
    status = (
        F.when(F.col("h_n").isNull(), F.lit("removed"))
        .when(F.col("h_o").isNull(), F.lit("added"))
        .when(F.col("h_o") != F.col("h_n"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        j.select(
            status.alias("status"),
            F.coalesce(F.col("src_n"), F.col("src_o")).alias("source"),
            "len_n",
        )
        .groupBy("status", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.coalesce(F.sum("len_n"), F.lit(0)).alias("sum_chars_new"),
        )
        .orderBy("status", "source")
    )


def corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry wrapper: build the two simulated snapshots and diff
    them. The edit simulation truncates the last 7 chars (bounded at
    1) so 'changed' rows differ in content, not just metadata."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    base = docs.select(
        "doc_id", "source", "text", _snap_bucket(F.col("doc_id")).alias("bkt")
    )
    old = base.where(F.col("bkt") < SNAP_ADDED_FROM).select(
        "doc_id",
        "source",
        F.when(
            F.col("bkt") >= SNAP_EDIT_FROM,
            F.expr("substring(text, 1, greatest(length(text) - 7, 1))"),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    new = base.where(F.col("bkt") >= SNAP_REMOVED_LT).select(
        "doc_id", "source", "text"
    )
    return snapshot_diff(old, new)


CORPUS_SNAPSHOT_DIFF_SQL = f"""
WITH base AS (
  SELECT doc_id, source, text,
         CAST('0x' || substr(md5('snap:v1:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 AS bkt
  FROM documents
), old AS (
  SELECT doc_id, source,
         CASE WHEN bkt >= {SNAP_EDIT_FROM}
              THEN substr(text, 1, greatest(length(text) - 7, 1))
              ELSE text END AS text
  FROM base WHERE bkt < {SNAP_ADDED_FROM}
), new AS (
  SELECT doc_id, source, text FROM base WHERE bkt >= {SNAP_REMOVED_LT}
), j AS (
  SELECT coalesce(n.source, o.source) AS source,
         CASE WHEN n.doc_id IS NULL THEN 'removed'
              WHEN o.doc_id IS NULL THEN 'added'
              WHEN md5(o.text) <> md5(n.text) THEN 'changed'
              ELSE 'unchanged' END AS status,
         CASE WHEN n.doc_id IS NULL THEN NULL ELSE length(n.text) END AS len_n
  FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
)
SELECT status, source, COUNT(*) AS n_docs,
       CAST(coalesce(SUM(len_n), 0) AS BIGINT) AS sum_chars_new
FROM j GROUP BY 1, 2 ORDER BY 1, 2
"""


# Quality floor for the ingest gate — the same word-count weak signal
# the hashed quality classifier trains on (classify.QC_MIN_WORDS);
# duplicated as a local constant so the two modules stay decoupled.
INGEST_MIN_WORDS = 40


def ingest_delta_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED daily-ingest workflow, end to end under the hash
    gate: snapshot-delta extraction → incremental near-dup against the
    canon → quality floor → per-source acceptance manifest
    (source, n_batch, n_dup, n_low_quality, n_accepted).

    Composition of three audited pieces: the simulated-snapshot
    buckets (``corpus_snapshot_diff``), the shared new-vs-canon
    MinHash chain (``dedup.incremental_dedup_frames`` — one
    signature pass over batch ∪ canon, band join new×canon only), and
    the C4-style word-count floor. Batch = the added+changed docs
    (buckets ≥ SNAP_EDIT_FROM, CURRENT text); canon = the unchanged
    corpus. Changed docs' OLD versions are deliberately absent from
    the canon: an upsert ingest replaces them in place, so a changed
    doc must only be deduped against OTHER canon documents (keeping
    the old version would flag every in-place edit as a duplicate of
    its own past). Precedence: dup > low_quality > accepted — a
    near-dup is dropped before its quality is ever consulted, exactly
    the order a production pipeline bills its rejections.

    Scale shape: everything incremental_dedup costs (no new×new, no
    canon×canon), plus one scan-level word count and a
    |sources|-bounded conditional rollup. The oracle splices the SAME
    MinHash chain with the md5-bucket membership predicates
    (``dedup.incremental_chain_preds``), so the composition — not
    just the pieces — is hash-proven.
    """
    from mito_spark.operators.dedup import incremental_dedup_frames

    docs = spread(load_table(spark, sf_dir, "documents"))
    base = docs.select(
        "doc_id", "source", "text", _snap_bucket(F.col("doc_id")).alias("bkt")
    )
    canon = base.where(
        (F.col("bkt") >= SNAP_REMOVED_LT) & (F.col("bkt") < SNAP_EDIT_FROM)
    ).select("doc_id", "text")
    batch = base.where(F.col("bkt") >= SNAP_EDIT_FROM)
    flags = incremental_dedup_frames(batch.select("doc_id", "text"), canon)
    joined = batch.select(
        "doc_id",
        "source",
        F.size(fields(F.lower(F.col("text")))).alias("n_words"),
    ).join(flags.select("doc_id", "dup_of"), "doc_id", "left")
    cat = (
        F.when(F.col("dup_of").isNotNull(), F.lit("dup"))
        .when(F.col("n_words") < INGEST_MIN_WORDS, F.lit("low_quality"))
        .otherwise(F.lit("accepted"))
    )
    return (
        joined.select("source", cat.alias("cat"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_batch"),
            F.sum(F.when(F.col("cat") == "dup", 1).otherwise(0))
            .cast("bigint")
            .alias("n_dup"),
            F.sum(F.when(F.col("cat") == "low_quality", 1).otherwise(0))
            .cast("bigint")
            .alias("n_low_quality"),
            F.sum(F.when(F.col("cat") == "accepted", 1).otherwise(0))
            .cast("bigint")
            .alias("n_accepted"),
        )
        .orderBy("source")
    )


def _ingest_delta_sql() -> str:
    from mito_spark.operators.dedup import incremental_chain_preds

    bkt = (
        "CAST('0x' || substr(md5('snap:v1:' || CAST({a}.doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100"
    )
    chain = incremental_chain_preds(
        f"{bkt.format(a='n')} >= {SNAP_EDIT_FROM}",
        f"{bkt.format(a='o')} >= {SNAP_REMOVED_LT} AND {bkt.format(a='o')} < {SNAP_EDIT_FROM}",
    )
    return (
        chain
        + rf""", batch AS (
  SELECT doc_id, source,
         len(list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '')) AS n_words
  FROM documents
  WHERE CAST('0x' || substr(md5('snap:v1:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 >= {SNAP_EDIT_FROM}
), flagged AS (
  SELECT b.source,
         CASE WHEN f.dup_of IS NOT NULL THEN 'dup'
              WHEN b.n_words < {INGEST_MIN_WORDS} THEN 'low_quality'
              ELSE 'accepted' END AS cat
  FROM batch b
  LEFT JOIN (SELECT new_id, dup_of FROM best WHERE rk = 1) f ON b.doc_id = f.new_id
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_batch,
       CAST(COUNT(*) FILTER (WHERE cat = 'dup') AS BIGINT) AS n_dup,
       CAST(COUNT(*) FILTER (WHERE cat = 'low_quality') AS BIGINT) AS n_low_quality,
       CAST(COUNT(*) FILTER (WHERE cat = 'accepted') AS BIGINT) AS n_accepted
FROM flagged GROUP BY 1 ORDER BY 1
"""
    )


INGEST_DELTA_SQL = _ingest_delta_sql()


def embedding_snapshot_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding-centroid drift between two corpus
    snapshots — the vector-modality sibling of ``corpus_snapshot_diff``
    and the monitor a retrieval/clustering deployment watches after
    every ingest: if a label's centroid moved, its ANN cells, cluster
    assignments, and nearest-neighbor structure aged. Output one row
    per label: (label, n_old, n_new, l2_shift).

    Old snapshot = vectors in md5 buckets [0, SNAP_ADDED_FROM); new =
    buckets [SNAP_REMOVED_LT, 100) — the same membership simulation as
    the document diff, on the embeddings table. The drift signal at
    gate SF is pure membership churn (5% leave, 10% arrive); in
    production the frames would be yesterday's and today's embedding
    tables.

    Float discipline (the embedding_outlier_report recipe): per-vector
    per-dimension components round to 9dp and sum as DECIMAL(28,9)
    through ONE posexplode rollup keyed (snapshot, label, dim) — order
    free, partition-count invariant; the per-dim mean delta squares in
    DOUBLE with identical expression trees on both engines; the final
    l2 = sqrt(Σ_dim Δ²) sums the 9dp-rounded squared deltas as
    decimals before one sqrt. Everything past the explode is bounded
    by |labels| × dim.
    """
    emb = vectors(spark, sf_dir, "label").withColumn(
        "bkt",
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("snapemb:v1:"), F.col("vec_id").cast("string"))),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("bigint")
            % 100
        ),
    )
    tagged = emb.select(
        "label",
        "v",
        (F.col("bkt") < SNAP_ADDED_FROM).alias("in_old"),
        (F.col("bkt") >= SNAP_REMOVED_LT).alias("in_new"),
    ).where(F.col("in_old") | F.col("in_new"))
    comp = tagged.select(
        "label",
        "in_old",
        "in_new",
        F.posexplode("v").alias("dim", "x"),
    ).select(
        "label",
        "in_old",
        "in_new",
        "dim",
        F.round(F.col("x"), 9).cast("decimal(28,9)").alias("x9"),
    )

    def _side(flag: str, tag: str):
        return (
            comp.where(F.col(flag))
            .groupBy("label", "dim")
            .agg(
                F.sum("x9").alias(f"s_{tag}"),
                F.count(F.lit(1)).alias(f"n_{tag}"),
            )
        )

    old = _side("in_old", "o")
    new = _side("in_new", "n")
    per_dim = old.join(new, ["label", "dim"], "full_outer").select(
        "label",
        "dim",
        F.coalesce(F.col("n_o"), F.lit(0)).alias("n_o"),
        F.coalesce(F.col("n_n"), F.lit(0)).alias("n_n"),
        F.round(
            (
                F.coalesce(F.col("s_n").cast("double"), F.lit(0.0))
                / F.greatest(F.coalesce(F.col("n_n"), F.lit(0)), F.lit(1)).cast("double")
                - F.coalesce(F.col("s_o").cast("double"), F.lit(0.0))
                / F.greatest(F.coalesce(F.col("n_o"), F.lit(0)), F.lit(1)).cast("double")
            )
            * (
                F.coalesce(F.col("s_n").cast("double"), F.lit(0.0))
                / F.greatest(F.coalesce(F.col("n_n"), F.lit(0)), F.lit(1)).cast("double")
                - F.coalesce(F.col("s_o").cast("double"), F.lit(0.0))
                / F.greatest(F.coalesce(F.col("n_o"), F.lit(0)), F.lit(1)).cast("double")
            ),
            9,
        )
        .cast("decimal(28,9)")
        .alias("d2"),
    )
    return (
        per_dim.groupBy("label")
        .agg(
            (F.max("n_o")).alias("n_old"),
            (F.max("n_n")).alias("n_new"),
            F.sum("d2").alias("sd2"),
        )
        .select(
            "label",
            F.col("n_old").cast("bigint").alias("n_old"),
            F.col("n_new").cast("bigint").alias("n_new"),
            F.round(F.sqrt(F.col("sd2").cast("double")), 6).alias("l2_shift"),
        )
        .orderBy("label")
    )


EMBEDDING_SNAPSHOT_DRIFT_SQL = f"""
WITH emb AS (
  SELECT vec_id, label, embedding AS v,
         CAST('0x' || substr(md5('snapemb:v1:' || CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 AS bkt
  FROM embeddings
), tagged AS (
  SELECT label, v,
         bkt < {SNAP_ADDED_FROM} AS in_old,
         bkt >= {SNAP_REMOVED_LT} AS in_new
  FROM emb
  WHERE bkt < {SNAP_ADDED_FROM} OR bkt >= {SNAP_REMOVED_LT}
), comp AS (
  SELECT label, in_old, in_new,
         generate_subscripts(v, 1) - 1 AS dim,
         CAST(ROUND(CAST(unnest(v) AS DOUBLE), 9) AS DECIMAL(28,9)) AS x9
  FROM tagged
), old AS (
  SELECT label, dim, SUM(x9) AS s_o, COUNT(*) AS n_o
  FROM comp WHERE in_old GROUP BY 1, 2
), new AS (
  SELECT label, dim, SUM(x9) AS s_n, COUNT(*) AS n_n
  FROM comp WHERE in_new GROUP BY 1, 2
), per_dim AS (
  SELECT coalesce(o.label, n.label) AS label,
         coalesce(o.n_o, 0) AS n_o, coalesce(n.n_n, 0) AS n_n,
         CAST(ROUND(
           (coalesce(CAST(n.s_n AS DOUBLE), 0.0) / greatest(coalesce(n.n_n, 0), 1)
            - coalesce(CAST(o.s_o AS DOUBLE), 0.0) / greatest(coalesce(o.n_o, 0), 1))
           * (coalesce(CAST(n.s_n AS DOUBLE), 0.0) / greatest(coalesce(n.n_n, 0), 1)
              - coalesce(CAST(o.s_o AS DOUBLE), 0.0) / greatest(coalesce(o.n_o, 0), 1)),
         9) AS DECIMAL(28,9)) AS d2
  FROM old o FULL OUTER JOIN new n ON o.label = n.label AND o.dim = n.dim
)
SELECT label,
       CAST(MAX(n_o) AS BIGINT) AS n_old,
       CAST(MAX(n_n) AS BIGINT) AS n_new,
       ROUND(sqrt(CAST(SUM(d2) AS DOUBLE)), 6) AS l2_shift
FROM per_dim GROUP BY 1 ORDER BY 1
"""
