"""Exact-substring span dedup: find w-token spans duplicated across
documents (the sliding-window/hash re-expression of suffix-array
exact-substring dedup from "Deduplicating Training Data Makes Language
Models Better", arXiv:2107.06499).

Suffix arrays don't distribute; the Spark-native shape is: hash every
w-token sliding window map-side (one explode), group by span hash to
find hashes seen in >= 2 distinct documents, then join positions back
to score each document by how much of it is duplicated text. Every
stage is keyed on the span hash or doc_id — two shuffles on the hash
(groupBy + join, Catalyst reuses the exchange) and one on doc_id.

At 100 TB: window hashing is map-side codegen (no Python); the hash
join is equi-join on md5 keys, uniformly distributed except for
boilerplate mega-spans (site headers, license blocks) which are
exactly the hot keys AQE skew-join splits; the per-doc rollup shuffles
one row per duplicated position, not per window. The output is the
span-removal manifest a rewrite pass consumes.

Reference anchor: the reference's dedup surface is fingerprint-based
(mito cel fingerprinting over string fields); this extends it with the
span-level exactness its tests motivate but its single-node engine
cannot afford.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mito_spark.engine import load_table, spread
from mito_spark.functions.strings import fields

WINDOW = 8  # tokens per span; 2107.06499 uses 50 BPE tokens at web scale


def _window_hashes(docs: DataFrame, w: int, keep_toks: bool) -> DataFrame:
    """(doc_id[, toks], hs): md5 of every w-token sliding window,
    staged per the interpreted-HOF rule and localCheckpointed — the
    single definition shared by the profile and rewrite passes.

    Guard on short docs is correctness, not style: sequence(1,
    size-w+1) with a negative stop generates a DESCENDING sequence in
    Spark."""
    toks = docs.select(
        "doc_id", fields(F.lower(F.col("text"))).alias("toks")
    )
    cols = ["doc_id"] + (["toks"] if keep_toks else [])
    return toks.select(
        *cols,
        F.when(
            F.size("toks") >= w,
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - w + 1),
                lambda i: F.md5(
                    F.encode(
                        F.concat_ws(
                            " ", *[F.element_at(F.col("toks"), i + j) for j in range(w)]
                        ),
                        "UTF-8",
                    )
                ),
            ),
        )
        .otherwise(F.array().cast("array<string>"))
        .alias("hs"),
    ).localCheckpoint()  # hs feeds multiple consumers in both passes


def exact_substring_spans(
    spark: SparkSession, sf_dir: str, w: int = WINDOW
) -> DataFrame:
    """Per-document duplicated-span profile: (doc_id, n_windows,
    dup_windows, dup_fraction) where dup_windows counts sliding
    w-token windows whose md5 also appears in another document.

    The window hashes are built inside one ``transform`` over a staged
    token column (HOF stays JVM-side; the Generate sits in its own
    projection per the repo's interpreted-HOF rule), so no window
    string is ever materialized twice.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    staged = _window_hashes(docs, w, keep_toks=False)
    wins = staged.select("doc_id", F.explode("hs").alias("h"))
    dup = (
        wins.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("h")
    )
    per_doc_dup = (
        wins.join(dup, "h")  # same key as the groupBy: exchange reuse
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("dup_windows"))
    )
    counts = staged.select(
        "doc_id", F.size("hs").cast("bigint").alias("n_windows")
    )
    return (
        counts.join(per_doc_dup, "doc_id", "left")
        .select(
            "doc_id",
            "n_windows",
            F.coalesce(F.col("dup_windows"), F.lit(0)).cast("bigint").alias("dup_windows"),
            F.round(
                F.try_divide(
                    F.coalesce(F.col("dup_windows"), F.lit(0)).cast("double"),
                    F.col("n_windows").cast("double"),
                ),
                6,
            ).alias("dup_fraction"),
        )
    )


SPANS_SQL = rf"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '') AS t
  FROM documents
), wins AS (
  SELECT doc_id, md5(array_to_string(t[i:i+{WINDOW - 1}], ' ')) AS h
  FROM toks, LATERAL (SELECT unnest(range(1, len(t) - {WINDOW} + 2)) AS i) r
), dup AS (
  SELECT h FROM wins GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
), pd AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dup_windows
  FROM wins WHERE h IN (SELECT h FROM dup) GROUP BY doc_id
), counts AS (
  SELECT doc_id, CAST(greatest(len(t) - {WINDOW} + 1, 0) AS BIGINT) AS n_windows
  FROM toks
)
SELECT counts.doc_id, n_windows,
       COALESCE(dup_windows, 0) AS dup_windows,
       CASE WHEN n_windows = 0 THEN NULL
            ELSE ROUND(CAST(COALESCE(dup_windows, 0) AS DOUBLE) / n_windows, 6)
       END AS dup_fraction
FROM counts LEFT JOIN pd ON counts.doc_id = pd.doc_id
"""


def span_rewrite(
    spark: SparkSession, sf_dir: str, w: int = WINDOW
) -> DataFrame:
    """The removal pass over :func:`exact_substring_spans`: rewrite
    each document with every duplicated w-token span cut out EXCEPT its
    globally-first occurrence (min (doc_id, position) — Lee et al.'s
    keep-one-copy rule, arXiv:2107.06499 §3), token-level.

    Pipeline shape: window positions + dup-hash set as before; the
    canonical occurrence per hash is one more groupBy on the SAME hash
    key (exchange reuse again); the per-doc rewrite is a pure HOF pass
    — removal starts collected per doc (bounded by the doc's own
    window count), token mask evaluated JVM-side, no Python anywhere.
    Output: (doc_id, n_tokens, n_removed, clean_text).

    At 100 TB the removal-starts array is per-document state (KBs),
    never global; everything shuffles on span hash or doc_id exactly
    like the profile pass.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    staged = _window_hashes(docs, w, keep_toks=True)
    wins = staged.select(
        "doc_id", F.posexplode("hs").alias("pos0", "h")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "h")
    dup = (
        wins.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("h")
    )
    dup_wins = wins.join(dup, "h")
    canon = dup_wins.groupBy("h").agg(
        F.min(F.struct("doc_id", "pos")).alias("keep")
    )
    removals = (
        dup_wins.join(canon, "h")
        .where(
            (F.col("doc_id") != F.col("keep.doc_id"))
            | (F.col("pos") != F.col("keep.pos"))
        )
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_set("pos")).alias("starts"))
    )
    rewritten = staged.join(removals, "doc_id", "left").select(
        "doc_id",
        "toks",
        F.coalesce(F.col("starts"), F.array().cast("array<int>")).alias("starts"),
    )
    # sequence guard mirrors _window_hashes: sequence(1, 0) would be
    # the DESCENDING [1, 0] for a zero-token doc and element_at would
    # task-fail — error-as-value demands the empty array instead
    idx = F.when(
        F.size("toks") > 0, F.sequence(F.lit(1), F.size("toks"))
    ).otherwise(F.array().cast("array<int>"))
    kept = F.filter(
        F.transform(
            idx,
            lambda i: F.when(
                ~F.exists(
                    F.col("starts"),
                    lambda s: (i >= s) & (i < s + w),
                ),
                F.element_at(F.col("toks"), i),
            ),
        ),
        lambda t: t.isNotNull(),
    )
    return rewritten.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("n_tokens"),
        kept.alias("kept"),
    ).select(
        "doc_id",
        "n_tokens",
        (F.col("n_tokens") - F.size("kept")).cast("bigint").alias("n_removed"),
        F.array_join("kept", " ").alias("clean_text"),
    )


SPAN_REWRITE_SQL = rf"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '') AS t
  FROM documents
), wins AS (
  SELECT doc_id, i AS pos, md5(array_to_string(t[i:i+{WINDOW - 1}], ' ')) AS h
  FROM toks, LATERAL (SELECT unnest(range(1, len(t) - {WINDOW} + 2)) AS i) r
), dup AS (
  SELECT h FROM wins GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
), dup_wins AS (
  SELECT wins.* FROM wins JOIN dup USING (h)
), canon AS (
  SELECT h, MIN({{'d': doc_id, 'p': pos}}) AS keep FROM dup_wins GROUP BY h
), removals AS (
  SELECT doc_id, list_sort(list(DISTINCT pos)) AS starts
  FROM dup_wins JOIN canon USING (h)
  WHERE doc_id <> canon.keep.d OR pos <> canon.keep.p
  GROUP BY doc_id
), rw AS (
  SELECT toks.doc_id, t, COALESCE(starts, []) AS starts
  FROM toks LEFT JOIN removals ON toks.doc_id = removals.doc_id
), kept AS (
  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
         list_transform(
           list_filter(range(1, len(t) + 1),
                       i -> len(list_filter(starts, s -> i >= s AND i < s + {WINDOW})) = 0),
           i -> t[i]) AS k
  FROM rw
)
SELECT doc_id, n_tokens,
       CAST(n_tokens - len(k) AS BIGINT) AS n_removed,
       -- array_to_string([]) is NULL in DuckDB but '' in Spark's
       -- array_join; normalize to ''
       COALESCE(array_to_string(k, ' '), '') AS clean_text
FROM kept
"""


TOP_NGRAMS = 20
NGRAM_N = 3


def boilerplate_ngrams(
    spark: SparkSession, sf_dir: str, n: int = NGRAM_N, top: int = TOP_NGRAMS
) -> DataFrame:
    """Corpus-level boilerplate report: the ``top`` word n-grams by
    DOCUMENT frequency (share of docs containing them) — the
    human-readable ranking that drives boilerplate-strip rules
    (site headers, license blocks, nav text). Complements the
    pairwise span profile: spans say WHICH docs share runs; this says
    WHAT text is everywhere.

    One explode + one gram-keyed distinct-count + a TakeOrdered:
    shuffles on the gram (uniform except the boilerplate itself —
    exactly the hot keys AQE splits), and the result is `top` rows at
    any corpus size.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id", fields(F.lower(F.col("text"))).alias("toks")
    )
    grams_col = F.when(
        F.size("toks") >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - n + 1),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(F.col("toks"), i + j) for j in range(n)]
                ),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    # localCheckpoint BEFORE the explode: Generate re-evaluates its
    # input expression per emitted row when it inlines an interpreted
    # HOF (the winnow_dup_pairs lesson) — materializing the gram
    # arrays first keeps the explode a column lookup (7.4 s -> ~1 s
    # at sf0.1)
    grams = (
        toks.select("doc_id", grams_col.alias("grams"))
        .localCheckpoint()
        .select("doc_id", F.explode("grams").alias("gram"))
    )
    n_docs = docs.select(F.count(F.lit(1)).alias("n_docs"))
    return (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("df"))  # grams distinct per doc: count = doc freq
        .orderBy(F.desc("df"), F.asc("gram"))
        .limit(top)
        .crossJoin(F.broadcast(n_docs))
        .select(
            "gram",
            "df",
            F.round(
                F.col("df").cast("double") / F.col("n_docs").cast("double"), 6
            ).alias("doc_share"),
        )
    )


def _boilerplate_sql(n: int = NGRAM_N, top: int = TOP_NGRAMS) -> str:
    # generated from the SAME (n, top) defaults the Python operator
    # takes — no hardcoded gram-size literals to drift (ADVICE r5);
    # DuckDB's t[i:i+m] slice is inclusive, so m = n - 1.
    return rf"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '') AS t
  FROM documents
), grams AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           range(1, greatest(len(t) - {n} + 1, 0) + 1),
           i -> array_to_string(t[i:i+{n - 1}], ' ')))) AS gram
  FROM toks
), df AS (
  SELECT gram, COUNT(*) AS df FROM grams GROUP BY gram
  ORDER BY df DESC, gram LIMIT {top}
)
SELECT gram, df,
       ROUND(CAST(df AS DOUBLE) / (SELECT COUNT(*) FROM documents), 6) AS doc_share
FROM df
"""


BOILERPLATE_SQL = _boilerplate_sql()
