"""BM25 full-text ranking over the documents table — the retrieval
capability a corpus engine pairs with ANN (similarity.py): lexical
top-k alongside embedding top-k.

Scale shape (deliberately NOT the textbook inverted-index join): the
query is a handful of literal terms, so per-term tf is a scalar
expression on each doc row (`size(filter(tokens, = term))`) — no
explode, no vocabulary shuffle, no posting-list materialization. The
corpus-level statistics (N, avgdl, per-term document frequencies) are
ONE single-row aggregate broadcast back with a cross join. Total plan:
one pass over documents for stats, one pass for scoring, one
TakeOrderedAndProject for the top-k. Zero wide shuffles at any corpus
size; the stats row is O(|query terms|).

Scoring is Robertson/Okapi BM25 with the standard +1-smoothed idf:
    idf(t)   = ln(1 + (N - df + 0.5) / (df + 0.5))
    score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
Scores round to 6 decimals on both engines (the ln-parity convention
proven by text.tfidf_top_terms across rounds).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from mito_spark.engine import load_table
from mito_spark.functions.strings import fields

DEFAULT_QUERY = ("spark", "join", "window")
K1 = 1.2
B = 0.75


def bm25_topk(
    spark: SparkSession,
    sf_dir: str,
    query: tuple[str, ...] = DEFAULT_QUERY,
    topk: int = 20,
    k1: float = K1,
    b: float = B,
) -> DataFrame:
    """queries() entry: BM25 top-k documents for a fixed query."""
    docs = load_table(spark, sf_dir, "documents")
    toks = fields(F.lower(F.col("text")))
    base = docs.select("doc_id", toks.alias("toks"), F.size(toks).alias("dl"))

    def _tf(term: str) -> Column:
        # term frequency without a lambda HOF (codegen stays wide):
        # |toks| - |toks \ {term}| counts occurrences of term
        return F.size(F.col("toks")) - F.size(F.array_remove(F.col("toks"), term))

    tf_cols = [_tf(t).alias(f"tf_{i}") for i, t in enumerate(query)]
    with_tf = base.select("doc_id", "dl", *tf_cols)

    stats = with_tf.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(query))
        ],
    )

    scored = with_tf.crossJoin(F.broadcast(stats))
    score = None
    for i in range(len(query)):
        tf = F.col(f"tf_{i}").cast("double")
        df_ = F.col(f"df_{i}").cast("double")
        idf = F.log(
            F.lit(1.0) + (F.col("n_docs") - df_ + F.lit(0.5)) / (df_ + F.lit(0.5))
        )
        term = idf * tf * F.lit(k1 + 1.0) / (
            tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
        )
        score = term if score is None else score + term
    return (
        scored.select("doc_id", F.round(score, 6).alias("score"))
        .where(F.col("score") > 0)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(topk)
    )


def _bm25_sql(
    query: tuple[str, ...] = DEFAULT_QUERY, topk: int = 20, k1: float = K1, b: float = B
) -> str:
    tf_exprs = ",\n         ".join(
        f"len(list_filter(toks, x -> x = '{t}')) AS tf_{i}" for i, t in enumerate(query)
    )
    df_exprs = ",\n         ".join(
        f"SUM(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}" for i in range(len(query))
    )
    score_terms = " + ".join(
        f"ln(1.0 + (n_docs - CAST(df_{i} AS DOUBLE) + 0.5) / (CAST(df_{i} AS DOUBLE) + 0.5))"
        f" * CAST(tf_{i} AS DOUBLE) * {k1 + 1.0}"
        f" / (CAST(tf_{i} AS DOUBLE) + {k1} * ({1.0 - b} + {b} * dl / avgdl))"
        for i in range(len(query))
    )
    return rf"""
WITH base AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '') AS toks
  FROM documents
), with_tf AS (
  SELECT doc_id, len(toks) AS dl,
         {tf_exprs}
  FROM base
), stats AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl,
         {df_exprs}
  FROM with_tf
)
SELECT doc_id, ROUND({score_terms}, 6) AS score
FROM with_tf CROSS JOIN stats
WHERE ROUND({score_terms}, 6) > 0
ORDER BY score DESC, doc_id ASC
LIMIT {topk}
"""


BM25_SQL = _bm25_sql()


MU = 2000.0  # Dirichlet smoothing mass (Zhai & Lafferty 2001 default)
RRF_K = 60  # reciprocal-rank-fusion constant (Cormack et al. 2009)
LEG_K = 50  # per-leg candidate depth before fusion


def hybrid_search_rrf(
    spark: SparkSession,
    sf_dir: str,
    query: tuple[str, ...] = DEFAULT_QUERY,
    topk: int = 20,
) -> DataFrame:
    """Hybrid retrieval: BM25 and Dirichlet query-likelihood rankings
    fused with reciprocal-rank fusion —
    score(d) = Σ_legs 1/(RRF_K + rank_leg(d)) over each leg's top
    LEG_K candidates (Cormack et al., SIGIR'09).

    Scale design: ranks are assigned only WITHIN each leg's top-LEG_K
    list (TakeOrdered — never a corpus-wide window): a doc outside a
    leg's candidate list contributes nothing for that leg, which is
    the standard production fusion contract. Both scorers share one
    tf/dl pass and one broadcast stats row; the fusion join touches
    ≤ 2·LEG_K rows.

    Output: (doc_id, bm25_rank, ql_rank, rrf_score) for the fused
    top-k; absent-leg ranks are NULL.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = fields(F.lower(F.col("text")))
    base = docs.select("doc_id", toks.alias("toks"), F.size(toks).alias("dl"))

    def _tf(term: str) -> Column:
        return F.size(F.col("toks")) - F.size(F.array_remove(F.col("toks"), term))

    tf_cols = [_tf(t).alias(f"tf_{i}") for i, t in enumerate(query)]
    with_tf = base.select("doc_id", "dl", *tf_cols).localCheckpoint()

    stats = with_tf.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        F.sum("dl").alias("coll_len"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(query))
        ],
        *[F.sum(f"tf_{i}").alias(f"cf_{i}") for i in range(len(query))],
    )

    scored = with_tf.crossJoin(F.broadcast(stats))
    bm25 = None
    ql = None
    for i in range(len(query)):
        tf = F.col(f"tf_{i}").cast("double")
        df_ = F.col(f"df_{i}").cast("double")
        cf = F.col(f"cf_{i}").cast("double")
        idf = F.log(
            F.lit(1.0) + (F.col("n_docs") - df_ + F.lit(0.5)) / (df_ + F.lit(0.5))
        )
        bterm = idf * tf * F.lit(K1 + 1.0) / (
            tf + F.lit(K1) * (F.lit(1.0 - B) + F.lit(B) * F.col("dl") / F.col("avgdl"))
        )
        bm25 = bterm if bm25 is None else bm25 + bterm
        # Dirichlet QL: ln((tf + μ·p(t|C)) / (dl + μ)); p(t|C) = cf/|C|.
        # A term absent from the WHOLE collection (cf = 0 ⇒ tf = 0
        # everywhere) would make the argument exactly 0 — ln(0) is
        # NULL in Spark and an error in DuckDB, and the NULL would
        # poison every document's summed score, degrading the leg to
        # doc_id-order ranks. Standard IR practice: OOV query terms
        # carry no discrimination — drop them from the leg.
        qterm = F.when(
            F.col(f"cf_{i}") > 0,
            F.log(
                (tf + F.lit(MU) * cf / F.col("coll_len").cast("double"))
                / (F.col("dl").cast("double") + F.lit(MU))
            ),
        ).otherwise(F.lit(0.0))
        ql = qterm if ql is None else ql + qterm
    scored = scored.select(
        "doc_id",
        F.round(bm25, 6).alias("bm25"),
        F.round(ql, 6).alias("ql"),
    ).localCheckpoint()  # scored feeds both legs

    def _leg(col: str, rank_name: str, positive_only: bool) -> DataFrame:
        leg = scored.where(F.col(col) > 0) if positive_only else scored
        top = leg.orderBy(F.desc(col), F.asc("doc_id")).limit(LEG_K)
        from pyspark.sql import Window

        # window over ≤ LEG_K rows (bounded by construction), not the corpus
        w = Window.orderBy(F.desc(col), F.asc("doc_id"))
        return top.select("doc_id", F.row_number().over(w).alias(rank_name))

    # BM25 zero-scores (no query term present) are not candidates; QL
    # is defined (negative) for every doc, so its leg keeps all.
    b_leg = _leg("bm25", "bm25_rank", positive_only=True)
    q_leg = _leg("ql", "ql_rank", positive_only=False)
    fused = b_leg.join(q_leg, "doc_id", "full_outer").select(
        "doc_id",
        "bm25_rank",
        "ql_rank",
        F.round(
            F.coalesce(
                F.lit(1.0) / (F.lit(RRF_K) + F.col("bm25_rank")), F.lit(0.0)
            )
            + F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("ql_rank")), F.lit(0.0)),
            6,
        ).alias("rrf_score"),
    )
    return fused.orderBy(F.desc("rrf_score"), F.asc("doc_id")).limit(topk)


def _hybrid_sql(
    query: tuple[str, ...] = DEFAULT_QUERY, topk: int = 20
) -> str:
    tf_exprs = ",\n         ".join(
        f"len(list_filter(toks, x -> x = '{t}')) AS tf_{i}" for i, t in enumerate(query)
    )
    agg_exprs = ",\n         ".join(
        [f"SUM(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}" for i in range(len(query))]
        + [f"SUM(tf_{i}) AS cf_{i}" for i in range(len(query))]
    )
    bm25_terms = " + ".join(
        f"ln(1.0 + (n_docs - CAST(df_{i} AS DOUBLE) + 0.5) / (CAST(df_{i} AS DOUBLE) + 0.5))"
        f" * CAST(tf_{i} AS DOUBLE) * {K1 + 1.0}"
        f" / (CAST(tf_{i} AS DOUBLE) + {K1} * ({1.0 - B} + {B} * dl / avgdl))"
        for i in range(len(query))
    )
    # CASE mirrors the Spark-side OOV guard: cf = 0 terms contribute 0
    ql_terms = " + ".join(
        f"CASE WHEN cf_{i} > 0 THEN "
        f"ln((CAST(tf_{i} AS DOUBLE) + {MU} * CAST(cf_{i} AS DOUBLE) / CAST(coll_len AS DOUBLE))"
        f" / (CAST(dl AS DOUBLE) + {MU})) ELSE 0.0 END"
        for i in range(len(query))
    )
    return rf"""
WITH base AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '') AS toks
  FROM documents
), with_tf AS (
  SELECT doc_id, len(toks) AS dl,
         {tf_exprs}
  FROM base
), stats AS (
  SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl, SUM(dl) AS coll_len,
         {agg_exprs}
  FROM with_tf
), scored AS (
  SELECT doc_id,
         ROUND({bm25_terms}, 6) AS bm25,
         ROUND({ql_terms}, 6) AS ql
  FROM with_tf CROSS JOIN stats
), b_leg AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS bm25_rank
  FROM scored WHERE bm25 > 0
  ORDER BY bm25 DESC, doc_id LIMIT {LEG_K}
), q_leg AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY ql DESC, doc_id) AS ql_rank
  FROM scored
  ORDER BY ql DESC, doc_id LIMIT {LEG_K}
), fused AS (
  SELECT COALESCE(b.doc_id, q.doc_id) AS doc_id, bm25_rank, ql_rank,
         ROUND(COALESCE(1.0 / ({RRF_K} + bm25_rank), 0.0)
               + COALESCE(1.0 / ({RRF_K} + ql_rank), 0.0), 6) AS rrf_score
  FROM b_leg b FULL OUTER JOIN q_leg q ON b.doc_id = q.doc_id
)
SELECT doc_id, bm25_rank, ql_rank, rrf_score
FROM fused ORDER BY rrf_score DESC, doc_id LIMIT {topk}
"""


HYBRID_RRF_SQL = _hybrid_sql()
