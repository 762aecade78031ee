"""Maximal Marginal Relevance (MMR) re-ranking — retrieval
diversification (Carbonell & Goldstein, SIGIR'98): greedily pick the
next result maximizing λ·relevance − (1−λ)·max-similarity-to-already-
selected, so the top-k covers the query's neighborhood instead of
returning k near-copies of the best hit. The standard post-processing
step after ANN retrieval in RAG/search pipelines, and the natural
consumer of this repo's ANN tiers.

Spark-first shape (r13 optimization round, guide §2.1/§2.4): the
candidate cut is the two-stage ``per_key_topk`` over a SLIM
(query_id, cand_id, rel) frame — the r10-r12 form ranked the
corpus-sized candidate frame with a plain per-query window (10
partitions, the §2.1 parallelism collapse) and carried the 64-dim
vectors through it. Vectors rejoin AFTER the cut (m·|Q| rows). The
greedy loop itself — previously k unrolled DataFrame stages, each a
localCheckpoint job plus anti-join/max-sim/argmax shuffles — is now a
single in-row ``aggregate`` fold over each query's collected candidate
array: per query the state is the ≤ m candidate structs (retrieval
fan-out, bounded by construction), the fold runs k−1 steps, and each
step's argmax is an ``array_sort`` under exactly the old window's
(mmr DESC, cand_id ASC) order. One shuffle (the groupBy(query_id) of
m·|Q| rows) replaces ~8 jobs. Every float op is unchanged: rel and
pairwise sims are the same ``cosine`` fold, mmr the same
λ·rel − (1−λ)·max-sim expression, so the selection is bit-identical
and the DuckDB oracle re-derives it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mito_spark.operators.similarity import cosine, dot, norm, vectors
from mito_spark.operators.topk import per_key_topk


def mmr_rerank(
    spark: SparkSession,
    sf_dir: str,
    n_queries: int = 10,
    m: int = 20,
    k: int = 5,
    lam: float = 0.5,
) -> DataFrame:
    """Top-m exact-cosine candidates per query → MMR-greedy top-k.
    Output: (query_id, neighbor_id, rank, score) where rank 1's score
    is its relevance and later ranks carry their MMR score."""
    emb = (
        vectors(spark, sf_dir)
        .withColumn("nv", norm(F.col("v")))
        # zero/null-norm vectors can never yield a non-null cosine
        # (old form: rel IS NOT NULL dropped the same rows)
        .where(F.col("nv").isNotNull() & (F.col("nv") != 0.0))
    )
    queries = emb.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("q"),
        F.col("nv").alias("nq"),
    )
    scored = (
        emb.join(F.broadcast(queries), F.col("vec_id") != F.col("query_id"))
        .where(F.col("nq") * F.col("nv") != F.lit(0.0))  # underflow ≡ rel NOT NULL
        .select(
            "query_id",
            F.col("vec_id").alias("cand_id"),
            F.try_divide(
                dot(F.col("q"), F.col("v")), F.col("nq") * F.col("nv")
            ).alias("rel"),
        )
    )
    cand = per_key_topk(
        scored, "query_id", [F.desc("rel"), F.asc("cand_id")], m, rank_name="rr"
    ).drop("rr")
    # payload vectors rejoin AFTER the cut (m·|Q| rows; topk.py rule)
    cand = cand.join(
        emb.select(F.col("vec_id").alias("cand_id"), "v"), "cand_id"
    )
    cs = cand.groupBy("query_id").agg(
        F.collect_list(F.struct("cand_id", "rel", "v")).alias("cs")
    )

    def argmax(arr):
        # old order: ROW_NUMBER over (key DESC, cand_id ASC) = 1 —
        # negation is exact for doubles, so struct-asc sort matches
        return F.element_at(F.array_sort(arr), 1)

    pick1 = argmax(
        F.transform(
            F.col("cs"),
            lambda c: F.struct(
                (-c["rel"]).alias("negkey"),
                c["cand_id"].alias("cand_id"),
                c["rel"].alias("score"),
                c["v"].alias("v"),
            ),
        )
    )
    init = F.array(
        F.struct(
            F.lit(1).alias("rank"),
            pick1["cand_id"].alias("cand_id"),
            pick1["score"].alias("score"),
            pick1["v"].alias("v"),
        )
    )

    def step(acc, i):
        rem = F.filter(
            F.col("cs"),
            lambda c: ~F.exists(acc, lambda s: s["cand_id"] == c["cand_id"]),
        )
        best = argmax(
            F.transform(
                rem,
                lambda c: F.struct(
                    (
                        -(
                            F.lit(lam) * c["rel"]
                            - F.lit(1 - lam)
                            * F.array_max(
                                F.transform(acc, lambda s: cosine(c["v"], s["v"]))
                            )
                        )
                    ).alias("negkey"),
                    c["cand_id"].alias("cand_id"),
                    (
                        F.lit(lam) * c["rel"]
                        - F.lit(1 - lam)
                        * F.array_max(
                            F.transform(acc, lambda s: cosine(c["v"], s["v"]))
                        )
                    ).alias("score"),
                    c["v"].alias("v"),
                ),
            )
        )
        appended = F.concat(
            acc,
            F.array(
                F.struct(
                    i.cast("int").alias("rank"),
                    best["cand_id"].alias("cand_id"),
                    best["score"].alias("score"),
                    best["v"].alias("v"),
                )
            ),
        )
        # degenerate guard: fewer than k candidates → stop appending
        # (the old per-stage join simply produced no pick row)
        return F.when(F.size(rem) > 0, appended).otherwise(acc)

    sel = F.aggregate(F.sequence(F.lit(2), F.lit(k)), init, step)
    return (
        cs.select("query_id", F.explode(sel).alias("s"))
        .select(
            "query_id",
            F.col("s.cand_id").alias("neighbor_id"),
            F.col("s.rank").alias("rank"),
            F.round(F.col("s.score"), 6).alias("score"),
        )
        .orderBy("query_id", "rank")
    )


def _mmr_sql(n_queries: int = 10, m: int = 20, k: int = 5, lam: float = 0.5, dim: int = 64) -> str:
    cos = (
        f"list_sum(list_transform(range(1, {dim + 1}), i -> x.v[i] * y.v[i]))"
        f" / (sqrt(list_sum(list_transform(range(1, {dim + 1}), i -> x.v[i]*x.v[i])))"
        f" * sqrt(list_sum(list_transform(range(1, {dim + 1}), i -> y.v[i]*y.v[i]))))"
    )
    parts = [
        f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), q AS (
  SELECT vec_id AS query_id, v FROM e WHERE vec_id < {n_queries}
), cand AS (
  SELECT query_id, cand_id, v, rel FROM (
    SELECT x.query_id, y.vec_id AS cand_id, y.v AS v,
           {cos.replace('x.v', 'x.v').replace('y.v', 'y.v')} AS rel,
           ROW_NUMBER() OVER (PARTITION BY x.query_id ORDER BY {cos} DESC, y.vec_id) AS rr
    FROM q x JOIN e y ON y.vec_id <> x.query_id
  ) WHERE rr <= {m}
), psim AS (
  SELECT a.query_id, a.cand_id AS c1, b.cand_id AS c2,
         list_sum(list_transform(range(1, {dim + 1}), i -> a.v[i] * b.v[i]))
           / (sqrt(list_sum(list_transform(range(1, {dim + 1}), i -> a.v[i]*a.v[i])))
              * sqrt(list_sum(list_transform(range(1, {dim + 1}), i -> b.v[i]*b.v[i])))) AS sim
  FROM cand a JOIN cand b ON a.query_id = b.query_id AND a.cand_id <> b.cand_id
), sel1 AS (
  SELECT query_id, 1 AS rank, cand_id, rel AS score FROM (
    SELECT query_id, cand_id, rel,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rel DESC, cand_id) AS rn
    FROM cand
  ) WHERE rn = 1
)"""
    ]
    prev_union = "SELECT query_id, rank, cand_id, score FROM sel1"
    for i in range(2, k + 1):
        parts.append(
            f""", all{i} AS ({prev_union}), pick{i} AS (
  SELECT query_id, {i} AS rank, cand_id, mmr AS score FROM (
    SELECT c.query_id, c.cand_id,
           {lam!r} * c.rel - {1 - lam!r} * ms.ms AS mmr,
           ROW_NUMBER() OVER (PARTITION BY c.query_id
                              ORDER BY {lam!r} * c.rel - {1 - lam!r} * ms.ms DESC, c.cand_id) AS rn
    FROM cand c
    JOIN (SELECT p.query_id, p.c1 AS cand_id, MAX(p.sim) AS ms
          FROM psim p JOIN all{i} s ON p.query_id = s.query_id AND p.c2 = s.cand_id
          GROUP BY p.query_id, p.c1) ms
      ON c.query_id = ms.query_id AND c.cand_id = ms.cand_id
    WHERE NOT EXISTS (SELECT 1 FROM all{i} s
                      WHERE s.query_id = c.query_id AND s.cand_id = c.cand_id)
  ) WHERE rn = 1
)"""
        )
        prev_union += f" UNION ALL SELECT query_id, rank, cand_id, score FROM pick{i}"
    parts.append(
        f"""
SELECT query_id, cand_id AS neighbor_id, rank, ROUND(score, 6) AS score
FROM ({prev_union})
ORDER BY query_id, rank
"""
    )
    return "".join(parts)


MMR_SQL = _mmr_sql()
