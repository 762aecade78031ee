"""Contrastive training-pair mining over the embedding table: for
each probe vector, the nearest SAME-label neighbor (the positive) and
the top-m nearest DIFFERENT-label neighbors (the hard negatives) —
the standard batch-mining pass for contrastive/metric learning
(in-batch negatives are free; *hard* negatives need a corpus sweep
like this one).

Plan shape: probes are a bounded set, broadcast; the corpus streams
through one codegen'd cosine projection; positives and negatives rank
in a single window pass partitioned by (probe, same-label flag), so
the corpus is scored exactly once and the shuffle carries only
|probes| * candidate rows. At 100 TB the brute-force sweep becomes the
re-rank stage over ANN candidates (similarity.knn_graph /
cosine_topk_lsh supply them) — same ranking logic, pluggable
candidate source.

Reference anchor: the reference has no vector surface; this extends
the repo's ANN tier (similarity.py) the way its processor-chain tests
compose filter→score→rank.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mito_spark.operators.similarity import cosine, vectors

N_PROBES = 16
N_NEG = 3


def contrastive_pairs(
    spark: SparkSession, sf_dir: str, n_probes: int = N_PROBES, n_neg: int = N_NEG
) -> DataFrame:
    """(query_id, kind, rank, neighbor_id, cos_sim): kind='positive'
    rank 1 is the nearest same-label vector; kind='hard_negative'
    ranks 1..n_neg are the nearest different-label vectors."""
    emb = vectors(spark, sf_dir, "label")
    probes = emb.where(F.col("vec_id") < n_probes).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        F.col("v").alias("q"),
    )
    scored = (
        emb.join(F.broadcast(probes), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            (F.col("label") == F.col("qlabel")).alias("is_pos"),
            F.col("vec_id").alias("neighbor_id"),
            cosine(F.col("q"), F.col("v")).alias("cos"),
        )
        .where(F.col("cos").isNotNull())
    )
    w = Window.partitionBy("query_id", "is_pos").orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    ranked = scored.withColumn("rank", F.row_number().over(w))
    return (
        ranked.where(
            (F.col("is_pos") & (F.col("rank") == 1))
            | (~F.col("is_pos") & (F.col("rank") <= n_neg))
        )
        .select(
            "query_id",
            F.when(F.col("is_pos"), F.lit("positive"))
            .otherwise(F.lit("hard_negative"))
            .alias("kind"),
            "rank",
            "neighbor_id",
            F.round("cos", 6).alias("cos_sim"),
        )
    )


CONTRASTIVE_SQL = f"""
WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), q AS (
  SELECT vec_id AS query_id, label AS qlabel, v AS q FROM e
  WHERE vec_id < {N_PROBES}
), scored AS (
  SELECT query_id, (e.label = q.qlabel) AS is_pos, e.vec_id AS neighbor_id,
         list_sum(list_transform(range(1, len(q)+1), i -> q[i] * v[i]))
           / (sqrt(list_sum(list_transform(range(1, len(q)+1), i -> q[i]*q[i])))
              * sqrt(list_sum(list_transform(range(1, len(v)+1), i -> v[i]*v[i])))) AS cos
  FROM e, q WHERE e.vec_id <> q.query_id
), ranked AS (
  SELECT query_id, is_pos, neighbor_id, cos,
         ROW_NUMBER() OVER (
           PARTITION BY query_id, is_pos ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored WHERE cos IS NOT NULL
)
SELECT query_id,
       CASE WHEN is_pos THEN 'positive' ELSE 'hard_negative' END AS kind,
       rank, neighbor_id, ROUND(cos, 6) AS cos_sim
FROM ranked
WHERE (is_pos AND rank = 1) OR (NOT is_pos AND rank <= {N_NEG})
"""
