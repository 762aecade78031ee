"""The composed training-data pipeline: language filter → quality
filter → repetition filter → benchmark decontamination → fingerprint
dedup → sliding-window chunking, as ONE lazy plan.

This is the end-to-end shape the individual operators exist for
(C4/RefinedWeb/Gopher-style corpus preparation). Composition stays a
single Catalyst plan: the per-row filters (lang, quality, repetition)
run in the scan stage, decontamination is a broadcast-probe anti-join,
dedup is the only keyed shuffle (fingerprint window), chunking
explodes after the data is already minimal. At 100 TB the ordering is
the whole game — cheap row-local filters first, the broadcast join
next, the shuffle on the smallest surviving set, fan-out last.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mito_spark.engine import load_table
from mito_spark.functions.strings import fields
from mito_spark.operators.decontam import (
    CONTAM_DEN,
    CONTAM_NUM,
    NGRAM_N,
    PROBE_MOD,
    max_run_len,
    ngrams,
    shingle_hashes,
)
from mito_spark.operators.text import LANG_MARKERS, STOPWORDS


def training_corpus(
    spark: SparkSession,
    sf_dir: str,
    lang: str = "en",
    min_quality: float = 0.75,
    chunk_tokens: int = 32,
    overlap: int = 8,
) -> DataFrame:
    """documents → keep predicted-``lang`` docs of quality ≥
    ``min_quality`` → keep the lowest doc_id per canonical fingerprint
    → chunk. Returns (doc_id, chunk_idx, chunk_text, chunk_len)."""
    docs = load_table(spark, sf_dir, "documents")
    # Stage tokens/lines as real columns before any HOF references
    # them: higher-order functions are interpreted, so lambdas that
    # embed the tokenization EXPRESSION re-run the regexp split per
    # array element, while an attribute reference is a free lookup
    # (same plan note as decontam.decontaminate; 21s -> ~2s at sf0.1).
    lines_expr = F.filter(
        F.transform(F.split(F.col("text"), "\n"), lambda x: F.trim(x)),
        lambda x: x != F.lit(""),
    )
    staged = docs.select(
        "doc_id",
        "text",
        fields(F.lower(F.col("text"))).alias("toks"),
        lines_expr.alias("lines"),
    )
    toks = F.col("toks")

    # Layer 2: every HOF-backed scalar metric computed ONCE into a
    # column. HOF-bearing projections are interpreted (no whole-stage
    # codegen, so no common-subexpression elimination): an argmax/when
    # chain built directly over the HOF score expressions re-evaluates
    # each score ~10x per row, and the pushed-down language/quality
    # filter re-evaluates the lot again (9s -> <1s at sf0.1 for this
    # stage alone).
    langs = sorted(LANG_MARKERS)

    def _score(lg: str):
        # closure, NOT a default arg: a second lambda param would be
        # silently bound to the array index by the HOF machinery
        markers = F.array(*[F.lit(m) for m in LANG_MARKERS[lg]])
        return F.size(F.filter(toks, lambda t: F.array_contains(markers, t)))

    sw = F.array(*[F.lit(w) for w in STOPWORDS])
    # The _fp wrapper is a value-identity pushdown barrier:
    # spark_partition_id() is always >= 0, but it is CLASSED
    # nondeterministic, and a nondeterministic project list stops
    # PushPredicateThroughNonJoin from substituting the language/
    # quality filter's condition down through this projection — which
    # would land the full HOF metric expressions in the parquet scan
    # filter and re-evaluate them per row on top of this projection.
    # (rand() >= -1 no longer works: Spark 4 constant-folds it away.)
    metrics = staged.select(
        "doc_id",
        "text",
        *[_score(lg).alias(f"_s_{lg}") for lg in langs],
        F.size(toks).alias("_n_tok"),
        F.size(F.filter(toks, lambda t: F.array_contains(sw, t))).alias("_n_stop"),
        F.length(F.regexp_replace(F.col("text"), r"[^A-Za-z]", "")).alias("_n_alpha"),
        F.length("text").alias("_n_chars"),
        F.when(
            F.spark_partition_id() >= 0,
            F.md5(F.array_join(F.array_sort(F.array_distinct(toks)), " ")),
        ).alias("_fp"),
        max_run_len(ngrams(toks, 2)).alias("_run2"),
        max_run_len(ngrams(toks, 3)).alias("_run3"),
        F.size("lines").alias("_n_lines"),
        F.size(F.array_distinct("lines")).alias("_n_dlines"),
    )

    # Layer 3: verdicts from the scalar attributes — pure integer /
    # double arithmetic, safe to duplicate under filter pushdown.
    scores = {lg: F.col(f"_s_{lg}") for lg in langs}
    pairs = F.array(
        *[F.struct(scores[lg].alias("s"), F.lit(-i).alias("ord")) for i, lg in enumerate(langs)]
    )
    best = F.array_max(pairs)
    pred = F.when(best.getField("s") == 0, F.lit("und"))
    for i, lg in enumerate(langs):
        pred = pred.when(-best.getField("ord") == i, F.lit(lg))

    n_tok, n_stop = F.col("_n_tok"), F.col("_n_stop")
    n_alpha, n_chars = F.col("_n_alpha"), F.col("_n_chars")
    mean_wlen = n_chars.cast("double") / n_tok
    quality = (
        F.when((n_tok >= 10) & (n_tok <= 100000), F.lit(0.25)).otherwise(F.lit(0.0))
        + F.when((mean_wlen >= 3.0) & (mean_wlen <= 12.0), F.lit(0.25)).otherwise(F.lit(0.0))
        + F.when(n_stop * 100 >= n_tok * 5, F.lit(0.25)).otherwise(F.lit(0.0))
        + F.when(n_alpha * 100 >= n_chars * 60, F.lit(0.25)).otherwise(F.lit(0.0))
    )

    run2, run3 = F.col("_run2"), F.col("_run3")
    n_lines, n_dlines = F.col("_n_lines"), F.col("_n_dlines")
    rep_flag = (
        ((n_lines - n_dlines) * 10 > n_lines * 3)
        | (run2 * 5 > F.greatest(n_tok - 1, F.lit(0)))
        | (run3 * 50 > F.greatest(n_tok - 2, F.lit(0)) * 9)
    )

    kept = (
        metrics.select("doc_id", "text", pred.alias("_lang"), quality.alias("_q"), F.col("_fp"), rep_flag.alias("_rep"))
        .where((F.col("_lang") == lang) & (F.col("_q") >= min_quality) & ~F.col("_rep"))
        .drop("_rep")
    )

    # --- benchmark decontamination (same shape as
    # decontam.decontaminate): broadcast the probe shingle set, count
    # per-doc hits, anti-join docs above the contamination threshold.
    # explode_outer, not explode: InferFiltersFromGenerate would push
    # an inlined copy of the shingle expression below the projection
    # (see decontam.py plan notes).
    # The _ghs barrier stops InferFiltersFromConstraints: the
    # contamination-threshold filter implies isnotnull(_n), which
    # would otherwise push through the aggregate and projection and
    # inline the whole shingle expression into the scan filter. The
    # probe side pre-filters doc_id BEFORE shingling (manual pushdown,
    # since the barrier would block the automatic one).
    probe = (
        staged.where(F.col("doc_id") % PROBE_MOD == 0)
        .select(shingle_hashes(toks, NGRAM_N).alias("_ghs"))
        .select(F.explode_outer("_ghs").alias("_gh"))
        .distinct()
    )
    per_doc = staged.select(
        "doc_id",
        F.when(F.spark_partition_id() >= 0, shingle_hashes(toks, NGRAM_N)).alias("_ghs"),
    )
    contaminated = (
        per_doc.select("doc_id", F.size("_ghs").alias("_n"), F.explode_outer("_ghs").alias("_gh"))
        .join(F.broadcast(probe), "_gh")
        .groupBy("doc_id", "_n")
        .agg(F.count(F.lit(1)).alias("_hit"))
        .where(F.col("_hit") * CONTAM_DEN >= F.col("_n") * CONTAM_NUM)
        .select("doc_id")
    )
    kept = kept.join(F.broadcast(contaminated), "doc_id", "left_anti")

    w = Window.partitionBy("_fp").orderBy("doc_id")
    deduped = kept.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1)

    # --- chunking (same construction as text.chunk_documents) --------
    stride = chunk_tokens - overlap
    rechunk = deduped.select("doc_id", fields(F.col("text")).alias("_dtoks"))
    dtoks = F.col("_dtoks")
    starts = F.sequence(F.lit(1), F.greatest(F.size(dtoks) - overlap, F.lit(1)), F.lit(stride))
    chunks = F.transform(
        starts,
        lambda s, i: F.struct(
            i.alias("chunk_idx"),
            F.array_join(F.slice(dtoks, s, chunk_tokens), " ").alias("chunk_text"),
            F.least(F.size(dtoks) - s + 1, F.lit(chunk_tokens)).alias("chunk_len"),
        ),
    )
    return rechunk.select("doc_id", F.explode_outer(chunks).alias("c")).select(
        "doc_id",
        F.col("c.chunk_idx").alias("chunk_idx"),
        F.col("c.chunk_text").alias("chunk_text"),
        F.col("c.chunk_len").alias("chunk_len"),
    )


def _pipeline_sql(lang: str = "en", min_quality: float = 0.75,
                  chunk_tokens: int = 32, overlap: int = 8) -> str:
    stride = chunk_tokens - overlap
    langs = sorted(LANG_MARKERS)
    score_exprs = ",\n         ".join(
        "len(list_filter(toks, t -> list_contains(["
        + ", ".join(f"'{m}'" for m in LANG_MARKERS[lg])
        + f"], t))) AS score_{lg}"
        for lg in langs
    )
    greatest = "greatest(" + ", ".join(f"score_{lg}" for lg in langs) + ")"
    case = f"CASE WHEN {greatest} = 0 THEN 'und' "
    for lg in langs:
        case += f"WHEN score_{lg} = {greatest} THEN '{lg}' "
    case += "END"
    sw = ", ".join(f"'{w}'" for w in STOPWORDS)
    return rf"""
WITH tok AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '') AS toks
  FROM documents
), scored AS (
  SELECT doc_id, text, toks,
         {score_exprs},
         len(toks) AS n_tokens,
         len(list_filter(toks, x -> list_contains([{sw}], x))) AS n_stop,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
         length(text) AS n_chars
  FROM tok
), judged AS (
  SELECT doc_id, text,
         {case} AS lang_pred,
         (CASE WHEN n_tokens BETWEEN 10 AND 100000 THEN 0.25::DOUBLE ELSE 0.0 END
          + CASE WHEN CAST(n_chars AS DOUBLE)/n_tokens BETWEEN 3.0 AND 12.0 THEN 0.25::DOUBLE ELSE 0.0 END
          + CASE WHEN n_stop*100 >= n_tokens*5 THEN 0.25::DOUBLE ELSE 0.0 END
          + CASE WHEN n_alpha*100 >= n_chars*60 THEN 0.25::DOUBLE ELSE 0.0 END) AS quality,
         md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fp
  FROM scored
), rep_g2 AS (
  SELECT doc_id, toks[i] || ' ' || toks[i+1] AS gram
  FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM tok WHERE len(toks) >= 2)
), rep_a2 AS (
  SELECT doc_id, max(c) AS top2 FROM (
    SELECT doc_id, gram, count(*) AS c FROM rep_g2 GROUP BY doc_id, gram
  ) GROUP BY doc_id
), rep_g3 AS (
  SELECT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS gram
  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i FROM tok WHERE len(toks) >= 3)
), rep_a3 AS (
  SELECT doc_id, max(c) AS top3 FROM (
    SELECT doc_id, gram, count(*) AS c FROM rep_g3 GROUP BY doc_id, gram
  ) GROUP BY doc_id
), repeated AS (
  SELECT t.doc_id FROM tok t
  LEFT JOIN rep_a2 ON t.doc_id = rep_a2.doc_id
  LEFT JOIN rep_a3 ON t.doc_id = rep_a3.doc_id
  WHERE (len(list_filter(list_transform(string_split(t.text, chr(10)), x -> trim(x)), x -> x <> ''))
         - len(list_distinct(list_filter(list_transform(string_split(t.text, chr(10)), x -> trim(x)), x -> x <> '')))) * 10
        > len(list_filter(list_transform(string_split(t.text, chr(10)), x -> trim(x)), x -> x <> '')) * 3
     OR coalesce(top2, 0) * 5 > greatest(len(toks) - 1, 0)
     OR coalesce(top3, 0) * 50 > greatest(len(toks) - 2, 0) * 9
), spans0 AS (
  SELECT doc_id, toks, unnest(range(1, len(toks) - {NGRAM_N} + 2)) AS s
  FROM tok WHERE len(toks) >= {NGRAM_N}
), dg AS (
  SELECT DISTINCT doc_id, md5(array_to_string(toks[s:s+{NGRAM_N - 1}], ' ')) AS gh
  FROM spans0
), probe AS (
  SELECT DISTINCT gh FROM dg WHERE doc_id % {PROBE_MOD} = 0
), contaminated AS (
  SELECT dg.doc_id FROM dg JOIN probe USING (gh)
  JOIN (SELECT doc_id, count(*) AS n_grams FROM dg GROUP BY doc_id) tot ON dg.doc_id = tot.doc_id
  GROUP BY dg.doc_id, tot.n_grams
  HAVING count(*) * {CONTAM_DEN} >= tot.n_grams * {CONTAM_NUM}
), kept AS (
  SELECT doc_id, text,
         ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
  FROM judged
  WHERE lang_pred = '{lang}' AND quality >= {min_quality}
    AND doc_id NOT IN (SELECT doc_id FROM repeated)
    AND doc_id NOT IN (SELECT doc_id FROM contaminated)
), rt AS (
  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks
  FROM kept WHERE rn = 1
), spans AS (
  SELECT doc_id, toks,
         unnest(range(1, greatest(len(toks) - {overlap}, 1) + 1, {stride})) AS s,
         unnest(range(0, CAST(ceil(greatest(len(toks) - {overlap}, 1) / {stride}.0) AS BIGINT))) AS chunk_idx
  FROM rt
)
SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
       array_to_string(toks[s:s+{chunk_tokens - 1}], ' ') AS chunk_text,
       CAST(least(len(toks) - s + 1, {chunk_tokens}) AS INT) AS chunk_len
FROM spans
"""


PIPELINE_SQL = _pipeline_sql()


# --- curriculum scheduling ------------------------------------------------

CURRICULUM_PHASES = 4
CURRICULUM_BINS = 256  # same fixed-bin discipline as the quantile sketch


def curriculum_plan(
    spark: SparkSession,
    sf_dir: str,
    phases: int = CURRICULUM_PHASES,
    bins: int = CURRICULUM_BINS,
) -> DataFrame:
    """Curriculum schedule WITHOUT a corpus sort — the easy-to-hard
    phase plan (Bengio et al. 2009) a pretraining run feeds its data
    loader: per-doc difficulty = mean unigram surprisal (the corpus-
    model signal ``unigram_surprisal`` already computes), phase
    boundaries = equal-population quartile edges ESTIMATED from the
    fixed-bin histogram (the ``quantile_sketch_calibration``
    machinery), assignment = integer bucket-vs-edge comparisons.

    The composition is the point: a naive curriculum ORDERs the corpus
    by difficulty — a global sort of every doc, the one operation a
    100 TB pipeline cannot afford — while this plan costs the
    surprisal pass plus a <= ``bins``-row histogram, and assigns
    phases in the same scan that bucketed the docs. Phase populations
    are equal up to bucket granularity (documented convention: docs
    sharing a difficulty bucket share a phase — at bin width max/256
    that is the resolution a loader actually schedules at).

    Output (one row per phase): n_docs, n_tokens, mean_difficulty
    (6dp round of an exact decimal sum), d_lo/d_hi (order-free
    min/max). Parity: bucket ids are floors of IEEE divides by the
    shared width; edges and assignments are integer comparisons;
    difficulty is already a 6dp-rounded double, summed as
    DECIMAL(18,6).
    """
    from mito_spark.operators.text import unigram_surprisal

    per_doc = unigram_surprisal(spark, sf_dir).localCheckpoint()
    # bins span the OBSERVED difficulty range [min, max]: surprisal
    # concentrates well away from 0 (a corpus-model mean is never
    # near-zero), so [0, max] bins would collapse the whole corpus
    # into a handful of buckets and starve the phase edges
    wd = per_doc.agg(
        F.when(
            F.max("mean_surprisal") > F.min("mean_surprisal"),
            (F.max("mean_surprisal") - F.min("mean_surprisal")) / float(bins),
        )
        .otherwise(F.lit(1.0))
        .alias("wd"),
        F.min("mean_surprisal").alias("mn"),
    )
    b = (
        per_doc.crossJoin(F.broadcast(wd))
        .select(
            "doc_id",
            "n_tokens",
            "mean_surprisal",
            F.least(
                F.greatest(
                    F.floor(
                        (F.col("mean_surprisal") - F.col("mn")) / F.col("wd")
                    ),
                    F.lit(0),
                ),
                F.lit(bins - 1),
            )
            .cast("long")
            .alias("bucket"),
        )
        .localCheckpoint()  # feeds the histogram AND the assignment
    )
    hist = b.groupBy("bucket").agg(F.count(F.lit(1)).alias("c"))
    tot = hist.agg(F.sum("c").alias("n"))
    cum = (
        hist.crossJoin(F.broadcast(tot)).select(
            "bucket",
            "n",
            F.sum("c")
            .over(
                Window.orderBy("bucket").rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            )
            .alias("cum"),
        )
        # the global-order window runs over the <= bins histogram rows,
        # never docs — bounded by construction
    )
    qs = [i / phases for i in range(1, phases)]
    edges = cum.agg(
        *[
            F.min(
                F.when(
                    F.col("cum") >= F.ceil(F.lit(q) * F.col("n")),
                    F.col("bucket"),
                )
            ).alias(f"e{i}")
            for i, q in enumerate(qs, 1)
        ]
    )
    phase = F.lit(1)
    for i in range(1, phases):
        phase = phase + F.when(F.col("bucket") > F.col(f"e{i}"), 1).otherwise(0)
    return (
        b.crossJoin(F.broadcast(edges))
        .select(
            phase.cast("int").alias("phase"),
            "n_tokens",
            F.col("mean_surprisal").cast("decimal(18,6)").alias("d6"),
        )
        .groupBy("phase")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.round(
                F.sum("d6").cast("double") / F.count(F.lit(1)), 6
            ).alias("mean_difficulty"),
            F.min("d6").cast("double").alias("d_lo"),
            F.max("d6").cast("double").alias("d_hi"),
        )
        .orderBy("phase")
    )


def _curriculum_sql(
    phases: int = CURRICULUM_PHASES, bins: int = CURRICULUM_BINS
) -> str:
    from mito_spark.operators.text import SURPRISAL_PER_DOC_CTE

    qs = [i / phases for i in range(1, phases)]
    edge_sel = ", ".join(
        f"MIN(CASE WHEN cum >= CEIL(CAST({q} AS DOUBLE) * n) THEN bucket END) AS e{i}"
        for i, q in enumerate(qs, 1)
    )
    phase_expr = "1" + "".join(
        f" + CASE WHEN bucket > e{i} THEN 1 ELSE 0 END" for i in range(1, phases)
    )
    return (
        "WITH "
        + SURPRISAL_PER_DOC_CTE
        + f""", wd AS (
  SELECT CASE WHEN MAX(mean_surprisal) > MIN(mean_surprisal)
              THEN (MAX(mean_surprisal) - MIN(mean_surprisal)) / {float(bins)!r}
              ELSE 1.0 END AS wd,
         MIN(mean_surprisal) AS mn
  FROM per_doc
), b AS (
  SELECT doc_id, n_tokens, mean_surprisal,
         LEAST(GREATEST(CAST(FLOOR((mean_surprisal - mn) / wd) AS BIGINT), 0), {bins - 1}) AS bucket
  FROM per_doc, wd
), hist AS (
  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS c FROM b GROUP BY bucket
), cum AS (
  SELECT bucket, (SELECT SUM(c) FROM hist) AS n,
         SUM(c) OVER (ORDER BY bucket) AS cum
  FROM hist
), edges AS (
  SELECT {edge_sel} FROM cum
)
SELECT CAST({phase_expr} AS INT) AS phase,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       ROUND(CAST(SUM(CAST(mean_surprisal AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS mean_difficulty,
       CAST(MIN(CAST(mean_surprisal AS DECIMAL(18,6))) AS DOUBLE) AS d_lo,
       CAST(MAX(CAST(mean_surprisal AS DECIMAL(18,6))) AS DOUBLE) AS d_hi
FROM b, edges
GROUP BY 1
ORDER BY 1
"""
    )


CURRICULUM_SQL = _curriculum_sql()
