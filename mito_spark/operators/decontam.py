"""Benchmark decontamination + Gopher-style repetition-quality rules
for training-corpus preparation over the `documents` table.

North-star LLM-pipeline surface (not reference parity — the reference
engine, elastic/mito, has no corpus operators; its closest analogue is
the per-value text processing in lib/strings.go). Shapes follow the
published recipes:

- Decontamination: 13-gram overlap against a benchmark/probe set
  (GPT-3 appendix C / Gopher section A.5 style). Both sides build
  distinct 13-token-shingle hashes; the probe side is benchmark-sized
  (small) and broadcast; contamination = fraction of a doc's distinct
  shingles that appear in the probe set. The join is a hash equi-join
  on the shingle hash — an all-pairs document comparison never exists.
- Repetition rules: Gopher table A1 style duplicate-line fraction,
  duplicate-word fraction, and top-2/3-gram share, computed per-row
  with sorted-array run-length folds — zero shuffles, so the filter
  runs at parquet-scan bandwidth at any corpus size.

Scale design (100 TB):
- The probe shingle set is bounded by benchmark size (millions of
  shingles at most) → broadcast; the corpus side never shuffles except
  the per-doc hit count, which is |matching shingles| rows, tiny.
- Per-doc distinct shingles are computed map-side (array_distinct on
  the row) before the explode, so the exploded stream is already
  deduplicated.
- Repetition metrics are pure column programs (aggregate folds over
  sorted n-gram arrays) — no groupBy, no window, no Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from mito_spark.engine import load_table
from mito_spark.functions.strings import fields

# 13 is the standard decontamination shingle width (GPT-3/Gopher).
NGRAM_N = 13
# Probe set = every 19th doc: a deterministic, SQL-expressible stand-in
# for "the benchmark suite" over the synthetic corpus.
PROBE_MOD = 19
# Contamination threshold: >= 80% of a doc's distinct shingles occur
# in the probe set. Compared in exact integer arithmetic (n_hit*5 >=
# n_grams*4) so both engines agree bit-for-bit.
CONTAM_NUM, CONTAM_DEN = 4, 5


def shingle_hashes(toks: Column, n: int) -> Column:
    """Distinct md5 hashes of every n-token shingle — md5 is a Catalyst
    built-in, so shingling is JVM-side and engine-portable."""
    # n O(1) element_at lookups per gram instead of an n-element slice
    # allocation inside the interpreted lambda (r13; measured 2.3× on
    # the dedup shingle twin of this pattern) — safe bare because the
    # outer guard admits only full windows
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - n + 1),
        lambda s: F.md5(F.concat_ws(" ", *[F.element_at(toks, s + j) for j in range(n)])),
    )
    # Guard BEFORE the sequence: for short docs sequence(1, k<1) counts
    # DOWN through 0 and slice(_, 0, _) throws — the row-level filter
    # upstream is not enough once Catalyst fuses filter+project.
    return F.when(F.size(toks) >= n, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def decontaminate(
    spark: SparkSession,
    sf_dir: str,
    n: int = NGRAM_N,
    probe_mod: int = PROBE_MOD,
) -> DataFrame:
    """Per-document probe-set overlap: (doc_id, n_grams, n_probe_hits,
    overlap_frac, contaminated) for every doc with >= n tokens.

    Plan: one broadcast of the probe shingle set, one explode-join to
    count hits, one small groupBy(doc_id) on the hit stream. Nothing
    quadratic; corpus docs never compare with each other.

    Two plan subtleties matter enormously here (23s -> ~2s at sf0.1):

    - ``toks`` is STAGED as a real column before any HOF references
      it. Higher-order functions are interpreted (outside whole-stage
      codegen), so a lambda body that embeds the tokenization
      *expression* re-runs the regexp split once per array element;
      an attribute reference is a free row lookup. CollapseProject
      keeps the stage because the reference is non-cheap and used
      more than once.
    - ``explode_outer`` instead of ``explode``: InferFiltersFromGenerate
      only fires for inner generates, and the filters it infers
      (size(ghs)>0, isnotnull(ghs)) get pushed below the projection
      with the full shingle expression inlined — recomputing the
      tokenization per shingle position per row. The outer generate
      emits a null gh for empty arrays, which the per_doc filter
      already precludes.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = fields(F.lower(F.col("text")))
    per_doc = (
        docs.select("doc_id", toks.alias("toks"))
        .where(F.size("toks") >= n)
        .select("doc_id", shingle_hashes(F.col("toks"), n).alias("ghs"))
    )
    probe = (
        per_doc.where(F.col("doc_id") % probe_mod == 0)
        .select(F.explode_outer("ghs").alias("gh"))
        .distinct()
    )
    hits = (
        per_doc.select("doc_id", F.explode_outer("ghs").alias("gh"))
        .join(F.broadcast(probe), "gh")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    n_hit = F.coalesce(F.col("n_hit"), F.lit(0))
    return (
        per_doc.select("doc_id", F.size("ghs").alias("n_grams"))
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            n_hit.alias("n_probe_hits"),
            F.round(n_hit.cast("double") / F.col("n_grams"), 6).alias("overlap_frac"),
            (n_hit * CONTAM_DEN >= F.col("n_grams") * CONTAM_NUM).alias("contaminated"),
        )
    )


DECONTAM_SQL = rf"""
WITH tok AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '') AS toks
  FROM documents
), spans AS (
  SELECT doc_id, toks, unnest(range(1, len(toks) - {NGRAM_N} + 2)) AS s
  FROM tok WHERE len(toks) >= {NGRAM_N}
), dg AS (
  SELECT DISTINCT doc_id, md5(array_to_string(toks[s:s+{NGRAM_N - 1}], ' ')) AS gh
  FROM spans
), probe AS (
  SELECT DISTINCT gh FROM dg WHERE doc_id % {PROBE_MOD} = 0
), tot AS (
  SELECT doc_id, count(*) AS n_grams FROM dg GROUP BY doc_id
), hits AS (
  SELECT dg.doc_id, count(*) AS n_hit FROM dg JOIN probe USING (gh) GROUP BY dg.doc_id
)
SELECT tot.doc_id AS doc_id,
       n_grams,
       coalesce(n_hit, 0) AS n_probe_hits,
       round(CAST(coalesce(n_hit, 0) AS DOUBLE) / n_grams, 6) AS overlap_frac,
       coalesce(n_hit, 0) * {CONTAM_DEN} >= n_grams * {CONTAM_NUM} AS contaminated
FROM tot LEFT JOIN hits ON tot.doc_id = hits.doc_id
"""


def max_run_len(arr: Column) -> Column:
    """Count of the most frequent element = longest equal-run in the
    sorted array; computed as an aggregate fold, per-row, no shuffle."""
    srt = F.array_sort(arr)
    init = F.struct(
        F.lit(0).alias("run"), F.lit(0).alias("best"), F.lit("").alias("prev")
    )

    def step(acc: Column, x: Column) -> Column:
        run = F.when(x == acc.getField("prev"), acc.getField("run") + 1).otherwise(
            F.lit(1)
        )
        return F.struct(
            run.alias("run"),
            F.greatest(acc.getField("best"), run).alias("best"),
            x.alias("prev"),
        )

    return F.aggregate(srt, init, step, lambda acc: acc.getField("best"))


def ngrams(toks: Column, n: int) -> Column:
    """Space-joined n-grams; empty array when the doc is too short.
    The n_tok >= n guard matters: sequence(1, k) with k < 1 would
    produce a DESCENDING sequence, not an empty one."""
    joined = F.transform(
        F.sequence(F.lit(1), F.size(toks) - n + 1),
        lambda s: F.concat_ws(" ", *[F.element_at(toks, s + j) for j in range(n)]),
    )
    return F.when(F.size(toks) >= n, joined).otherwise(
        F.array().cast("array<string>")
    )


def repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition metrics per document:

    - dup_word_frac: 1 - distinct/total tokens
    - dup_line_frac: 1 - distinct/total non-empty trimmed lines
    - top2_share / top3_share: share of all 2-/3-grams taken by the
      single most frequent one
    - repetition_flag: Gopher-ish thresholds (dup lines > 30%,
      top-2-gram > 20%, top-3-gram > 18%), evaluated in exact integer
      arithmetic so the flag is engine-portable.

    Entirely shuffle-free: every metric is a column program over the
    row's own token/line arrays (run-length folds over sorted arrays
    stand in for a groupBy-count of the mode).
    """
    docs = load_table(spark, sf_dir, "documents")
    # Stage toks/lines as columns, then the scalar metrics as columns,
    # THEN the derived ratios: every HOF lambda reads attributes, and
    # the run-length folds are computed once even though two output
    # columns reference them (see decontaminate's plan notes).
    lines = F.filter(
        F.transform(F.split(F.col("text"), "\n"), lambda x: F.trim(x)),
        lambda x: x != F.lit(""),
    )
    staged = docs.select(
        "doc_id", fields(F.lower(F.col("text"))).alias("toks"), lines.alias("lines")
    )
    tk, ln = F.col("toks"), F.col("lines")
    metrics = staged.select(
        "doc_id",
        F.size(tk).alias("n_tok"),
        F.size(F.array_distinct(tk)).alias("n_dist"),
        F.size(ln).alias("n_lines"),
        F.size(F.array_distinct(ln)).alias("n_dlines"),
        max_run_len(ngrams(tk, 2)).alias("run2"),
        max_run_len(ngrams(tk, 3)).alias("run3"),
    )
    n_tok, n_dist = F.col("n_tok"), F.col("n_dist")
    n_lines, n_dlines = F.col("n_lines"), F.col("n_dlines")
    run2, run3 = F.col("run2"), F.col("run3")
    tot2 = F.greatest(n_tok - 1, F.lit(0))
    tot3 = F.greatest(n_tok - 2, F.lit(0))
    flag = (
        ((n_lines - n_dlines) * 10 > n_lines * 3)
        | (run2 * 5 > tot2)
        | (run3 * 50 > tot3 * 9)
    )
    return metrics.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.round((n_tok - n_dist).cast("double") / F.greatest(n_tok, F.lit(1)), 6).alias(
            "dup_word_frac"
        ),
        F.round(
            (n_lines - n_dlines).cast("double") / F.greatest(n_lines, F.lit(1)), 6
        ).alias("dup_line_frac"),
        F.round(run2.cast("double") / F.greatest(tot2, F.lit(1)), 6).alias("top2_share"),
        F.round(run3.cast("double") / F.greatest(tot3, F.lit(1)), 6).alias("top3_share"),
        flag.alias("repetition_flag"),
    )


# The oracle computes the mode counts by explode+groupBy — a different
# algorithm than the Spark run-length fold, which is the point: two
# independent derivations must agree bit-for-bit.
REPETITION_SQL = r"""
WITH base AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '') AS toks,
         list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)), x -> x <> '') AS lines
  FROM documents
), g2 AS (
  SELECT doc_id, toks[i] || ' ' || toks[i+1] AS gram
  FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM base WHERE len(toks) >= 2)
), a2 AS (
  SELECT doc_id, max(c) AS top2 FROM (
    SELECT doc_id, gram, count(*) AS c FROM g2 GROUP BY doc_id, gram
  ) GROUP BY doc_id
), g3 AS (
  SELECT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS gram
  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i FROM base WHERE len(toks) >= 3)
), a3 AS (
  SELECT doc_id, max(c) AS top3 FROM (
    SELECT doc_id, gram, count(*) AS c FROM g3 GROUP BY doc_id, gram
  ) GROUP BY doc_id
)
SELECT b.doc_id AS doc_id,
       len(toks) AS n_tokens,
       round(CAST(len(toks) - len(list_distinct(toks)) AS DOUBLE)
             / greatest(len(toks), 1), 6) AS dup_word_frac,
       round(CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE)
             / greatest(len(lines), 1), 6) AS dup_line_frac,
       round(CAST(coalesce(top2, 0) AS DOUBLE)
             / greatest(len(toks) - 1, 1), 6) AS top2_share,
       round(CAST(coalesce(top3, 0) AS DOUBLE)
             / greatest(len(toks) - 2, 1), 6) AS top3_share,
       ((len(lines) - len(list_distinct(lines))) * 10 > len(lines) * 3
        OR coalesce(top2, 0) * 5 > greatest(len(toks) - 1, 0)
        OR coalesce(top3, 0) * 50 > greatest(len(toks) - 2, 0) * 9) AS repetition_flag
FROM base b
LEFT JOIN a2 ON b.doc_id = a2.doc_id
LEFT JOIN a3 ON b.doc_id = a3.doc_id
"""


# --- Bloom-filter decontamination: the broadcast-bitset scale path ----

BLOOM_TARGET_FP = 0.15  # quarantine-rate budget: every Bloom FP costs
# one exact re-check, so the target IS the extra-verify spend; 0.15
# keeps the gate corpus's measured-FP leg statistically meaningful
# (a production benchmark sets ~1e-4 and pays ~15 bits/shingle)
# gate-SF floor constants (the static oracle SQL is generated with
# these; tests assert the sf0.01 corpus derives exactly them): the
# 1,179 gate probe shingles at target 0.15 need ceil(n·ln p / −ln²2)
# = 4,655 bits -> next pow2 8192; k = HALF_UP(ln2 · m/n) = 5
BLOOM_M = 8192
BLOOM_K = 5
BLOOM_SAMPLE_TARGET = 2048  # expected shingle-type budget for the
# measured-FP leg (same COUNT(*)-derived threshold discipline as
# cms_calibration_report)


def _bloom_size(n_probe: int, target_fp: float = BLOOM_TARGET_FP) -> tuple[int, int]:
    """Standard Bloom sizing from the PROBE-SET count (benchmark-
    bounded, never the corpus): m = −n·ln p / ln²2 rounded UP to a
    power of two (cheap modulo, stable plateaus), k = HALF_UP(ln2·m/n)
    clamped to [1, 16]. The auto_* discipline every other knob
    follows — derived from measured data, flooring to the static
    oracle's constants at the gate SF."""
    import math

    n = max(n_probe, 1)
    m_raw = math.ceil(-n * math.log(target_fp) / (math.log(2) ** 2))
    m = 1 << (max(m_raw, 2) - 1).bit_length()
    k = min(max(1, int(math.log(2) * m / n + 0.5)), 16)
    return m, k


def _bloom_pos(gh: Column, k: int, m: int = BLOOM_M) -> Column:
    from mito_spark.operators.dedup import hash60

    return hash60(gh, F.lit(f"bl{k}")) % m


def bloom_decontaminate_report(
    spark: SparkSession,
    sf_dir: str,
    n: int = NGRAM_N,
    probe_mod: int = PROBE_MOD,
) -> DataFrame:
    """Bloom-filter decontamination (Bloom, CACM'70) beside the exact
    probe join, with its false-positive rate MEASURED: the probe set's
    13-gram hashes populate a K-hash M-bit filter, every corpus
    shingle tests membership (all K positions set), and the one-row
    report compares doc-level contamination flags under the Bloom
    probe against ``decontaminate``'s exact semantics — plus a
    shingle-TYPE-level FP rate measured on a hash-sampled type set.

    M and K are AUTO-SIZED from the measured probe-set count and
    BLOOM_TARGET_FP (``_bloom_size``: m = −n·ln p/ln²2 rounded up to a
    power of two, k = HALF_UP(ln2·m/n) — the auto_* discipline every
    other knob follows; the gate corpus derives exactly the static
    oracle's constants, pytest-pinned), and the report carries the
    textbook prediction (1 − e^{−kn/m})^k beside the measured rate —
    measured-within-3σ-of-predicted is a standing test.

    Why it earns its place at 100 TB: the exact decontamination join
    ships the PROBE SET to every task (already broadcast — benchmark-
    sized), but its hash table is 16+ bytes per shingle; the Bloom
    form is M BITS total (a 4 KB bitset here; ~2 MB for a 1M-shingle
    benchmark at 15 bits/element) with zero false NEGATIVES — the
    guarantee decontamination actually needs, since a false positive
    only quarantines an extra doc for the exact re-check, while a
    false negative leaks an eval document into training. The
    two-stage production shape (Bloom prefilter at scan bandwidth,
    exact verify restricted to flagged docs) is the same
    candidates-then-verify pattern as heavy_hitters, and this report
    measures the quarantine rate that prefilter would pay. Membership
    is an ACTUAL bitset test: the M bits live in one broadcast row of
    M/64 longs and every shingle's K positions are checked in-row
    (element_at + shift/AND), fully declarative and hash-oracled on
    both engines.

    Scale shape (r13, guide §4-adjacent in spirit but fully JVM): the
    filter is materialized as ONE dense bitset row — M/64 longs built
    by a bit_or rollup over the probe positions — broadcast and
    probed IN-ROW (array element_at + shift/AND per position), so the
    corpus side never multiplies rows by K: the old explode x K →
    position semi-join → (doc, shingle) re-aggregation is now a
    per-row forall over the K positions, and the whole per-doc report
    (n_grams / n_exact / n_bloom) collapses into ONE broadcast probe
    join + ONE groupBy(doc_id) instead of three doc-keyed aggregates
    glued by two left joins. The FP leg samples shingle TYPES with an
    integer threshold derived from the exact (doc, shingle) pair
    count (E|types| <= BLOOM_SAMPLE_TARGET at any corpus size; the
    oracle derives the SAME rule from COUNT(*)) and probes the same
    bitset in-row. Every count in the report is integer-exact; the
    one division guards its zero denominator identically on both
    engines.

    False negatives are structurally impossible (a probe shingle's
    own K positions are always set); the report COMPUTES the count
    anyway — a nonzero value would expose a broken position hash, the
    same measure-don't-trust contract as minhash_estimate_report.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = fields(F.lower(F.col("text")))
    per_doc = (
        docs.select("doc_id", toks.alias("toks"))
        .where(F.size("toks") >= n)
        .select("doc_id", shingle_hashes(F.col("toks"), n).alias("ghs"))
    )
    pairs = per_doc.select(
        "doc_id", F.explode_outer("ghs").alias("gh")
    ).localCheckpoint()  # one shingle pass feeds probe/bloom/exact/sample legs
    probe = (
        pairs.where(F.col("doc_id") % probe_mod == 0).select("gh").distinct()
        .localCheckpoint()  # counted for sizing, then reused by 3 legs
    )
    # auto-sized filter: M bits / K hashes derived from the probe-set
    # count and the target FP (plan-time constants — the count is the
    # benchmark-bounded probe set, one bounded job)
    m_bits, k_hashes = _bloom_size(probe.count())
    n_words = m_bits // 64
    posarr = F.array(*[_bloom_pos(F.col("gh"), k, m_bits) for k in range(k_hashes)])
    # ONE dense bitset row (M/64 longs): bit_or rollup over the probe
    # positions, gaps zero-filled — duplicates need no distinct pass.
    # call_function passes the COLUMN shift amount the F.shiftleft
    # wrapper refuses (it only takes literal ints).
    one = F.lit(1).cast("bigint")
    sparse = (
        probe.select(F.explode(posarr).alias("pos"))
        .groupBy(F.shiftright(F.col("pos"), 6).alias("w"))
        .agg(
            F.bit_or(
                F.call_function(
                    "shiftleft", one, F.col("pos").bitwiseAND(F.lit(63)).cast("int")
                )
            ).alias("bits")
        )
    )
    bitmap = (
        sparse.agg(
            F.map_from_entries(F.collect_list(F.struct("w", "bits"))).alias("bmm")
        )
        .select(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_words - 1)),
                lambda i: F.coalesce(
                    F.element_at(F.col("bmm"), i.cast("bigint")),
                    F.lit(0).cast("bigint"),
                ),
            ).alias("bm")
        )
        .localCheckpoint()  # 1 row; two consumers (doc report + FP leg)
    )

    def _one_pos_set(p):
        # element_at index is 1-based; the bitset array is dense
        return (
            F.element_at(F.col("bm"), (F.shiftright(p, 6) + 1).cast("int"))
            .bitwiseAND(
                F.call_function(
                    "shiftleft", one, p.bitwiseAND(F.lit(63)).cast("int")
                )
            )
            != 0
        )

    def _bloom_hit():
        # all K positions set <=> the shingle passes the filter. K is
        # a plan-time constant, so the conjunction is UNROLLED into
        # plain codegen-able expressions — a forall() over posarr
        # computes the same thing but runs the interpreted-HOF path
        # (measured 2.0 s vs 1.2 s for this leg at sf0.1)
        out = _one_pos_set(_bloom_pos(F.col("gh"), 0, m_bits))
        for k in range(1, k_hashes):
            out = out & _one_pos_set(_bloom_pos(F.col("gh"), k, m_bits))
        return out

    probe_inp = F.broadcast(probe.withColumn("inp", F.lit(1)))
    stats = (
        pairs.join(probe_inp, "gh", "left")
        .crossJoin(F.broadcast(bitmap))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce(F.col("inp"), F.lit(0))).alias("n_exact"),
            F.sum(_bloom_hit().cast("int")).alias("n_bloom"),
        )
    )
    fe = (F.col("n_exact") * CONTAM_DEN >= F.col("n_grams") * CONTAM_NUM).cast("int")
    fb = (F.col("n_bloom") * CONTAM_DEN >= F.col("n_grams") * CONTAM_NUM).cast("int")
    dagg = stats.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(fe).alias("contam_docs_exact"),
        F.sum(fb).alias("contam_docs_bloom"),
        F.sum(((fb == 1) & (fe == 0)).cast("int")).alias("extra_flagged_docs"),
    )
    np_ = probe.agg(F.count(F.lit(1)).alias("n_probe_shingles"))
    # FP leg: hash-sampled shingle types; integer threshold from the
    # pair count (clamp is semantics-free: any bound above 2^60 keeps
    # every type on both engines)
    n_pairs = pairs.count()
    thr = min((BLOOM_SAMPLE_TARGET << 60) // max(n_pairs, 1), 1 << 62)
    from mito_spark.operators.dedup import hash60

    stypes = (
        pairs.where(hash60(F.col("gh"), F.lit("bls")) < F.lit(thr))
        .select("gh")
        .distinct()
    )
    sagg = (
        stypes.join(probe_inp, "gh", "left")
        .crossJoin(F.broadcast(bitmap))
        .select(
            _bloom_hit().cast("int").alias("b"),
            F.col("inp").isNotNull().cast("int").alias("e"),
        )
        .agg(
            F.count(F.lit(1)).alias("sample_lookups"),
            F.sum(((F.col("b") == 1) & (F.col("e") == 0)).cast("int")).alias(
                "sample_fp"
            ),
            F.sum(((F.col("e") == 1) & (F.col("b") == 0)).cast("int")).alias(
                "false_negatives"
            ),
            F.sum("e").alias("strue"),
        )
    )
    neg = F.col("sample_lookups") - F.col("strue")
    # textbook prediction (1 - e^{-kn/m})^k from the DERIVED m/k and
    # the measured probe count — 9dp-rounded exp, then an explicit
    # k-factor product (identical expression trees on both engines;
    # no pow() ulp hazard)
    e9 = F.round(
        F.exp(
            -(F.lit(float(k_hashes)) * F.col("n_probe_shingles").cast("double"))
            / F.lit(float(m_bits))
        ),
        9,
    )
    pred = F.lit(1.0) - e9
    for _ in range(k_hashes - 1):
        pred = pred * (F.lit(1.0) - e9)
    return (
        dagg.crossJoin(F.broadcast(np_))
        .crossJoin(F.broadcast(sagg))
        .select(
            "n_probe_shingles",
            F.lit(m_bits).cast("bigint").alias("m_bits"),
            F.lit(k_hashes).cast("bigint").alias("k_hashes"),
            "n_docs",
            "contam_docs_exact",
            "contam_docs_bloom",
            "extra_flagged_docs",
            "sample_lookups",
            "sample_fp",
            "false_negatives",
            F.round(pred, 6).alias("predicted_fp"),
            F.when(
                neg > 0, F.round(F.col("sample_fp").cast("double") / neg, 6)
            ).alias("fp_rate"),
        )
    )


def _bloom_sql(n: int = NGRAM_N, probe_mod: int = PROBE_MOD) -> str:
    pos60 = (
        "CAST('0x' || substr(md5('bl' || CAST({k} AS VARCHAR) || ':' || {gh}), 1, 15)"
        f" AS BIGINT) % {BLOOM_M}"
    )
    return rf"""
WITH tok AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '') AS toks
  FROM documents
), spans AS (
  SELECT doc_id, toks, unnest(range(1, len(toks) - {n} + 2)) AS s
  FROM tok WHERE len(toks) >= {n}
), dg AS (
  SELECT DISTINCT doc_id, md5(array_to_string(toks[s:s+{n - 1}], ' ')) AS gh
  FROM spans
), probe AS (
  SELECT DISTINCT gh FROM dg WHERE doc_id % {probe_mod} = 0
), bloomset AS (
  SELECT DISTINCT {pos60.format(k="t.k", gh="probe.gh")} AS pos
  FROM probe, range(0, {BLOOM_K}) t(k)
), kin AS (
  SELECT q.doc_id, q.gh, count(*) AS kin
  FROM (SELECT dg.doc_id, dg.gh, {pos60.format(k="t.k", gh="dg.gh")} AS pos
        FROM dg, range(0, {BLOOM_K}) t(k)) q
  JOIN bloomset USING (pos)
  GROUP BY q.doc_id, q.gh
), nb AS (
  SELECT doc_id, count(*) AS n_bloom FROM kin WHERE kin = {BLOOM_K} GROUP BY doc_id
), ne AS (
  SELECT dg.doc_id, count(*) AS n_exact FROM dg JOIN probe USING (gh) GROUP BY dg.doc_id
), tot AS (
  SELECT doc_id, count(*) AS n_grams FROM dg GROUP BY doc_id
), dagg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(SUM(CASE WHEN coalesce(n_exact, 0) * {CONTAM_DEN} >= n_grams * {CONTAM_NUM} THEN 1 ELSE 0 END) AS BIGINT) AS contam_docs_exact,
         CAST(SUM(CASE WHEN coalesce(n_bloom, 0) * {CONTAM_DEN} >= n_grams * {CONTAM_NUM} THEN 1 ELSE 0 END) AS BIGINT) AS contam_docs_bloom,
         CAST(SUM(CASE WHEN coalesce(n_bloom, 0) * {CONTAM_DEN} >= n_grams * {CONTAM_NUM}
                        AND coalesce(n_exact, 0) * {CONTAM_DEN} < n_grams * {CONTAM_NUM}
                   THEN 1 ELSE 0 END) AS BIGINT) AS extra_flagged_docs
  FROM tot LEFT JOIN ne USING (doc_id) LEFT JOIN nb USING (doc_id)
), np AS (
  SELECT CAST(count(*) AS BIGINT) AS n_probe_shingles FROM probe
), npairs AS (
  SELECT count(*) AS n_pairs FROM dg
), stypes AS (
  SELECT DISTINCT gh FROM dg, npairs
  WHERE CAST('0x' || substr(md5('bls:' || gh), 1, 15) AS BIGINT)
        < CAST({BLOOM_SAMPLE_TARGET} AS HUGEINT) * {1 << 60} // n_pairs
), skin AS (
  SELECT q.gh, count(*) AS kin
  FROM (SELECT s.gh, {pos60.format(k="t.k", gh="s.gh")} AS pos
        FROM stypes s, range(0, {BLOOM_K}) t(k)) q
  JOIN bloomset USING (pos)
  GROUP BY q.gh
), sflag AS (
  SELECT CASE WHEN coalesce(k2.kin, 0) = {BLOOM_K} THEN 1 ELSE 0 END AS b,
         CASE WHEN p.gh IS NOT NULL THEN 1 ELSE 0 END AS e
  FROM stypes s LEFT JOIN skin k2 ON s.gh = k2.gh LEFT JOIN probe p ON s.gh = p.gh
), sagg AS (
  SELECT CAST(count(*) AS BIGINT) AS sample_lookups,
         CAST(SUM(CASE WHEN b = 1 AND e = 0 THEN 1 ELSE 0 END) AS BIGINT) AS sample_fp,
         CAST(SUM(CASE WHEN e = 1 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS false_negatives,
         CAST(SUM(e) AS BIGINT) AS strue
  FROM sflag
)
SELECT n_probe_shingles,
       CAST({BLOOM_M} AS BIGINT) AS m_bits,
       CAST({BLOOM_K} AS BIGINT) AS k_hashes,
       n_docs, contam_docs_exact, contam_docs_bloom,
       extra_flagged_docs, sample_lookups, sample_fp, false_negatives,
       ROUND({" * ".join(["(1.0 - e9)"] * BLOOM_K)}, 6) AS predicted_fp,
       CASE WHEN sample_lookups - strue > 0
            THEN ROUND(CAST(sample_fp AS DOUBLE) / (sample_lookups - strue), 6)
            END AS fp_rate
FROM dagg, np, sagg,
     (SELECT ROUND(EXP(-(CAST({BLOOM_K} AS DOUBLE) * CAST(n_probe_shingles AS DOUBLE)) / CAST({BLOOM_M} AS DOUBLE)), 9) AS e9 FROM np) pe
"""


BLOOM_DECONTAM_SQL = _bloom_sql()


# --- decontamination n-gram sensitivity ladder --------------------------

DECONTAM_NS = (8, 13, 21)  # the convention (13) bracketed one step
# looser and one stricter — GPT-3 App. C used 13, Gopher A.5 varied
# 8-13 by dataset; the ladder measures what the choice costs HERE


def decontam_ngram_ladder(
    spark: SparkSession,
    sf_dir: str,
    ns: tuple[int, ...] = DECONTAM_NS,
    probe_mod: int = PROBE_MOD,
) -> DataFrame:
    """Contamination-rule sensitivity in one table: the 13-gram
    overlap convention re-measured at a looser and a stricter shingle
    width. Per n: docs checked (>= n tokens), probe-set size,
    contaminated docs under the standing 80% rule, and the mean
    overlap fraction — the row a decontamination rollout reads before
    trusting the convention on ITS corpus (shorter n flags more,
    longer n can silently exempt short docs: the n_docs column makes
    that visible instead of folding it into the rate).

    Scale shape (r13, guide §2.2 — the ngram_entropy ladder fold): ONE
    tokenize+shingle pass stages every rung's distinct-hash array as
    (n, ghs) struct entries in a single checkpointed column — the r12
    shape re-ran the md5 shingling from the staged tokens for every
    rung's probe build, hit count AND gram count (~6 full-corpus
    shingle passes for a 3-rung ladder). One explode then feeds ONE
    combined (n, gh)-keyed probe/hit plan and one (n, doc)-keyed flag
    rollup for all rungs together; absent rungs are restored by a
    left join against the literal rung list (same NULL row the old
    empty aggregate produced). Mean overlap is a 9dp-decimal sum
    (order-free) finished at 6dp.
    """
    docs = load_table(spark, sf_dir, "documents")
    staged_toks = docs.select(
        "doc_id", fields(F.lower(F.col("text"))).alias("toks")
    )
    rung_structs = [
        F.when(
            F.size("toks") >= n,
            F.array(
                F.struct(
                    F.lit(n).alias("n"),
                    shingle_hashes(F.col("toks"), n).alias("ghs"),
                )
            ),
        ).otherwise(F.array().cast("array<struct<n:int,ghs:array<string>>>"))
        for n in ns
    ]
    staged = staged_toks.select(
        "doc_id", F.concat(*rung_structs).alias("rungs")
    ).localCheckpoint()
    per = staged.select("doc_id", F.explode("rungs").alias("r")).select(
        "doc_id", F.col("r.n").alias("n"), F.col("r.ghs").alias("ghs")
    )
    pairs = per.select(
        "doc_id", "n", F.explode_outer("ghs").alias("gh")
    ).localCheckpoint()
    probe = (
        pairs.where(F.col("doc_id") % probe_mod == 0)
        .select("n", "gh")
        .distinct()
        .localCheckpoint()  # two consumers: the hit join and the size rollup
    )
    hits = (
        pairs.join(F.broadcast(probe), ["n", "gh"])
        .groupBy("n", "doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    n_hit = F.coalesce(F.col("n_hit"), F.lit(0))
    flags = (
        per.select("doc_id", "n", F.size("ghs").alias("n_grams"))
        .join(hits, ["n", "doc_id"], "left")
        .select(
            "n",
            (n_hit * CONTAM_DEN >= F.col("n_grams") * CONTAM_NUM)
            .cast("int")
            .alias("c"),
            F.round(n_hit.cast("double") / F.col("n_grams"), 9)
            .cast("decimal(20,9)")
            .alias("frac"),
        )
    )
    agg = flags.groupBy("n").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.coalesce(F.sum("c"), F.lit(0)).cast("bigint").alias("contam_docs"),
        F.round(
            F.try_divide(
                F.sum("frac").cast("double"), F.count(F.lit(1)).cast("double")
            ),
            6,
        ).alias("mean_overlap"),
    )
    np_ = probe.groupBy("n").agg(F.count(F.lit(1)).alias("n_probe_shingles"))
    rungs = spark.createDataFrame([(int(n),) for n in ns], "n int")
    return (
        rungs.join(agg, "n", "left")
        .join(np_, "n", "left")
        .select(
            F.col("n").cast("bigint").alias("ngram_n"),
            F.coalesce(F.col("n_docs"), F.lit(0)).cast("bigint").alias("n_docs"),
            F.coalesce(F.col("n_probe_shingles"), F.lit(0))
            .cast("bigint")
            .alias("n_probe_shingles"),
            F.coalesce(F.col("contam_docs"), F.lit(0))
            .cast("bigint")
            .alias("contam_docs"),
            "mean_overlap",
        )
        .orderBy("ngram_n")
    )


def _decontam_ladder_sql(
    ns: tuple[int, ...] = DECONTAM_NS, probe_mod: int = PROBE_MOD
) -> str:
    parts = [
        r"""
WITH tok AS MATERIALIZED (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '') AS toks
  FROM documents
)"""
    ]
    rows = []
    for n in ns:
        parts.append(f""", dg{n} AS MATERIALIZED (
  SELECT DISTINCT doc_id, md5(array_to_string(toks[s:s+{n - 1}], ' ')) AS gh
  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - {n} + 2)) AS s
        FROM tok WHERE len(toks) >= {n})
), probe{n} AS MATERIALIZED (
  SELECT DISTINCT gh FROM dg{n} WHERE doc_id % {probe_mod} = 0
), flags{n} AS (
  SELECT CASE WHEN coalesce(h.n_hit, 0) * {CONTAM_DEN} >= t.n_grams * {CONTAM_NUM} THEN 1 ELSE 0 END AS c,
         CAST(ROUND(CAST(coalesce(h.n_hit, 0) AS DOUBLE) / t.n_grams, 9) AS DECIMAL(20,9)) AS frac
  FROM (SELECT doc_id, count(*) AS n_grams FROM dg{n} GROUP BY doc_id) t
  LEFT JOIN (SELECT dg{n}.doc_id, count(*) AS n_hit
             FROM dg{n} JOIN probe{n} USING (gh) GROUP BY dg{n}.doc_id) h
  USING (doc_id)
)""")
        rows.append(f"""SELECT CAST({n} AS BIGINT) AS ngram_n,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM flags{n}) AS n_docs,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM probe{n}) AS n_probe_shingles,
       (SELECT CAST(coalesce(SUM(c), 0) AS BIGINT) FROM flags{n}) AS contam_docs,
       (SELECT ROUND(CAST(SUM(frac) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) FROM flags{n}) AS mean_overlap""")
    return "".join(parts) + "\n" + "\nUNION ALL\n".join(rows) + "\nORDER BY ngram_n\n"


DECONTAM_LADDER_SQL = _decontam_ladder_sql()
