"""Distributed Naive-Bayes text classifiers — the TRAINING step the
pipeline family previously lacked (every other quality/lang surface
applies a fixed heuristic; these FIT a model from the corpus, then
evaluate it on a held-out split, all inside the engine).

Two operators share the recipe:

- ``nb_langid_report`` — char-trigram NB language ID trained on the
  ``lang`` labels; model size is bounded by charset³ regardless of
  corpus size (the classic langid.py / CLD feature space).
- ``quality_classifier_report`` — hashed-unigram NB quality filter
  (the fastText / GPT-3 quality-classifier shape): words hash into a
  FIXED 4096-bucket feature space, so the model is constant-size at
  any corpus scale — the trick that makes "train a quality classifier
  on the whole crawl" a bounded-state job.

Why Naive Bayes and not logistic regression: NB training IS counting
— one groupBy over (label, feature) — so the trainer is exactly
expressible in both engines and the whole train+score+evaluate loop
sits under the hash gate (a gradient trainer would be oracle-blind).
At 100 TB the NB counting pass is the same shape as a token-count
rollup: map-side combine into a model frame bounded by
|labels| × |feature space|.

Determinism recipe (shared with the surprisal/KN/unigram-LM family):
log-probabilities round at 9dp into DECIMAL(13,9); per-gram
contributions multiply by exact integer counts and SUM as decimals
(exact, order-free); the argmax over per-class decimal scores breaks
ties by label asc. No float ever reaches the hash gate — outputs are
label/count frames only.

Oracle caveat, stated honestly: the synthetic corpus draws the same
vocabulary for every ``lang`` value and carries no real quality
signal, so the measured confusions hover near the class priors (the
quality label is a length proxy the classifier does learn). The
operators' object is the distributed train/score/evaluate machinery,
which is corpus-agnostic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mito_spark.engine import load_table, spread
from mito_spark.functions.strings import fields

# Language-ID features: char trigrams over the first NB_PREFIX chars —
# the prefix cap bounds per-doc feature work (and the score join) the
# way production langid does; 512 chars carries the full signal.
NB_PREFIX = 512
# Deterministic 80/20 split on md5(doc_id) — the split_leakage_check
# convention (dedup.py split:v1), portable to the oracle.
NB_TRAIN_BUCKETS = 8
# Hashed feature space for the quality classifier: fixed size ⇒ the
# model frame is 2 × QC_BUCKETS rows at ANY corpus size.
QC_BUCKETS = 4096
# Weak quality label: word-count threshold (the synthetic corpus has
# no richer signal; swap for a C4-keep or model-judge label column in
# production — the trainer is label-agnostic).
QC_MIN_WORDS = 40


def split_bucket(doc_id: Column, salt: str) -> Column:
    """Portable 0..9 bucket from md5 — train iff bucket < NB_TRAIN_BUCKETS."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt), doc_id.cast("string"))), 1, 15
            ),
            16,
            10,
        ).cast("bigint")
        % 10
    )


def _chars(p: Column) -> Column:
    """Code-point character array of ``p`` — ``(?s)(.)`` matches every
    code point including newlines (regexp, not split(''): Java split
    cuts UTF-16 surrogate pairs apart, which would diverge from the
    oracle's code-point substr on non-BMP text)."""
    return F.regexp_extract_all(p, F.lit(r"(?s)(.)"), 1)


def _char_trigrams(chars: Column) -> Column:
    """All char trigrams from a STAGED char-array column (positions,
    not distinct — NB wants occurrence counts). Per gram: three O(1)
    ``element_at`` lookups + one ``concat_ws`` (null-skipping, like
    the form it replaced) — the r1-r12
    ``concat_ws("", slice(chars, i, 3))`` form allocated a 3-element
    array per position inside the interpreted lambda and measured
    4.3× slower on the 10× corpus (3.39 → 0.79 s model-build leg,
    r13); the earlier-rejected ``p.substr(i, 3)`` form pays a
    code-point scan from the string start per position — O(prefix²)
    per doc, 2.1× slower still. Guarded so len<3 yields an empty
    array (a bare sequence(1, len-2) would generate a DESCENDING
    range). The caller must stage ``chars`` as a real column; the
    double reference here (size + element_at) keeps CollapseProject
    from inlining the extraction into the lambda."""
    idx = F.when(
        F.size(chars) >= 3, F.sequence(F.lit(1), F.size(chars) - 2)
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(
        idx,
        lambda i: F.concat_ws(
            "", F.element_at(chars, i), F.element_at(chars, i + 1), F.element_at(chars, i + 2)
        ),
    )


def _langid_model(spark: SparkSession, sf_dir: str):
    """Shared trainer frames: (staged, model, tot, vocab) — the
    80%-split char-trigram count model consumed by the evaluation
    report and the feature-importance surface. model is checkpointed
    (bounded, multi-consumer — see the note inside)."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    staged = (
        docs.select(
            "doc_id",
            "lang",
            (
                split_bucket(F.col("doc_id"), "nbsplit:v1:") < NB_TRAIN_BUCKETS
            ).alias("is_train"),
            F.substring(F.lower(F.col("text")), 1, NB_PREFIX).alias("p"),
        )
        .select(
            "doc_id", "lang", "is_train", _chars(F.col("p")).alias("chars")
        )
        .select(
            "doc_id",
            "lang",
            "is_train",
            _char_trigrams(F.col("chars")).alias("grams"),
        )
    )

    # explode_outer, not explode: InferFiltersFromGenerate would push
    # size()/isnotnull filters below the projection with the FULL
    # trigram transform inlined — re-evaluating the substring chain
    # per element per filter, measured 11.2 s -> ~2 s for the model
    # build at sf0.1 (the decontam.py Generate lesson); the null row
    # an empty-gram doc emits is dropped on the cheap generated
    # attribute instead
    tg = (
        staged.where("is_train")
        .select("lang", F.explode_outer("grams").alias("g"))
        .where(F.col("g").isNotNull())
    )
    # Checkpoint the MODEL frame: it is bounded (≤ charset³ × |langs|)
    # and has multiple consumers (tot, vocab, logp, feature ranks) —
    # without the materialization each consumer re-runs the
    # corpus-sized trigram explode (identical-subplan exchange reuse
    # does NOT survive the differing downstream projections; measured
    # 15.6 s → 44 s when a third consumer appeared at sf0.1, back to
    # ~6 s checkpointed)
    model = (
        tg.groupBy("lang", "g").agg(F.count(F.lit(1)).alias("n")).localCheckpoint()
    )
    tot = model.groupBy("lang").agg(F.sum("n").alias("tot"))
    vocab = model.agg(F.countDistinct("g").alias("v"))
    return staged, model, tot, vocab


def nb_langid_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train char-trigram Naive Bayes language ID on the 80% split,
    score the held-out 20%, return the confusion matrix
    (true_lang, predicted_lang, n_docs).

    Model: add-1 (Laplace) smoothing over the train-vocab event space
    V: logp(g|c) = ln((n_gc+1)/(tot_c+V)); any (gram, class) pair
    without a train count — including grams unseen in train entirely —
    scores the class fallback ln(1/(tot_c+V)). Docs with no trigrams
    predict 'und'.

    Scale shape: ONE corpus shuffle to gram counts on each side of the
    split (map-side combine; train side collapses into the bounded
    model frame ≤ charset³ × |langs|). Scoring joins test (doc, gram,
    cnt) against the model on (lang, gram) — model side bounded, AQE
    picks broadcast when it fits (not hinted, per ADVICE r9 on
    "vocab-sized" claims); the |langs|-row prior frame IS hinted (its
    bound is structural, not statistical). The per-doc argmax is a
    window over |langs| rows per doc — never a corpus-global window.
    All 1-row totals (vocab size, train doc count) broadcast.
    """
    staged, model, tot, vocab = _langid_model(spark, sf_dir)

    trdocs = (
        staged.where("is_train").groupBy("lang").agg(F.count(F.lit(1)).alias("nd"))
    )
    ntr = staged.where("is_train").agg(F.count(F.lit(1)).alias("ntr"))
    langs = (
        trdocs.crossJoin(F.broadcast(ntr))
        .join(tot, "lang")
        .crossJoin(F.broadcast(vocab))
        .select(
            "lang",
            F.round(
                F.log(F.col("nd").cast("double") / F.col("ntr")), 9
            )
            .cast("decimal(13,9)")
            .alias("prior"),
            F.round(
                F.log(F.lit(1.0) / (F.col("tot") + F.col("v")).cast("double")), 9
            )
            .cast("decimal(13,9)")
            .alias("fb"),
        )
    )
    logp = (
        model.join(tot, "lang")
        .crossJoin(F.broadcast(vocab))
        .select(
            "lang",
            "g",
            F.round(
                F.log(
                    (F.col("n") + 1).cast("double")
                    / (F.col("tot") + F.col("v")).cast("double")
                ),
                9,
            )
            .cast("decimal(13,9)")
            .alias("logp"),
        )
    )

    te = staged.where(~F.col("is_train"))
    tgc = (
        te.select("doc_id", F.explode_outer("grams").alias("g"))
        .where(F.col("g").isNotNull())
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    contrib = tgc.crossJoin(F.broadcast(langs)).join(
        logp, ["lang", "g"], "left"
    )
    scores = (
        contrib.select(
            "doc_id",
            "lang",
            "prior",
            (
                F.col("cnt").cast("decimal(19,0)")
                * F.coalesce(F.col("logp"), F.col("fb"))
            ).alias("c"),
        )
        .groupBy("doc_id", "lang", "prior")
        .agg(F.sum("c").alias("s"))
        .select("doc_id", "lang", (F.col("prior") + F.col("s")).alias("score"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("lang"))
    pred = (
        scores.withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .select("doc_id", F.col("lang").alias("predicted_lang"))
    )
    return (
        te.select("doc_id", F.col("lang").alias("true_lang"))
        .join(pred, "doc_id", "left")
        .groupBy(
            "true_lang",
            F.coalesce(F.col("predicted_lang"), F.lit("und")).alias(
                "predicted_lang"
            ),
        )
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("true_lang", "predicted_lang")
    )


# Shared model-CTE prefix (staged split + trigram extraction + count
# model) — composed into both the evaluation oracle and the
# feature-importance oracle so the twins cannot drift.
_NB_MODEL_CTES = rf"""
WITH staged AS (
  SELECT doc_id, lang,
         CAST('0x' || substr(md5('nbsplit:v1:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 10 < {NB_TRAIN_BUCKETS} AS is_train,
         CASE WHEN length(substr(lower(text), 1, {NB_PREFIX})) >= 3
              THEN list_transform(range(1, length(substr(lower(text), 1, {NB_PREFIX})) - 1),
                                  i -> substr(substr(lower(text), 1, {NB_PREFIX}), CAST(i AS INTEGER), 3))
              ELSE CAST([] AS VARCHAR[]) END AS grams
  FROM documents
), tg AS (
  SELECT lang, unnest(grams) AS g FROM staged WHERE is_train
), model AS (
  SELECT lang, g, COUNT(*) AS n FROM tg GROUP BY 1, 2
), tot AS (
  SELECT lang, SUM(n) AS tot FROM model GROUP BY 1
), vocab AS (
  SELECT COUNT(DISTINCT g) AS v FROM tg
)"""

NB_LANGID_SQL = _NB_MODEL_CTES + rf""", langs AS (
  SELECT d.lang,
         CAST(ROUND(ln(CAST(d.nd AS DOUBLE) / n.ntr), 9) AS DECIMAL(13,9)) AS prior,
         CAST(ROUND(ln(1.0 / CAST(t.tot + vocab.v AS DOUBLE)), 9) AS DECIMAL(13,9)) AS fb
  FROM (SELECT lang, COUNT(*) AS nd FROM staged WHERE is_train GROUP BY 1) d
  CROSS JOIN (SELECT COUNT(*) AS ntr FROM staged WHERE is_train) n
  JOIN tot t ON t.lang = d.lang
  CROSS JOIN vocab
), logp AS (
  SELECT m.lang, m.g,
         CAST(ROUND(ln(CAST(m.n + 1 AS DOUBLE) / CAST(t.tot + vocab.v AS DOUBLE)), 9) AS DECIMAL(13,9)) AS logp
  FROM model m JOIN tot t ON t.lang = m.lang CROSS JOIN vocab
), tgc AS (
  SELECT doc_id, unnest(grams) AS g FROM staged WHERE NOT is_train
), tcnt AS (
  SELECT doc_id, g, COUNT(*) AS cnt FROM tgc GROUP BY 1, 2
), scores AS (
  SELECT t.doc_id, l.lang,
         l.prior + SUM(CAST(t.cnt AS DECIMAL(19,0)) * coalesce(p.logp, l.fb)) AS score
  FROM tcnt t CROSS JOIN langs l
  LEFT JOIN logp p ON p.lang = l.lang AND p.g = t.g
  GROUP BY 1, 2, l.prior
), pred AS (
  SELECT doc_id, lang AS predicted_lang
  FROM (SELECT doc_id, lang,
               row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang) AS rn
        FROM scores)
  WHERE rn = 1
)
SELECT s.lang AS true_lang,
       coalesce(p.predicted_lang, 'und') AS predicted_lang,
       COUNT(*) AS n_docs
FROM staged s LEFT JOIN pred p ON p.doc_id = s.doc_id
WHERE NOT s.is_train
GROUP BY 1, 2
ORDER BY 1, 2
"""


NB_TOP_FEATURES_K = 15


def nb_langid_top_features(
    spark: SparkSession, sf_dir: str, k: int = NB_TOP_FEATURES_K
) -> DataFrame:
    """Per-class top-k discriminative trigrams from the trained NB
    model — the "explain the classifier" surface: log-odds
    lor(g, c) = ln((n_gc+1)/(tot_c+V)) − ln((n_g·−n_gc+1)/(TOT−tot_c+V)),
    the one-vs-rest Laplace-smoothed weight of evidence. A data
    engineer reads this table to sanity-check a trained filter before
    trusting it (top features should look like language, not like a
    leaked artifact — the standard debugging step for fastText-style
    corpus classifiers).

    Everything downstream of the shared checkpointed model frame is
    vocab-bounded: the gram-total rollup, the one-row corpus total,
    the per-class rank window (|langs| × |vocab| rows, partitioned by
    class — never corpus-global). Candidates are BY DESIGN the model's
    own (class, gram) rows — the table ranks features the class
    actually exhibits. (This is a design restriction, not a theorem:
    in a tiny-class / huge-rest regime an absent gram's smoothed lor
    can turn slightly positive, ln((TOT−tot_c+V)/((gn+1)(tot_c+V)));
    on anything near balanced priors that value is bounded by ~ln 2
    and never reaches a top-k cutoff.) Ordering compares the EXACT
    decimal lor; the output column rounds to 6dp double for display
    only, after ranking.
    """
    _staged, model, tot, vocab = _langid_model(spark, sf_dir)
    gtot = model.groupBy("g").agg(F.sum("n").alias("gn"))
    corpus = tot.agg(F.sum("tot").alias("gtot_all"))
    lp_c = F.round(
        F.log(
            (F.col("n") + 1).cast("double")
            / (F.col("tot") + F.col("v")).cast("double")
        ),
        9,
    ).cast("decimal(13,9)")
    lp_r = F.round(
        F.log(
            (F.col("gn") - F.col("n") + 1).cast("double")
            / (F.col("gtot_all") - F.col("tot") + F.col("v")).cast("double")
        ),
        9,
    ).cast("decimal(13,9)")
    cand = (
        model.join(gtot, "g")
        .join(tot, "lang")
        .crossJoin(F.broadcast(corpus))
        .crossJoin(F.broadcast(vocab))
        .select(
            "lang",
            "g",
            "n",
            (F.col("gn") - F.col("n")).alias("n_rest"),
            (lp_c - lp_r).alias("lor"),
        )
    )
    w = Window.partitionBy("lang").orderBy(F.desc("lor"), F.asc("g"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "lang",
            F.col("g").alias("gram"),
            F.col("n").alias("n_class"),
            "n_rest",
            F.round(F.col("lor").cast("double"), 6).alias("log_odds"),
            "rank",
        )
        .orderBy("lang", "rank")
    )


NB_TOP_FEATURES_SQL = _NB_MODEL_CTES + rf""", gtot AS (
  SELECT g, SUM(n) AS gn FROM model GROUP BY 1
), corpus AS (
  SELECT SUM(tot) AS gtot_all FROM tot
), cand AS (
  SELECT m.lang, m.g, m.n, gtot.gn - m.n AS n_rest,
         CAST(ROUND(ln(CAST(m.n + 1 AS DOUBLE) / CAST(t.tot + vocab.v AS DOUBLE)), 9) AS DECIMAL(13,9))
         - CAST(ROUND(ln(CAST(gtot.gn - m.n + 1 AS DOUBLE) / CAST(corpus.gtot_all - t.tot + vocab.v AS DOUBLE)), 9) AS DECIMAL(13,9)) AS lor
  FROM model m
  JOIN gtot ON gtot.g = m.g
  JOIN tot t ON t.lang = m.lang
  CROSS JOIN corpus CROSS JOIN vocab
), ranked AS (
  SELECT lang, g, n, n_rest, lor,
         row_number() OVER (PARTITION BY lang ORDER BY lor DESC, g) AS rank
  FROM cand
)
SELECT lang, g AS gram, CAST(n AS BIGINT) AS n_class,
       CAST(n_rest AS BIGINT) AS n_rest,
       ROUND(CAST(lor AS DOUBLE), 6) AS log_odds, rank
FROM ranked WHERE rank <= {NB_TOP_FEATURES_K}
ORDER BY lang, rank
"""


def _qc_scores(spark: SparkSession, sf_dir: str):
    """Shared hashed-unigram NB trainer+scorer: returns (held-out
    docs frame, per-(doc, label) decimal scores) — consumed by the
    calibration report and the PR curve.

    The fixed-size trick: every word hashes into one of ``QC_BUCKETS``
    feature buckets via the portable md5 hash, so the model frame is
    exactly 2 × QC_BUCKETS rows no matter how many distinct words the
    crawl holds — feature hashing is what keeps "train on the whole
    corpus" bounded-state where a raw-vocab model would grow with
    Heaps' law. Laplace V is the bucket count (a constant, not a
    distinct-count job).

    Same determinism recipe as ``nb_langid_report`` (9dp decimal
    log-probs, exact count×decimal contributions, label-asc
    tiebreak); the two-class argmax is the same window, |labels| = 2
    rows per doc. One corpus shuffle per split side; everything
    downstream of the gram counts is bounded by the hashed space.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = fields(F.lower(F.col("text")))
    staged = docs.select(
        "doc_id",
        "source",
        (split_bucket(F.col("doc_id"), "qcsplit:v1:") < NB_TRAIN_BUCKETS).alias(
            "is_train"
        ),
        F.when(F.size(toks) >= QC_MIN_WORDS, F.lit("pass"))
        .otherwise(F.lit("fail"))
        .alias("weak_label"),
        toks.alias("toks"),
    )
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("qcls:v1:"), F.col("w"))), 1, 15
            ),
            16,
            10,
        ).cast("bigint")
        % QC_BUCKETS
    )

    # explode_outer + generated-attribute filter: the Generate lesson
    # (see nb_langid_report) — keeps the tokenize chain out of pushed
    # filters
    tg = (
        staged.where("is_train")
        .select(F.col("weak_label").alias("lbl"), F.explode_outer("toks").alias("w"))
        .where(F.col("w").isNotNull())
        .select("lbl", bucket.alias("b"))
    )
    # ≤ 2 × QC_BUCKETS rows; checkpointed for its two consumers (see
    # the nb_langid_report model note)
    model = (
        tg.groupBy("lbl", "b").agg(F.count(F.lit(1)).alias("n")).localCheckpoint()
    )
    tot = model.groupBy("lbl").agg(F.sum("n").alias("tot"))

    trdocs = (
        staged.where("is_train")
        .groupBy(F.col("weak_label").alias("lbl"))
        .agg(F.count(F.lit(1)).alias("nd"))
    )
    ntr = staged.where("is_train").agg(F.count(F.lit(1)).alias("ntr"))
    labels = (
        trdocs.crossJoin(F.broadcast(ntr))
        .join(tot, "lbl")
        .select(
            "lbl",
            F.round(F.log(F.col("nd").cast("double") / F.col("ntr")), 9)
            .cast("decimal(13,9)")
            .alias("prior"),
            F.round(
                F.log(F.lit(1.0) / (F.col("tot") + QC_BUCKETS).cast("double")),
                9,
            )
            .cast("decimal(13,9)")
            .alias("fb"),
        )
    )
    logp = model.join(tot, "lbl").select(
        "lbl",
        "b",
        F.round(
            F.log(
                (F.col("n") + 1).cast("double")
                / (F.col("tot") + QC_BUCKETS).cast("double")
            ),
            9,
        )
        .cast("decimal(13,9)")
        .alias("logp"),
    )

    te = staged.where(~F.col("is_train"))
    tbc = (
        te.select("doc_id", F.explode_outer("toks").alias("w"))
        .where(F.col("w").isNotNull())
        .select("doc_id", bucket.alias("b"))
        .groupBy("doc_id", "b")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    contrib = tbc.crossJoin(F.broadcast(labels)).join(
        logp, ["lbl", "b"], "left"
    )
    scores = (
        contrib.select(
            "doc_id",
            "lbl",
            "prior",
            (
                F.col("cnt").cast("decimal(19,0)")
                * F.coalesce(F.col("logp"), F.col("fb"))
            ).alias("c"),
        )
        .groupBy("doc_id", "lbl", "prior")
        .agg(F.sum("c").alias("s"))
        .select("doc_id", "lbl", (F.col("prior") + F.col("s")).alias("score"))
    )
    return te, scores


def quality_classifier_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a hashed-unigram NB quality classifier (fastText shape)
    on the 80% split against the weak label ``n_words >= QC_MIN_WORDS``,
    score the held-out 20%, and report per-source calibration:
    (source, weak_label, predicted_label, n_docs). See ``_qc_scores``
    for the model; same determinism recipe as ``nb_langid_report``.
    """
    te, scores = _qc_scores(spark, sf_dir)
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("lbl"))
    pred = (
        scores.withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .select("doc_id", F.col("lbl").alias("predicted_label"))
    )
    return (
        te.select("doc_id", "source", "weak_label")
        .join(pred, "doc_id", "left")
        .groupBy(
            "source",
            "weak_label",
            F.coalesce(F.col("predicted_label"), F.lit("fail")).alias(
                "predicted_label"
            ),
        )
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("source", "weak_label", "predicted_label")
    )


QUALITY_CLASSIFIER_SQL = rf"""
WITH staged AS (
  SELECT doc_id, source,
         CAST('0x' || substr(md5('qcsplit:v1:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 10 < {NB_TRAIN_BUCKETS} AS is_train,
         CASE WHEN len(list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '')) >= {QC_MIN_WORDS}
              THEN 'pass' ELSE 'fail' END AS weak_label,
         list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '') AS toks
  FROM documents
), tg AS (
  SELECT weak_label AS lbl,
         CAST('0x' || substr(md5('qcls:v1:' || w), 1, 15) AS BIGINT) % {QC_BUCKETS} AS b
  FROM (SELECT weak_label, unnest(toks) AS w FROM staged WHERE is_train)
), model AS (
  SELECT lbl, b, COUNT(*) AS n FROM tg GROUP BY 1, 2
), tot AS (
  SELECT lbl, SUM(n) AS tot FROM model GROUP BY 1
), labels AS (
  SELECT d.lbl,
         CAST(ROUND(ln(CAST(d.nd AS DOUBLE) / n.ntr), 9) AS DECIMAL(13,9)) AS prior,
         CAST(ROUND(ln(1.0 / CAST(t.tot + {QC_BUCKETS} AS DOUBLE)), 9) AS DECIMAL(13,9)) AS fb
  FROM (SELECT weak_label AS lbl, COUNT(*) AS nd FROM staged WHERE is_train GROUP BY 1) d
  CROSS JOIN (SELECT COUNT(*) AS ntr FROM staged WHERE is_train) n
  JOIN tot t ON t.lbl = d.lbl
), logp AS (
  SELECT m.lbl, m.b,
         CAST(ROUND(ln(CAST(m.n + 1 AS DOUBLE) / CAST(t.tot + {QC_BUCKETS} AS DOUBLE)), 9) AS DECIMAL(13,9)) AS logp
  FROM model m JOIN tot t ON t.lbl = m.lbl
), tbc AS (
  SELECT doc_id,
         CAST('0x' || substr(md5('qcls:v1:' || w), 1, 15) AS BIGINT) % {QC_BUCKETS} AS b,
         COUNT(*) AS cnt
  FROM (SELECT doc_id, unnest(toks) AS w FROM staged WHERE NOT is_train)
  GROUP BY 1, 2
), scores AS (
  SELECT t.doc_id, l.lbl,
         l.prior + SUM(CAST(t.cnt AS DECIMAL(19,0)) * coalesce(p.logp, l.fb)) AS score
  FROM tbc t CROSS JOIN labels l
  LEFT JOIN logp p ON p.lbl = l.lbl AND p.b = t.b
  GROUP BY 1, 2, l.prior
), pred AS (
  SELECT doc_id, lbl AS predicted_label
  FROM (SELECT doc_id, lbl,
               row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lbl) AS rn
        FROM scores)
  WHERE rn = 1
)
SELECT s.source, s.weak_label,
       coalesce(p.predicted_label, 'fail') AS predicted_label,
       COUNT(*) AS n_docs
FROM staged s LEFT JOIN pred p ON p.doc_id = s.doc_id
WHERE NOT s.is_train
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
"""


# Literal margin rungs for the PR curve: the NB margin scales with
# document length (a per-token log-odds sum), so the ladder spans the
# tens.
QC_PR_THRESHOLDS = (-50, -20, -10, -5, -2, 0, 2, 5, 10, 20, 50)


def quality_classifier_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall ladder for the hashed-NB quality classifier —
    the operating-curve table a deployment reads to PICK its
    threshold instead of accepting the argmax's implicit margin>0
    (high-precision filtering for pretraining wants a stricter cut;
    high-recall triage a looser one): per literal margin rung t,
    predicted-pass iff score_pass − score_fail > t, with
    tp/fp/fn/precision/recall against the held-out weak labels.

    Exactness: the margin subtracts the two EXACT decimal class
    scores (one row each per doc from the shared ``_qc_scores``
    frames), so every rung comparison is decimal-vs-integer-literal —
    no float enters before the final 6dp share round. Docs with no
    scoreable tokens read margin −∞ (never predicted pass; they count
    in fn when their weak label is pass) via a −1e9 literal on both
    engines. The |rungs|-row literal frame fans out over the bounded
    per-doc margin frame (the dedup_threshold_sweep shape) and
    collapses map-side to |rungs| rows.
    """
    te, scores = _qc_scores(spark, sf_dir)
    sp = scores.where(F.col("lbl") == "pass").select(
        "doc_id", F.col("score").alias("s_pass")
    )
    sf_ = scores.where(F.col("lbl") == "fail").select(
        "doc_id", F.col("score").alias("s_fail")
    )
    margins = (
        te.select("doc_id", "weak_label")
        .join(sp, "doc_id", "left")
        .join(sf_, "doc_id", "left")
        .select(
            "weak_label",
            F.coalesce(
                (F.col("s_pass") - F.col("s_fail")).cast("double"),
                F.lit(-1e9),
            ).alias("m"),
        )
    )
    rungs = spark.createDataFrame(
        [(t,) for t in QC_PR_THRESHOLDS], "threshold int"
    )
    fan = margins.crossJoin(F.broadcast(rungs))
    agg = fan.groupBy("threshold").agg(
        F.sum(
            F.when(
                (F.col("weak_label") == "pass") & (F.col("m") > F.col("threshold")),
                1,
            ).otherwise(0)
        ).alias("tp"),
        F.sum(
            F.when(
                (F.col("weak_label") == "fail") & (F.col("m") > F.col("threshold")),
                1,
            ).otherwise(0)
        ).alias("fp"),
        F.sum(
            F.when(
                (F.col("weak_label") == "pass") & (F.col("m") <= F.col("threshold")),
                1,
            ).otherwise(0)
        ).alias("fn"),
    )
    return agg.select(
        "threshold",
        F.col("tp").cast("bigint").alias("tp"),
        F.col("fp").cast("bigint").alias("fp"),
        F.col("fn").cast("bigint").alias("fn"),
        F.round(
            F.try_divide(
                F.col("tp").cast("double"), (F.col("tp") + F.col("fp")).cast("double")
            ),
            6,
        ).alias("precision"),
        F.round(
            F.try_divide(
                F.col("tp").cast("double"), (F.col("tp") + F.col("fn")).cast("double")
            ),
            6,
        ).alias("recall"),
    ).orderBy("threshold")


def _qc_pr_sql() -> str:
    rungs = ", ".join(f"({t})" for t in QC_PR_THRESHOLDS)
    # reuse the full model/score CTE chain from the calibration oracle
    # up to `scores`, then pivot margins and fan out the rung ladder
    head, _, _ = QUALITY_CLASSIFIER_SQL.partition("), pred AS (")
    return (
        head
        + rf""") , sp AS (
  SELECT doc_id, score AS s_pass FROM scores WHERE lbl = 'pass'
), sfa AS (
  SELECT doc_id, score AS s_fail FROM scores WHERE lbl = 'fail'
), margins AS (
  SELECT s.weak_label,
         coalesce(CAST(sp.s_pass - sfa.s_fail AS DOUBLE), -1e9) AS m
  FROM staged s
  LEFT JOIN sp ON sp.doc_id = s.doc_id
  LEFT JOIN sfa ON sfa.doc_id = s.doc_id
  WHERE NOT s.is_train
), rungs(threshold) AS (VALUES {rungs}), agg AS (
  SELECT threshold,
         CAST(SUM(CASE WHEN weak_label = 'pass' AND m > threshold THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         CAST(SUM(CASE WHEN weak_label = 'fail' AND m > threshold THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         CAST(SUM(CASE WHEN weak_label = 'pass' AND m <= threshold THEN 1 ELSE 0 END) AS BIGINT) AS fn
  FROM margins CROSS JOIN rungs GROUP BY 1
)
SELECT threshold, tp, fp, fn,
       ROUND(CAST(tp AS DOUBLE) / nullif(tp + fp, 0), 6) AS precision,
       ROUND(CAST(tp AS DOUBLE) / nullif(tp + fn, 0), 6) AS recall
FROM agg ORDER BY threshold
"""
    )


QC_PR_CURVE_SQL = _qc_pr_sql()


QC_CAL_BINS = 10


def quality_classifier_calibration(
    spark: SparkSession, sf_dir: str, bins: int = QC_CAL_BINS
) -> DataFrame:
    """Reliability table for the hashed-NB quality classifier — the
    calibration surface completing the classifier family (report =
    confusion, top_features = explanation, pr_curve = operating
    points, THIS = is-the-score-meaningful): held-out docs are ranked
    by margin (score_pass − score_fail) into ``bins`` equal-population
    bins, and each bin reports its empirical pass rate beside its
    mean margin. A monotone pass-rate column says the margin ORDERS
    docs correctly (rank calibration) even where its absolute scale
    is length-inflated — exactly what a pipeline needs to trust a
    margin threshold picked off the PR curve.

    Binning is by MARGIN RANK, not by a sigmoid probability: the NB
    margin is a per-token log-odds sum whose exp() would differ at
    the last ulp across engines; ranks and decimal margin sums are
    exact. Ties order (margin, doc_id) — deterministic ntile on both
    engines (the shared Postgres convention: earlier bins take the
    remainder). Docs with no scoreable tokens have no margin and are
    EXCLUDED from the bins (the PR curve's −∞ branch accounts for
    them).

    Scale shape (r12): the held-out frame is 20% of the CORPUS — not
    bounded — so ntile must never run as a one-partition global sort
    (the r11 implementation's `Window.orderBy` did exactly that; the
    plan test now forbids it). The distributed form computes the SAME
    bin assignment: range-repartition by the sort key (m, doc_id),
    rank locally per partition, add per-partition offsets (a bounded
    ≤|shuffle-partitions|-row frame, broadcast back), then apply
    ntile's bucket arithmetic — floor(N/b) rows per bin, the first
    N mod b bins take one extra — to the exact global rank. Max
    per-reducer load is N/P instead of N; the oracle's ntile and the
    result hash are unchanged.

    Parity: margins stay DECIMAL end-to-end (exact sums of 9dp model
    terms); mean margin is a 6dp round of an exact decimal sum over
    an integer count; pass rate is a 6dp round of an integer
    quotient.
    """
    te, scores = _qc_scores(spark, sf_dir)
    sp = scores.where(F.col("lbl") == "pass").select(
        "doc_id", F.col("score").alias("s_pass")
    )
    sf_ = scores.where(F.col("lbl") == "fail").select(
        "doc_id", F.col("score").alias("s_fail")
    )
    margins = (
        te.select("doc_id", "weak_label")
        .join(sp, "doc_id")
        .join(sf_, "doc_id")
        .select(
            "doc_id",
            "weak_label",
            (F.col("s_pass") - F.col("s_fail")).alias("m"),
        )
    )
    # distributed exact ntile: range-partition on the sort key, local
    # rank, bounded offset frame, Postgres bucket formula on the
    # global rank. The two reads of `parts` share ONE range exchange
    # (ReuseExchange dedupes identical subtrees in the final plan).
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    parts = margins.repartitionByRange(n_parts, "m", "doc_id").withColumn(
        "pid", F.spark_partition_id()
    )
    wl = Window.partitionBy("pid").orderBy("m", "doc_id")
    local = parts.withColumn("lr", F.row_number().over(wl))
    # per-partition counts -> exclusive prefix offsets + grand total;
    # bounded: one row per shuffle partition, window over <= n_parts
    # rows (never corpus rows)
    wc = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    wt = Window.orderBy("pid").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offs = (
        parts.groupBy("pid")
        .agg(F.count(F.lit(1)).alias("c"))
        .select(
            "pid",
            F.coalesce(F.sum("c").over(wc), F.lit(0)).alias("off"),
            F.sum("c").over(wt).alias("n_total"),
        )
    )
    ranked = local.join(F.broadcast(offs), "pid").select(
        "weak_label", "m", (F.col("off") + F.col("lr")).alias("r"), "n_total"
    )
    # ntile(bins) from the 1-based global rank r and total N: the
    # first `rem` bins hold q+1 rows, the rest hold q (q = N div b).
    # ceil(a/k) as floor((a-1)/k)+1; counts < 2^53 so the double
    # division is exact under floor. greatest(q,1) guards the ANSI
    # divide-by-zero in the branch that is only taken when q >= 1.
    q = (F.col("n_total") / bins).cast("bigint")
    rem = F.col("n_total") % bins
    bin_col = F.when(
        F.col("r") <= rem * (q + 1),
        F.floor((F.col("r") - 1) / (q + 1)) + 1,
    ).otherwise(
        rem + F.floor((F.col("r") - rem * (q + 1) - 1) / F.greatest(q, F.lit(1))) + 1
    )
    binned = ranked.select(
        "weak_label", "m", bin_col.cast("int").alias("bin")
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("weak_label") == "pass", 1).otherwise(0))
            .cast("bigint")
            .alias("n_pass"),
            F.round(
                F.sum("m").cast("double") / F.count(F.lit(1)), 6
            ).alias("mean_margin"),
            F.round(
                F.sum(
                    F.when(F.col("weak_label") == "pass", 1).otherwise(0)
                ).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("pass_rate"),
        )
        .orderBy("bin")
    )


def _qc_calibration_sql(bins: int = QC_CAL_BINS) -> str:
    head, _, _ = QUALITY_CLASSIFIER_SQL.partition("), pred AS (")
    return (
        head
        + rf""") , sp AS (
  SELECT doc_id, score AS s_pass FROM scores WHERE lbl = 'pass'
), sfa AS (
  SELECT doc_id, score AS s_fail FROM scores WHERE lbl = 'fail'
), margins AS (
  SELECT s.doc_id, s.weak_label, sp.s_pass - sfa.s_fail AS m
  FROM staged s
  JOIN sp ON sp.doc_id = s.doc_id
  JOIN sfa ON sfa.doc_id = s.doc_id
  WHERE NOT s.is_train
), binned AS (
  SELECT weak_label, m, ntile({bins}) OVER (ORDER BY m, doc_id) AS bin
  FROM margins
)
SELECT bin,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN weak_label = 'pass' THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
       ROUND(CAST(SUM(m) AS DOUBLE) / COUNT(*), 6) AS mean_margin,
       ROUND(CAST(SUM(CASE WHEN weak_label = 'pass' THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS pass_rate
FROM binned GROUP BY bin ORDER BY bin
"""
    )


QC_CALIBRATION_SQL = _qc_calibration_sql()
