"""Physical-plan regression tests: the scale properties BENCH_NOTES
documents, asserted so they can't silently regress — pushdown reaches
the scan, projection prunes columns, joins pick the right strategy,
and no plan ever degenerates to a Cartesian product."""

from __future__ import annotations

import re

import pytest

from mito_spark.operators import asof, relational, relational2


def _plan(df) -> str:
    # formatted mode always includes scan details (ReadSchema/PushedFilters)
    from pyspark.sql import SparkSession

    jvm = SparkSession.getActiveSession()._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def _read_schemas(plan: str) -> list[list[str]]:
    return [s.split(",") for s in re.findall(r"ReadSchema: struct<([^>]*)>", plan)]


def test_q1_pushdown_and_pruning(spark, sf_dir):
    plan = _plan(relational.q1_pricing_summary(spark, sf_dir))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    (cols,) = _read_schemas(plan)
    assert len(cols) <= 9  # 11-column table, ≥2 pruned


def test_q6_reads_four_columns(spark, sf_dir):
    plan = _plan(relational.q6_forecast_revenue(spark, sf_dir))
    (cols,) = _read_schemas(plan)
    assert len(cols) == 4
    assert plan.count("PushedFilters: [],") == 0  # every scan carries filters


def test_q3_broadcasts_dimensions(spark, sf_dir):
    plan = _plan(relational.q3_shipping_priority(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_semi_and_anti_join_strategies(spark, sf_dir):
    semi = _plan(relational2.q4_priority_semi(spark, sf_dir))
    anti = _plan(relational2.q22_idle_rich_customers(spark, sf_dir))
    assert "LeftSemi" in semi
    assert "LeftAnti" in anti
    assert "CartesianProduct" not in semi and "CartesianProduct" not in anti


def test_asof_join_is_single_shuffle(spark, sf_dir):
    from mito_spark.operators.skew import explain_shuffle_count

    df = asof.events_asof_latest_order(spark, sf_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # union + keyed window: exactly one shuffle on the join key
    assert explain_shuffle_count(df) == 1


def test_top_n_uses_take_ordered(spark, sf_dir):
    plan = _plan(relational.q3_shipping_priority(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan  # no global sort materialized


def test_props_presence_stays_jvm_side(spark, sf_dir):
    """Variant presence checks must never plan a Python worker — the
    whole point of has_json_path over a UDF."""
    from mito_spark.operators import dynamic

    plan = _plan(dynamic.events_props_presence(spark, sf_dir))
    assert "EvalPython" not in plan  # no BatchEvalPython/ArrowEvalPython
    assert "HashAggregate" in plan


def test_sketch_aggregates_combine_map_side(spark, sf_dir):
    """Sketch aggregation must be two-phase (partial map-side, merge
    after shuffle) — the property that makes the shuffle carry sketches
    instead of raw keys at 100 TB."""
    from mito_spark.operators import sketches

    plan = _plan(sketches.sketch_distinct_profile(spark, sf_dir))
    assert "partial_approx_count_distinct" in plan or plan.count("ObjectHashAggregate") >= 2
    assert "EvalPython" not in plan


def test_q11_broadcasts_global_total(spark, sf_dir):
    """The grand-total scalar must be a broadcast side, and the
    per-part aggregate must shuffle once — never a per-row subquery."""
    plan = _plan(relational2.q11_important_parts(spark, sf_dir))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_q16_excludes_via_anti_join(spark, sf_dir):
    plan = _plan(relational2.q16_supplier_part_variety(spark, sf_dir))
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_q20_semi_joins_qualified_set(spark, sf_dir):
    plan = _plan(relational2.q20_heavy_shippers(spark, sf_dir))
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_q21_exists_pair_shuffles_on_orderkey_only(spark, sf_dir):
    plan = _plan(relational2.q21_sole_late_supplier(spark, sf_dir))
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_minhash_reuses_checkpointed_signatures(spark, sf_dir):
    """The signature frame feeds the band self-join AND both
    verification joins; since r5 it is localCheckpoint-ed (GC-cleaned
    blocks instead of session-cache pins), so every consumer must scan
    the checkpointed RDD and the minhash fold must NOT be recomputed
    anywhere in the final plan."""
    from mito_spark.operators import dedup

    plan = _plan(dedup.minhash_lsh_dedup(spark, sf_dir))
    assert "ExistingRDD" in plan  # checkpointed signature scan reused
    assert "aggregate(" not in plan  # the signature fold ran once, at checkpoint
    assert "CartesianProduct" not in plan


def test_bm25_no_wide_shuffle(spark, sf_dir):
    """BM25's only joins are the single-row broadcast stats cross join;
    the big side never hash-shuffles (top-k is TakeOrdered)."""
    from mito_spark.operators.search import bm25_topk

    plan = _plan(bm25_topk(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan  # 1-row stats broadcast
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "hashpartitioning" not in plan  # zero wide shuffles


def test_stratified_sample_single_shuffle(spark, sf_dir):
    from mito_spark.operators.hygiene import stratified_sample
    from mito_spark.operators.skew import explain_shuffle_count

    df = stratified_sample(spark, sf_dir)
    assert explain_shuffle_count(df) == 1  # one exchange on the stratum key


def test_domain_mix_broadcasts_fraction_table(spark, sf_dir):
    from mito_spark.operators.hygiene import domain_mix

    plan = _plan(domain_mix(spark, sf_dir))
    assert "BroadcastHashJoin" in plan  # fracs joins back broadcast
    assert "CartesianProduct" not in plan


def test_pii_redaction_is_pure_map(spark, sf_dir):
    from mito_spark.operators.hygiene import pii_redaction
    from mito_spark.operators.skew import explain_shuffle_count

    assert explain_shuffle_count(pii_redaction(spark, sf_dir)) == 0


def test_anomalies_broadcasts_stats(spark, sf_dir):
    from mito_spark.operators.events import events_value_anomalies

    plan = _plan(events_value_anomalies(spark, sf_dir))
    assert "BroadcastHashJoin" in plan  # 5-row stats table never shuffles the scan
    assert "CartesianProduct" not in plan


def test_surprisal_broadcasts_frequency_table(spark, sf_dir):
    from mito_spark.operators.text import unigram_surprisal

    plan = _plan(unigram_surprisal(spark, sf_dir))
    assert "BroadcastHashJoin" in plan  # vocab-sized cf table broadcast
    assert "BroadcastNestedLoopJoin" in plan  # 1-row totals cross join
    assert "CartesianProduct" not in plan


def test_quantize_is_pure_map(spark, sf_dir):
    from mito_spark.operators.quantize import quantize_embeddings
    from mito_spark.operators.skew import explain_shuffle_count

    assert explain_shuffle_count(quantize_embeddings(spark, sf_dir)) == 0


def test_winnowing_is_shuffle_free(spark, sf_dir):
    """Winnowing fingerprints are row-local by contract: zero
    exchanges in the executed plan (tokens -> gram hashes -> window
    minima all map-side)."""
    from mito_spark.operators import text

    plan = _plan(text.winnow_fingerprints(spark, sf_dir))
    assert "Exchange" not in plan
    assert "CartesianProduct" not in plan


def test_containment_candidates_never_cartesian(spark, sf_dir):
    """The sampled inverted-index candidate join and the prefilter
    must stay equi-join shaped — no cartesian fallback."""
    from mito_spark.operators import dedup

    plan = _plan(dedup.dedup_containment(spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_knn_graph_bucket_join_only(spark, sf_dir):
    from mito_spark.operators.similarity import knn_graph

    plan = _plan(knn_graph(spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_staged_shingles_projection_not_collapsed(spark, sf_dir):
    """The tokenize→shingle staging must survive optimization as TWO
    Project nodes: if CollapseProject ever re-inlines the tokenizer
    expression into the shingle transform's lambda, the interpreted
    HOF re-runs the regexp split per array element — O(T²) per doc
    (measured 7x on the sf0.1 shingle pass)."""
    from mito_spark.engine import load_table
    from mito_spark.operators.dedup import staged_shingles

    docs = load_table(spark, sf_dir, "documents")
    opt = (
        staged_shingles(docs, 3)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert opt.count("Project") == 2
    # the split lives in the INNER projection, not inside the lambda
    inner = opt.split("Project")[-1]
    assert "split(" in inner


@pytest.mark.parametrize(
    "name",
    [
        "text_bigram_surprisal",
        "bpe_merge_candidates",
        "events_retention_cohorts",
        "events_rolling_window",
        "orders_priority_pivot",
        "lineitem_metrics_unpivot",
        "lineitem_correlations",
        "ann_persisted_topk",
        "ann_index_refresh",
        "knn_pagerank",
    ],
)
def test_r6_operators_have_no_python_row_path(spark, sf_dir, name):
    """Every r6 operator stays JVM-side: no row-at-a-time Python, no
    pandas UDF in the executed plan (driver-side routing/argmax
    collects are bounded and not part of the row path)."""
    import __spark_entry__ as entry

    df = entry.queries()[name](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "FlatMapGroupsInPandas" not in plan


def test_pagerank_plan_growth_is_bounded(spark, sf_dir):
    """Per-round localCheckpoint truncates lineage: the final plan must
    reference checkpointed RDD scans, not re-embed every round's join
    DAG (the MMR lesson — unbounded nesting superlinearizes planning)."""
    from mito_spark.operators.graph import knn_pagerank

    plan = (
        knn_pagerank(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ExistingRDD" in plan or "Scan ExistingRDD" in plan
    # a fully inlined 3-round plan would nest >= 6 shuffle joins; the
    # checkpointed plan keeps the visible operator count small
    assert plan.count("SortMergeJoin") + plan.count("BroadcastHashJoin") <= 3


def test_kn_perplexity_stays_jvm_side(spark, sf_dir):
    """The KN model chain (type-table aggregates + scoring joins) is
    pure DataFrame: no Python eval nodes, no cartesian fallback, and
    the 1-row (tot, D) constants frame broadcasts."""
    from mito_spark.operators.text import kn_bigram_perplexity

    plan = _plan(kn_bigram_perplexity(spark, sf_dir))
    for node in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas",
                 "CartesianProduct"):
        assert node not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row konst cross join


def test_weighted_sample_uses_two_stage_topk(spark, sf_dir):
    """weighted_sample_es must rank via per_key_topk: every WindowExec
    partitions by a real key (never an empty spec = single-partition
    global sort), and the pre-rank stage partitions by
    (source, input-partition id) so no stage collapses to
    n_strata partitions."""
    from mito_spark.operators.sampling import weighted_sample_es

    plan = _plan(weighted_sample_es(spark, sf_dir))
    assert "Window" in plan
    # an empty partition spec renders as "Window [..], [..]" with no
    # partitionBy list — assert both windows carry partition keys
    assert "_tk_part" in plan  # stage-1 salt key present
    for node in ("BatchEvalPython", "ArrowEvalPython", "CartesianProduct"):
        assert node not in plan


def test_heavy_hitters_verify_pass_broadcasts_candidates(spark, sf_dir):
    """The exact verify pass must semi-join tokens against a BROADCAST
    candidate set (candidates are bounded by partitions x capacity, so
    a shuffle join there would be a planning bug), the MG stage is the
    only Python node, and the totals frame joins as a broadcast 1-row
    cross join."""
    from mito_spark.operators.sketches import heavy_hitters

    plan = _plan(heavy_hitters(spark, sf_dir))
    # the MG fold lives behind the summary localCheckpoint, so the
    # final (verify-pass) plan must contain NO Python nodes at all
    assert "MapInPandas" not in plan
    assert "BroadcastHashJoin" in plan  # candidate semi-join
    assert "BroadcastNestedLoopJoin" in plan  # 1-row totals
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_doc_perplexity_filter_broadcasts_cutoffs(spark, sf_dir):
    """Bucket assignment must be a column expression against broadcast
    tercile cutoffs — never a global NTILE/rank (a WindowExec with an
    empty partition spec would single-partition the corpus)."""
    from mito_spark.operators.quality import doc_perplexity_filter

    plan = _plan(doc_perplexity_filter(spark, sf_dir))
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row cutoffs frame
    for node in ("BatchEvalPython", "ArrowEvalPython", "CartesianProduct"):
        assert node not in plan


def test_kcore_round_plan_growth_is_bounded(spark, sf_dir):
    """Each peel round must start from the checkpointed alive set: the
    final-round plan may not re-embed all 12 rounds of joins (the MMR
    plan-growth lesson)."""
    from mito_spark.operators.graph import graph_kcore

    plan = _plan(graph_kcore(spark, sf_dir))
    # per-round: two alive semi-joins; final: core-degree joins + the
    # output assembly — an inlined 12-round chain would show ~30 joins
    assert plan.count("SortMergeJoin") + plan.count("BroadcastHashJoin") <= 8
    assert "CartesianProduct" not in plan


def test_cluster_silhouette_is_one_rollup_no_joins(spark, sf_dir):
    """Silhouette scoring is a pure projection against in-plan
    centroid literals: no join of any kind, no window, no Python —
    one corpus aggregate on the cell key."""
    from mito_spark.operators.similarity import cluster_silhouette

    plan = _plan(cluster_silhouette(spark, sf_dir))
    for node in (
        "BatchEvalPython", "ArrowEvalPython", "CartesianProduct",
        "Window", "BroadcastHashJoin", "SortMergeJoin",
        "BroadcastNestedLoopJoin", "ShuffledHashJoin",
    ):
        assert node not in plan


def test_jl_pairs_join_is_bounded_to_the_sample(spark, sf_dir):
    """The distortion measurement self-joins ONLY the checkpointed
    hash sample (inequality join -> BroadcastNestedLoopJoin over a
    bounded frame, which is the intended shape); the projection leg
    is JVM-only. The corpus-sized frame never enters a join: the
    only scans in the measurement plan are the checkpointed RDD."""
    from mito_spark.operators.similarity import jl_projection_report

    plan = _plan(jl_projection_report(spark, sf_dir))
    for node in ("BatchEvalPython", "ArrowEvalPython", "CartesianProduct"):
        assert node not in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert "Scan parquet" not in plan  # pairs read the sample RDD only


def test_rake_keywords_stays_doc_local(spark, sf_dir):
    """Every RAKE stage keys on doc_id: the two windows (cumulative
    stop count, final rank) must carry partition keys — never an
    empty spec that single-partitions the corpus — and the row path
    is JVM-only."""
    from mito_spark.operators.text import rake_keywords

    plan = _plan(rake_keywords(spark, sf_dir))
    for node in ("BatchEvalPython", "ArrowEvalPython", "CartesianProduct",
                 "BroadcastNestedLoopJoin"):
        assert node not in plan
    import re as _re

    # formatted-mode Window arguments render as
    # "[partitionSpec], [orderSpec], ..." — an empty partition spec
    # would render "[], ["; assert none does
    assert not _re.search(r"Arguments: \[\], \[", plan)


def test_minhash_estimate_report_shares_one_signature_pass(spark, sf_dir):
    """The calibration report must reuse the checkpointed signature
    frame on every side (band self-join + both pair sides): the final
    plan reads the checkpointed RDD, never re-tokenizes (no parquet
    scan), and the row path is JVM-only."""
    from mito_spark.operators.dedup import minhash_estimate_report

    plan = _plan(minhash_estimate_report(spark, sf_dir))
    for node in ("BatchEvalPython", "ArrowEvalPython", "CartesianProduct",
                 "BroadcastNestedLoopJoin"):
        assert node not in plan
    assert "Scan parquet" not in plan  # everything reads the checkpoint


def test_dedup_reports_broadcast_their_dimensions(spark, sf_dir):
    """dedup_attribution_report's 1-row totals and
    source_overlap_matrix's per-source dimension must join as
    broadcasts — never a shuffle join against a corpus-sized side —
    and neither plan may fall back to a cartesian product."""
    from mito_spark.operators.dedup import (
        dedup_attribution_report,
        source_overlap_matrix,
    )

    for fn in (dedup_attribution_report, source_overlap_matrix):
        plan = _plan(fn(spark, sf_dir))
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_dedup_paragraphs_plan_is_jvm_and_staged(spark, sf_dir):
    """Chunk+hash must be pure JVM (no Python nodes), the explode must
    run over the CHECKPOINTED chunk arrays (no re-evaluated HOF
    generator — the winnow_dup_pairs lesson), and the doc rollup joins
    the doc list without a Cartesian."""
    from mito_spark.operators.dedup import dedup_paragraphs

    plan = _plan(dedup_paragraphs(spark, sf_dir))
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "CartesianProduct"):
        assert node not in plan
    # the first-occurrence rank window partitions by the hash key
    # (corpus-sized key count — never an empty partition spec)
    assert "Window" in plan
    # the generator argument is a plain attribute of the checkpointed
    # frame (explode(cs#N)), never an inline transform(...) chain that
    # Generate would re-evaluate per emitted row
    gen = re.search(r"Arguments: explode\(([^)#]*)#", plan)
    assert gen, plan
    assert "transform" not in gen.group(1)


def test_ngram_novelty_single_corpus_shuffle_no_global_window(spark, sf_dir):
    """Novelty must have NO window at all (deciles are value-range
    buckets; first-occurrence is a groupBy chain), the max_id frame
    joins as a broadcast 1-row cross join, and the explode runs over
    checkpointed shingle arrays."""
    from mito_spark.operators.dedup import ngram_novelty_report

    plan = _plan(ngram_novelty_report(spark, sf_dir))
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row max_id
    for node in ("BatchEvalPython", "ArrowEvalPython", "CartesianProduct"):
        assert node not in plan
    gen = re.search(r"Arguments: explode\(([^)#]*)#", plan)
    assert gen, plan
    assert "transform" not in gen.group(1)


def test_embedding_outlier_stats_join_is_broadcast(spark, sf_dir):
    """The flag pass must join the n_cells-row stats frame as a
    BROADCAST (a shuffle join against 16 rows would be a planning
    bug), and the whole report stays JVM-side."""
    from mito_spark.operators.similarity import embedding_outlier_report

    plan = _plan(embedding_outlier_report(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    for node in ("BatchEvalPython", "ArrowEvalPython", "CartesianProduct"):
        assert node not in plan


def test_bbit_report_shares_one_signature_pass(spark, sf_dir):
    """Like minhash_estimate_report: the b-bit calibration must reuse
    the checkpointed signature frame everywhere (band self-join + both
    pair sides) — no re-tokenize (no parquet scan in the final plan),
    no Python nodes, no product joins. The masked slot compares are
    JVM bit ops."""
    from mito_spark.operators.dedup import bbit_minhash_report

    plan = _plan(bbit_minhash_report(spark, sf_dir))
    for node in ("BatchEvalPython", "ArrowEvalPython", "CartesianProduct",
                 "BroadcastNestedLoopJoin"):
        assert node not in plan
    assert "Scan parquet" not in plan  # everything reads the checkpoint


def test_cms_sketch_is_bounded_and_broadcast(spark, sf_dir):
    """The CMS estimate join must broadcast the <= D*W-row sketch
    (never shuffle the gram stream against it), the eval-side sample
    filter must sit BELOW the exact-count aggregate (the full-vocab
    shuffle never happens), and the row path is JVM-only."""
    import re

    from mito_spark.operators.sketches import cms_calibration_report

    plan = _plan(cms_calibration_report(spark, sf_dir))
    assert "BroadcastHashJoin" in plan  # sketch join-back
    for node in ("BatchEvalPython", "ArrowEvalPython", "CartesianProduct",
                 "BroadcastNestedLoopJoin", "MapInPandas"):
        assert node not in plan
    # the sampled exact-count aggregate keys on the gram column and is
    # two-phase (partial_count before the exchange = map-side combine)
    assert "partial_count" in plan
    # the eval filter is the threshold predicate on the salted hash —
    # a Filter whose Condition applies conv(...md5(...)) < threshold
    # (formatted mode prints conditions on their own detail line)
    assert re.search(r"Condition.*md5.*<", plan)


def test_bloom_decontaminate_broadcasts_and_samples(spark, sf_dir):
    """The Bloom membership leg must semi-join against a BROADCAST
    bit-position set (<= M rows) and the probe set must broadcast into
    the exact leg; the FP-sample filter (threshold predicate on the
    salted hash) must appear; the only nested-loop joins are the
    1-row report crossJoins; the row path is JVM-only."""
    import re

    from mito_spark.operators.decontam import bloom_decontaminate_report

    plan = _plan(bloom_decontaminate_report(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert re.search(r"Condition.*md5.*<", plan)  # sampled FP leg
    for node in ("BatchEvalPython", "ArrowEvalPython", "CartesianProduct",
                 "MapInPandas"):
        assert node not in plan


def test_unigram_lm_segmentation_is_jvm_expression_folds(spark, sf_dir):
    """The Viterbi DP + backtrace are pure expression folds: the whole
    per-round segmentation plan is projections over the checkpointed
    word-TYPE scan plus ONE broadcast of the 1-row model map — zero
    Python nodes, zero shuffles, no join but the model broadcast."""
    from mito_spark.operators.text import ULM_MAXW, _ulm_lp, _ulm_seed, _ulm_seg, _word_types

    words = _word_types(spark, sf_dir, ULM_MAXW).localCheckpoint()
    vocab, _chars = _ulm_seed(words)
    lp = _ulm_lp(vocab.localCheckpoint()).localCheckpoint()
    plan = _plan(_ulm_seg(words, lp))
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                 "FlatMapGroupsInPandas", "CartesianProduct",
                 "BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin"):
        assert node not in plan
    # formatted mode prints each node in the tree AND the detail list
    assert plan.count("BroadcastNestedLoopJoin") == 2  # ONE node: the 1-row model
    assert "Exchange hashpartitioning" not in plan  # word table never reshuffled


def test_hll_register_rollup_is_jvm_only_and_join_bounded(spark, sf_dir):
    """The HLL path must be scan -> explode -> hash-agg: zero Python
    nodes, zero windows, and the ONLY join is the |domains|-row
    exact-vs-estimate report join."""
    from mito_spark.operators.sketches import hll_calibration_report

    plan = _plan(hll_calibration_report(spark, sf_dir))
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                 "FlatMapGroupsInPandas", "CartesianProduct", "Window",
                 "BroadcastNestedLoopJoin"):
        assert node not in plan
    joins = sum(plan.count(j) for j in
                ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"))
    assert joins <= 2  # tree + detail rendering of the ONE report join


def test_collocation_pmi_leaves_vocab_joins_to_aqe(spark, sf_dir):
    """The unigram-count joins carry NO forced broadcast (at web scale
    the unigram table can reach ~1e9 distinct tokens — AQE picks the
    strategy by measured size instead; ADVICE r9), the genuinely 1-row
    total IS a broadcast, top-K is a TakeOrdered (no global sort), and
    the row path is JVM-only."""
    from mito_spark.operators.text import collocation_pmi_report

    df = collocation_pmi_report(spark, sf_dir)
    plan = _plan(df)
    for node in ("BatchEvalPython", "ArrowEvalPython", "CartesianProduct",
                 "Window"):
        assert node not in plan
    # join hints survive into the optimized logical plan as
    # "strategy=broadcast": only the 1-row total may carry one
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    assert logical.count("strategy=broadcast") <= 1
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row total
    assert "TakeOrderedAndProject" in plan


def test_lsh_bucket_skew_has_no_joins_and_reuses_signatures(spark, sf_dir):
    """The skew report is count + rollup only: zero joins of any kind,
    zero Python, zero windows; the band keys derive from the
    checkpointed signature scan (the shared signature-pass
    discipline), so the minhash fold never re-runs in this plan."""
    from mito_spark.operators.dedup import lsh_bucket_skew_report

    plan = _plan(lsh_bucket_skew_report(spark, sf_dir))
    for node in ("BatchEvalPython", "ArrowEvalPython", "CartesianProduct",
                 "BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
                 "BroadcastNestedLoopJoin", "Window"):
        assert node not in plan
    assert "ExistingRDD" in plan  # checkpointed signatures
    assert "aggregate(" not in plan  # the minhash fold ran at checkpoint


def test_dedup_threshold_sweep_reuses_verified_pairs(spark, sf_dir):
    """The 5-rung fan-out must read the CHECKPOINTED verified-pair
    frame — the LSH chain (signatures, band join, exact verify) never
    re-runs per rung: no md5 and no minhash fold anywhere in the sweep
    plan, and the only scans are the checkpointed RDD."""
    from mito_spark.operators.dedup import dedup_threshold_sweep

    plan = _plan(dedup_threshold_sweep(spark, sf_dir))
    assert "ExistingRDD" in plan
    assert "Scan parquet" not in plan  # pairs come from the checkpoint
    assert "md5" not in plan and "aggregate(" not in plan
    for node in ("BatchEvalPython", "ArrowEvalPython", "CartesianProduct"):
        assert node not in plan


@pytest.mark.parametrize(
    "modname,fnname,extra_forbidden",
    [
        ("dedup", "dedup_weighted_jaccard", ()),
        ("similarity", "embedding_dim_ablation_report", ()),
        ("sampling", "packing_efficiency_report", ()),
        # normalization report is unions of aggs over ONE staged scan:
        # no joins of any kind, no windows
        ("dedup", "dedup_normalization_report",
         ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
          "BroadcastNestedLoopJoin", "Window")),
        ("decontam", "decontam_ngram_ladder", ()),
        ("hygiene", "domain_epoch_plan", ()),
        ("dedup", "lsh_curve_report", ()),
        ("graph", "dataset_split_by_cluster", ()),
        ("quality", "source_token_drift", ()),
        ("similarity", "ann_nprobe_curve_report", ()),
        ("classify", "nb_langid_report", ()),
        ("classify", "quality_classifier_report", ()),
        ("classify", "nb_langid_top_features", ()),
        # snapshot diff is scan + one full-outer hash join + rollup:
        # no windows, no nested-loop joins of any kind
        ("snapshot", "corpus_snapshot_diff",
         ("BroadcastNestedLoopJoin", "Window")),
        ("snapshot", "ingest_delta_pipeline", ()),
        ("snapshot", "embedding_snapshot_drift", ()),
        # charset profile is scan + one rollup: no joins, no windows
        ("quality", "charset_profile",
         ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
          "BroadcastNestedLoopJoin", "Window")),
        # the drift lag window runs over the types x weeks aggregate,
        # never event rows; no joins of any kind
        ("events", "events_percentile_drift",
         ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
          "BroadcastNestedLoopJoin")),
        ("sampling", "bootstrap_ci_report", ()),
        ("classify", "quality_classifier_pr_curve", ()),
        # r11: the subword trainer/encoder — type-table folds, the
        # vocab map rides a 1-row broadcast (BroadcastNestedLoopJoin
        # is the intended shape, never CartesianProduct)
        ("text", "wordpiece_learn_subword", ()),
        ("text", "wordpiece_encode_subword", ()),
        # r12: CDC — one scan-stage HOF projection (char-array
        # slices, boundaries/spans/chunks derived in-row), then the
        # hash groupBy; no joins, no windows, no Python anywhere
        ("dedup", "cdc_chunk_dedup",
         ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
          "BroadcastNestedLoopJoin", "Window")),
        # r11: quantile sketch — histogram groupBy + bounded windows;
        # the width scalar rides a 1-row broadcast
        ("sketches", "quantile_sketch_calibration", ()),
        ("classify", "quality_classifier_calibration", ()),
        # negative-sampling table is scan + vocab groupBy + 1-row
        # broadcast total: no windows, no hash joins of any kind
        ("sampling", "negative_sampling_table",
         ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin", "Window")),
        ("pipeline", "curriculum_plan", ()),
        ("text", "tokenizer_compression_curve", ()),
        ("dedup", "dedup_pair_explain", ()),
        ("similarity", "embedding_correlation_report", ()),
        ("quality", "lexical_diversity_report", ()),
        # r12: PCA — the corpus-sized moment pass (scan + pair join);
        # the bounded d x d iteration runs driver-side, so the plan
        # here is just the moment shuffles, no Python eval nodes
        ("similarity", "pca_projection_report", ()),
        # r12: OPH — one staged signature scan feeding the banded
        # self-join + per-pair compares; all HOFs, no Python anywhere
        ("dedup", "minhash_oph_report", ()),
        # r12: isotropy — one scan + d-row rollup + 1-row broadcast
        # join; no hash/merge joins of any kind, no windows
        ("similarity", "embedding_isotropy_report",
         ("SortMergeJoin", "ShuffledHashJoin", "Window")),
        # r13: entropy ladder — ONE combined (n, gram) shuffle off one
        # checkpointed scan + per-n rollup; the only join is the
        # <= max_n-row rung list broadcast-left-joined against the
        # <= 3-row rollup, and the conditional window runs over that
        # ladder, never gram rows; no merge/shuffled-hash/nested-loop
        # joins
        ("quality", "ngram_entropy_report",
         ("SortMergeJoin", "ShuffledHashJoin",
          "BroadcastNestedLoopJoin")),
        # r12: stupid backoff — gram-keyed model joins (broadcast-
        # eligible type tables), never a Cartesian, no Python
        ("text", "stupid_backoff_ppl", ()),
        # r12 session 2: edit-distance verify — banded candidates +
        # doc join + JVM levenshtein; all hash joins, no windows
        ("dedup", "dedup_edit_distance",
         ("BroadcastNestedLoopJoin", "Window")),
        # r12 session 2: binary ANN — 16-byte code rows ride the
        # candidate broadcast join; the only window is the bounded
        # per-query rerank (same shape as the SQ8 tier)
        ("similarity", "cosine_topk_binary", ()),
        # r12 session 2: burstiness — explode + two map-side rollups
        # + 1-row broadcast; top-k via TakeOrdered, never a window
        ("quality", "term_burstiness_report",
         ("SortMergeJoin", "ShuffledHashJoin", "Window")),
        # r12 optimization: table profile — one simple stats pass +
        # eleven single-column distinct aggregates glued by 1-row
        # broadcast nested-loop joins + an 11-row unpivot. Expand is
        # FORBIDDEN: the all-distincts-in-one-aggregate form planned
        # a 12x input replication into a corpus-sized multi-key
        # SortAggregate (measured 23.6 s -> 1.9 s at sf0.1).
        ("relational2", "table_profile",
         ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
          "Window", "Expand")),
        # r12 session 2: subsampling — vocab rollup + 1-row broadcast
        # total; TakeOrdered cut
        ("sampling", "subsample_frequent_words",
         ("SortMergeJoin", "ShuffledHashJoin", "Window")),
        # r12 session 2: RBO — two audited tier legs + a |Q|k join +
        # |Q|-row rollup (windows are the legs' bounded reranks)
        ("similarity", "ann_rbo_report", ()),
        # r12 session 2: assortativity — edge-bounded degree joins +
        # one 1-row moment aggregate; no windows
        ("graph", "graph_assortativity", ("Window",)),
        # r12 session 2: KMV — one corpus distinct, then sketch-
        # bounded joins; windows only over the |sources|*k frames
        ("sketches", "kmv_overlap_report", ()),
        # r12 session 2: IVF balance — tagging scan + |cells| count;
        # the only window runs over the <= n_cells rollup; no joins
        # beyond the 1-row broadcast total
        ("similarity", "ivf_balance_report",
         ("SortMergeJoin", "ShuffledHashJoin")),
        # r12 session 2: whitening — moment pass + two isotropy scans
        # with the projection as a per-row map against literals; no
        # windows anywhere
        ("similarity", "whitening_isotropy_report", ("Window",)),
        # r12 session 2: seasonality — one scan, two map-side decimal
        # rollups; windows run over the <= 7-rows-per-type frame
        ("events", "events_seasonality_report", ()),
        # r12 session 2: TextRank — tokenize scan + vocab-bounded
        # edge joins per unrolled round; TakeOrdered cut, no windows
        ("text", "textrank_keywords", ("Window",)),
        # r12 session 2: interarrival — the per-type lag window is
        # the op's definition (sessionize shape); no joins at all
        ("events", "events_interarrival_report",
         ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
          "BroadcastNestedLoopJoin")),
    ],
)
def test_r10_ops_stay_jvm_and_never_cartesian(spark, sf_dir, modname, fnname, extra_forbidden):
    """Every r10 operator keeps the row path JVM-only (no Python eval
    nodes) and never degenerates to a Cartesian product; per-op extras
    pin stronger shapes (the normalization ladder is scan+agg only)."""
    import importlib

    mod = importlib.import_module(f"mito_spark.operators.{modname}")
    plan = _plan(getattr(mod, fnname)(spark, sf_dir))
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                 "FlatMapGroupsInPandas", "CartesianProduct") + tuple(extra_forbidden):
        assert node not in plan, (fnname, node)


def test_qc_calibration_has_no_global_sort_window(spark, sf_dir):
    """VERDICT r11 What's-wrong #2: the calibration's ntile ran as a
    ONE-partition window over the held-out frame (20% of the corpus).
    The r12 distributed form must (a) contain no ntile at all and
    (b) keep every UNPARTITIONED window spec on the bounded
    per-partition-counts frame (ordered by pid) — never on the
    corpus-proportional margin sort key."""
    from mito_spark.operators.classify import quality_classifier_calibration

    plan = _plan(quality_classifier_calibration(spark, sf_dir))
    assert "ntile" not in plan
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, "expected window specs in the calibration plan"
    for spec in specs:
        first = spec.split(",")[0].strip()
        if "ASC" in first or "DESC" in first:
            # unpartitioned window: only legal over the bounded
            # pid-counts frame
            assert first.startswith("pid"), spec



# Spark jobs one more merge round adds; the same at 2, 4 and 16 cores,
# and the same as before the five round loops became text._merge_rounds
_JOBS_PER_ROUND = {
    "bpe_learn_merges": 3,
    "bpe_learn_merges_bytes": 3,
    "wordpiece_learn": 10,
    "wordpiece_learn_subword": 9,
    "tokenizer_compression_curve": 8,
}


@pytest.mark.parametrize("name", list(_JOBS_PER_ROUND))
def test_merge_round_jobs_pinned(spark, sf_dir, name):
    """Spark jobs one more merge round adds to each tokenizer trainer
    (building the DataFrame plus a noop write), so an extra checkpoint
    or collect in the shared round loop shows up as a diff here. The
    per-round delta is pinned, not the total: the take(1) probes scale
    up over partitions, so the total moves with the core count."""
    from mito_spark.engine import load_table
    from mito_spark.operators import text

    # the first read of a table runs a one-time listing job; keep it
    # out of both counts
    load_table(spark, sf_dir, "documents")
    sc = spark.sparkContext

    def jobs(rounds: int) -> int:
        group = f"{name}|rounds{rounds}"
        sc.setJobGroup(group, group)
        try:
            df = getattr(text, name)(spark, sf_dir, rounds=rounds)
            df.write.format("noop").mode("overwrite").save()
        finally:
            sc._jsc.clearJobGroup()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    # the count depends on the shuffle width (a test earlier in the run
    # may have left the shared session at 1), so fix it for the test
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        assert jobs(3) - jobs(2) == _JOBS_PER_ROUND[name]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
