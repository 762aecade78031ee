"""Sketch-tier accuracy: estimates must land within declared error
bounds of the exact answers, and HLL sketches must merge losslessly
(the property that makes them the 100 TB path)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from mito_spark.engine import load_table
from mito_spark.operators import sketches

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def exact(spark):
    ev = load_table(spark, SF_DIR, "events")
    rows = (
        ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("users_exact"),
            F.expr("percentile(value, 0.5)").alias("p50_exact"),
            F.expr("percentile(value, 0.95)").alias("p95_exact"),
        )
        .collect()
    )
    return {r.event_type: r for r in rows}


def test_sketch_estimates_within_bounds(spark, exact):
    got = {r.event_type: r for r in sketches.sketch_estimates(spark, SF_DIR).collect()}
    assert set(got) == set(exact)
    for et, r in got.items():
        e = exact[et]
        # approx_count_distinct at rsd=0.02 → generous 3-sigma-ish 6% gate
        assert abs(r.users_approx - e.users_exact) <= max(3, 0.06 * e.users_exact), et
        # hll_sketch default lgConfigK=12 → ~1.6% rsd
        assert abs(r.users_hll - e.users_exact) <= max(3, 0.06 * e.users_exact), et
        # percentile_approx with accuracy=10000 on ~10k rows is near-exact;
        # gate on rank-tolerance expressed in value space (values ~ U[0,1000])
        assert abs(r.p50_approx - e.p50_exact) <= 10.0, et
        assert abs(r.p95_approx - e.p95_exact) <= 10.0, et


def test_gated_profile_bounds_all_true(spark):
    """The driver-gated form's bound booleans must all be TRUE (the
    oracle pins them TRUE, so a false here is a future gate failure)."""
    rows = sketches.sketch_distinct_profile(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r.users_approx_ok and r.users_hll_ok, r.event_type
        assert r.p50_approx_ok and r.p95_approx_ok, r.event_type


def test_hll_sketches_merge_losslessly(spark, exact):
    """Partial sketches per (event_type, user bucket) re-aggregated to
    event_type must estimate as if built in one pass — the mergeability
    contract that lets 1000 executors each sketch locally."""
    ev = load_table(spark, SF_DIR, "events")
    parts = ev.groupBy("event_type", (F.col("user_id") % 7).alias("b")).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    merged = {
        r.event_type: r.distinct_estimate
        for r in sketches.merge_hll_sketches(parts, "sk", "event_type").collect()
    }
    one_pass = {
        r.event_type: r.est
        for r in ev.groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est"))
        .collect()
    }
    assert merged == one_pass


# ---------- heavy hitters: MG guarantee + input-layout invariance ----


def test_heavy_hitters_exact_vs_bruteforce(spark, tmp_path):
    """The two-pass MG+verify answer must EQUAL the exact one-pass
    groupBy answer (no false negatives is the MG guarantee; no false
    positives because the verify pass recounts exactly), and must not
    depend on the input file layout (different partitionings produce
    different candidate SETS but the same verified output)."""
    import random

    from mito_spark.operators.sketches import HH_DEN, HH_NUM, heavy_hitters

    rng = random.Random(7)
    # zipf-ish corpus: a few hot words, a long unique tail
    words = []
    for i in range(40):
        words += [f"hot{i}"] * (400 - 9 * i)
    words += [f"tail{i}" for i in range(5000)]
    rng.shuffle(words)
    docs = [
        (i, " ".join(words[i * 50 : (i + 1) * 50]))
        for i in range((len(words) + 49) // 50)
    ]
    results = {}
    for nparts in (1, 13):
        td = str(tmp_path / f"p{nparts}")
        spark.createDataFrame(docs, "doc_id long, text string").repartition(
            nparts
        ).write.parquet(f"{td}/documents.parquet")
        results[nparts] = {
            tuple(r) for r in heavy_hitters(spark, td).collect()
        }
    assert results[1] == results[13]
    # brute-force exact answer
    n = len(words)
    from collections import Counter

    exact = {
        (t, c, round(c / n, 6))
        for t, c in Counter(words).items()
        if c * HH_DEN >= HH_NUM * n
    }
    assert results[1] == exact
    assert len(exact) > 5  # the probe corpus must actually have hitters


def test_heavy_hitters_candidates_capacity_bounded(spark):
    """The MERGED candidate set must stay <= MG_CAPACITY at any
    partition count (r8 verdict wrong#1): per-partition summaries with
    disjoint vocabularies would union to partitions × capacity rows;
    the mergeable-summaries merge (sum residuals + capacity cut) keeps
    the verify broadcast capacity-bounded regardless of partitioning."""
    from mito_spark.operators.sketches import (
        MG_CAPACITY,
        _mg_merge_candidates,
    )

    # a summary as 16 partitions with DISJOINT 900-term vocabularies
    # would emit it (per-partition MG keeps <= capacity each; the
    # union is 14400), plus one globally-hot term every partition
    # retained with a large residual — that one must survive the cut
    n_parts, per_part = 16, 900
    rows = [
        (f"p{p}_t{j}", 5 + (j % 7), None)
        for p in range(n_parts)
        for j in range(per_part)
    ]
    rows += [("mega", 1000, None) for _ in range(n_parts)]
    rows += [(None, None, 100_000) for _ in range(n_parts)]
    summary = spark.createDataFrame(rows, "term string, cnt bigint, n bigint")
    union_n = summary.where(F.col("term").isNotNull()).select("term").distinct().count()
    assert union_n > MG_CAPACITY  # the merge is doing work, not vacuous
    cands = _mg_merge_candidates(summary)
    assert len(cands) <= MG_CAPACITY
    assert "mega" in cands  # merged residual 16000 clears any cut


def test_global_percentiles_checkpoint_optional(spark, sf_dir, monkeypatch):
    """checkpoint=False must perform ZERO localCheckpoints (the 100 TB
    shape re-reads the pruned parquet column) and still produce the
    identical result as the checkpointed path."""
    # pyspark 4: the classic DataFrame subclass OVERRIDES
    # localCheckpoint, so the spy must land on the implementation class
    from pyspark.sql.classic.dataframe import DataFrame

    from mito_spark.operators.sketches import global_percentiles_exact

    calls = []
    orig = DataFrame.localCheckpoint

    def spy(self, *a, **k):
        calls.append(1)
        return orig(self, *a, **k)

    monkeypatch.setattr(DataFrame, "localCheckpoint", spy)
    off = sorted(
        tuple(r) for r in global_percentiles_exact(spark, sf_dir, checkpoint=False).collect()
    )
    assert not calls
    on = sorted(
        tuple(r) for r in global_percentiles_exact(spark, sf_dir, checkpoint=True).collect()
    )
    assert calls
    assert off == on


def test_global_percentiles_degenerate_events(spark, tmp_path):
    """Events-table degenerates (ADVICE r8): NaN values are excluded on
    BOTH engines, and an all-NULL/NaN (effectively empty) corpus yields
    one NULL-valued row per quantile on both — quantile_cont semantics,
    not zero rows."""
    import duckdb

    from mito_spark.operators.sketches import (
        GLOBAL_PERCENTILES_SQL,
        GP_QUANTILES,
        global_percentiles_exact,
    )

    def write_events(name, values):
        d = str(tmp_path / name)
        spark.createDataFrame(
            [(i, v) for i, v in enumerate(values)], "event_id long, value double"
        ).selectExpr(
            "event_id",
            "timestamp('2024-01-01') as ts",
            "event_id % 3 as user_id",
            "'t' as event_type",
            "value",
            "'{}' as props",
        ).write.parquet(d + "/events.parquet")
        return d

    def oracle(d):
        con = duckdb.connect()
        con.execute(f"CREATE VIEW events AS SELECT * FROM '{d}/events.parquet/*.parquet'")
        return sorted(con.execute(GLOBAL_PERCENTILES_SQL).fetchall())

    # NaN mixed with real values: excluded, p50 of [1,2,3] is 2
    d1 = write_events("nanmix", [float("nan"), 1.0, 2.0, 3.0, None])
    got1 = sorted(tuple(r) for r in global_percentiles_exact(spark, d1).collect())
    assert got1 == oracle(d1)
    assert dict(got1)[0.5] == 2.0
    # all NULL/NaN: one NULL row per quantile, both engines
    d2 = write_events("allnull", [None, float("nan"), None])
    got2 = sorted(tuple(r) for r in global_percentiles_exact(spark, d2).collect())
    assert got2 == oracle(d2)
    assert len(got2) == len(GP_QUANTILES) and all(v is None for _, v in got2)


def test_global_percentiles_exact_forced_rounds(spark, sf_dir):
    """The histogram-refinement path (tiny final_max forces real
    rounds, including the empty-bins-between-order-stats corner) must
    agree exactly with the one-shot small path."""
    from mito_spark.operators.sketches import global_percentiles_exact

    easy = {
        (r.quantile): r.value_exact
        for r in global_percentiles_exact(spark, sf_dir).collect()
    }
    forced = {
        (r.quantile): r.value_exact
        for r in global_percentiles_exact(spark, sf_dir, final_max=5).collect()
    }
    assert easy == forced and len(easy) == 4


def test_global_percentiles_exact_duplicate_heavy(spark, tmp_path):
    """A value whose multiplicity exceeds final_max must resolve via
    the all-equal guard, never an unbounded collect, and still match
    quantile_cont."""
    import duckdb

    from mito_spark.operators.sketches import (
        GLOBAL_PERCENTILES_SQL,
        global_percentiles_exact,
    )

    rows = [(i, float(5.0 if i % 10 else i)) for i in range(20000)]
    d = str(tmp_path / "dup")
    spark.createDataFrame(rows, "event_id long, value double").selectExpr(
        "event_id",
        "timestamp('2024-01-01') as ts",
        "event_id % 7 as user_id",
        "'t' as event_type",
        "value",
        "'{}' as props",
    ).write.parquet(d + "/events.parquet")
    got = {
        r.quantile: r.value_exact
        for r in global_percentiles_exact(spark, d, final_max=50).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{d}/events.parquet/*.parquet'"
    )
    want = {q: v for q, v in con.execute(GLOBAL_PERCENTILES_SQL).fetchall()}
    assert got == want
    assert got[0.5] == 5.0  # the hot value IS the median


def test_cms_never_undercounts_and_holds_its_bound(spark, sf_dir):
    """CMS structural guarantees on the gate corpus: the estimate is
    min over D counters that each count a superset of the gram's
    occurrences, so over-count is >= 0 in EVERY bucket (a negative
    mean_over would expose a broken hash), and the share of sampled
    grams within the paper's eps*N bound must be overwhelming
    (per-term failure probability e^-D ~ 1.8%)."""
    from mito_spark.operators.sketches import cms_calibration_report

    rows = cms_calibration_report(spark, sf_dir).collect()
    assert rows, "gate corpus must produce a non-empty report"
    for r in rows:
        assert r["mean_over"] >= 0.0
        assert r["max_over"] >= 0
        assert r["within_eps_share"] >= 0.9
    # eval budget: expected sample is ~TARGET terms, never the vocab
    assert sum(r["n_terms"] for r in rows) <= 4 * 1024


def test_bbit_estimator_is_exact_on_identical_docs(spark, tmp_path):
    """J=1 pairs must read est=1.0 at EVERY b: all K slots match, so
    (M - C)/(1 - C) = 1 regardless of the mask width — the fixed point
    of the Li-Koenig correction. Also pins the b arm set."""
    import pandas as pd

    td = str(tmp_path / "docs")
    spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta", "en", "a", 30),
         (2, "alpha beta gamma delta epsilon zeta", "en", "a", 30)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{td}/documents.parquet")
    from mito_spark.operators.dedup import _BBIT_VALUES, bbit_minhash_report

    pdf: pd.DataFrame = bbit_minhash_report(spark, td).toPandas()
    assert sorted(pdf["b"].tolist()) == sorted(_BBIT_VALUES)
    assert (pdf["jaccard_bucket"] == 1.0).all()
    assert (pdf["mean_est"] == 1.0).all()
    assert (pdf["mean_exact"] == 1.0).all()
    assert (pdf["mean_abs_err"] == 0.0).all()


# ---------- HLL calibration ----------


def _py_hll(items, p=12):
    """Pure-Python twin of the engine-portable HLL: salted-md5 60-bit
    hash, idx = low p bits, rho = leading-zero count of the remaining
    bits + 1, exact integer register sum, linear-counting small-range
    correction with the 9dp-rounded ln."""
    import hashlib
    import math
    from decimal import ROUND_HALF_UP, Decimal

    m = 1 << p
    wbits = 60 - p
    regs = {}
    for it in items:
        v = int(hashlib.md5(f"hll:{it}".encode()).hexdigest()[:15], 16)
        idx, w = v & (m - 1), v >> p
        rho = (wbits + 1) if w == 0 else (wbits + 1 - w.bit_length())
        regs[idx] = max(regs.get(idx, 0), rho)
    s = sum(1 << (wbits + 1 - r) for r in regs.values())
    v_empty = m - len(regs)
    s_total = s + v_empty * (1 << (wbits + 1))
    alpha_num = (0.7213 / (1.0 + 1.079 / m)) * float(m) * float(m) * float(
        1 << (wbits + 1)
    )
    e_raw = alpha_num / float(s_total)

    def r(x, dp):
        return float(Decimal(repr(x)).quantize(Decimal(f"1e-{dp}"), ROUND_HALF_UP))

    if e_raw <= 2.5 * m and v_empty > 0:
        return r(float(m) * r(math.log(float(m) / v_empty), 9), 6), v_empty, "linear"
    return r(e_raw, 6), v_empty, "raw"


def test_hll_matches_python_reference(spark, tmp_path):
    """Register contents, branch choice, and the 6dp estimate must
    equal the hermetic pure-Python HLL on a constructed corpus."""
    from mito_spark.operators.sketches import hll_calibration_report

    docs = [
        (i, " ".join(f"w{(i * 31 + j) % 97}" for j in range(40)), "en", f"s{i % 3}", 40)
        for i in range(25)
    ]
    d = str(tmp_path / "hll")
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(d + "/documents.parquet")

    toks = [t for _, text, *_ in docs for t in text.lower().split()]
    token_items = set(toks)
    per_doc = [text.lower().split() for _, text, *_ in docs]
    bigrams = {f"{ts[i]} {ts[i+1]}" for ts in per_doc for i in range(len(ts) - 1)}
    grams5 = {" ".join(ts[i : i + 5]) for ts in per_doc for i in range(len(ts) - 4)}
    want = {
        "token": (len(token_items), *_py_hll(token_items)),
        "bigram": (len(bigrams), *_py_hll(bigrams)),
        "gram5": (len(grams5), *_py_hll(grams5)),
        "doc": (25, *_py_hll({str(i) for i in range(25)})),
        "source": (3, *_py_hll({f"s{i}" for i in range(3)})),
    }
    got = {
        r["domain"]: (r["n_exact"], r["n_hll"], r["v_empty"], r["branch"])
        for r in hll_calibration_report(spark, d).collect()
    }
    assert got == want


def test_hll_yard_rate_floor_and_doubling():
    """The yardstick rate floors to 1 up to the bound (the constant
    the static oracle SQL is generated with) and doubles as the item
    count crosses each power-of-2 multiple."""
    from mito_spark.operators.sketches import HLL_YARDSTICK_MAX, _hll_yard_rate

    assert _hll_yard_rate(0) == 1
    assert _hll_yard_rate(HLL_YARDSTICK_MAX) == 1
    assert _hll_yard_rate(HLL_YARDSTICK_MAX + 1) == 2
    assert _hll_yard_rate(4 * HLL_YARDSTICK_MAX) == 4
    assert _hll_yard_rate(4 * HLL_YARDSTICK_MAX + 1) == 8


def test_hll_domains_emit_no_null_items(spark, sf_dir):
    """PRECONDITION pin (ADVICE r12): the shared distinct pass filters
    NULL items, which must be a no-op for the register leg to equal a
    hash-every-row register pass. All five calibration domains derive
    from non-null columns: doc_id/source are non-null table columns and
    the token/bigram/gram5 arrays are built from non-null tokens (an
    explode over them can never emit NULL). Pin the data-side half of
    that invariant on the gate corpus."""
    docs = load_table(spark, sf_dir, "documents")
    nulls = docs.where(
        F.col("doc_id").isNull() | F.col("source").isNull() | F.col("text").isNull()
    ).count()
    assert nulls == 0
    from mito_spark.functions.strings import fields

    toks = docs.select(fields(F.lower(F.col("text"))).alias("toks"))
    null_toks = toks.where(
        F.exists("toks", lambda t: t.isNull()) | F.col("toks").isNull()
    ).count()
    assert null_toks == 0


def test_hll_gate_corpus_floors_to_unrestricted_yardstick(spark, sf_dir):
    """The gate corpus must derive yard_rate == 1 (auto-knob floor
    discipline: the derived value must equal the constant in the
    static oracle SQL)."""
    from mito_spark.operators.sketches import hll_calibration_report

    rows = hll_calibration_report(spark, sf_dir).collect()
    assert {r["yard_rate"] for r in rows} == {1}


def test_hll_yardstick_subdomain_matches_python_reference(spark, tmp_path):
    """Forced tiny yardstick_max: BOTH legs must restrict to the SAME
    'hllyard'-salted hash subdomain — exact counts and estimates equal
    the pure-Python twin computed on that subdomain, and yard_rate
    records the power-of-2 restriction."""
    import hashlib

    from mito_spark.operators.sketches import _hll_yard_rate, hll_calibration_report

    docs = [
        (i, " ".join(f"w{(i * 31 + j) % 97}" for j in range(40)), "en", f"s{i % 3}", 40)
        for i in range(25)
    ]
    d = str(tmp_path / "hllyard")
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(d + "/documents.parquet")

    per_doc = [text.lower().split() for _, text, *_ in docs]
    n_items = sum(len(ts) + max(len(ts) - 1, 0) + max(len(ts) - 4, 0) + 2 for ts in per_doc)
    rate = _hll_yard_rate(n_items, yardstick_max=256)
    assert rate > 1  # the restriction actually fires

    def in_sub(item):
        return int(hashlib.md5(f"hllyard:{item}".encode()).hexdigest()[:15], 16) % rate == 0

    token_items = {t for ts in per_doc for t in ts if in_sub(t)}
    bigrams = {
        f"{ts[i]} {ts[i+1]}"
        for ts in per_doc
        for i in range(len(ts) - 1)
        if in_sub(f"{ts[i]} {ts[i+1]}")
    }
    grams5 = {
        " ".join(ts[i : i + 5])
        for ts in per_doc
        for i in range(len(ts) - 4)
        if in_sub(" ".join(ts[i : i + 5]))
    }
    doc_items = {str(i) for i in range(25) if in_sub(str(i))}
    src_items = {f"s{i}" for i in range(3) if in_sub(f"s{i}")}
    want = {
        dom: (len(it), *_py_hll(it), rate)
        for dom, it in [
            ("token", token_items),
            ("bigram", bigrams),
            ("gram5", grams5),
            ("doc", doc_items),
            ("source", src_items),
        ]
        if it  # an empty subdomain drops out of the groupBy on both engines
    }
    got = {
        r["domain"]: (r["n_exact"], r["n_hll"], r["v_empty"], r["branch"], r["yard_rate"])
        for r in hll_calibration_report(spark, d, yardstick_max=256).collect()
    }
    assert got == want


def test_hll_error_is_calibrated_on_gate_corpus(spark, sf_dir):
    """The measured error must sit inside sane bounds for each branch:
    linear-counting domains (tiny cardinality vs m=4096) within 5%,
    the raw harmonic-mean branch within 3 standard errors
    (3 * 1.04/sqrt(m) ~ 4.9%). Both branches must actually fire on the
    gate corpus — the report exists to measure both."""
    from mito_spark.operators.sketches import hll_calibration_report

    rows = hll_calibration_report(spark, sf_dir).collect()
    assert {r["domain"] for r in rows} == {"token", "bigram", "gram5", "doc", "source"}
    branches = {r["domain"]: r["branch"] for r in rows}
    assert branches["source"] == "linear"
    assert branches["gram5"] == "raw"
    for r in rows:
        bound = 4.9 if r["branch"] == "raw" else 5.0
        assert abs(r["err_pct"]) <= bound, (r["domain"], r["err_pct"])


def test_quantile_sketch_error_bounded_by_bin_width(spark, sf_dir):
    """The sketch's contract: the estimate is the LOWER EDGE of the
    bucket holding the target rank, so est <= exact and the error is
    bounded by one bin width (max/QS_BINS) for every group and every
    quantile."""
    from pyspark.sql import functions as F

    from mito_spark.engine import load_table
    from mito_spark.operators.sketches import QS_BINS, quantile_sketch_calibration

    rows = quantile_sketch_calibration(spark, sf_dir).collect()
    assert rows
    mx = load_table(spark, sf_dir, "events").agg(F.max("value")).collect()[0][0]
    width = mx / QS_BINS
    for r in rows:
        for t in (50, 95, 99):
            assert r[f"est_p{t}"] <= r[f"exact_p{t}"] + 1e-9, (r["event_type"], t)
            assert r[f"err_p{t}"] <= width + 1e-9, (r["event_type"], t)


def test_quantile_sketch_degenerate_events(spark, tmp_path):
    """Single-value and single-row groups: the estimate bucket exists
    (clamp keeps value == max in the last bin), ranks stay in
    [1, n], and both engines agree exactly."""
    import duckdb

    from mito_spark.operators.sketches import (
        QUANTILE_SKETCH_SQL,
        quantile_sketch_calibration,
    )

    d = str(tmp_path / "qs")
    spark.createDataFrame(
        [(0, "a", 5.0), (1, "a", 5.0), (2, "b", 1.25)],
        "event_id long, event_type string, value double",
    ).selectExpr(
        "event_id",
        "timestamp('2024-01-01') as ts",
        "event_id % 3 as user_id",
        "event_type",
        "value",
        "'{}' as props",
    ).write.parquet(d + "/events.parquet")
    got = sorted(tuple(r) for r in quantile_sketch_calibration(spark, d).collect())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{d}/events.parquet/*.parquet'")
    want = sorted(tuple(r) for r in con.execute(QUANTILE_SKETCH_SQL).fetchall())
    assert got == want
    by_type = {r[0]: r for r in got}
    # type 'a': all values 5.0 == max -> last-bin clamp; exact == 5.0
    assert by_type["a"][3] == 5.0  # exact_p50
    # type 'b': single row -> every quantile is that row
    assert by_type["b"][3] == 1.25


def test_qs_gate_corpus_floors_to_unrestricted_yardstick(spark, sf_dir):
    """The gate corpus must derive yard_rate == 1 (auto-knob floor
    discipline: the derived value must equal the constant in the
    static oracle SQL)."""
    from mito_spark.operators.sketches import quantile_sketch_calibration

    rows = quantile_sketch_calibration(spark, sf_dir).collect()
    assert rows and {r["yard_rate"] for r in rows} == {1}


def test_qs_yardstick_subdomain_matches_python_reference(spark, tmp_path):
    """Forced tiny yardstick_max: BOTH legs — and the width
    derivation, so the sketch stays coherent with its yardstick —
    must restrict to the SAME 'qsyard'-salted hash subdomain of event
    rows; estimates/exacts/errors equal a pure-Python twin computed
    on the sampled rows, and yard_rate records the restriction."""
    import hashlib
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from mito_spark.operators.sketches import (
        QS_BINS,
        QS_QUANTILES,
        _hll_yard_rate,
        quantile_sketch_calibration,
    )

    rows = [(i, f"t{i % 4}", float((i * 37) % 101) + 0.25) for i in range(300)]
    d = str(tmp_path / "qsyard")
    spark.createDataFrame(
        rows, "event_id long, event_type string, value double"
    ).selectExpr(
        "event_id",
        "timestamp('2024-01-01') as ts",
        "event_id % 7 as user_id",
        "event_type",
        "value",
        "'{}' as props",
    ).write.parquet(d + "/events.parquet")

    rate = _hll_yard_rate(300, yardstick_max=64)
    assert rate > 1  # the restriction actually fires

    def in_sub(eid):
        return int(hashlib.md5(f"qsyard:{eid}".encode()).hexdigest()[:15], 16) % rate == 0

    def r6(x):
        return float(Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP))

    sub = [(t, v) for i, t, v in rows if in_sub(i)]
    assert sub
    mx = max(v for _, v in sub)
    width = mx / QS_BINS if mx > 0 else 1.0
    want = {}
    for t in sorted({tt for tt, _ in sub}):
        vs = sorted(v for tt, v in sub if tt == t)
        n = len(vs)
        # sorted bucket ids: the id at 1-based rank IS the first
        # bucket whose cumulative count reaches the rank
        buckets = sorted(
            min(max(math.floor(v / width), 0), QS_BINS - 1) for v in vs
        )
        rec = [n]
        for q in QS_QUANTILES:
            rank = math.ceil(q * n)
            est = buckets[rank - 1] * width
            rec += [r6(est), r6(vs[rank - 1]), r6(abs(est - vs[rank - 1]))]
        rec.append(rate)
        want[t] = tuple(rec)
    got = {
        r["event_type"]: tuple(r)[1:]
        for r in quantile_sketch_calibration(spark, d, yardstick_max=64).collect()
    }
    assert got == want


def test_negative_sampling_smoothing_ratio(spark, tmp_path):
    """The 3/4-power smoothing, pinned exactly: a token with count 16
    gets 16^(3/4) = 8x the probability (and ~8x the slots) of a
    count-1 token — not 16x (unsmoothed) and not 1x (uniform). Slot
    floor() under-fills by < |vocab|."""
    from mito_spark.operators.sampling import (
        NS_TABLE_SIZE,
        negative_sampling_table,
    )

    d = str(tmp_path / "docs")
    spark.createDataFrame(
        [(0, "aa " * 16 + "bb", "en", "s0", 1)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(f"{d}/documents.parquet")
    rows = {r["token"]: r for r in negative_sampling_table(spark, d).collect()}
    assert rows["aa"]["cnt"] == 16 and rows["bb"]["cnt"] == 1
    assert rows["aa"]["smoothed"] == 8.0 and rows["bb"]["smoothed"] == 1.0
    assert abs(rows["aa"]["prob"] - 8 / 9) < 1e-6
    total_slots = sum(r["n_slots"] for r in rows.values())
    assert NS_TABLE_SIZE - len(rows) < total_slots <= NS_TABLE_SIZE


def test_kmv_exact_branch_on_small_sets(spark, tmp_path):
    """When every source holds fewer than K distinct shingle hashes,
    the bottom-k sketch IS the set: est_union must equal exact_union
    and est_jaccard must equal exact_jaccard exactly (the documented
    KMV small-set degeneracy)."""
    import pyspark.sql.functions as F

    from mito_spark.operators.sketches import kmv_overlap_report

    d = str(tmp_path / "kmv")
    rows = [
        (0, "alpha beta gamma delta epsilon zeta", "sA"),
        (1, "alpha beta gamma other words here", "sA"),
        (2, "alpha beta gamma delta epsilon zeta", "sB"),
        (3, "totally different tokens in this one", "sB"),
    ]
    spark.createDataFrame(rows, "doc_id long, text string, source string").withColumn(
        "lang", F.lit("en")
    ).withColumn("n_chars", F.length("text")).write.parquet(d + "/documents.parquet")
    out = kmv_overlap_report(spark, d).collect()
    assert len(out) == 1
    r = out[0]
    assert r.est_union == float(r.exact_union)
    assert abs(r.est_jaccard - r.exact_jaccard) < 1e-12
    assert r.union_err_pct == 0.0 and r.jaccard_abs_err == 0.0
    assert r.exact_jaccard > 0  # the planted shared shingles overlap
