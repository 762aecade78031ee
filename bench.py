"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is forced end-to-end with a noop-format write (computes the
full plan including projections that a count() would prune). The
quadratic verification form dedup_ngram_jaccard is deliberately not a
headline (it exists as the oracle twin of the LSH path).

r3: per-query times are MEDIANS over $SPARK_GRAFT_BENCH_ITERS
round-robin passes (default 3) — r2's n<=2 runs made 0.2-0.8s of
JVM/IO noise look like per-query regressions. "value" is the sum of
medians; "spread" records per-query max-min across passes so genuine
regressions are distinguishable from noise in round-over-round diffs.

r11: the contract line carries a NOISE CANARY (VERDICT r10 next#1) —
"canary" is the median wall time of a FIXED constant workload (24M
md5+conv hashes over spark.range, CPU-bound, zero IO, zero data
dependence, one partial-agg shuffle round) run once per pass. The
canary's round-over-round ratio calibrates host speed: a uniform
drift in query times that the canary mirrors is the host, not the
engine (r10's committed artifact showed a 1.43x uniform drift nothing
in the repo could attribute without re-deriving per-query ratios).
Per-pass canary samples land in the diagnostics line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry_mod
from mito_spark.engine import get_spark

# The ``headline``-tagged rows of the operator table. An operator is
# left out when its cost is work another headline query already times
# (a composition of benched chains, or the second surface of a benched
# trainer), when k-means training dominates it at the gate scale, or
# when it is an offline tuner or a quadratic verification form.
HEADLINE = entry_mod.tagged("headline")


def _canary(spark) -> None:
    """Fixed constant workload — the host-speed yardstick. 24M rows of
    md5 + base-16 conv + bigint sum: the md5 kernel that dominates the
    dedup/sketch tiers, entirely whole-stage-codegen, no IO, no data
    dependence, so its time moves ONLY with host conditions (CPU
    contention, thermal state, JVM health)."""
    from pyspark.sql import functions as F

    (
        spark.range(0, 24_000_000, 1, 32)
        .select(
            F.conv(F.substring(F.md5(F.col("id").cast("string")), 1, 15), 16, 10)
            .cast("bigint")
            .alias("h")
        )
        .agg(F.sum(F.col("h") % 1_000_000_007))  # bounded: no ANSI overflow
        .write.format("noop")
        .mode("overwrite")
        .save()
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry_mod.queries()

    # warm the JVM + parquet footers once (not timed)
    qs["q6_forecast_revenue"](spark, sf_dir).write.format("noop").mode("overwrite").save()
    # build the persisted ANN index once (not timed): the benched
    # number for ann_persisted_topk is the steady-state QUERY cost —
    # the build is the amortized index step a production service pays
    # once, and it is idempotent (skipped when the index exists)
    if "ann_persisted_topk" in HEADLINE:
        qs["ann_persisted_topk"](spark, sf_dir).write.format("noop").mode("overwrite").save()

    iters = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_ITERS", "3")))
    samples: dict[str, list[float]] = {name: [] for name in HEADLINE}
    canary_samples: list[float] = []
    import gc

    _canary(spark)  # untimed: JIT-compile the canary's codegen once
    for _ in range(iters):
        gc.collect()
        t0 = time.time()
        _canary(spark)
        canary_samples.append(time.time() - t0)
        for name in HEADLINE:
            fn = qs[name]
            # collect BEFORE the timer: localCheckpoint blocks from
            # prior queries are only freed when their Python DataFrame
            # objects are GC'd (py4j finalizers); without this, block-
            # manager pressure from ~300 prior executions bleeds into
            # later queries' times (measured 5-10% on the heavy dedup
            # shapes). Harness hygiene, not part of the measured work.
            gc.collect()
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples[name].append(time.time() - t0)

    def median(xs: list[float]) -> float:
        s = sorted(xs)
        mid = len(s) // 2
        return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2

    times = {name: round(median(xs), 3) for name, xs in samples.items()}
    total = round(sum(times.values()), 3)

    # Diagnostics (iteration spread, aux micro-shapes) go on their OWN
    # earlier line: the driver records only the last ~2000 bytes of
    # stdout and json-parses the final line, so the contract line must
    # stay compact. Rounds 1-3 overflowed this buffer by inlining
    # spread/aux — BENCH_r0{1,2,3}.json all recorded "parsed": null.
    diag = {
        "iters": iters,
        "canary_samples": [round(x, 3) for x in canary_samples],
        "medians": times,  # full 3dp even if the contract line degrades
        "spread": {name: round(max(xs) - min(xs), 3) for name, xs in samples.items()},
    }
    try:
        diag["aux"] = _aux_benches(spark, sf_dir)
    except Exception:  # aux shapes must never break the contract line
        pass
    print(json.dumps({"diagnostics": diag}, separators=(",", ":")))

    out = {
        "metric": "headline_total",
        "value": total,
        "unit": "sec",
        "canary": round(median(canary_samples), 3),
        "queries": times,
        "sf": float(sf),
    }
    # stay under the driver's 2000-byte stdout tail: degrade decimal
    # places until the line fits (full 3dp figures are always in the
    # diagnostics line above); as a last resort drop the cheapest
    # queries from the contract line — they remain in diagnostics
    for dp in (3, 2, 1):
        out["queries"] = {n: round(v, dp) for n, v in times.items()}
        line = json.dumps(out, separators=(",", ":"))
        if len(line) < 1950:
            break
    # same 1950 threshold as the dp-degrade loop above: a line in
    # [1950, 1990) used to ship with only ~10 bytes of margin against
    # the driver's ~2000-byte stdout tail (ADVICE r4)
    by_cost = sorted(times, key=times.get)
    while len(line) >= 1950 and by_cost:
        out["queries"].pop(by_cost.pop(0), None)
        line = json.dumps(out, separators=(",", ":"))
    print(line)
    spark.stop()


def _aux_benches(spark, sf_dir: str) -> dict[str, float]:
    """Micro-shapes mirroring the reference's harness intent
    (BASELINE.md: static expression, nested state extraction, JSON
    round-trip, source-included net) — Spark-native equivalents."""
    from pyspark.sql import functions as F

    from mito_spark.engine import load_table

    aux: dict[str, float] = {}

    def t(name, fn):
        t0 = time.time()
        fn()
        aux[name] = round(time.time() - t0, 3)

    # ≈ hello_world_static: constant/projection-only over a range
    t("static_expr", lambda: spark.range(1_000_000)
      .select((F.col("id") * 2 + 1).alias("x"), F.lit("hello world").alias("s"))
      .write.format("noop").mode("overwrite").save())

    # ≈ nested_collate_map_state: decode JSON state, extract nested field
    ev = load_table(spark, sf_dir, "events")
    props = F.from_json(F.col("props"), "map<string,string>")
    t("nested_state_extract", lambda: ev
      .select("event_id", F.element_at(props, "source").alias("src"))
      .write.format("noop").mode("overwrite").save())

    # ≈ encode_json_state: full JSON round-trip of every event row
    t("json_roundtrip", lambda: ev
      .select(F.to_json(F.struct(*[F.col(c) for c in ev.columns])).alias("j"))
      .select(F.from_json("j", ev.schema.simpleString()).alias("s"))
      .write.format("noop").mode("overwrite").save())

    # ≈ *_net: source-included end-to-end against a local HTTP server
    import http.server
    import threading

    class _H(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            self.send_response(200)
            self.end_headers()
            self.wfile.write(b'[{"id": 1, "val": "hello world"}]')

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        from mito_spark.sources.http_source import parse_json_pages, register

        register(spark)
        url = f"http://127.0.0.1:{srv.server_address[1]}/d?page={{page}}"
        t("http_net", lambda: parse_json_pages(
            spark.read.format("http_paginated")
            .option("url", url).option("n_pages", 64)
            .option("pages_per_partition", 8).load(),
            "id bigint, val string",
        ).write.format("noop").mode("overwrite").save())
    finally:
        srv.shutdown()
    return aux


if __name__ == "__main__":
    main()
