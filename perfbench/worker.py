"""Runs one benchmark workload in this process and writes its result
JSON to the ``--result`` file. Started by ``run.py``, which pins the
environment (see there); not meant to be run by hand.

Set-up is repeated three times and ``setup_s`` is their median. One
set-up is: a fresh import of the repository's modules, ``get_spark``,
the ``queries()`` registry, ``load_table`` over every table, and for
event_ingest the data source registration and the page generator's
start. The first set-up is timed from process start, so it also holds
interpreter start and the JVM launch; the next two stop the session and
build a new one in the same JVM.

Then comes the same untimed warm-up in every run: the batch workloads
check each query's result once against its DuckDB twin, event_ingest
drains a few pages. Then the timed passes: over the query list in an
order drawn from ``--seed`` (batch workloads), or drains of the page
backlog (event_ingest). Their number is ``--seconds`` divided by the
workload's nominal pass time, and at least two. It does not depend on
how fast the passes run, so two commits compared with the same
``--seconds`` do the same work, and no run ends a pass earlier or later
than another because of noise.
"""

from __future__ import annotations

import argparse
import ast
import json
import os
import random
import subprocess
import sys
import time
import traceback
from statistics import median

T_IMPORT = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

BATCH = {
    "corpus_batch": [
        "dedup_minhash_lsh",
        "bpe_learn_merges",
        "training_corpus_pipeline",
        "ann_cosine_topk",
    ],
    "relational_batch": [
        "q3_shipping_priority",
        "q9_profit_by_nation",
        "q21_sole_late_supplier",
        "sessionize",
        "events_asof_join",
        "lineitem_correlations",
    ],
}
# nominal seconds of one timed pass on a 4-core host; sets the number of
# passes a run makes for its --seconds
NOMINAL_PASS_S = {"corpus_batch": 6.0, "relational_batch": 3.8, "event_ingest": 5.0}

# event_ingest: one drain reads PAGES pages of PAGE_SIZE events,
# PAGES_PER_BATCH pages per micro-batch
PAGES = 6
PAGE_SIZE = 100
PAGES_PER_BATCH = 2
WARMUP_PAGES = PAGES_PER_BATCH
EVENT_SCHEMA = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double"
ANOMALY_Z = 3.0
ANOMALY_MIN_SEEN = 10

SETUPS = 3


def log(*args) -> None:
    print(f"[perfbench {time.time() - T_IMPORT:6.2f}s]", *args, file=sys.stderr, flush=True)


class Generator:
    """The page generator process of event_ingest."""

    def __init__(self, seed: int):
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "pagegen.py"), "--seed", str(seed),
             "--pages", str(PAGES), "--page-size", str(PAGE_SIZE)],
            stdout=subprocess.PIPE, text=True,
        )
        self.port = int(self.proc.stdout.readline())

    def url(self) -> str:
        return f"http://127.0.0.1:{self.port}/page/{{page}}"

    def stats(self) -> dict:
        import urllib.request

        with urllib.request.urlopen(f"http://127.0.0.1:{self.port}/stats", timeout=30) as r:
            return json.loads(r.read())

    def stop(self) -> None:
        self.proc.terminate()
        self.proc.wait()
        self.proc.stdout.close()


class Bench:
    def __init__(self, args):
        self.a = args
        self.workload = args.workload
        self.rng = random.Random(args.seed)
        self.n_passes = max(2, round(args.seconds / NOMINAL_PASS_S[args.workload]))
        self.spark = None
        self.qs = None
        self.gen: Generator | None = None
        self.run_dir = args.run_dir
        self.attempted = 0
        self.failed = 0
        self.n_drains = 0

    # ---------------------------------------------------------------- set-up

    def set_up(self) -> dict:
        for m in [m for m in sys.modules if m == "__spark_entry__" or m.startswith("mito_spark")]:
            del sys.modules[m]
        t0 = time.perf_counter()
        from mito_spark.engine import TABLES, get_spark, load_table

        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        import __spark_entry__

        self.qs = __spark_entry__.queries()
        t2 = time.perf_counter()
        for t in TABLES:
            load_table(spark, self.a.data_dir, t)
        t3 = time.perf_counter()
        self.spark = spark
        if self.workload == "event_ingest":
            from mito_spark.sources.http_source import register

            register(spark)
            self.gen = Generator(self.a.seed)
        t4 = time.perf_counter()
        return {"session_s": t1 - t0, "load_tables_s": t3 - t2, "end": t4}

    def tear_down(self) -> None:
        if self.gen is not None:
            self.gen.stop()
            self.gen = None
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def _group(self, name: str) -> None:
        self.spark.sparkContext.setJobGroup(f"{self.workload}|{name}", name)

    def _fail(self, what: str) -> None:
        self.failed += 1
        log("FAILED:", what)

    # --------------------------------------------------------- batch workloads

    def check_batch(self) -> None:
        """Each query once against its DuckDB ``oracle_sql()`` twin,
        compared with the correctness gate's ``canon()``. The DuckDB
        side runs in a background thread while Spark computes."""
        import duckdb
        from concurrent.futures import ThreadPoolExecutor

        sys.path.insert(0, os.path.join(ROOT, "scripts"))
        from check_correctness import canon

        import __spark_entry__
        from mito_spark.engine import TABLES

        oracles = __spark_entry__.oracle_sql()
        con = duckdb.connect(config={"threads": 1})
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.a.data_dir}/{t}.parquet'")
        names = self._order()
        with ThreadPoolExecutor(1) as pool:
            want = {n: pool.submit(lambda n=n: canon(con.sql(oracles[n]).df())) for n in names}
            for name in names:
                self.attempted += 1
                self._group(f"{name}|check")
                try:
                    got = canon(self.qs[name](self.spark, self.a.data_dir).toPandas())
                    ok = got[:3] == want[name].result()[:3]
                except Exception:
                    log(traceback.format_exc())
                    self._fail(f"{name}: raised")
                    continue
                if not ok:
                    self._fail(f"{name}: result differs from its oracle_sql() twin")
        con.close()

    def _order(self) -> list[str]:
        names = list(BATCH[self.workload])
        self.rng.shuffle(names)
        return names

    def run_batch(self) -> list[list[dict]]:
        """The timed passes over the query list, each in an order drawn
        from the seed. One sample per query and pass."""
        return [[self._timed_query(name) for name in self._order()]
                for _ in range(self.n_passes)]

    def _timed_query(self, name: str) -> dict:
        """Build the query (``queries()[name](spark, sf_dir)``), then
        force it with a noop write; each phase in its own job group."""
        self.attempted += 1
        lo_ms = time.time() * 1000
        q0 = time.perf_counter()
        try:
            self._group(f"{name}|build")
            df = self.qs[name](self.spark, self.a.data_dir)
            q1 = time.perf_counter()
            self._group(f"{name}|exec")
            df.write.format("noop").mode("overwrite").save()
        except Exception:
            log(traceback.format_exc())
            self._fail(f"{name}: raised")
            q1 = time.perf_counter()
        q2 = time.perf_counter()
        return {"name": name, "build_s": q1 - q0, "exec_s": q2 - q1, "wall_s": q2 - q0,
                "lo_ms": lo_ms, "hi_ms": time.time() * 1000}

    # ------------------------------------------------------------ event_ingest

    def _drain(self, n_pages: int) -> dict:
        """Read pages [0, n_pages) through the stateful anomaly stream
        into a parquet sink, from a fresh checkpoint, and stop once the
        last page is committed."""
        from mito_spark.sources.http_source import parse_json_pages
        from mito_spark.streaming.stateful import streaming_anomalies

        self.n_drains += 1
        ck = os.path.join(self.run_dir, f"drain{self.n_drains}-checkpoint")
        out = os.path.join(self.run_dir, f"drain{self.n_drains}-sink")
        pages = (
            self.spark.readStream.format("http_paginated")
            .option("url", self.gen.url())
            .option("n_pages", n_pages)
            .option("max_pages_per_batch", PAGES_PER_BATCH)
            .load()
        )
        anomalies = streaming_anomalies(
            parse_json_pages(pages, EVENT_SCHEMA), z=ANOMALY_Z, min_seen=ANOMALY_MIN_SEEN
        )
        sink = {"write_s": 0.0}

        def write(df, _batch_id):
            t = time.perf_counter()
            df.write.mode("append").parquet(out)
            sink["write_s"] += time.perf_counter() - t

        served0 = self.gen.stats()
        lo_ms = time.time() * 1000
        t0 = time.perf_counter()
        q = anomalies.writeStream.foreachBatch(write).option("checkpointLocation", ck).start()
        try:
            while _end_page(q.lastProgress) < n_pages:
                if not q.isActive:
                    raise RuntimeError(f"stream stopped early: {q.exception()}")
                if time.perf_counter() - t0 > 150:
                    raise TimeoutError("drain did not finish in 150 s")
                time.sleep(0.005)
            wall = time.perf_counter() - t0
            hi_ms = time.time() * 1000
        finally:
            q.stop()
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        served1 = self.gen.stats()
        return {
            "wall_s": wall, "lo_ms": lo_ms, "hi_ms": hi_ms, "progress": progress,
            "pages_served": served1["pages_served"] - served0["pages_served"],
            "non200": served1["non200"] - served0["non200"],
            "serve_s": served1["serve_s"] - served0["serve_s"],
            "sink_write_s": sink["write_s"], "sink_bytes": _dir_bytes(out),
            "anomalies": _read_anomalies(out),
        }

    def run_ingest(self) -> dict:
        self._group("warmup")
        self._drain(WARMUP_PAGES)
        log("warm-up drain done")
        want = welford_anomalies(self.a.seed, PAGES * PAGE_SIZE)
        if not want:
            raise ValueError("the replay finds no anomaly, so the output check would be empty")
        drains = []
        for _ in range(self.n_passes):
            d = self._drain(PAGES)
            drains.append(d)
            log(f"drain {len(drains)}: {d['wall_s']:.2f} s")
            # every page is one operation, and the drain's output check one more
            self.attempted += PAGES + 1
            bad_pages = d["non200"] + max(0, PAGES - d["pages_served"])
            for _ in range(bad_pages):
                self._fail("page not served with status 200")
            if d["anomalies"] != want:
                self._fail(
                    f"drain {len(drains)}: anomaly rows differ from the Welford replay "
                    f"({len(d['anomalies'] ^ want)} rows)"
                )
        return {"drains": drains}


def _end_page(progress) -> int:
    """Last page committed, from a progress record; the Python data
    source reports its offset as a dict literal such as {'page': 6}."""
    end = progress and progress["sources"][0]["endOffset"]
    return int(ast.literal_eval(end)["page"]) if end else -1


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def _read_anomalies(path: str) -> set[tuple[int, int]]:
    import pyarrow.parquet as pq

    files = [os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")] \
        if os.path.isdir(path) else []
    rows = set()
    for f in files:
        t = pq.read_table(f, columns=["user_id", "event_id"])
        rows.update(zip(t.column("user_id").to_pylist(), t.column("event_id").to_pylist()))
    return rows


def welford_anomalies(seed: int, count: int) -> set[tuple[int, int]]:
    """Python replay of the anomaly rule: per user, in event_id order,
    an event more than ANOMALY_Z standard deviations from the running
    mean of the user's earlier events (after ANOMALY_MIN_SEEN of them)."""
    from gendata import ingest_events

    tbl = ingest_events(seed, count)
    state: dict[int, tuple[int, float, float]] = {}
    out = set()
    for ev_id, uid, v in zip(tbl.column("event_id").to_pylist(),
                             tbl.column("user_id").to_pylist(),
                             tbl.column("value").to_pylist()):
        n, mean, m2 = state.get(uid, (0, 0.0, 0.0))
        if n >= ANOMALY_MIN_SEEN:
            std = (m2 / n) ** 0.5
            if std > 0 and abs(v - mean) > ANOMALY_Z * std:
                out.add((uid, ev_id))
        n += 1
        d = v - mean
        mean += d / n
        m2 += d * (v - mean)
        state[uid] = (n, mean, m2)
    return out


# ------------------------------------------------------------------ metrics

def end_to_end(setup_s: float, walls: list[float], ops: list[float]) -> dict:
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "pass_s": {"value": median(walls), "unit": "s"},
        "batch_p50_s": {"value": median(ops), "unit": "s"},
    }


PER_LAYER_UNITS = {
    "engine.session_s": "s",
    "engine.load_tables_s": "s",
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "operators.exec_s": "s",
    "operators.exec_jobs": "count",
    "operators.driver_only_s": "s",
    "operators.task_s": "s",
    "operators.parallelism": "cores",
    "operators.one_task_stage_s": "s",
    "operators.exchanges": "count",
    "operators.shuffle_write_bytes": "bytes",
    "operators.spill_bytes": "bytes",
    "operators.gc_s": "s",
    "sources.pages_served": "count",
    "sources.serve_s": "s",
    "sources.latest_offset_s": "s",
    "sources.sink_write_s": "s",
    "sources.sink_bytes": "bytes",
    "streaming.planning_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.jobs_per_batch": "count",
    "streaming.one_task_stage_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_bytes": "bytes",
    "streaming.state_commit_s": "s",
    "trace.pass_s": "s",
    "trace.events_per_s": "1/s",
}


def by_query(samples: list[dict]) -> dict[str, list[dict]]:
    out: dict[str, list[dict]] = {}
    for smp in samples:
        out.setdefault(smp["name"], []).append(smp)
    return out


def pass_s(passes: list[list[dict]]) -> float:
    """Median wall time of one pass over the query list."""
    return median([sum(x["wall_s"] for x in p) for p in passes])


def batch_layers(log_, workload: str, passes: list[list[dict]]) -> dict:
    """The operator layer's numbers for one pass over the query list:
    for each query the mean over its timed runs, summed over queries.
    Jobs are told apart by the job group the benchmark set."""
    samples = [x for p in passes for x in p]
    out = dict.fromkeys([
        "operators.build_s", "operators.build_jobs", "operators.exec_s", "operators.exec_jobs",
        "operators.driver_only_s", "operators.task_s", "operators.one_task_stage_s",
        "operators.exchanges", "operators.shuffle_write_bytes", "operators.spill_bytes",
        "operators.gc_s"], 0.0)
    for name, ss in by_query(samples).items():
        n = len(ss)
        build = log_.totals(log_.select(lambda j: j.group == f"{workload}|{name}|build"))
        exe = log_.totals(log_.select(lambda j: j.group == f"{workload}|{name}|exec"))
        out["operators.build_s"] += sum(x["build_s"] for x in ss) / n
        out["operators.exec_s"] += sum(x["exec_s"] for x in ss) / n
        out["operators.build_jobs"] += build["jobs"] / n
        out["operators.exec_jobs"] += exe["jobs"] / n
        out["operators.driver_only_s"] += sum(
            x["wall_s"] - log_.busy_s(x["lo_ms"], x["hi_ms"]) for x in ss) / n
        out["operators.exchanges"] += log_.exchanges(lambda g: g == f"{workload}|{name}|exec") / n
        for key in ("task_s", "one_task_stage_s", "shuffle_write_bytes", "spill_bytes", "gc_s"):
            out[f"operators.{key}"] += (build[key] + exe[key]) / n
    wall = sum(x["wall_s"] for x in samples) / len(passes)
    out["operators.parallelism"] = out["operators.task_s"] / wall
    out["trace.pass_s"] = pass_s(passes)
    return out


def ingest_layers(log_, drains: list[dict]) -> dict:
    """Per-drain means of the source and streaming layers' numbers:
    the generator's counters, the sink callback's timers, the queries'
    progress records and, for jobs and stages, the event log."""
    n = len(drains)

    def phase(name: str) -> float:
        return sum(p["durationMs"].get(name, 0) for d in drains for p in d["progress"]) / 1000 / n

    def last_state(key: str) -> float:
        return sum(d["progress"][-1]["stateOperators"][0][key] for d in drains) / n

    jobs = log_.select(lambda j: any(d["lo_ms"] <= j.submit_ms <= d["hi_ms"] for d in drains))
    tot = log_.totals(jobs)
    n_batches = sum(len(d["progress"]) for d in drains)
    wall = sum(d["wall_s"] for d in drains)
    return {
        "sources.pages_served": sum(d["pages_served"] for d in drains) / n,
        "sources.serve_s": sum(d["serve_s"] for d in drains) / n,
        "sources.latest_offset_s": phase("latestOffset"),
        "sources.sink_write_s": sum(d["sink_write_s"] for d in drains) / n,
        "sources.sink_bytes": sum(d["sink_bytes"] for d in drains) / n,
        "streaming.planning_s": phase("queryPlanning"),
        "streaming.add_batch_s": phase("addBatch"),
        "streaming.wal_commit_s": phase("walCommit"),
        "streaming.jobs_per_batch": tot["jobs"] / n_batches,
        "streaming.one_task_stage_s": tot["one_task_stage_s"] / n,
        "streaming.state_rows": last_state("numRowsTotal"),
        "streaming.state_bytes": last_state("memoryUsedBytes"),
        "streaming.state_commit_s": sum(
            p["stateOperators"][0]["commitTimeMs"] for d in drains for p in d["progress"]
        ) / 1000 / n,
        "trace.pass_s": median([d["wall_s"] for d in drains]),
        "trace.events_per_s": PAGES * PAGE_SIZE * n / wall,
    }


# --------------------------------------------------------------------- main

def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=[*BATCH, "event_ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--data-dir", required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--result", required=True, help="file to write the result JSON to")
    ap.add_argument("--event-log-dir")
    ap.add_argument("--t0", type=float, required=True, help="launcher's time.time() at spawn")
    a = ap.parse_args()

    b = Bench(a)
    setups = []
    try:
        for i in range(SETUPS):
            if i:
                b.tear_down()
            start = time.perf_counter()
            s = b.set_up()
            # the first set-up counts from process start
            s["total_s"] = (time.time() - a.t0) if i == 0 else s["end"] - start
            setups.append(s)
            log(f"set-up {i + 1}: {s['total_s']:.2f} s")
        if a.workload == "event_ingest":
            res = b.run_ingest()
            walls = [d["wall_s"] for d in res["drains"]]
            ops = [p["durationMs"]["triggerExecution"] / 1000
                   for d in res["drains"] for p in d["progress"]]
        else:
            b.check_batch()
            passes = b.run_batch()
            walls = [sum(x["wall_s"] for x in p) for p in passes]
            # one value per query, so the median does not jump between
            # the clusters of a fast and a slow query's samples
            ops = []
            for name, ss in by_query([x for p in passes for x in p]).items():
                ops.append(median([x["wall_s"] for x in ss]))
                log(f"{name}: " + " ".join(f"{x['wall_s']:.2f}" for x in ss))
        log("timed passes: " + " ".join(f"{w:.2f}" for w in walls))
        app_id = b.spark.sparkContext.applicationId
    finally:
        t = time.perf_counter()
        b.tear_down()
        log(f"tear-down {time.perf_counter() - t:.2f} s")

    if a.trace:
        from eventlog import EventLog

        elog = EventLog.read(os.path.join(a.event_log_dir, app_id))
        metrics = dict.fromkeys(PER_LAYER_UNITS, 0.0)
        metrics["engine.session_s"] = setups[0]["session_s"]
        metrics["engine.load_tables_s"] = setups[0]["load_tables_s"]
        if a.workload == "event_ingest":
            metrics.update(ingest_layers(elog, res["drains"]))
        else:
            metrics.update(batch_layers(elog, a.workload, passes))
        out = {k: {"value": v, "unit": PER_LAYER_UNITS[k]} for k, v in metrics.items()}
    else:
        out = end_to_end(median([s["total_s"] for s in setups]), walls, ops)
    with open(a.result, "w") as f:
        json.dump({"correct": b.failed == 0, "attempted": b.attempted,
                   "failed": b.failed, "metrics": out}, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
