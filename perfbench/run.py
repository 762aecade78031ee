"""Benchmark of the mito_spark engine, run from the root of a checkout:

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see NOTES.md): corpus_batch, relational_batch, event_ingest.
The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.

This launcher builds the input tables once per checkout (under
``.bench_work/``), pins the environment, runs the workload in a fresh
worker process, and kills and waits for every process the worker left
behind. The environment is pinned here, not in the engine:

- ``SPARK_GRAFT_CPUS`` is the number of usable cores (the engine's
  default of 32 gives ``local[32]`` and 32 shuffle partitions);
- the repository root is on ``PYTHONPATH``, which the Python workers of
  the ``http_paginated`` data source need to import ``mito_spark``;
- ``PYTHONHASHSEED``, ``SPARK_LOCAL_DIRS``, ``TMPDIR``, the driver
  memory, the Spark warehouse and ``spark.ui.showConsoleProgress``;
- with ``--trace 1``, an uncompressed, single-file event log.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
WORKLOADS = ("corpus_batch", "relational_batch", "event_ingest")
# every run must end within 180 s; leave room to stop the processes
WORKER_TIMEOUT_S = 165
DRIVER_MEMORY = "4g"


def pinned_env(run_dir: str, trace: bool) -> dict:
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    submit = [a for k, v in confs.items() for a in ("--conf", f"{k}={v}")] + ["pyspark-shell"]
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_GRAFT_MASTER", "SPARK_CONF", "PYSPARK_SUBMIT_ARGS")}
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEMORY,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        PYTHONHASHSEED="0",
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        TMPDIR=tmp,
        PYSPARK_SUBMIT_ARGS=shlex.join(submit),
    )
    return env


PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Make the processes the worker leaves behind (the JVM, Python
    workers, the page generator) children of this process when the
    worker exits, so that stop_all can wait for each of them."""
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def stop_all(pgid: int) -> None:
    """Kill what is left of the worker's process group and wait until
    every descendant has ended."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    while True:
        try:
            os.waitpid(-1, 0)
        except ChildProcessError:
            return


def main() -> int:
    t0 = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--data-dir", help="input tables (default: built under .bench_work/)")
    a = ap.parse_args()

    missing = [p for p in ("mito_spark", "__spark_entry__.py", "scripts/check_correctness.py")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a mito_spark checkout, missing {missing}", file=sys.stderr)
        return 2

    data_dir = a.data_dir
    if data_dir is None:
        data_dir = os.path.join(WORK, "data")
        if not os.path.isdir(data_dir):
            sys.path.insert(0, HERE)
            from gendata import build

            build(data_dir)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        cmd = [sys.executable, os.path.join(HERE, "worker.py"),
               "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
               "--trace", str(a.trace), "--data-dir", os.path.abspath(data_dir),
               "--run-dir", run_dir, "--result", os.path.join(run_dir, "result.json"),
               "--t0", repr(t0)]
        if a.trace:
            cmd += ["--event-log-dir", os.path.join(run_dir, "eventlog")]
        become_subreaper()
        proc = subprocess.Popen(cmd, env=pinned_env(run_dir, bool(a.trace)), cwd=run_dir,
                                stdout=sys.stderr, start_new_session=True)
        try:
            rc = proc.wait(timeout=WORKER_TIMEOUT_S - (time.time() - t0))
        except subprocess.TimeoutExpired:
            print("perfbench: worker timed out", file=sys.stderr)
            rc = None
        finally:
            stop_all(proc.pid)
        if rc != 0:
            print(f"perfbench: worker failed (exit code {rc})", file=sys.stderr)
            return 1
        with open(os.path.join(run_dir, "result.json")) as f:
            result = json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
