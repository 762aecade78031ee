"""Runs the benchmark once per seed, each run in its own process, and
prints for every metric the median, the quartiles and the spread (the
distance between the quartiles as a share of the median), computed as
``statistics.quantiles(values, n=4)``.

Usage: python3 perfbench/steady.py --workload W [--workload W ...]
           [--seeds 1-10] [--trace 0|1] [--seconds S]

Run from the root of the checkout. The seconds default to BENCHMARK.json's
``run_seconds``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    a = ap.parse_args()
    for w in a.workload:
        values: dict[str, list[float]] = {}
        for s in seeds(a.seeds):
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w, "--seed", str(s),
                 "--seconds", str(a.seconds), "--trace", str(a.trace)],
                cwd=ROOT, capture_output=True, text=True)
            if p.returncode != 0:
                print(f"{w} seed {s}: exit code {p.returncode}\n{p.stderr[-2000:]}")
                return 1
            result = json.loads(p.stdout.strip().splitlines()[-1])
            if not result["correct"]:
                print(f"{w} seed {s}: {result['failed']} of {result['attempted']} failed")
            for k, v in result["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        print(f"{w}: {len(seeds(a.seeds))} runs, seeds {a.seeds}")
        for k, vs in values.items():
            q1, q2, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / q2 if q2 else 0.0
            print(f"  {k:34s} median {q2:12.4f}  q1 {q1:12.4f}  q3 {q3:12.4f}  spread {spread:6.1%}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
