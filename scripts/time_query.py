"""Isolated per-query timing: one fresh session, N reps of each named
query forced through the noop sink (guide §1.4), each rep in its own
job group ``<query>|rep<i>`` (guide §1.5). Prints per-rep seconds and
Spark job counts (building the DataFrame plus the noop write) and the
median seconds per query.

Usage: python scripts/time_query.py <reps> <query> [query ...]
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mito_spark.engine import get_spark


def main() -> int:
    if len(sys.argv) < 3:
        print(__doc__, file=sys.stderr)
        return 2
    reps = int(sys.argv[1])
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    spark = get_spark("time_query")
    spark.sparkContext.setLogLevel("ERROR")
    # warm the JVM once, untimed (same warmup query as bench.py)
    qs["q6_forecast_revenue"](spark, sf_dir).write.format("noop").mode("overwrite").save()
    sc = spark.sparkContext
    out = {}
    for name in names:
        samples, jobs = [], []
        for i in range(reps):
            gc.collect()
            group = f"{name}|rep{i}"
            sc.setJobGroup(group, group)
            t0 = time.time()
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples.append(round(time.time() - t0, 3))
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
        s = sorted(samples)
        mid = len(s) // 2
        med = s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2
        out[name] = {"median": round(med, 3), "samples": samples, "jobs": jobs}
        print(json.dumps({name: out[name]}), flush=True)
    print(json.dumps({"summary": {k: v["median"] for k, v in out.items()}}))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
