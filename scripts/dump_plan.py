"""Plan fingerprints: build queries() entries, write each one's
normalized optimized logical plan to <out_dir>/<query>.txt and print
one JSON line {"<query>": "<md5[:12]>"} per query.

Normalizing strips expression ids (``#123``, ``#123L``) and
``plan_id=N`` tags, and renumbers lambda variables (``x_4529``) by
first appearance in the plan: those numbers come from counters that
run across the whole session, so they move with every query built
before (and with whether a persisted index had to be trained first).
Two checkouts run on the same data therefore print the same lines
exactly when their plans match, so the check for a plan-neutral
change is:

    python scripts/dump_plan.py /tmp/plans_a > a.jsonl   # checkout A
    python scripts/dump_plan.py /tmp/plans_b > b.jsonl   # checkout B
    diff a.jsonl b.jsonl

Usage: python scripts/dump_plan.py <out_dir> [query ...]   (no query: all)
Env: SPARK_GRAFT_SF_DIR, the test-data directory (same default as
scripts/time_query.py).
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_VOLATILE = re.compile(r"#\d+L?|plan_id=\d+")
_LAMBDA_VAR = re.compile(r"(lambda [xyz])_(\d+)")


def normalize(plan: str) -> str:
    """The plan string without expression ids and plan_id tags, its
    lambda variables numbered from 0 in order of first appearance."""
    ids: dict[str, int] = {}
    return _LAMBDA_VAR.sub(
        lambda m: f"{m.group(1)}_{ids.setdefault(m.group(2), len(ids))}",
        _VOLATILE.sub("", plan),
    )


def fingerprint(plan: str) -> str:
    return hashlib.md5(normalize(plan).encode()).hexdigest()[:12]


def main() -> int:
    if len(sys.argv) < 2:
        print(__doc__, file=sys.stderr)
        return 2
    out_dir = sys.argv[1]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    import __spark_entry__ as entry_mod
    from mito_spark.engine import get_spark

    qs = entry_mod.queries()
    names = sys.argv[2:] or list(qs)
    spark = get_spark("dump_plan")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        try:
            plan = qs[name](spark, sf_dir)._jdf.queryExecution().optimizedPlan().toString()
        except Exception as exc:  # keep going: one broken query must not hide the rest
            traceback.print_exc()
            print(json.dumps({name: f"error: {type(exc).__name__}"}), flush=True)
            continue
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as f:
            f.write(normalize(plan))
        print(json.dumps({name: fingerprint(plan)}), flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
