"""Local mimic of the driver's correctness gate: run each queries()
entry on Spark and its oracle_sql() twin on DuckDB at sf0.01, compare
row count, sorted column names, and a value hash.

Faithful to the driver's canonicalizer (post-r1 rework): both sides go
through pandas (Spark ``.toPandas()``, DuckDB ``rel.df()``), columns
are sorted by name, rows are sorted with ``DataFrame.sort_values`` on
every column (list-typed columns therefore raise, exactly as the
driver ERRs), and cells are rendered dtype-sensitively — a DuckDB
HUGEINT that pandas materializes as float64 hashes as ``5.0`` and will
NOT match Spark's int64 ``5``. That dtype strictness is the point: the
r1 tree had 6 driver-red rows this script's predecessor could not see.

Usage: python scripts/check_correctness.py [sf_dir] [query ...]
                                            [--json out.json]

--json writes the per-query results as a JSON object (the committed
CORRECTNESS_LOCAL_r{N}.json artifact — r9 VERDICT next#2: the
full-registry sweep as an auditable file, not a prose claim).
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _cell(v) -> str:
    import numpy as np
    import pandas as pd

    if v is None:
        return "NULL"
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if f != f:
            return "NULL"
        # repr keeps the dtype visible: float64 5 renders "5.0", which
        # deliberately does NOT match an int64 "5".
        return repr(f)
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, pd.Timestamp):
        return v.tz_localize(None).isoformat() if v.tzinfo else v.isoformat()
    if v is pd.NaT:
        return "NULL"
    try:
        if pd.isna(v):
            return "NULL"
    except (TypeError, ValueError):
        pass
    return str(v)


def canon(pdf) -> tuple[str, int, list[str], list[str]]:
    """(value_hash, n_rows, sorted_cols, dtypes) — raises on
    unsortable (list-typed) columns, as the driver does."""
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    if len(pdf):
        pdf = pdf.sort_values(by=cols).reset_index(drop=True)
    lines = ["|".join(_cell(v) for v in row) for row in pdf.itertuples(index=False)]
    h = hashlib.md5("\n".join(lines).encode()).hexdigest()
    return h, len(pdf), cols, [str(t) for t in pdf.dtypes]


def main() -> int:
    argv = sys.argv[1:]
    json_path = None
    if "--json" in argv:
        i = argv.index("--json")
        if i + 1 >= len(argv):
            print("usage: check_correctness.py [sf_dir] [query ...] [--json out.json]")
            return 2
        json_path = argv[i + 1]
        argv = argv[:i] + argv[i + 2 :]
    sf_dir = argv[0] if argv and os.path.isdir(argv[0]) else "/root/testdata/sf0.01"
    only = set(a for a in argv if not os.path.isdir(a)) or None

    import duckdb

    import __spark_entry__ as entry_mod
    from mito_spark.engine import TABLES, get_spark

    spark = get_spark("correctness-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    results: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            spdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            results[name] = {"status": "FAIL", "err": f"spark: {e}"[:300]}
            continue
        try:
            dpdf = con.sql(oracles[name]).df()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            failures.append(name)
            results[name] = {"status": "FAIL", "err": f"duckdb: {e}"[:300]}
            continue
        try:
            sh, sn, sc, sdt = canon(spdf)
            dh, dn, dc, ddt = canon(dpdf)
        except Exception as e:
            print(f"ERR   {name}: canon error (driver would ERR too): {type(e).__name__}: {e}")
            failures.append(name)
            results[name] = {"status": "ERR", "err": f"canon: {type(e).__name__}: {e}"[:300]}
            continue
        status = "PASS" if (sh == dh and sn == dn and sc == dc) else "FAIL"
        results[name] = {
            "status": status, "rows": sn, "hash": sh,
            "hash_match": sh == dh, "rows_match": sn == dn,
            "cols_match": sc == dc, "sec": round(time.time() - t0, 1),
        }
        detail = ""
        if status == "FAIL":
            failures.append(name)
            if sc != dc:
                detail = f" cols: spark={sc} duck={dc}"
            elif sn != dn:
                detail = f" rows: spark={sn} duck={dn}"
            elif sdt != ddt:
                detail = f" dtypes: spark={dict(zip(sc, sdt))} duck={dict(zip(dc, ddt))}"
            else:
                srows = ["|".join(_cell(v) for v in r) for r in spdf[sc].sort_values(by=sc).itertuples(index=False)]
                drows = ["|".join(_cell(v) for v in r) for r in dpdf[dc].sort_values(by=dc).itertuples(index=False)]
                diffs = [(a, b) for a, b in zip(srows, drows) if a != b][:2]
                detail = f" first diffs: {diffs}"
        print(f"{status}  {name}: {sn} rows, {time.time()-t0:.1f}s{detail}")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    if json_path:
        import json

        payload = {
            "sf_dir": sf_dir,
            "n_queries": len(results),
            "n_pass": sum(1 for r in results.values() if r.get("status") == "PASS"),
            "n_fail": len(failures),
            "queries": results,
        }
        with open(json_path, "w") as f:
            json.dump(payload, f, indent=1, sort_keys=True)
        print(f"wrote {json_path}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
