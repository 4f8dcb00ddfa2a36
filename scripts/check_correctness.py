"""Local replica of the driver's differential check: run every
``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB over the
same parquet, compare row count, column names, and order-insensitive
values. Usage:

    python scripts/check_correctness.py [--json OUT.json] [sf_dir] [name ...]

With ``--json`` the per-query verdicts are also written as a
machine-readable artifact in the driver's CORRECTNESS shape
(rows/schema/hash match booleans per entry, plus spark/oracle row
counts, error text, and wall seconds) — the committed
``CORRECTNESS_local_r{N}.json`` files are generated this way at the
round's final commit so the full registry (not just the driver's
50-entry window) has verifiable evidence at HEAD.
"""

from __future__ import annotations

import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from __spark_entry__ import entry, oracle_sql, queries  # noqa: E402
from salesforce_plugin_spark.conformance._common import rowset  # noqa: E402
from salesforce_plugin_spark.session import get_spark  # noqa: E402
from salesforce_plugin_spark.sources.catalog import TABLES  # noqa: E402


def main() -> int:
    argv = sys.argv[1:]
    json_out = None
    if argv and argv[0] == "--json":
        json_out = argv[1]
        argv = argv[2:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    results: dict[str, dict] = {}

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    spark = get_spark("conformance-check")

    print("== smoke: entry(spark)")
    n = entry(spark).count()
    print(f"   entry rows={n}  {'OK' if n > 0 else 'FAIL'}")

    qs, oracles = queries(), oracle_sql()
    n_pass = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            s_cols = [c.lower() for c in sdf.columns]
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            results[name] = {
                "rows_match": False, "schema_match": False,
                "hash_match": False, "spark_rows": None,
                "oracle_rows": None, "err": f"spark error: {e}"[:500],
                "secs": round(time.time() - t0, 2),
            }
            n_fail += 1
            continue
        try:
            cur = con.execute(oracles[name])
            d_cols = [d[0].lower() for d in cur.description]
            d_rows = cur.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            results[name] = {
                "rows_match": False, "schema_match": False,
                "hash_match": False, "spark_rows": len(s_rows),
                "oracle_rows": None, "err": f"duckdb error: {e}"[:500],
                "secs": round(time.time() - t0, 2),
            }
            n_fail += 1
            continue
        schema_ok = sorted(s_cols) == sorted(d_cols)
        rows_ok = len(s_rows) == len(d_rows)
        problems = []
        if not schema_ok:
            problems.append(f"cols spark={sorted(s_cols)} duck={sorted(d_cols)}")
        if not rows_ok:
            problems.append(f"rowcount spark={len(s_rows)} duck={len(d_rows)}")
        hash_ok = False
        if not problems:
            sset, dset = rowset(s_cols, s_rows), rowset(d_cols, d_rows)
            hash_ok = sset == dset
            if not hash_ok:
                diff = [
                    (a, b) for a, b in zip(sset, dset) if a != b
                ][:3]
                problems.append(f"values differ, first diffs: {diff}")
        results[name] = {
            "rows_match": rows_ok, "schema_match": schema_ok,
            "hash_match": hash_ok, "spark_rows": len(s_rows),
            "oracle_rows": len(d_rows),
            "err": "; ".join(problems)[:500] if problems else None,
            "secs": round(time.time() - t0, 2),
        }
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            n_fail += 1
        else:
            print(f"ok   {name}: {len(s_rows)} rows match ({time.time()-t0:.1f}s)")
            n_pass += 1

    print(f"== {n_pass} pass, {n_fail} fail")
    if json_out:
        import json as _json
        import subprocess

        head = subprocess.run(
            ["git", "rev-parse", "HEAD"], capture_output=True, text=True,
            cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ).stdout.strip()
        payload = {
            "sf_dir": sf_dir,
            "git_head": head,
            "n_pass": n_pass,
            "n_fail": n_fail,
            "n_total": n_pass + n_fail,
            "queries": results,
        }
        with open(json_out, "w") as fh:
            _json.dump(payload, fh, indent=1, sort_keys=True)
        print(f"== wrote {json_out}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
