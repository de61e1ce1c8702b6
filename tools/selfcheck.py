"""Local replica of the driver's correctness gate.

Runs every registered query on Spark and its oracle SQL on DuckDB over the
same parquet tables, then compares row count, sorted column names, and
order-insensitive values. Use while iterating:

    python tools/selfcheck.py                # all queries at sf0.01
    python tools/selfcheck.py --sf sf0.001 agg_tpch_q1 join_broadcast
    python tools/selfcheck.py --report SELFCHECK_rN.json

The same runner is wired into CI as a slow-marked test
(tests/test_selfcheck_full.py) so every registry key has an sf0.01
(driver-scale) result on record every round — the driver itself only
samples ~50 keys per round.
"""

from __future__ import annotations

import argparse
import json
import sys
import time

import duckdb

sys.path.insert(0, ".")

from backup_repo_spark import registry
from backup_repo_spark.session import TABLES, get_spark
from backup_repo_spark.testing import compare, hard_problems


def run_selfcheck(
    spark,
    sf: str = "sf0.01",
    names: list[str] | None = None,
    verbose: bool = True,
) -> dict[str, dict]:
    """Run the driver-gate comparison for ``names`` (default: all registered
    keys) at scale factor ``sf``. Returns {key: result} where result carries
    status ('ok' | 'rows_only' | 'fail'), row count, elapsed seconds, and
    problem strings for failures."""
    sf_dir = f"/root/testdata/{sf}"
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    names = names or sorted(registry.QUERIES)
    results: dict[str, dict] = {}
    for name in names:
        fn = registry.QUERIES[name]
        t0 = time.time()
        try:
            spark_pdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            results[name] = {
                "status": "fail",
                "problems": [f"spark raised {type(e).__name__}: {str(e)[:300]}"],
                "secs": round(time.time() - t0, 1),
            }
            if verbose:
                print(f"FAIL {name}: {results[name]['problems'][0]}")
            continue
        if name not in registry.ORACLES:
            results[name] = {
                "status": "rows_only",
                "rows": len(spark_pdf),
                "secs": round(time.time() - t0, 1),
            }
            if verbose:
                print(
                    f"rows {name}: {len(spark_pdf)} rows (no oracle) "
                    f"[{results[name]['secs']}s]"
                )
            continue
        try:
            duck_pdf = con.execute(registry.ORACLES[name]).fetchdf()
        except Exception as e:  # noqa: BLE001
            results[name] = {
                "status": "fail",
                "problems": [f"duckdb raised {type(e).__name__}: {str(e)[:300]}"],
                "secs": round(time.time() - t0, 1),
            }
            if verbose:
                print(f"FAIL {name}: {results[name]['problems'][0]}")
            continue
        problems = compare(spark_pdf, duck_pdf)
        hard = hard_problems(problems)
        entry = {
            "status": "fail" if hard else "ok",
            "rows": len(spark_pdf),
            "secs": round(time.time() - t0, 1),
        }
        if problems:
            entry["problems"] = problems
        results[name] = entry
        if verbose:
            if hard:
                print(f"FAIL {name} ({len(spark_pdf)} rows) [{entry['secs']}s]")
                for p in problems:
                    print(f"   {p}")
            else:
                warn = "; ".join(p for p in problems if "WARN" in p)
                print(
                    f"ok   {name} ({len(spark_pdf)} rows) [{entry['secs']}s]"
                    f"{' ' + warn if warn else ''}"
                )
    return results


def summarize(results: dict[str, dict]) -> dict:
    counts = {"ok": 0, "rows_only": 0, "fail": 0}
    for r in results.values():
        counts[r["status"]] += 1
    return counts


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*", help="query keys (default: all)")
    ap.add_argument("--sf", default="sf0.01")
    ap.add_argument("--report", default=None, help="write JSON report to this path")
    args = ap.parse_args()

    spark = get_spark("selfcheck")
    results = run_selfcheck(spark, sf=args.sf, names=args.names or None)
    c = summarize(results)
    print(f"\n{c['ok']} ok, {c['rows_only']} rows-only, {c['fail']} FAIL of {len(results)}")
    if args.report:
        with open(args.report, "w") as fh:
            json.dump(
                {
                    "sf": args.sf,
                    "summary": c,
                    "results": results,
                },
                fh,
                indent=1,
            )
        print(f"report written to {args.report}")
    return 1 if c["fail"] else 0


if __name__ == "__main__":
    sys.exit(main())
