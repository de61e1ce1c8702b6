"""Coarse-grid ntile skew stress: measure what `tie_bucket_width` buys.

ntile_nosort ranks within a score value via `row_number OVER (PARTITION
BY value ORDER BY tie)`. On a COARSE value grid (here: 20 distinct
integer scores over 2M rows) every value's ties land in ONE window
partition — parallelism 20, max task ~rows/20 — which is exactly the
single-partition hazard the helper exists to kill one level up. With
`tie_bucket_width`, rank-within-value composes from range-buckets of the
tie column, so the heavy window partitions on (value, tie_bucket).

Evidence = the reduce-stage per-task shuffle-read record distribution
(REST taskSummary — the scale-invariant straggler signal, same protocol
as tools/skew_stress.py) for both modes, plus a value cross-check that
the per-bin aggregates are IDENTICAL. Results recorded in SCALING.md.

    python tools/ntile_skew_stress.py [--rows 2000000]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession, functions as F  # noqa: E402

from backup_repo_spark.operators.prefix import ntile_nosort  # noqa: E402
from tools.spark_rest import rest  # noqa: E402


def _max_reduce_stage(spark: SparkSession, since: int) -> dict:
    stages = [
        s
        for s in rest(spark, "/stages?status=complete")
        if s["stageId"] > since and s["numCompleteTasks"] > 1
    ]
    best = {}
    for s in stages:
        try:
            q = rest(
                spark,
                f"/stages/{s['stageId']}/{s['attemptId']}/taskSummary"
                "?quantiles=0.5,1.0",
            )
        except Exception:  # noqa: BLE001
            continue
        rr = q.get("shuffleReadMetrics", {}).get("readRecords", [0, 0])
        if rr[1] > best.get("task_records_max", -1):
            best = {
                "stage": s["stageId"],
                "tasks": s["numCompleteTasks"],
                "task_records_p50": int(rr[0]),
                "task_records_max": int(rr[1]),
            }
    return best


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=2_000_000)
    args = ap.parse_args()
    spark = (
        SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
        )
        .appName("ntile-skew-stress")
        .config("spark.sql.shuffle.partitions", "32")
        # AQE off: coalescing evens out per-task reads, hiding the skew the
        # tool exists to show; production keeps AQE on (session.py)
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.ui.enabled", "true")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    # 20 distinct integer scores (coarse grid), unique tie ids
    df = spark.range(args.rows).select(
        (F.abs(F.xxhash64("id")) % 20).alias("v"),
        F.col("id").alias("tie"),
    )
    out = {}
    results = {}
    for label, tie_w in (("no_tie_bucket", None), ("tie_bucket_16k", 1 << 14)):
        since = max((s["stageId"] for s in rest(spark, "/stages")), default=-1)
        t0 = time.perf_counter()
        binned = ntile_nosort(
            df, "v", "tie", tiles=10, bucket_width=4, tie_bucket_width=tie_w
        )
        agg = sorted(
            (r.bin, r.n, r.s)
            for r in binned.groupBy("bin")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("tie").alias("s"))
            .collect()
        )
        wall = round(time.perf_counter() - t0, 2)
        results[label] = agg
        out[label] = {"wall_sec": wall, **_max_reduce_stage(spark, since)}
    out["results_identical"] = results["no_tie_bucket"] == results["tie_bucket_16k"]
    out["rows"] = args.rows
    print(json.dumps(out))


if __name__ == "__main__":
    main()
