"""Skew stress harness (VERDICT r02 item 4): prove the engine's skew story
with MEASURED task-time distributions, not defaults.

Generates a 20x events table whose ``user_id`` is zipf-distributed (rank =
floor(N^(u^2)): the head user absorbs ~23.5% of all rows, ~40,000x the
mean — measured in the skew_profile record),
then runs the three skew-sensitive shapes — shuffle join on the skewed
key, per-key window, per-key aggregation — under the mitigations the
engine ships:

  join:  AQE off (the pathological baseline) vs AQE skew-split vs the
         manual 16-way salt of `join_skew_salted`
  window:rank-filtered (WindowGroupLimit prunes map-side) vs full rank
  agg:   plain two-phase hash agg (partial agg IS the mitigation)

Per-variant evidence = wall time + the reduce stage's per-task
SHUFFLE-READ RECORD quantiles (p50 / p99 / max) pulled from the Spark
REST status API. On a single over-subscribed local[32] machine, task
DURATIONS are contention-flattened (measured: the 523k-record hot task
and a 33k-record task both run ~2.6s because 32 concurrent threads are
memory-bound), so the scale-invariant straggler signal is the per-task
INPUT distribution — on a 1000-executor cluster task time is
proportional to records read, and max/p50 records IS the p99-task-time
story. Results are recorded in SCALING.md §Skew.

    python tools/skew_stress.py [--mult 20] [--regen]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession, functions as F  # noqa: E402

from tools.spark_rest import rest  # noqa: E402

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def build_spark(adaptive: bool) -> SparkSession:
    """Session mirroring the production profile but with the UI on (REST
    task metrics) and broadcast joins off (force the shuffle join the skew
    test needs — at 100 TB the probe side is never broadcastable)."""
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    return (
        SparkSession.builder.appName(f"skew-stress-aqe-{adaptive}")
        .master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", str(adaptive).lower())
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # At cluster scale hot partitions are GBs against a 256m advisory;
        # this 20x local set has a ~13 MB hot partition, so scale the skew
        # thresholds down proportionally or the demo never hits them.
        .config("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        .config("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "2m")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2m")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.autoBroadcastJoinThreshold", "-1")
        .config("spark.ui.enabled", "true")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .getOrCreate()
    )


def gen_zipf_events(spark: SparkSession, out: str, mult: int) -> None:
    """events at mult x sf0.1 volume with zipf user_id: rank = floor(N^u)
    for uniform u — P(rank <= r) = ln(r)/ln(N), the classic zipf(s~1) head.
    Deterministic (hash-derived uniforms), same column set as events."""
    n_e = 100_000 * mult
    n_users = 300_000
    u0 = (F.abs(F.xxhash64("id", F.lit(18))) % 1_000_000) / 1_000_000.0
    # squared uniform sharpens the head: P(rank=1) = sqrt(ln2/lnN) ~ 23%
    u = u0 * u0
    sec = F.expr("INTERVAL 1 SECOND")
    (
        spark.range(n_e)
        .select(
            F.col("id").alias("event_id"),
            (
                F.lit("2024-01-01").cast("timestamp")
                + sec * (F.abs(F.xxhash64("id", F.lit(17))) % (29 * 86400)).cast("int")
            ).alias("ts"),
            F.floor(F.pow(F.lit(float(n_users)), u)).cast("long").alias("user_id"),
            F.element_at(
                F.array(*[F.lit(t) for t in ["signup", "error", "click", "view", "purchase"]]),
                (F.abs(F.xxhash64(F.col("id") + 11)) % 5 + 1).cast("int"),
            ).alias("event_type"),
            F.round(
                (F.abs(F.xxhash64("id", F.lit(19))) % 49_000) / 100.0 + 0.01, 2
            ).alias("value"),
        )
        .repartition(max(8, mult))
        .write.mode("overwrite")
        .parquet(f"{out}/events.parquet")
    )


def _stage_task_quantiles(spark: SparkSession, since_stage: int) -> dict:
    """Task-duration evidence for the query just run: the stage with the
    largest straggler ratio (max/p50 task duration — the signal a
    1000-executor rollout alarms on) and the stage with the largest max
    task, among stages completed after ``since_stage``."""
    stages = [
        s
        for s in rest(spark, "/stages?status=complete")
        if s["stageId"] > since_stage and s["numCompleteTasks"] > 1
    ]
    per_stage = []
    for s in stages:
        try:
            q = rest(
                spark,
                f"/stages/{s['stageId']}/{s['attemptId']}/taskSummary"
                "?quantiles=0.5,0.99,1.0",
            )
        except Exception:  # noqa: BLE001 — stage may have been cleaned up
            continue
        d = q.get("duration", [0, 0, 0])
        rr = q.get("shuffleReadMetrics", {}).get("readRecords", [0, 0, 0])
        per_stage.append(
            {
                "stage": s["stageId"],
                "tasks": s["numCompleteTasks"],
                "task_ms_p50": round(d[0], 1),
                "task_ms_max": round(d[2], 1),
                "task_records_p50": int(rr[0]),
                "task_records_p99": int(rr[1]),
                "task_records_max": int(rr[2]),
                "record_skew_ratio": round(rr[2] / rr[0], 2) if rr[0] else None,
            }
        )
    if not per_stage:
        return {}
    # The reduce stage of interest = the one reading the most shuffle records
    reduce_stage = max(per_stage, key=lambda r: r["task_records_max"])
    return {"reduce_stage": reduce_stage}


def _max_stage_id(spark: SparkSession) -> int:
    stages = rest(spark, "/stages")
    return max((s["stageId"] for s in stages), default=-1)


def run_case(spark: SparkSession, name: str, df_builder) -> dict:
    since = _max_stage_id(spark)
    t0 = time.perf_counter()
    # collect(), not count(): wrapping the query in a count aggregate makes
    # OptimizeSkewedJoin decline to split (it would add a shuffle to the
    # wrapper plan) — measured: count() ran the join unsplit while the same
    # query collect()ed shows SortMergeJoin(skew=true).
    n = len(df_builder().collect())
    wall = round(time.perf_counter() - t0, 2)
    metrics = _stage_task_quantiles(spark, since)
    rec = {"case": name, "rows_out": n, "wall_s": wall, **metrics}
    print(json.dumps(rec))
    return rec


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mult", type=int, default=20)
    ap.add_argument("--regen", action="store_true")
    args = ap.parse_args()
    out = os.path.join(_REPO, "spark-warehouse", f"skew_stress_{args.mult}x")

    spark = build_spark(adaptive=False)
    if args.regen:
        shutil.rmtree(out, ignore_errors=True)
    if not os.path.exists(f"{out}/events.parquet"):
        print(f"generating zipf {args.mult}x events under {out} ...", file=sys.stderr)
        gen_zipf_events(spark, out, args.mult)

    def load(s):
        return s.read.parquet(f"{out}/events.parquet")

    def dim(s):
        # per-user dimension: one row per user id in range (uniform)
        return s.range(300_000).select(
            F.col("id").alias("user_id"),
            (F.abs(F.xxhash64("id")) % 100).alias("segment"),
        )

    results = []
    hot = (
        load(spark)
        .groupBy("user_id")
        .count()
        .orderBy(F.desc("count"))
        .limit(1)
        .collect()[0]
    )
    total = load(spark).count()
    print(
        json.dumps(
            {
                "case": "skew_profile",
                "rows": total,
                "hot_user": hot["user_id"],
                "hot_rows": hot["count"],
                "hot_share": round(hot["count"] / total, 4),
            }
        )
    )

    for adaptive, tag in [(False, "aqe_off"), (True, "aqe_skewjoin")]:
        spark = build_spark(adaptive=adaptive)

        def smj():
            ev, d = load(spark), dim(spark)
            return (
                ev.hint("merge")
                .join(d, "user_id")
                .groupBy("segment")
                .agg(F.sum("value"))
            )

        results.append(run_case(spark, f"join_smj_{tag}", smj))

    # manual salt (AQE off — the mitigation that works WITHOUT runtime help)
    spark = build_spark(adaptive=False)

    def salted():
        ev = load(spark).withColumn("salt", (F.abs(F.xxhash64("event_id")) % 16))
        d = (
            dim(spark)
            .crossJoin(spark.range(16).select(F.col("id").alias("salt")))
        )
        return (
            ev.hint("merge")
            .join(d, ["user_id", "salt"])
            .groupBy("segment")
            .agg(F.sum("value"))
        )

    results.append(run_case(spark, "join_smj_salted16", salted))

    # window: rank-filtered (WindowGroupLimit) vs full rank on the hot key
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("value"))

    def win_topn():
        return (
            load(spark)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 3)
            .groupBy("event_type")
            .count()
        )

    def win_full():
        return (
            load(spark)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") % 97 == 0)
            .groupBy("event_type")
            .count()
        )

    results.append(run_case(spark, "window_topn_grouplimit", win_topn))
    results.append(run_case(spark, "window_full_rank", win_full))

    # aggregation: two-phase hash agg absorbs key skew by itself
    def agg_peruser():
        return load(spark).groupBy("user_id").agg(F.sum("value"), F.count(F.lit(1)))

    results.append(run_case(spark, "agg_peruser_twophase", agg_peruser))

    print(json.dumps({"case": "ALL", "results": results}))


if __name__ == "__main__":
    main()
