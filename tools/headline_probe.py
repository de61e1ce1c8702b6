"""Where do the six headline bench queries spend their sub-second wall
time? One bench-profile session with the UI on runs each headline query
once warm and once measured, and prints one JSON line per query: wall,
job count, task count, total task time and per-stage runtimes, read from
the UI REST API (``/jobs`` and ``/stages``).

    SPARK_GRAFT_SF_DIR=<sf dir> python tools/headline_probe.py
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

from backup_repo_spark import registry  # noqa: E402
from backup_repo_spark.session import DEFAULT_SF_DIR  # noqa: E402
from tools.spark_rest import rest  # noqa: E402

BENCH_QUERIES = {
    "q_agg_lineitem": "agg_tpch_q1",
    "q_join3_topk": "topk_revenue",
    "q_join5_agg": "join_star_5way",
    "q_window_rank": "win_topn_per_group",
    "q_events_window": "stream_tumbling",
    "q_distinct_users": "agg_distinct",
}


def _spark() -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    b = (
        SparkSession.builder.appName("headline-probe")
        .master(f"local[{cpus}]")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "true")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    return b.getOrCreate()


def diag(sf_dir: str) -> None:
    spark = _spark()
    for metric, key in BENCH_QUERIES.items():
        fn = registry.QUERIES[key]
        fn(spark, sf_dir).collect()  # warm
        jobs_before = {j["jobId"] for j in rest(spark, "/jobs")}
        t0 = time.perf_counter()
        fn(spark, sf_dir).collect()
        wall = time.perf_counter() - t0
        jobs = [
            j for j in rest(spark, "/jobs") if j["jobId"] not in jobs_before
        ]
        stage_ids = sorted({s for j in jobs for s in j["stageIds"]})
        n_tasks = 0
        task_time = 0.0
        sched_delay = 0.0
        stages = []
        for sid in stage_ids:
            try:
                st = rest(spark, f"/stages/{sid}")[0]
            except Exception:
                continue
            n_tasks += st["numCompleteTasks"]
            task_time += st["executorRunTime"] / 1000.0
            sched_delay += st.get("schedulerDelay", 0) / 1000.0
            stages.append(
                {
                    "stage": sid,
                    "tasks": st["numCompleteTasks"],
                    "runtime_s": round(st["executorRunTime"] / 1000.0, 3),
                    "name": st["name"].split("\n")[0][:60],
                }
            )
        print(
            json.dumps(
                {
                    "query": metric,
                    "wall_s": round(wall, 3),
                    "jobs": len(jobs),
                    "tasks": n_tasks,
                    "task_time_s": round(task_time, 3),
                    "stages": stages,
                }
            )
        )
    spark.stop()


def main() -> None:
    diag(DEFAULT_SF_DIR)


if __name__ == "__main__":
    main()
