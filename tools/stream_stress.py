"""Streaming state-store stress: measure stateful-aggregation throughput
under the default (HDFS-backed) and RocksDB state-store providers.

SCALING.md names RocksDB as the 100 TB/day state config (state lives on
local disk, not executor heap); this tool turns that claim into a
measured number. A micro-batched file stream (events split into N files,
maxFilesPerTrigger=1) drives BOTH a keyed running aggregate (state rows =
distinct users — the wide-state shape) and a watermarked sliding-window
count (state rows = windows x types — the windowed shape), once per
provider, and reports rows/sec plus state-store metrics from the query
progress.

    python tools/stream_stress.py [--mult 10] [--files 8]

Uses the cached scale_sweep events table (generates it if missing).
Results are recorded in SCALING.md §Streaming.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession, functions as F  # noqa: E402

from backup_repo_spark.session import get_spark  # noqa: E402
from tools.scale_sweep import generate  # noqa: E402

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_EV_SCHEMA = (
    "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, "
    "event_type STRING, value DOUBLE, props STRING"
)
_ROCKSDB = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def _staged_source(spark: SparkSession, mult: int, n_files: int) -> tuple[str, int]:
    src_parquet = os.path.join(
        _REPO, "spark-warehouse", f"scale_smoke_{mult}x", "events.parquet"
    )
    if not os.path.exists(src_parquet):
        generate(spark, os.path.dirname(src_parquet), mult)
    staged = os.path.join(tempfile.mkdtemp(prefix="stream_stress_"), "src")
    df = spark.read.parquet(src_parquet)
    n = df.count()
    df.repartition(n_files).write.parquet(staged)
    return staged, n


def _run(spark: SparkSession, staged: str, shape: str, provider: str) -> dict:
    work = tempfile.mkdtemp(prefix=f"stream_stress_{shape}_")
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        _ROCKSDB
        if provider == "rocksdb"
        else "org.apache.spark.sql.execution.streaming.state."
        "HDFSBackedStateStoreProvider",
    )
    ev = (
        spark.readStream.schema(_EV_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged)
    )
    if shape == "keyed":
        agg = ev.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n"), F.sum("value").alias("v")
        )
    else:  # windowed
        # NTZ -> TIMESTAMP under UTC session tz (same instants; watermarks
        # require the LTZ type — the session.py events-loader rule)
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        agg = (
            ev.withColumn("ts", F.col("ts").cast("timestamp"))
            .withWatermark("ts", "1 hour")
            .groupBy(
                F.window("ts", "15 minutes", "5 minutes"), "event_type"
            )
            .agg(F.count(F.lit(1)).alias("n"))
        )
    t0 = time.perf_counter()
    q = (
        agg.writeStream.format("memory")
        .queryName(f"s_{shape}_{provider}")
        .outputMode("update")
        .option("checkpointLocation", f"{work}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    wall = time.perf_counter() - t0
    rows = sum(int(p["numInputRows"]) for p in q.recentProgress)
    state = [
        p["stateOperators"][0]
        for p in q.recentProgress
        if p.get("stateOperators")
    ]
    out = {
        "shape": shape,
        "provider": provider,
        "input_rows": rows,
        "wall_sec": round(wall, 2),
        "rows_per_sec": int(rows / wall) if wall else None,
        "batches": len(q.recentProgress),
        "state_rows": max((int(s["numRowsTotal"]) for s in state), default=0),
    }
    shutil.rmtree(work, ignore_errors=True)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mult", type=int, default=10)
    ap.add_argument("--files", type=int, default=8)
    args = ap.parse_args()
    spark = get_spark("stream-stress", shuffle_partitions=32)
    staged, n = _staged_source(spark, args.mult, args.files)
    results = []
    for shape in ("keyed", "windowed"):
        for provider in ("hdfs", "rocksdb"):
            r = _run(spark, staged, shape, provider)
            results.append(r)
            print(json.dumps(r), file=sys.stderr)
    print(json.dumps({"events": n, "files": args.files, "runs": results}))
    shutil.rmtree(os.path.dirname(staged), ignore_errors=True)


if __name__ == "__main__":
    main()
