"""Measure the runtime Bloom-filter join's shuffle reduction (sf0.1).

Runs the join_bloom_filtered shape twice in one application — bloom OFF,
then bloom ON — and attributes stages to each run by stage-id watermark.
The number that matters at 100 TB is the FACT-SIDE SHUFFLE WRITE: with the
filter, lineitem rows whose order key fails might_contain() die before the
exchange, so shuffle-write records on the fact scan stage drop by roughly
the dim filter's selectivity (o_orderpriority = '1-URGENT' keeps ~20%).

    python tools/bloom_stress.py          # prints a small markdown table
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from tools.spark_rest import rest

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _run(spark: SparkSession, bloom: bool) -> dict:
    s = spark.newSession()
    s.conf.set("spark.sql.session.timeZone", "UTC")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", str(bloom).lower())
    s.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "0",
    )
    li = s.read.parquet(f"{SF}/lineitem.parquet")
    o = s.read.parquet(f"{SF}/orders.parquet").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    before = max(
        (st["stageId"] for st in rest(spark, "/stages")), default=-1
    )
    rows = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    stages = [
        st
        for st in rest(spark, "/stages?status=complete")
        if st["stageId"] > before
    ]
    return {
        "bloom": bloom,
        "result_rows": rows[0].n,
        "shuffle_write_records": sum(s0["shuffleWriteRecords"] for s0 in stages),
        "shuffle_write_bytes": sum(s0["shuffleWriteBytes"] for s0 in stages),
        "stages": len(stages),
    }


def main() -> None:
    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]")
        .appName("bloom-stress")
        .config("spark.ui.enabled", "true")
        .config("spark.sql.shuffle.partitions", "32")
        .getOrCreate()
    )
    off = _run(spark, bloom=False)
    on = _run(spark, bloom=True)
    print("| run | shuffle-write records | shuffle-write bytes | stages |")
    print("|---|---|---|---|")
    for r in (off, on):
        label = "bloom ON" if r["bloom"] else "bloom OFF"
        print(
            f"| {label} | {r['shuffle_write_records']:,} "
            f"| {r['shuffle_write_bytes']:,} | {r['stages']} |"
        )
    assert off["result_rows"] == on["result_rows"], "bloom changed the result!"
    red = 1 - on["shuffle_write_records"] / max(off["shuffle_write_records"], 1)
    print(f"\nrecord reduction: {red:.1%} (results identical: {off['result_rows']:,} rows)")
    spark.stop()


if __name__ == "__main__":
    main()
