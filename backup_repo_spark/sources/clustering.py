"""Multi-dimensional clustering, small-file compaction, and table
statistics — the storage-maintenance operations a 100 TB deployment runs
continuously.

Reference parity: Astro's single clustering dimension was the composite
rowkey (sort-order-preserving byte encoding — upstream ``BytesUtils.scala``,
unverified; SURVEY.md §2.A A10). Z-ordering generalizes that to TWO
predicate dimensions: interleaving the bits of both keys gives a 1-D sort
order under which a range predicate on EITHER key touches only a fraction
of the files — the property rowkey order only gave the leading key.
Compaction and ANALYZE have no Astro analog (HBase compacted regions
itself; Spark tables must do it as a job).

Scale notes:
- Z-order: the z-value is computed with JVM bit ops (map-only), then one
  range repartition (sampled, skew-proof) + within-partition sort — the
  same shuffle shape as any bulk load. File/row-group min-max footers then
  prune 2-D predicates (evidence: tests/test_plans.py compares overlap
  counts against a linear-sorted layout).
- Compaction: bin-packs many small files into ceil(bytes/target)
  partitions via coalesce() — coalesce, not repartition, so compaction
  never shuffles; it only concatenates input splits.
- ANALYZE: footer-exact row counts feed the CBO; at 100 TB stats staleness
  is the #1 cause of wrong join strategies, so the stats job is part of the
  write path, not an afterthought.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from backup_repo_spark.registry import query
from backup_repo_spark.session import load_table, scratch_dir

_BITS = 8  # 256×256 z-grid over (l_partkey % 256, l_suppkey % 256)


def zorder_value(x, y):  # -> Column
    """Interleave the low 8 bits of two long columns into a z-value
    (x in even bit positions, y in odd). Pure JVM bit arithmetic."""
    z = F.lit(0).cast("long")
    for i in range(_BITS):
        z = z + F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i)
        z = z + F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1)
    return z


def _zexpr_sql(xs: str, ys: str) -> str:
    """The identical interleave in DuckDB SQL. Each term is fully
    parenthesized: DuckDB gives ``+`` tighter precedence than ``<<``, so a
    bare ``a << k + b << j`` chain parses as nested shifts."""
    terms = []
    for i in range(_BITS):
        terms.append(f"(((({xs}) >> {i}) & 1) << {2 * i})")
        terms.append(f"(((({ys}) >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


def write_zordered(df: DataFrame, x: str, y: str, path: str, nfiles: int = 16) -> None:
    """Z-order-cluster ``df`` on (x % 256, y % 256) and write parquet:
    materialize the z-value, range-partition on it (sampled boundaries →
    even file sizes regardless of key skew), sort within partitions so
    row-group min/max footers are tight."""
    (
        df.withColumn("px", F.pmod(F.col(x), F.lit(256)))
        .withColumn("sy", F.pmod(F.col(y), F.lit(256)))
        .withColumn("zval", zorder_value(F.col("px"), F.col("sy")))
        .repartitionByRange(nfiles, "zval")
        .sortWithinPartitions("zval")
        .write.mode("overwrite")
        .parquet(path)
    )


@query(
    "layout_zorder",
    oracle=f"""
    WITH z AS (
      SELECT l_quantity,
             l_partkey % 256 AS px, l_suppkey % 256 AS sy,
             {_zexpr_sql("l_partkey % 256", "l_suppkey % 256")} AS zval
      FROM lineitem
    )
    SELECT count(*) AS n,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty,
           min(zval) AS zmin, max(zval) AS zmax
    FROM z
    WHERE px BETWEEN 16 AND 47 AND sy BETWEEN 64 AND 95
    """,
)
def layout_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering round-trip: cluster lineitem on
    (l_partkey, l_suppkey) buckets, write, re-read, and answer a 2-D
    range predicate from the clustered layout. The oracle recomputes the
    z-values AND the aggregate directly from the source table, verifying
    both the bit-interleave math and that the layout is lossless. The
    min/max zval columns prove the filtered set maps to a compact z-range
    — the pruning the layout exists to enable."""
    out = scratch_dir(spark, "layout_zorder")
    write_zordered(load_table(spark, sf_dir, "lineitem"), "l_partkey", "l_suppkey", out)
    back = spark.read.parquet(out)
    return (
        back.filter(F.col("px").between(16, 47) & F.col("sy").between(64, 95))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_quantity").cast("decimal(12,2)")).cast("double").alias("qty"),
            F.min("zval").alias("zmin"),
            F.max("zval").alias("zmax"),
        )
    )


_TARGET_BYTES = 8 << 20  # compaction target file size (small, to exercise math)


def compact(spark: SparkSession, src: str, dst: str) -> tuple[int, int]:
    """Bin-pack the parquet files under ``src`` into ceil(bytes/target)
    files at ``dst`` with a shuffle-free coalesce. Returns (files_before,
    files_after). At 100 TB this runs per-partition-directory so one hot
    partition never serializes the whole table through few tasks."""
    sizes = [
        os.path.getsize(os.path.join(r, f))
        for r, _, fs in os.walk(src)
        for f in fs
        if f.endswith(".parquet")
    ]
    n_out = max(1, -(-sum(sizes) // _TARGET_BYTES))
    spark.read.parquet(src).coalesce(n_out).write.mode("overwrite").parquet(dst)
    after = sum(
        1 for _, _, fs in os.walk(dst) for f in fs if f.endswith(".parquet")
    )
    return len(sizes), after


@query(
    "layout_compaction",
    oracle="""
    SELECT o_orderpriority, count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def layout_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction: fragment orders into 64 small files (the
    streaming-ingest pathology), bin-pack them back to target-sized files
    with a shuffle-free coalesce, and aggregate from the compacted layout.
    The oracle runs on the source table — compaction must be lossless.
    tests/test_plans.py asserts the file count actually drops."""
    frag = scratch_dir(spark, "layout_compaction_frag")
    comp = scratch_dir(spark, "layout_compaction")
    load_table(spark, sf_dir, "orders").repartition(64).write.mode(
        "overwrite"
    ).parquet(frag)
    compact(spark, frag, comp)
    return (
        spark.read.parquet(comp)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "stats_analyze",
    oracle="SELECT count(*) AS n_rows FROM orders",
)
def stats_analyze(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE TABLE → catalog statistics: save orders as an external
    table under a per-call name, compute stats, and read the row count back
    OUT OF THE CATALOG (DESCRIBE EXTENDED), not from the data. The oracle
    is the true count(*) — the stats the CBO plans 100 TB joins with must
    equal the data's truth."""
    path = scratch_dir(spark, "stats_analyze")
    tbl = os.path.basename(path)  # per call, like its directory
    load_table(spark, sf_dir, "orders").write.saveAsTable(tbl, path=f"{path}/t")
    try:
        spark.sql(f"ANALYZE TABLE {tbl} COMPUTE STATISTICS")
        desc = spark.sql(f"DESCRIBE TABLE EXTENDED {tbl}")
    finally:
        spark.sql(f"DROP TABLE {tbl}")
    return (
        desc.filter(F.col("col_name") == "Statistics")
        .select(
            F.regexp_extract(F.col("data_type"), r"(\d+) rows", 1)
            .cast("long")
            .alias("n_rows")
        )
    )


@query(
    "codec_sortkey",
    oracle="""
    WITH enc AS (
      SELECT o_orderkey, o_orderdate,
             lpad(hex(CAST(epoch(o_orderdate) AS BIGINT)), 16, '0')
               || lpad(hex(o_orderkey), 16, '0') AS rowkey
      FROM orders
    ),
    ranked AS (
      SELECT rowkey,
             row_number() OVER (ORDER BY rowkey) AS r_encoded,
             row_number() OVER (ORDER BY o_orderdate, o_orderkey) AS r_raw
      FROM enc
    )
    SELECT count(*) AS n_rows,
           CAST(count_if(r_encoded <> r_raw) AS BIGINT) AS n_order_mismatch,
           min(rowkey) AS first_key, max(rowkey) AS last_key
    FROM ranked
    """,
)
def codec_sortkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sort-order-preserving composite-key codec — the Spark restatement of
    Astro's rowkey encoding (upstream BytesUtils.scala/HBaseKVHelper.scala,
    unverified; SURVEY.md §2.A A10): (orderdate, orderkey) → fixed-width
    big-endian hex so LEXICOGRAPHIC order of the encoded string equals the
    composite column order. The query proves the property over every row
    (rank under encoded order == rank under raw order, zero mismatches) —
    this is what makes encoded keys usable as range-partition boundaries,
    exactly as HBase rowkeys were. Non-negative domains only (sign bit
    would need flipping, as Astro's codec did)."""
    o = load_table(spark, sf_dir, "orders")
    rowkey = F.concat(
        F.lpad(F.hex(F.unix_timestamp("o_orderdate")), 16, "0"),
        F.lpad(F.hex("o_orderkey"), 16, "0"),
    ).alias("rowkey")
    from pyspark.sql.window import Window

    enc = o.select("o_orderkey", "o_orderdate", rowkey)
    ranked = enc.select(
        "rowkey",
        F.row_number().over(Window.orderBy("rowkey")).alias("r_encoded"),
        F.row_number()
        .over(Window.orderBy("o_orderdate", "o_orderkey"))
        .alias("r_raw"),
    )
    return ranked.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_if(F.col("r_encoded") != F.col("r_raw")).alias("n_order_mismatch"),
        F.min("rowkey").alias("first_key"),
        F.max("rowkey").alias("last_key"),
    )
