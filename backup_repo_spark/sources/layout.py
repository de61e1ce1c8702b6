"""Storage layout, ingest, DDL/DML — SURVEY.md §2.A rows A3, A6, A7, A8 and
§2.B rows B2, B3.

Reference parity: this module is the idiomatic restatement of Astro's
write path — its bulk load encoded rowkeys, range-partitioned KVs to region
boundaries via ``HBasePartitioner`` + ``repartitionAndSortWithinPartitions``,
and wrote HFiles (upstream ``hbaseCommands.scala``/``HBasePartitioner.scala``
— unverified). The Spark-native analog:

    df.repartitionByRange(key).sortWithinPartitions(key)
      .write.partitionBy(...).parquet(...)

which yields the same two properties Astro's layout bought: (1) key-range →
file pruning (partition directories + footer min/max ≈ region boundaries),
(2) physical key order within files (rowkey sort order).

Scale notes: at 100 TB the partition column must be low-cardinality
(status/date-bucket, never raw keys), and repartitionByRange samples the key
distribution so output files are even-sized regardless of skew.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from backup_repo_spark.registry import query
from backup_repo_spark.session import base_sql, load_table, scratch_dir
from backup_repo_spark.sources.catalog import LayoutSpec, read_layout


@query(
    "bulk_write_read",
    oracle="""
    SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS total
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def bulk_write_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6/B3: bulk load — range-partition by the 'rowkey' (o_orderkey), sort
    within partitions, write partitioned parquet, read it back and aggregate.
    The oracle runs on the source table: the round-trip must be lossless."""
    out = scratch_dir(spark, "bulk_write_read")
    o = load_table(spark, sf_dir, "orders")
    (
        o.repartitionByRange(8, "o_orderkey")
        .sortWithinPartitions("o_orderkey")
        .write.mode("overwrite")
        .partitionBy("o_orderstatus")
        .parquet(out)
    )
    back = spark.read.parquet(out)
    return (
        back.groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total"))
        .orderBy("o_orderstatus")
    )


@query(
    "partition_pruning",
    oracle="""
    SELECT o_orderpriority, count(*) AS n
    FROM orders WHERE o_orderstatus = 'O'
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: Astro's critical-point rowkey-range pruning, reproduced by layout:
    a scan of a status-partitioned table with a status predicate reads ONE
    partition directory (explain() shows it as a PartitionFilter, asserted in
    tests/test_plans.py). The layout is built once by the layout catalog."""
    orders = read_layout(spark, sf_dir, "orders", LayoutSpec(partition_by="o_orderstatus"))
    back = orders.filter(F.col("o_orderstatus") == "O")
    return (
        back.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n")).orderBy("o_orderpriority")
    )


@query(
    "scan_dynamic_partition_pruning",
    oracle="""
    SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(l_extendedprice), 2) AS revenue
    FROM lineitem
    WHERE year(l_shipdate) = 1996 AND month(l_shipdate) BETWEEN 4 AND 6
    GROUP BY 1 ORDER BY 1
    """,
)
def dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 (runtime half): DYNAMIC partition pruning — the fact table is
    partitioned by ship month, and the months to read are only known after
    filtering the dimension (quarter = 1996-Q2), so no static
    PartitionFilter is derivable. Catalyst inserts a
    ``dynamicpruningexpression`` on the fact scan that reuses the
    broadcast dimension's build side to enumerate surviving partitions at
    RUNTIME (asserted in tests/test_plans.py). At 100 TB this is the
    difference between scanning 3 month-partitions and scanning 84 —
    star-schema queries filter on dim attributes, not on fact partition
    keys, so static pruning never fires for them. The month-partitioned fact
    layout is built once by the layout catalog."""
    select = ("l_orderkey", "l_extendedprice", "date_format(l_shipdate, 'yyyy-MM') AS ship_month")
    fact_back = read_layout(
        spark, sf_dir, "lineitem", LayoutSpec(select=select, partition_by="ship_month")
    )
    fact = load_table(spark, sf_dir, "lineitem").selectExpr(*select)
    # Month-dimension with a derived quarter attribute; the filter lives on
    # the dim attribute, NOT on the fact partition column.
    dim = (
        fact.select("ship_month")
        .distinct()
        .select(
            "ship_month",
            F.concat(
                F.substring("ship_month", 1, 4),
                F.lit("-Q"),
                F.ceil(F.substring("ship_month", 6, 2).cast("int") / 3).cast("string"),
            ).alias("quarter"),
        )
    )
    joined = fact_back.join(
        F.broadcast(dim.filter(F.col("quarter") == "1996-Q2")), "ship_month"
    )
    return (
        joined.groupBy("ship_month")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
        )
        .orderBy("ship_month")
    )


@query(
    "ingest_csv",
    oracle="""
    SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS total,
           CAST(min(o_orderdate) AS DATE) AS first_day
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def ingest_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B2: Astro's LOAD DATA analog — CSV out, CSV in with an explicit
    StructType (no inference: declared schemas, like Astro's DDL-mapped
    tables), aggregate must match the parquet source exactly."""
    out = scratch_dir(spark, "ingest_csv")
    load_table(spark, sf_dir, "orders").write.mode("overwrite").option("header", True).csv(out)
    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    )
    back = spark.read.schema(schema).option("header", True).csv(out)
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
            F.min("o_orderdate").cast("date").alias("first_day"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "insert_select",
    oracle="""
    SELECT o_orderstatus, count(*) AS n FROM (
      SELECT o_orderstatus FROM orders WHERE o_totalprice > 300000
      UNION ALL
      SELECT o_orderstatus FROM orders WHERE o_orderpriority = '1-URGENT'
    ) u GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def insert_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: INSERT INTO ... SELECT (Astro's Put-encoding DML) — two inserts
    into a catalog parquet table, then aggregate; oracle is the equivalent
    UNION ALL over the source."""
    out = scratch_dir(spark, "insert_select")
    tgt = os.path.basename(out)  # per call, like its directory
    o = load_table(spark, sf_dir, "orders")
    spark.sql(f"CREATE TABLE {tgt} (o_orderstatus STRING) USING parquet LOCATION '{out}'")
    try:
        for pred in ("o_totalprice > 300000", "o_orderpriority = '1-URGENT'"):
            spark.sql(f"INSERT INTO {tgt} SELECT o_orderstatus FROM {{o}} WHERE {pred}", o=o)
        return spark.sql(
            f"SELECT o_orderstatus, count(*) AS n FROM {tgt} "
            "GROUP BY o_orderstatus ORDER BY o_orderstatus"
        )
    finally:
        # an external table: its files, and the plan above, outlive the name
        spark.sql(f"DROP TABLE {tgt}")


@query(
    "ddl_roundtrip",
    oracle="""
    SELECT * FROM (VALUES
      ('k', 'bigint', CAST(2 AS BIGINT)),
      ('name', 'string', CAST(2 AS BIGINT)),
      ('price', 'double', CAST(2 AS BIGINT))
    ) AS t(col_name, data_type, n_rows)
    """,
)
def ddl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: DDL surface — CREATE TABLE (declared schema, Astro's MAPPED BY
    analog), INSERT, DESCRIBE, DROP; returns the described schema rows.
    Oracled as a LITERAL CONTRACT: the declared (name, type) pairs must
    roundtrip through the catalog and DESCRIBE verbatim (Spark-DDL type
    names are a stable public surface), and the inserted row count must
    read back — a catalog/DDL defect turns the gate red."""
    out = scratch_dir(spark, "ddl_roundtrip")
    tbl = os.path.basename(out)  # per call, like its directory
    spark.sql(
        f"CREATE TABLE {tbl} (k BIGINT, name STRING, price DOUBLE) "
        f"USING parquet LOCATION '{out}'"
    )
    try:
        spark.sql(f"INSERT INTO {tbl} VALUES (1, 'alpha', 1.5), (2, 'beta', 2.5)")
        described = spark.sql(f"DESCRIBE TABLE {tbl}").select("col_name", "data_type")
        n = spark.sql(f"SELECT count(*) AS n FROM {tbl}").collect()[0][0]
        return described.withColumn("n_rows", F.lit(n).cast("bigint"))
    finally:
        spark.sql(f"DROP TABLE {tbl}")


@query(
    "bulk_bucketed_join",
    oracle="""
    SELECT o_orderstatus, count(*) AS n, round(sum(l_extendedprice), 2) AS total
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def bulk_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join — the 100 TB fact⋈fact answer. Both tables
    are written bucketed+sorted on the join key (Astro's region-aligned
    layout, as Spark bucketing); the join then needs NO exchange on either
    side (asserted in tests/test_plans.py). At 100 TB this converts the
    biggest shuffle in the workload into a zero-network merge."""
    def bucketed(df: DataFrame, key: str) -> tuple[str, DataFrame]:
        # an external table under a per-call name: only the catalog entry
        # carries the bucket spec, and DROP TABLE leaves the files the
        # plan reads
        path = scratch_dir(spark, "bulk_bucketed_join")
        tbl = os.path.basename(path)
        df.write.bucketBy(8, key).sortBy(key).saveAsTable(tbl, path=f"{path}/t")
        return tbl, spark.table(tbl)

    li_tbl, lb = bucketed(
        load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice"),
        "l_orderkey",
    )
    o_tbl, ob = bucketed(
        load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus"),
        "o_orderkey",
    )
    try:
        return (
            lb.join(ob.hint("merge"), lb.l_orderkey == ob.o_orderkey)
            .groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("l_extendedprice"), 2).alias("total"))
            .orderBy("o_orderstatus")
        )
    finally:
        for tbl in (li_tbl, o_tbl):
            spark.sql(f"DROP TABLE {tbl}")


@query(
    "inmem_source",
    oracle="""
    SELECT r.r_name, t.tier
    FROM region r JOIN (VALUES (0, 'core'), (1, 'growth'), (2, 'growth'),
                               (3, 'core'), (4, 'frontier')) AS t(rk, tier)
      ON r.r_regionkey = t.rk
    ORDER BY r.r_name
    """,
)
def inmem_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B4: in-memory source — createDataFrame from driver rows (the lookup/
    config-table pattern), broadcast-joined against a scan."""
    tiers = spark.createDataFrame(
        [(0, "core"), (1, "growth"), (2, "growth"), (3, "core"), (4, "frontier")],
        schema="rk INT, tier STRING",
    )
    r = load_table(spark, sf_dir, "region")
    return (
        r.join(F.broadcast(tiers), r.r_regionkey == tiers.rk)
        .select("r_name", "tier")
        .orderBy("r_name")
    )


@query(
    "ddl_view",
    oracle="""
    SELECT o_orderstatus, count(*) AS n, round(avg(o_totalprice), 2) AS avg_price
    FROM orders WHERE o_totalprice > 100000
    GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def ddl_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE VIEW DDL (A7 family): a named SQL view over a base view,
    queried through the catalog — logical-only (no materialization), the
    plan inlines the view body and pushdown still reaches the scan."""
    view = f"brs_big_orders_{uuid.uuid4().hex[:12]}"
    base_sql(
        spark, sf_dir, ["orders"],
        f"CREATE TEMP VIEW {view} AS SELECT * FROM orders WHERE o_totalprice > 100000",
    )
    try:
        return spark.sql(
            f"""
            SELECT o_orderstatus, count(*) AS n, round(avg(o_totalprice), 2) AS avg_price
            FROM {view} GROUP BY o_orderstatus ORDER BY o_orderstatus
            """
        )
    finally:
        spark.catalog.dropTempView(view)
