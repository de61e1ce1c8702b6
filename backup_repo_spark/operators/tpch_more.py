"""Additional TPC-H-style analytic queries + exact-decimal and interval
surface — widens the relational parity evidence beyond single operators
(each query composes several: scan+filter+join+conditional-agg).

Adapted to the testdata schema (FIXTURES.md): no commitdate/shipmode
columns, so the Q4/Q12 analogs use the columns that exist; the plan shapes
(semi join + agg, case-sum pivot, ratio-of-sums) are the point.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from backup_repo_spark.registry import query
from backup_repo_spark.session import base_sql, load_table


@query(
    "tpch_q6_style",
    oracle="""
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
           count(*) AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.04 AND 0.06
      AND l_quantity < 24.0
    """,
)
def tpch_q6_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6 shape: forecasting-revenue-change — pure scan + triple pushed
    predicate + global agg. The canonical pushdown showcase: every filter
    reaches parquet row-group stats; no shuffle beyond the 1-row final."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & F.col("l_discount").between(0.04, 0.06)
        & (F.col("l_quantity") < 24.0)
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "tpch_q4_style",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate <  TIMESTAMP '1997-10-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def tpch_q4_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 shape: order-priority checking — date-banded scan + EXISTS
    (semi join) + agg."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    banded = o.filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    return (
        banded.join(li, banded.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@query(
    "tpch_q12_style",
    oracle="""
    SELECT l_linestatus,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY l_linestatus ORDER BY l_linestatus
    """,
)
def tpch_q12_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 shape: conditional-sum pivot over a fact⋈fact join."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~is_high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


@query(
    "tpch_q14_style",
    oracle="""
    SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0 END)
                 / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-06-01'
      AND l_shipdate <  TIMESTAMP '1997-07-01'
    """,
)
def tpch_q14_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 shape: promotion-effect ratio of conditional sums; part side
    broadcast."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-06-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", disc).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(F.round(100.0 * F.sum(promo) / F.sum(disc), 4).alias("promo_revenue_pct"))
    )


@query(
    "agg_decimal",
    oracle="""
    SELECT l_returnflag,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)      AS total_qty
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def agg_decimal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact DECIMAL aggregation (money typing — beyond the reference's
    8-type system, SURVEY.md §1.2). The sum runs in fixed-point — exact and
    order-independent, no rounding hazard — and only the final exact value
    is cast to double for presentation (pandas renders DECIMAL columns
    inconsistently across engines)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("total_price"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("total_qty"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "fn_interval",
    oracle="""
    SELECT o_orderkey,
           CAST(CAST(o_orderdate AS DATE) + INTERVAL 1 MONTH AS DATE) AS next_month,
           CAST(CAST(o_orderdate AS DATE) - INTERVAL 7 DAY   AS DATE) AS week_before,
           CAST(CAST(o_orderdate AS DATE) + INTERVAL 1 YEAR  AS DATE) AS next_year
    FROM orders
    """,
)
def fn_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval arithmetic (not in the reference's type system). Month/year
    addition uses end-of-month clamping in both engines."""
    o = load_table(spark, sf_dir, "orders")
    odate = F.col("o_orderdate").cast("date")
    return o.select(
        "o_orderkey",
        (odate + F.expr("INTERVAL 1 MONTH")).cast("date").alias("next_month"),
        (odate - F.expr("INTERVAL 7 DAY")).cast("date").alias("week_before"),
        (odate + F.expr("INTERVAL 1 YEAR")).cast("date").alias("next_year"),
    )


_Q13 = """
    SELECT c_count, count(*) AS custdist
    FROM (SELECT c.c_custkey, count(o.o_orderkey) AS c_count
          FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
          GROUP BY c.c_custkey) t
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
"""


@query("tpch_q13_style", oracle=_Q13)
def tpch_q13_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 shape: customer order-count distribution — outer join preserving
    zero-order customers, then a second aggregation over the first's output
    (the classic two-level agg; count(col) vs count(*) NULL semantics)."""
    return base_sql(spark, sf_dir, ["customer", "orders"], _Q13)


_Q15 = """
    WITH rev AS (
      SELECT l_suppkey,
             sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1997-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_rev
    FROM supplier JOIN rev ON s_suppkey = l_suppkey
    WHERE total_rev = (SELECT max(total_rev) FROM rev)
    ORDER BY s_suppkey
"""


@query("tpch_q15_style", oracle=_Q15)
def tpch_q15_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 shape: top supplier by quarter revenue — CTE reused by body and
    scalar-max subquery. Revenue summed in DECIMAL so the max-equality
    predicate is exact (a double sum would make `= max` partition-order
    dependent)."""
    return base_sql(spark, sf_dir, ["supplier", "lineitem"], _Q15)


_Q18 = """
    SELECT c.c_custkey, o.o_orderkey, round(o.o_totalprice, 2) AS price,
           CAST(big.sum_qty AS DOUBLE) AS total_qty
    FROM (SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(12,2))) AS sum_qty
          FROM lineitem GROUP BY l_orderkey
          HAVING sum(CAST(l_quantity AS DECIMAL(12,2))) > 140) big
    JOIN orders o ON o.o_orderkey = big.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    ORDER BY total_qty DESC, o.o_orderkey
"""


@query("tpch_q18_style", oracle=_Q18)
def tpch_q18_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 shape: large-volume orders — HAVING over an exact DECIMAL sum
    (threshold comparisons on double sums are a cross-engine trap), joined
    back to orders+customer."""
    return base_sql(spark, sf_dir, ["lineitem", "orders", "customer"], _Q18)


_Q22 = """
    SELECT c_nationkey, count(*) AS numcust,
           CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
    FROM customer
    WHERE c_acctbal > (
            SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*)
            FROM customer WHERE c_acctbal > 0.0)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_totalprice > 300000)
    GROUP BY c_nationkey
    ORDER BY c_nationkey
"""


@query("tpch_q22_style", oracle=_Q22)
def tpch_q22_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 shape: rich customers with no large orders — anti-join (NOT EXISTS) +
    scalar-avg threshold. The average is exact-decimal-sum ÷ count cast to
    double — bit-identical across engines, so the > comparison is stable."""
    return base_sql(spark, sf_dir, ["customer", "orders"], _Q22)
