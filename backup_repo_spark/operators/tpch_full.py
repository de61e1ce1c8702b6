"""Remaining TPC-H-style query shapes (Q2, Q7–Q11, Q16, Q17, Q19–Q21),
completing the 22-query benchmark family started in tpch_more.py.

Adapted to the testdata schema (FIXTURES.md): there is no partsupp table,
so part↔supplier relationships go through lineitem (min unit price per
(part, supplier) plays partsupp.ps_supplycost's role); no
commitdate/receiptdate, so the Q21 "kept waiting" condition is re-expressed
on l_returnflag. The plan shapes — correlated min subquery (Q2),
two-sided nation join (Q7), market-share ratio (Q8), double EXISTS /
NOT EXISTS correlation (Q21) — are the point; each exercises a distinct
Catalyst decorrelation or join-planning path.

Cross-engine determinism rules (FIXTURES.md hazards): every sum that feeds
a comparison, ORDER BY, or output hash runs in DECIMAL (exact, order
independent) and is cast to DOUBLE only for presentation; correlated
thresholds are computed as exact-decimal-sum ÷ count so the comparison is
bit-identical in Spark and DuckDB.

Scale notes (100 TB): all dimension sides (part, supplier, nation, region)
stay under the broadcast threshold at any realistic sf, so the only
shuffles are the lineitem-side aggregations; the correlated subqueries
decorrelate to aggregate+join (verified via explain — no per-row
re-execution).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from backup_repo_spark.registry import query
from backup_repo_spark.session import base_sql, load_table


_Q2 = """
    WITH cost AS (
      SELECT l_partkey, l_suppkey,
             min(l_extendedprice / l_quantity) AS unit_cost
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    rsupp AS (
      SELECT s_suppkey, s_name, n_name
      FROM supplier, nation, region
      WHERE s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        AND r_name IN ('EUROPE', 'ASIA')
    )
    SELECT p_partkey, p_brand, s_name, n_name,
           unit_cost AS min_unit_cost
    FROM part, cost, rsupp
    WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey AND p_size < 20
      AND unit_cost = (SELECT min(c2.unit_cost)
                       FROM cost c2, rsupp e2
                       WHERE c2.l_partkey = p_partkey
                         AND c2.l_suppkey = e2.s_suppkey)
    ORDER BY p_partkey, s_suppkey
"""


# Spark-side form of Q2 (VERDICT r9 #3): the correlated scalar-min is
# expressed as a partition-only window over ONE pass of the cost aggregate
# instead of the correlated subquery. Catalyst decorrelates the subquery
# form into aggregate+join with a ReusedExchange, but still pays a second
# HashAggregate pair and materializes the part×supplier-cardinality cost
# relation a second time for the min side (32 MiB broadcast at sf0.1 — a
# lineitem-cardinality build side at 100 TB). The window form computes
# min(unit_cost) OVER (PARTITION BY p_partkey) on the already-joined
# eligible rows: one cost aggregation, no second join chain, and the
# window is partition-only (no ordering — fully parallel). Measured at
# sf0.1: 0.98 s vs 1.38 s best-of-5, value-identical output. The
# subquery form stays as the oracle — it is the semantic definition.
_Q2_SPARK = """
    WITH cost AS (
      SELECT l_partkey, l_suppkey,
             min(l_extendedprice / l_quantity) AS unit_cost
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    rsupp AS (
      SELECT s_suppkey, s_name, n_name
      FROM supplier, nation, region
      WHERE s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        AND r_name IN ('EUROPE', 'ASIA')
    ),
    eligible AS (
      SELECT p_partkey, p_brand, s_name, n_name, s_suppkey, unit_cost,
             min(unit_cost) OVER (PARTITION BY p_partkey) AS part_min
      FROM part, cost, rsupp
      WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey AND p_size < 20
    )
    SELECT p_partkey, p_brand, s_name, n_name, unit_cost AS min_unit_cost
    FROM eligible WHERE unit_cost = part_min
    ORDER BY p_partkey, s_suppkey
"""


@query("tpch_q2_style", oracle=_Q2)
def tpch_q2_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 shape: minimum-cost supplier per part within a region — the
    correlated scalar-min subquery (kept verbatim as the oracle) runs
    Spark-side as a partition-only window min over a single cost scan
    (see _Q2_SPARK). Equality compares mins of identically-computed
    doubles within one engine, so the filter is exact; expanding the
    min through the window keeps every tied minimum-cost supplier,
    exactly as the subquery form does."""
    return base_sql(spark, sf_dir, ["lineitem", "part", "supplier", "nation", "region"], _Q2_SPARK)


_Q7 = """
    SELECT supp_region, cust_region, l_year,
           CAST(sum(CAST(volume AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM (SELECT r1.r_name AS supp_region, r2.r_name AS cust_region,
                 CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS l_year,
                 l_extendedprice * (1 - l_discount) AS volume
          FROM supplier, lineitem, orders, customer,
               nation n1, nation n2, region r1, region r2
          WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
            AND c_custkey = o_custkey
            AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
            AND n1.n_regionkey = r1.r_regionkey AND n2.n_regionkey = r2.r_regionkey
            AND ((r1.r_name = 'ASIA' AND r2.r_name = 'EUROPE')
                 OR (r1.r_name = 'EUROPE' AND r2.r_name = 'ASIA'))
            AND l_shipdate >= TIMESTAMP '1996-01-01'
            AND l_shipdate <  TIMESTAMP '1998-01-01') shipping
    GROUP BY supp_region, cust_region, l_year
    ORDER BY supp_region, cust_region, l_year
"""


@query("tpch_q7_style", oracle=_Q7)
def tpch_q7_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 shape: volume shipping between two geographies — the same dimension
    table (nation→region) joined twice under different roles, a disjunctive
    cross-role predicate, then a year-bucketed rollup. Regions (not single
    nations) keep the result non-empty at the tiny scale factors."""
    return base_sql(
        spark, sf_dir, ["supplier", "lineitem", "orders", "customer", "nation", "region"], _Q7
    )


_Q8 = """
    SELECT o_year,
           round(CAST(sum(CASE WHEN supp_region = 'ASIA'
                               THEN CAST(volume AS DECIMAL(18,4))
                               ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
                 / CAST(sum(CAST(volume AS DECIMAL(18,4))) AS DOUBLE), 6)
             AS mkt_share
    FROM (SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
                 l_extendedprice * (1 - l_discount) AS volume,
                 r2.r_name AS supp_region
          FROM part, supplier, lineitem, orders, customer,
               nation n1, nation n2, region r1, region r2
          WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
            AND l_orderkey = o_orderkey AND o_custkey = c_custkey
            AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r1.r_regionkey
            AND r1.r_name = 'AMERICA'
            AND s_nationkey = n2.n_nationkey AND n2.n_regionkey = r2.r_regionkey
            AND o_orderdate >= TIMESTAMP '1996-01-01'
            AND o_orderdate <  TIMESTAMP '1998-01-01'
            AND p_type = 'ECONOMY') all_nations
    GROUP BY o_year
    ORDER BY o_year
"""


@query("tpch_q8_style", oracle=_Q8)
def tpch_q8_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 shape: market share — ratio of a conditional sum to a total over an
    8-table star join. Both sums run in DECIMAL (exact) and only the final
    ratio is double, so the division is bit-identical across engines."""
    return base_sql(
        spark, sf_dir, ["part", "supplier", "lineitem", "orders", "customer", "nation", "region"],
        _Q8,
    )


_Q9 = """
    SELECT nation, o_year,
           CAST(sum(CAST(amount AS DECIMAL(18,4))) AS DOUBLE) AS sum_profit
    FROM (SELECT n_name AS nation,
                 CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
                 l_extendedprice * (1 - l_discount)
                   - l_quantity * (p_retailprice * 0.1) AS amount
          FROM part, supplier, lineitem, orders, nation
          WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
            AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
            AND p_name LIKE '%red%') profit
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
"""


@query("tpch_q9_style", oracle=_Q9)
def tpch_q9_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 shape: product-type profit by nation and year. With no partsupp,
    supply cost is proxied by 10% of p_retailprice — the revenue-minus-cost
    expression and the nation/year rollup are the shape under test."""
    return base_sql(spark, sf_dir, ["part", "supplier", "lineitem", "orders", "nation"], _Q9)


_Q10_ORACLE = """
    SELECT c_custkey, c_name,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
                AS DOUBLE) AS revenue,
           round(c_acctbal, 2) AS acctbal, n_name
    FROM customer, orders, lineitem, nation
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate <  TIMESTAMP '1997-04-01'
      AND l_returnflag = 'R' AND c_nationkey = n_nationkey
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
"""


@query("tpch_q10_style", oracle=_Q10_ORACLE)
def tpch_q10_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 shape: returned-item reporting, top 20 customers by lost revenue.
    DataFrame-API implementation: quarter-banded orders joined to returned
    lineitems, customer+nation broadcast, DECIMAL revenue, then
    TakeOrderedAndProject for the top-k (no global sort materialized).
    The c_custkey tiebreak makes LIMIT deterministic."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            F.round("c_acctbal", 2).alias("acctbal"),
            "n_name",
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


_Q11 = """
    WITH val AS (
      SELECT l_partkey,
             sum(CAST(l_extendedprice * l_quantity AS DECIMAL(18,2))) AS value_
      FROM lineitem, supplier, nation
      WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
        AND n_regionkey = 0
      GROUP BY l_partkey
    )
    SELECT l_partkey AS partkey, CAST(value_ AS DOUBLE) AS part_value
    FROM val
    WHERE CAST(value_ AS DOUBLE) >
          (SELECT CAST(sum(value_) AS DOUBLE) * 0.001 FROM val)
    ORDER BY part_value DESC, partkey
"""


@query("tpch_q11_style", oracle=_Q11)
def tpch_q11_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 shape: important stock — per-part inventory value for one
    geography, kept only where it exceeds a scalar-subquery fraction of the
    total. The CTE is referenced twice (body + scalar subquery); both sums
    are exact DECIMAL so the > threshold cannot flip between engines.
    n_regionkey (not n_name) keeps the supplier set non-empty at sf0.001."""
    return base_sql(spark, sf_dir, ["lineitem", "supplier", "nation"], _Q11)


_Q16 = """
    SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
    FROM part JOIN lineitem ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
      AND p_size IN (1, 4, 9, 14, 19, 24, 29, 34)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


@query("tpch_q16_style", oracle=_Q16)
def tpch_q16_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 shape: supplier-relationship count — distinct-count per
    brand/type/size with a NOT IN anti-join excluding negative-balance
    suppliers (s_acctbal is never NULL, so NOT IN is safe)."""
    return base_sql(spark, sf_dir, ["part", "lineitem", "supplier"], _Q16)


_Q17 = """
    SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                 / 7.0, 2) AS avg_yearly
    FROM lineitem, part
    WHERE p_partkey = l_partkey AND p_brand = 'Brand#3'
      AND l_quantity < (SELECT 0.2 * (CAST(sum(CAST(l_quantity AS DECIMAL(12,2)))
                                           AS DOUBLE) / count(*))
                        FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
"""


@query("tpch_q17_style", oracle=_Q17)
def tpch_q17_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 shape: small-quantity-order revenue — correlated scalar-average
    threshold per part. The average is exact-decimal-sum ÷ count (double
    division of identical operands), so the < comparison is stable; Catalyst
    decorrelates it to one aggregate over lineitem + a join."""
    return base_sql(spark, sf_dir, ["lineitem", "part"], _Q17)


_Q19_ORACLE = """
    SELECT CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
                AS DOUBLE) AS revenue,
           count(*) AS n
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 20 AND 30)
"""


@query("tpch_q19_style", oracle=_Q19_ORACLE)
def tpch_q19_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 shape: discounted revenue under three disjunctive brand/size/qty
    bands. DataFrame-API implementation with part broadcast; the per-table
    halves of each disjunct (l_quantity bands on lineitem, brand/size on
    part) are pushable, and the cross-table OR evaluates post-join."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    band = (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(1, 5)
        & F.col("l_quantity").between(1, 11)
    ) | (
        (F.col("p_brand") == "Brand#23")
        & F.col("p_size").between(1, 10)
        & F.col("l_quantity").between(10, 20)
    ) | (
        (F.col("p_brand") == "Brand#34")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(20, 30)
    )
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(band)
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n"),
        )
    )


_Q20 = """
    SELECT s_suppkey, s_name
    FROM supplier, nation
    WHERE s_suppkey IN (
            SELECT l_suppkey
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE p_name LIKE 'red%'
            GROUP BY l_suppkey, l_partkey
            HAVING sum(CAST(l_quantity AS DECIMAL(12,2))) > 50)
      AND s_nationkey = n_nationkey AND n_regionkey = 1
    ORDER BY s_suppkey
"""


@query("tpch_q20_style", oracle=_Q20)
def tpch_q20_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 shape: potential part promotion — IN-subquery (semi join) over a
    grouped HAVING on exact-DECIMAL quantity, restricted to one geography.
    The available-quantity correlation of real Q20 is re-expressed as the
    HAVING threshold (no partsupp table)."""
    return base_sql(spark, sf_dir, ["supplier", "nation", "lineitem", "part"], _Q20)


_Q21 = """
    SELECT s_name, count(*) AS numwait
    FROM supplier, lineitem l1, orders, nation
    WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
      AND o_orderstatus = 'F' AND l1.l_returnflag = 'R'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
      AND s_nationkey = n_nationkey AND n_regionkey = 2
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 10
"""


@query("tpch_q21_style", oracle=_Q21)
def tpch_q21_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 shape: suppliers who kept orders waiting — the double-correlation
    query: EXISTS (another supplier in the order) AND NOT EXISTS (another
    supplier also at fault), both on the fact table. With no
    commitdate/receiptdate, "late" is re-expressed as l_returnflag = 'R'.
    Catalyst plans one semi and one anti join; s_name tiebreak makes the
    LIMIT deterministic."""
    return base_sql(spark, sf_dir, ["supplier", "lineitem", "orders", "nation"], _Q21)
