"""Subqueries & CTEs — SURVEY.md §2.B rows B51–B54.

Reference parity: Spark 1.4's subquery support (which Astro inherited) was
weak — no correlated decorrelation. Spark 4.x Catalyst rewrites correlated
subqueries into joins (``RewriteCorrelatedScalarSubquery`` etc.), so these
run as joins, not per-row re-executions. SQL-string entry path (§3.2 shape 1):
identical text runs on Spark and DuckDB.

Scale notes: the scalar subqueries here become broadcast joins of a 1-row
aggregate; correlated EXISTS becomes a semi join shuffled on the correlation
key. Nothing is per-row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from backup_repo_spark.registry import query
from backup_repo_spark.session import base_sql


_SUBQ_SCALAR = """
    SELECT o_orderkey, round(o_totalprice, 2) AS price
    FROM orders
    WHERE o_totalprice > (SELECT round(avg(o_totalprice) * 1.5, 2) FROM orders)
"""


@query("subq_scalar", oracle=_SUBQ_SCALAR)
def subq_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B51: uncorrelated scalar subquery (threshold rounded so both engines
    compare against bit-identical values)."""
    return base_sql(spark, sf_dir, ["orders"], _SUBQ_SCALAR)


_SUBQ_EXISTS = """
    SELECT c_custkey, c_mktsegment
    FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
"""


@query("subq_exists", oracle=_SUBQ_EXISTS)
def subq_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B52: IN subquery → planned as a left semi join."""
    return base_sql(spark, sf_dir, ["customer", "orders"], _SUBQ_EXISTS)


_SUBQ_CORR = """
    SELECT c.c_custkey, round(c.c_acctbal, 2) AS bal
    FROM customer c
    WHERE c.c_acctbal > (SELECT avg(c2.c_acctbal) + 2000 FROM customer c2
                         WHERE c2.c_nationkey = c.c_nationkey)
"""


@query("subq_correlated", oracle=_SUBQ_CORR)
def subq_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B53: correlated scalar subquery — Catalyst decorrelates into an
    aggregate + join on the correlation key (c_nationkey)."""
    return base_sql(spark, sf_dir, ["customer"], _SUBQ_CORR)


_CTE = """
    WITH rev AS (
      SELECT o_custkey, sum(o_totalprice) AS r FROM orders GROUP BY o_custkey
    )
    SELECT count(*) AS n_above, round(avg(r), 2) AS avg_above
    FROM rev WHERE r > (SELECT avg(r) FROM rev)
"""


@query("cte_reuse", oracle=_CTE)
def cte_reuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B54: CTE referenced twice (body + scalar subquery over it)."""
    return base_sql(spark, sf_dir, ["orders"], _CTE)


_RECURSIVE = """
    WITH RECURSIVE months(m) AS (
      SELECT CAST('1995-01-01' AS DATE)
      UNION ALL
      SELECT CAST(m + INTERVAL 1 MONTH AS DATE) FROM months
      WHERE m < CAST('1995-12-01' AS DATE)
    )
    SELECT m, count(o_orderkey) AS n_orders
    FROM months LEFT JOIN orders
      ON CAST(date_trunc('month', o_orderdate) AS DATE) = m
    GROUP BY m ORDER BY m
"""


@query("cte_recursive", oracle=_RECURSIVE)
def cte_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (new in Spark 4): a 12-month date spine generated by
    recursion, outer-joined to per-month order counts — the gap-preserving
    calendar pattern, in IDENTICAL SQL on both engines. (Astro's Spark 1.4
    had no recursion at all.)"""
    return base_sql(spark, sf_dir, ["orders"], _RECURSIVE)


@query(
    "subq_not_in_null",
    oracle="""
    WITH sub AS (SELECT nullif(o_custkey % 50, 7) AS k FROM orders)
    SELECT
      (SELECT count(*) FROM customer
       WHERE c_custkey % 50 NOT IN (SELECT k FROM sub)) AS n_not_in,
      (SELECT count(*) FROM customer c
       WHERE NOT EXISTS (SELECT 1 FROM sub WHERE sub.k = c.c_custkey % 50))
        AS n_not_exists
    """,
)
def subq_not_in_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-valued-logic trap, verified: NOT IN against a subquery that
    contains a NULL returns NO rows (every comparison is UNKNOWN), while
    NOT EXISTS keeps its usual anti-join meaning. Both engines implement
    ANSI semantics; the query pins n_not_in = 0 next to the real
    anti-join count — the difference every migration guide warns about,
    demonstrated inside the engine. Plans: NOT IN becomes a null-aware
    anti join (one extra null-check branch); NOT EXISTS a plain left anti."""
    return base_sql(
        spark, sf_dir, ["orders", "customer"],
        """
        WITH sub AS (SELECT nullif(o_custkey % 50, 7) AS k FROM orders)
        SELECT
          (SELECT count(*) FROM customer
           WHERE c_custkey % 50 NOT IN (SELECT k FROM sub)) AS n_not_in,
          (SELECT count(*) FROM customer c
           WHERE NOT EXISTS (SELECT 1 FROM sub WHERE sub.k = c.c_custkey % 50))
            AS n_not_exists
        """
    )


@query(
    "subq_exists_projection",
    oracle="""
    SELECT c_custkey,
           CAST(EXISTS(SELECT 1 FROM orders
                       WHERE o_custkey = c_custkey
                         AND o_orderpriority = '1-URGENT') AS INT) AS has_urgent,
           CAST(EXISTS(SELECT 1 FROM orders
                       WHERE o_custkey = c_custkey
                         AND o_orderstatus = 'F') AS INT) AS has_closed
    FROM customer
    """,
)
def subq_exists_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS as a PROJECTED boolean (not a WHERE filter): two correlated
    existence flags per customer in one scan — each decorrelates to a
    left-semi-style ExistenceJoin rather than filtering rows, the idiom
    for feature flags / entitlement columns. Complements `subq_exists`
    (WHERE form) and `join_semi`."""
    return base_sql(
        spark, sf_dir, ["customer", "orders"],
        """
        SELECT c_custkey,
               CAST(EXISTS(SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey
                             AND o_orderpriority = '1-URGENT') AS INT) AS has_urgent,
               CAST(EXISTS(SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey
                             AND o_orderstatus = 'F') AS INT) AS has_closed
        FROM customer
        """
    )
