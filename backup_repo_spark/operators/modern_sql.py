"""Spark 4.x SQL-surface extensions: pipe syntax, dynamic SQL, collations,
approximate top-k. Beyond the reference by construction (Astro froze at
Spark 1.4 SQL — SURVEY.md §2.B scope note); included because "a user of the
reference could switch" implies the modern SQL entry points too.

All four are front-end features — the plans they produce are the same
scans/aggregates as their classic-SQL equivalents (verified by the oracles),
so nothing here changes the 100 TB story; approx_top_k is the exception in
the other direction: a bounded-memory sketch that replaces an exact
sort-by-count at scale.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from backup_repo_spark.registry import query
from backup_repo_spark.session import base_sql, load_events, load_table


@query(
    "sql_pipe_syntax",
    oracle="""
    SELECT l_returnflag, count(*) AS n,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
    FROM lineitem
    WHERE l_quantity > 45
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (|>): the same logical plan as the classic
    SELECT/GROUP BY the oracle runs — table first, then WHERE, AGGREGATE,
    ORDER BY as postfix stages. Catalyst unifies both syntaxes before
    optimization, so pushdown/pruning are unchanged."""
    return base_sql(
        spark, sf_dir, ["lineitem"],
        """
        FROM lineitem
        |> WHERE l_quantity > 45
        |> AGGREGATE count(*) AS n,
                     CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
           GROUP BY l_returnflag
        |> ORDER BY l_returnflag
        |> SELECT l_returnflag, n, rev
        """
    )


@query(
    "sql_execute_immediate",
    oracle="""
    SELECT o_orderstatus, count(*) AS n
    FROM orders WHERE o_totalprice > 200000
    GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def sql_execute_immediate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic SQL: EXECUTE IMMEDIATE with a named bind parameter — the
    string is compiled at execution and the parameter is passed as data
    (USING), never spliced into the text. The injection-safe way to
    template 100 TB maintenance jobs."""
    return base_sql(
        spark, sf_dir, ["orders"],
        """
        EXECUTE IMMEDIATE
          'SELECT o_orderstatus, count(*) AS n
           FROM orders WHERE o_totalprice > :threshold
           GROUP BY o_orderstatus ORDER BY o_orderstatus'
        USING 200000 AS threshold
        """
    )


@query(
    "fn_collation",
    oracle="""
    WITH mixed AS (
      SELECT CASE WHEN c_custkey % 2 = 0 THEN lower(c_mktsegment)
                  ELSE c_mktsegment END AS seg
      FROM customer
    )
    SELECT count(DISTINCT seg) AS n_case_sensitive,
           count(DISTINCT lower(seg)) AS n_case_insensitive,
           CAST(sum(CASE WHEN lower(seg) = 'building' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_building_ci
    FROM mixed
    """,
)
def fn_collation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collation-aware comparison (Spark 4 COLLATE): a mixed-case segment
    column counted under binary vs UTF8_LCASE collation, plus a
    case-insensitive equality filter. The collation version pushes the
    case-folding into the comparison operator itself — no lower() wrapper
    column for Catalyst to re-derive everywhere. Oracle mirrors with
    explicit lower() (DuckDB has no column collations)."""
    return base_sql(
        spark, sf_dir, ["customer"],
        """
        WITH mixed AS (
          SELECT CASE WHEN c_custkey % 2 = 0 THEN lower(c_mktsegment)
                      ELSE c_mktsegment END AS seg
          FROM customer
        )
        SELECT count(DISTINCT seg) AS n_case_sensitive,
               count(DISTINCT seg COLLATE UTF8_LCASE) AS n_case_insensitive,
               sum(CASE WHEN seg COLLATE UTF8_LCASE = 'building' THEN 1 ELSE 0 END)
                 AS n_building_ci
        FROM mixed
        """
    )


@query(
    "agg_approx_top_k",
    oracle="""
    SELECT CAST(row_number() OVER (ORDER BY count(*) DESC, event_type) AS INT) - 1
             AS rnk,
           event_type AS item, count(*) AS cnt
    FROM events GROUP BY event_type
    ORDER BY cnt DESC, item LIMIT 3
    """,
)
def agg_approx_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_top_k heavy hitters: a bounded-memory frequency sketch that
    replaces sort-the-full-histogram at 100 TB (the sketch merges
    map-side). At this cardinality (5 event types ≪ sketch capacity) the
    sketch is provably exact, so the oracle can check values, not just
    shape."""
    ev = load_events(spark, sf_dir)
    top = ev.agg(F.expr("approx_top_k(event_type, 3)").alias("tk"))
    return (
        top.select(F.posexplode("tk").alias("rnk", "entry"))
        .select(
            F.col("rnk").cast("int").alias("rnk"),
            F.col("entry.item").alias("item"),
            F.col("entry.count").alias("cnt"),
        )
        .orderBy("rnk")
    )


@query(
    "sql_session_variables",
    oracle="""
    SELECT o_orderstatus, count(*) AS n
    FROM orders WHERE o_totalprice > 250000
    GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def sql_session_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL session variables (DECLARE / SET VAR): typed, session-scoped
    state referenced directly in queries — the clean replacement for
    string-formatting thresholds into SQL text. The variable is resolved
    at plan time, so the filter still pushes down to the scan."""
    var = f"price_floor_{uuid.uuid4().hex}"  # per call, so threads never share it
    spark.sql(f"DECLARE VARIABLE {var} DOUBLE DEFAULT 0.0")
    spark.sql(f"SET VAR {var} = 250000.0")
    df = base_sql(
        spark, sf_dir, ["orders"],
        f"""
        SELECT o_orderstatus, count(*) AS n
        FROM orders WHERE o_totalprice > {var}
        GROUP BY o_orderstatus ORDER BY o_orderstatus
        """
    )
    spark.sql(f"DROP TEMPORARY VARIABLE {var}")  # the analysed plan holds its value
    return df


@query(
    "sql_scalar_udf",
    oracle="""
    SELECT l_returnflag, count(*) AS n,
           CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4)))
                AS DOUBLE) AS disc_revenue
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def sql_scalar_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scalar UDF (CREATE FUNCTION ... RETURN expr, Spark 4): a named,
    catalog-managed expression — unlike Python UDFs it is inlined into the
    plan at analysis time, so it costs nothing at runtime (stays inside
    whole-stage codegen, no serialization boundary). The right default for
    shared business logic at 100 TB; the oracle inlines the same expression
    by hand."""
    fn = f"disc_price_{uuid.uuid4().hex}"  # per call, so threads never share it
    spark.sql(
        f"""
        CREATE TEMPORARY FUNCTION {fn}(p DOUBLE, d DOUBLE)
        RETURNS DOUBLE RETURN p * (1.0 - d)
        """
    )
    df = base_sql(
        spark, sf_dir, ["lineitem"],
        f"""
        SELECT l_returnflag, count(*) AS n,
               CAST(sum(CAST({fn}(l_extendedprice, l_discount)
                             AS DECIMAL(18,4))) AS DOUBLE) AS disc_revenue
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
        """
    )
    spark.sql(f"DROP TEMPORARY FUNCTION {fn}")  # the analysed plan inlines it
    return df


@query(
    "observe_metrics",
    oracle="""
    SELECT count(*) AS cnt,
           round(sum(l_quantity), 2) AS sum_qty,
           min(l_extendedprice) AS min_price,
           max(l_extendedprice) AS max_price
    FROM lineitem WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
    """,
)
def observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df.observe(): data-quality metrics piggybacked on a pass the job
    already makes — accumulator-backed, zero extra scans/shuffles, exactly
    what a 100 TB ingest pipeline uses to assert row counts and value
    bounds without a second aggregation job. The observed metrics are
    returned as a one-row DataFrame and value-checked against a real
    aggregate of the same slice."""
    from pyspark.sql import Observation

    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp")
    )
    obs = Observation("pipeline_metrics")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
    )
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    return spark.createDataFrame(
        [(m["cnt"], m["sum_qty"], m["min_price"], m["max_price"])],
        "cnt BIGINT, sum_qty DOUBLE, min_price DOUBLE, max_price DOUBLE",
    )


@query(
    "sql_identifier_clause",
    oracle="""
    SELECT o_orderstatus AS status, count(*) AS n
    FROM orders GROUP BY o_orderstatus ORDER BY status
    """,
)
def sql_identifier_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDENTIFIER() clause: table and column names supplied as bound
    parameters instead of string-spliced SQL — injection-safe dynamic
    queries (the per-tenant / per-partition-table pattern). Resolution
    happens at analysis time, so the plan is identical to the static
    query the oracle runs."""
    return base_sql(
        spark, sf_dir, ["orders"],
        """
        SELECT IDENTIFIER(:c) AS status, count(*) AS n
        FROM IDENTIFIER(:t) GROUP BY IDENTIFIER(:c) ORDER BY status
        """,
        args={"c": "o_orderstatus", "t": "orders"},
    )


@query(
    "sql_values_clause",
    oracle="""
    WITH tiers(seg, tier) AS (VALUES
      ('BUILDING', 'core'), ('AUTOMOBILE', 'core'),
      ('MACHINERY', 'industrial'),
      ('FURNITURE', 'consumer'), ('HOUSEHOLD', 'consumer'))
    SELECT tier, count(*) AS n_customers
    FROM customer JOIN tiers ON c_mktsegment = seg
    GROUP BY ALL ORDER BY ALL
    """,
)
def sql_values_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inline VALUES table constructor as a CTE (with column aliases)
    joined against a real table, finished with GROUP BY ALL + ORDER BY
    ALL — the literal-mapping-table idiom (no temp file, no
    createDataFrame round-trip). The VALUES relation is constant-folded
    and broadcast."""
    return base_sql(
        spark, sf_dir, ["customer"],
        """
        WITH tiers(seg, tier) AS (VALUES
          ('BUILDING', 'core'), ('AUTOMOBILE', 'core'),
          ('MACHINERY', 'industrial'),
          ('FURNITURE', 'consumer'), ('HOUSEHOLD', 'consumer'))
        SELECT tier, count(*) AS n_customers
        FROM customer JOIN tiers ON c_mktsegment = seg
        GROUP BY ALL ORDER BY ALL
        """
    )


@query(
    "sql_lateral_view",
    oracle="""
    SELECT doc_id, unnest(string_split(text, ' ')) AS tok
    FROM documents WHERE doc_id < 20
    """,
)
def sql_lateral_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-inherited LATERAL VIEW explode() syntax — the legacy spelling
    of generator joins that existing HiveQL/SparkSQL workloads arrive
    with (the modern equivalents ship as `join_lateral` and
    `fn_explode_outer`). Same Generate operator in the plan either way."""
    return base_sql(
        spark, sf_dir, ["documents"],
        """
        SELECT doc_id, tok
        FROM documents LATERAL VIEW explode(split(text, ' ')) x AS tok
        WHERE doc_id < 20
        """
    )
