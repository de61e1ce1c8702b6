"""Window functions — SURVEY.md §2.B rows B30–B35.

Reference parity: window functions were part of the Spark SQL 1.4 surface
Astro delegated to (confidence H, SURVEY.md §2.B). All declarative here;
Catalyst plans a single sort-based Window operator per (partition, order)
spec — we deliberately reuse one spec per query so multiple measures share
one shuffle+sort.

Scale notes: a window over ``partitionBy(k)`` shuffles on k once; frames are
evaluated streaming within the sorted partition (no materialization of the
whole partition for running frames). Skewed partition keys are the hazard —
at 100 TB, a hot user_id melts one task; mitigation is pre-aggregation or
key-salting before ranking (documented in plans/scale_notes.md).

Determinism: every ORDER BY carries a unique tie-break column (event_id /
o_orderkey) so row-addressed functions (row_number, lag, lead) agree between
Spark (µs timestamps) and DuckDB (ns) — testdata ts values are exact µs,
verified 2026-08-13.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from backup_repo_spark.registry import query
from backup_repo_spark.session import base_sql, load_events, load_table


@query(
    "win_rank",
    oracle="""
    SELECT * FROM (
      SELECT o_orderkey, o_orderpriority, round(o_totalprice, 2) AS price,
             row_number() OVER w AS rn,
             rank() OVER w AS rnk,
             dense_rank() OVER w AS drnk,
             ntile(4) OVER w AS quartile
      FROM orders
      WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey)
    ) t WHERE rn <= 50
    """,
)
def win_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B30: ranking functions over one shared window spec.

    Scale note: this is the API-surface demonstrator, and its ntile(4)
    inherently needs the whole partition (so WindowGroupLimit cannot push
    the rn <= 50 filter below the exchange, and the 5 order-priority
    partitions each carry their full group). The engine's scale path for
    the same semantics is operators/prefix.py: `ntile_nosort` (exact
    ntile + row number from bucketed prefix sums) and rank-from-histogram
    as used by stats_spearman/_doubled_ranks — parallelism = bucket
    count instead of partition-key cardinality."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        o.select(
            "o_orderkey",
            "o_orderpriority",
            F.round("o_totalprice", 2).alias("price"),
            F.row_number().over(w).alias("rn"),
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
            F.ntile(4).over(w).alias("quartile"),
        )
        .filter(F.col("rn") <= 50)
    )


@query(
    "win_lag_lead",
    oracle="""
    SELECT event_id, user_id, value,
           coalesce(lag(value)  OVER w, -1.0) AS prev_value,
           coalesce(lead(value) OVER w, -1.0) AS next_value,
           first_value(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_event
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def win_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B31: lag/lead/first_value along each user's event timeline; NULL edges
    coalesced to a sentinel (FIXTURES.md hazard #3)."""
    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return ev.select(
        "event_id",
        "user_id",
        "value",
        F.coalesce(F.lag("value").over(w), F.lit(-1.0)).alias("prev_value"),
        F.coalesce(F.lead("value").over(w), F.lit(-1.0)).alias("next_value"),
        F.first("event_id").over(wf).alias("first_event"),
    )


@query(
    "win_rows_frame",
    oracle="""
    SELECT event_id, user_id,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2) AS moving_sum,
           count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS frame_n
    FROM events
    """,
)
def win_rows_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B32: ROWS frame — 3-event moving sum per user."""
    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-2, 0)
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w), 2).alias("moving_sum"),
        F.count(F.lit(1)).over(w).alias("frame_n"),
    )


@query(
    "win_range_frame",
    oracle="""
    SELECT o_orderkey, o_orderstatus,
           count(*) OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice
             RANGE BETWEEN 1000.0 PRECEDING AND CURRENT ROW) AS peers_within_1k
    FROM orders
    """,
)
def win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B33: RANGE frame — value-based frame bounds (peer-inclusive, so sort
    ties don't affect the result). Double-valued offsets aren't expressible
    through the pyspark Window builder (long-typed API), so the frame is
    declared as a SQL window expression.

    Scale shape (rewritten round 5 after the 10x sweep flagged 11.9x per
    10x data): o_orderstatus has THREE distinct values, so the naive
    window caps parallelism at 3 tasks each sorting n/3 rows — the
    few-huge-partitions anti-shape. The shipped form uses the classic
    overlap-bucket decomposition for bounded-span range frames: bucket
    the order value by width 2W (any width >= the 1000.0 frame span
    works; 2000 keeps duplication at exactly 2x), emit every row a
    second time into the NEXT bucket flagged as context, run the exact
    same RANGE frame per (status, bucket), and keep only original rows —
    exact counts, parallelism = bucket count, no per-status sort.  The
    decomposition lives in operators/prefix.py
    (`bucketed_range_count`, property-tested against the naive window)."""
    from backup_repo_spark.operators.prefix import bucketed_range_count

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    return bucketed_range_count(
        o, "o_totalprice", 1000.0, by=["o_orderstatus"],
        out_col="peers_within_1k",
    ).select("o_orderkey", "o_orderstatus", "peers_within_1k")


@query(
    "win_topn_per_group",
    oracle="""
    SELECT * FROM (
      SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS price,
             rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS rnk
      FROM orders) t
    WHERE rnk <= 2
    """,
)
def win_topn_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B34: top-N per group (rank + filter) — BASELINE.md q_window_rank.
    rank() (not row_number) so ties produce identical row sets cross-engine."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"))
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("price"),
            F.rank().over(w).alias("rnk"),
        )
        .filter(F.col("rnk") <= 2)
    )


@query(
    "win_percent",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round(percent_rank() OVER w, 6) AS pr,
           round(cume_dist() OVER w, 6) AS cd
    FROM lineitem
    WHERE l_suppkey < 20
    WINDOW w AS (PARTITION BY l_returnflag ORDER BY l_quantity)
    """,
)
def win_percent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B35: percent_rank / cume_dist (functions of the value's rank in the
    partition — deterministic under ties)."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_suppkey") < 20)
    w = Window.partitionBy("l_returnflag").orderBy("l_quantity")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.percent_rank().over(w), 6).alias("pr"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
    )


@query(
    "win_nth_ignorenulls",
    oracle="""
    SELECT o_orderkey, o_custkey,
           nth_value(o_totalprice, 2) OVER w AS second_price,
           first_value(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END IGNORE NULLS)
             OVER w AS first_f_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def win_nth_ignorenulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nth_value over a full-partition frame + first_value(... IGNORE
    NULLS) — the 'first non-null observation per entity' pattern (forward-
    fill's core primitive). Same windowed-SQL text runs on both engines."""
    return base_sql(
        spark, sf_dir, ["orders"],
        """
        SELECT o_orderkey, o_custkey,
               nth_value(o_totalprice, 2) OVER w AS second_price,
               first_value(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END)
                 IGNORE NULLS OVER w AS first_f_price
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        """
    )


@query(
    "win_range_interval",
    oracle="""
    SELECT user_id, strftime(date_trunc('second', ts), '%Y-%m-%d %H:%M:%S') AS s,
           count(*) OVER w AS n_1h,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER w AS BIGINT)
               AS cents_1h
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY date_trunc('second', ts)
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
    ORDER BY user_id, s
    """,
)
def win_range_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based RANGE frame: per-user rolling 1-hour event count and value
    sum, with the frame bounded by INTERVAL arithmetic on the ORDER BY
    timestamp (not row offsets) — the sliding-window-per-entity shape of
    sessionization and rate limiting. RANGE includes all peers of the
    current timestamp, so results are deterministic under any intra-second
    input order; the summed measure is exact integer cents so the rolling
    sum is order-insensitive too. One shuffle on user_id, sort within
    partitions — at 100 TB this is the keyed-window pattern that scales
    linearly with events per user."""
    return spark.sql(
        """
        SELECT user_id,
               date_format(date_trunc('second', ts), 'yyyy-MM-dd HH:mm:ss') AS s,
               count(*) OVER w AS n_1h,
               sum(CAST(round(value * 100) AS BIGINT)) OVER w AS cents_1h
        FROM {events}
        WINDOW w AS (PARTITION BY user_id ORDER BY date_trunc('second', ts)
                     RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
        ORDER BY user_id, s
        """,
        events=load_events(spark, sf_dir),
    )


@query(
    "win_moving_median",
    oracle="""
    SELECT user_id, event_id, value,
           quantile_cont(value, 0.5) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS mov_med
    FROM events
    """,
)
def win_moving_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving MEDIAN over a 5-row trailing frame per user — an aggregate
    (not ranking) function over a window frame, the robust-smoothing
    counterpart of a moving average. Exact interpolated percentile is
    selection + one IEEE midpoint, so values are bit-identical across
    engines (a moving avg would hit float-sum ordering instead).
    Partitioned by user_id — parallel; frame ORDER tie-broken by
    event_id."""
    from backup_repo_spark.session import load_events

    ev = load_events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, 0)
    )
    return ev.select(
        "user_id", "event_id", "value",
        F.expr("percentile(value, 0.5)").over(w).alias("mov_med"),
    )


@query(
    "pareto_analysis",
    oracle="""
    WITH r AS (
      SELECT o_custkey, round(sum(o_totalprice), 2) AS revenue
      FROM orders GROUP BY o_custkey
    ), t AS (SELECT round(sum(revenue), 2) AS total FROM r),
    c AS (
      SELECT o_custkey, revenue,
             row_number() OVER (ORDER BY revenue DESC, o_custkey) AS rnk,
             sum(revenue) OVER (ORDER BY revenue DESC, o_custkey
                                ROWS UNBOUNDED PRECEDING) AS cum
      FROM r
    )
    SELECT rnk, o_custkey, revenue, round(cum / t.total, 6) AS cum_share
    FROM c CROSS JOIN t
    WHERE rnk <= 100
    """,
)
def pareto_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto (80/20) curve: customers ranked by revenue with cumulative
    revenue share — the concentration analysis behind tiering and sampling
    decisions. Determinism recipe: per-customer revenue is rounded FIRST,
    then the running sum adds those identical doubles in the identical
    (rank) order in both engines — sequential window sums are order-pinned,
    unlike groupBy sums. Scale: cum at rank k only sums the top-k revenues,
    so the top-100 are taken FIRST (TakeOrderedAndProject — per-partition
    local top-100, no global sort) and the ordered window runs over those
    100 rows; the input to the single-partition window is bounded at 100
    by construction, at any data size."""
    o = load_table(spark, sf_dir, "orders")
    r = o.groupBy("o_custkey").agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    t = r.agg(F.round(F.sum("revenue"), 2).alias("total"))
    w = Window.orderBy(F.desc("revenue"), "o_custkey")
    top = r.orderBy(F.desc("revenue"), "o_custkey").limit(100)
    c = top.select(
        "o_custkey", "revenue",
        F.row_number().over(w).alias("rnk"),
        F.sum("revenue").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
    )
    return (
        c.crossJoin(F.broadcast(t))
        .select(
            "rnk", "o_custkey", "revenue",
            F.round(F.col("cum") / F.col("total"), 6).alias("cum_share"),
        )
    )


@query(
    "win_count_distinct",
    oracle="""
    SELECT event_id, user_id, event_type,
           count(DISTINCT event_type) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS types_seen
    FROM events
    WHERE user_id < 40
    """,
)
def win_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running DISTINCT count per user ("how many distinct event types has
    this user produced so far") — Spark's Window does not accept DISTINCT
    aggregates, so this is the standard first-occurrence emulation: flag the
    first row of each (user, type) in event order, then running-sum the
    flags over the user's timeline. DuckDB supports windowed DISTINCT
    natively, making this a true cross-engine differential of the rewrite.

    Scale: both window specs partition by user_id ONLY — the flag pass
    sorts (event_type, ts) inside the user partition and marks run starts
    with lag(), instead of the naive partitionBy(user, type) which would
    cost a SECOND exchange (plan-asserted in tests/test_plans.py). One
    hash(user_id) shuffle, two in-partition sorts. The emulation is what
    you'd deploy at 100 TB anyway: native windowed DISTINCT (engines that
    have it) rescans the frame per row, O(n·frame), while this is
    O(n log n) in the sort."""
    ev = load_events(spark, sf_dir).filter(F.col("user_id") < 40)
    runs = Window.partitionBy("user_id").orderBy("event_type", "ts", "event_id")
    run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    prev = F.lag("event_type").over(runs)
    return ev.select(
        "event_id", "user_id", "event_type", "ts",
        (prev.isNull() | (prev != F.col("event_type"))).cast("int").alias("is_first"),
    ).select(
        "event_id", "user_id", "event_type",
        F.sum("is_first").over(run).alias("types_seen"),
    )
