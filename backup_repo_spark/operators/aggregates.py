"""Aggregation operators — SURVEY.md §2.B rows B20–B29.

Reference parity: Astro delegated all aggregation to Spark SQL 1.4's
Aggregate operator over its HBase scans; its one aggregation-specific
contribution was coprocessor partial aggregation at the storage node
(upstream ``SparkSqlRegionObserver.scala`` — unverified, SURVEY.md §2.A A5),
whose semantics are exactly Spark's partial→final HashAggregate. Everything
here is declarative DataFrame API → Catalyst plans two-phase hash aggregation
with map-side combine automatically.

Scale notes: group-by keys here are low-cardinality (flag/status, nation) —
partial aggregation collapses each map partition to a handful of rows before
the shuffle, so the shuffle volume is O(groups × partitions), independent of
input rows. This is the plan shape that survives 100 TB.

Cross-engine hazards handled (FIXTURES.md): double aggregates rounded in BOTH
engine and oracle; timestamps compared only after day-level truncation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from backup_repo_spark.registry import query
from backup_repo_spark.session import base_sql, load_table


@query(
    "agg_tpch_q1",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                        AS sum_qty,
           round(sum(l_extendedprice), 2)                                   AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
           round(avg(l_quantity), 4)                                        AS avg_qty,
           round(avg(l_extendedprice), 4)                                   AS avg_price,
           round(avg(l_discount), 6)                                        AS avg_disc,
           count(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def agg_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B20 flagship: TPC-H Q1-style filter → two-phase hash agg → sort.

    Exercises the engine spine: parquet scan with the shipdate predicate
    pushed to row-group stats, column pruning to 7 of 11 columns, partial
    (map-side) aggregation, 2-key shuffle, final aggregation, sort.

    r14 (guide §2.4): the output is bounded at |returnflag|x|linestatus|
    (≤8 rows at ANY scale), so the final total order needs no
    rangepartitioning exchange — ``coalesce(1)`` before the sort makes
    the sort input SinglePartition, deleting the range-sampling job that
    re-ran the final aggregate (plans/r14/agg_tpch_q1_{before,after}.txt:
    2 jobs → 1, Exchange 2 → 1). Rows and order are byte-identical.
    """
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .coalesce(1)
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "agg_distinct",
    oracle="""
    SELECT event_type, count(DISTINCT user_id) AS du, count(*) AS n
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B21: distinct aggregation (two-phase: dedup shuffle, then agg).

    Output is one row per event_type (bounded, single digits at any
    scale), so the deterministic final order is a SinglePartition sort
    (``coalesce(1)`` — guide §2.4), not a rangepartitioning exchange
    with its sampling job (r14; same shape as agg_tpch_q1)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("du"), F.count(F.lit(1)).alias("n"))
        .coalesce(1)
        .orderBy("event_type")
    )


@query(
    "agg_approx_distinct",
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_du,
           TRUE AS approx_within_5pct
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B22: approx_count_distinct (HyperLogLog++) — the 100 TB substitute for
    exact distinct counts: constant memory per group, no dedup shuffle.

    Oracled as a BOUNDS CONTRACT: the HLL estimate itself is
    impl-specific, but its accuracy guarantee is not — the query returns
    the exact count (the audit anchor) plus a boolean asserting the
    estimate lands within 5% of it (rsd=0.02, and HLL++ sparse mode is
    exact at these cardinalities). The oracle asserts TRUE, so the driver
    gate goes red if the sketch ever degrades — a value-checked contract
    instead of a rows-only shrug. The exact column exists for the audit
    only; the production shape is estimate-only."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").cast("bigint").alias("exact_du"),
            F.approx_count_distinct("user_id", rsd=0.02).alias("approx_du"),
        )
        .select(
            "event_type",
            "exact_du",
            (
                F.abs(F.col("approx_du") - F.col("exact_du"))
                <= 0.05 * F.col("exact_du")
            ).alias("approx_within_5pct"),
        )
        .orderBy("event_type")
    )


@query(
    "agg_grouping_sets",
    oracle="""
    SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
           count(*) AS n, round(sum(l_quantity), 2) AS sq
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B23: GROUPING SETS — one pass, Expand operator fans each row into its
    grouping combinations before the (partial) aggregation."""
    return base_sql(
        spark, sf_dir, ["lineitem"],
        """
        SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
               count(*) AS n, round(sum(l_quantity), 2) AS sq
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )


@query(
    "agg_rollup",
    oracle="""
    SELECT coalesce(o_orderstatus, 'ALL') AS status, coalesce(o_orderpriority, 'ALL') AS prio,
           count(*) AS n, round(sum(o_totalprice), 2) AS total
    FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B24: ROLLUP hierarchy totals (status, status×prio, grand total)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("prio"),
            "n",
            "total",
        )
    )


@query(
    "agg_cube",
    oracle="""
    SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
           count(*) AS n, round(sum(l_extendedprice), 2) AS total
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B25: CUBE — all 2^k grouping combinations in one Expand pass."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("l_extendedprice"), 2).alias("total"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("rf"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("ls"),
            "n",
            "total",
        )
    )


@query(
    "agg_global",
    oracle="""
    SELECT count(*) AS n, round(sum(l_extendedprice), 2) AS total_price,
           round(avg(l_quantity), 4) AS avg_qty,
           CAST(min(l_shipdate) AS DATE) AS first_ship,
           CAST(max(l_shipdate) AS DATE) AS last_ship
    FROM lineitem
    """,
)
def agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B26: global (grouping-key-free) aggregate — partial per partition,
    single-row final."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.min("l_shipdate").cast("date").alias("first_ship"),
        F.max("l_shipdate").cast("date").alias("last_ship"),
    )


@query(
    "agg_having",
    oracle="""
    SELECT l_partkey, round(sum(l_quantity), 2) AS sq, count(*) AS n
    FROM lineitem GROUP BY l_partkey HAVING sum(l_quantity) > 800
    """,
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B27: HAVING — post-aggregation filter (Catalyst keeps it above the
    final agg; the partial agg still combines map-side)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_partkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sq"), F.count(F.lit(1)).alias("n"))
        .filter(F.sum("l_quantity") > 800)
        .select("l_partkey", "sq", "n")
    )


@query(
    "agg_collect",
    oracle="""
    SELECT l_returnflag,
           array_to_string(list_sort(list(DISTINCT l_linestatus)), ',') AS statuses,
           max_by(l_orderkey, l_extendedprice) AS priciest_order,
           round(max(l_extendedprice), 2) AS max_price
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B28: collect_set (order-normalized via sort+join) and max_by."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.array_join(F.sort_array(F.collect_set("l_linestatus")), ",").alias("statuses"),
            F.expr("max_by(l_orderkey, l_extendedprice)").alias("priciest_order"),
            F.round(F.max("l_extendedprice"), 2).alias("max_price"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "agg_stats",
    oracle="""
    SELECT l_returnflag,
           round(stddev_samp(l_quantity), 4) AS sd_qty,
           round(var_samp(l_quantity), 4) AS var_qty,
           round(corr(l_quantity, l_extendedprice), 4) AS corr_qp,
           round(quantile_cont(l_quantity, 0.5), 4) AS median_qty,
           round(avg(l_extendedprice), 4) AS avg_price
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B29: statistical aggregates — stddev/variance/corr/exact interpolated
    median. At 100 TB swap `percentile` for `percentile_approx` (t-digest-ish
    bounded memory); exact kept here because the oracle needs determinism."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
            F.round(F.var_samp("l_quantity"), 4).alias("var_qty"),
            F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qp"),
            F.round(F.expr("percentile(l_quantity, 0.5)"), 4).alias("median_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "agg_histogram",
    oracle="""
    SELECT CASE WHEN o_totalprice < 0.0 THEN 0
                WHEN o_totalprice >= 500000.0 THEN 21
                ELSE CAST(floor(o_totalprice / 25000.0) AS BIGINT) + 1 END AS bucket,
           count(*) AS n, round(sum(o_totalprice), 2) AS total
    FROM orders GROUP BY bucket ORDER BY bucket
    """,
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram via width_bucket binning — the single-pass,
    shuffle-one-row-per-bucket way to profile a 100 TB column (vs sorting).
    Bucket boundaries are exact doubles, so binning agrees cross-engine."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.width_bucket("o_totalprice", F.lit(0.0), F.lit(500000.0), F.lit(20)).alias(
                "bucket"
            )
        )
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total"))
        .orderBy("bucket")
    )


@query(
    "agg_hll_sketch",
    oracle="""
    SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS n_groups,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_total_du,
           TRUE AS merged_within_5pct
    FROM events
    """,
)
def agg_hll_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apache DataSketches HLL surface (Spark 3.5+): per-group hll_sketch_agg
    → binary sketches → hll_union_agg merges them → global estimate. The
    sketches are mergeable state — the 100 TB distinct-count pattern where
    per-partition/per-day sketches are stored and unioned later instead of
    re-scanning raw data. Sketch bytes are library-versioned, so the
    oracle is a BOUNDS CONTRACT (same pattern as agg_approx_distinct):
    exact global distinct (the anchor) + a boolean asserting the
    sketch-union estimate lands within 5% of it. The interesting property
    under test is that MERGED sketches still satisfy the bound — the
    mergeability guarantee the 100 TB pattern depends on."""
    ev = load_table(spark, sf_dir, "events")
    per_type = ev.groupBy("event_type").agg(F.hll_sketch_agg("user_id").alias("sk"))
    merged = per_type.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).cast("long").alias("merged_estimate"),
    )
    exact = ev.agg(F.countDistinct("user_id").cast("bigint").alias("exact_total_du"))
    return merged.crossJoin(F.broadcast(exact)).select(
        "n_groups",
        "exact_total_du",
        (
            F.abs(F.col("merged_estimate") - F.col("exact_total_du"))
            <= 0.05 * F.col("exact_total_du")
        ).alias("merged_within_5pct"),
    )


@query(
    "agg_countmin_sketch",
    oracle="""
    WITH h AS (
      SELECT user_id, d.d AS depth,
             CAST(('0x' || substring(md5('cm' || d.d || '-' || user_id), 1, 8))
               AS BIGINT) % 256 AS bucket
      FROM events, (SELECT unnest(generate_series(1, 4)) AS d) d
    ),
    counters AS (
      SELECT depth, bucket, count(*) AS c FROM h GROUP BY depth, bucket
    ),
    topk AS (
      SELECT user_id, count(*) AS exact_n FROM events
      GROUP BY user_id ORDER BY exact_n DESC, user_id LIMIT 5
    ),
    qh AS (
      SELECT t.user_id, t.exact_n, d.d AS depth,
             CAST(('0x' || substring(md5('cm' || d.d || '-' || t.user_id), 1, 8))
               AS BIGINT) % 256 AS bucket
      FROM topk t, (SELECT unnest(generate_series(1, 4)) AS d) d
    )
    SELECT q.user_id, CAST(q.exact_n AS BIGINT) AS exact_n,
           CAST(min(c.c) AS BIGINT) AS cm_estimate
    FROM qh q JOIN counters c ON q.depth = c.depth AND q.bucket = c.bucket
    GROUP BY q.user_id, q.exact_n ORDER BY q.user_id
    """,
)
def agg_countmin_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (Cormode/Muthukrishnan, public) built as pure
    DataFrame ops with an engine-independent hash family (md5-derived), so
    — unlike library sketches — the ENTIRE sketch, not just a bound, is
    value-verified cross-engine: DuckDB rebuilds the identical 4x256
    counter matrix and the identical point estimates.

    Shape: each row explodes into depth=4 (depth, bucket) cells (map-only
    4x fanout), counters = one groupBy over 1024 cells — constant-size
    state, the mergeable-sketch property that lets 100 TB of per-day
    sketches sum cell-wise instead of re-scanning. Point estimate for a
    key = min over its 4 counters (over-count only; est >= exact always,
    est <= exact + (e/256)N w.h.p.). The query reports the 5 heaviest
    users' exact counts next to their sketch estimates."""
    ev = load_table(spark, sf_dir, "events")
    depths = F.array(*[F.lit(i) for i in range(1, 5)])

    def cells(df, key):
        e = df.select(key, F.explode(depths).alias("depth"))
        bucket = (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("cm"), F.col("depth"), F.lit("-"), F.col(key))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            % 256
        )
        return e.select(key, "depth", bucket.alias("bucket"))

    counters = (
        cells(ev, "user_id")
        .groupBy("depth", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    topk = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.desc("exact_n"), "user_id")
        .limit(5)
    )
    qh = cells(topk, "user_id").join(topk, "user_id")
    return (
        qh.join(F.broadcast(counters), ["depth", "bucket"])
        .groupBy("user_id", "exact_n")
        .agg(F.min("c").cast("bigint").alias("cm_estimate"))
        .select("user_id", F.col("exact_n").cast("bigint").alias("exact_n"), "cm_estimate")
        .orderBy("user_id")
    )


@query(
    "agg_listagg",
    oracle="""
    SELECT n_regionkey, string_agg(n_name, ',' ORDER BY n_name) AS nations
    FROM nation GROUP BY n_regionkey ORDER BY n_regionkey
    """,
)
def agg_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation — listagg WITHIN GROUP (Spark 4) vs
    DuckDB string_agg(... ORDER BY): deterministic ordered concat per
    group."""
    return base_sql(
        spark, sf_dir, ["nation"],
        """
        SELECT n_regionkey,
               listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name) AS nations
        FROM nation GROUP BY n_regionkey ORDER BY n_regionkey
        """
    )


@query(
    "agg_percentile_exact",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.5)  AS p50,
           quantile_cont(l_quantity, 0.9)  AS p90,
           quantile_cont(l_extendedprice, 0.25) AS price_p25
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def agg_percentile_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT interpolated percentiles (vs the approx sketch in agg_stats) —
    both engines sort the same values and apply the same (1-f)·a + f·b
    interpolation, so results are bit-comparable. At 100 TB prefer
    percentile_approx; exact percentile is the small-group/final-report
    form."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.percentile("l_quantity", F.lit(0.5)).alias("p50"),
            F.percentile("l_quantity", F.lit(0.9)).alias("p90"),
            F.percentile("l_extendedprice", F.lit(0.25)).alias("price_p25"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "agg_regression",
    oracle="""
    SELECT l_returnflag,
           round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
           round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
           round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
           round(corr(l_extendedprice, l_quantity), 6) AS pearson,
           count(*) AS n
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def agg_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-regression aggregate family (regr_slope/intercept/r2 + corr)
    — one-pass distributed moments, rounded because the moment accumulation
    order differs across engines in the last ulps."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.regr_slope("l_extendedprice", "l_quantity"), 4).alias("slope"),
            F.round(F.regr_intercept("l_extendedprice", "l_quantity"), 4).alias("intercept"),
            F.round(F.regr_r2("l_extendedprice", "l_quantity"), 6).alias("r2"),
            F.round(F.corr("l_extendedprice", "l_quantity"), 6).alias("pearson"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "agg_grouping_id",
    oracle="""
    SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
           CAST(GROUPING(l_returnflag) AS BIGINT) AS g_rf,
           CAST(GROUPING(l_linestatus) AS BIGINT) AS g_ls,
           CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
           count(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    ORDER BY gid, rf, ls
    """,
)
def agg_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING()/GROUPING_ID() flags over a rollup — the standard way to
    tell a subtotal row's NULL from a data NULL. coalesce on the grouped
    columns plus the integer flags makes every output row self-describing
    (what level of the rollup it belongs to)."""
    return base_sql(
        spark, sf_dir, ["lineitem"],
        """
        SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
               CAST(grouping(l_returnflag) AS BIGINT) AS g_rf,
               CAST(grouping(l_linestatus) AS BIGINT) AS g_ls,
               CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT) AS gid,
               count(*) AS n
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
        ORDER BY gid, rf, ls
        """
    )


@query(
    "agg_boolean",
    oracle="""
    SELECT o_orderstatus,
           CAST(count_if(o_totalprice > 200000) AS BIGINT) AS n_big,
           bool_and(o_totalprice > 0) AS all_positive,
           bool_or(o_orderpriority = '1-URGENT') AS any_urgent,
           count(*) AS n
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def agg_boolean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregates (count_if / bool_and / bool_or) — predicate
    rollups in one pass instead of one filtered subquery per condition.
    All three partial-aggregate (AND/OR/sum are associative+commutative),
    so map-side combine applies at scale."""
    return base_sql(
        spark, sf_dir, ["orders"],
        """
        SELECT o_orderstatus,
               count_if(o_totalprice > 200000) AS n_big,
               bool_and(o_totalprice > 0) AS all_positive,
               bool_or(o_orderpriority = '1-URGENT') AS any_urgent,
               count(*) AS n
        FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
        """
    )


@query(
    "agg_bitmap_distinct",
    oracle="""
    SELECT event_type, count(DISTINCT user_id) AS du
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct counting via bitmap aggregates (Spark 3.5+):
    bitmap_bucket_number/bitmap_bit_position shard the id space into 32k-bit
    buckets, bitmap_construct_agg ORs positions per bucket, and
    sum(bitmap_count) totals them. Unlike count(DISTINCT) this partial-
    aggregates (bitmaps OR associatively), so map-side combine applies and
    the shuffle carries fixed-size bitmaps instead of every distinct id —
    the exact-answer analog of HLL for dense integer keys at 100 TB."""
    return spark.sql(
        """
        SELECT event_type, sum(bitmap_count(bm)) AS du
        FROM (
          SELECT event_type, bitmap_bucket_number(user_id) AS bucket,
                 bitmap_construct_agg(bitmap_bit_position(user_id)) AS bm
          FROM {events} GROUP BY 1, 2
        ) GROUP BY event_type ORDER BY event_type
        """,
        events=load_table(spark, sf_dir, "events"),
    )


@query(
    "agg_mode",
    oracle="""
    WITH c AS (
      SELECT l_returnflag, l_linenumber, count(*) AS c
      FROM lineitem GROUP BY 1, 2
    ), m AS (
      SELECT l_returnflag, max(c) AS mc FROM c GROUP BY 1
    ), t AS (
      SELECT l_returnflag, count(*) AS n_rows FROM lineitem GROUP BY 1
    )
    SELECT c.l_returnflag,
           CAST(min(c.l_linenumber) AS INT) AS mode_ln,
           min(t.n_rows) AS n_rows
    FROM c
    JOIN m ON c.l_returnflag = m.l_returnflag AND c.c = m.mc
    JOIN t ON c.l_returnflag = t.l_returnflag
    GROUP BY c.l_returnflag
    """,
)
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic MODE: Spark 4's ``mode(col, true)`` (deterministic
    flag -> lowest value among the most frequent); DuckDB's mode() breaks
    ties arbitrarily, so the oracle computes argmax-count + min-value in
    two phases — same contract, value-verified. Partial-aggregable on the
    Spark side (mode's update/merge is a count-map)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.expr("mode(l_linenumber, true)").cast("int").alias("mode_ln"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def _profile_sql(table: str, col: str) -> str:
    """One column's exact profile as DuckDB SQL (see stats_profile)."""
    return f"""
    SELECT '{col}' AS col,
           (SELECT count(*) FROM {table}) AS n,
           (SELECT CAST(count(*) - count({col}) AS BIGINT) FROM {table}) AS n_null,
           (SELECT count(DISTINCT {col}) FROM {table}) AS ndv,
           min(val) AS top_value, min(c) AS top_count
    FROM (
      SELECT CAST({col} AS VARCHAR) AS val, count(*) AS c
      FROM {table} GROUP BY 1
      QUALIFY c = max(c) OVER ()
    )
    """


@query(
    "stats_profile",
    oracle=" UNION ALL ".join(
        [
            _profile_sql("orders", "o_orderstatus"),
            _profile_sql("orders", "o_orderpriority"),
            _profile_sql("lineitem", "l_returnflag"),
        ]
    ),
)
def stats_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact data profiling (the deterministic cousin of df.summary()):
    per column — row count, null count, exact NDV, and the most frequent
    value with min-value tie-break. Each profile is two partial-aggregable
    passes; profiles for different columns run as one unioned job so the
    table is scanned once per source table, not once per metric. The mode
    is found by joining the 1-row broadcast max back onto the value
    histogram (not `max OVER ()`, which would funnel a large-NDV histogram
    through one window task)."""

    def profile(df: DataFrame, col: str) -> DataFrame:
        c = df.groupBy(F.col(col).cast("string").alias("val")).agg(
            F.count(F.lit(1)).alias("c")
        )
        mx = c.agg(F.max("c").alias("mc"))
        top = (
            c.crossJoin(F.broadcast(mx))
            .filter(F.col("c") == F.col("mc"))
            .agg(F.min("val").alias("top_value"), F.min("c").alias("top_count"))
        )
        stats = df.agg(
            F.count(F.lit(1)).alias("n"),
            (F.count(F.lit(1)) - F.count(col)).alias("n_null"),
            F.countDistinct(col).alias("ndv"),
        )
        return stats.crossJoin(top).select(
            F.lit(col).alias("col"), "n", "n_null", "ndv", "top_value", "top_count"
        )

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    from functools import reduce

    parts = [
        profile(o, "o_orderstatus"),
        profile(o, "o_orderpriority"),
        profile(li, "l_returnflag"),
    ]
    return reduce(lambda a, b: a.union(b), parts)


@query(
    "stats_key_skew",
    oracle="""
    WITH g AS (SELECT user_id, count(*) AS sz FROM events GROUP BY user_id),
    t AS (SELECT CAST(sum(sz) AS BIGINT) AS total, count(*) AS n_keys,
                 max(sz) AS max_sz,
                 quantile_cont(sz, 0.5) AS p50, quantile_cont(sz, 0.99) AS p99
          FROM g)
    SELECT n_keys, total, max_sz, p50, p99,
           max_sz * 1.0 / total AS top_key_share,
           p99 / p50 AS skew_ratio
    FROM t
    """,
)
def stats_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key SKEW DIAGNOSTICS: the numbers that decide whether a join
    or aggregation on this key needs salting / AQE skew handling — key
    count, max partition-key size, p50/p99 of group sizes, top-key share.
    Companion to `join_skew_salted` / `agg_skew_twophase`: run this first,
    salt only when skew_ratio says so. Exact percentiles over integer
    group sizes; one rollup pass + one tiny global aggregate."""
    ev = load_table(spark, sf_dir, "events")
    g = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("sz"))
    return g.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("sz").alias("total"),
        F.max("sz").alias("max_sz"),
        F.expr("percentile(sz, 0.5)").alias("p50"),
        F.expr("percentile(sz, 0.99)").alias("p99"),
        (F.max("sz") * 1.0 / F.sum("sz")).alias("top_key_share"),
        (F.expr("percentile(sz, 0.99)") / F.expr("percentile(sz, 0.5)")).alias(
            "skew_ratio"
        ),
    )


@query(
    "agg_empty_input",
    oracle="""
    SELECT count(*) AS n, coalesce(CAST(sum(l_quantity) AS DOUBLE), -1.0) AS s,
           coalesce(CAST(max(l_orderkey) AS BIGINT), -1) AS mx,
           coalesce(CAST(avg(l_discount) AS DOUBLE), -1.0) AS a
    FROM lineitem WHERE l_orderkey < 0
    """,
)
def agg_empty_input(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empty-input aggregate semantics, pinned: a GLOBAL aggregate over
    zero rows returns exactly ONE row — count 0, sum/max/avg NULL
    (coalesced to sentinels for the hash compare). The grouped form would
    return zero rows instead; conflating the two is a classic migration
    bug. Also exercises pushdown of an always-false key predicate."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_orderkey") < 0).agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum("l_quantity"), F.lit(-1.0)).alias("s"),
        F.coalesce(F.max("l_orderkey"), F.lit(-1)).alias("mx"),
        F.coalesce(F.avg("l_discount"), F.lit(-1.0)).alias("a"),
    )


@query(
    "stats_benford",
    oracle="""
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
                  AS INT) AS digit
      FROM orders WHERE o_totalprice >= 1
    ), c AS (
      SELECT digit, count(*) AS n FROM d GROUP BY digit
    ), t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c)
    SELECT digit, n, n * 1.0 / t.total AS observed,
           round(log10(1 + 1.0 / digit), 4) AS benford_expected
    FROM c CROSS JOIN t
    """,
)
def stats_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit on order totals — the forensic
    data-quality screen for fabricated or truncated numeric columns.
    Observed shares are exact (integer counts, one division); the Benford
    expectation log10(1+1/d) is the only libm value, rounded to 4 dp.
    (Synthetic uniform-ish prices will FAIL Benford — that disagreement is
    the point of the audit.)"""
    o = load_table(spark, sf_dir, "orders")
    digit = (
        F.substring(
            F.floor(F.col("o_totalprice")).cast("bigint").cast("string"), 1, 1
        ).cast("int")
    )
    c = (
        o.filter(F.col("o_totalprice") >= 1)
        .groupBy(digit.alias("digit"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    t = c.agg(F.sum("n").alias("total"))
    return c.crossJoin(F.broadcast(t)).select(
        "digit", "n",
        (F.col("n") * 1.0 / F.col("total")).alias("observed"),
        F.round(F.log10(1 + 1.0 / F.col("digit")), 4).alias("benford_expected"),
    )


@query(
    "agg_product",
    oracle="""
    SELECT l_orderkey, product(CAST(l_linenumber AS DOUBLE)) AS line_product,
           count(*) AS n_lines
    FROM lineitem GROUP BY l_orderkey HAVING count(*) >= 4
    """,
)
def agg_product(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCT aggregate (the multiplicative fold missing from ANSI SQL's
    core set): per-order product of line numbers. Deterministic despite
    float representation because every partial product is a small exact
    integer (<= 7! = 5040 « 2^53) — double multiplication of exact ints
    is exact in any order, unlike float addition. Partial-aggregable
    (products merge by multiplying)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_orderkey")
        .agg(
            F.product(F.col("l_linenumber").cast("double")).alias("line_product"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .filter(F.col("n_lines") >= 4)
    )


@query(
    "dq_constraints",
    oracle="""
    SELECT
      (SELECT CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT)
       FROM orders) AS pk_dups,
      (SELECT count(*) FROM lineitem l
       WHERE NOT EXISTS (SELECT 1 FROM orders o
                         WHERE o.o_orderkey = l.l_orderkey)) AS fk_orphans,
      (SELECT count(*) FROM orders WHERE o_custkey IS NULL) AS null_custkeys,
      (SELECT count(*) FROM lineitem
       WHERE l_discount < 0 OR l_discount > 0.1) AS discount_domain,
      (SELECT count(*) FROM lineitem
       WHERE l_shipdate < TIMESTAMP '1995-01-01') AS early_ships
    """,
)
def dq_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint-validation suite (the CHECK/PK/FK layer immutable
    parquet doesn't enforce, run as a query): PK uniqueness, FK
    orphans (anti join), NOT NULL, numeric domain, and date sanity —
    one row of violation counts, all exact. The scheduled data-quality
    gate every ingest pipeline runs before publishing a partition."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    pk = o.agg(
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("pk_dups")
    )
    fk = (
        li.join(o, li.l_orderkey == o.o_orderkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("fk_orphans"))
    )
    nulls = o.agg(
        F.sum(F.col("o_custkey").isNull().cast("int")).cast("bigint").alias(
            "null_custkeys"
        )
    )
    dom = li.agg(
        F.sum(
            ((F.col("l_discount") < 0) | (F.col("l_discount") > 0.1)).cast("int")
        ).cast("bigint").alias("discount_domain"),
        F.sum(
            (F.col("l_shipdate") < F.lit("1995-01-01").cast("timestamp")).cast("int")
        ).cast("bigint").alias("early_ships"),
    )
    return pk.crossJoin(fk).crossJoin(nulls).crossJoin(dom)


@query(
    "dq_freshness",
    oracle="""
    WITH g AS (SELECT max(ts) AS latest FROM events),
    t AS (
      SELECT event_type, max(ts) AS type_latest, count(*) AS n
      FROM events GROUP BY event_type
    )
    SELECT t.event_type, t.n,
           CAST(epoch_us(g.latest) - epoch_us(t.type_latest) AS BIGINT)
             AS staleness_us,
           CAST(epoch_us(g.latest) - epoch_us(t.type_latest)
                > 86400000000 AS INT) AS stale_alarm
    FROM t CROSS JOIN g
    """,
)
def dq_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Freshness gate (the temporal half of `dq_constraints`): per
    partition/source (event type here), how far its newest record lags
    the dataset's global high-water mark, alarming past 1 day — the check
    that catches a silently-stalled upstream feed before consumers read
    stale data. Integer µs arithmetic; two tiny rollups."""
    from backup_repo_spark.session import load_events

    ev = load_events(spark, sf_dir)
    g = ev.agg(F.max("ts").alias("latest"))
    t = ev.groupBy("event_type").agg(
        F.max("ts").alias("type_latest"), F.count(F.lit(1)).alias("n")
    )
    stale = F.unix_micros("latest") - F.unix_micros("type_latest")
    return t.crossJoin(F.broadcast(g)).select(
        "event_type", "n",
        stale.cast("bigint").alias("staleness_us"),
        (stale > 86400000000).cast("int").alias("stale_alarm"),
    )


@query(
    "stats_power_law",
    oracle="""
    WITH g AS (SELECT user_id, count(*) AS x FROM events GROUP BY user_id),
    m AS (SELECT min(x) AS xmin FROM g)
    SELECT count(*) AS n_users, m.xmin,
           round(1.0 + count(*) / sum(ln(g.x * 1.0 / m.xmin)), 4) AS alpha_hill
    FROM g CROSS JOIN m
    GROUP BY m.xmin
    """,
)
def stats_power_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-tail characterization: Hill maximum-likelihood estimate of
    the power-law exponent for per-user activity, alpha = 1 + n/Σln(x/xmin)
    — the number that says whether a 'top user' is 10x or 10000x the
    median, which in turn decides skew-handling strategy (see
    stats_key_skew). ln-sum rounded per the float-aggregate policy."""
    ev = load_table(spark, sf_dir, "events")
    g = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("x"))
    m = g.agg(F.min("x").alias("xmin"))
    return (
        g.crossJoin(F.broadcast(m))
        .groupBy("xmin")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.round(
                1.0 + F.count(F.lit(1)) / F.sum(F.log(F.col("x") * 1.0 / F.col("xmin"))),
                4,
            ).alias("alpha_hill"),
        )
        .select("n_users", "xmin", "alpha_hill")
    )


# The declared schema contract for every catalog table (FIXTURES.md).
# Written out literally — the point is to pin expectations, not echo
# whatever the files currently contain.
_SCHEMA_CONTRACT: list[tuple[str, str, str]] = [
    ("region", "r_regionkey", "int"), ("region", "r_name", "string"),
    ("nation", "n_nationkey", "int"), ("nation", "n_name", "string"),
    ("nation", "n_regionkey", "int"),
    ("customer", "c_custkey", "bigint"), ("customer", "c_name", "string"),
    ("customer", "c_nationkey", "int"), ("customer", "c_acctbal", "double"),
    ("customer", "c_mktsegment", "string"),
    ("supplier", "s_suppkey", "bigint"), ("supplier", "s_name", "string"),
    ("supplier", "s_nationkey", "int"), ("supplier", "s_acctbal", "double"),
    ("part", "p_partkey", "bigint"), ("part", "p_name", "string"),
    ("part", "p_brand", "string"), ("part", "p_type", "string"),
    ("part", "p_size", "int"), ("part", "p_retailprice", "double"),
    ("orders", "o_orderkey", "bigint"), ("orders", "o_custkey", "bigint"),
    ("orders", "o_orderstatus", "string"), ("orders", "o_totalprice", "double"),
    ("orders", "o_orderdate", "timestamp_ntz"),
    ("orders", "o_orderpriority", "string"),
    ("lineitem", "l_orderkey", "bigint"), ("lineitem", "l_partkey", "bigint"),
    ("lineitem", "l_suppkey", "bigint"), ("lineitem", "l_linenumber", "int"),
    ("lineitem", "l_quantity", "double"),
    ("lineitem", "l_extendedprice", "double"),
    ("lineitem", "l_discount", "double"), ("lineitem", "l_tax", "double"),
    ("lineitem", "l_returnflag", "string"),
    ("lineitem", "l_linestatus", "string"),
    ("lineitem", "l_shipdate", "timestamp_ntz"),
    ("events", "event_id", "bigint"), ("events", "ts", "timestamp"),
    ("events", "user_id", "bigint"), ("events", "event_type", "string"),
    ("events", "value", "double"), ("events", "props", "string"),
    ("documents", "doc_id", "bigint"), ("documents", "text", "string"),
    ("documents", "lang", "string"), ("documents", "source", "string"),
    ("documents", "n_chars", "bigint"),
    ("embeddings", "vec_id", "bigint"),
    ("embeddings", "embedding", "array<float>"),
    ("embeddings", "label", "int"),
]

_SCHEMA_CONTRACT_VALUES = ",\n      ".join(
    f"('{t}', '{c}', '{ty}')" for t, c, ty in _SCHEMA_CONTRACT
)


@query(
    "dq_schema_contract",
    oracle=f"""
    SELECT * FROM (VALUES
      {_SCHEMA_CONTRACT_VALUES}
    ) AS t(table_name, column_name, declared_type)
    ORDER BY table_name, column_name
    """,
)
def dq_schema_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-contract gate (the third leg of the dq family next to
    `dq_constraints` and `dq_freshness`): the ACTUAL (table, column,
    type) triples of every catalog table, compared against the literally
    declared contract. Upstream schema drift — a widened int, a renamed
    column, a timestamp precision change — is the classic silent killer
    of nightly pipelines; this turns it into a red gate BEFORE any
    consumer reads bad data. Metadata-only: reads footers, never rows —
    free at any corpus size. The events `ts` contract is 'timestamp'
    as normalized by the loader, whatever physical precision the files
    carry (NANOS testdata, MICROS elsewhere — both branches covered in
    tests)."""
    from backup_repo_spark.session import TABLES, load_table

    rows = []
    for t in TABLES:
        for c, dt in load_table(spark, sf_dir, t).dtypes:
            rows.append((t, c, dt))
    return spark.createDataFrame(
        rows, "table_name STRING, column_name STRING, declared_type STRING"
    ).orderBy("table_name", "column_name")


@query(
    "dq_volume_profile",
    oracle="""
    SELECT 'customer' AS table_name, CAST(count(*) AS BIGINT) AS n FROM customer
    UNION ALL SELECT 'orders', count(*) FROM orders
    UNION ALL SELECT 'lineitem', count(*) FROM lineitem
    UNION ALL SELECT 'events', count(*) FROM events
    UNION ALL SELECT 'documents', count(*) FROM documents
    UNION ALL SELECT 'embeddings', count(*) FROM embeddings
    ORDER BY table_name
    """,
)
def dq_volume_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume gate: exact row counts per fact/dim table — the cheapest
    and highest-yield nightly check (a half-empty partition, a doubled
    ingest, a truncated upload all show up here first). Counts come from
    parquet row-group metadata via count(*) pushdown — no data read."""
    from backup_repo_spark.session import load_table

    parts = []
    for t in ["customer", "orders", "lineitem", "events", "documents", "embeddings"]:
        parts.append(
            load_table(spark, sf_dir, t).agg(
                F.lit(t).alias("table_name"),
                F.count(F.lit(1)).cast("bigint").alias("n"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("table_name")


@query(
    "dq_outlier_iqr",
    oracle="""
    WITH q AS (
      SELECT o_orderpriority AS prio,
             count(*) AS n,
             quantile_cont(o_totalprice, 0.25) AS q1,
             quantile_cont(o_totalprice, 0.75) AS q3
      FROM orders GROUP BY 1
    )
    SELECT q.prio, q.n,
           round(q.q1, 4) AS q1_r4, round(q.q3, 4) AS q3_r4,
           count(*) FILTER (
             WHERE o.o_totalprice < q.q1 - 1.5 * (q.q3 - q.q1)
                OR o.o_totalprice > q.q3 + 1.5 * (q.q3 - q.q1)
           ) AS n_outliers,
           count(*) FILTER (
             WHERE o.o_totalprice < q.q1 - 1.5 * (q.q3 - q.q1)
                OR o.o_totalprice > q.q3 + 1.5 * (q.q3 - q.q1)
           ) * 1000000 // q.n AS outlier_ppm
    FROM orders o JOIN q ON o.o_orderpriority = q.prio
    GROUP BY q.prio, q.n, q.q1, q.q3
    """,
)
def dq_outlier_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier gate per group: exact interpolated quartiles
    (same convention both engines — the agg_percentile_exact recipe), then
    integer counts outside [q1 − 1.5·IQR, q3 + 1.5·IQR] and the rate in
    ppm — the numeric-column sibling of dq_volume_profile's row-count
    checks. Fences are IEEE basic ops on bit-identical quartiles, so the
    boundary comparisons agree cross-engine.

    Scale: exact quartiles need a per-group sort — fine for gate-sized
    groups; at 100 TB swap percentile_approx into the same plan (the
    fence-count join is a broadcast of |groups| rows either way)."""
    o = load_table(spark, sf_dir, "orders")
    q = o.groupBy(F.col("o_orderpriority").alias("prio")).agg(
        F.count(F.lit(1)).alias("n"),
        F.percentile("o_totalprice", F.lit(0.25)).alias("q1"),
        F.percentile("o_totalprice", F.lit(0.75)).alias("q3"),
    )
    j = o.join(F.broadcast(q), o.o_orderpriority == q.prio)
    iqr = F.col("q3") - F.col("q1")
    is_out = (F.col("o_totalprice") < F.col("q1") - 1.5 * iqr) | (
        F.col("o_totalprice") > F.col("q3") + 1.5 * iqr
    )
    return (
        j.groupBy("prio", "n", "q1", "q3")
        .agg(F.sum(is_out.cast("long")).alias("n_outliers"))
        .select(
            "prio", "n",
            F.round("q1", 4).alias("q1_r4"),
            F.round("q3", 4).alias("q3_r4"),
            "n_outliers",
            F.expr("n_outliers * 1000000 DIV n").alias("outlier_ppm"),
        )
    )
