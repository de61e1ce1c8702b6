"""Join operators — SURVEY.md §2.B rows B9–B19.

Reference parity: Astro delegated joins entirely to Spark SQL 1.4 (broadcast
vs shuffle chosen by ``autoBroadcastJoinThreshold``); its scan layer fed them.
Here each join algorithm is pinned explicitly with hints where the algorithm
IS the point (B9–B11); elsewhere AQE + broadcast thresholds choose.

Scale notes (100 TB):
- Dimension tables (region 5, nation 25, supplier, part, customer at dim-ish
  cardinality) are broadcast — zero shuffle of the fact table for star joins.
- Fact⋈fact (lineitem⋈orders) is a shuffle on the join key; AQE handles
  skew-splitting. At 100 TB you'd bucket both tables on the key to make this
  shuffle-free; `sources/layout.py` demonstrates the bucketed layout.
- The as-of join is a union+window merge (single shuffle, no BNLJ) — the
  formulation that scales to billions of rows, unlike a correlated-subquery
  or nested-loop translation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from backup_repo_spark.registry import query
from backup_repo_spark.session import load_events, load_table


@query(
    "join_broadcast",
    oracle="""
    SELECT c_mktsegment, count(*) AS n_orders, round(sum(o_totalprice), 2) AS total
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B9: broadcast-hash inner equi join — the dim side ships to every
    executor; the fact side never shuffles for the join."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "inner")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_orders"), F.round(F.sum("o_totalprice"), 2).alias("total"))
        .orderBy("c_mktsegment")
    )


@query(
    "join_sortmerge",
    oracle="""
    SELECT o_orderstatus, count(*) AS n, round(sum(l_extendedprice), 2) AS total
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def join_sortmerge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B10: sort-merge join pinned via hint — the fact⋈fact algorithm of
    choice at scale (spillable, skew-splittable by AQE)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").hint("merge")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("l_extendedprice"), 2).alias("total"))
        .orderBy("o_orderstatus")
    )


@query(
    "join_shufflehash",
    oracle="""
    SELECT p_type, count(*) AS n, round(sum(l_quantity), 2) AS qty
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_type ORDER BY p_type
    """,
)
def join_shufflehash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B11: shuffled-hash join pinned via hint (no sort; build side hashed
    per partition — wins when one side is much smaller per key)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").hint("shuffle_hash")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("l_quantity"), 2).alias("qty"))
        .orderBy("p_type")
    )


@query(
    "join_outer",
    oracle="""
    SELECT coalesce(l.o_custkey, r.o_custkey) AS custkey,
           coalesce(l.n_open, 0) AS n_open, coalesce(r.n_closed, 0) AS n_closed
    FROM (SELECT o_custkey, count(*) AS n_open FROM orders
          WHERE o_orderstatus = 'O' GROUP BY o_custkey) l
    FULL OUTER JOIN
         (SELECT o_custkey, count(*) AS n_closed FROM orders
          WHERE o_orderstatus = 'F' GROUP BY o_custkey) r
    ON l.o_custkey = r.o_custkey
    """,
)
def join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B12: full outer join with unmatched rows on both sides; NULL-producing
    columns coalesced to sentinels (FIXTURES.md hazard #3)."""
    o = load_table(spark, sf_dir, "orders")
    left = o.filter(F.col("o_orderstatus") == "O").groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n_open"))
    right = (
        o.filter(F.col("o_orderstatus") == "F")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_closed"))
        .withColumnRenamed("o_custkey", "r_custkey")
    )
    return left.join(right, left.o_custkey == right.r_custkey, "full_outer").select(
        F.coalesce("o_custkey", "r_custkey").alias("custkey"),
        F.coalesce("n_open", F.lit(0)).alias("n_open"),
        F.coalesce("n_closed", F.lit(0)).alias("n_closed"),
    )


@query(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_mktsegment FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B13: left semi join (EXISTS) — emits each left row at most once."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_mktsegment")


@query(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_nationkey FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B14: left anti join (NOT EXISTS) — customers with no orders."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_nationkey")


@query(
    "join_theta",
    oracle="""
    SELECT n1.n_regionkey AS region, count(*) AS pairs,
           min(n1.n_name || '-' || n2.n_name) AS first_pair
    FROM nation n1 JOIN nation n2
      ON n1.n_regionkey = n2.n_regionkey AND n1.n_nationkey < n2.n_nationkey
    GROUP BY n1.n_regionkey ORDER BY region
    """,
)
def join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B15: theta join — equi component + non-equi residual (n1.key < n2.key).
    Catalyst plans the equi part as the join key and evaluates the residual
    post-match, avoiding a full cartesian product."""
    n1 = load_table(spark, sf_dir, "nation").alias("n1")
    n2 = load_table(spark, sf_dir, "nation").alias("n2")
    return (
        n1.join(
            n2,
            (F.col("n1.n_regionkey") == F.col("n2.n_regionkey"))
            & (F.col("n1.n_nationkey") < F.col("n2.n_nationkey")),
        )
        .groupBy(F.col("n1.n_regionkey").alias("region"))
        .agg(
            F.count(F.lit(1)).alias("pairs"),
            F.min(F.concat_ws("-", "n1.n_name", "n2.n_name")).alias("first_pair"),
        )
        .orderBy("region")
    )


@query(
    "join_cross",
    oracle="""
    SELECT r_name, s.o_orderstatus
    FROM region CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) s
    """,
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B16: explicit cross join (both sides tiny — the only sane use)."""
    r = load_table(spark, sf_dir, "region").select("r_name")
    s = load_table(spark, sf_dir, "orders").select("o_orderstatus").distinct()
    return r.crossJoin(s)


@query(
    "join_star_5way",
    oracle="""
    SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name ORDER BY revenue DESC, n_name
    """,
)
def join_star_5way(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B17: TPC-H Q5-style 6-table star join.

    r14 join-order fix (guide §3.1, measured by the retired
    headline_shapes_probe, README "Retired probes"): the old ``c⋈o``
    -first order made
    Catalyst's size estimate for the joined side blow past the broadcast
    threshold, so the planner picked LINEITEM — the fact table — as the
    broadcast build (600k rows x 4 cols, a 0.34 s single-thread hash
    build on the critical path; plans/r13/join_star_5way_r13.txt node
    13). Reordered ``li⋈o⋈c⋈s⋈n⋈r`` the fact table streams through one
    codegen stage and every build side is a base table whose broadcast
    is THRESHOLD-GOVERNED (no hint on scale-growing tables: at cluster
    scale orders/customer/supplier exceed the threshold and the planner
    falls back to shuffle joins — the canonical Q5 plan). Only the
    cardinality-bounded dims (nation 25, region 5) keep explicit hints.
    Inner-join reorder + same predicates → identical results (equality
    asserted at sf0.01/sf0.1 by the probe, rows AND order). Final
    ≤25-row total order is a SinglePartition sort (coalesce(1), §2.4).
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, F.col("l_orderkey") == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, (F.col("l_suppkey") == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .coalesce(1)
        .orderBy(F.desc("revenue"), "n_name")
    )


@query(
    "join_asof",
    oracle="""
    SELECT p.event_id AS purchase_id, p.user_id,
           coalesce(strftime(max(c.ts), '%Y-%m-%d %H:%M:%S'), 'none') AS last_click_s
    FROM events p LEFT JOIN events c
      ON c.user_id = p.user_id AND c.event_type = 'click' AND c.ts <= p.ts
    WHERE p.event_type = 'purchase'
    GROUP BY p.event_id, p.user_id
    """,
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B18: as-of join — for each purchase, the latest click of the same user
    at-or-before its timestamp.

    Spark-first formulation: union both sides, one window pass carrying the
    last click timestamp forward (running ``last(..., ignorenulls)``) — a
    single shuffle on user_id, O(n log n) within partitions. This is the
    merge-style plan that scales; the oracle's join+max formulation is
    quadratic and exists only for verification.
    """
    ev = load_events(spark, sf_dir).select("event_id", "user_id", "ts", "event_type")
    clicks = ev.filter(F.col("event_type") == "click").withColumn("kind", F.lit(0))
    purchases = ev.filter(F.col("event_type") == "purchase").withColumn("kind", F.lit(1))
    # kind=0 sorts before kind=1 at equal ts, so a click at exactly the
    # purchase ts is visible (<= semantics).
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = clicks.unionByName(purchases).withColumn(
        "last_click_ts",
        F.last(F.when(F.col("kind") == 0, F.col("ts")), ignorenulls=True).over(w),
    )
    return merged.filter(F.col("kind") == 1).select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.coalesce(F.date_format("last_click_ts", "yyyy-MM-dd HH:mm:ss"), F.lit("none")).alias(
            "last_click_s"
        ),
    )


@query(
    "join_interval",
    oracle="""
    SELECT a.event_id AS id_a, b.event_id AS id_b, a.user_id
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND b.ts > a.ts
     AND b.ts <= a.ts + INTERVAL 1 DAY
    """,
)
def join_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B19: interval/range self-join — pairs of events by the same user within
    one day. Equi key (user_id) + range residual: Catalyst joins on user_id
    and filters the band, so no cartesian blowup; at 100 TB you'd additionally
    bucket by user_id and date to bound the band per partition."""
    a = load_events(spark, sf_dir).select(
        F.col("event_id").alias("id_a"), F.col("user_id"), F.col("ts").alias("ts_a")
    )
    b = load_events(spark, sf_dir).select(
        F.col("event_id").alias("id_b"), F.col("user_id").alias("user_b"), F.col("ts").alias("ts_b")
    )
    return a.join(
        b,
        (F.col("user_id") == F.col("user_b"))
        & (F.col("ts_b") > F.col("ts_a"))
        & (F.col("ts_b") <= F.col("ts_a") + F.expr("INTERVAL 1 DAY")),
    ).select("id_a", "id_b", "user_id")


@query(
    "join_null_safe",
    oracle="""
    WITH c AS (SELECT nullif(o_orderpriority, '3-MEDIUM') AS k, count(*) AS n
               FROM orders GROUP BY 1),
         d AS (SELECT DISTINCT nullif(o_orderpriority, '3-MEDIUM') AS k FROM orders)
    SELECT coalesce(d.k, 'missing') AS label, n
    FROM c JOIN d ON c.k IS NOT DISTINCT FROM d.k
    ORDER BY label
    """,
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi join (<=> / IS NOT DISTINCT FROM): NULL keys match
    each other instead of vanishing. One priority is nulled-out on both
    sides; the 'missing' row in the output exists ONLY if the join is
    null-safe. eqNullSafe keys still hash-partition (NULLs co-locate in
    one partition), so the join stays a hash/merge join at scale — no
    fallback to nested-loop."""
    o = load_table(spark, sf_dir, "orders").withColumn(
        "k", F.expr("nullif(o_orderpriority, '3-MEDIUM')")
    )
    counts = o.groupBy("k").agg(F.count(F.lit(1)).alias("n")).alias("c")
    dim = o.select("k").distinct().alias("d")
    return (
        counts.join(dim, F.col("c.k").eqNullSafe(F.col("d.k")))
        .select(F.coalesce(F.col("d.k"), F.lit("missing")).alias("label"), "n")
        .orderBy("label")
    )


@query(
    "join_asof_nearest",
    oracle="""
    WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
    c AS (SELECT * FROM events WHERE event_type = 'click'),
    cand AS (
      SELECT p.event_id AS purchase_id, c.event_id AS click_id,
             abs(epoch_us(c.ts) - epoch_us(p.ts)) AS abs_us, c.ts AS cts
      FROM p JOIN c ON c.user_id = p.user_id
       AND abs(epoch_us(c.ts) - epoch_us(p.ts)) <= 6::BIGINT * 3600000000
    ), r AS (
      SELECT purchase_id, click_id, abs_us,
             row_number() OVER (
               PARTITION BY purchase_id ORDER BY abs_us, cts, click_id) AS rn
      FROM cand
    )
    SELECT purchase_id, click_id AS nearest_click, abs_us
    FROM r WHERE rn = 1
    """,
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided NEAREST as-of join: for each purchase event, the same
    user's click event minimally distant in time within a +/-6 h tolerance
    (ties -> earlier click, then event_id). Complements `join_asof`
    (backward-only) with the bidirectional-tolerance variant.

    Plan shape: the user-key equality makes this a hash/sort-merge join
    with the time tolerance as a residual filter — never a nested-loop
    pair scan — then one per-purchase window pass picks the winner. All
    integer microsecond arithmetic (testdata ts values are exact us)."""
    ev = load_events(spark, sf_dir)
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.unix_micros("ts").alias("p_us"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("cts"),
        F.unix_micros("ts").alias("c_us"),
    )
    abs_us = F.abs(F.col("c_us") - F.col("p_us"))
    cand = p.join(
        c,
        (F.col("c_user") == F.col("p_user"))
        & (abs_us <= F.lit(6 * 3600000000)),
    ).select("purchase_id", "click_id", abs_us.alias("abs_us"), "cts")
    rn = F.row_number().over(
        Window.partitionBy("purchase_id").orderBy("abs_us", "cts", "click_id")
    )
    return (
        cand.withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select("purchase_id", F.col("click_id").alias("nearest_click"), "abs_us")
    )


@query(
    "join_nonequi_bnlj",
    oracle="""
    WITH bands(band, lo, hi) AS (VALUES
      ('budget',   0.0,    933.0),
      ('mid',      933.0,  966.0),
      ('premium',  966.0,  100000.0))
    SELECT band, count(*) AS n_parts,
           CAST(sum(p_size) AS BIGINT) AS size_sum
    FROM part JOIN bands ON p_retailprice >= lo AND p_retailprice < hi
    GROUP BY band
    """,
)
def join_nonequi_bnlj(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure non-equi join (price-band bucketing): NO equality component,
    so the only plan is BroadcastNestedLoopJoin — which is the CORRECT
    plan exactly when one side is a handful of rows (each fact row scans
    3 bands in-memory). The complementary case — band join against a
    LARGE band table — ships as `join_range_banded` (bucketed equi-join
    rewrite). Together they document the decision boundary."""
    p = load_table(spark, sf_dir, "part")
    bands = spark.createDataFrame(
        [("budget", 0.0, 933.0), ("mid", 933.0, 966.0),
         ("premium", 966.0, 100000.0)],
        schema="band string, lo double, hi double",
    )
    return (
        p.join(
            F.broadcast(bands),
            (F.col("p_retailprice") >= F.col("lo"))
            & (F.col("p_retailprice") < F.col("hi")),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("p_size").cast("bigint").alias("size_sum"),
        )
    )


@query(
    "mba_part_pairs",
    oracle="""
    WITH b AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), pairs AS (
      SELECT a.l_partkey AS p1, b2.l_partkey AS p2, count(*) AS together
      FROM b a JOIN b b2
        ON a.l_orderkey = b2.l_orderkey AND a.l_partkey < b2.l_partkey
      GROUP BY 1, 2
    ), freq AS (
      SELECT l_partkey, count(*) AS n FROM b GROUP BY 1
    ), tot AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM b)
    SELECT p1, p2, together,
           together * tot.n_orders * 1.0 / (f1.n * f2.n) AS lift
    FROM pairs CROSS JOIN tot
    JOIN freq f1 ON p1 = f1.l_partkey
    JOIN freq f2 ON p2 = f2.l_partkey
    WHERE together >= 3
    ORDER BY lift DESC, p1, p2 LIMIT 25
    """,
)
def mba_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair mining: parts co-ordered in the same order, with
    lift = P(p1,p2) / (P(p1)P(p2)) over exact integer counts (one IEEE
    division — bit-identical, same construction as `llm_collocations`).
    The basket self-join is keyed on l_orderkey, so its cost is bounded by
    the square of the largest basket (~7 lines), not the table; the
    support>=3 filter prunes before the lift join. At 100 TB this is the
    candidate-generation stage of association-rule mining, unchanged."""
    li = load_table(spark, sf_dir, "lineitem")
    b = li.select("l_orderkey", "l_partkey").distinct()
    a, b2 = b.alias("a"), b.alias("b2")
    pairs = (
        a.join(
            b2,
            (F.col("a.l_orderkey") == F.col("b2.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b2.l_partkey")),
        )
        .groupBy(F.col("a.l_partkey").alias("p1"), F.col("b2.l_partkey").alias("p2"))
        .agg(F.count(F.lit(1)).alias("together"))
        .filter(F.col("together") >= 3)
    )
    freq = b.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n"))
    tot = b.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    return (
        pairs.crossJoin(F.broadcast(tot))
        .join(F.broadcast(freq.alias("f1")), F.col("p1") == F.col("f1.l_partkey"))
        .join(F.broadcast(freq.alias("f2")), F.col("p2") == F.col("f2.l_partkey"))
        .select(
            "p1", "p2", "together",
            (
                F.col("together") * F.col("n_orders") * 1.0
                / (F.col("f1.n") * F.col("f2.n"))
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "p1", "p2")
        .limit(25)
    )


@query(
    "join_asof_tolerance",
    oracle="""
    WITH clicks AS (
      SELECT user_id, ts FROM events WHERE event_type = 'click'
    ),
    purchases AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ),
    matched AS (
      SELECT p.event_id, p.user_id, p.ts,
             max(c.ts) AS last_click_ts
      FROM purchases p LEFT JOIN clicks c
        ON c.user_id = p.user_id AND c.ts <= p.ts
      GROUP BY p.event_id, p.user_id, p.ts
    )
    SELECT event_id AS purchase_id, user_id,
           CASE WHEN last_click_ts IS NOT NULL
                 AND date_diff('second', last_click_ts, ts) <= 3600
                THEN CAST(date_diff('second', last_click_ts, ts) AS BIGINT)
           END AS gap_s,
           CASE WHEN last_click_ts IS NOT NULL
                 AND date_diff('second', last_click_ts, ts) <= 3600
                THEN 1 ELSE 0 END AS within_tolerance
    FROM matched
    """,
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join WITH TOLERANCE (pandas merge_asof's `tolerance`
    parameter): each purchase matches its latest preceding click only if
    the gap is <= 1 hour — stale matches are nulled, the attribution-
    window semantics ad systems bill on. Same single-shuffle union+window
    plan as join_asof (the merge-style formulation that scales); the
    tolerance is one stateless CASE after the carry-forward, so the scale
    shape is unchanged. Gap in exact integer seconds; the oracle's
    join+max formulation is quadratic and exists only for verification."""
    ev = load_events(spark, sf_dir).select("event_id", "user_id", "ts", "event_type")
    clicks = ev.filter(F.col("event_type") == "click").withColumn("kind", F.lit(0))
    purchases = ev.filter(F.col("event_type") == "purchase").withColumn(
        "kind", F.lit(1)
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = clicks.unionByName(purchases).withColumn(
        "last_click_ts",
        F.last(F.when(F.col("kind") == 0, F.col("ts")), ignorenulls=True).over(w),
    )
    gap = F.unix_timestamp("ts") - F.unix_timestamp("last_click_ts")
    ok = F.col("last_click_ts").isNotNull() & (gap <= 3600)
    return merged.filter(F.col("kind") == 1).select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.when(ok, gap).alias("gap_s"),
        ok.cast("int").alias("within_tolerance"),
    )


@query(
    "join_bloom_filtered",
    oracle="""
    SELECT o_orderpriority, count(*) AS n,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS rev
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY o_orderpriority
    """,
)
def join_bloom_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime Bloom-filter join reduction — the scale path for a
    fact x selectively-filtered dim join where the dim is TOO BIG to
    broadcast (the 100 TB case autoBroadcastJoinThreshold can't save).

    Spark's InjectRuntimeFilter plants a BloomFilterAggregate over the
    filtered orders keys and a might_contain() probe on the lineitem scan
    side, so ~80% of fact rows die BEFORE the join shuffle — shuffled
    bytes drop by the dim filter's selectivity, the same reduction a
    semi-join pre-pass buys but with no extra shuffle.  Injection demands
    a probably-shuffled join, so the key runs in an isolated newSession()
    (broadcast disabled + app-side scan threshold 0 to model the 100 TB
    size ratios at test SF) — session isolation keeps those confs from
    leaking into other registry keys.  tests/test_plans.py asserts the
    bloom_filter_agg / might_contain pair in the physical plan."""
    s2 = spark.newSession()
    s2.conf.set("spark.sql.session.timeZone", "UTC")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "0",
    )
    li = s2.read.parquet(f"{sf_dir}/lineitem.parquet")
    o = s2.read.parquet(f"{sf_dir}/orders.parquet").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("rev"),
        )
    )
