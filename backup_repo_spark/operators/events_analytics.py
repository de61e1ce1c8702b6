"""Event-analytics operators: ordered funnel, cohort retention, blocked
fuzzy matching — the OLAP workloads an events table exists for. All are
Spark-SQL/DataFrame compositions (no reference analog; Astro's SQL surface
could express them but shipped no such library — SURVEY.md §2.B scope).

Scale notes:
- funnel: one conditional-aggregation pass per user (partial-agg friendly:
  150 users here, millions at scale — the groupBy key is the user, so state
  is one row per user, not per event).
- retention: two aggregations sharing the user-day grain; the distinct
  (user, day) projection collapses the event volume FIRST, so the heavy
  input is reduced before any join.
- fuzzy join: levenshtein inside a block is O(block²); the block key
  (name prefix) bounds the pair space exactly like an LSH band — never run
  edit distance on the unblocked cross product at 100 TB.

Timestamp hazard (SURVEY.md §7.0): events.ts is TIMESTAMP(NANOS); the
engine reads µs via load_events, DuckDB reads ns. Testdata ts values are
exact µs, so ordering/equality agree; only raw sub-second ts is never
projected.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from backup_repo_spark.registry import query
from backup_repo_spark.session import base_sql, load_events, load_table


@query(
    "events_funnel",
    oracle="""
    WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
                WHERE event_type = 'signup' GROUP BY user_id),
         s2 AS (SELECT e.user_id, min(e.ts) AS t2
                FROM events e JOIN s1 ON e.user_id = s1.user_id
                WHERE e.event_type = 'view' AND e.ts > s1.t1
                GROUP BY e.user_id),
         s3 AS (SELECT e.user_id, min(e.ts) AS t3
                FROM events e JOIN s2 ON e.user_id = s2.user_id
                WHERE e.event_type = 'purchase' AND e.ts > s2.t2
                GROUP BY e.user_id)
    SELECT 'step1_signup' AS step, count(*) AS n_users FROM s1
    UNION ALL SELECT 'step2_view', count(*) FROM s2
    UNION ALL SELECT 'step3_purchase', count(*) FROM s3
    ORDER BY step
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: signup → later view → later purchase. Each step's
    entry time is the min event time AFTER the previous step's — the
    strict-ordering semantics product funnels need (a purchase before the
    first view does not count). Three user-grain aggregations, each a
    partial-agg-friendly groupBy on user_id."""
    return base_sql(
        spark, sf_dir, ["events"],
        """
        WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
                    WHERE event_type = 'signup' GROUP BY user_id),
             s2 AS (SELECT e.user_id, min(e.ts) AS t2
                    FROM events e JOIN s1 ON e.user_id = s1.user_id
                    WHERE e.event_type = 'view' AND e.ts > s1.t1
                    GROUP BY e.user_id),
             s3 AS (SELECT e.user_id, min(e.ts) AS t3
                    FROM events e JOIN s2 ON e.user_id = s2.user_id
                    WHERE e.event_type = 'purchase' AND e.ts > s2.t2
                    GROUP BY e.user_id)
        SELECT 'step1_signup' AS step, count(*) AS n_users FROM s1
        UNION ALL SELECT 'step2_view', count(*) FROM s2
        UNION ALL SELECT 'step3_purchase', count(*) FROM s3
        ORDER BY step
        """
    )


@query(
    "events_retention",
    oracle="""
    WITH ud AS (SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
                FROM events),
         cohort AS (SELECT user_id, min(d) AS c0 FROM ud GROUP BY user_id)
    SELECT cohort.c0 AS cohort_day,
           date_diff('day', cohort.c0, ud.d) AS day_offset,
           count(*) AS n_active
    FROM ud JOIN cohort ON ud.user_id = cohort.user_id
    WHERE date_diff('day', cohort.c0, ud.d) <= 7
    GROUP BY cohort_day, day_offset
    ORDER BY cohort_day, day_offset
    """,
)
def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-active day, counted on
    each subsequent day-offset (first week). The distinct (user, day)
    projection collapses event volume before the cohort join — at 100 TB
    that reduction (events → user-days) is the whole game; the join then
    moves rows proportional to users, not events."""
    ev = load_events(spark, sf_dir)
    ud = ev.select(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("d")
    ).distinct()
    cohort = ud.groupBy("user_id").agg(F.min("d").alias("c0"))
    return (
        ud.join(cohort, "user_id")
        .withColumn("day_offset", F.datediff("d", "c0").cast("long"))
        .filter(F.col("day_offset") <= 7)
        .groupBy(F.col("c0").alias("cohort_day"), "day_offset")
        .agg(F.count(F.lit(1)).alias("n_active"))
        .orderBy("cohort_day", "day_offset")
    )


@query(
    "join_fuzzy_blocked",
    oracle="""
    WITH c AS (SELECT c_name, substr(c_name, 1, 16) AS blk FROM customer)
    SELECT a.blk, count(*) AS n_pairs
    FROM c a JOIN c b ON a.blk = b.blk AND a.c_name < b.c_name
    WHERE levenshtein(a.c_name, b.c_name) <= 1
    GROUP BY a.blk
    ORDER BY a.blk
    """,
)
def join_fuzzy_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy self-join: near-identical customer names (edit
    distance ≤ 1) found inside prefix blocks. The block key turns an
    O(n²) similarity join into an equi join plus per-block verification —
    the same candidate-then-verify shape as MinHash-LSH, with levenshtein
    as the verifier. The a < b ordering emits each unordered pair once."""
    c = (
        load_table(spark, sf_dir, "customer")
        .select("c_name", F.substring("c_name", 1, 16).alias("blk"))
    )
    a, b = c.alias("a"), c.alias("b")
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.c_name") < F.col("b.c_name")),
        )
        .filter(F.levenshtein(F.col("a.c_name"), F.col("b.c_name")) <= 1)
        .groupBy(F.col("a.blk").alias("blk"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("blk")
    )


@query(
    "events_scd2",
    oracle="""
    SELECT user_id, event_type AS state,
           strftime(date_trunc('second', ts), '%Y-%m-%d %H:%M:%S') AS eff_from,
           coalesce(strftime(date_trunc('second',
               lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)),
               '%Y-%m-%d %H:%M:%S'), '9999-12-31 00:00:00') AS eff_to,
           (lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL)
               AS is_current
    FROM events ORDER BY user_id, eff_from
    """,
)
def events_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2 build: each user's event stream
    becomes validity intervals [eff_from, eff_to) with an open-ended
    current row — the standard dimension-history shape warehouses join
    facts against. One window (lead over user_id, ts) = one shuffle;
    event_id tie-breaks identical timestamps so the intervals are
    deterministic under any partitioning. At 100 TB this is the incremental
    MERGE pattern's full-rebuild analog — linear in events, no self-join."""
    return spark.sql(
        """
        SELECT user_id, event_type AS state,
               date_format(date_trunc('second', ts), 'yyyy-MM-dd HH:mm:ss')
                   AS eff_from,
               coalesce(date_format(date_trunc('second',
                   lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)),
                   'yyyy-MM-dd HH:mm:ss'), '9999-12-31 00:00:00') AS eff_to,
               (lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   IS NULL) AS is_current
        FROM {events} ORDER BY user_id, eff_from
        """,
        events=load_events(spark, sf_dir),
    )


@query(
    "events_attribution",
    oracle="""
    WITH tagged AS (
      SELECT event_id, user_id, ts, event_type,
             CASE WHEN event_type IN ('click','view') THEN event_id END
                 AS touch_id,
             CASE WHEN event_type IN ('click','view') THEN ts END AS touch_ts
      FROM events),
    w AS (
      SELECT event_id, user_id, ts, event_type,
             last_value(touch_id IGNORE NULLS) OVER
               (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_touch,
             last_value(touch_ts IGNORE NULLS) OVER
               (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS last_touch_ts
      FROM tagged)
    SELECT event_id, user_id,
           strftime(date_trunc('second', ts), '%Y-%m-%d %H:%M:%S') AS purchase_s,
           coalesce(CASE WHEN last_touch_ts >= ts - INTERVAL 7 DAY
                         THEN last_touch END, -1) AS attributed_touch
    FROM w WHERE event_type = 'purchase' ORDER BY event_id
    """,
)
def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution with a 7-day lookback: every purchase is
    attributed to the user's most recent click/view, or -1 if none within
    the window. Implemented as ONE pass — last_value(... IGNORE NULLS)
    over a trailing frame on the interleaved event stream — instead of the
    naive purchases×touches as-of self-join; the window form shuffles each
    event once on user_id, which is what survives a 100 TB clickstream.
    event_id tie-breaks equal timestamps; the lookback cut is applied
    after attribution, deterministically on both engines."""
    return spark.sql(
        """
        WITH tagged AS (
          SELECT event_id, user_id, ts, event_type,
                 CASE WHEN event_type IN ('click','view') THEN event_id END
                     AS touch_id,
                 CASE WHEN event_type IN ('click','view') THEN ts END
                     AS touch_ts
          FROM {events}),
        w AS (
          SELECT event_id, user_id, ts, event_type,
                 last_value(touch_id) IGNORE NULLS OVER
                   (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                     AS last_touch,
                 last_value(touch_ts) IGNORE NULLS OVER
                   (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                     AS last_touch_ts
          FROM tagged)
        SELECT event_id, user_id,
               date_format(date_trunc('second', ts), 'yyyy-MM-dd HH:mm:ss')
                   AS purchase_s,
               coalesce(CASE WHEN last_touch_ts >= ts - INTERVAL 7 DAY
                             THEN last_touch END, -1) AS attributed_touch
        FROM w WHERE event_type = 'purchase' ORDER BY event_id
        """,
        events=load_events(spark, sf_dir),
    )


@query(
    "events_anomaly_mad",
    oracle="""
    WITH m AS (
      SELECT event_type, median(value) AS med FROM events GROUP BY 1
    ), d AS (
      SELECT e.event_type, m.med, abs(e.value - m.med) AS dev
      FROM events e JOIN m USING (event_type)
    ), md AS (
      SELECT event_type, median(dev) AS mad FROM d GROUP BY 1
    )
    SELECT d.event_type, min(d.med) AS med, min(md.mad) AS mad,
           count(*) AS n,
           CAST(sum(CASE WHEN d.dev > 3 * md.mad THEN 1 ELSE 0 END) AS BIGINT)
             AS n_outliers
    FROM d JOIN md USING (event_type)
    GROUP BY d.event_type
    """,
)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly detection: per event_type, median + median-absolute-
    deviation, flagging |x - med| > 3*MAD. Exact interpolated percentile
    (selection + one IEEE average) is bit-identical across engines —
    unlike mean/stddev z-scores whose sums are partition-order dependent.
    Two-pass shape: the per-type medians are a tiny broadcast back onto
    the stream; at 100 TB swap percentile() for percentile_approx and the
    plan is unchanged."""
    ev = load_events(spark, sf_dir)
    med = ev.groupBy("event_type").agg(F.expr("percentile(value, 0.5)").alias("med"))
    d = ev.join(F.broadcast(med), "event_type").withColumn(
        "dev", F.abs(F.col("value") - F.col("med"))
    )
    mad = d.groupBy("event_type").agg(F.expr("percentile(dev, 0.5)").alias("mad"))
    return (
        d.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.min("med").alias("med"),
            F.min("mad").alias("mad"),
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("dev") > 3 * F.col("mad"), 1).otherwise(0)
            ).cast("bigint").alias("n_outliers"),
        )
    )


@query(
    "win_gaps_islands",
    oracle="""
    WITH d AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
      FROM events
    ), r AS (
      SELECT user_id, day,
             day - CAST(row_number() OVER (
               PARTITION BY user_id ORDER BY day) AS INT) AS grp
      FROM d
    ), i AS (
      SELECT user_id, grp, count(*) AS len FROM r GROUP BY 1, 2
    )
    SELECT user_id, count(*) AS n_streaks, max(len) AS longest,
           CAST(sum(len) AS BIGINT) AS active_days
    FROM i GROUP BY user_id
    """,
)
def win_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: per-user streaks of consecutive active DAYS.
    The classic ``day - row_number()`` trick — consecutive days share a
    constant group key, so streaks fall out of a plain hash aggregate
    (no iterative logic). All-integer date arithmetic, bit-identical.
    Scale: one window sort + two partial-aggregable groupBys, all
    partitioned by user_id — no global ordering anywhere."""
    from pyspark.sql.window import Window

    ev = load_events(spark, sf_dir)
    d = ev.select("user_id", F.to_date(F.col("ts")).alias("day")).distinct()
    rn = F.row_number().over(Window.partitionBy("user_id").orderBy("day"))
    r = d.withColumn("grp", F.date_sub(F.col("day"), rn))
    i = r.groupBy("user_id", "grp").agg(F.count(F.lit(1)).alias("len"))
    return i.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_streaks"),
        F.max("len").alias("longest"),
        F.sum("len").alias("active_days"),
    )


@query(
    "events_markov",
    oracle="""
    WITH s AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS nxt
      FROM events
    ), c AS (
      SELECT event_type AS cur, nxt, count(*) AS c
      FROM s WHERE nxt IS NOT NULL GROUP BY 1, 2
    ), t AS (
      SELECT cur, CAST(sum(c) AS BIGINT) AS tot FROM c GROUP BY cur
    )
    SELECT c.cur, c.nxt, c.c AS transitions, c.c * 1.0 / t.tot AS p
    FROM c JOIN t USING (cur)
    """,
)
def events_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event sequences:
    P(next_type | cur_type). Ordering ties broken by event_id (testdata ts
    values are exact µs, so µs-vs-ns never reorders). Counts are exact
    int64 and the probability is ONE IEEE division — bit-identical without
    rounding. Scale: the lead() window partitions by user_id (parallel per
    user); the 5x5 transition matrix aggregate is partial-aggregable."""
    from pyspark.sql.window import Window

    ev = load_events(spark, sf_dir)
    nxt = F.lead("event_type").over(
        Window.partitionBy("user_id").orderBy("ts", "event_id")
    )
    s = ev.select("user_id", "event_type", nxt.alias("nxt")).filter(
        F.col("nxt").isNotNull()
    )
    c = s.groupBy(F.col("event_type").alias("cur"), "nxt").agg(
        F.count(F.lit(1)).alias("transitions")
    )
    t = c.groupBy("cur").agg(F.sum("transitions").alias("tot"))
    return c.join(F.broadcast(t), "cur").select(
        "cur", "nxt", "transitions",
        (F.col("transitions") * 1.0 / F.col("tot")).alias("p"),
    )


@query(
    "events_rfm",
    oracle="""
    WITH p AS (
      SELECT user_id,
             date_diff('day', CAST(date_trunc('day', max(ts)) AS DATE),
                       DATE '2024-01-30') AS recency_days,
             count(*) AS frequency,
             round(sum(value), 2) AS monetary
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    )
    SELECT user_id, recency_days, frequency, monetary,
           ntile(5) OVER (ORDER BY recency_days, user_id)      AS r_quintile,
           ntile(5) OVER (ORDER BY frequency DESC, user_id)    AS f_quintile,
           ntile(5) OVER (ORDER BY monetary DESC, user_id)     AS m_quintile
    FROM p
    """,
)
def events_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer scoring: recency (days since last purchase, vs the
    2024-01-30 stream end), frequency, monetary, each bucketed into
    quintiles. ntile() is made deterministic by the user_id tie-break
    (without it, equal metrics straddle bucket boundaries arbitrarily).
    Monetary is the only float aggregate — rounded per the cross-engine
    sum policy. Scale: the three quintiles come from ntile_nosort
    (operators/prefix.py — two-phase bucketed prefix sums + within-value
    row_number, bit-identical to ntile) so no global sort ever runs over
    the per-user rollup; DESC metrics pass the negated value (exact)."""
    from backup_repo_spark.caching import release_with
    from backup_repo_spark.operators.prefix import ntile_nosort

    ev = load_events(spark, sf_dir)
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.datediff(
                F.lit("2024-01-30").cast("date"), F.to_date(F.max("ts"))
            ).alias("recency_days"),
            F.count(F.lit(1)).alias("frequency"),
            F.round(F.sum("value"), 2).alias("monetary"),
        )
        # Three CHAINED ntile_nosort calls each duplicate their input's
        # subplan ~4x, so without a cut the fact scan appears ~4^3 times
        # in the plan.  Persisting the per-user rollup (O(users), not
        # O(events)) bounds that to one fact scan at execution; the
        # cache's lifetime is scoped to the returned result handle
        # (caching.release_with) so no CacheManager entry outlives the
        # query (VERDICT r5 "What's wrong" #1).
        .persist()
    )
    # recency/frequency are COARSE grids (tens of distinct values), so the
    # within-value tie ranking goes two-phase as well (tie_bucket_width):
    # no per-value window partition ever exceeds one user_id bucket.
    q = ntile_nosort(
        p.withColumn("_v", F.col("recency_days")),
        "_v", "user_id", tiles=5, bucket_width=8, tie_bucket_width=1 << 14,
    ).withColumnRenamed("bin", "r_quintile").drop("_v")
    q = ntile_nosort(
        q.withColumn("_v", -F.col("frequency")),
        "_v", "user_id", tiles=5, bucket_width=8, tie_bucket_width=1 << 14,
    ).withColumnRenamed("bin", "f_quintile").drop("_v")
    q = ntile_nosort(
        q.withColumn("_v", -F.col("monetary")),
        "_v", "user_id", tiles=5, bucket_width=512,
    ).withColumnRenamed("bin", "m_quintile").drop("_v")
    return release_with(
        q.select(
            "user_id", "recency_days", "frequency", "monetary",
            "r_quintile", "f_quintile", "m_quintile",
        ),
        p,
    )


@query(
    "events_path_analysis",
    oracle="""
    WITH s AS (
      SELECT user_id, event_type AS e1,
             lead(event_type, 1) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS e2,
             lead(event_type, 2) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS e3
      FROM events
    ), p AS (
      SELECT e1 || '>' || e2 || '>' || e3 AS path, count(*) AS n
      FROM s WHERE e3 IS NOT NULL GROUP BY 1
    )
    SELECT path, n FROM p ORDER BY n DESC, path LIMIT 10
    """,
)
def events_path_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-path mining: top-10 3-step event sequences across users
    (complements `events_funnel`, which tests ONE fixed pattern — this
    discovers which patterns dominate). Two lead() offsets share a single
    window sort; path counts are a partial-aggregable groupBy; the top-k
    is TakeOrderedAndProject with a path tie-break. All integer counts."""
    from pyspark.sql.window import Window

    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e3").isNotNull())
    return (
        s.select(F.concat_ws(">", "e1", "e2", "e3").alias("path"))
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "path")
        .limit(10)
    )


@query(
    "events_dau_wau",
    oracle="""
    WITH du AS (
      SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day, user_id
      FROM events
    ), days AS (SELECT DISTINCT day FROM du),
    dau AS (SELECT day, count(*) AS dau FROM du GROUP BY day),
    wau AS (
      SELECT d.day, count(DISTINCT u.user_id) AS wau
      FROM days d JOIN du u ON u.day BETWEEN d.day - 6 AND d.day
      GROUP BY d.day
    )
    SELECT days.day, dau.dau, wau.wau, dau.dau * 1.0 / wau.wau AS stickiness
    FROM days JOIN dau USING (day) JOIN wau USING (day)
    """,
)
def events_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-7-day WAU / stickiness per day. The rolling distinct
    cannot be a window aggregate (count DISTINCT over frames isn't
    supported anywhere) — the scalable shape is: dedup to (day, user)
    first (shrinks the fact table to its distinct grain), then a
    broadcast band-join of the tiny day spine onto it. Stickiness is one
    IEEE division of exact counts."""
    ev = load_events(spark, sf_dir)
    du = ev.select(
        F.to_date("ts").alias("day"), "user_id"
    ).distinct()
    days = du.select("day").distinct().withColumnRenamed("day", "dday")
    dau = du.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    wau = (
        F.broadcast(days)
        .join(
            du,
            (F.col("day") >= F.date_sub(F.col("dday"), 6))
            & (F.col("day") <= F.col("dday")),
        )
        .groupBy("dday")
        .agg(F.countDistinct("user_id").alias("wau"))
    )
    return (
        dau.join(wau, dau.day == wau.dday)
        .select(
            "day", "dau", "wau",
            (F.col("dau") * 1.0 / F.col("wau")).alias("stickiness"),
        )
    )


@query(
    "stat_winsorize",
    oracle="""
    WITH b AS (
      SELECT event_type,
             quantile_cont(value, 0.05) AS p05,
             quantile_cont(value, 0.95) AS p95
      FROM events GROUP BY 1
    )
    SELECT e.event_type, min(b.p05) AS p05, min(b.p95) AS p95,
           count(*) AS n,
           CAST(sum(CASE WHEN e.value < b.p05 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_low,
           CAST(sum(CASE WHEN e.value > b.p95 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_high,
           round(sum(CASE WHEN e.value < b.p05 THEN b.p05
                          WHEN e.value > b.p95 THEN b.p95
                          ELSE e.value END), 2) AS winsorized_sum
    FROM events e JOIN b USING (event_type)
    GROUP BY e.event_type
    """,
)
def stat_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization: clamp each value into its type's exact [P5, P95]
    band — the tail-robust preprocessing that keeps outliers from owning
    a mean (complements `events_anomaly_mad`, which flags rather than
    clamps). Exact interpolated percentiles broadcast back onto the
    stream; bounds and clip-counts are bit-exact, the clamped sum follows
    the round-2 aggregate policy."""
    ev = load_events(spark, sf_dir)
    b = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.05)").alias("p05"),
        F.expr("percentile(value, 0.95)").alias("p95"),
    )
    v, lo, hi = F.col("value"), F.col("p05"), F.col("p95")
    return (
        ev.join(F.broadcast(b), "event_type")
        .groupBy("event_type")
        .agg(
            F.min("p05").alias("p05"),
            F.min("p95").alias("p95"),
            F.count(F.lit(1)).alias("n"),
            F.sum((v < lo).cast("int")).cast("bigint").alias("n_low"),
            F.sum((v > hi).cast("int")).cast("bigint").alias("n_high"),
            F.round(F.sum(F.least(F.greatest(v, lo), hi)), 2).alias(
                "winsorized_sum"
            ),
        )
    )


@query(
    "win_value_runs",
    oracle="""
    WITH s AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN event_type = lag(event_type) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id)
                  THEN 0 ELSE 1 END AS chg
      FROM events
    ), r AS (
      SELECT user_id, event_type,
             CAST(sum(chg) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_id
      FROM s
    ), l AS (
      SELECT user_id, event_type, run_id, count(*) AS run_len
      FROM r GROUP BY 1, 2, 3
    )
    SELECT user_id, event_type, max(run_len) AS max_run, count(*) AS n_runs
    FROM l GROUP BY 1, 2
    """,
)
def win_value_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-run detection (runs-and-streaks on VALUE CHANGE, the sibling
    of `win_gaps_islands`' date arithmetic): consecutive same-type event
    runs per user via lag-change flag -> cumulative run id -> run lengths.
    Surfaces e.g. 'longest unbroken error streak' — a monitoring primitive.
    One window sort feeds both passes; all-integer."""
    from pyspark.sql.window import Window

    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    chg = F.when(
        F.col("event_type") == F.lag("event_type").over(w), 0
    ).otherwise(1)
    s = ev.select("user_id", "event_type", "ts", "event_id", chg.alias("chg"))
    r = s.select(
        "user_id", "event_type",
        F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("run_id"),
    )
    l = r.groupBy("user_id", "event_type", "run_id").agg(
        F.count(F.lit(1)).alias("run_len")
    )
    return l.groupBy("user_id", "event_type").agg(
        F.max("run_len").alias("max_run"), F.count(F.lit(1)).alias("n_runs")
    )


@query(
    "events_concurrency",
    oracle="""
    WITH sp AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
             min(ts) AS s, max(ts) AS e
      FROM events GROUP BY 1, 2
    ), pts AS (
      SELECT day, s AS t, 1 AS d FROM sp
      UNION ALL
      SELECT day, e + INTERVAL 1 MICROSECOND, -1 FROM sp
    ), c AS (
      SELECT day,
             CAST(sum(d) OVER (
               PARTITION BY day ORDER BY t, d DESC
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS conc
      FROM pts
    )
    SELECT day, max(conc) AS peak_concurrency FROM c GROUP BY day
    """,
)
def events_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency via SWEEP LINE: each user-day activity span emits
    +1 at start and -1 just past end; the running sum over time-ordered
    deltas is the live-span count, its max the daily peak. O(n log n) with
    one window sort — the interval-overlap formulation that never builds
    the O(n²) overlap pair join. Tie rule (+1 before -1 at equal t) makes
    touching spans count as concurrent, encoded identically in both
    engines via the d DESC sort key. µs-exact integer arithmetic."""
    from pyspark.sql.window import Window

    ev = load_events(spark, sf_dir)
    sp = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.min("ts").alias("s"), F.max("ts").alias("e")
    )
    pts = sp.select("day", F.col("s").alias("t"), F.lit(1).alias("d")).union(
        sp.select(
            "day", F.expr("e + INTERVAL 1 MICROSECOND").alias("t"),
            F.lit(-1).alias("d"),
        )
    )
    w = (
        Window.partitionBy("day")
        .orderBy(F.col("t"), F.desc("d"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = pts.select("day", F.sum("d").over(w).alias("conc"))
    return c.groupBy("day").agg(F.max("conc").alias("peak_concurrency"))


@query(
    "events_bot_detection",
    oracle="""
    WITH m AS (
      SELECT user_id, date_trunc('minute', ts) AS mn, count(*) AS c
      FROM events GROUP BY 1, 2
    )
    SELECT user_id, max(c) AS max_per_min, CAST(sum(c) AS BIGINT) AS total,
           CAST(max(c) >= 5 AS INT) AS burst_flag
    FROM m GROUP BY user_id
    """,
)
def events_bot_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst-rate bot heuristic: per user, the hottest single minute of
    activity; >= 5 events in one minute flags the account. Two partial-
    aggregable rollups — the per-minute grain shrinks the stream before
    the per-user pass, so at 100 TB the wide shuffle carries minute
    buckets, not raw events. All-integer."""
    ev = load_events(spark, sf_dir)
    m = ev.groupBy("user_id", F.date_trunc("minute", "ts").alias("mn")).agg(
        F.count(F.lit(1)).alias("c")
    )
    return m.groupBy("user_id").agg(
        F.max("c").alias("max_per_min"),
        F.sum("c").cast("bigint").alias("total"),
        (F.max("c") >= 5).cast("int").alias("burst_flag"),
    )


@query(
    "events_ab_analysis",
    oracle="""
    WITH a AS (
      SELECT user_id,
             CASE WHEN substr(md5('exp1-' || CAST(user_id AS VARCHAR)), 1, 1)
                       < '8' THEN 'A' ELSE 'B' END AS variant
      FROM (SELECT DISTINCT user_id FROM events)
    ), m AS (
      SELECT e.user_id, a.variant,
             CAST(sum(CASE WHEN e.event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS purchases,
             sum(CASE WHEN e.event_type = 'purchase' THEN e.value ELSE 0 END)
               AS spend
      FROM events e JOIN a USING (user_id)
      GROUP BY 1, 2
    )
    SELECT variant, count(*) AS users,
           CAST(sum(purchases) AS BIGINT) AS purchases,
           CAST(sum(CASE WHEN purchases > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS converters,
           sum(CASE WHEN purchases > 0 THEN 1 ELSE 0 END) * 1.0 / count(*)
             AS conversion,
           round(sum(spend), 2) AS spend
    FROM m GROUP BY variant
    """,
)
def events_ab_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout with DETERMINISTIC hash assignment: variant =
    md5('exp1-'||user) first hex digit (same salt-hash recipe as
    `llm_train_split` — reproducible across engines, retries, and cluster
    sizes, unlike rand()). Per-variant users, purchases, converters,
    conversion rate (exact division), spend (round-2 policy). Two
    partial-aggregable rollups; assignment is map-side."""
    ev = load_events(spark, sf_dir)
    a = (
        ev.select("user_id")
        .distinct()
        .withColumn(
            "variant",
            F.when(
                F.substring(
                    F.md5(F.concat(F.lit("exp1-"), F.col("user_id").cast("string"))),
                    1, 1,
                )
                < "8",
                "A",
            ).otherwise("B"),
        )
    )
    is_p = (F.col("event_type") == "purchase").cast("int")
    m = (
        ev.join(F.broadcast(a), "user_id")
        .groupBy("user_id", "variant")
        .agg(
            F.sum(is_p).cast("bigint").alias("purchases"),
            F.sum(F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(0.0)).alias("spend"),
        )
    )
    conv = (F.col("purchases") > 0).cast("int")
    return m.groupBy("variant").agg(
        F.count(F.lit(1)).alias("users"),
        F.sum("purchases").cast("bigint").alias("purchases"),
        F.sum(conv).cast("bigint").alias("converters"),
        (F.sum(conv) * 1.0 / F.count(F.lit(1))).alias("conversion"),
        F.round(F.sum("spend"), 2).alias("spend"),
    )


@query(
    "events_abandonment",
    oracle="""
    WITH v AS (SELECT * FROM events WHERE event_type = 'view'),
    p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
    f AS (
      SELECT v.event_id, CAST(date_trunc('day', v.ts) AS DATE) AS day,
             EXISTS(SELECT 1 FROM p
                    WHERE p.user_id = v.user_id
                      AND p.ts > v.ts
                      AND p.ts <= v.ts + INTERVAL 1 HOUR) AS converted
      FROM v
    )
    SELECT day, count(*) AS views,
           CAST(sum(CASE WHEN converted THEN 1 ELSE 0 END) AS BIGINT)
             AS converted_views,
           1.0 - sum(CASE WHEN converted THEN 1 ELSE 0 END) * 1.0 / count(*)
             AS abandonment_rate
    FROM f GROUP BY day
    """,
)
def events_abandonment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Abandonment funnel: views NOT followed by a same-user purchase
    within 1 hour, as a daily rate. The time-bounded existence check is a
    LEFT SEMI join on the user key with the hour window as residual (the
    scalable spelling — the correlated-EXISTS oracle form does not
    decorrelate for range predicates), then an exact-count daily rollup."""
    ev = load_events(spark, sf_dir)
    v = ev.filter(F.col("event_type") == "view").select(
        "event_id", F.col("user_id").alias("vu"), F.col("ts").alias("vts")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("ts").alias("pts")
    )
    conv = v.join(
        p,
        (F.col("pu") == F.col("vu"))
        & (F.col("pts") > F.col("vts"))
        & (F.col("pts") <= F.col("vts") + F.expr("INTERVAL 1 HOUR")),
        "left_semi",
    ).select("event_id")
    f = v.join(conv.withColumn("c", F.lit(1)), "event_id", "left").select(
        F.to_date("vts").alias("day"),
        F.coalesce("c", F.lit(0)).alias("converted"),
    )
    return f.groupBy("day").agg(
        F.count(F.lit(1)).alias("views"),
        F.sum("converted").cast("bigint").alias("converted_views"),
        (1.0 - F.sum("converted") * 1.0 / F.count(F.lit(1))).alias(
            "abandonment_rate"
        ),
    )


@query(
    "events_slo_burn",
    oracle="""
    WITH d AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                  AS BIGINT) AS errors,
             count(*) AS total
      FROM events GROUP BY 1
    )
    SELECT day, errors, total,
           errors * 1.0 / total AS day_rate,
           CAST(sum(errors) OVER w AS BIGINT) AS cum_errors,
           CAST(sum(total) OVER w AS BIGINT) AS cum_total,
           CAST(sum(errors) OVER w * 5 > sum(total) OVER w AS INT) AS burning
    FROM d
    WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def events_slo_burn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-budget (SLO) burn tracking: daily error counts, cumulative
    error rate, and a burn flag when the running rate exceeds the 20%%
    budget — with the threshold test cross-multiplied into integers
    (cum_errors * 5 > cum_total), so no float comparison anywhere near
    the alert decision. Daily rollup first; the cumulative window runs
    over ~30 rows, not the raw stream."""
    from pyspark.sql.window import Window

    ev = load_events(spark, sf_dir)
    d = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum((F.col("event_type") == "error").cast("int")).cast("bigint").alias("errors"),
        F.count(F.lit(1)).alias("total"),
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return d.select(
        "day", "errors", "total",
        (F.col("errors") * 1.0 / F.col("total")).alias("day_rate"),
        F.sum("errors").over(w).cast("bigint").alias("cum_errors"),
        F.sum("total").over(w).cast("bigint").alias("cum_total"),
        (F.sum("errors").over(w) * 5 > F.sum("total").over(w)).cast("int").alias("burning"),
    )


@query(
    "ml_user_features",
    oracle="""
    SELECT user_id,
           CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT)    AS n_click,
           CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT)     AS n_view,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
           CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)    AS n_error,
           CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT)   AS n_signup,
           count(*) AS n_total,
           count(DISTINCT CAST(date_trunc('day', ts) AS DATE)) AS active_days,
           round(sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END), 2)
             AS purchase_value
    FROM events GROUP BY user_id
    """,
)
def ml_user_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-store assembly: one row per user with per-type activity
    counts (conditional aggregation — the one-pass alternative to pivot),
    active-day cardinality, and monetary value — the table a training
    pipeline joins labels onto. Single scan, single shuffle on user_id;
    at 100 TB this materializes partitioned by a user-hash bucket so the
    label join is co-located."""
    ev = load_events(spark, sf_dir)
    cnt = lambda t: F.sum((F.col("event_type") == t).cast("int")).cast("bigint")  # noqa: E731
    return ev.groupBy("user_id").agg(
        cnt("click").alias("n_click"),
        cnt("view").alias("n_view"),
        cnt("purchase").alias("n_purchase"),
        cnt("error").alias("n_error"),
        cnt("signup").alias("n_signup"),
        F.count(F.lit(1)).alias("n_total"),
        F.countDistinct(F.to_date("ts")).alias("active_days"),
        F.round(
            F.sum(F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(0.0)),
            2,
        ).alias("purchase_value"),
    )


@query(
    "events_new_returning",
    oracle="""
    WITH fd AS (
      SELECT user_id, min(CAST(date_trunc('day', ts) AS DATE)) AS first_day
      FROM events GROUP BY user_id
    ), du AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
      FROM events
    )
    SELECT du.day,
           CAST(sum(CASE WHEN du.day = fd.first_day THEN 1 ELSE 0 END) AS BIGINT)
             AS new_users,
           CAST(sum(CASE WHEN du.day > fd.first_day THEN 1 ELSE 0 END) AS BIGINT)
             AS returning_users
    FROM du JOIN fd USING (user_id)
    GROUP BY du.day
    """,
)
def events_new_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting: daily active users split into NEW (first-ever
    activity today) vs RETURNING — the companion view to the cohort
    matrix (`events_retention`), one row per day instead of per
    cohort×offset. First-day table is a tiny per-user rollup broadcast
    onto the deduped (user, day) grain; all-integer."""
    ev = load_events(spark, sf_dir)
    day = F.to_date("ts")
    fd = ev.groupBy("user_id").agg(F.min(day).alias("first_day"))
    du = ev.select("user_id", day.alias("day")).distinct()
    return (
        du.join(F.broadcast(fd), "user_id")
        .groupBy("day")
        .agg(
            F.sum((F.col("day") == F.col("first_day")).cast("int"))
            .cast("bigint")
            .alias("new_users"),
            F.sum((F.col("day") > F.col("first_day")).cast("int"))
            .cast("bigint")
            .alias("returning_users"),
        )
    )


@query(
    "events_cohort_ltv",
    oracle="""
    WITH fd AS (
      SELECT user_id, min(CAST(date_trunc('day', ts) AS DATE)) AS cohort
      FROM events GROUP BY user_id
    ), sp AS (
      SELECT fd.cohort,
             date_diff('day', fd.cohort, CAST(date_trunc('day', e.ts) AS DATE))
               AS offset_d,
             e.value
      FROM events e JOIN fd USING (user_id)
      WHERE e.event_type = 'purchase'
    ), d AS (
      SELECT cohort, offset_d, count(*) AS purchases,
             round(sum(value), 2) AS day_spend
      FROM sp GROUP BY 1, 2
    )
    SELECT cohort, offset_d, purchases, day_spend,
           round(sum(day_spend) OVER (
             PARTITION BY cohort ORDER BY offset_d
             ROWS UNBOUNDED PRECEDING), 2) AS cum_spend
    FROM d
    """,
)
def events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curves: cumulative purchase value per signup cohort by
    day offset — the monetary sibling of `events_retention` (which counts
    presence) and the payback-window input. Round-first-then-running-sum
    keeps the float cumsum deterministic (rank-ordered sequential adds of
    identical doubles — same recipe as `pareto_analysis`)."""
    from pyspark.sql.window import Window

    ev = load_events(spark, sf_dir)
    day = F.to_date("ts")
    fd = ev.groupBy("user_id").agg(F.min(day).alias("cohort"))
    sp = (
        ev.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(fd), "user_id")
        .select(
            "cohort",
            F.datediff(day, F.col("cohort")).alias("offset_d"),
            "value",
        )
    )
    d = sp.groupBy("cohort", "offset_d").agg(
        F.count(F.lit(1)).alias("purchases"),
        F.round(F.sum("value"), 2).alias("day_spend"),
    )
    w = (
        Window.partitionBy("cohort")
        .orderBy("offset_d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return d.select(
        "cohort", "offset_d", "purchases", "day_spend",
        F.round(F.sum("day_spend").over(w), 2).alias("cum_spend"),
    )


@query(
    "events_ab_srm",
    oracle="""
    WITH a AS (
      SELECT CASE WHEN substr(md5('exp1-' || CAST(user_id AS VARCHAR)), 1, 1)
                       < '8' THEN 'A' ELSE 'B' END AS variant
      FROM (SELECT DISTINCT user_id FROM events)
    ), c AS (
      SELECT CAST(sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS na,
             CAST(sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS nb
      FROM a
    )
    SELECT na, nb,
           (na - (na + nb) / 2.0) * (na - (na + nb) / 2.0) / ((na + nb) / 2.0)
         + (nb - (na + nb) / 2.0) * (nb - (na + nb) / 2.0) / ((na + nb) / 2.0)
             AS chi2,
           CAST((na - (na + nb) / 2.0) * (na - (na + nb) / 2.0) / ((na + nb) / 2.0)
              + (nb - (na + nb) / 2.0) * (nb - (na + nb) / 2.0) / ((na + nb) / 2.0)
              > 3.841 AS INT) AS srm_alarm
    FROM c
    """,
)
def events_ab_srm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-Ratio-Mismatch check — the FIRST validity gate on any A/B
    readout (`events_ab_analysis`): chi-square of observed variant counts
    against the designed 50/50 split, alarming at the 95% critical value
    (3.841, df=1). A firing SRM means assignment is broken and the
    experiment readout is garbage. All arithmetic from two exact integers
    in fixed expression order — bit-identical."""
    ev = load_events(spark, sf_dir)
    variant = F.when(
        F.substring(
            F.md5(F.concat(F.lit("exp1-"), F.col("user_id").cast("string"))), 1, 1
        )
        < "8",
        "A",
    ).otherwise("B")
    c = (
        ev.select("user_id").distinct()
        .select(variant.alias("variant"))
        .agg(
            F.sum((F.col("variant") == "A").cast("int")).cast("bigint").alias("na"),
            F.sum((F.col("variant") == "B").cast("int")).cast("bigint").alias("nb"),
        )
    )
    na, nb = F.col("na"), F.col("nb")
    exp = (na + nb) / 2.0
    chi2 = (na - exp) * (na - exp) / exp + (nb - exp) * (nb - exp) / exp
    return c.select("na", "nb", chi2.alias("chi2"),
                    (chi2 > 3.841).cast("int").alias("srm_alarm"))


@query(
    "events_ab_cuped",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             CASE WHEN substr(md5('exp1-' || CAST(user_id AS VARCHAR)), 1, 1) < '8'
                  THEN 'A' ELSE 'B' END AS variant,
             count(*) FILTER (WHERE ts < TIMESTAMP '2024-01-16') AS x,
             coalesce(sum(CAST(round(value * 100) AS BIGINT)) FILTER (
               WHERE ts >= TIMESTAMP '2024-01-16' AND event_type = 'purchase'
             ), 0) AS y
      FROM events GROUP BY 1
    ),
    pooled AS (
      SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x * y) AS sxy, sum(x * x) AS sxx
      FROM per_user
    ),
    arms AS (
      SELECT
        count(*) FILTER (WHERE variant = 'A') AS n_a,
        count(*) FILTER (WHERE variant = 'B') AS n_b,
        sum(x) FILTER (WHERE variant = 'A') AS sx_a,
        sum(x) FILTER (WHERE variant = 'B') AS sx_b,
        sum(y) FILTER (WHERE variant = 'A') AS sy_a,
        sum(y) FILTER (WHERE variant = 'B') AS sy_b
      FROM per_user
    )
    SELECT n_a, n_b,
           CASE WHEN n_a > 0 AND n_b > 0 THEN
             round(CAST(sy_a AS DOUBLE) / n_a - CAST(sy_b AS DOUBLE) / n_b, 4)
           END AS diff_raw_cents,
           CASE WHEN n * sxx - sx * sx > 0 THEN
             round(CAST(n * sxy - sx * sy AS DOUBLE) / (n * sxx - sx * sx), 6)
           END AS theta_r6,
           CASE WHEN n_a > 0 AND n_b > 0 AND n * sxx - sx * sx > 0 THEN
             round(
               (CAST(sy_a AS DOUBLE) / n_a - CAST(sy_b AS DOUBLE) / n_b)
               - (CAST(n * sxy - sx * sy AS DOUBLE) / (n * sxx - sx * sx))
                 * (CAST(sx_a AS DOUBLE) / n_a - CAST(sx_b AS DOUBLE) / n_b), 4)
           END AS diff_cuped_cents
    FROM arms CROSS JOIN pooled
    """,
)
def events_ab_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced A/B readout (Deng et al., WSDM 2013 — public
    literature): covariate x = each user's PRE-period activity count,
    metric y = POST-period purchase value in cents, pooled
    θ = Cov(x,y)/Var(x), adjusted lift = Δy − θ·Δx. The experimentation
    primitive that cuts required sample sizes 30-50% in practice.

    Determinism: per-user x and y are exact integers (per-row cents BEFORE
    summing), all moment sums are int64 (bounds checked at sf0.1 ≈ 10¹⁶ <
    2⁶³), and θ / lifts are ratios of exact integers — IEEE basic ops
    only, rounded at the end. Same md5 salt-hash assignment as
    events_ab_analysis: reproducible across engines and cluster sizes.

    Scale: one groupBy(user_id) with conditional partial aggregates, then
    two one-row rollups — map-side combine does the heavy lifting; no
    joins, no windows."""
    ev = load_events(spark, sf_dir)
    cut = F.lit("2024-01-16").cast("timestamp")
    variant = F.when(
        F.substring(
            F.md5(F.concat(F.lit("exp1-"), F.col("user_id").cast("string"))), 1, 1
        )
        < "8",
        "A",
    ).otherwise("B")
    per_user = ev.groupBy("user_id").agg(
        F.max(variant).alias("variant"),
        F.sum((F.col("ts") < cut).cast("long")).alias("x"),
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("ts") >= cut) & (F.col("event_type") == "purchase"),
                    F.round(F.col("value") * 100).cast("long"),
                )
            ),
            F.lit(0),
        ).alias("y"),
    )
    pooled = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    isA = F.col("variant") == "A"
    arms = per_user.agg(
        F.sum(isA.cast("long")).alias("n_a"),
        F.sum((~isA).cast("long")).alias("n_b"),
        F.sum(F.when(isA, F.col("x"))).alias("sx_a"),
        F.sum(F.when(~isA, F.col("x"))).alias("sx_b"),
        F.sum(F.when(isA, F.col("y"))).alias("sy_a"),
        F.sum(F.when(~isA, F.col("y"))).alias("sy_b"),
    )
    dy = F.col("sy_a").cast("double") / F.col("n_a") - F.col("sy_b").cast(
        "double"
    ) / F.col("n_b")
    dx = F.col("sx_a").cast("double") / F.col("n_a") - F.col("sx_b").cast(
        "double"
    ) / F.col("n_b")
    theta = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    ) / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
    arms_ok = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    var_ok = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx") > 0
    return arms.crossJoin(F.broadcast(pooled)).select(
        "n_a", "n_b",
        F.when(arms_ok, F.round(dy, 4)).alias("diff_raw_cents"),
        F.when(var_ok, F.round(theta, 6)).alias("theta_r6"),
        F.when(arms_ok & var_ok, F.round(dy - theta * dx, 4)).alias(
            "diff_cuped_cents"
        ),
    )


@query(
    "events_ab_power",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             coalesce(sum(CAST(round(value * 100) AS BIGINT)) FILTER (
               WHERE event_type = 'purchase'
             ), 0) AS y
      FROM events GROUP BY 1
    ),
    m AS (
      SELECT count(*) AS n, sum(y) AS sy, sum(y * y) AS syy FROM per_user
    )
    SELECT n,
           CAST(sy // n AS BIGINT) AS mean_cents,
           CASE WHEN n >= 2 THEN
             round(CAST(n * syy - sy * sy AS DOUBLE) / n / (n - 1), 2)
           END AS var_cents2,
           CASE WHEN n >= 2 AND sy > 0 THEN
             round(sqrt(16.0 * (CAST(n * syy - sy * sy AS DOUBLE) / n / (n - 1))
                        / ((0.05 * sy / n) * (0.05 * sy / n))), 2)
           END AS n_per_arm_mde5pct,
           CASE WHEN n >= 2 THEN
             round(sqrt(16.0 * (CAST(n * syy - sy * sy AS DOUBLE) / n / (n - 1))
                        / CAST(n AS DOUBLE)), 2)
           END AS mde_cents_at_n
    FROM m
    """,
)
def events_ab_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B pre-experiment power analysis over per-user purchase value: the
    rule-of-16 sizing (n/arm ≈ 16σ²/Δ² for α=0.05, power=0.8 — Kohavi et
    al., public literature) for a 5% minimum detectable effect, and the
    MDE achievable at the current population. Pairs with events_ab_cuped:
    CUPED shrinks the σ² that enters this formula.

    Determinism: sample variance is assembled from exact integer moments
    (n·Σy² − (Σy)² in DECIMAL(38) — int64 was measured to OVERFLOW at
    just 10× sf0.1, n·Σy² ≈ 5.6e19; the oracle's HUGEINT never did),
    then only IEEE basic ops + sqrt — bit-stable, same recipe as
    ts_acf/stats_ks_test.

    Scale: one groupBy(user) with map-side partials + a one-row rollup."""
    ev = load_events(spark, sf_dir)
    per_user = ev.groupBy("user_id").agg(
        F.coalesce(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.round(F.col("value") * 100).cast("long"),
                )
            ),
            F.lit(0),
        ).alias("y")
    )
    dy = F.col("y").cast("decimal(19,0)")
    m = per_user.agg(
        F.count(F.lit(1)).cast("decimal(19,0)").alias("n"),
        F.sum(dy).cast("decimal(38,0)").alias("sy"),
        F.sum(dy * F.col("y")).cast("decimal(38,0)").alias("syy"),
    )
    var = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double") / F.col(
        "n"
    ) / (F.col("n") - 1)
    mean = F.col("sy") / F.col("n")
    n_ok = F.col("n") >= 2
    return m.select(
        F.col("n").cast("bigint").alias("n"),
        F.expr("CAST(sy DIV n AS BIGINT)").alias("mean_cents"),
        F.when(n_ok, F.round(var, 2)).alias("var_cents2"),
        F.when(
            n_ok & (F.col("sy") > 0),
            F.round(
                F.sqrt(F.lit(16.0) * var / ((F.lit(0.05) * mean) * (F.lit(0.05) * mean))),
                2,
            ),
        ).alias("n_per_arm_mde5pct"),
        F.when(
            n_ok, F.round(F.sqrt(F.lit(16.0) * var / F.col("n").cast("double")), 2)
        ).alias("mde_cents_at_n"),
    )


@query(
    "events_did",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             CASE WHEN substr(md5('exp1-' || CAST(user_id AS VARCHAR)), 1, 1) < '8'
                  THEN 'T' ELSE 'C' END AS grp,
             coalesce(sum(CAST(round(value * 100) AS BIGINT)) FILTER (
               WHERE ts < TIMESTAMP '2024-01-16' AND event_type = 'purchase'
             ), 0) AS y_pre,
             coalesce(sum(CAST(round(value * 100) AS BIGINT)) FILTER (
               WHERE ts >= TIMESTAMP '2024-01-16' AND event_type = 'purchase'
             ), 0) AS y_post
      FROM events GROUP BY 1
    ),
    cells AS (
      SELECT grp, count(*) AS n, sum(y_pre) AS sp, sum(y_post) AS so
      FROM per_user GROUP BY grp
    ),
    wide AS (
      SELECT
        max(CASE WHEN grp = 'T' THEN n END) AS n_t,
        max(CASE WHEN grp = 'C' THEN n END) AS n_c,
        max(CASE WHEN grp = 'T' THEN sp END) AS sp_t,
        max(CASE WHEN grp = 'C' THEN sp END) AS sp_c,
        max(CASE WHEN grp = 'T' THEN so END) AS so_t,
        max(CASE WHEN grp = 'C' THEN so END) AS so_c
      FROM cells
    )
    SELECT coalesce(n_t, 0) AS n_t, coalesce(n_c, 0) AS n_c,
           CASE WHEN n_t > 0 THEN round(CAST(sp_t AS DOUBLE) / n_t, 4) END AS pre_t,
           CASE WHEN n_c > 0 THEN round(CAST(sp_c AS DOUBLE) / n_c, 4) END AS pre_c,
           CASE WHEN n_t > 0 THEN round(CAST(so_t AS DOUBLE) / n_t, 4) END AS post_t,
           CASE WHEN n_c > 0 THEN round(CAST(so_c AS DOUBLE) / n_c, 4) END AS post_c,
           CASE WHEN n_t > 0 AND n_c > 0 THEN
             round((CAST(so_t AS DOUBLE) / n_t - CAST(sp_t AS DOUBLE) / n_t)
                 - (CAST(so_c AS DOUBLE) / n_c - CAST(sp_c AS DOUBLE) / n_c), 4)
           END AS did_cents
    FROM wide
    """,
)
def events_did(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences estimator on per-user purchase value: the
    2×2 (treat/control × pre/post) cell means and the DiD effect
    (ΔT − ΔC) — the quasi-experimental readout when randomization isn't
    available (staged rollouts, geo launches). Completes the
    experimentation trio: events_ab_power sizes, events_ab_cuped
    variance-reduces, events_did handles non-randomized designs.

    Determinism: per-user cents are exact integers, cell sums are int64,
    and every mean/difference is IEEE basic ops on exact integers —
    rounded only at the end. Same md5 salt-hash group assignment.

    Scale: one groupBy(user) with conditional partials + a 2-row rollup."""
    ev = load_events(spark, sf_dir)
    cut = F.lit("2024-01-16").cast("timestamp")
    grp = F.when(
        F.substring(
            F.md5(F.concat(F.lit("exp1-"), F.col("user_id").cast("string"))), 1, 1
        )
        < "8",
        "T",
    ).otherwise("C")
    cents = F.round(F.col("value") * 100).cast("long")
    per_user = ev.groupBy("user_id").agg(
        F.max(grp).alias("grp"),
        F.coalesce(
            F.sum(F.when((F.col("ts") < cut) & (F.col("event_type") == "purchase"), cents)),
            F.lit(0),
        ).alias("y_pre"),
        F.coalesce(
            F.sum(F.when((F.col("ts") >= cut) & (F.col("event_type") == "purchase"), cents)),
            F.lit(0),
        ).alias("y_post"),
    )
    isT = F.col("grp") == "T"
    wide = per_user.agg(
        F.sum(isT.cast("long")).alias("n_t"),
        F.sum((~isT).cast("long")).alias("n_c"),
        F.sum(F.when(isT, F.col("y_pre"))).alias("sp_t"),
        F.sum(F.when(~isT, F.col("y_pre"))).alias("sp_c"),
        F.sum(F.when(isT, F.col("y_post"))).alias("so_t"),
        F.sum(F.when(~isT, F.col("y_post"))).alias("so_c"),
    )
    pre_t = F.col("sp_t").cast("double") / F.col("n_t")
    pre_c = F.col("sp_c").cast("double") / F.col("n_c")
    post_t = F.col("so_t").cast("double") / F.col("n_t")
    post_c = F.col("so_c").cast("double") / F.col("n_c")
    t_ok, c_ok = F.col("n_t") > 0, F.col("n_c") > 0
    return wide.select(
        "n_t", "n_c",
        F.when(t_ok, F.round(pre_t, 4)).alias("pre_t"),
        F.when(c_ok, F.round(pre_c, 4)).alias("pre_c"),
        F.when(t_ok, F.round(post_t, 4)).alias("post_t"),
        F.when(c_ok, F.round(post_c, 4)).alias("post_c"),
        F.when(t_ok & c_ok, F.round((post_t - pre_t) - (post_c - pre_c), 4)).alias(
            "did_cents"
        ),
    )


@query(
    "events_time_to_convert",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             min(ts) FILTER (WHERE event_type = 'signup') AS t_signup,
             min(ts) FILTER (WHERE event_type = 'purchase') AS t_purchase
      FROM events GROUP BY user_id
    ),
    gaps AS (
      SELECT CAST(date_diff('second', t_signup, t_purchase) AS BIGINT) AS gap_s
      FROM firsts
      WHERE t_signup IS NOT NULL AND t_purchase IS NOT NULL
        AND t_purchase >= t_signup
    )
    SELECT count(*) AS n_converted,
           CAST(min(gap_s) AS BIGINT) AS min_s,
           quantile_cont(gap_s, 0.5) AS median_s,
           quantile_cont(gap_s, 0.9) AS p90_s,
           CAST(max(gap_s) AS BIGINT) AS max_s
    FROM gaps
    """,
)
def events_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: per user, the gap between FIRST
    signup and FIRST subsequent purchase, summarized as exact integer
    second quantiles — the activation-latency metric product teams page
    on. Gap seconds are exact integers (µs timestamps divide evenly);
    quantile interpolation is the agg_percentile_exact convention.

    Scale: one groupBy(user) with min-filters (map-side partials), one
    small rollup; no joins, no windows."""
    ev = load_events(spark, sf_dir)
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("t_signup"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "t_purchase"
        ),
    )
    gaps = firsts.filter(
        F.col("t_signup").isNotNull()
        & F.col("t_purchase").isNotNull()
        & (F.col("t_purchase") >= F.col("t_signup"))
    ).select(
        (
            F.unix_timestamp("t_purchase") - F.unix_timestamp("t_signup")
        ).alias("gap_s")
    )
    return gaps.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.min("gap_s").alias("min_s"),
        F.percentile("gap_s", F.lit(0.5)).alias("median_s"),
        F.percentile("gap_s", F.lit(0.9)).alias("p90_s"),
        F.max("gap_s").alias("max_s"),
    )
