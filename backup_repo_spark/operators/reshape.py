"""Reshape & sampling surface — pivot/unpivot, crosstab, deterministic
sampling, lateral join.

Reference parity: none of these exist in Astro (Spark 1.4 had no
pivot/unpivot/lateral); they are part of the modern Spark SQL surface a user
switching from the reference to this engine gets for free, and the driver
brief's "complete relational surface" requires them.

Scale notes (100 TB): pivot with an explicit value list compiles to one
hash aggregate with N conditional columns — one shuffle, no per-value scans.
Unpivot (melt) is a generator projection: zero shuffles, output is |values|×
input rows, so at scale prefer unpivoting AFTER filtering/aggregation.
Hash-based sampling pushes to the scan (deterministic, repartition-safe,
re-runnable — unlike rand()-based sampling which resamples per task retry).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from backup_repo_spark.registry import query
from backup_repo_spark.session import base_sql, load_table


@query(
    "agg_pivot",
    oracle="""
    SELECT l_returnflag,
           round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS O,
           round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS F
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long→wide): quantity by returnflag × linestatus. The explicit
    value list ["O","F"] keeps it a single-pass aggregate (no extra job to
    discover distinct values — important at 100 TB)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.sum("l_quantity"), 2))
        .orderBy("l_returnflag")
    )


@query(
    "reshape_unpivot",
    oracle="""
    SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS val
    FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
    """,
)
def reshape_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot / melt (wide→long): three measure columns into (measure, val)
    rows. Pure projection+generate — no shuffle. Values are projected raw
    (per-row doubles are bit-identical across engines; FIXTURES.md hazard 2
    applies only to aggregates)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_quantity", "l_discount", "l_tax"],
        variableColumnName="measure",
        valueColumnName="val",
    )


@query(
    "stat_crosstab",
    oracle="""
    SELECT CAST(l_returnflag AS VARCHAR) AS l_returnflag_l_linestatus,
           CAST(sum(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS O,
           CAST(sum(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS F
    FROM lineitem GROUP BY l_returnflag
    """,
)
def stat_crosstab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contingency table via df.stat.crosstab — the DataFrameStatFunctions
    surface (Spark's built-in EDA ops)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.stat.crosstab("l_returnflag", "l_linestatus")


@query(
    "sample_hash",
    oracle="""
    SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS total
    FROM orders
    WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) IN ('0', '1')
    GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~12.5% hash sample (md5 first hex digit ∈ {0,1}).
    Unlike df.sample()/TABLESAMPLE (rand-based: partitioning- and
    retry-dependent), a key-hash sample is reproducible across engines,
    cluster sizes, and task retries — the correct way to subsample 100 TB
    for a sketch pipeline. md5 chosen because it is engine-independent."""
    o = load_table(spark, sf_dir, "orders")
    sampled = o.filter(
        F.expr("substr(md5(cast(o_orderkey as string)), 1, 1)").isin("0", "1")
    )
    return (
        sampled.groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total"))
        .orderBy("o_orderstatus")
    )


@query(
    "sample_stratified",
    oracle="""
    SELECT l_returnflag, CAST(count(*) AS BIGINT) AS stratum_total,
           TRUE AS frac_within_tol
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling via df.stat.sampleBy — different fraction per
    stratum (the class-rebalancing pattern for training-data pipelines).

    The sampled COUNT is rand(seed)-per-partition, so it varies with the
    physical partitioning by design and can't be oracled directly. The
    oracled BOUNDS CONTRACT instead: exact stratum totals (the anchor)
    plus a boolean asserting the realized sampling fraction lands within
    ±20% relative of its target — a >5σ-wide band for binomial sampling
    at these stratum sizes, so any real sampling defect (wrong fraction,
    wrong stratum routing) turns the driver gate red while partitioning
    noise never does. The deterministic exact-k counterpart is
    `sample_stratified_det`."""
    li = load_table(spark, sf_dir, "lineitem")
    fracs = {"R": 0.2, "A": 0.1, "N": 0.05}
    sampled = li.stat.sampleBy("l_returnflag", fracs, seed=42)
    n_samp = sampled.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n"))
    totals = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("stratum_total")
    )
    target = F.create_map(
        *[F.lit(x) for kv in fracs.items() for x in kv]
    )[F.col("l_returnflag")]
    return (
        totals.join(n_samp, "l_returnflag", "left")
        .select(
            "l_returnflag",
            "stratum_total",
            (
                F.abs(
                    F.coalesce(F.col("n"), F.lit(0)) / F.col("stratum_total") - target
                )
                <= 0.2 * target
            ).alias("frac_within_tol"),
        )
        .orderBy("l_returnflag")
    )


_LATERAL = """
    SELECT r.r_name, t.n_nations, t.top_nationkey
    FROM region r,
    LATERAL (
      SELECT count(*) AS n_nations, max(n_nationkey) AS top_nationkey
      FROM nation WHERE n_regionkey = r.r_regionkey
    ) t
    ORDER BY r.r_name
"""


@query("join_lateral", oracle=_LATERAL)
def join_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery in the FROM clause — per-outer-row
    aggregate. Catalyst decorrelates it into an aggregate + join on the
    correlation key (no per-row re-execution), so it scales like a join."""
    return base_sql(spark, sf_dir, ["region", "nation"], _LATERAL)


@query(
    "stat_freq_approx",
    oracle="""
    SELECT TRUE AS q25_rank_ok, TRUE AS q50_rank_ok, TRUE AS q75_rank_ok,
           TRUE AS freq_superset_ok,
           CAST((SELECT count(*) FROM (
             SELECT l_returnflag FROM lineitem GROUP BY l_returnflag
             HAVING count(*) > 0.2 * (SELECT count(*) FROM lineitem)
           )) AS BIGINT) AS n_true_frequent
    """,
)
def stat_freq_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrameStatFunctions surface: approxQuantile (Greenwald-Khanna
    sketch — one pass, bounded memory, merges across partitions) and
    freqItems (heavy hitters). Both are THE 100 TB substitutes for exact
    sort-based quantiles / exact top-k.

    Sketch outputs aren't bit-reproducible cross-engine, so the oracle is
    a BOUNDS CONTRACT on the algorithms' published guarantees: each
    approxQuantile(p, err=0.01) result must have exact rank within
    [(p-err)N, (p+err)N] (checked by counting rows below/at the returned
    value), and the freqItems list must be a SUPERSET of the items with
    true frequency > support (the one-sided Karp guarantee). The oracle
    asserts all four booleans TRUE plus the exact count of truly-frequent
    items — any sketch regression turns the driver gate red."""
    li = load_table(spark, sf_dir, "lineitem")
    probs, err = [0.25, 0.5, 0.75], 0.01
    q = li.stat.approxQuantile("l_extendedprice", probs, err)
    freq = set(li.stat.freqItems(["l_returnflag"], 0.2).collect()[0][0])
    counts = li.agg(
        F.count(F.lit(1)).alias("N"),
        *[
            c
            for i, qi in enumerate(q)
            for c in (
                F.count_if(F.col("l_extendedprice") <= qi).alias(f"le{i}"),
                F.count_if(F.col("l_extendedprice") < qi).alias(f"lt{i}"),
            )
        ],
    ).collect()[0]
    n_rows = counts["N"]
    rank_ok = [
        counts[f"le{i}"] >= (p - err) * n_rows - 1
        and counts[f"lt{i}"] <= (p + err) * n_rows + 1
        for i, p in enumerate(probs)
    ]
    true_freq = [
        r.l_returnflag
        for r in li.groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 0.2 * n_rows)
        .collect()
    ]
    return spark.createDataFrame(
        [
            (
                rank_ok[0],
                rank_ok[1],
                rank_ok[2],
                set(true_freq) <= freq,
                len(true_freq),
            )
        ],
        schema="q25_rank_ok BOOLEAN, q50_rank_ok BOOLEAN, q75_rank_ok BOOLEAN, "
        "freq_superset_ok BOOLEAN, n_true_frequent BIGINT",
    )


@query(
    "sql_modern_syntax",
    oracle="""
    SELECT * EXCLUDE (avg_disc)
    FROM (
      SELECT l_returnflag, l_linestatus, count(*) AS n,
             round(sum(l_quantity), 2) AS qty, avg(l_discount) AS avg_disc
      FROM lineitem GROUP BY ALL
    ) ORDER BY l_returnflag, l_linestatus
    """,
)
def sql_modern_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modern SQL conveniences: GROUP BY ALL (group on every non-aggregate
    select item) and star-EXCEPT projection (Spark `* EXCEPT (...)` ≡
    DuckDB `* EXCLUDE (...)`)."""
    return base_sql(
        spark, sf_dir, ["lineitem"],
        """
        SELECT * EXCEPT (avg_disc)
        FROM (
          SELECT l_returnflag, l_linestatus, count(*) AS n,
                 round(sum(l_quantity), 2) AS qty, avg(l_discount) AS avg_disc
          FROM lineitem GROUP BY ALL
        ) ORDER BY l_returnflag, l_linestatus
        """
    )


@query(
    "sql_cluster_by",
    oracle="""
    SELECT c_nationkey, c_custkey, c_mktsegment FROM customer
    """,
)
def sql_cluster_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTE BY + SORT BY — the SQL spelling of repartition(key) +
    sortWithinPartitions (Astro's region-aligned layout as a query clause).
    Global row SET is unchanged (the oracle is the plain projection; the
    driver's value-hash is order-insensitive); what changes is physical
    placement: rows co-located by nation and locally sorted."""
    return base_sql(
        spark, sf_dir, ["customer"],
        """
        SELECT c_nationkey, c_custkey, c_mktsegment FROM customer
        DISTRIBUTE BY c_nationkey SORT BY c_nationkey, c_custkey
        """
    )


@query(
    "sample_weighted_det",
    oracle="""
    WITH keyed AS (
      SELECT doc_id, source, n_chars,
             round(-ln((CAST(('0x' || substring(md5('ws-' || doc_id), 1, 4))
                             AS INTEGER) + 1) / 65536.0) / n_chars, 9) AS k
      FROM documents
    )
    SELECT doc_id, source, CAST(n_chars AS BIGINT) AS weight
    FROM keyed ORDER BY k, doc_id LIMIT 20
    """,
)
def sample_weighted_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement, deterministic: the
    Efraimidis–Spirakis A-Res scheme (public algorithm) with the uniform
    drawn from a salted md5 of the key instead of a PRNG — key =
    −ln(u)/weight, take the k smallest. Distributed shape: map-only key
    computation + TakeOrderedAndProject (each partition ships its local
    top-k; no shuffle of the corpus) — the standard way to draw a
    quality-weighted training subsample reproducibly across engines,
    partitionings, and retries. Weight = n_chars (longer docs more
    likely). Same formula in the oracle → identical sample. The key is
    rounded to 9 decimals before the ORDER BY/LIMIT so a 1-ulp ln()
    divergence between libm implementations cannot flip the rank-20
    selection boundary (doc_id breaks any residual tie exactly)."""
    d = load_table(spark, sf_dir, "documents")
    u = (
        F.conv(F.substring(F.md5(F.concat(F.lit("ws-"), F.col("doc_id"))), 1, 4), 16, 10)
        .cast("int") + 1
    ) / 65536.0
    key = F.round(-F.log(u) / F.col("n_chars"), 9)
    return (
        d.select("doc_id", "source", F.col("n_chars").cast("bigint").alias("weight"),
                 key.alias("k"))
        .orderBy("k", "doc_id")
        .limit(20)
        .drop("k")
    )


@query(
    "sample_stratified_det",
    oracle="""
    WITH ranked AS (
      SELECT l_returnflag, l_orderkey, l_linenumber, l_quantity,
             row_number() OVER (
               PARTITION BY l_returnflag
               ORDER BY md5(l_orderkey || '-' || l_linenumber), l_orderkey,
                        l_linenumber) AS rn
      FROM lineitem
    )
    SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
           round(sum(l_quantity), 2) AS qty,
           CAST(min(l_orderkey) AS BIGINT) AS first_key
    FROM ranked WHERE rn <= 50
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def sample_stratified_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling, equal allocation: exactly k=50
    rows per stratum, chosen by md5-hash order of the row key — the
    reproducible counterpart to rand-based sampleBy (sample_stratified).
    One window shuffle on the stratum key; hash order is uniform, so the
    sample is unbiased, and identical across engines, partitionings, and
    retries — the property an auditable eval-set draw needs."""
    from pyspark.sql.window import Window

    li = load_table(spark, sf_dir, "lineitem")
    h = F.md5(F.concat_ws("-", "l_orderkey", "l_linenumber"))
    w = Window.partitionBy("l_returnflag").orderBy(h, "l_orderkey", "l_linenumber")
    return (
        li.select("l_returnflag", "l_orderkey", "l_linenumber", "l_quantity",
                  F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 50)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("qty"),
            F.min("l_orderkey").cast("bigint").alias("first_key"),
        )
        .orderBy("l_returnflag")
    )
