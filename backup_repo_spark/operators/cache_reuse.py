"""Explicit caching: one cached intermediate feeding two branches."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from backup_repo_spark.registry import query
from backup_repo_spark.session import load_table


@query(
    "cache_reuse",
    oracle="""
    WITH rev AS (
      SELECT o_custkey, round(sum(o_totalprice), 2) AS r
      FROM orders GROUP BY o_custkey
    )
    SELECT hi.n AS n_high, lo.n AS n_low
    FROM (SELECT count(*) AS n FROM rev WHERE r > 1000000) hi,
         (SELECT count(*) AS n FROM rev WHERE r <= 1000000) lo
    """,
)
def cache_reuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit caching: a per-customer revenue aggregate is .cache()d and
    consumed by TWO downstream branches — the second branch reads the
    InMemoryRelation (columnar, compressed) instead of recomputing the
    scan+shuffle. The cache is unpersisted before returning (caches pin
    executor memory; at 100 TB cache only reused, filtered intermediates).
    """
    o = load_table(spark, sf_dir, "orders")
    rev = (
        o.groupBy("o_custkey")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("r"))
        .cache()
    )
    try:
        hi = rev.filter(F.col("r") > 1000000).agg(F.count(F.lit(1)).alias("n_high"))
        lo = rev.filter(F.col("r") <= 1000000).agg(F.count(F.lit(1)).alias("n_low"))
        result = hi.crossJoin(lo)
        result = spark.createDataFrame(result.collect(), result.schema)
    finally:
        rev.unpersist()
    return result
