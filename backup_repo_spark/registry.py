"""Query registry — the driver-contract backbone.

Every operator from SURVEY.md §2 ships as one registered query:
a callable ``(spark, sf_dir) -> DataFrame`` plus (where SQL-expressible)
a DuckDB oracle SQL string. ``__spark_entry__.queries()`` /
``oracle_sql()`` are thin views over this registry.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query under ``name``; ``oracle`` is equivalent DuckDB SQL
    (omit for non-SQL-expressible ops → driver does a rows-only check)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query key: {name}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = " ".join(oracle.split())
        return fn

    return deco
