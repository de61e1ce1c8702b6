"""Physical-plan inspection — the engine's `explain` surface.

Astro's observable optimizer behavior (pushdown classification, range
pruning, partial aggregation — SURVEY.md §4) maps to properties of Spark's
formatted plan; this module extracts them so tests, docs, and humans can
check that a query's plan has the shape it should.

CLI:
    python -m backup_repo_spark.plans.inspect agg_tpch_q1 [sf_dir]
    python -m backup_repo_spark.plans.inspect --all           # one-line summary per query
"""

from __future__ import annotations

import sys

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def plan_features(df: DataFrame) -> dict[str, bool | int]:
    """Scale-relevant plan properties (see tests/test_plans.py for the
    per-operator assertions)."""
    plan = formatted_plan(df)
    pushed = "PushedFilters: [" in plan and "PushedFilters: []" not in plan
    return {
        "pushed_filters": pushed,
        "partition_filters": "PartitionFilters: [" in plan
        and "PartitionFilters: []" not in plan,
        "broadcast_joins": plan.count("BroadcastHashJoin"),
        "sortmerge_joins": plan.count("SortMergeJoin"),
        "shuffledhash_joins": plan.count("ShuffledHashJoin"),
        "exchanges": plan.count("Exchange"),
        "hash_aggregates": plan.count("HashAggregate"),
        "take_ordered": "TakeOrderedAndProject" in plan,
        "python_stages": plan.count("ArrowEvalPython")
        + plan.count("MapInPandas")
        + plan.count("FlatMapGroupsInPandas")
        + plan.count("BatchEvalPython"),
    }


def main() -> int:
    sys.path.insert(0, ".")
    from backup_repo_spark import registry
    from backup_repo_spark.session import DEFAULT_SF_DIR, get_spark

    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    show_all = "--all" in sys.argv
    spark = get_spark("plan-inspect")
    if show_all:
        for name in sorted(registry.QUERIES):
            try:
                feats = plan_features(registry.QUERIES[name](spark, DEFAULT_SF_DIR))
                flags = " ".join(f"{k}={v}" for k, v in feats.items() if v)
                print(f"{name:28s} {flags}")
            except Exception as e:  # noqa: BLE001
                print(f"{name:28s} ERROR {type(e).__name__}")
        return 0
    name = args[0]
    if name not in registry.QUERIES:
        print(f"unknown query {name!r}; known keys:\n  " + "\n  ".join(sorted(registry.QUERIES)))
        return 2
    sf_dir = args[1] if len(args) > 1 else DEFAULT_SF_DIR
    df = registry.QUERIES[name](spark, sf_dir)
    print(formatted_plan(df))
    print("features:", plan_features(df))
    return 0


if __name__ == "__main__":
    sys.exit(main())
