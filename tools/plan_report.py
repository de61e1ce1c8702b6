"""Generate PLANS.md — formatted physical plans for the headline queries
with the scale-relevant properties called out (pushdown, broadcast,
exchange count, codegen coverage).

    python tools/plan_report.py > PLANS.md
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from backup_repo_spark import registry  # noqa: E402
from backup_repo_spark.plans.inspect import formatted_plan  # noqa: E402
from backup_repo_spark.session import get_spark  # noqa: E402

SHOWCASE = [
    ("agg_tpch_q1", "BENCH q_agg_lineitem — filter+group agg on the fact table"),
    ("topk_revenue", "BENCH q_join3_topk — 3-way join, top-10"),
    ("join_star_5way", "BENCH q_join5_agg — 6-table star join"),
    ("win_topn_per_group", "BENCH q_window_rank — rank window + filter"),
    ("stream_tumbling", "BENCH q_events_window — tumbling window agg"),
    ("agg_distinct", "BENCH q_distinct_users — distinct agg"),
    ("bulk_bucketed_join", "bucketed co-located fact join (zero join exchange)"),
    ("scan_dynamic_partition_pruning", "runtime DPP: dim filter prunes fact partitions"),
    ("llm_ann_partitioned", "multi-probe ANN: bucket layout prunes the corpus scan"),
    ("join_range_banded", "interval join as banded equi-join (no BNLJ)"),
    ("skyline_frontier", "skyline: local Arrow prune + broadcast anti-join"),
    ("llm_dedup_simhash_hamming", "SimHash Hamming band join (no cartesian)"),
    ("ml_decision_stump", "stump sweep: 9 candidates, ONE scan + one aggregate"),
    ("win_count_distinct", "windowed DISTINCT emulation: one shared exchange"),
    ("ml_auc_roc", "exact AUC: distinct-score rollup + bucketed prefix ranks"),
    ("join_bloom_filtered", "runtime Bloom filter: fact rows die pre-shuffle"),
    ("stats_mann_whitney", "rank test on the value HISTOGRAM, not rows"),
    ("stats_spearman", "two-phase bucketed ranks: no group-bound window"),
    ("ml_calibration_bins", "equal-frequency deciles with NO global ntile sort"),
    ("llm_pq_refine", "two-stage ANN: PQ shortlist + exact re-rank on codes"),
]


def props(plan: str) -> list[str]:
    out = []
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    real = [p for p in pushed if p.strip()]
    if real:
        out.append(f"pushed filters: {len(real)} scan(s) — e.g. `[{real[0][:90]}]`")
    for op, label in [
        ("BroadcastHashJoin", "broadcast hash join"),
        ("SortMergeJoin", "sort-merge join"),
        ("ShuffledHashJoin", "shuffled hash join"),
        ("BroadcastNestedLoopJoin", "broadcast nested loop"),
        ("CartesianProduct", "cartesian"),
        ("TakeOrderedAndProject", "TakeOrderedAndProject (top-k, no global sort)"),
        ("WindowGroupLimit", "WindowGroupLimit (rank pushed below exchange)"),
    ]:
        n = plan.count(op)
        if n:
            out.append(f"{label} ×{n}")
    if "dynamicpruning" in plan.lower():
        out.append("dynamic partition pruning: runtime subquery on fact scan")
    if "might_contain" in plan or "bloomfilter" in plan.lower():
        out.append(
            "runtime Bloom filter: BloomFilterAggregate subquery + "
            "might_contain probe on the fact side (pre-shuffle kill)"
        )
    n_ex = len(re.findall(r"\bExchange\b", plan))
    out.append(f"exchanges: {n_ex}")
    n_wsc = len(set(re.findall(r"WholeStageCodegen \((\d+)\)", plan)))
    if n_wsc:
        out.append(f"whole-stage codegen spans: {n_wsc}")
    return out


def main() -> None:
    spark = get_spark("plan-report", shuffle_partitions=8, adaptive=False)
    sf = "/root/testdata/sf0.1"
    print("# PLANS — physical-plan evidence for the headline queries")
    print()
    print("Generated by `python tools/plan_report.py` (sf0.1, bench profile:")
    print("shuffle=8, AQE off so the static plan is shown). Each section lists")
    print("the scale-relevant properties, then the formatted plan.")
    for key, title in SHOWCASE:
        plan = formatted_plan(registry.QUERIES[key](spark, sf))
        print(f"\n## {key} — {title}\n")
        # Operator counts come from the tree only — the detail section
        # repeats every node name and would double them. Pushed filters
        # appear only in the detail section, so take those from the full
        # text.
        tree = plan.split("\n\n")[0]
        pushed_info = [
            p
            for p in props(plan)
            if p.startswith(("pushed filters", "runtime Bloom filter"))
        ]
        tree_info = [
            p
            for p in props(tree)
            if not p.startswith(("pushed filters", "runtime Bloom filter"))
        ]
        for p in pushed_info + tree_info:
            print(f"- {p}")
        print("\n```\n" + tree + "\n```")


if __name__ == "__main__":
    main()
