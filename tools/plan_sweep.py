"""Registry-wide physical-plan anti-pattern sweep.

Builds (analysis only — nothing executes) the physical plan of EVERY
batch registry key and flags the scale anti-patterns:

- CartesianProduct / BroadcastNestedLoopJoin — quadratic joins,
- UNPARTITIONED Window nodes — `Window.orderBy(...)` with no partition
  key funnels every row through ONE task; safe only when the input is a
  bounded aggregate (bucket totals, k-group lists, constant threshold
  grids), a scale-killer when it grows with the data.

Deliberate exceptions are whitelisted WITH the reason, so the committed
report (PLAN_AUDIT.md) states: every non-whitelisted key is free of
quadratic join plans AND of unbounded single-partition windows —
machine-checked, not sampled.  Two auto-classifications mirror the
pervasive safe shapes: BNLJ whose build side is a keyless (1-row)
aggregate, and unpartitioned windows ordering by `_bkt` (the two-phase
prefix-sum helper's bucket-offset window, operators/prefix.py — rows =
bucket count by construction).

    python tools/plan_sweep.py > PLAN_AUDIT.md
"""

from __future__ import annotations

import os
import re
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from backup_repo_spark import registry  # noqa: E402
from backup_repo_spark.plans.inspect import formatted_plan  # noqa: E402
from backup_repo_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"

# key -> reason the flagged construct is deliberate
WHITELIST = {
    "join_cross": "B16: the cross-join operator itself",
    "join_nonequi_bnlj": "BNLJ demo key: non-equi predicate with no equi conjunct",
    "join_theta": "theta join with pure inequality predicate — BNLJ is the only strategy",
    "ml_decision_stump": "constant 9-row candidate list broadcast-crossed onto the scan",
    "ts_acf": "constant 7-row lag list broadcast-crossed onto the 30-row daily rollup",
    "ml_roc_points": "constant 11-row threshold list broadcast-crossed onto the scan",
    "skyline_frontier": "1-row aggregate broadcast (crossJoin(broadcast(tot)) pattern)",
    # tiny-constant-side broadcasts (audited by hand — build side bounded
    # by construction, not by data volume):
    "events_dau_wau": "<=30-row day-spine broadcast band-joined onto the rollup",
    "llm_sim_search": "1-row query vector (vec_id=0 filter) broadcast to the corpus",
    "llm_sim_search_incremental": "1-row query vector broadcast (delta refinement)",
    "llm_ann_recall": "k query vectors (fixed id filter) broadcast for the audit",
    "llm_contrastive_triplets": "anchor vectors (fixed id filter) broadcast",
    "llm_hard_negatives": "anchor vectors (fixed id filter) broadcast",
    "sort_keyset_pagination": "1-row cursor (keyset anchor) broadcast",
    "stats_kendall_tau": "value-grid pair join: <=50x~22-cell histogram BNLJ, "
    "bounded by the quantity x price-band grid, never by row count",
    "stats_kruskal_wallis": "1-row scalar broadcast (last cumulative row via "
    "rn==k filter — 1 row by construction, invisible to the keyless-agg rule)",
    "ts_mann_kendall": "daily-rollup pair join: <=30x30 calendar-bounded "
    "BNLJ (pair space never scales with row count)",
    "ts_theil_sen": "daily-rollup pair join: <=30x30 calendar-bounded BNLJ "
    "(slope pairs never scale with row count)",
}
# the crossJoin(broadcast(1-row-aggregate)) pattern is pervasive and safe;
# detect it by the build side being a broadcast of an aggregate.

# key -> reason its unpartitioned (ordered or OVER()) window is deliberate:
# every entry's window input is bounded by construction (a rollup whose
# cardinality is fixed by the schema/calendar/algorithm, or a top-k), so the
# single-task stage processes O(constant) rows at ANY data size.
WINDOW_WHITELIST = {
    "codec_sortkey": "order-equivalence PROOF key: globally ranking encoded "
    "vs raw key order is the declared semantics (verification demo)",
    "events_slo_burn": "ordered by day over the daily rollup (rows = days)",
    "llm_source_gini": "Lorenz cumulative over the per-source rollup "
    "(rows = corpus sources)",
    "llm_source_mixture": "OVER() total over the per-source rollup",
    "ml_decision_stump": "argmin window over the 9-row candidate-split list",
    "ml_lift_gains": "cumulative-gains window over the 10-row decile table "
    "(deciles themselves from ntile_nosort — no global sort)",
    "ml_psi_drift": "OVER() total over the <=12-row width_bucket bin table",
    "pareto_analysis": "window input pre-bounded to 100 rows by "
    "TakeOrderedAndProject",
    "llm_curriculum_order": "window input pre-bounded to 100 rows by "
    "TakeOrderedAndProject",
    "sort_keyset_pagination": "cursor-derivation window input pre-bounded "
    "to 40 rows by TakeOrderedAndProject",
    "stat_chi_square": "OVER() totals/marginals over the <=15-cell "
    "contingency table",
    "stats_kruskal_wallis": "k-group ordered cumulative (fixed-order float "
    "summation for cross-engine determinism) over the 5-row rank-sum table",
    "ts_cross_correlation": "ordered by hour over the hourly rollup",
    "ts_cusum_changepoint": "ordered by day over the daily rollup",
    "ts_distribution_drift": "ordered by day over the daily rollup",
    "ts_ewma": "EWMA recurrence over the daily rollup (rows = days; the "
    "recurrence is inherently sequential in its grid)",
    "ts_holt_linear": "day-index window over the daily rollup feeding the "
    "recursive Holt recursion (rows = days)",
}

# streaming keys build streaming DataFrames whose plans need a query start;
# they are exercised by the streaming tests instead.
SKIP_PREFIXES = ("stream_",)


def plan_of(df) -> str:
    """Formatted physical plan of `df`, CACHE-ROBUST: the session's
    CacheManager is cleared first so the sweep classifies the ENGINE's
    plan, never an `InMemoryRelation` substituted from whatever some
    earlier query happened to persist.  (VERDICT r5: a cached histogram
    hid a 1-row-aggregate build side inside an InMemoryTableScan and the
    BNLJ classifier false-positived 64 nodes on events_rfm — the gate
    only passed when run first.  A gate must not depend on run order.)

    SIDE EFFECT (ADVICE r6): clearCache() is session-global — it drops
    EVERY cached entry, including caches belonging to unrelated live
    results in the same session (e.g. another test's release_with-scoped
    result sharing the session fixture).  Those stay CORRECT (lineage
    recomputes) but lose their cache, so keep plan_of out of
    perf-sensitive paths and treat it as a diagnostics-only helper; a
    surgical alternative (uncache only entries referenced by df's plan)
    isn't worth the plan-walk while the only callers are the sweep gate
    and plan reports, which own their sessions."""
    df.sparkSession.catalog.clearCache()
    return formatted_plan(df)


def _bracket_groups(s: str) -> list[str]:
    """Split a formatted-plan Arguments value into its top-level
    [...] groups (bracket-depth aware — window exprs contain commas)."""
    groups, depth, cur = [], 0, []
    for ch in s:
        if ch == "[":
            depth += 1
            if depth == 1:
                cur = []
                continue
        elif ch == "]":
            depth -= 1
            if depth == 0:
                groups.append("".join(cur))
                continue
        if depth >= 1:
            cur.append(ch)
    return groups


def _tree_nodes(plan: str) -> list[tuple[int, int, str]]:
    """Parse the formatted plan's tree header into (node_id, depth, line)
    rows in print order.  Depth derives from the `+-`/`:-` marker column
    (3 columns per level); the root has no marker (depth 0)."""
    out = []
    for line in plan.split("\n\n")[0].split("\n"):
        m = re.search(r"\((\d+)\)\s*$", line)
        if m is None:
            continue
        mk = re.search(r"[+:]-", line)
        depth = (mk.start() // 3 + 1) if mk else 0
        out.append((int(m.group(1)), depth, line.strip()))
    return out


def _node_detail(plan: str, node_id: int) -> str:
    for block in plan.split("\n\n"):
        if block.startswith(f"({node_id}) "):
            return block
    return ""


def unsafe_bnlj_nodes(plan: str) -> list[str]:
    """Per-NODE BroadcastNestedLoopJoin classification (not per-plan): a
    BNLJ is auto-safe only when ITS OWN build-side subtree bottoms out in
    a keyless (1-row) aggregate or a LocalTableScan (constant literal
    list) — the engine's crossJoin(broadcast(tiny)) idioms.  Everything
    else is a data-dependent nested loop and needs the whitelist."""
    nodes = _tree_nodes(plan)
    unsafe = []
    for i, (nid, depth, line) in enumerate(nodes):
        if "BroadcastNestedLoopJoin" not in line:
            continue
        # children in print order: left subtree first, then right
        subtrees: list[list[tuple[int, int, str]]] = []
        for j in range(i + 1, len(nodes)):
            cid, cdepth, cline = nodes[j]
            if cdepth <= depth:
                break
            if cdepth == depth + 1:
                subtrees.append([])
            if subtrees:
                subtrees[-1].append(nodes[j])
        build = (
            subtrees[-1]
            if "BuildRight" in line or len(subtrees) < 2
            else subtrees[0]
        )
        safe = False
        for cid, _, cline in build:
            # constant build sides: literal rows, or a literal-bounded
            # Range scan (spark.range(a, b) lag/threshold lists)
            if "LocalTableScan" in cline or re.match(r".*\bRange \(", cline):
                safe = True
                break
            if "HashAggregate" in cline and (
                "Keys: []" in _node_detail(plan, cid)
                or "Keys []" in _node_detail(plan, cid)
            ):
                safe = True
                break
        if not safe:
            unsafe.append(line)
    return unsafe


def unpartitioned_windows(plan: str) -> list[str]:
    """Return a descriptor for every Window node with an EMPTY partition
    spec — the single-task funnel hazard.  Formatted-plan Arguments carry
    [exprs], [partition], [order]; empty specs are omitted, so:
    3 groups = partitioned (safe); 2 groups whose last group has no
    ASC/DESC = partition-only, no order (safe — still parallel); 2 groups
    ending in a sort direction = UNPARTITIONED ordered window; 1 group =
    `OVER ()` global-frame window (unpartitioned, orderless)."""
    out = []
    for block in plan.split("\n\n"):
        lines = block.split("\n")
        if not (lines and lines[0].startswith("(") and lines[0].rstrip().endswith("Window")):
            continue
        args = next((l for l in lines if l.startswith("Arguments: ")), None)
        if args is None:
            continue
        groups = _bracket_groups(args[len("Arguments: "):])
        if len(groups) >= 3:
            continue  # partitioned
        if len(groups) == 2:
            last = groups[-1]
            if " ASC" in last or " DESC" in last:
                out.append(last)  # unpartitioned ordered window
            continue  # partition spec present, no order — parallel
        if groups:
            out.append("<over()> " + groups[0][:60])
    return out


def split_auto_safe_windows(orders: list[str]) -> tuple[list[str], int]:
    """Partition unpartitioned-window order specs into (needs-review,
    auto-safe count): ordering by `_bkt` is the prefix-sum helper's
    bucket-offset window — input rows = bucket count by construction."""
    unsafe = [o for o in orders if not o.startswith("_bkt#")]
    return unsafe, len(orders) - len(unsafe)


def audit(spark, sf_dir: str) -> dict:
    """Build every batch key's plan and classify its quadratic joins and
    unpartitioned windows. Returns the keys per class (``flagged`` and
    ``win_flagged`` are the non-whitelisted ones), ``n_win_auto``,
    ``n_checked`` and ``errors`` (one line per key whose plan failed to
    build)."""
    flagged: dict[str, list[str]] = {}
    whitelisted: dict[str, list[str]] = {}
    auto: dict[str, list[str]] = {}
    win_flagged: dict[str, list[str]] = {}
    win_whitelisted: dict[str, list[str]] = {}
    n_win_auto = 0
    errors: list[str] = []
    n_checked = 0
    for name in sorted(registry.QUERIES):
        if name.startswith(SKIP_PREFIXES):
            continue
        try:
            plan = plan_of(registry.QUERIES[name](spark, sf_dir))
        except Exception:
            errors.append(f"{name}: {traceback.format_exc(limit=0).splitlines()[-1]}")
            continue
        n_checked += 1
        hits = []
        if "CartesianProduct" in plan:
            hits.append("CartesianProduct")
        if "BroadcastNestedLoopJoin" in plan:
            # Per-NODE classification: a BNLJ whose own build subtree is a
            # keyless (1-row) aggregate or a constant LocalTableScan is the
            # engine's safe crossJoin(broadcast(tiny)) idiom; any other
            # BNLJ node needs the explicit whitelist.
            unsafe = unsafe_bnlj_nodes(plan)
            if unsafe:
                hits.extend(f"BNLJ[{u}]" for u in unsafe)
            else:
                auto[name] = ["all BNLJ nodes have 1-row/constant build sides"]
        if hits:
            (whitelisted if name in WHITELIST else flagged)[name] = hits
        wins, n_auto = split_auto_safe_windows(unpartitioned_windows(plan))
        n_win_auto += n_auto
        if wins:
            (win_whitelisted if name in WINDOW_WHITELIST else win_flagged)[
                name
            ] = wins
    return {
        "flagged": flagged, "whitelisted": whitelisted, "auto": auto,
        "win_flagged": win_flagged, "win_whitelisted": win_whitelisted,
        "n_win_auto": n_win_auto, "errors": errors, "n_checked": n_checked,
    }


def main() -> None:
    spark = get_spark("plan-sweep", shuffle_partitions=4)
    r = audit(spark, SF_DIR)
    flagged, whitelisted, auto = r["flagged"], r["whitelisted"], r["auto"]
    win_flagged, win_whitelisted = r["win_flagged"], r["win_whitelisted"]
    n_win_auto, errors, n_checked = r["n_win_auto"], r["errors"], r["n_checked"]
    print("# PLAN_AUDIT — registry-wide quadratic-join + global-window sweep\n")
    # Provenance stamp: the engine commit the record audited, so a reader
    # can tell whether it is stale.
    import subprocess

    try:
        sha = subprocess.check_output(
            ["git", "rev-parse", "--short", "HEAD"],
            cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            text=True,
        ).strip()
    except Exception:  # noqa: BLE001
        sha = "unknown"
    print(f"Generated at engine commit {sha}.\n")
    print(f"Checked {n_checked} batch keys (streaming keys exercised by their")
    print("own tests). Anti-patterns searched: CartesianProduct,")
    print("BroadcastNestedLoopJoin, unpartitioned Window (ordered or OVER()).\n")
    print(f"## Non-whitelisted quadratic-join flags: {len(flagged)}\n")
    for k, v in sorted(flagged.items()):
        print(f"- **{k}**: {', '.join(v)}")
    print(f"\n## Auto-classified safe (1-row-aggregate broadcast): {len(auto)}\n")
    for k in sorted(auto):
        print(f"- {k}")
    print(f"\n## Whitelisted joins (deliberate): {len(whitelisted)}\n")
    for k, v in sorted(whitelisted.items()):
        print(f"- {k}: {', '.join(v)} — {WHITELIST[k]}")
    print(f"\n## Non-whitelisted unpartitioned-window flags: {len(win_flagged)}\n")
    for k, v in sorted(win_flagged.items()):
        print(f"- **{k}**: {'; '.join(v)}")
    print(
        f"\n## Auto-classified safe windows (bucket-offset `_bkt` prefix "
        f"windows, rows = bucket count): {n_win_auto} across the registry\n"
    )
    print(f"\n## Whitelisted windows (bounded input, reason given): {len(win_whitelisted)}\n")
    for k in sorted(win_whitelisted):
        print(f"- {k}: {WINDOW_WHITELIST[k]}")
    if errors:
        print(f"\n## Plan-build errors: {len(errors)}\n")
        for e in errors:
            print(f"- {e}")
    sys.exit(1 if flagged or win_flagged else 0)


if __name__ == "__main__":
    main()
