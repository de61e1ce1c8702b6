"""CI gate for the registry-wide plan sweep: any NEW CartesianProduct,
non-whitelisted BroadcastNestedLoopJoin, OR non-whitelisted unpartitioned
Window (the single-task funnel hazard) in any batch key's physical plan
fails this test, and so does a plan that fails to build. The test and
tools/plan_sweep.py's report (PLAN_AUDIT.md) share one classifier,
``plan_sweep.audit``.  Marked slow (~2-3 min: builds all batch plans,
executes nothing).
"""

from __future__ import annotations

import pytest

from backup_repo_spark import registry
from tools.plan_sweep import (
    audit,
    plan_of,
    split_auto_safe_windows,
    unpartitioned_windows,
    unsafe_bnlj_nodes,
)
from tests.conftest import SF_DIR


@pytest.mark.slow
def test_no_unexplained_quadratic_joins_or_global_windows(spark):
    r = audit(spark, SF_DIR)
    assert not r["errors"], f"plans that failed to build: {r['errors']}"
    flagged = (r["flagged"], r["win_flagged"])
    assert flagged == ({}, {}), f"scale anti-patterns without whitelist entry: {flagged}"


def test_sweep_is_cache_robust_after_materialization(spark):
    """Regression for VERDICT r5 "What's wrong" #1: materializing
    events_rfm used to leave ntile_nosort's histogram persist in the
    CacheManager; the next sweep of events_rfm then saw InMemoryTableScan
    build sides it could not classify and false-positived 64 BNLJ nodes.
    The fixed gate (clearCache inside plan_of) and the scoped persists
    (caching.release_with) must each keep the sweep clean — materialize
    FIRST, sweep SECOND, expect zero unsafe nodes."""
    df = registry.QUERIES["events_rfm"](spark, SF_DIR)
    df.count()  # warms whatever caches the key creates
    plan = plan_of(registry.QUERIES["events_rfm"](spark, SF_DIR))
    assert unsafe_bnlj_nodes(plan) == []
    wins, _ = split_auto_safe_windows(unpartitioned_windows(plan))
    assert wins == []
