"""Freshness gate for the committed full-registry selfcheck record.

The driver's per-round oracle samples only ~50 of the registry's keys;
SELFCHECK_r{N}.json (tools/selfcheck.py --report) is the only
full-registry driver-scale record. This gate fails CI whenever operator
code has been committed AFTER the newest committed selfcheck — i.e. the
record on disk no longer describes the engine — forcing a regeneration
every round (VERDICT r3 item 6).
"""

from __future__ import annotations

import glob
import os
import re
import subprocess

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _last_commit_ts(path: str) -> float:
    """Time of the newest change to ``path``. A path with staged,
    unstaged or untracked changes counts as newer than every commit: it
    will land in the next one, so a record regenerated alongside pending
    engine edits is fresh, and pending engine edits without a
    regenerated record are not."""
    pending = subprocess.check_output(
        ["git", "status", "--porcelain", "--", path], cwd=_REPO
    ).strip()
    if pending:
        return float("inf")
    out = subprocess.check_output(
        ["git", "log", "-1", "--format=%ct", "--", path], cwd=_REPO
    ).strip()
    return int(out) if out else 0


def test_committed_selfcheck_not_older_than_engine():
    reports = glob.glob(os.path.join(_REPO, "SELFCHECK_r*.json"))
    assert reports, "no SELFCHECK_r*.json committed — run tools/selfcheck.py --report"
    newest = max(
        reports, key=lambda p: int(re.search(r"r(\d+)", os.path.basename(p)).group(1))
    )
    t_engine = _last_commit_ts("backup_repo_spark")
    t_selfcheck = _last_commit_ts(os.path.basename(newest))
    assert t_selfcheck >= t_engine, (
        f"{os.path.basename(newest)} (committed {t_selfcheck}) predates the newest "
        f"engine commit ({t_engine}): regenerate with "
        f"`python tools/selfcheck.py --report SELFCHECK_rN.json` and commit it"
    )


def test_committed_plan_audit_not_older_than_engine():
    """PLAN_AUDIT.md is the machine-classified record of every batch
    plan's join/window shapes; a stale audit does not cover the shipped
    plans (this recurred in r4 the round after the selfcheck gate was
    built — VERDICT r4 item 2 extends the gate here)."""
    t_engine = _last_commit_ts("backup_repo_spark")
    t_audit = _last_commit_ts("PLAN_AUDIT.md")
    assert t_audit >= t_engine, (
        f"PLAN_AUDIT.md (committed {t_audit}) predates the newest engine "
        f"commit ({t_engine}): regenerate with `python tools/plan_sweep.py` "
        f"and commit it"
    )


def test_committed_scalesweep_not_older_than_engine():
    """The newest SCALESWEEP_r*.json must postdate the engine — r4
    shipped a pre-fix sweep that recorded already-fixed defects."""
    sweeps = glob.glob(os.path.join(_REPO, "SCALESWEEP_r*.json"))
    assert sweeps, "no SCALESWEEP_r*.json committed — run tools/scale_sweep.py"
    newest = max(
        sweeps, key=lambda p: int(re.search(r"r(\d+)", os.path.basename(p)).group(1))
    )
    t_engine = _last_commit_ts("backup_repo_spark")
    t_sweep = _last_commit_ts(os.path.basename(newest))
    assert t_sweep >= t_engine, (
        f"{os.path.basename(newest)} (committed {t_sweep}) predates the newest "
        f"engine commit ({t_engine}): regenerate and commit it"
    )
