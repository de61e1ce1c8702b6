"""Unit tests for scale_sweep's pure record rules: which keys the noop-sink
exoneration re-measures, and how a --merge-into run carries the base
record's noop stamps. No Spark session needed; the measurement half is
exercised by the sweep itself (SCALESWEEP_r{N}.json).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools"))

from scale_sweep import _merge_stamps, _noop_candidates  # noqa: E402


def test_noop_candidates_selects_over_8x_without_err_or_stamp():
    results = {
        "big_collect": {"ratio": 18.4},          # flagged
        "fine": {"ratio": 7.9},                  # under threshold
        "broken": {"ratio": 9.0, "err": "boom"}, # errored: skip
        "done": {"ratio": 12.0, "noop": {"ratio": 1.1}},  # already stamped
        "edge": {"ratio": 8.0},                  # exactly 8x: NOT flagged (>)
    }
    assert _noop_candidates(results) == ["big_collect"]
    assert _noop_candidates(results, threshold=5.0) == ["big_collect", "edge", "fine"]


def test_merge_stamps_preserves_full_run_adjudication():
    """round 9: a --keys --merge-into re-measure rewrote the record with
    no noop list, erasing the full sweep's noop adjudication. The merge
    rule must carry the base record's stamps forward and union any new
    ones."""
    prior = {"noop_exonerated": ["x", "y"]}
    # merge run adjudicated nothing (the common single-key re-measure)
    assert _merge_stamps(prior, None, set()) == ["x", "y"]
    # merge run adjudicated something of its own: both kept
    assert _merge_stamps(prior, ["z"], set()) == ["x", "y", "z"]
    # no prior stamps at all: the merge run's own stamps pass through
    assert _merge_stamps({}, ["z"], set()) == ["z"]


def test_merge_stamps_drops_adjudications_of_remeasured_keys():
    """A key the merge run itself re-measured has a brand-new entry — the
    base record's noop adjudication no longer describes it and must not
    be carried forward."""
    prior = {"noop_exonerated": ["a", "x"]}
    assert _merge_stamps(prior, None, {"a"}) == ["x"]
    # every previously-stamped key re-measured: only the run's own stamps
    assert _merge_stamps(prior, ["a"], {"a", "b", "x"}) == ["a"]
