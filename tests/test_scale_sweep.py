"""Unit test for scale_sweep's pure record rule: which keys the noop-sink
exoneration re-measures. No Spark session needed; the measurement half is
exercised by the sweep itself (SCALESWEEP_r{N}.json).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools"))

from scale_sweep import _noop_candidates  # noqa: E402


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

