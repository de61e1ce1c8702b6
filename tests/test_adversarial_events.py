"""Adversarial-events differential tests.

The synthetic events table has well-spread microsecond-unique timestamps,
so the event-analytics keys' hardest branches never fire: simultaneous
events (ordering ties), gaps of EXACTLY the session threshold, events on
exact hour/day boundaries, single-event users, days with one row. This
harness stages an events table that is nothing but those cases and runs
the branch-heavy events/timeseries/window keys through the driver's
Spark-vs-DuckDB comparison. Divergence = a real tie-break or boundary
semantics gap between the engine query and its oracle.

The staged file stores TIMESTAMP(MICROS), like the testdata; the loader's
TIMESTAMP(NANOS) branch has its own test below.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import duckdb
import pytest

from backup_repo_spark import registry
from backup_repo_spark.session import TABLES
from backup_repo_spark.testing import compare, hard_problems
from tests.conftest import SF_DIR

_T0 = datetime(2024, 1, 10, 0, 0, 0)


def _mk_events():
    rows = []
    eid = [0]

    def add(ts, user, etype, value):
        rows.append((eid[0], ts, user, etype, value, '{"k": 1}'))
        eid[0] += 1

    # user 1: burst of 5 events at the SAME instant (ordering ties), then
    # another event exactly 1 hour later (hour-boundary window edge)
    burst = _T0 + timedelta(hours=9, minutes=15)
    for et in ["view", "click", "view", "purchase", "click"]:
        add(burst, 1, et, 10.0)
    add(burst + timedelta(hours=1), 1, "purchase", 5.5)

    # user 2: a single event ever (lag/lead NULL edges, 1-session user)
    add(_T0 + timedelta(hours=3), 2, "signup", 1.0)

    # user 3: events spaced EXACTLY 30 minutes apart (the session-gap
    # threshold: '< 30 min' vs '<= 30 min' disagreements surface here)
    t = _T0 + timedelta(days=1, hours=8)
    for i in range(4):
        add(t + timedelta(minutes=30 * i), 3, "click", 2.0)

    # user 4: events straddling midnight exactly (day-rollup boundary),
    # including value 0.0 and a large value
    add(_T0 + timedelta(days=2) - timedelta(seconds=1), 4, "purchase", 0.0)
    add(_T0 + timedelta(days=2), 4, "purchase", 9999.99)
    add(_T0 + timedelta(days=2, seconds=1), 4, "error", 3.0)

    # user 5: same-ts tie across TWO users (4 also has an event then)
    add(_T0 + timedelta(days=2), 5, "view", 7.0)
    # purchases on a third day so daily series have >2 points
    add(_T0 + timedelta(days=3, hours=12), 5, "purchase", 42.0)
    add(_T0 + timedelta(days=3, hours=12, minutes=1), 5, "purchase", 43.0)
    return rows


_EVENTS_KEYS = [
    "events_funnel",
    "events_scd2",
    "events_attribution",
    "events_markov",
    "events_path_analysis",
    "events_dau_wau",
    "events_concurrency",
    "events_new_returning",
    "win_gaps_islands",
    "win_value_runs",
    "ts_daily_ohlc",
    "ts_inter_event_gaps",
    "ts_resample_gapfill",
    "ts_cusum_changepoint",
    "ts_distribution_drift",
    "ts_ewma",
    # round-3 additions: degenerate-input guards (empty arms, zero-variance
    # lags, single-user periods) must yield IDENTICAL nulls/filtered rows
    "ts_acf",
    "events_ab_cuped",
    "events_did",
    "events_ab_power",
    "win_count_distinct",
    # round-4 trend family: constant series (zero variance / all-tied
    # pairs) must NULL identically, never raise or diverge
    "ts_mann_kendall",
    "ts_theil_sen",
    "ts_pacf",
    "ts_holt_linear",
]


@pytest.fixture(scope="module")
def adv_ev_dir(tmp_path_factory):
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("adv_ev_sf")
    rows = _mk_events()
    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": [r[3] for r in rows],
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": [r[5] for r in rows],
        }
    )
    pq.write_table(tbl, str(d / "events.parquet"))
    for t in TABLES:
        if t != "events":
            os.symlink(f"{SF_DIR}/{t}.parquet", str(d / f"{t}.parquet"))
    return str(d)


@pytest.fixture(scope="module")
def adv_ev_duck(adv_ev_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{adv_ev_dir}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", _EVENTS_KEYS)
def test_events_key_on_adversarial_events(name, spark, adv_ev_dir, adv_ev_duck):
    spark_pdf = registry.QUERIES[name](spark, adv_ev_dir).toPandas()
    duck_pdf = adv_ev_duck.execute(registry.ORACLES[name]).fetchdf()
    problems = hard_problems(compare(spark_pdf, duck_pdf))
    assert not problems, f"{name} diverges on adversarial events: {problems}"


def test_nanos_events_file_takes_the_bigint_branch(spark, tmp_path):
    """A ``timestamp[ns]`` events file reads as bigint nanos in the engine's
    session (``nanosAsLong`` at build time), so ``load_table`` takes its
    ``timestamp_micros(ts DIV 1000)`` branch; it must land on the same
    instants as the ``timestamp[us]`` file (the testdata's unit)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from backup_repo_spark.session import load_table

    rows = _mk_events()
    ts = [r[1] for r in rows]
    for unit in ("us", "ns"):
        d = tmp_path / unit
        d.mkdir()
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array([r[0] for r in rows], pa.int64()),
                    "ts": pa.array(ts, pa.timestamp(unit)),
                }
            ),
            str(d / "events.parquet"),
        )
    ns_raw = spark.read.parquet(str(tmp_path / "ns" / "events.parquet"))
    assert dict(ns_raw.dtypes)["ts"] == "bigint"

    def instants(unit):
        df = load_table(spark, str(tmp_path / unit), "events")
        assert dict(df.dtypes)["ts"] == "timestamp"
        return df.selectExpr("event_id", "unix_micros(ts) AS us").orderBy("event_id").collect()

    got = instants("ns")
    assert got == instants("us")
    assert [r.us for r in got] == [
        int((t - datetime(1970, 1, 1)) / timedelta(microseconds=1)) for t in ts
    ]
