"""Layout catalog (sources/catalog.py): a layout is served only for the exact
input files it was built from, a half-written build is never served, and one
(input, table, spec) keeps one layout on disk."""

from __future__ import annotations

import os
import subprocess

import duckdb
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from backup_repo_spark import registry
from backup_repo_spark.sources import catalog
from backup_repo_spark.sources.astro_datasource import ensure_range_layout
from backup_repo_spark.testing import compare, hard_problems
from tests.conftest import SF_DIR

_SPEC = catalog.LayoutSpec(range_by="l_orderkey")


@pytest.fixture(autouse=True)
def _catalog_root(tmp_path, monkeypatch):
    monkeypatch.setattr(catalog, "ROOT", str(tmp_path / "catalog"))


def _write_lineitem(sf_dir: str, price_factor: float) -> None:
    """sf0.001 lineitem with every price scaled, so each input has its own
    dsv2_scan_pushdown answer."""
    os.makedirs(sf_dir, exist_ok=True)
    t = pq.read_table(f"{SF_DIR}/lineitem.parquet")
    i = t.schema.get_field_index("l_extendedprice")
    t = t.set_column(i, "l_extendedprice", pc.multiply(t["l_extendedprice"], price_factor))
    path = f"{sf_dir}/lineitem.parquet"
    pq.write_table(t, path)
    # a rewrite within the clock's resolution must still read as new
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))


def _assert_scan_pushdown_correct(spark, sf_dir: str) -> None:
    con = duckdb.connect()
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{sf_dir}/lineitem.parquet')")
    want = con.execute(registry.ORACLES["dsv2_scan_pushdown"]).fetchdf()
    got = registry.QUERIES["dsv2_scan_pushdown"](spark, sf_dir).toPandas()
    assert not hard_problems(compare(got, want)), (sf_dir, got, want)


def _slot_entries() -> dict[str, list[str]]:
    return {s: sorted(os.listdir(os.path.join(catalog.ROOT, s))) for s in os.listdir(catalog.ROOT)}


def test_same_named_inputs_get_their_own_layouts(spark, tmp_path):
    a, b = str(tmp_path / "a" / "sf0.001"), str(tmp_path / "b" / "sf0.001")
    _write_lineitem(a, 1.0)
    _write_lineitem(b, 3.0)
    _assert_scan_pushdown_correct(spark, a)
    _assert_scan_pushdown_correct(spark, b)
    _assert_scan_pushdown_correct(spark, a)
    assert ensure_range_layout(spark, a, "lineitem", "l_orderkey") != ensure_range_layout(
        spark, b, "lineitem", "l_orderkey"
    )


def test_rewritten_input_rebuilds_its_layout(spark, tmp_path):
    sf = str(tmp_path / "sf")
    _write_lineitem(sf, 1.0)
    first = ensure_range_layout(spark, sf, "lineitem", "l_orderkey")
    assert ensure_range_layout(spark, sf, "lineitem", "l_orderkey") == first  # reused
    _assert_scan_pushdown_correct(spark, sf)  # the session now holds a frame of `first`
    _write_lineitem(sf, 2.0)
    second = ensure_range_layout(spark, sf, "lineitem", "l_orderkey")
    assert second != first and not os.path.exists(first)
    _assert_scan_pushdown_correct(spark, sf)


def test_half_written_layout_is_never_served(spark, tmp_path, monkeypatch):
    sf = str(tmp_path / "sf")
    _write_lineitem(sf, 1.0)

    # a build that dies before its rename leaves nothing to serve
    def fail(*_):
        raise OSError("disk full")

    with monkeypatch.context() as m:
        m.setattr(catalog.os, "rename", fail)
        with pytest.raises(OSError, match="disk full"):
            catalog.ensure_layout(spark, sf, "lineitem", _SPEC)
    assert all(entries == [] for entries in _slot_entries().values())

    # a crashed process's temp dir (a layout of other data) is skipped and
    # removed by the next build
    (slot,) = _slot_entries()
    dead = subprocess.Popen(["true"])
    dead.wait()
    stale = os.path.join(catalog.ROOT, slot, f"{catalog._TMP}{dead.pid}-0")
    _write_lineitem(stale, 5.0)
    _assert_scan_pushdown_correct(spark, sf)
    assert not os.path.exists(stale)
    assert _slot_entries() == {
        slot: [os.path.basename(catalog.ensure_layout(spark, sf, "lineitem", _SPEC))]
    }


def test_one_slot_per_input_table_and_spec(spark, tmp_path):
    sf = str(tmp_path / "sf")
    for factor in (1.0, 2.0, 1.0):
        _write_lineitem(sf, factor)
        for _ in range(2):
            ensure_range_layout(spark, sf, "lineitem", "l_orderkey")
    assert [len(v) for v in _slot_entries().values()] == [1]
    # another spec of the same input is another slot, and leaves the first
    catalog.ensure_layout(spark, sf, "lineitem", catalog.LayoutSpec(partition_by="l_returnflag"))
    assert [len(v) for v in _slot_entries().values()] == [1, 1]
    _assert_scan_pushdown_correct(spark, sf)


@pytest.mark.parametrize(
    "key", ["dsv2_scan_pushdown", "partition_pruning", "scan_dynamic_partition_pruning"]
)
def test_layout_keys_run_no_job_at_build_once_built(spark, key):
    """After the first call has built the layout, building the key's
    DataFrame runs no Spark job: no layout write, no schema inference."""
    registry.QUERIES[key](spark, SF_DIR)
    sc = spark.sparkContext
    group = f"catalog-build-{key}"
    sc.setJobGroup(group, "build only")
    try:
        registry.QUERIES[key](spark, SF_DIR)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
