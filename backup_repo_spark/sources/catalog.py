"""Layout catalog: build a derived table layout once, serve it to every read.

Astro created a table once (DDL plus a bulk load) and then served many
key-range queries from that layout (SURVEY.md §1/A6). ``ensure_layout`` is
that create-once step for the read keys whose write is only set-up: it
returns the directory of a parquet layout of ``table`` under ``sf_dir``,
written to ``spec`` the first time and reused while its inputs are unchanged.

On disk, under ``<repo>/spark-warehouse/layout_catalog``::

    <table>-<slot hash>/            one slot per (input path, table, spec)
        <fingerprint>/              the served layout
        .tmp-<pid>-<uuid>/          a build in progress (never served)

- The fingerprint hashes the spec and the real path, size and mtime_ns of
  every input file, so a rewritten input or a same-named directory elsewhere
  never reads another input's layout.
- A build writes a temp dir and renames it to its fingerprint, so a reader
  sees a whole layout or none. A build that fails removes its temp dir; one
  whose process died is removed by the next call for the slot.
- A fingerprint mismatch replaces the slot's layout instead of adding one.

``read_layout`` also reuses one DataFrame per session and layout: a served
layout never changes in place, so its schema and file listing stay valid,
and a read skips the schema-inference job ``spark.read.parquet`` runs.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import uuid
from dataclasses import asdict, dataclass

from pyspark.sql import DataFrame, SparkSession

from backup_repo_spark import session as _session

ROOT = os.path.abspath(
    os.path.join(os.path.dirname(__file__), "..", "..", "spark-warehouse", "layout_catalog")
)
_TMP = ".tmp-"
_RANGES = 8
# (session id, layout path) -> DataFrame over that layout
_FRAMES: dict[tuple[int, str], DataFrame] = {}


@dataclass(frozen=True)
class LayoutSpec:
    """How a layout derives from its table.

    ``select``: SQL expressions to project (empty keeps every column);
    ``range_by``: key for 8 range partitions, each sorted by the key (the
    region layout, whose footers carry each file's key bounds);
    ``partition_by``: one directory per value of this column."""

    select: tuple[str, ...] = ()
    range_by: str | None = None
    partition_by: str | None = None


def _digest(*parts) -> str:
    return hashlib.sha256(json.dumps(parts, sort_keys=True).encode()).hexdigest()[:16]


def _input_files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    return sorted(
        os.path.join(d, f) for d, _, files in os.walk(path) for f in files
    )


def _fingerprint(path: str, spec: LayoutSpec) -> str:
    files = []
    for f in _input_files(path):
        st = os.stat(f)
        files.append((os.path.realpath(f), st.st_size, st.st_mtime_ns))
    if not files:
        raise FileNotFoundError(f"layout catalog: no input files at {path}")
    return _digest(asdict(spec), files)


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _is_live_build(name: str) -> bool:
    if not name.startswith(_TMP):
        return False
    pid = name[len(_TMP):].split("-", 1)[0]
    return pid.isdigit() and _pid_alive(int(pid))


def ensure_layout(spark: SparkSession, sf_dir: str, table: str, spec: LayoutSpec) -> str:
    """Path of ``table``'s layout under ``spec``; built first if missing or
    stale."""
    src = os.path.realpath(f"{sf_dir}/{table}.parquet")
    slot = os.path.join(ROOT, f"{table}-{_digest(src, asdict(spec))}")
    fp = _fingerprint(src, spec)
    out = os.path.join(slot, fp)
    if not os.path.isdir(out):
        _build(spark, sf_dir, table, spec, slot, out)
    for name in os.listdir(slot):
        if name != fp and not _is_live_build(name):
            shutil.rmtree(os.path.join(slot, name), ignore_errors=True)
    return out


def read_layout(spark: SparkSession, sf_dir: str, table: str, spec: LayoutSpec) -> DataFrame:
    """``table``'s layout under ``spec`` as a DataFrame (see ``ensure_layout``)."""
    path = ensure_layout(spark, sf_dir, table, spec)
    key = (id(spark), path)
    if key not in _FRAMES:
        _FRAMES[key] = spark.read.parquet(path)
    return _FRAMES[key]


def _build(spark, sf_dir, table, spec, slot, out) -> None:
    os.makedirs(slot, exist_ok=True)
    tmp = os.path.join(slot, f"{_TMP}{os.getpid()}-{uuid.uuid4().hex}")
    # a (re)build means the input may have changed since this session
    # cached its frame, whose file listing would then be stale
    _session._TABLE_CACHE.pop((id(spark), sf_dir, table), None)
    try:
        df = _session.load_table(spark, sf_dir, table)
        if spec.select:
            df = df.selectExpr(*spec.select)
        if spec.range_by:
            df = df.repartitionByRange(_RANGES, spec.range_by).sortWithinPartitions(spec.range_by)
        w = df.write
        if spec.partition_by:
            w = w.partitionBy(spec.partition_by)
        w.parquet(tmp)
        try:
            os.rename(tmp, out)
        except OSError:
            if not os.path.isdir(out):  # not a concurrent build of the same input
                raise
        # a layout deleted and rebuilt at its old path has new file names
        _FRAMES.pop((id(spark), out), None)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
