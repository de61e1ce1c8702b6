"""Scratch output has one owner: ``session.scratch_dir``. Keys that write
do so under the SparkContext's own root, which Spark deletes when the
session stops, so no key hand-rolls a temp path and nothing outlives the
session. Nor does a key change the caller's session: it binds no name but
a base table's, sets no conf and writes nothing to the warehouse."""

from __future__ import annotations

import os
import re
import subprocess
import sys

from tests.conftest import SF_DIR

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_ENGINE = os.path.join(_REPO, "backup_repo_spark")

# the helper itself, and the layout catalog (meant to persist; its temp
# build dirs carry the pid of the process building them)
_OWNERS = {"session.py", os.path.join("sources", "catalog.py")}


def _engine_sources():
    for root, _, files in os.walk(_ENGINE):
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(root, f)
                with open(path) as fh:
                    src = fh.read()
                yield os.path.relpath(path, _ENGINE), src


def test_only_the_session_helper_makes_scratch_paths():
    hits = [
        f"{rel}:{n}: {line.strip()}"
        for rel, src in _engine_sources()
        if rel not in _OWNERS
        for n, line in enumerate(src.splitlines(), 1)
        if re.search(r"mkdtemp\(|gettempdir\(|getpid\(\)", line)
    ]
    assert not hits, "use session.scratch_dir:\n" + "\n".join(hits)


def test_engine_cites_only_existing_probes():
    """A cited ``tools/<name>_probe`` must exist; a retired one is cited
    through README's "Retired probes" table instead."""
    missing = [
        f"{rel}: tools/{name}"
        for rel, src in _engine_sources()
        for name in re.findall(r"tools/(\w+_probe)\b", src)
        if not os.path.exists(os.path.join(_REPO, "tools", f"{name}.py"))
    ]
    assert not missing, missing


# one key per replaced scratch idiom: layout's and dml's private helpers,
# the connector's and the dialect's warehouse paths, the connector
# checkpoint, inline mkdtemp (clustering, simsearch, dialect CSV, stream
# sinks and checkpoints) and the multi-batch events staging
_KEYS = [
    "bulk_write_read",
    "dml_upsert",
    "dsv2_write_roundtrip",
    "dsv2_stream_write",
    "dsv2_stream_read",
    "ddl_astro_dialect",
    "layout_zorder",
    "llm_ann_partitioned",
    "stream_watermark",
    "stream_file_sink",
    "stream_cdc_apply",
    # with dsv2_stream_read and stream_watermark above: keys that name a
    # catalog table, a view or a memory sink, or need a writer conf, none
    # of which the caller's session may keep
    "llm_contamination",
    "events_scd2",
    "events_attribution",
    "win_range_interval",
    "agg_bitmap_distinct",
    "udtf_table_arg",
    "fn_url",
    "sql_identifier_clause",
    "ddl_view",
    "insert_select",
    "bulk_bucketed_join",
    "stats_analyze",
    # ahead of dml_partition_overwrite, which needs the same writer conf,
    # so each is checked against an unchanged SET
    "stream_continuous_aggregate",
    "dml_partition_overwrite",
    "stream_dedup",
    "stream_static_join",
    "stream_stateful",
    "stream_stream_join",
    "stream_stream_outer",
    "stream_session_live",
    "stream_dedup_against_corpus",
    "stream_progress_metrics",
    # a session variable, a SQL function and a Python UDTF, which neither
    # listTables() nor SET shows (udtf_table_arg above registers one too)
    "sql_session_variables",
    "sql_scalar_udf",
    "udtf_polymorphic",
]

_CHILD = """
import os, sys
from backup_repo_spark import registry
from backup_repo_spark.session import TABLES, get_spark

spark = get_spark("scratch-test", shuffle_partitions=4)

variables = spark._jsparkSession.sessionState().catalogManager().tempVariableManager()

def state():
    return {
        "TABLE": {t.name for t in spark.catalog.listTables()} - set(TABLES),
        "SET": {tuple(r) for r in spark.sql("SET").collect()},
        "VARIABLE": set() if variables.isEmpty() else {"declared"},
        "FUNCTION": {r[0] for r in spark.sql("SHOW USER FUNCTIONS").collect()},
        "WAREHOUSE": set(os.listdir("spark-warehouse"))
        if os.path.isdir("spark-warehouse") else set(),
    }

for key in sys.argv[1].split(","):
    before = state()
    registry.QUERIES[key](spark, sys.argv[2]).collect()
    for kind, now in state().items():
        for entry in sorted(map(str, now ^ before[kind])):
            print("CHANGED", key, kind, entry)
spark.stop()
for root, _, files in os.walk(sys.argv[3]):
    for f in files:
        print("LEFT", os.path.join(root, f))
"""


def test_key_output_is_gone_once_the_session_stops(tmp_path):
    """Run the keys in a fresh session with TMPDIR, SPARK_LOCAL_DIRS and the
    cwd under ``tmp_path``, stop it, and list what is left before the JVM
    exits: no file may remain there, and the repo's ``spark-warehouse/``
    gains nothing but the layout catalog. Around each key the child also
    compares the session's non-base tables and views, its ``SET`` entries,
    whether it holds a session variable, its user functions and the cwd's
    ``spark-warehouse/``: none may change."""
    warehouse = os.path.join(_REPO, "spark-warehouse")

    def entries():
        return set(os.listdir(warehouse)) if os.path.isdir(warehouse) else set()

    before = entries()
    cwd = tmp_path / "cwd"
    for d in ("cwd", "tmp", "local"):
        (tmp_path / d).mkdir()
    env = dict(
        os.environ,
        PYTHONPATH=_REPO,
        TMPDIR=str(tmp_path / "tmp"),
        SPARK_LOCAL_DIRS=str(tmp_path / "local"),
        SPARK_GRAFT_CPUS="2",
    )
    run = subprocess.run(
        [sys.executable, "-c", _CHILD, ",".join(_KEYS), SF_DIR, str(tmp_path)],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=600,
    )
    assert run.returncode == 0, run.stderr[-3000:]
    changed = [line for line in run.stdout.splitlines() if line.startswith("CHANGED ")]
    assert not changed, "\n".join(changed[:40])
    left = [line for line in run.stdout.splitlines() if line.startswith("LEFT ")]
    assert not left, "\n".join(left[:20])
    assert entries() - before <= {"layout_catalog"}, sorted(entries() - before)
