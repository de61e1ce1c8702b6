"""Every file under tools/ imports as a module without starting Spark, and
none reads a hardcoded UI address.

One subprocess imports every tool (a fresh interpreter, so the suite's own
session cannot mask a tool that starts one) and reports, per tool, the
import error if any and whether a SparkContext or JVM gateway came up. A
tool that still imports a deleted sibling fails here.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
TOOLS = sorted(p.stem for p in (REPO / "tools").glob("*.py"))

_IMPORT_ALL = """
import importlib, json, sys
from pyspark import SparkContext

def spark_up():
    return SparkContext._active_spark_context is not None or SparkContext._gateway is not None

out = {}
for name in sys.argv[1:]:
    before = spark_up()
    try:
        importlib.import_module("tools." + name)
        err = None
    except (Exception, SystemExit) as e:  # a stray argparse exits
        err = f"{type(e).__name__}: {e}"
    out[name] = {"error": err, "spark": spark_up() and not before}
print(json.dumps(out))
"""


@pytest.fixture(scope="module")
def imported() -> dict:
    proc = subprocess.run(
        [sys.executable, "-c", _IMPORT_ALL, *TOOLS],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("name", TOOLS)
def test_tool_imports_without_spark(imported, name):
    assert imported[name]["error"] is None, imported[name]["error"]
    assert not imported[name]["spark"], f"importing tools.{name} started Spark"


def test_no_tool_hardcodes_a_ui_address():
    """Spark binds the next free UI port when the configured one is taken,
    so a scraper must read ``sparkContext.uiWebUrl`` (tools/spark_rest.py)."""
    offenders = [
        p.name for p in (REPO / "tools").glob("*.py") if "localhost:" in p.read_text()
    ]
    assert offenders == []
