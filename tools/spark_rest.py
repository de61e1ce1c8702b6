"""Read this application's Spark UI REST API (``/api/v1``).

The URL comes from the running context, not from a configured port:
``uiWebUrl`` is the address the UI actually bound (Spark moves to the next
free port when ``spark.ui.port`` is taken) and ``applicationId`` names this
process's own application, so a read never lands on another process's UI.
"""

from __future__ import annotations

import json
import urllib.request


def rest(spark, path: str):
    """GET ``/api/v1/applications/<this app><path>`` and decode the JSON."""
    sc = spark.sparkContext
    if sc.uiWebUrl is None:
        raise RuntimeError("Spark UI is off: start the session with spark.ui.enabled=true")
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}{path}"
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)
