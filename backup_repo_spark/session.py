"""SparkSession factory + table catalog.

Reference parity: Astro's ``HBaseSQLContext`` (session entry point) and
``HBaseCatalog`` (table↔storage mapping, cached in memory) — upstream
``src/main/scala/org/apache/spark/sql/hbase/`` (unverified; reference
snapshot empty, see SURVEY.md §0) — re-expressed as a configured
SparkSession plus parquet temp-view registration.

Scale notes (100 TB design, SURVEY.md §4.3):
- AQE on: runtime shuffle-partition coalescing + skew-join splitting means
  the same code runs at sf0.001 and at 1000-executor scale without retuning.
- ``autoBroadcastJoinThreshold`` raised so dimension tables (region, nation,
  supplier, part — broadcast-size at any realistic sf) never shuffle.
- Parquet filter pushdown + vectorized Arrow reader on (defaults kept
  explicit so the intent is documented).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def get_spark(
    app_name: str = "backup-repo-spark",
    cpus: str | int | None = None,
    shuffle_partitions: int = 32,
    adaptive: bool = True,
) -> SparkSession:
    """Build the engine's SparkSession with scale-ready defaults.

    ``adaptive=False`` is the small-data bench profile: AQE's runtime
    re-planning requires materializing every shuffle stage as a barrier,
    which costs ~25-35% wall time on sub-second queries (measured at sf0.1,
    round 2) while buying nothing — there is no skew or mis-estimated
    shuffle to fix at that scale. Production/scale sessions keep it on.
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "*")
    return (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # a TIMESTAMP(NANOS) events file needs this for Spark 4.x to read it
        # (FIXTURES.md timestamp-unit gotcha; the testdata holds MICROS).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", str(adaptive).lower())
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # r13 codec pass (optimization guide §2.3/§6), measured by the
        # retired codec_probe (README "Retired probes") at the 50x dedup
        # corpus: zstd shuffle halves shuffle bytes (1248 -> 588 MB, -53%)
        # for ~+14% executor CPU — the right trade on a NIC-bound cluster,
        # the wrong one on a CPU-rich single box, so the shuffle codec
        # stays lz4 (the Spark default).
        # Parquet zstd is strictly better locally too (lineitem sf0.1:
        # 10.26 -> 8.24 MB, no scan penalty), so it IS the default.
        .config("spark.io.compression.codec", "lz4")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .getOrCreate()
    )


def scratch_dir(spark: SparkSession, tag: str) -> str:
    """A fresh, empty directory for one call's scratch output, named after
    its writer ``tag``.

    It lives under ``brs_scratch`` in the SparkContext's root directory
    (``SparkFiles.getRootDirectory()``, under ``spark.local.dir``), which
    Spark deletes on ``spark.stop()`` and at JVM exit: no caller cleans up,
    and sessions not built by ``get_spark`` are covered too. A directory
    per call keeps threads that run one key from sharing a path.

    The root is on the driver's local disk, which local-mode executors
    share; a cluster would need it on shared storage. No deployment needs
    that today, so the root is not configurable."""
    root = os.path.join(
        spark._jvm.org.apache.spark.SparkFiles.getRootDirectory(), "brs_scratch"
    )
    os.makedirs(root, exist_ok=True)
    return tempfile.mkdtemp(prefix=f"{tag}_", dir=root)


# (session id, sf_dir, table) -> DataFrame. DataFrames are immutable logical
# plans, so caching them is safe; it skips repeated footer/file-listing reads
# when many queries touch the same table (the registry calls load_table per
# query invocation).
_TABLE_CACHE: dict[tuple[int, str, str], DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table; `events` gets the nanos→timestamp fix.

    Session timezone is pinned to UTC on every load (runtime conf — it
    governs expression evaluation, not the read schema). The date columns
    (o_orderdate / l_shipdate) read as TIMESTAMP_NTZ, which no session tz
    shifts; the pin matters for ``events.ts``, whose NTZ → TIMESTAMP cast
    interprets the wall-clock in session tz, and for the date rendering
    (date_format, window bounds) of that instant, which must agree with
    DuckDB's timezone-naive reading of the same file. A driver-built
    session inherits the JVM default tz; on a non-UTC host those values
    would shift without this."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    key = (id(spark), sf_dir, name)
    df = _TABLE_CACHE.get(key)
    if df is None:
        if name == "events":
            df = _load_events_uncached(spark, sf_dir)
        else:
            df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        _TABLE_CACHE[key] = df
    return df


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cached events table (see :func:`_load_events_uncached`)."""
    return load_table(spark, sf_dir, "events")


def _load_events_uncached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet with ``ts`` normalized to TimestampType (microsecond
    precision — Spark's native resolution), whatever the session reads it as.

    The testdata files store ``timestamp[us]`` (not UTC-adjusted), which
    every session reads as TIMESTAMP_NTZ: cast NTZ → TIMESTAMP under UTC
    session tz, which preserves the wall-clock. A ``timestamp[ns]`` file
    surfaces by session-BUILD-time config (verified by execution):

    - ``spark.sql.legacy.parquet.nanosAsLong=true`` at builder time (our own
      ``get_spark``) → ``ts`` arrives as BIGINT nanos. ``ts DIV 1000``
      (integer division) avoids the double-precision round-trip a ``/``
      would introduce at ~1.7e18 ns magnitudes; same instants as the cast.
    - a vanilla session (no engine configs) → TIMESTAMP_NTZ, already
      micro-truncated; setting the legacy conf at runtime has NO effect on
      the read schema.

    So: branch on the dtype actually read, never assume one session shape.
    """
    # UTC matters for both paths: the NTZ→TIMESTAMP cast interprets the
    # wall-clock in session tz, and date_format/window rendering must agree
    # with DuckDB's timezone-naive reading of the same file.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_type = dict(raw.dtypes)["ts"]
    if ts_type in ("bigint", "long"):
        return raw.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
    if ts_type == "timestamp_ntz":
        return raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw  # already TimestampType


def register_views(spark: SparkSession, sf_dir: str, tables: list[str] = TABLES) -> None:
    """Register base tables (default: all ten) as temp views under their
    own names (the engine's 'catalog').

    Astro persisted its table↔HBase mapping in a metadata table; for a
    parquet-native engine the parquet footers are the metadata and the
    session catalog is the map.
    """
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def base_sql(
    spark: SparkSession, sf_dir: str, tables: list[str], text: str, args: dict | None = None
) -> DataFrame:
    """``spark.sql(text, args)`` after binding each of ``tables`` under its
    own name (:func:`register_views`). Base-table names are the only names
    a key binds in the caller's session. Any other input goes through
    ``spark.sql(text, **frames)`` as ``{name}``: pyspark binds each frame
    under a generated name for the analysis and drops it before returning
    (the text is then a format string, so double any literal brace)."""
    register_views(spark, sf_dir, tables)
    return spark.sql(text, args)
