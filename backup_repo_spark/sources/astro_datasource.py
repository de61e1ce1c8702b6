"""Custom connector: the "astro_layout" Python DataSource, and the range
layout Astro's key-range reads are served from.

Reference parity — the engine's restatement of the reference's connector
architecture (SURVEY.md §2.A/§4.2, upstream ``HBaseRelation`` /
``HBaseSQLTableScan`` / ``ScanPredClassifier`` / ``HBaseCriticalPoint``,
unverified — reference snapshot empty):

- **Region-aligned layout** → ``ensure_range_layout()`` bulk-loads a table
  once into the layout catalog (``sources/catalog.py``) as N
  range-partitioned, key-sorted parquet files: N "regions" whose footers
  carry each row group's [min,max] key bounds.
- **Predicate classification, pushdown and critical-point range pruning**
  → Spark's native parquet scan of that layout: key-range predicates show
  as ``PushedFilters`` and each task skips the row groups whose min/max
  stats cannot match (SURVEY.md's design for A2/A3, asserted in
  tests/test_plans.py).
- **Bulk-load write path** → ``AstroLayoutArrowWriter``: task-staged
  files published by one driver-side commit.
- **Streaming source and sink** → ``AstroStreamReader`` (replayable row
  offsets) and ``AstroStreamWriter`` (per-batch atomic publish).

Scale notes (100 TB): a 100 TB table is ~800k row groups of ~128 MB. The
native scan skips them inside each task from the footer it already reads,
so the driver never walks 800k footers at plan time, and a batch read pays
no Python DataSource planning or worker round-trip.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceStreamWriter,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from backup_repo_spark.registry import query
from backup_repo_spark.session import load_table, scratch_dir
from backup_repo_spark.sources.catalog import LayoutSpec, ensure_layout, read_layout

FORMAT_NAME = "astro_layout"


def _list_parquet_files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    return sorted(
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )


def _target_arrow_schema(schema):
    """Arrow file schema → the schema we emit to Spark: timestamps normalized
    to microseconds (Spark's native resolution)."""
    import pyarrow as pa

    fields = []
    for f in schema:
        t = f.type
        if pa.types.is_timestamp(t):
            t = pa.timestamp("us", tz=t.tz)
        fields.append(pa.field(f.name, t, f.nullable))
    return pa.schema(fields)


@dataclass
class FileCommit(WriterCommitMessage):
    """One staged file per write task (the bulkload 'HFile per region')."""

    staged: str | None
    rows: int


class AstroLayoutArrowWriter(DataSourceArrowWriter):
    """Write path (bulkload analog, A6): each task streams its Arrow batches
    into a staged parquet file; the driver-side commit() atomically publishes
    all staged files (rename + _SUCCESS), abort() discards them. On a real
    cluster the staging dir would be an object-store prefix; the two-phase
    task-write → driver-commit protocol is the same."""

    def __init__(self, options: dict, overwrite: bool) -> None:
        self._path = options["path"]
        self._overwrite = overwrite
        import uuid

        self._staging = os.path.join(self._path, f"_staging-{uuid.uuid4().hex}")

    def write(self, iterator) -> FileCommit:
        import uuid

        import pyarrow.parquet as pq

        os.makedirs(self._staging, exist_ok=True)
        out = os.path.join(self._staging, f"task-{uuid.uuid4().hex}.parquet")
        writer = None
        rows = 0
        for batch in iterator:
            if writer is None:
                writer = pq.ParquetWriter(out, batch.schema)
            writer.write_batch(batch)
            rows += batch.num_rows
        if writer is None:  # empty task partition: nothing to publish
            return FileCommit(None, 0)
        writer.close()
        return FileCommit(out, rows)

    def commit(self, messages) -> None:
        import shutil

        if self._overwrite:
            for f in _list_parquet_files(self._path):
                os.remove(f)
        staged = [m.staged for m in messages if m is not None and m.staged]
        for i, src in enumerate(sorted(staged)):
            os.replace(src, os.path.join(self._path, f"part-{i:05d}.parquet"))
        shutil.rmtree(self._staging, ignore_errors=True)
        with open(os.path.join(self._path, "_SUCCESS"), "w"):
            pass

    def abort(self, messages) -> None:
        import shutil

        shutil.rmtree(self._staging, ignore_errors=True)


class AstroStreamWriter(DataSourceStreamWriter):
    """Streaming sink half of the connector: each micro-batch task stages a
    parquet file, then per-batch commit() publishes them under a
    batch-stamped name — exactly-once lands via the idempotent rename plus
    the engine's checkpointed batch tracking (a replayed batch republishes
    the same batch id, overwriting rather than duplicating)."""

    def __init__(self, options: dict) -> None:
        self._path = options["path"]
        self._staging = os.path.join(self._path, "_stream_staging")

    def write(self, iterator) -> FileCommit:
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        rows = list(iterator)
        if not rows:
            return FileCommit(None, 0)
        os.makedirs(self._staging, exist_ok=True)
        cols = rows[0].__fields__
        tbl = pa.table({c: [r[i] for r in rows] for i, c in enumerate(cols)})
        out = os.path.join(self._staging, f"task-{uuid.uuid4().hex}.parquet")
        pq.write_table(tbl, out)
        return FileCommit(out, len(rows))

    def commit(self, messages, batchId: int) -> None:
        staged = [m.staged for m in messages if m is not None and m.staged]
        for i, src in enumerate(sorted(staged)):
            os.replace(
                src, os.path.join(self._path, f"batch-{batchId:05d}-{i:03d}.parquet")
            )

    def abort(self, messages, batchId: int) -> None:
        import shutil

        shutil.rmtree(self._staging, ignore_errors=True)


class AstroStreamReader(SimpleDataSourceStreamReader):
    """Streaming read path: replays a parquet file as deterministic
    micro-batches of ``batch_rows`` rows. Offsets are plain row positions
    ({"row": N}) — monotonic, checkpointable, and replayable:
    ``readBetweenOffsets`` re-produces any committed range exactly, which
    is what gives a restarted query exactly-once output. At scale the offset
    would be a (file, row-group) cursor over an append-only table, same
    protocol."""

    def __init__(self, options: dict) -> None:
        path = options.get("path")
        if not path or not os.path.isfile(path):
            raise ValueError("astro_layout stream requires .option('path', <file>)")
        self._path = path
        self._batch = int(options.get("batch_rows", "128"))

    def initialOffset(self) -> dict:
        return {"row": 0}

    def _slice(self, start: int, end: int):
        import pyarrow.parquet as pq

        table = pq.read_table(self._path)
        table = table.cast(_target_arrow_schema(table.schema))
        chunk = table.slice(start, max(end - start, 0))
        cols = [c.to_pylist() for c in chunk.columns]
        return iter(list(zip(*cols))) if cols else iter([])

    def read(self, start: dict):
        import pyarrow.parquet as pq

        total = pq.ParquetFile(self._path).metadata.num_rows
        lo = start["row"]
        hi = min(lo + self._batch, total)
        if lo >= total:  # caught up: empty batch, offset unchanged
            return iter([]), start
        return self._slice(lo, hi), {"row": hi}

    def readBetweenOffsets(self, start: dict, end: dict):
        return self._slice(start["row"], end["row"])


class AstroLayoutDataSource(DataSource):
    """``df.write.format("astro_layout").option("path", p).save()`` /
    ``spark.readStream.format("astro_layout").option("path", f).load()``
    (``schema`` serves the stream source). Batch reads of what it writes
    go through ``spark.read.parquet``."""

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self) -> StructType:
        import pyarrow.parquet as pq

        from pyspark.sql.pandas.types import from_arrow_schema

        first = _list_parquet_files(self.options["path"])[0]
        return from_arrow_schema(_target_arrow_schema(pq.ParquetFile(first).schema_arrow))

    def writer(self, schema: StructType, overwrite: bool) -> AstroLayoutArrowWriter:
        path = self.options.get("path")
        if not path:
            raise ValueError("astro_layout requires .option('path', <dir>)")
        os.makedirs(path, exist_ok=True)
        return AstroLayoutArrowWriter(dict(self.options), overwrite)

    def simpleStreamReader(self, schema: StructType) -> AstroStreamReader:
        return AstroStreamReader(dict(self.options))

    def streamWriter(self, schema: StructType, overwrite: bool) -> AstroStreamWriter:
        path = self.options.get("path")
        if not path:
            raise ValueError("astro_layout requires .option('path', <dir>)")
        os.makedirs(path, exist_ok=True)
        return AstroStreamWriter(dict(self.options))


def register(spark: SparkSession) -> None:
    # The JVM resolves a data source name through its active session, which
    # is per thread: without this, a connector key run off the thread that
    # built the session fails with DATA_SOURCE_NOT_FOUND. Setting only the
    # Python-side active session does not help.
    spark._jvm.SparkSession.setActiveSession(spark._jsparkSession)
    spark.dataSource.register(AstroLayoutDataSource)


def ensure_range_layout(spark: SparkSession, sf_dir: str, table: str, key: str) -> str:
    """``table`` as 8 range-partitioned parquet files sorted by ``key`` (the
    bulkload/region layout, A6), built once per input by the layout catalog."""
    return ensure_layout(spark, sf_dir, table, LayoutSpec(range_by=key))


@query(
    "dsv2_scan_pushdown",
    oracle="""
    SELECT l_returnflag, count(*) AS n, round(sum(l_extendedprice), 2) AS total
    FROM lineitem
    WHERE l_orderkey >= 1000 AND l_orderkey < 3000 AND l_quantity < 25.0
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def dsv2_scan_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Astro's key-range read: the catalog's range layout of lineitem,
    scanned natively with the key-range and quantity predicates pushed into
    the parquet reader, which skips the row groups whose footer min/max
    miss [1000, 3000) (~5/8 of them) → aggregate. Oracle is the plain scan —
    the layout must be invisible to results."""
    li = read_layout(spark, sf_dir, "lineitem", LayoutSpec(range_by="l_orderkey"))
    return (
        li.filter(
            (F.col("l_orderkey") >= 1000)
            & (F.col("l_orderkey") < 3000)
            & (F.col("l_quantity") < 25.0)
        )
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("l_extendedprice"), 2).alias("total"))
        .orderBy("l_returnflag")
    )


@query(
    "dsv2_write_roundtrip",
    oracle="""
    SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS total
    FROM orders WHERE o_orderkey < 5000
    GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def dsv2_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connector write path: a filtered orders slice goes OUT through the
    astro_layout Arrow writer (task-staged files, driver-side atomic commit)
    and comes back IN through the native parquet scan; the aggregate must
    match the original table. The DDL/bulkload/scan round-trip of the
    reference in one query."""
    register(spark)
    out = scratch_dir(spark, "dsv2_write_roundtrip")
    (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 5000)
        .repartition(4)
        .write.format(FORMAT_NAME)
        .option("path", out)
        .mode("overwrite")
        .save()
    )
    back = spark.read.parquet(out)
    return (
        back.groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total"))
        .orderBy("o_orderstatus")
    )


def _quarter_batch_rows(sf_dir: str) -> str:
    """batch_rows sized so the stream replays in ~4 micro-batches at ANY
    scale factor. A fixed batch SIZE makes micro-batch count O(n) — 40
    full query cycles at sf0.1 (~1 s scheduler overhead each); fixing the
    batch COUNT keeps the multi-batch replay semantics under test while
    staying O(1) in scheduling overhead as data grows."""
    import pyarrow.parquet as pq

    n = pq.ParquetFile(f"{sf_dir}/documents.parquet").metadata.num_rows
    return str(max(128, (n + 3) // 4))


@query(
    "dsv2_stream_read",
    oracle="""
    SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY lang ORDER BY lang
    """,
)
def dsv2_stream_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming scan through the custom connector: the documents table
    replayed as row-offset micro-batches by AstroStreamReader, aggregated
    with a complete-mode memory sink, drained with processAllAvailable().
    The result equals the batch aggregate (the oracle) — micro-batching is
    an execution detail, not a semantics change. Exercises the full Python
    streaming-source protocol: initialOffset → read → checkpoint commit,
    with readBetweenOffsets providing replay for recovery."""
    import uuid

    register(spark)
    stream = (
        spark.readStream.format(FORMAT_NAME)
        .option("path", f"{sf_dir}/documents.parquet")
        .option("batch_rows", _quarter_batch_rows(sf_dir))
        .load()
    )
    agg = stream.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("total_chars")
    )
    name = f"brs_dsv2_stream_{uuid.uuid4().hex[:12]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", scratch_dir(spark, "dsv2_stream_read_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    out = spark.table(name).orderBy("lang")
    spark.catalog.dropTempView(name)
    return out


@query(
    "dsv2_stream_write",
    oracle="""
    SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY lang ORDER BY lang
    """,
)
def dsv2_stream_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full streaming ROUND-TRIP through the custom connector: documents
    replayed as micro-batches by AstroStreamReader, landed by
    AstroStreamWriter (task-staged files, per-batch atomic publish), then
    read back from the landed files — the aggregate must equal the batch
    table. With dsv2_scan_pushdown (native scan of the range layout) /
    dsv2_write_roundtrip / dsv2_stream_read this covers all four connector
    planes (batch+stream x read+write), the Astro-connector parity matrix."""
    import uuid

    register(spark)
    out = scratch_dir(spark, "dsv2_stream_write")
    stream = (
        spark.readStream.format(FORMAT_NAME)
        .option("path", f"{sf_dir}/documents.parquet")
        .option("batch_rows", _quarter_batch_rows(sf_dir))
        .load()
    )
    q = (
        stream.writeStream.format(FORMAT_NAME)
        .option("path", out)
        .option("checkpointLocation", scratch_dir(spark, "dsv2_stream_write_ckpt"))
        .queryName(f"brs_dsv2_sw_{uuid.uuid4().hex[:8]}")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    back = spark.read.parquet(out)
    return (
        back.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("total_chars"))
        .orderBy("lang")
    )
