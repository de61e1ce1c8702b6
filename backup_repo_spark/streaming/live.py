"""Live Structured Streaming operators — SURVEY.md §2.C rows C5–C8.

These run REAL streaming queries (readStream → transform → writeStream to a
memory sink, Trigger.AvailableNow), then return the sink table as the result
DataFrame. The reference has no streaming at all (Astro, 2015 — predates
Structured Streaming); this is north-star extension surface.

Scale notes: watermarks bound state-store size (events later than watermark
are dropped, state older than watermark is evicted); at 100 TB/day the state
store would be RocksDB-backed with checkpointing to object storage — here
the in-memory HDFS-backed store with a temp checkpoint dir exercises the
same code path. AvailableNow processes the backlog in bounded batches and
terminates — the batch-parity mode that makes results comparable to a SQL
oracle at all.
"""

from __future__ import annotations

import os
import uuid

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from backup_repo_spark.registry import query
from backup_repo_spark.session import load_table, scratch_dir

_EVENTS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampNTZType()),  # TIMESTAMP(NANOS) → µs-truncated NTZ
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def _stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as a stream: file source with declared schema (file
    streams require one).

    The file stores TIMESTAMP(NANOS). Unlike the batch path, the streaming
    parquet reader honors a declared TIMESTAMP_NTZ schema regardless of the
    session's ``nanosAsLong`` build-time conf (verified by execution, round
    2: a declared LongType here surfaced µs-truncated longs, NOT raw nanos —
    ``ts DIV 1000`` then landed in 1970). Declaring NTZ and casting to
    TIMESTAMP under UTC matches the batch loader's instants exactly.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # File-stream sources require a directory: stream the sf dir, glob-filtered
    # to the events file.
    raw = (
        spark.readStream.schema(_EVENTS_RAW_SCHEMA)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


# sf_dir -> the session's staged 4-file events copy. A stopped session takes
# its copy with it, so an entry is trusted only while its _SUCCESS exists.
_MULTIBATCH_STAGED: dict[str, str] = {}


def _stream_events_multibatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events as a stream that yields SEVERAL micro-batches (the single
    testdata file is one batch, which would leave incremental-merge paths
    untested): stage a 4-file copy once per (session, sf_dir) and stream it
    with maxFilesPerTrigger=1."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    staged = _MULTIBATCH_STAGED.get(sf_dir)
    if staged is None or not os.path.exists(os.path.join(staged, "_SUCCESS")):
        staged = scratch_dir(spark, "events_multibatch")
        # range-partition by ts: micro-batches arrive roughly time-ordered
        # (the realistic ingest shape), so an incremental consumer's
        # per-batch working set is a time slice, not the whole history.
        load_table(spark, sf_dir, "events").repartitionByRange(4, "ts").write.mode(
            "overwrite"
        ).parquet(staged)
        _MULTIBATCH_STAGED[sf_dir] = staged
    raw = (
        spark.readStream.schema(_EVENTS_RAW_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged)
    )
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def _run_to_table(df: DataFrame, mode: str) -> DataFrame:
    """Execute a streaming DataFrame to completion into a memory sink and
    return the sink contents. The sink's view is unregistered once read:
    the returned plan holds the rows, and they go when it does."""
    name = f"brs_sink_{uuid.uuid4().hex[:12]}"
    ckpt = scratch_dir(df.sparkSession, "stream_ckpt")
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = df.sparkSession.table(name)
    df.sparkSession.catalog.dropTempView(name)
    return out


@query(
    "stream_watermark",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_s,
           count(*) AS n, round(sum(value), 2) AS sv
    FROM events
    GROUP BY 1
    HAVING date_trunc('hour', min(ts)) + INTERVAL 1 HOUR
           <= (SELECT max(ts) - INTERVAL 10 MINUTE FROM events)
    """,
)
def stream_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5: watermarked tumbling aggregation as a LIVE streaming query in
    append mode. Append emits a window only once the watermark
    (max(ts) − 10 min) passes its end — so the final, never-closed window is
    withheld. The oracle encodes exactly that finalization rule (HAVING
    window_end <= max(ts) − 10 min), verifying the watermark semantics, not
    just the arithmetic."""
    ev = _stream_events(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sv"))
        .select(F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("hour_s"), "n", "sv")
    )
    return _run_to_table(agg, "append")


@query(
    "stream_dedup",
    oracle="""
    SELECT event_type, count(*) AS n FROM events GROUP BY event_type
    """,
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6: streaming deduplication on event_id within the watermark, then a
    per-type count in the same query (complete mode). event_id is unique in
    the testdata, so dedup is the identity — verified against the batch
    count; the state-store dedup path still executes for every row."""
    ev = _stream_events(spark, sf_dir)
    deduped = ev.withWatermark("ts", "30 minutes").dropDuplicatesWithinWatermark(["event_id"])
    agg = deduped.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    return _run_to_table(agg, "complete")


@query(
    "stream_static_join",
    oracle="""
    SELECT c_mktsegment, count(*) AS n, round(sum(value), 2) AS sv
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment
    """,
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C8: stream ⋈ static dimension (the streaming-ETL enrichment shape;
    the static side is broadcast per micro-batch)."""
    ev = _stream_events(spark, sf_dir)
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    joined = ev.join(F.broadcast(cust), ev.user_id == cust.c_custkey)
    agg = joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sv")
    )
    return _run_to_table(agg, "complete")


_STATE_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)


@query(
    "stream_stateful",
    oracle="""
    SELECT user_id, count(*) AS n_events, round(sum(value), 2) AS total_value
    FROM events GROUP BY user_id
    """,
)
def stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7: arbitrary stateful processing — applyInPandasWithState keeps a
    (count, sum) state per user across micro-batches. AvailableNow bounds
    the run; final state per user equals the batch aggregate (oracle)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def track(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 2)]}
        )

    ev = _stream_events(spark, sf_dir)
    result = ev.groupBy("user_id").applyInPandasWithState(
        track,
        outputStructType=_STATE_SCHEMA,
        stateStructType="n BIGINT, total DOUBLE",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _run_to_table(result, "update")


@query(
    "stream_stream_join",
    oracle="""
    SELECT a.event_id AS err_id, b.event_id AS click_id
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_type = 'error' AND b.event_type = 'click'
     AND b.ts >= a.ts - INTERVAL 30 MINUTE AND b.ts <= a.ts
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream ⋈ stream inner join with event-time range condition: each
    error event pairs with same-user clicks in the preceding 30 minutes.
    Both sides carry watermarks; the time-range bound lets Spark evict
    buffered rows once the other side's watermark passes, keeping join
    state finite — THE prerequisite for running this on an unbounded
    stream. Oracle: identical batch self-join (band edges are exact-µs
    timestamps, so the comparisons agree cross-engine)."""
    errs = (
        _stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("err_id"),
            F.col("user_id").alias("err_user"),
            F.col("ts").alias("err_ts"),
        )
        .withWatermark("err_ts", "1 hour")
    )
    clicks = (
        _stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("click_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    joined = errs.join(
        clicks,
        (F.col("err_user") == F.col("click_user"))
        & (F.col("click_ts") >= F.col("err_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("click_ts") <= F.col("err_ts")),
        "inner",
    ).select("err_id", "click_id")
    return _run_to_table(joined, "append")


@query(
    "stream_stream_outer",
    oracle="""
    WITH wm AS (
      SELECT least((SELECT max(ts) FROM events WHERE event_type = 'error'),
                   (SELECT max(ts) FROM events WHERE event_type = 'click'))
             - INTERVAL 10 MINUTE AS w
    )
    SELECT a.event_id AS err_id, b.event_id AS click_id
    FROM events a LEFT JOIN events b
      ON a.user_id = b.user_id
     AND b.event_type = 'click'
     AND b.ts >= a.ts - INTERVAL 30 MINUTE AND b.ts <= a.ts
    WHERE a.event_type = 'error'
      AND (b.event_id IS NOT NULL OR a.ts < (SELECT w FROM wm))
    """,
)
def stream_stream_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream ⋈ stream LEFT OUTER join — the state path the inner join
    does not exercise: an error with no matching click is held in state
    until the watermark passes its join window, then emitted with NULLs.
    Without watermarks + a time bound Spark rejects outer stream-stream
    joins outright (unbounded NULL-side state). The oracle encodes the
    finalization rule exactly (batch left join, but a NULL row appears
    only for errors the final global watermark — min of both inputs'
    max(ts) − 10 min — has passed): matched rows are identical to batch,
    end-of-stream unmatched rows legitimately never emit. Verifying the
    SEMANTICS, not just the arithmetic (same pattern as
    stream_watermark)."""
    errs = (
        _stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("err_id"),
            F.col("user_id").alias("err_user"),
            F.col("ts").alias("err_ts"),
        )
        .withWatermark("err_ts", "10 minutes")
    )
    clicks = (
        _stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("click_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "10 minutes")
    )
    joined = errs.join(
        clicks,
        (F.col("err_user") == F.col("click_user"))
        & (F.col("click_ts") >= F.col("err_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("click_ts") <= F.col("err_ts")),
        "left_outer",
    ).select("err_id", "click_id")
    return _run_to_table(joined, "append")


@query(
    "stream_progress_metrics",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS total_input_rows FROM events
    """,
)
def stream_progress_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming observability: after an AvailableNow run, the
    StreamingQueryProgress feed (recentProgress) must account for every
    input row exactly once — summed numInputRows equals the batch row
    count (the oracle). This is the metrics surface a production monitor
    scrapes for lag/throughput; exactly-once input accounting is the
    invariant that makes those dashboards trustworthy."""
    ev = _stream_events(spark, sf_dir)
    q = (
        ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .writeStream.format("noop")
        .outputMode("complete")
        .option("checkpointLocation", scratch_dir(spark, "stream_progress_metrics_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    total = sum(int(p["numInputRows"]) for p in q.recentProgress)
    return spark.createDataFrame([(total,)], "total_input_rows BIGINT")

# NOTE: transformWithStateInPandas (the successor API to applyInPandasWithState,
# used in stream_stateful above) is NOT exposed as a query: its driver worker
# requires the `protobuf` package, which this container does not ship and the
# environment forbids installing (re-verified 2026-08-16, round 12 — 10th
# consecutive round: `import google.protobuf` still fails with
# ModuleNotFoundError). The applyInPandasWithState path covers the
# arbitrary-stateful-processing semantics — including crash-restart
# exactly-once (tests/test_robustness.py) under BOTH the default HDFS-backed
# and the RocksDB state-store providers; swap to transformWithStateInPandas
# where protobuf is available.


@query(
    "stream_file_sink",
    oracle="""
    SELECT event_type, date_trunc('day', ts) AS day, count(*) AS n
    FROM events GROUP BY event_type, date_trunc('day', ts)
    ORDER BY event_type, day
    """,
)
def stream_file_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming → parquet FILE sink (exactly-once via the sink's commit
    log): per-(type, day) enrichment rows stream into a parquet directory;
    the verified result re-aggregates the landed files — proving the landed
    data, not the in-flight stream. Append-safe projection (no open
    windows), complete aggregation done batch-side on the landed rows."""
    ev = _stream_events(spark, sf_dir)
    proj = ev.select("event_type", F.date_trunc("day", "ts").alias("day"))
    out = scratch_dir(spark, "stream_file_sink")
    ckpt = scratch_dir(spark, "stream_file_sink_ckpt")
    q = (
        proj.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    landed = spark.read.parquet(out)
    return (
        landed.groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("event_type", "day")
    )


@query(
    "stream_foreach_batch",
    oracle="""
    SELECT event_type, count(*) AS n, round(sum(value), 2) AS sv
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def stream_foreach_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch — the production sink escape hatch (per-micro-batch
    custom writes with batch-id idempotence). Each micro-batch's partial
    (count, sum) per type is appended to a parquet staging dir keyed by
    batch id; the verified result merges the partials — decomposable-
    aggregate re-aggregation, the same partial→final contract as a shuffle."""
    out = scratch_dir(spark, "stream_foreach_batch")
    ckpt = scratch_dir(spark, "stream_foreach_batch_ckpt")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("pn"), F.sum("value").alias("psv"))
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(out)
        )

    ev = _stream_events(spark, sf_dir)
    q = (
        ev.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    partials = spark.read.parquet(out)
    return (
        partials.groupBy("event_type")
        .agg(F.sum("pn").alias("n"), F.round(F.sum("psv"), 2).alias("sv"))
        .orderBy("event_type")
    )


@query(
    "stream_session_live",
    oracle="""
    WITH g AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       < INTERVAL 30 MINUTE
                  THEN 0 ELSE 1 END AS new_s
      FROM events
    ), s AS (
      SELECT user_id, ts, value,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM g
    )
    SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           count(*) AS n_events, round(sum(value), 2) AS sv
    FROM s GROUP BY user_id, sid
    """,
)
def stream_session_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 as a LIVE streaming query: ``session_window`` over readStream in
    complete mode — exercises the streaming session-state store (open
    sessions merge/extend as batches arrive), not just the batch operator
    (`stream_session`). Same lag-gap oracle: the streaming result must
    equal the batch sessionization exactly once the finite stream drains."""
    ev = _stream_events(spark, sf_dir)
    agg = (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sv"),
        )
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
            "sv",
        )
    )
    return _run_to_table(agg, "complete")


_DOCS_SCHEMA = (
    "doc_id BIGINT, source STRING, lang STRING, n_chars BIGINT, "
    "quality DOUBLE, text STRING"
)


@query(
    "stream_dedup_against_corpus",
    oracle="""
    WITH corpus AS (
      SELECT DISTINCT md5(text) AS digest FROM documents WHERE doc_id < 250
    ),
    incoming AS (
      SELECT lang, md5(text) AS digest FROM documents
    )
    SELECT lang, CAST(count(DISTINCT digest) AS BIGINT) AS n_new_unique
    FROM incoming i
    WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.digest = i.digest)
    GROUP BY lang ORDER BY lang
    """,
)
def stream_dedup_against_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The nightly-ingest dedup shape, LIVE: a stream of incoming documents
    is deduplicated against the EXISTING corpus (left-anti join to a static
    digest set, broadcast per micro-batch) and within itself (distinct
    digest), yielding the per-language count of genuinely new unique
    documents. The 'corpus' is the first half of the documents table (by
    doc_id), the stream is the whole table — so the survivors are exactly
    the second-half digests absent from the first half.

    Output is counts of DISTINCT digests — order-independent, so the
    result is deterministic whatever micro-batch order the file stream
    picks. At 100 TB the static side is a bucketed digest index and the
    anti-join hits only the incoming batch — the same incoming-vs-base
    shape as `llm_incremental_dedup`, but running in the streaming engine
    with its state carried by the distinct aggregation."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    raw = (
        spark.readStream.schema(_DOCS_SCHEMA)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    incoming = raw.select("lang", F.md5("text").alias("digest"))
    corpus = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") < 250)
        .select(F.md5("text").alias("digest"))
        .distinct()
    )
    new_docs = incoming.join(F.broadcast(corpus), "digest", "left_anti")
    # streaming has no COUNT(DISTINCT): dedup statefully (dropDuplicates on
    # the (lang, digest) pair — the streaming dedup operator), then count.
    agg = (
        new_docs.dropDuplicates(["lang", "digest"])
        .groupBy("lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_new_unique"))
    )
    return _run_to_table(agg, "complete").orderBy("lang")


@query(
    "stream_cdc_apply",
    oracle="""
    WITH ranked AS (
      SELECT user_id, event_type, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    SELECT CAST(count(*) AS BIGINT) AS n_live,
           round(sum(value), 2) AS sv_live
    FROM ranked WHERE rn = 1 AND event_type <> 'error'
    """,
)
def stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture APPLY: the events stream is read as a CDC feed
    (op = delete for 'error' events, upsert otherwise; change order =
    (ts, event_id)) and folded into a materialized snapshot via
    foreachBatch — last-writer-wins per key, tombstones retained so a
    later batch can't resurrect a deleted key. Snapshots are versioned by
    micro-batch id (idempotent overwrite per version), which is exactly
    the replay-safe shape the checkpoint-restart tests prove: a retried
    batch rewrites its own version from its predecessor, never corrupting
    the chain. The final live-row aggregate must equal the batch
    LWW-window oracle over the whole feed, whatever the batch boundaries.

    100 TB shape: the per-batch merge is (snapshot ∪ batch) → one window
    over the key shuffle; production would partition the snapshot by key
    bucket and rewrite only buckets the batch touches (dynamic partition
    overwrite — `dml_partition_overwrite` is that operator), keeping
    per-batch IO proportional to the delta, not the snapshot."""
    from pyspark.sql.window import Window

    ev = _stream_events_multibatch(spark, sf_dir).select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        "value",
    )
    base = scratch_dir(spark, "stream_cdc_apply")
    ckpt = scratch_dir(spark, "stream_cdc_apply_ckpt")
    state = {"v": -1}

    def apply_batch(bdf: DataFrame, bid: int) -> None:
        s = bdf.sparkSession
        if state["v"] >= 0:
            prev = s.read.parquet(f"{base}/v{state['v']}")
            merged = prev.unionByName(bdf)
        else:
            merged = bdf
        w = Window.partitionBy("user_id").orderBy(
            F.desc("ts"), F.desc("event_id")
        )
        snap = (
            merged.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
        snap.write.mode("overwrite").parquet(f"{base}/v{bid}")
        state["v"] = bid

    q = (
        ev.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    snap = spark.read.parquet(f"{base}/v{state['v']}")
    return snap.filter(F.col("op") == "U").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_live"),
        F.round(F.sum("value"), 2).alias("sv_live"),
    )


@query(
    "stream_continuous_aggregate",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d-%H') AS hr,
           event_type, CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 2) AS sv
    FROM events GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def stream_continuous_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous aggregate (the hypertable-rollup pattern): a per-(hour,
    event_type) rollup table is MAINTAINED INCREMENTALLY as the stream
    arrives — each micro-batch merges its deltas into only the hour
    partitions it touches and rewrites exactly those via dynamic partition
    overwrite, never the whole rollup. Readers always see a complete
    rollup table; the final table must equal the batch GROUP BY oracle
    regardless of how batches split hours.

    100 TB shape: per-batch IO is proportional to touched partitions (a
    late-data batch touches old hours and only they get rewritten) — the
    streaming twin of `dml_partition_overwrite`, and the reason continuous
    aggregates beat re-running the rollup: the rollup table is
    |hours × types|-sized while the input is unbounded."""
    ev = _stream_events_multibatch(spark, sf_dir).select(
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd-HH").alias("hr"),
        "event_type",
        "value",
    )
    out = scratch_dir(spark, "stream_continuous_aggregate")
    ckpt = scratch_dir(spark, "stream_continuous_aggregate_ckpt")
    wrote = {"any": False}

    def merge_batch(bdf: DataFrame, bid: int) -> None:
        s = bdf.sparkSession
        delta = bdf.groupBy("hr", "event_type").agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("value").alias("sv_raw"),
        )
        if wrote["any"]:
            hours = [r.hr for r in delta.select("hr").distinct().collect()]
            existing = s.read.parquet(out).filter(F.col("hr").isin(hours))
            delta = (
                existing.unionByName(delta)
                .groupBy("hr", "event_type")
                .agg(F.sum("n").cast("bigint").alias("n"), F.sum("sv_raw").alias("sv_raw"))
            )
        # dynamic overwrite: only the hour partitions present in `delta`
        # are replaced; untouched hours keep their files.
        (
            delta.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("hr")
            .parquet(out)
        )
        wrote["any"] = True

    q = (
        ev.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rollup = spark.read.parquet(out)
    return rollup.select(
        "hr", "event_type", "n", F.round("sv_raw", 2).alias("sv")
    ).orderBy("hr", "event_type")
