"""Engine robustness: concurrent query execution on one shared session
(the multi-tenant usage shape an analytics engine must survive) and clean
failure on bad inputs."""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

import pytest

from backup_repo_spark import registry
from backup_repo_spark.session import load_table
from backup_repo_spark.testing import compare, hard_problems
from tests.conftest import SF_DIR

_CONCURRENT = [
    "agg_tpch_q1",
    "topk_revenue",
    "join_star_5way",
    "win_topn_per_group",
    "agg_distinct",
    "llm_dedup_exact",
    "fn_string",
    "set_union",
]

# Calls per key in the four-thread test. A race on a fixed session-level
# name shows only when calls overlap often enough: with one shared variable
# name, sql_session_variables failed this test in 9 of 10 runs at 32 calls,
# and returned no wrong rows in 10 trials of 8 calls.
_CALLS = 32


def test_concurrent_queries_share_one_session(spark):
    """Eight queries driven from eight threads against the same session —
    exercises the table cache and Spark's own thread-safe scheduling. Each
    thread must get the same row count as a serial run."""
    serial = {k: registry.QUERIES[k](spark, SF_DIR).count() for k in _CONCURRENT}

    def run(key: str) -> tuple[str, int]:
        return key, registry.QUERIES[key](spark, SF_DIR).count()

    with ThreadPoolExecutor(max_workers=8) as pool:
        parallel = dict(pool.map(run, _CONCURRENT))
    assert parallel == serial


@pytest.mark.parametrize(
    "key",
    [
        "dml_upsert",
        "ingest_schema_evolution",
        "dsv2_write_roundtrip",
        "insert_select",
        "ddl_roundtrip",
        "bulk_bucketed_join",
        "stats_analyze",
        "sql_session_variables",
        "sql_scalar_udf",
    ],
)
def test_same_writer_key_from_four_threads(spark, key):
    """One writer key run from four threads at once on the shared session.
    Each call must write its own scratch directory (a shared one fails with
    ``_temporary/0: No such file or directory``) and name its own catalog
    tables, views, session variables and temporary functions (a shared name
    fails with TABLE_OR_VIEW_ALREADY_EXISTS or reads another thread's
    rows or values), and the connector key must resolve
    its data source off the thread that built the session (else
    DATA_SOURCE_NOT_FOUND). Every result must equal the serial one."""
    serial = registry.QUERIES[key](spark, SF_DIR).toPandas()

    def run(_: int):
        return registry.QUERIES[key](spark, SF_DIR).toPandas()

    with ThreadPoolExecutor(max_workers=4) as pool:
        parallel = list(pool.map(run, range(_CALLS)))
    for pdf in parallel:
        assert not hard_problems(compare(pdf, serial))


def test_udtf_table_arg_on_the_bench_profile(spark, duck):
    """The bench profile (AQE off, 8 shuffle partitions) leaves some of the
    UDTF's PARTITION BY partitions empty. terminate() runs for those too
    and must emit nothing: a row from an empty partition crashed
    EvalPythonUDTFExec with a NullPointerException."""
    profile = {"spark.sql.adaptive.enabled": "false", "spark.sql.shuffle.partitions": "8"}
    old = {k: spark.conf.get(k) for k in profile}
    try:
        for k, v in profile.items():
            spark.conf.set(k, v)
        got = registry.QUERIES["udtf_table_arg"](spark, SF_DIR).toPandas()
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    want = duck.execute(registry.ORACLES["udtf_table_arg"]).fetchdf()
    assert not hard_problems(compare(got, want))


def test_bad_sf_dir_fails_cleanly(spark):
    with pytest.raises(Exception, match="PATH_NOT_FOUND|Path does not exist"):
        load_table(spark, "/root/testdata/sf_nope", "lineitem").count()


def test_session_codec_defaults(spark):
    """r13 codec pass (the retired codec_probe, README "Retired probes";
    OPTIMIZATION_r13.md §3): parquet writes default to
    zstd (strictly better locally: lineitem sf0.1 10.26 -> 8.24 MB, no
    scan penalty); the shuffle codec stays at Spark's lz4 default
    (zstd halves shuffle bytes but costs ~+14% executor CPU)."""
    assert spark.conf.get("spark.sql.parquet.compression.codec") == "zstd"
    assert spark.conf.get("spark.io.compression.codec") == "lz4"


def test_same_query_twice_is_deterministic(spark):
    a = registry.QUERIES["llm_dedup_simhash"](spark, SF_DIR).toPandas()
    b = registry.QUERIES["llm_dedup_simhash"](spark, SF_DIR).toPandas()
    assert a.sort_values(a.columns.tolist()).reset_index(drop=True).equals(
        b.sort_values(b.columns.tolist()).reset_index(drop=True)
    )


# ---------------------------------------------------------------------------
# Streaming failure recovery (VERDICT r02 item 5): kill a stream mid-run,
# restart from the same checkpoint, and prove exactly-once output / restored
# state against the batch oracle.
# ---------------------------------------------------------------------------

_EV_SCHEMA = (
    "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, "
    "event_type STRING, value DOUBLE, props STRING"
)


def _multi_file_source(spark, tmp_path, n_files=6):
    """events.parquet split into n_files so maxFilesPerTrigger yields
    multiple micro-batches (the single testdata file is one batch)."""
    src = str(tmp_path / "src")
    (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .repartition(n_files)
        .write.mode("overwrite")
        .parquet(src)
    )
    return src


@pytest.mark.parametrize("provider", ["hdfs", "rocksdb"])
def test_stream_stateful_crash_restart_restores_state(spark, tmp_path, provider):
    """applyInPandasWithState: the foreachBatch sink raises on micro-batch 2
    (a simulated executor/driver crash AFTER state for batches 0-1 was
    committed). Restarting from the same checkpoint must (a) replay batch 2
    with the SAME batch id, (b) restore per-user state, so the final
    cumulative counts equal the batch aggregate over ALL events.

    Parameterized over BOTH state-store providers: the default HDFS-backed
    store and RocksDB (`spark.sql.streaming.stateStore.providerClass`) —
    RocksDB is the 100 TB/day config SCALING.md names (state spills to
    local disk instead of executor heap), so its crash-restart semantics
    are exercised, not assumed."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    src = _multi_file_source(spark, tmp_path)
    out = str(tmp_path / "state_out")
    ckpt = str(tmp_path / "state_ckpt")

    _PROVIDER_CONF = "spark.sql.streaming.stateStore.providerClass"
    prior = spark.conf.get(_PROVIDER_CONF, None)
    if provider == "rocksdb":
        spark.conf.set(
            _PROVIDER_CONF,
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )

    def build(crash_on_batch):
        ev = (
            spark.readStream.schema(_EV_SCHEMA)
            .option("maxFilesPerTrigger", 2)
            .parquet(src)
        )

        def track(key, pdfs, state: GroupState):
            n, total = state.get if state.exists else (0, 0.0)
            for pdf in pdfs:
                n += len(pdf)
                total += float(pdf["value"].sum())
            state.update((n, total))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
            )

        updates = ev.groupBy("user_id").applyInPandasWithState(
            track,
            outputStructType="user_id BIGINT, n_events BIGINT, total_value DOUBLE",
            stateStructType="n BIGINT, total DOUBLE",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

        def sink(batch_df, batch_id):
            if batch_id in crash_on_batch:
                raise RuntimeError(f"injected crash at batch {batch_id}")
            # idempotent per-batch-id overwrite — the documented foreachBatch
            # exactly-once pattern
            batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode(
                "overwrite"
            ).parquet(f"{out}/batch={batch_id}")

        return (
            updates.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )

    try:
        # phase 1: crashes on batch 2 (batches 0-1 committed)
        q1 = build(crash_on_batch={2})
        with pytest.raises(Exception, match="injected crash"):
            q1.awaitTermination()
        # phase 2: same checkpoint, no crash — replays batch 2, finishes
        q2 = build(crash_on_batch=set())
        q2.awaitTermination()
    finally:
        if prior is None:
            spark.conf.unset(_PROVIDER_CONF)
        else:
            spark.conf.set(_PROVIDER_CONF, prior)

    landed = spark.read.option("basePath", out).parquet(f"{out}/batch=*")
    from pyspark.sql.window import Window

    final = (
        landed.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(F.desc("batch_id"))
            ),
        )
        .filter(F.col("rn") == 1)
        .select("user_id", "n_events", F.round("total_value", 2).alias("tv"))
    )
    expected = (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("tv"),
        )
    )
    diff = final.exceptAll(expected).count() + expected.exceptAll(final).count()
    assert diff == 0, f"state after crash-restart diverges from batch oracle ({diff} rows)"


def test_stream_file_sink_resume_is_exactly_once(spark, tmp_path):
    """Parquet streaming sink: run availableNow over half the source files,
    terminate, drop in the other half, restart from the same checkpoint.
    The sink's commit manifest must yield every event exactly once — no
    replays of already-committed batches, no losses."""
    from pyspark.sql import functions as F

    full = spark.read.parquet(f"{SF_DIR}/events.parquet")
    n_total = full.count()
    staged = str(tmp_path / "staged")
    src = str(tmp_path / "src")
    full.repartition(6).write.parquet(staged)
    import os
    import shutil

    os.makedirs(src)
    parts = sorted(p for p in os.listdir(staged) if p.endswith(".parquet"))
    assert len(parts) == 6
    for p in parts[:3]:
        shutil.copy(os.path.join(staged, p), os.path.join(src, p))

    out = str(tmp_path / "sink_out")
    ckpt = str(tmp_path / "sink_ckpt")

    def run_once():
        q = (
            spark.readStream.schema(_EV_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .select("event_id", "event_type")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()  # lands files 1-3, checkpoint records their offsets
    for p in parts[3:]:
        shutil.copy(os.path.join(staged, p), os.path.join(src, p))
    run_once()  # must land ONLY files 4-6

    landed = spark.read.parquet(out)
    assert landed.count() == n_total
    assert landed.select("event_id").distinct().count() == n_total  # no dupes


@pytest.mark.parametrize("provider", ["hdfs", "rocksdb"])
def test_stream_stream_join_crash_restart_restores_buffers(
    spark, tmp_path, provider
):
    """Stream-stream range join: the sink crashes on micro-batch 2 AFTER
    join buffers for earlier batches were committed to the state store.
    Restarting from the checkpoint must restore BOTH sides' buffered rows
    (an error arriving post-restart must still pair with a click that
    streamed in before the crash), so the landed pairs equal the batch
    join over all events. Parameterized over the HDFS-backed and RocksDB
    providers — stream-stream join state is the heaviest state-store user.

    The watermark delay (90 days) exceeds the whole series span (30
    days) ON PURPOSE: FileStreamSource orders files by MODIFICATION time
    — task-completion order, nondeterministic — so any tighter delay
    lets a late-era file land in batch 0, leap the watermark ahead, and
    late-drop earlier batches (observed: the same two pairs vanished on
    some runs under a 7-day delay when part-00005 arrived first; legal
    late-data semantics, but not what THIS test is about). With no drop
    possible, the batch join is the exact expected answer and the only
    thing under test is whether the crash loses BUFFERED join state."""
    from pyspark.sql import functions as F

    src = _multi_file_source(spark, tmp_path)
    out = str(tmp_path / "ssj_out")
    ckpt = str(tmp_path / "ssj_ckpt")

    _PROVIDER_CONF = "spark.sql.streaming.stateStore.providerClass"
    prior = spark.conf.get(_PROVIDER_CONF, None)
    if provider == "rocksdb":
        spark.conf.set(
            _PROVIDER_CONF,
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )

    def build(crash_on_batch):
        def side(etype, prefix):
            return (
                spark.readStream.schema(_EV_SCHEMA)
                .option("maxFilesPerTrigger", 2)
                .parquet(src)
                .filter(F.col("event_type") == etype)
                .select(
                    F.col("event_id").alias(f"{prefix}_id"),
                    F.col("user_id").alias(f"{prefix}_user"),
                    F.col("ts").cast("timestamp").alias(f"{prefix}_ts"),
                )
                .withWatermark(f"{prefix}_ts", "90 days")
            )

        joined = side("error", "err").join(
            side("click", "click"),
            (F.col("err_user") == F.col("click_user"))
            & (F.col("click_ts") >= F.col("err_ts") - F.expr("INTERVAL 30 MINUTES"))
            & (F.col("click_ts") <= F.col("err_ts")),
            "inner",
        ).select("err_id", "click_id")

        def sink(batch_df, batch_id):
            if batch_id in crash_on_batch:
                raise RuntimeError(f"injected crash at batch {batch_id}")
            batch_df.write.mode("overwrite").parquet(f"{out}/batch={batch_id}")

        return (
            joined.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )

    try:
        q1 = build(crash_on_batch={2})
        with pytest.raises(Exception, match="injected crash"):
            q1.awaitTermination()
        q2 = build(crash_on_batch=set())
        q2.awaitTermination()
    finally:
        if prior is None:
            spark.conf.unset(_PROVIDER_CONF)
        else:
            spark.conf.set(_PROVIDER_CONF, prior)

    landed = (
        spark.read.option("basePath", out)
        .parquet(f"{out}/batch=*")
        .select("err_id", "click_id")
        .distinct()
    )
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    e = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"),
        F.col("user_id").alias("u"),
        F.col("ts").alias("ets"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("cu"),
        F.col("ts").alias("cts"),
    )
    expected = e.join(
        c,
        (F.col("u") == F.col("cu"))
        & (F.col("cts") >= F.col("ets") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("cts") <= F.col("ets")),
        "inner",
    ).select("err_id", "click_id")
    diff = landed.exceptAll(expected).count() + expected.exceptAll(landed).count()
    assert diff == 0, f"join pairs after crash-restart diverge ({diff} rows)"
