"""DML patterns on immutable columnar storage — upsert (MERGE-style),
dynamic partition overwrite — plus ORC/JSON format round-trips.

Reference parity: Astro's DML is HBase `Put` via INSERT (SURVEY.md §2.A A8)
— cell-level upsert is free in a KV store. On immutable parquet the same
semantics are copy-on-write: rewrite the affected files, never edit in
place. The two queries here are the two granularities that matter:
full-table upsert via outer join (small tables / full rewrites) and
partition-scoped overwrite (the 100 TB pattern — only touched partitions
are rewritten; at petabyte scale a lakehouse table format adds file-level
MERGE on top of exactly this mechanism).

Scale notes: dynamic partition overwrite rewrites only partitions present
in the incoming DataFrame — an idempotent, re-runnable backfill primitive.
The upsert's full-outer join co-shuffles target and updates on the key;
with both sides bucketed on the key it would be exchange-free (see
bulk_bucketed_join).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from backup_repo_spark.registry import query
from backup_repo_spark.session import load_events, load_table, scratch_dir


@query(
    "dml_upsert",
    oracle="""
    WITH target AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderkey < 1000
    ),
    upd AS (
      SELECT o_orderkey, 'U' AS o_orderstatus, o_totalprice + 10.0 AS o_totalprice
      FROM orders WHERE o_orderkey BETWEEN 500 AND 1499
    )
    SELECT coalesce(u.o_orderkey, t.o_orderkey) AS o_orderkey,
           coalesce(u.o_orderstatus, t.o_orderstatus) AS o_orderstatus,
           coalesce(u.o_totalprice, t.o_totalprice) AS o_totalprice
    FROM target t FULL OUTER JOIN upd u ON t.o_orderkey = u.o_orderkey
    ORDER BY o_orderkey
    """,
)
def dml_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-style upsert on parquet: WHEN MATCHED update, WHEN NOT MATCHED
    insert — expressed as a full-outer join preferring the update side,
    with a physical write-back (copy-on-write) and re-read so the verified
    rows come from storage, not from the plan."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    target_path = scratch_dir(spark, "dml_upsert_target")
    o.filter(F.col("o_orderkey") < 1000).write.mode("overwrite").parquet(target_path)
    updates = o.filter(F.col("o_orderkey").between(500, 1499)).select(
        "o_orderkey",
        F.lit("U").alias("o_orderstatus"),
        (F.col("o_totalprice") + 10.0).alias("o_totalprice"),
    )
    target = spark.read.parquet(target_path)
    merged = (
        target.alias("t")
        .join(updates.alias("u"), F.col("t.o_orderkey") == F.col("u.o_orderkey"), "full_outer")
        .select(
            F.coalesce("u.o_orderkey", "t.o_orderkey").alias("o_orderkey"),
            F.coalesce("u.o_orderstatus", "t.o_orderstatus").alias("o_orderstatus"),
            F.coalesce("u.o_totalprice", "t.o_totalprice").alias("o_totalprice"),
        )
    )
    out = scratch_dir(spark, "dml_upsert_merged")
    merged.write.mode("overwrite").parquet(out)
    return spark.read.parquet(out).orderBy("o_orderkey")


@query(
    "dml_partition_overwrite",
    oracle="""
    SELECT o_orderstatus, count(*) AS n,
           round(sum(CASE WHEN o_orderstatus = 'F'
                          THEN o_totalprice + 100.0 ELSE o_totalprice END), 2) AS total
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def dml_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INSERT OVERWRITE of ONE partition (partitionOverwriteMode=dynamic):
    the second write carries only o_orderstatus='F' rows (values shifted
    +100) and replaces exactly that directory; 'O'/'P' partitions keep their
    original files. The read-back aggregate proves both halves."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    out = scratch_dir(spark, "dml_dynpart_orders")
    o.write.partitionBy("o_orderstatus").mode("overwrite").parquet(out)
    patched = o.filter(F.col("o_orderstatus") == "F").withColumn(
        "o_totalprice", F.col("o_totalprice") + 100.0
    )
    (
        patched.write.partitionBy("o_orderstatus")
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(out)
    )
    back = spark.read.parquet(out)
    return (
        back.groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total"))
        .orderBy("o_orderstatus")
    )


@query(
    "ingest_orc_roundtrip",
    oracle="""
    SELECT l_returnflag, count(*) AS n, round(sum(l_extendedprice), 2) AS total
    FROM lineitem WHERE l_orderkey < 5000
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def ingest_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source/sink round-trip (the second columnar format Spark ships;
    same pushdown/pruning machinery as parquet)."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 5000)
    out = scratch_dir(spark, "ingest_orc_lineitem")
    li.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    return (
        back.groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("l_extendedprice"), 2).alias("total"))
        .orderBy("l_returnflag")
    )


@query(
    "ingest_json_roundtrip",
    oracle="""
    SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
    FROM documents GROUP BY lang ORDER BY lang
    """,
)
def ingest_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink + schema-inferred source round-trip (Astro's LOAD
    DATA analog for semi-structured ingest; schema inference is the
    CSV/JSON-only convenience — parquet/ORC are self-describing)."""
    d = load_table(spark, sf_dir, "documents")
    out = scratch_dir(spark, "ingest_json_documents")
    d.write.mode("overwrite").json(out)
    back = spark.read.json(out)  # schema inferred
    return (
        back.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("n_chars").alias("chars"))
        .orderBy("lang")
    )


@query(
    "ingest_xml_roundtrip",
    oracle="""
    SELECT source, count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS id_sum
    FROM documents GROUP BY source ORDER BY source
    """,
)
def ingest_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML sink + source round-trip (native in Spark 4 — the third
    semi-structured format alongside JSON/CSV)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    out = scratch_dir(spark, "ingest_xml_documents")
    d.write.mode("overwrite").format("xml").option("rowTag", "doc").save(out)
    back = spark.read.format("xml").option("rowTag", "doc").load(out)
    return (
        back.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("doc_id").alias("id_sum"))
        .orderBy("source")
    )


@query(
    "ingest_schema_evolution",
    oracle="""
    SELECT lang,
           count(*) AS n,
           CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pre_evolution,
           CAST(sum(coalesce(n_chars, 0)) AS BIGINT) AS chars
    FROM (
      SELECT doc_id, lang, NULL::BIGINT AS n_chars
      FROM documents WHERE doc_id % 2 = 0
      UNION ALL
      SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 2 = 1
    ) GROUP BY lang ORDER BY lang
    """,
)
def ingest_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on a parquet dataset: generation 1 is written
    WITHOUT the n_chars column, generation 2 adds it; the read merges
    footer schemas (``mergeSchema``) and old rows surface NULL for the
    added column — the standard additive-column evolution contract a
    long-lived 100 TB dataset needs (never rewrite history to add a
    column). The oracle replays the same two-generation union."""
    d = load_table(spark, sf_dir, "documents")
    out = scratch_dir(spark, "ingest_schema_evo")
    gen1 = d.filter(F.col("doc_id") % 2 == 0).select("doc_id", "lang")
    gen2 = d.filter(F.col("doc_id") % 2 == 1).select("doc_id", "lang", "n_chars")
    gen1.write.mode("overwrite").parquet(out)
    gen2.write.mode("append").parquet(out)
    back = spark.read.option("mergeSchema", "true").parquet(out)
    return (
        back.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("n_chars").isNull().cast("int"))
            .cast("bigint")
            .alias("n_pre_evolution"),
            F.sum(F.coalesce("n_chars", F.lit(0))).cast("bigint").alias("chars"),
        )
        .orderBy("lang")
    )


@query(
    "dml_cdc_compact",
    oracle="""
    SELECT user_id, event_type, value,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_s
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def dml_cdc_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC log compaction: the event stream as a change log keyed by
    user_id — latest record wins (ts, then event_id for same-µs ties) —
    producing the current-state snapshot. One window pass per key, the
    merge-on-read half of the upsert story (`dml_upsert` is copy-on-
    write). At 100 TB this is the compaction job a streaming lakehouse
    runs per partition; the window never sees more than one key's rows."""
    from pyspark.sql.window import Window

    ev = load_events(spark, sf_dir)
    rn = F.row_number().over(
        Window.partitionBy("user_id").orderBy(
            F.desc("ts"), F.desc("event_id")
        )
    )
    return (
        ev.withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select(
            "user_id", "event_type", "value",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("last_s"),
        )
    )


@query(
    "ingest_csv_dialect",
    oracle="""
    SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars,
           min(text) AS first_text
    FROM documents GROUP BY lang ORDER BY lang
    """,
)
def ingest_csv_dialect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV dialect round-trip with the hostile options set: pipe delimiter,
    quoted fields (text contains spaces), backslash escape, header row,
    explicit schema on read (no inference drift). The aggregate — including
    min(text), which would catch any quoting/escaping corruption byte-wise
    — must match the parquet original. The LOAD DATA analog for delimited
    feeds that don't arrive as parquet."""
    d = load_table(spark, sf_dir, "documents")
    out = scratch_dir(spark, "ingest_csv_dialect")
    (
        d.write.mode("overwrite")
        .option("header", "true")
        .option("delimiter", "|")
        .option("quote", '"')
        .option("escape", "\\")
        .csv(out)
    )
    back = spark.read.schema(d.schema).option("header", "true").option(
        "delimiter", "|"
    ).option("quote", '"').option("escape", "\\").csv(out)
    return (
        back.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_chars").cast("bigint").alias("chars"),
            F.min("text").alias("first_text"),
        )
        .orderBy("lang")
    )


@query(
    "dml_dataset_diff",
    oracle="""
    WITH v1 AS (
      SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id < 450
    ), v2 AS (
      SELECT doc_id,
             md5(CASE WHEN doc_id % 10 = 3 THEN text || ' edited' ELSE text END)
               AS h
      FROM documents WHERE doc_id >= 50
    )
    SELECT
      CAST(sum(CASE WHEN v1.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        AS added,
      CAST(sum(CASE WHEN v2.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        AS removed,
      CAST(sum(CASE WHEN v1.doc_id IS NOT NULL AND v2.doc_id IS NOT NULL
                     AND v1.h <> v2.h THEN 1 ELSE 0 END) AS BIGINT)
        AS changed,
      CAST(sum(CASE WHEN v1.h = v2.h THEN 1 ELSE 0 END) AS BIGINT)
        AS unchanged
    FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
    """,
)
def dml_dataset_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-version DIFF: added / removed / changed / unchanged counts
    between two snapshot keyspaces via one full-outer join on the key with
    content-hash comparison (v2 simulates edits on every 10th doc). The
    audit a versioned lakehouse publishes with each new snapshot; with
    both sides bucketed on the key it runs exchange-free. Hash compare
    means the wide text column never crosses the shuffle."""
    d = load_table(spark, sf_dir, "documents")
    v1 = d.filter(F.col("doc_id") < 450).select(
        F.col("doc_id").alias("k1"), F.md5("text").alias("h1")
    )
    v2 = d.filter(F.col("doc_id") >= 50).select(
        F.col("doc_id").alias("k2"),
        F.md5(
            F.when(
                F.col("doc_id") % 10 == 3, F.concat(F.col("text"), F.lit(" edited"))
            ).otherwise(F.col("text"))
        ).alias("h2"),
    )
    j = v1.join(v2, v1.k1 == v2.k2, "full_outer")
    return j.agg(
        F.sum(F.col("k1").isNull().cast("int")).cast("bigint").alias("added"),
        F.sum(F.col("k2").isNull().cast("int")).cast("bigint").alias("removed"),
        F.sum(
            (F.col("k1").isNotNull() & F.col("k2").isNotNull() & (F.col("h1") != F.col("h2")))
            .cast("int")
        ).cast("bigint").alias("changed"),
        F.sum((F.col("h1") == F.col("h2")).cast("int")).cast("bigint").alias("unchanged"),
    )


@query(
    "dml_delete",
    oracle="""
    SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
    FROM documents
    WHERE NOT (source = 'src3' OR doc_id % 97 = 0)
    GROUP BY lang ORDER BY lang
    """,
)
def dml_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE WHERE on immutable parquet — the GDPR/right-to-erasure verb:
    copy-on-write anti-filter (keep rows NOT matching the delete predicate,
    here one source plus a scattered doc_id set), physical write-back, and
    re-read so the verified rows come from storage. At 100 TB the same
    predicate first prunes untouched partitions/files via min/max stats
    (only files containing victims rewrite — dml_partition_overwrite shows
    the partition-scoped form); a lakehouse DELETE is file-level
    bookkeeping over exactly this rewrite."""
    d = load_table(spark, sf_dir, "documents")
    target = scratch_dir(spark, "dml_delete_target")
    d.write.mode("overwrite").parquet(target)
    stored = spark.read.parquet(target)
    kept = stored.filter(~((F.col("source") == "src3") | (F.col("doc_id") % 97 == 0)))
    out = scratch_dir(spark, "dml_delete_after")
    kept.write.mode("overwrite").parquet(out)
    return (
        spark.read.parquet(out)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_chars").cast("bigint").alias("chars"),
        )
        .orderBy("lang")
    )


@query(
    "dml_snapshot_versions",
    oracle="""
    SELECT 'v1' AS version, lang, count(*) AS n FROM documents GROUP BY lang
    UNION ALL
    SELECT 'v2' AS version, lang, count(*) AS n FROM documents
    WHERE source <> 'src3' GROUP BY lang
    ORDER BY version, lang
    """,
)
def dml_snapshot_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot versioning (mini time travel) on immutable parquet: every
    mutation writes a NEW version directory (v1 = ingest, v2 = after a
    DELETE), and readers pick a version — both remain queryable, which is
    the isolation property lakehouse table formats provide via manifest
    files over exactly this layout. The verified result reads BOTH
    snapshots back from storage; at 100 TB the version pointer is a
    manifest, not a directory copy (only changed files differ), but the
    read-at-version semantics are identical."""
    d = load_table(spark, sf_dir, "documents")
    v1 = scratch_dir(spark, "dml_snap_v1")
    v2 = scratch_dir(spark, "dml_snap_v2")
    d.write.mode("overwrite").parquet(v1)
    spark.read.parquet(v1).filter(F.col("source") != "src3").write.mode(
        "overwrite"
    ).parquet(v2)
    s1 = (
        spark.read.parquet(v1)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("v1").alias("version"), "lang", "n")
    )
    s2 = (
        spark.read.parquet(v2)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("v2").alias("version"), "lang", "n")
    )
    return s1.unionByName(s2).orderBy("version", "lang")
