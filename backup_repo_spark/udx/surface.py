"""UDF / UDAF / UDTF surface — SURVEY.md §2.D rows D1–D6.

Reference parity: Astro exposed Spark 1.4's (Scala) UDF registration;
Python UDxs are our modernized equivalent. The performance ladder these
queries demonstrate, worst → best (SURVEY.md §3.2 boundary-crossing notes):

  row-at-a-time @udf  <  Arrow-batched @pandas_udf  <  built-in functions

Every UDx here also has a built-in/SQL-expressible definition, which is what
makes the DuckDB oracles possible — the POINT of each query is the execution
path (serialization boundary, batch shape), not novel math.
"""

from __future__ import annotations

import uuid
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf, udf

from backup_repo_spark.registry import query
from backup_repo_spark.session import base_sql, load_table


@query(
    "udf_scalar",
    oracle="""
    SELECT doc_id, n_chars, CAST(n_chars // 100 AS BIGINT) AS size_bucket
    FROM documents
    """,
)
def udf_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1: row-at-a-time Python UDF (the slow path — one Python call per
    row; kept off every hot path in this engine, present for surface
    parity)."""

    @udf(returnType=T.LongType())
    def size_bucket(n_chars: int) -> int:
        return n_chars // 100

    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", "n_chars", size_bucket("n_chars").alias("size_bucket"))


@query(
    "udf_pandas_scalar",
    oracle="""
    SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
           CAST(length(text) AS BIGINT) AS n_len
    FROM documents
    """,
)
def udf_pandas_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2: vectorized scalar pandas_udf — Arrow batches, ~10-100× the
    row-at-a-time path (SNIPPETS.md pattern)."""

    @pandas_udf(T.LongType())
    def n_tokens(text: pd.Series) -> pd.Series:
        return text.str.split(" ").str.len().astype("int64")

    @pandas_udf(T.LongType())
    def n_len(text: pd.Series) -> pd.Series:
        return text.str.len().astype("int64")

    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", n_tokens("text").alias("n_tokens"), n_len("text").alias("n_len"))


@query(
    "udf_grouped_agg",
    oracle="""
    SELECT event_type,
           round(sum(value * (CAST(json_extract_string(props, '$.k') AS INT) + 1))
                 / sum(CAST(json_extract_string(props, '$.k') AS INT) + 1), 4)
             AS weighted_avg
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def udf_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3: grouped-aggregate pandas_udf (UDAF) — weighted mean per group;
    each group's columns arrive as whole pandas Series."""

    @pandas_udf(T.DoubleType())
    def weighted_avg(v: pd.Series, w: pd.Series) -> float:
        return float((v * w).sum() / w.sum())

    ev = load_table(spark, sf_dir, "events")
    w = (F.get_json_object("props", "$.k").cast("int") + 1).alias("w")
    return (
        ev.select("event_type", "value", w)
        .groupBy("event_type")
        .agg(F.round(weighted_avg("value", "w"), 4).alias("weighted_avg"))
        .orderBy("event_type")
    )


@query(
    "udf_grouped_map",
    oracle="""
    SELECT event_id, event_type,
           round((value - avg(value) OVER (PARTITION BY event_type))
                 / stddev_samp(value) OVER (PARTITION BY event_type), 4) AS z
    FROM events
    """,
)
def udf_grouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4: grouped-map applyInPandas — per-group z-score normalization, the
    canonical per-entity-normalize stage of a feature pipeline."""
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("z", T.DoubleType()),
        ]
    )

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf["value"]
        return pd.DataFrame(
            {
                "event_id": pdf["event_id"],
                "event_type": pdf["event_type"],
                "z": ((v - v.mean()) / v.std(ddof=1)).round(4),
            }
        )

    ev = load_table(spark, sf_dir, "events")
    return ev.select("event_id", "event_type", "value").groupBy("event_type").applyInPandas(
        zscore, schema=schema
    )


@query(
    "udtf_expand",
    oracle="""
    SELECT doc_id, unnest(string_split(text, ' ')) AS token,
           CAST(generate_subscripts(string_split(text, ' '), 1) AS BIGINT) AS pos
    FROM documents
    """,
)
def udtf_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5: UDTF — one input row expands to N output rows (token, position).
    Uses posexplode as the table-function mechanism (Python @udtf exists on
    Spark 3.5+, but the lateral expansion itself is the operator; the
    JVM-side form keeps it in codegen)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos0", "token")
    ).select("doc_id", "token", (F.col("pos0") + 1).cast("bigint").alias("pos"))


@query(
    "udf_map_in_pandas",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) AS net,
           CAST(l_quantity >= 25 AS INT) AS bulk_flag
    FROM lineitem
    """,
)
def udf_map_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D6: mapInPandas — whole-DataFrame Arrow-batch transform (the shape
    every Python pipeline stage should take: columnar in, columnar out)."""
    schema = T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("net", T.DoubleType()),
            T.StructField("bulk_flag", T.IntegerType()),
        ]
    )

    def stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "l_orderkey": pdf["l_orderkey"],
                    "l_linenumber": pdf["l_linenumber"],
                    "net": pdf["l_extendedprice"] * (1 - pdf["l_discount"]),
                    "bulk_flag": (pdf["l_quantity"] >= 25).astype("int32"),
                }
            )

    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_discount", "l_quantity"
    ).mapInPandas(stage, schema=schema)


@query(
    "udf_cogroup",
    oracle="""
    SELECT o.o_orderkey, round(o.o_totalprice, 2) AS price,
           count(l.l_orderkey) AS n_lines,
           coalesce(sum(l.l_quantity), 0.0) AS qty_total
    FROM orders o LEFT JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey < 2000
    GROUP BY o.o_orderkey, o.o_totalprice
    ORDER BY o.o_orderkey
    """,
)
def udf_cogroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped pandas transform: groupBy(key).cogroup(other).applyInPandas
    — both sides shuffled on the key, each (orders-group, lineitem-group)
    pair handed to ONE Python function as two aligned pandas frames (the
    custom merge/asof/reconciliation shape). Arrow-batched; per-key memory
    bounded by group size."""

    def reconcile(odf: pd.DataFrame, ldf: pd.DataFrame) -> pd.DataFrame:
        if len(odf) == 0:
            return pd.DataFrame(
                columns=["o_orderkey", "price", "n_lines", "qty_total"]
            )
        # l_quantity is integral (verified) → the sum is exact in double,
        # no cross-engine rounding hazard for a Python-side aggregate.
        return pd.DataFrame(
            {
                "o_orderkey": odf["o_orderkey"].iloc[:1],
                "price": [round(float(odf["o_totalprice"].iloc[0]), 2)],
                "n_lines": [len(ldf)],
                "qty_total": [float(ldf["l_quantity"].sum())],
            }
        )

    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 2000)
        .select("o_orderkey", "o_totalprice")
    )
    # r13 (guide §4): project lineitem to the two columns `reconcile`
    # reads BEFORE the cogroup — Spark cannot see inside the Python
    # function, so without this every lineitem column is scanned, shuffled
    # on the key, and shipped through Arrow into the worker.
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") < 2000)
        .select("l_orderkey", "l_quantity")
    )
    out = o.groupBy("o_orderkey").cogroup(li.groupBy("l_orderkey")).applyInPandas(
        reconcile,
        schema="o_orderkey BIGINT, price DOUBLE, n_lines BIGINT, qty_total DOUBLE",
    )
    return out.orderBy("o_orderkey")


@query(
    "udf_map_in_arrow",
    oracle="""
    SELECT doc_id, CAST(n_chars * 2 AS BIGINT) AS dbl_chars,
           upper(lang) AS lang_u
    FROM documents
    """,
)
def udf_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow — the zero-copy variant of mapInPandas: the Python stage
    receives raw pyarrow RecordBatches (no pandas conversion, no index
    bookkeeping) — the fastest Python boundary Spark offers, the right
    choice when the Python side is itself Arrow-native (polars, duckdb,
    custom C extensions)."""

    def stage(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for batch in batches:
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("doc_id"),
                    pc.multiply(batch.column("n_chars"), pa.scalar(2, pa.int64())),
                    pc.utf8_upper(batch.column("lang")),
                ],
                names=["doc_id", "dbl_chars", "lang_u"],
            )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars", "lang")
    return d.mapInArrow(
        stage, schema="doc_id BIGINT, dbl_chars BIGINT, lang_u STRING"
    )


@query(
    "udtf_polymorphic",
    oracle="""
    WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    SELECT doc_id, toks[1] AS tok_0, toks[2] AS tok_1, toks[3] AS tok_2
    FROM tk ORDER BY doc_id LIMIT 200
    """,
)
def udtf_polymorphic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polymorphic Python UDTF (Spark 3.5+/4.x): the static ``analyze``
    hook computes the OUTPUT SCHEMA from the call-site arguments — here
    first_k(text, 3) materializes columns tok_0..tok_2 at plan time. The
    schema-from-arguments contract is what lets one table function serve
    any width without casting; rows flow Arrow-batched like any UDTF."""
    from pyspark.sql.functions import AnalyzeArgument, AnalyzeResult, udtf

    @udtf
    class FirstK:
        @staticmethod
        def analyze(text: AnalyzeArgument, k: AnalyzeArgument) -> AnalyzeResult:
            out = T.StructType()
            for i in range(k.value):
                out = out.add(f"tok_{i}", T.StringType())
            return AnalyzeResult(schema=out)

        def eval(self, text: str, k: int):
            toks = (text or "").split(" ")[:k]
            yield tuple(toks + [None] * (k - len(toks)))

    fn = f"first_k_{uuid.uuid4().hex}"  # per call, so threads never share it
    spark.udtf.register(fn, FirstK)
    df = base_sql(
        spark, sf_dir, ["documents"],
        f"""
        SELECT d.doc_id, t.tok_0, t.tok_1, t.tok_2
        FROM documents d, LATERAL {fn}(d.text, 3) t
        ORDER BY d.doc_id LIMIT 200
        """
    )
    spark.sql(f"DROP TEMPORARY FUNCTION {fn}")  # the analysed plan holds the UDTF
    return df


@query(
    "udf_pandas_iter",
    oracle="""
    SELECT event_id, (value - 100.0) / 7.0 AS zval
    FROM events WHERE event_type = 'view'
    """,
)
def udf_pandas_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterator-form vectorized UDF (``Iterator[pd.Series] ->
    Iterator[pd.Series]``): same Arrow batching as a scalar pandas_udf,
    but the iterator shape lets expensive one-time setup (model load,
    dictionary mmap) happen ONCE PER PARTITION instead of once per batch
    — the pattern every ML-scoring stage at 100 TB should use. The
    arithmetic is two IEEE ops, value-identical to the SQL oracle."""
    from backup_repo_spark.session import load_events

    @pandas_udf(T.DoubleType())
    def zscore(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        center, scale = 100.0, 7.0  # per-partition setup happens here, once
        for s in batches:
            yield (s - center) / scale

    ev = load_events(spark, sf_dir)
    return (
        ev.filter(F.col("event_type") == "view")
        .select("event_id", zscore(F.col("value")).alias("zval"))
    )


@query(
    "udf_window_pandas",
    oracle="""
    SELECT event_id,
           round(avg(value) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 4) AS roll_mean
    FROM events
    """,
)
def udf_window_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pandas UDAF evaluated OVER A WINDOW FRAME — the third place a
    vectorized UDF can run (after select and groupBy.agg): Spark feeds
    each 5-row trailing frame to the Arrow-batched function. Here the
    function is a mean (so the SQL oracle can verify it); in practice
    this slot holds custom logic — trimmed means, online quantiles —
    that built-ins lack. Frames are tiny (≤5 rows), so pandas' pairwise
    summation degenerates to sequential — same add order as SQL."""
    from pyspark.sql.window import Window

    from backup_repo_spark.session import load_events

    @pandas_udf(T.DoubleType())
    def frame_mean(v: pd.Series) -> float:
        return float(v.mean())

    ev = load_events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, 0)
    )
    return ev.select(
        "event_id", F.round(frame_mean("value").over(w), 4).alias("roll_mean")
    )


@query(
    "udtf_table_arg",
    oracle="""
    SELECT o_orderstatus AS status, count(*) AS n,
           round(sum(o_totalprice), 2) AS total,
           round(max(o_totalprice), 2) AS biggest
    FROM orders GROUP BY o_orderstatus
    """,
)
def udtf_table_arg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UDTF with a TABLE(...) argument + PARTITION BY (Spark 4): the
    engine streams each partition's rows through eval() and terminate()
    emits the per-partition result — a CUSTOM AGGREGATION ENGINE written
    as a table function (the UDTF analog of applyInPandas, but row-wise
    streaming with O(1) state instead of whole-group materialization).
    Here the custom logic is count/sum/max so the SQL oracle can verify
    values exactly."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="status string, n bigint, total double, biggest double")
    class StatusStats:
        def __init__(self) -> None:
            self.status = None
            self.n = 0
            self.total = 0.0
            self.biggest = float("-inf")

        def eval(self, row) -> None:  # noqa: ANN001
            self.status = row["o_orderstatus"]
            self.n += 1
            self.total += row["o_totalprice"]
            self.biggest = max(self.biggest, row["o_totalprice"])

        def terminate(self):  # noqa: ANN202
            # a partition with no rows still gets terminate(); a row from
            # it crashes EvalPythonUDTFExec (NPE in JoinedRow.isNullAt)
            if self.n:
                yield self.status, self.n, round(self.total, 2), round(self.biggest, 2)

    fn = f"brs_status_stats_{uuid.uuid4().hex}"  # per call, so threads never share it
    spark.udtf.register(fn, StatusStats)
    # r13 (guide §4.1): pass only the two columns eval() reads. A bare
    # TABLE(orders) ships every orders column through the partition
    # shuffle and the pickled-row boundary; the engine cannot prune what
    # the Python class touches.
    df = spark.sql(
        f"""
        SELECT status, n, total, biggest
        FROM {fn}(
            TABLE(SELECT o_orderstatus, o_totalprice FROM {{orders}})
            PARTITION BY o_orderstatus)
        """,
        orders=load_table(spark, sf_dir, "orders"),
    )
    spark.sql(f"DROP TEMPORARY FUNCTION {fn}")  # the analysed plan holds the UDTF
    return df


@query(
    "udf_arrow_scalar",
    oracle="""
    SELECT doc_id, n_chars,
           CAST(n_chars * 100 // greatest(length(text), 1) AS BIGINT) AS chars_per_100
    FROM documents
    """,
)
def udf_arrow_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-optimized scalar Python UDF (Spark 3.5+/4.x `useArrow=True`):
    the same row-wise signature as udf_scalar but serialized in Arrow
    batches instead of pickled rows — the drop-in upgrade path when a
    row-at-a-time UDF can't be vectorized but its transfer cost can.
    Integer-exact arithmetic so the oracle comparison is bit-exact."""

    @udf(returnType=T.LongType(), useArrow=True)
    def chars_per_100(n_chars: int, text: str) -> int:
        return n_chars * 100 // max(len(text), 1)

    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id", "n_chars", chars_per_100("n_chars", "text").alias("chars_per_100")
    )
