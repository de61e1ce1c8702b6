"""Scalar function packs — SURVEY.md §2.B rows B43–B50.

Reference parity: Astro inherited Spark 1.4's scalar function surface
(confidence H); ours is the Spark 4.x superset. One bundled query per family,
each projecting many functions, all JVM-side (whole-stage codegen — no
Python in any of these paths).

Oracle notes: function NAMES differ between engines (format_string↔printf,
size↔len, transform↔list_transform, …) but each projected column computes
the same value. Transcendentals (exp/ln/log10/pow) are rounded to 6 — libm
implementations may differ in the last ulp. Per-row arithmetic and string
ops are exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from backup_repo_spark.registry import query
from backup_repo_spark.session import base_sql, load_table


@query(
    "fn_string",
    oracle="""
    SELECT c_custkey,
           upper(c_mktsegment)                          AS seg_up,
           lower(c_name)                                AS name_lo,
           length(c_name)                               AS name_len,
           substr(c_name, 1, 8)                         AS name_pre,
           c_name || '|' || c_mktsegment                AS joined,
           lpad(CAST(c_custkey AS VARCHAR), 9, '0')     AS key_pad,
           split_part(c_name, '#', 2)                   AS name_num,
           regexp_extract(c_name, '([1-9][0-9]*)', 1)   AS first_num,
           regexp_replace(c_name, '0+', '', 'g')        AS no_zeros,
           instr(c_name, '1')                           AS pos_one,
           printf('%s:%d', c_mktsegment, c_nationkey)   AS fmt,
           reverse(c_mktsegment)                        AS seg_rev,
           trim('  ' || c_mktsegment || ' ')            AS seg_trim
    FROM customer
    """,
)
def fn_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B43: string function family (14 functions, one projection)."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_mktsegment").alias("seg_up"),
        F.lower("c_name").alias("name_lo"),
        F.length("c_name").cast("bigint").alias("name_len"),
        F.substring("c_name", 1, 8).alias("name_pre"),
        F.concat(F.col("c_name"), F.lit("|"), F.col("c_mktsegment")).alias("joined"),
        F.lpad(F.col("c_custkey").cast("string"), 9, "0").alias("key_pad"),
        F.expr("split_part(c_name, '#', 2)").alias("name_num"),
        F.regexp_extract("c_name", "([1-9][0-9]*)", 1).alias("first_num"),
        F.regexp_replace("c_name", "0+", "").alias("no_zeros"),
        F.instr("c_name", "1").cast("bigint").alias("pos_one"),
        F.format_string("%s:%d", "c_mktsegment", "c_nationkey").alias("fmt"),
        F.reverse("c_mktsegment").alias("seg_rev"),
        F.trim(F.concat(F.lit("  "), F.col("c_mktsegment"), F.lit(" "))).alias("seg_trim"),
    )


@query(
    "fn_datetime",
    oracle="""
    SELECT o_orderkey,
           year(o_orderdate)                                        AS y,
           month(o_orderdate)                                       AS m,
           day(o_orderdate)                                         AS d,
           quarter(o_orderdate)                                     AS q,
           CAST(date_trunc('month', o_orderdate) AS DATE)           AS month_start,
           CAST(o_orderdate AS DATE) + 30                           AS plus30,
           date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS days_to_2002,
           last_day(CAST(o_orderdate AS DATE))                      AS month_end,
           date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS day_num,
           (year(o_orderdate) - 1995) * 12 + month(o_orderdate) - 1 AS months_since_95,
           strftime(o_orderdate, '%Y-%m')                           AS ym
    FROM orders
    """,
)
def fn_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B44: date/time family. All timezone-free computations (the column is
    read as NTZ) so results agree regardless of session timezone."""
    o = load_table(spark, sf_dir, "orders")
    od = F.col("o_orderdate")
    odate = od.cast("date")
    return o.select(
        "o_orderkey",
        F.year(od).alias("y"),
        F.month(od).alias("m"),
        F.dayofmonth(od).alias("d"),
        F.quarter(od).alias("q"),
        F.date_trunc("month", od).cast("date").alias("month_start"),
        F.date_add(odate, 30).alias("plus30"),
        F.datediff(F.lit("2002-01-01").cast("date"), odate).cast("bigint").alias("days_to_2002"),
        F.last_day(odate).alias("month_end"),
        F.datediff(odate, F.lit("1970-01-01").cast("date")).cast("bigint").alias("day_num"),
        ((F.year(od) - 1995) * 12 + F.month(od) - 1).cast("bigint").alias("months_since_95"),
        F.date_format(od, "yyyy-MM").alias("ym"),
    )


@query(
    "fn_math",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           abs(l_quantity - 25.0)                       AS dist25,
           floor(l_extendedprice / 1000)                AS price_k,
           ceil(l_quantity / 7)                         AS qty7,
           round(pow(l_linenumber, 2), 6)               AS ln2,
           round(sqrt(l_quantity), 6)                   AS sq,
           round(exp(l_discount), 6)                    AS e_disc,
           round(ln(l_extendedprice), 6)                AS ln_price,
           round(log10(l_extendedprice), 6)             AS log_price,
           CAST(sign(l_quantity - 25.0) AS DOUBLE)      AS sgn,
           l_orderkey % 7                               AS mod7,
           greatest(l_quantity, l_extendedprice / 1000) AS hi,
           least(l_quantity, l_extendedprice / 1000)    AS lo
    FROM lineitem
    """,
)
def fn_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B45: math family. Transcendentals rounded to 6 (libm ulp drift);
    everything else is exact IEEE or integer arithmetic."""
    li = load_table(spark, sf_dir, "lineitem")
    q, p, d_, ln_ = F.col("l_quantity"), F.col("l_extendedprice"), F.col("l_discount"), F.col("l_linenumber")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(q - 25.0).alias("dist25"),
        F.floor(p / 1000).cast("double").alias("price_k"),
        F.ceil(q / 7).cast("double").alias("qty7"),
        F.round(F.pow(ln_, 2), 6).alias("ln2"),
        F.round(F.sqrt(q), 6).alias("sq"),
        F.round(F.exp(d_), 6).alias("e_disc"),
        F.round(F.log(p), 6).alias("ln_price"),
        F.round(F.log10(p), 6).alias("log_price"),
        F.signum(q - 25.0).alias("sgn"),
        (F.col("l_orderkey") % 7).alias("mod7"),
        F.greatest(q, p / 1000).alias("hi"),
        F.least(q, p / 1000).alias("lo"),
    )


@query(
    "fn_array",
    oracle="""
    SELECT doc_id,
           len(string_split(text, ' '))                                    AS n_tokens,
           array_to_string(list_slice(string_split(text, ' '), 1, 3), ' ') AS first3,
           CAST(list_contains(string_split(text, ' '), 'key') AS INT)      AS has_key,
           array_to_string(list_transform(list_slice(string_split(text, ' '), 1, 3),
                                          x -> upper(x)), ' ')             AS up3,
           CAST(list_sum(list_transform(string_split(text, ' '),
                                        x -> length(x))) AS BIGINT)        AS tok_chars,
           len(list_distinct(string_split(text, ' ')))                     AS n_distinct,
           array_to_string(list_sort(list_filter(list_distinct(string_split(text, ' ')),
                                                 x -> length(x) > 4)), ',') AS long_toks
    FROM documents
    """,
)
def fn_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B46: array family — split/size/slice/contains plus the lambda
    higher-order functions (transform/filter/aggregate), all JVM-side."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    return d.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.array_join(F.slice(toks, 1, 3), " ").alias("first3"),
        F.array_contains(toks, "key").cast("int").alias("has_key"),
        F.array_join(F.transform(F.slice(toks, 1, 3), lambda x: F.upper(x)), " ").alias("up3"),
        F.aggregate(toks, F.lit(0), lambda acc, x: acc + F.length(x))
        .cast("bigint")
        .alias("tok_chars"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_distinct"),
        F.array_join(
            F.sort_array(F.filter(F.array_distinct(toks), lambda x: F.length(x) > 4)), ","
        ).alias("long_toks"),
    )


@query(
    "fn_map",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INT)      AS k_val,
           map_extract(MAP {'k': CAST(json_extract_string(props, '$.k') AS INT)}, 'k')[1]
                                                               AS k_from_map,
           struct_pack(et := event_type, k := CAST(json_extract_string(props, '$.k') AS INT)).et
                                                               AS et_from_struct
    FROM events
    """,
)
def fn_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B47: map/struct construction and field access."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    m = F.create_map(F.lit("k"), k)
    s = F.struct(F.col("event_type").alias("et"), k.alias("k"))
    return ev.select(
        "event_id",
        k.alias("k_val"),
        F.element_at(m, "k").alias("k_from_map"),
        s.getField("et").alias("et_from_struct"),
    )


@query(
    "fn_json",
    oracle="""
    SELECT event_id,
           json_extract_string(props, '$.k')                    AS k_str,
           CAST(json_extract_string(props, '$.k') AS INT)       AS k_int,
           CAST(to_json(struct_pack(k := CAST(json_extract_string(props, '$.k') AS INT)))
                AS VARCHAR)                                     AS j
    FROM events
    """,
)
def fn_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B48: JSON extraction + re-serialization over events.props."""
    ev = load_table(spark, sf_dir, "events")
    k_str = F.get_json_object("props", "$.k")
    return ev.select(
        "event_id",
        k_str.alias("k_str"),
        k_str.cast("int").alias("k_int"),
        F.to_json(F.struct(k_str.cast("int").alias("k"))).alias("j"),
    )


@query(
    "fn_null",
    oracle="""
    SELECT c_custkey,
           coalesce(nullif(c_mktsegment, 'BUILDING'), '(none)') AS seg_or_none,
           CAST(nullif(c_mktsegment, 'BUILDING') IS NULL AS INT) AS was_building,
           CAST(isnan(CAST('NaN' AS DOUBLE)) AS INT)             AS nan_flag,
           CASE WHEN isnan(CAST('NaN' AS DOUBLE)) THEN round(c_acctbal, 2)
                ELSE 0.0 END                                     AS nanvl_bal
    FROM customer
    """,
)
def fn_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B49: null/NaN handling — coalesce/nullif/isnan/nanvl."""
    c = load_table(spark, sf_dir, "customer")
    seg_n = F.nullif(F.col("c_mktsegment"), F.lit("BUILDING"))
    nan = F.lit(float("nan"))
    return c.select(
        "c_custkey",
        F.coalesce(seg_n, F.lit("(none)")).alias("seg_or_none"),
        seg_n.isNull().cast("int").alias("was_building"),
        F.isnan(nan).cast("int").alias("nan_flag"),
        F.nanvl(nan, F.round("c_acctbal", 2)).alias("nanvl_bal"),
    )


@query(
    "fn_hash",
    oracle="""
    SELECT c_custkey,
           md5(c_name)            AS h_md5,
           sha256(c_name)         AS h_sha
    FROM customer
    """,
)
def fn_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B50 (portable half): md5/sha256 — algorithm-defined, cross-engine."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.md5("c_name").alias("h_md5"),
        F.sha2("c_name", 256).alias("h_sha"),
    )


@query("fn_hash_spark")  # rows-only BY DESIGN — see docstring
def fn_hash_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B50 (engine half): xxhash64 / murmur hash / crc32 /
    monotonically_increasing_id.

    Rows-only BY DESIGN, permanently: these functions are DEFINED as
    Spark's own algorithms (xxhash64 with Spark's seed/byte layout,
    Murmur3 with Spark's type-tagged encoding, task-id-prefixed row ids)
    — there is no engine-independent ground truth to compare against, and
    any DuckDB expression that "matched" would be a reimplementation of
    Spark internals, not an oracle. The engine-independent hash surface
    (md5/sha1/sha2) is the value-verified sibling `fn_hash`."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.xxhash64("c_name").alias("h_xx"),
        F.hash("c_name", "c_custkey").alias("h_murmur"),
        F.crc32("c_name").alias("h_crc"),
        F.monotonically_increasing_id().alias("row_id"),
    )


@query(
    "fn_bitwise",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_linenumber & 5  AS b_and,
           l_linenumber | 8  AS b_or,
           xor(l_linenumber, 3) AS b_xor,
           l_linenumber << 2 AS b_shl,
           l_linenumber >> 1 AS b_shr,
           bit_count(l_linenumber) AS b_cnt
    FROM lineitem WHERE l_orderkey < 100
    """,
)
def fn_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise function pack (&, |, XOR, shifts, popcount) — flag-mask
    manipulation surface."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 100)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.expr("l_linenumber & 5").alias("b_and"),
        F.expr("l_linenumber | 8").alias("b_or"),
        F.expr("l_linenumber ^ 3").alias("b_xor"),
        F.shiftleft("l_linenumber", 2).alias("b_shl"),
        F.shiftright("l_linenumber", 1).alias("b_shr"),
        F.bit_count("l_linenumber").cast("long").alias("b_cnt"),
    )


@query(
    "fn_variant",
    oracle="""
    SELECT CAST(json_extract(props, '$.k') AS INT) % 10 AS k_bucket,
           count(*) AS n
    FROM events
    GROUP BY k_bucket ORDER BY k_bucket
    """,
)
def fn_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT type (Spark 4): parse_json into a variant column, typed path
    extraction with variant_get — the schema-on-read semi-structured path
    that replaces string-JSON round-trips. At scale variant uses a binary
    encoding with shredded access, far cheaper than repeated get_json_object
    string parsing."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(F.parse_json("props").alias("v"))
    return (
        v.select((F.expr("variant_get(v, '$.k', 'int')") % 10).alias("k_bucket"))
        .groupBy("k_bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("k_bucket")
    )


_PARAM_SQL = """
    SELECT o_orderstatus, count(*) AS n
    FROM orders
    WHERE o_totalprice > {threshold} AND o_orderpriority = '{prio}'
    GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


@query(
    "sql_parameterized",
    oracle=_PARAM_SQL.format(threshold=250000.0, prio="1-URGENT"),
)
def sql_parameterized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL (named parameter markers) — the injection-safe
    programmatic entry path: the plan is compiled with typed parameters, not
    string-spliced literals. Oracle is the same query with the parameters
    inlined."""
    return base_sql(
        spark, sf_dir, ["orders"],
        """
        SELECT o_orderstatus, count(*) AS n
        FROM orders
        WHERE o_totalprice > :threshold AND o_orderpriority = :prio
        GROUP BY o_orderstatus ORDER BY o_orderstatus
        """,
        args={"threshold": 250000.0, "prio": "1-URGENT"},
    )


@query(
    "fn_string_extra",
    oracle="""
    SELECT p_partkey,
           levenshtein(p_name, 'red widget') AS lev,
           translate(p_name, 'aeiou', '-----') AS devoweled,
           substr(p_name, 1, 1) || 'X' || substr(p_name, 3) AS overlaid,
           reverse(p_name) AS rev,
           ascii(p_name) AS first_code,
           repeat(substr(p_name, 1, 2), 2) AS rep2
    FROM part WHERE p_partkey < 500
    """,
)
def fn_string_extra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extended string pack: edit distance (levenshtein — fuzzy-match dedup
    primitive), translate, overlay, reverse, ascii, repeat. The overlay
    oracle is spelled with substr concat (DuckDB has no overlay)."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") < 500)
    return p.select(
        "p_partkey",
        F.levenshtein("p_name", F.lit("red widget")).alias("lev"),
        F.translate("p_name", "aeiou", "-----").alias("devoweled"),
        F.overlay("p_name", F.lit("X"), F.lit(2), F.lit(1)).alias("overlaid"),
        F.reverse("p_name").alias("rev"),
        F.ascii("p_name").alias("first_code"),
        F.repeat(F.substring("p_name", 1, 2), 2).alias("rep2"),
    )


@query(
    "fn_try",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CASE WHEN l_linenumber - 1 = 0 THEN NULL
                ELSE l_quantity / (l_linenumber - 1) END AS safe_div,
           TRY_CAST(l_returnflag AS INT) AS flag_as_int,
           TRY_CAST(CAST(l_linenumber AS VARCHAR) AS INT) AS line_as_int
    FROM lineitem WHERE l_orderkey < 500
    """,
)
def fn_try(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe try_* family: NULL instead of error on div-by-zero and bad
    casts — the semantics that let a 100 TB job survive dirty rows instead
    of dying at 99%. DuckDB mirrors try_divide with an explicit CASE."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 500)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.try_divide("l_quantity", F.col("l_linenumber") - 1).alias("safe_div"),
        F.expr("try_cast(l_returnflag AS INT)").alias("flag_as_int"),
        F.expr("try_cast(cast(l_linenumber AS STRING) AS INT)").alias("line_as_int"),
    )


@query(
    "fn_higher_order",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    SELECT doc_id,
           array_to_string(list_transform(toks, x -> upper(x)), ' ') AS upper_toks,
           array_to_string(list_filter(toks, x -> length(x) > 4), ' ') AS long_toks,
           len(list_filter(toks, x -> x = 'scan')) > 0 AS has_scan,
           len(list_filter(toks, x -> NOT length(x) >= 2)) = 0 AS all_ge2,
           CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) AS total_len,
           array_to_string(list_transform(toks, x -> x || '!'), ' ') AS banged
    FROM t
    """,
)
def fn_higher_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array lambdas: transform / filter / exists / forall /
    aggregate (fold) / zip_with — all JVM-side codegen'd, the idiomatic way
    to process array columns WITHOUT exploding (no row multiplication, no
    shuffle). The oracle spells exists/forall/fold with DuckDB's
    list_filter/list_sum equivalents. Array results are rendered to strings
    because the driver's row-canonicalizer sorts on raw values and cannot
    order list cells (round-1 failure: `unhashable type: 'list'`)."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    return d.select(
        "doc_id",
        F.array_join(F.transform(toks, lambda x: F.upper(x)), " ").alias("upper_toks"),
        F.array_join(F.filter(toks, lambda x: F.length(x) > 4), " ").alias("long_toks"),
        F.exists(toks, lambda x: x == "scan").alias("has_scan"),
        F.forall(toks, lambda x: F.length(x) >= 2).alias("all_ge2"),
        F.aggregate(
            toks, F.lit(0).cast("bigint"), lambda acc, x: acc + F.length(x)
        ).alias("total_len"),
        F.array_join(
            F.zip_with(toks, toks, lambda x, y: F.concat(x, F.lit("!"))), " "
        ).alias("banged"),
    )


@query(
    "fn_stack",
    oracle="""
    SELECT o_orderkey, 'total' AS measure, o_totalprice AS val FROM orders
    UNION ALL
    SELECT o_orderkey, 'key2x', o_orderkey * 2.0 FROM orders
    """,
)
def fn_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stack(n, ...) generator — the SQL spelling of unpivot (cf.
    reshape_unpivot for the DataFrame API form). Pure generate, no
    shuffle."""
    return base_sql(
        spark, sf_dir, ["orders"],
        """
        SELECT o_orderkey, measure, val
        FROM orders
        LATERAL VIEW stack(2, 'total', o_totalprice, 'key2x', CAST(o_orderkey AS DOUBLE) * 2.0)
          AS measure, val
        """
    )


@query(
    "fn_explode_outer",
    oracle="""
    SELECT o_orderkey, unnest([1, 2]) AS v FROM orders WHERE o_orderkey % 10 != 0
    UNION ALL
    SELECT o_orderkey, NULL AS v FROM orders WHERE o_orderkey % 10 = 0
    """,
)
def fn_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode_outer — generator that PRESERVES rows whose array is NULL
    (plain explode drops them; the outer form is what keeps a record-count
    invariant through an enrichment pipeline). Oracle spells the null-
    preservation as an explicit UNION branch."""
    o = load_table(spark, sf_dir, "orders")
    arr = F.when(F.col("o_orderkey") % 10 != 0, F.array(F.lit(1), F.lit(2)))
    return o.select("o_orderkey", arr.alias("arr")).select(
        "o_orderkey", F.explode_outer("arr").alias("v")
    )


@query(
    "fn_map_extra",
    oracle="""
    WITH src AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders
                 WHERE o_orderkey < 2000)
    SELECT * FROM (
      SELECT o_orderkey, 'p' AS key, CAST(6 AS BIGINT) AS val
      FROM src WHERE o_totalprice > 100000
      UNION ALL
      SELECT o_orderkey, 'k', (o_custkey % 10) * 2
      FROM src WHERE (o_custkey % 10) * 2 >= 6
      UNION ALL
      SELECT o_orderkey, 'c', 1 FROM src
    ) ORDER BY o_orderkey, key
    """,
)
def fn_map_extra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order map functions: transform_values, map_filter,
    map_concat, then explode back to (key, value) rows. The oracle derives
    the surviving entries from first principles (DuckDB's map surface is
    thin), which also documents the semantics: double every value, keep
    entries >= 6, union a constant entry. All JVM-side lambdas — no Python
    boundary."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000)
    m = F.create_map(
        F.lit("p"),
        (F.col("o_totalprice") > 100000).cast("long") * 3,
        F.lit("k"),
        F.col("o_custkey") % 10,
    )
    doubled = F.transform_values(m, lambda _, v: v * 2)
    kept = F.map_filter(doubled, lambda _, v: v >= 6)
    final = F.map_concat(kept, F.create_map(F.lit("c"), F.lit(1).cast("long")))
    return (
        o.select("o_orderkey", F.explode(final).alias("key", "val"))
        .orderBy("o_orderkey", "key")
    )


@query(
    "fn_mask",
    oracle="""
    SELECT c_custkey,
           regexp_replace(regexp_replace(regexp_replace(c_name,
               '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'), '[0-9]', 'n', 'g')
             AS masked_default,
           regexp_replace(c_name, '[0-9]', '*', 'g') AS masked_digits
    FROM customer ORDER BY c_custkey LIMIT 100
    """,
)
def fn_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data masking: mask() hides PII-shaped content class-by-class
    (upper→X, lower→x, digit→n, punctuation kept). The second column masks
    only digits via the keyword overrides. Oracle mirrors with regex
    classes — verifying mask's exact character-class semantics."""
    c = load_table(spark, sf_dir, "customer")
    return (
        c.select(
            "c_custkey",
            F.mask("c_name").alias("masked_default"),
            F.mask(
                "c_name",
                upperChar=F.lit(None),
                lowerChar=F.lit(None),
                digitChar=F.lit("*"),
            ).alias("masked_digits"),
        )
        .orderBy("c_custkey")
        .limit(100)
    )


_AES_KEY = "0000111122223333"


@query(
    "fn_aes_roundtrip",
    oracle="""
    SELECT doc_id, text AS decrypted, true AS roundtrip_ok
    FROM documents ORDER BY doc_id LIMIT 100
    """,
)
def fn_aes_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column encryption round-trip: aes_decrypt(aes_encrypt(text)) must
    reproduce the input bytes exactly (ECB keeps the pipeline deterministic;
    production would use GCM, whose random IV precludes value oracles).
    The at-rest-crypto pattern for sensitive columns; both sides JVM-native."""
    d = load_table(spark, sf_dir, "documents")
    enc = F.expr(f"aes_encrypt(text, '{_AES_KEY}', 'ECB')")
    dec = F.expr(
        f"CAST(aes_decrypt(aes_encrypt(text, '{_AES_KEY}', 'ECB'), "
        f"'{_AES_KEY}', 'ECB') AS STRING)"
    )
    return (
        d.select(
            "doc_id",
            dec.alias("decrypted"),
            (dec == F.col("text")).alias("roundtrip_ok"),
        )
        .orderBy("doc_id")
        .limit(100)
    )


@query(
    "fn_url",
    oracle="""
    SELECT doc_id,
           source || '.example.com' AS host,
           '/docs/' || doc_id AS path,
           lang AS lang_param,
           replace(substr(text, 1, 30), ' ', '+') AS enc,
           substr(text, 1, 30) AS dec,
           base64(encode(substr(text, 1, 20))) AS b64,
           substr(text, 1, 20) AS b64_rt
    FROM documents ORDER BY doc_id
    """,
)
def fn_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL + binary-codec pack: parse_url (HOST/PATH/keyed QUERY),
    url_encode/url_decode round-trip, base64/unbase64 round-trip. The
    provenance-handling primitives of a web-crawl curation pipeline (dedup
    by host, partition by path, decode stored payloads). The oracle mirrors
    parse_url by reconstructing the parts and form-encoding (space→'+')
    over the documents' constrained charset."""
    return spark.sql(
        """
        SELECT doc_id,
               parse_url(u, 'HOST') AS host,
               parse_url(u, 'PATH') AS path,
               parse_url(u, 'QUERY', 'lang') AS lang_param,
               url_encode(substr(text, 1, 30)) AS enc,
               url_decode(url_encode(substr(text, 1, 30))) AS dec,
               base64(CAST(substr(text, 1, 20) AS BINARY)) AS b64,
               CAST(unbase64(base64(CAST(substr(text, 1, 20) AS BINARY)))
                    AS STRING) AS b64_rt
        FROM (SELECT doc_id, text,
                     concat('https://', source, '.example.com/docs/', doc_id,
                            '?lang=', lang) AS u
              FROM {documents})
        ORDER BY doc_id
        """,
        documents=load_table(spark, sf_dir, "documents"),
    )


@query(
    "fn_timezone",
    oracle="""
    SELECT o_orderkey,
           strftime((o_orderdate AT TIME ZONE 'UTC')
                    AT TIME ZONE 'America/New_York', '%Y-%m-%d %H:%M') AS ny_wall,
           strftime((o_orderdate AT TIME ZONE 'UTC')
                    AT TIME ZONE 'Asia/Tokyo', '%Y-%m-%d %H:%M') AS tokyo_wall,
           strftime((o_orderdate AT TIME ZONE 'Europe/Berlin')
                    AT TIME ZONE 'UTC', '%Y-%m-%d %H:%M') AS utc_of_berlin,
           strftime(make_timestamp(2024, 3, 15, 10, 30, 0), '%Y-%m-%d %H:%M') AS made
    FROM orders WHERE o_orderkey < 3000 ORDER BY o_orderkey
    """,
)
def fn_timezone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timezone pack: from_utc_timestamp / to_utc_timestamp /
    convert_timezone / make_timestamp, value-aligned with DuckDB's
    AT TIME ZONE chains (both sides use the IANA tzdb). Wall-clock
    reporting over a UTC-normalized lakehouse is the standard pattern —
    store UTC, shift at the edge. Formatted to minutes so the comparison
    checks the tz math, not sub-second representation."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 3000)
    return o.select(
        "o_orderkey",
        F.date_format(
            F.from_utc_timestamp("o_orderdate", "America/New_York"),
            "yyyy-MM-dd HH:mm",
        ).alias("ny_wall"),
        F.date_format(
            F.expr("convert_timezone('UTC', 'Asia/Tokyo', o_orderdate)"),
            "yyyy-MM-dd HH:mm",
        ).alias("tokyo_wall"),
        F.date_format(
            F.to_utc_timestamp("o_orderdate", "Europe/Berlin"), "yyyy-MM-dd HH:mm"
        ).alias("utc_of_berlin"),
        F.date_format(
            F.expr("make_timestamp(2024, 3, 15, 10, 30, 0)"), "yyyy-MM-dd HH:mm"
        ).alias("made"),
    ).orderBy("o_orderkey")


@query(
    "fn_format",
    oracle="""
    WITH t AS (
      SELECT o_orderkey,
             CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      FROM orders WHERE o_orderkey < 3000)
    SELECT o_orderkey,
           lpad(printf('%,d', cents // 100) || '.' ||
                lpad(CAST(cents % 100 AS VARCHAR), 2, '0'), 14, ' ') AS price_s,
           printf('%,d', o_orderkey * 1000) AS key_s,
           CAST(CAST(1234.56 AS DECIMAL(6,2)) AS DOUBLE) AS parsed
    FROM t ORDER BY o_orderkey
    """,
)
def fn_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Number formatting/parsing: to_char with a digit-grouping picture,
    format_number, try_to_number (string→DECIMAL). Values go through
    DECIMAL(12,2) before formatting so both engines round identically;
    DuckDB can't group-format floats, so the oracle formats exact integer
    cents (%,d on the whole part + zero-padded fraction) — same string,
    no float formatting in the comparison path."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 3000)
    return o.select(
        "o_orderkey",
        F.expr(
            "to_char(CAST(o_totalprice AS DECIMAL(12,2)), '999,999,990.99')"
        ).alias("price_s"),
        F.expr("format_number(o_orderkey * 1000, 0)").alias("key_s"),
        F.expr("CAST(try_to_number('1,234.56', '9,999.99') AS DOUBLE)").alias(
            "parsed"
        ),
    ).orderBy("o_orderkey")


@query(
    "fn_str_to_map",
    oracle="""
    SELECT o_orderkey, o_orderstatus AS status,
           CAST(substr(o_orderpriority, 1, 1) AS INT) AS prio
    FROM orders ORDER BY o_orderkey
    """,
)
def fn_str_to_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """str_to_map: parse 'k:v,k:v' strings into a MAP and extract typed
    fields — the cheap path for semi-structured tag columns that aren't
    worth a JSON parse. The map is built from the row's own columns, so
    the oracle is simply those columns: round-trip proven if extraction
    equals origin."""
    o = load_table(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT o_orderkey, m['status'] AS status, CAST(m['prio'] AS INT) AS prio
        FROM (SELECT o_orderkey,
                     str_to_map(concat('status:', o_orderstatus,
                                       ',prio:', substr(o_orderpriority, 1, 1)),
                                ',', ':') AS m
              FROM {o})
        ORDER BY o_orderkey
        """,
        o=o,
    )


@query(
    "fn_array_extra",
    oracle="""
    WITH t AS (
      SELECT p_partkey, p_size,
             generate_series(1, p_size % 5 + 2) AS a,
             [2, 4, 6] AS b
      FROM part
    )
    SELECT p_partkey,
           array_to_string(list_sort(list_distinct(list_concat(a, b))), ',') AS union_s,
           array_to_string(list_sort(list_intersect(a, b)), ',')             AS inter_s,
           array_to_string(list_sort(list_filter(a, x -> NOT list_contains(b, x))), ',') AS except_s,
           array_to_string(flatten([a, b]), ',')                             AS flat,
           array_to_string(list_transform(generate_series(1, 3), x -> p_size % 3), ',') AS rep,
           CAST(coalesce(list_position(a, 3), 0) AS BIGINT)                  AS pos3,
           list_max(a) AS amax, list_min(a) AS amin,
           CAST(len(list_intersect(a, b)) > 0 AS INT)                        AS overlaps
    FROM t
    """,
)
def fn_array_extra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array set-algebra family: union/intersect/except/flatten/repeat/
    position/max/min/overlap. Set-valued results are projected SORTED and
    string-joined — Spark's array_union/intersect/except guarantee only
    first-occurrence order, which differs from DuckDB's, so comparing the
    sorted rendering checks set semantics without over-constraining order.
    All JVM-side (whole-stage codegen); map-only, zero shuffle."""
    p = load_table(spark, sf_dir, "part")
    a = F.sequence(F.lit(1), F.col("p_size") % 5 + 2)
    b = F.array(F.lit(2), F.lit(4), F.lit(6))
    return p.select(
        "p_partkey",
        F.array_join(F.array_sort(F.array_union(a, b)), ",").alias("union_s"),
        F.array_join(F.array_sort(F.array_intersect(a, b)), ",").alias("inter_s"),
        F.array_join(F.array_sort(F.array_except(a, b)), ",").alias("except_s"),
        F.array_join(F.flatten(F.array(a, b)), ",").alias("flat"),
        F.array_join(F.array_repeat(F.col("p_size") % 3, 3), ",").alias("rep"),
        F.array_position(a, 3).cast("bigint").alias("pos3"),
        F.array_max(a).alias("amax"),
        F.array_min(a).alias("amin"),
        F.arrays_overlap(a, b).cast("int").alias("overlaps"),
    )


@query(
    "fn_conv_base",
    oracle="""
    SELECT p_partkey,
           hex(p_partkey)                         AS hex_key,
           bin(p_partkey)                         AS bin_key,
           ascii(substr(p_name, 1, 1))            AS first_ord,
           chr(65 + p_size % 26)                  AS size_chr,
           repeat(chr(65 + p_size % 26), 3)       AS size_chr3,
           hex(p_name)                            AS hex_name
    FROM part
    """,
)
def fn_conv_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Base-conversion / character-code family: hex (ints and strings),
    bin, ascii, chr, repeat — exact string outputs, no float hazard."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.hex("p_partkey").alias("hex_key"),
        F.bin("p_partkey").alias("bin_key"),
        F.ascii(F.substring("p_name", 1, 1)).alias("first_ord"),
        F.chr(F.lit(65) + F.col("p_size") % 26).alias("size_chr"),
        F.repeat(F.chr(F.lit(65) + F.col("p_size") % 26), 3).alias("size_chr3"),
        F.hex("p_name").alias("hex_name"),
    )


@query(
    "fn_datetime_extra",
    oracle="""
    SELECT o_orderkey,
           quarter(CAST(o_orderdate AS DATE))    AS qtr,
           weekofyear(CAST(o_orderdate AS DATE)) AS iso_week,
           isodow(CAST(o_orderdate AS DATE))     AS iso_dow,
           dayofyear(CAST(o_orderdate AS DATE))  AS doy,
           make_date(CAST(year(o_orderdate) AS INT),
                     CAST(month(o_orderdate) AS INT),
                     CAST(day(o_orderdate) AS INT)) AS rebuilt
    FROM orders
    """,
)
def fn_datetime_extra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-field family beyond B44: quarter, ISO week, ISO weekday,
    day-of-year, and a make_date() round-trip from extracted fields.
    Weekday numbering is the classic cross-engine trap (Spark dayofweek is
    1=Sunday, DuckDB's is 0=Sunday): the ISO convention (1=Monday) is the
    one both can express — Spark as weekday()+1, DuckDB as isodow()."""
    o = load_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.quarter(d).alias("qtr"),
        F.weekofyear(d).alias("iso_week"),
        (F.weekday(d) + 1).alias("iso_dow"),
        F.dayofyear(d).alias("doy"),
        F.make_date(F.year(d), F.month(d), F.dayofmonth(d)).alias("rebuilt"),
    )


@query(
    "fn_regex_pack",
    oracle="""
    SELECT doc_id,
           coalesce(array_to_string(regexp_extract_all(text, 'k[a-z]+'), ','), '') AS k_words,
           CAST(len(regexp_extract_all(text, 'k[a-z]+')) AS INT)     AS k_count,
           CAST(regexp_matches(text, 'scan') AS INT)                 AS has_scan,
           regexp_extract(text, '[a-z]*row[a-z]*', 0)                AS first_row_word,
           regexp_replace(text, '[aeiou]', '_', 'g')                 AS devoweled
    FROM documents
    """,
)
def fn_regex_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex family beyond B43's extract/replace: extract-ALL (array),
    match counting, boolean match, first-match substring, and global
    replacement. Patterns are POSIX-class-free so Java regex and RE2
    agree byte-for-byte. All JVM-side codegen — regex in the hot path
    stays off the Python boundary."""
    d = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    return d.select(
        "doc_id",
        F.array_join(F.expr("regexp_extract_all(text, 'k[a-z]+', 0)"), ",").alias(
            "k_words"
        ),
        F.expr("regexp_count(text, 'k[a-z]+')").cast("int").alias("k_count"),
        t.rlike("scan").cast("int").alias("has_scan"),
        # DuckDB's regexp_extract yields '' on no match where Spark's
        # regexp_substr yields NULL — coalesce to the DuckDB convention.
        F.coalesce(
            F.expr("regexp_substr(text, '[a-z]*row[a-z]*')"), F.lit("")
        ).alias("first_row_word"),
        F.regexp_replace(t, "[aeiou]", "_").alias("devoweled"),
    )


@query(
    "fn_unicode",
    oracle="""
    WITH t(id, s) AS (VALUES
      (1, 'plain ascii'), (2, 'héllo wörld'), (3, '中文数据引擎'),
      (4, 'mixed 中文 ascii'), (5, 'naïve café'))
    SELECT id, length(s) AS n_chars, CAST(strlen(s) AS INT) AS n_bytes,
           CAST(strlen(s) * 8 AS INT) AS n_bits,
           upper(s) AS up, reverse(s) AS rev,
           substr(s, 1, 3) AS first3
    FROM t
    """,
)
def fn_unicode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode string semantics: CHARACTER length vs BYTE length vs bit
    length on multibyte text (the classic off-by-encoding bug class), plus
    codepoint-aware upper/reverse/substr. Spark's length() counts chars
    and octet_length() bytes — aligned with DuckDB's length()/strlen().
    Inline VALUES input (sf-independent)."""
    rows = [
        (1, "plain ascii"), (2, "héllo wörld"), (3, "中文数据引擎"),
        (4, "mixed 中文 ascii"), (5, "naïve café"),
    ]
    t = spark.createDataFrame(rows, schema="id int, s string")
    return t.select(
        "id",
        F.length("s").alias("n_chars"),
        F.octet_length("s").alias("n_bytes"),
        F.bit_length("s").alias("n_bits"),
        F.upper("s").alias("up"),
        F.reverse("s").alias("rev"),
        F.substring("s", 1, 3).alias("first3"),
    )


@query(
    "fn_json_extra",
    oracle="""
    SELECT event_id,
           CAST(json_array_length(
             '[' || repeat('1,', CAST(event_id % 3 AS INT)) || '1]'
           ) AS INT) AS alen,
           array_to_string(json_keys(props), ',') AS pkeys,
           json_extract_string(props, '$.k') AS k_str
    FROM events
    """,
)
def fn_json_extra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON inspection family beyond B48's extract/parse: array length on
    a constructed variable-length array, object key listing, and string
    extraction — the schema-discovery functions for semi-structured
    columns whose shape isn't known up front. JVM-side; props never
    leaves the JVM."""
    ev = load_table(spark, sf_dir, "events")
    arr = F.concat(
        F.lit("["), F.repeat(F.lit("1,"), (F.col("event_id") % 3).cast("int")),
        F.lit("1]"),
    )
    return ev.select(
        "event_id",
        F.json_array_length(arr).cast("int").alias("alen"),
        F.array_join(F.json_object_keys("props"), ",").alias("pkeys"),
        F.get_json_object("props", "$.k").alias("k_str"),
    )



@query(
    "fn_csv_roundtrip",
    oracle="""
    SELECT event_id,
           CAST(user_id AS VARCHAR) || ',' || event_type AS as_csv,
           string_split(CAST(user_id AS VARCHAR) || ',' || event_type, ',')[1]
             AS parsed_user,
           string_split(CAST(user_id AS VARCHAR) || ',' || event_type, ',')[2]
             AS parsed_type
    FROM events
    """,
)
def fn_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level CSV codec: to_csv(struct) serializes a struct to a CSV
    line and from_csv parses it back against a declared schema — the
    embedded-delimited-string path (CSV cells inside message payloads),
    distinct from the file-level reader (`ingest_csv_dialect`). The
    oracle mirrors the same bytes with concat/split since DuckDB has no
    row-level CSV functions."""
    ev = load_table(spark, sf_dir, "events")
    as_csv = F.to_csv(F.struct(F.col("user_id"), F.col("event_type")))
    parsed = F.from_csv(as_csv, "u string, t string")
    return ev.select(
        "event_id",
        as_csv.alias("as_csv"),
        parsed.getField("u").alias("parsed_user"),
        parsed.getField("t").alias("parsed_type"),
    )


@query(
    "fn_soundex_blocking",
    oracle="""
    WITH words AS (
      SELECT DISTINCT unnest(string_split(text, ' ')) AS w FROM documents
    ),
    clean AS (SELECT w FROM words WHERE regexp_matches(w, '^[a-z]+$')),
    chars AS (
      SELECT w, i, substr(upper(w), i, 1) AS ch
      FROM clean, generate_series(1, 30) g(i)
      WHERE i <= length(w)
    ),
    coded AS (
      SELECT w, i,
             CASE WHEN ch IN ('B','F','P','V') THEN '1'
                  WHEN ch IN ('C','G','J','K','Q','S','X','Z') THEN '2'
                  WHEN ch IN ('D','T') THEN '3'
                  WHEN ch = 'L' THEN '4'
                  WHEN ch IN ('M','N') THEN '5'
                  WHEN ch = 'R' THEN '6'
                  WHEN ch IN ('H','W') THEN NULL
                  ELSE '0' END AS code
      FROM chars
    ),
    seq AS (
      SELECT w, i, code, lag(code) OVER (PARTITION BY w ORDER BY i) AS prev
      FROM coded WHERE code IS NOT NULL
    ),
    kept AS (
      SELECT w, i, code,
             row_number() OVER (PARTITION BY w ORDER BY i) AS rn
      FROM seq
      WHERE i > 1 AND code BETWEEN '1' AND '6' AND code IS DISTINCT FROM prev
    ),
    sx AS (
      SELECT c.w,
             rpad(substr(
               upper(substr(c.w, 1, 1)) ||
               coalesce(string_agg(k.code, '' ORDER BY k.i)
                        FILTER (WHERE k.rn <= 3), ''),
               1, 4), 4, '0') AS sx
      FROM clean c LEFT JOIN kept k ON k.w = c.w
      GROUP BY c.w
    )
    SELECT w AS word, sx,
           count(*) OVER (PARTITION BY sx) AS block_n
    FROM sx
    """,
)
def fn_soundex_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phonetic blocking for fuzzy entity resolution: soundex() over the
    document vocabulary, plus per-block sizes — the classic cheap blocking
    key that bounds pairwise fuzzy matching (a phonetic sibling of
    join_editdist_symspell's deletion signatures and join_fuzzy_blocked's
    prefix blocks).

    The oracle REIMPLEMENTS Spark's soundex from scratch in SQL (DuckDB has
    no soundex): char explode → code map → H/W rows dropped (transparent:
    consonants separated only by h/w collapse — verified against Spark on
    'ashcraft'→A261, 'bhb'→B000), vowels+y kept as code-0 separators
    ('byb'→B100), lag-collapse of equal adjacent codes, first 3 kept
    digits zero-padded. Every behavioral edge was probed against Spark
    before encoding, making this a true algorithm-level differential, not
    a function-name passthrough.

    Scale: vocabulary extraction is explode+distinct (shuffle bounded by
    vocabulary size, not corpus size); the blocking window runs over the
    vocabulary. At 100 TB you'd block record KEYS, same plan."""
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word").rlike("^[a-z]+$"))
        .distinct()
    )
    sx = words.select("word", F.soundex("word").alias("sx"))
    return sx.select(
        "word", "sx",
        F.count(F.lit(1)).over(Window.partitionBy("sx")).alias("block_n"),
    )
