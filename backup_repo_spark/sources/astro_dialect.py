"""Astro's extended SQL dialect — the reference's actual user-facing API.

Reference parity: Astro extended Spark's SQL parser (upstream
``HBaseSQLParser.scala`` / ``hbaseCommands.scala``, unverified — reference
snapshot empty, SURVEY.md §0) with a DDL/bulk-load grammar documented in the
project's public README (confidence H for the statement shapes):

    CREATE TABLE t (c1 TYPE, ..., PRIMARY KEY (k1, ...))
      MAPPED BY (hbase_table, COLS=[c2=family.qualifier, ...])
    LOAD [PARALL] DATA [LOCAL] INPATH 'path' [OVERWRITE] INTO TABLE t
    INSERT INTO [TABLE] t VALUES (...) | SELECT ...
    DROP TABLE t / SHOW TABLES / DESCRIBE t

This module is the idiomatic restatement: a thin statement dispatcher that
recognizes the Astro grammar, translates it to Spark operations, and falls
through to ``spark.sql`` for everything else — exactly HBaseSQLParser's
"extend, then delegate to the core parser" structure (SURVEY.md §3.1).

Storage translation (SURVEY.md §1.1 row-by-row):
- the HBase table + column-family mapping is recorded as catalog metadata
  (Astro kept it in an HBase metadata table; we keep it with the table),
- KEY_COLUMNS → range-partitioned + key-sorted parquet layout
  (``repartitionByRange + sortWithinPartitions``) so key-range predicates
  prune files via footer min/max, the parquet analog of rowkey regions,
- LOAD DATA INPATH → schema-applied CSV read + the same layout write
  (Astro's bulkload encoded KVs and wrote region-aligned HFiles).

Scale notes: the LOAD path is one distributed read → range shuffle → sorted
write, identical in shape to the reference's ``LOAD PARALL DATA``; nothing
round-trips through the driver. N_REGIONS controls write parallelism and at
cluster scale would be sized to target file size (~1 GB), not core count.
"""

from __future__ import annotations

import os
import re
import shutil
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from backup_repo_spark.registry import query
from backup_repo_spark.session import load_table, scratch_dir

_CREATE_RE = re.compile(
    r"^\s*CREATE\s+TABLE\s+(?P<name>\w+)\s*\((?P<cols>.+)\)\s*"
    r"MAPPED\s+BY\s*\(\s*(?P<hbtable>\w+)\s*(?:,\s*COLS\s*=\s*\[(?P<mapping>[^\]]*)\])?\s*\)\s*$",
    re.IGNORECASE | re.DOTALL,
)
_LOAD_RE = re.compile(
    r"^\s*LOAD\s+(?:PARALL\s+)?DATA\s+(?:LOCAL\s+)?INPATH\s+'(?P<path>[^']+)'\s+"
    r"(?P<overwrite>OVERWRITE\s+)?INTO\s+TABLE\s+(?P<name>\w+)\s*$",
    re.IGNORECASE,
)
_INSERT_VALUES_RE = re.compile(
    r"^\s*INSERT\s+(?P<mode>INTO|OVERWRITE)\s+(?:TABLE\s+)?(?P<name>\w+)\s+"
    r"(?P<rest>VALUES\s*\(.+)$",
    re.IGNORECASE | re.DOTALL,
)
_INSERT_SELECT_RE = re.compile(
    r"^\s*INSERT\s+(?P<mode>INTO|OVERWRITE)\s+(?:TABLE\s+)?(?P<name>\w+)\s+"
    r"(?P<rest>SELECT\s+.+)$",
    re.IGNORECASE | re.DOTALL,
)
_DROP_RE = re.compile(r"^\s*DROP\s+TABLE\s+(?P<name>\w+)\s*$", re.IGNORECASE)
_SHOW_RE = re.compile(r"^\s*SHOW\s+TABLES\s*$", re.IGNORECASE)
_DESCRIBE_RE = re.compile(r"^\s*DESCRIBE\s+(?P<name>\w+)\s*$", re.IGNORECASE)
_ALTER_ADD_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<name>\w+)\s+ADD\s*\(\s*(?P<col>\w+)\s+(?P<type>\w+)\s*\)\s*"
    r"MAPPED\s+BY\s*\(\s*COLS\s*=\s*\[\s*(?P<map>\w+\s*=\s*[\w.]+)\s*\]\s*\)\s*$",
    re.IGNORECASE,
)
_ALTER_DROP_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<name>\w+)\s+DROP\s+(?:COLUMN\s+)?(?P<col>\w+)\s*$",
    re.IGNORECASE,
)

# Tokens that only occur in the Astro grammar, never in core Spark SQL. A
# statement carrying one of these that does NOT match a supported shape is
# a near-miss (typo, or a documented-upstream form we don't support, e.g.
# 'CREATE ... IN HBASE NAMESPACE ns') — reject it loudly instead of
# delegating to spark.sql, where it would either error confusingly or,
# worse, silently parse as something else and mask the typo.
_ASTRO_MARKERS_RE = re.compile(
    r"MAPPED\s+BY|\bINPATH\b|\bPARALL\b|\bHBASE\b|\bBULKLOAD\b", re.IGNORECASE
)


@dataclass
class _AstroTable:
    name: str
    schema_ddl: str  # "k BIGINT, seg STRING, ..."
    key_columns: list[str]
    hbase_table: str
    col_mapping: dict[str, str]  # column -> "family.qualifier"
    path: str
    materialized: bool = field(default=False)


class AstroDialect:
    """Statement dispatcher for the Astro grammar over a SparkSession.

    ``sql(text)`` recognizes CREATE/LOAD/INSERT/DROP/SHOW/DESCRIBE in the
    Astro dialect and translates; any other statement is delegated verbatim
    to ``spark.sql`` (the core-parser fallthrough). Created tables are
    registered as temp views, so delegated SELECTs see them.
    """

    # At cluster scale this is sized to ~1 GB output files, not core count.
    N_REGIONS = 4

    def __init__(self, spark: SparkSession, workdir: str | None = None) -> None:
        self.spark = spark
        self.catalog: dict[str, _AstroTable] = {}
        self.workdir = workdir or scratch_dir(spark, "astro_ddl")

    # -- dispatcher ----------------------------------------------------------
    def sql(self, text: str) -> DataFrame:
        for pattern, handler in (
            (_CREATE_RE, self._create),
            (_LOAD_RE, self._load),
            (_INSERT_VALUES_RE, self._insert),
            (_INSERT_SELECT_RE, self._insert),
            (_DROP_RE, self._drop),
            (_SHOW_RE, self._show),
            (_DESCRIBE_RE, self._describe),
            (_ALTER_ADD_RE, self._alter_add),
            (_ALTER_DROP_RE, self._alter_drop),
        ):
            m = pattern.match(text)
            if m:
                return handler(m)
        if _ASTRO_MARKERS_RE.search(text):
            raise ValueError(
                "astro_dialect: statement uses Astro grammar markers but does "
                "not match any supported shape (CREATE ... MAPPED BY, "
                "LOAD [PARALL] DATA [LOCAL] INPATH, INSERT INTO|OVERWRITE, "
                "ALTER TABLE ADD/DROP, DROP TABLE, SHOW TABLES, DESCRIBE); "
                f"rejected rather than delegated to Spark SQL: {text.strip()[:120]!r}"
            )
        return self.spark.sql(text)  # core-parser fallthrough

    # -- handlers -------------------------------------------------------------
    def _create(self, m: re.Match) -> DataFrame:
        name = m.group("name").lower()
        if name in self.catalog:
            raise ValueError(f"astro_dialect: table {name} already exists")
        cols_part = m.group("cols")
        pk = re.search(r"PRIMARY\s+KEY\s*\(([^)]*)\)", cols_part, re.IGNORECASE)
        if not pk:
            raise ValueError("astro_dialect: MAPPED BY tables require PRIMARY KEY (...)")
        key_columns = [c.strip().lower() for c in pk.group(1).split(",") if c.strip()]
        schema_ddl = re.sub(
            r",?\s*PRIMARY\s+KEY\s*\([^)]*\)", "", cols_part, flags=re.IGNORECASE
        ).strip().rstrip(",")
        # Astro's type system is the 8 atomic Spark-1.4 types (SURVEY.md
        # §1.2) — single-word names only. Parameterized types (DECIMAL(p,s))
        # would also corrupt the comma-split schema handling, so reject
        # loudly rather than mis-parse.
        for col in schema_ddl.split(","):
            if not re.fullmatch(r"\s*\w+\s+\w+\s*", col):
                raise ValueError(
                    f"astro_dialect: column def {col.strip()!r} is not "
                    "'<name> <atomic-type>' (parameterized types are not in "
                    "the reference's type system)"
                )
        mapping: dict[str, str] = {}
        for item in (m.group("mapping") or "").split(","):
            if "=" in item:
                col, fq = item.split("=", 1)
                mapping[col.strip().lower()] = fq.strip()
        tbl = _AstroTable(
            name=name,
            schema_ddl=schema_ddl,
            key_columns=key_columns,
            hbase_table=m.group("hbtable"),
            col_mapping=mapping,
            path=os.path.join(self.workdir, name),
        )
        self.catalog[name] = tbl
        # An empty table must still be queryable before the first write.
        self._refresh_view(tbl)
        return self.spark.createDataFrame(
            [(name, tbl.hbase_table)], "tableName STRING, hbaseTableName STRING"
        )

    def _region_layout(self, df: DataFrame, tbl: _AstroTable) -> DataFrame:
        """Astro's bulkload shape: range-partition on the rowkey columns and
        sort within partitions — region-aligned, sorted HFiles restated as
        min/max-disjoint sorted parquet files."""
        keys = [F.col(k) for k in tbl.key_columns]
        return df.repartitionByRange(self.N_REGIONS, *keys).sortWithinPartitions(*keys)

    def _write(self, df: DataFrame, tbl: _AstroTable, mode: str) -> None:
        self._region_layout(df, tbl).write.mode(mode).parquet(tbl.path)
        tbl.materialized = True
        self._refresh_view(tbl)

    def _refresh_view(self, tbl: _AstroTable) -> None:
        """Project the table's LOGICAL schema over its physical files: a
        column added by ALTER is NULL for pre-existing files (HBase cells
        simply absent — the same late-schema semantics), a dropped column is
        excluded even though old files still carry it. mergeSchema because
        files written before/after an ALTER legitimately differ."""
        if not tbl.materialized:
            self.spark.createDataFrame([], tbl.schema_ddl).createOrReplaceTempView(tbl.name)
            return
        df = self.spark.read.option("mergeSchema", "true").parquet(tbl.path)
        exprs = []
        for col in tbl.schema_ddl.split(","):
            cname, ctype = col.strip().split(None, 1)
            if cname in df.columns:
                exprs.append(F.col(cname))
            else:
                exprs.append(F.lit(None).cast(ctype).alias(cname))
        df.select(*exprs).createOrReplaceTempView(tbl.name)

    def _load(self, m: re.Match) -> DataFrame:
        tbl = self._get(m.group("name"))
        df = self.spark.read.csv(m.group("path"), schema=tbl.schema_ddl, header=False)
        self._write(df, tbl, "overwrite" if m.group("overwrite") else "append")
        return self.spark.createDataFrame([(tbl.name, "LOADED")], "tableName STRING, status STRING")

    def _insert(self, m: re.Match) -> DataFrame:
        tbl = self._get(m.group("name"))
        rest = m.group("rest")
        src = self.spark.sql(f"SELECT * FROM {rest}") \
            if rest.upper().startswith("VALUES") \
            else self.spark.sql(rest)
        cols = [c.split()[0] for c in tbl.schema_ddl.split(",")]
        mode = "overwrite" if m.group("mode").upper() == "OVERWRITE" else "append"
        src = src.toDF(*[c.strip() for c in cols])
        if mode == "overwrite" and re.search(
            rf"\b{re.escape(tbl.name)}\b", rest, re.IGNORECASE
        ):
            # 'INSERT OVERWRITE t SELECT ... FROM t' is grammar-legal, but
            # Spark refuses to overwrite a path its own plan is reading
            # from. Stage the source to a sibling directory (an eager
            # write), re-read, then overwrite the target — the same
            # staged-file swap HBase bulkload does with HFiles.
            staging = tbl.path + ".staging"
            src.write.mode("overwrite").parquet(staging)
            try:
                self._write(self.spark.read.parquet(staging), tbl, mode)
            finally:
                shutil.rmtree(staging, ignore_errors=True)
        else:
            self._write(src, tbl, mode)
        return self.spark.createDataFrame(
            [(tbl.name, mode.upper())], "tableName STRING, status STRING"
        )

    def _drop(self, m: re.Match) -> DataFrame:
        tbl = self._get(m.group("name"))
        self.spark.catalog.dropTempView(tbl.name)
        shutil.rmtree(tbl.path, ignore_errors=True)
        del self.catalog[tbl.name]
        return self.spark.createDataFrame([(tbl.name, "DROPPED")], "tableName STRING, status STRING")

    def _show(self, _m: re.Match) -> DataFrame:
        rows = [(t.name, t.hbase_table) for t in self.catalog.values()]
        return self.spark.createDataFrame(rows or [], "tableName STRING, hbaseTableName STRING")

    def _describe(self, m: re.Match) -> DataFrame:
        tbl = self._get(m.group("name"))
        rows = []
        for col in tbl.schema_ddl.split(","):
            cname, ctype = col.strip().split(None, 1)
            cname = cname.lower()
            rows.append(
                (
                    cname,
                    ctype.upper(),
                    "KEY COLUMN" if cname in tbl.key_columns
                    else tbl.col_mapping.get(cname, "NON-KEY"),
                )
            )
        return self.spark.createDataFrame(rows, "col_name STRING, data_type STRING, comment STRING")

    def _alter_add(self, m: re.Match) -> DataFrame:
        tbl = self._get(m.group("name"))
        col, ctype = m.group("col").lower(), m.group("type").upper()
        if any(c.strip().split()[0] == col for c in tbl.schema_ddl.split(",")):
            raise ValueError(f"astro_dialect: column {col} already exists")
        mcol, fq = m.group("map").split("=", 1)
        if mcol.strip().lower() != col:
            raise ValueError("astro_dialect: ALTER ADD mapping must name the added column")
        tbl.schema_ddl = f"{tbl.schema_ddl}, {col} {ctype}"
        tbl.col_mapping[col] = fq.strip()
        self._refresh_view(tbl)
        return self.spark.createDataFrame(
            [(tbl.name, f"ADDED {col}")], "tableName STRING, status STRING"
        )

    def _alter_drop(self, m: re.Match) -> DataFrame:
        tbl = self._get(m.group("name"))
        col = m.group("col").lower()
        if col in tbl.key_columns:
            raise ValueError(f"astro_dialect: cannot drop key column {col}")
        cols = [c.strip() for c in tbl.schema_ddl.split(",")]
        kept = [c for c in cols if c.split()[0] != col]
        if len(kept) == len(cols):
            raise ValueError(f"astro_dialect: unknown column {col}")
        tbl.schema_ddl = ", ".join(kept)
        tbl.col_mapping.pop(col, None)
        self._refresh_view(tbl)
        return self.spark.createDataFrame(
            [(tbl.name, f"DROPPED {col}")], "tableName STRING, status STRING"
        )

    def _get(self, name: str) -> _AstroTable:
        tbl = self.catalog.get(name.lower())
        if tbl is None:
            raise ValueError(f"astro_dialect: unknown table {name}")
        return tbl

    def cleanup(self) -> None:
        for name in list(self.catalog):
            self._drop(_DROP_RE.match(f"DROP TABLE {name}"))
        shutil.rmtree(self.workdir, ignore_errors=True)


@query(
    "ddl_astro_dialect",
    oracle="""
    SELECT c_mktsegment AS seg, count(*) AS n,
           round(sum(c_acctbal), 2) AS total_bal
    FROM customer WHERE c_acctbal > 0
    GROUP BY c_mktsegment ORDER BY seg
    """,
)
def ddl_astro_dialect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end through the Astro dialect: CREATE TABLE ... MAPPED BY →
    LOAD DATA INPATH (customer exported to CSV, then bulk-loaded through the
    region layout) → delegated SELECT over the loaded table. The oracle runs
    the same aggregate on the original parquet — proving the dialect's
    create/load/query path is lossless."""
    dialect = AstroDialect(spark)
    csv_dir = scratch_dir(spark, "ddl_astro_dialect_csv")
    cust = os.path.basename(dialect.workdir)  # per call, like its workdir
    try:
        load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
        ).write.mode("overwrite").csv(csv_dir)
        dialect.sql(
            f"""CREATE TABLE {cust} (c_custkey BIGINT, c_name STRING,
               c_nationkey INT, c_acctbal DOUBLE, c_mktsegment STRING,
               PRIMARY KEY (c_custkey))
               MAPPED BY (hb_customer, COLS=[c_name=cf.name, c_nationkey=cf.nat,
                                             c_acctbal=cf.bal, c_mktsegment=cf.seg])"""
        )
        dialect.sql(f"LOAD PARALL DATA INPATH '{csv_dir}' INTO TABLE {cust}")
        result = dialect.sql(
            f"""SELECT c_mktsegment AS seg, count(*) AS n,
                      round(sum(c_acctbal), 2) AS total_bal
               FROM {cust} WHERE c_acctbal > 0
               GROUP BY c_mktsegment ORDER BY seg"""
        )
        # Materialize before cleanup deletes the backing files.
        out = spark.createDataFrame(result.collect(), result.schema)
    finally:
        dialect.cleanup()
    return out
