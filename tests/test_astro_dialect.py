"""Astro-dialect grammar tests (SURVEY.md §2.A A7/A8/A6) — statement
recognition, storage layout, and core-parser fallthrough."""

from __future__ import annotations

import pytest

from backup_repo_spark.sources.astro_dialect import AstroDialect


@pytest.fixture()
def dialect(spark, tmp_path):
    d = AstroDialect(spark, workdir=str(tmp_path / "astro"))
    yield d
    d.cleanup()


def _create(d, name="t1"):
    return d.sql(
        f"""CREATE TABLE {name} (k BIGINT, v STRING, x DOUBLE,
            PRIMARY KEY (k)) MAPPED BY (hb_{name}, COLS=[v=cf.v, x=cf.x])"""
    )


def test_create_registers_catalog_and_empty_view(dialect, spark):
    _create(dialect)
    assert "t1" in dialect.catalog
    assert dialect.catalog["t1"].key_columns == ["k"]
    assert dialect.catalog["t1"].col_mapping == {"v": "cf.v", "x": "cf.x"}
    # queryable before any write
    assert spark.sql("SELECT count(*) AS n FROM t1").collect()[0].n == 0


def test_create_requires_primary_key(dialect):
    with pytest.raises(ValueError, match="PRIMARY KEY"):
        dialect.sql("CREATE TABLE bad (k BIGINT, v STRING) MAPPED BY (hb_bad)")


def test_duplicate_create_rejected(dialect):
    _create(dialect)
    with pytest.raises(ValueError, match="already exists"):
        _create(dialect)


def test_insert_values_then_select_roundtrip(dialect):
    _create(dialect)
    dialect.sql("INSERT INTO t1 VALUES (2, 'b', 2.5), (1, 'a', 1.5)")
    rows = dialect.sql("SELECT k, v, x FROM t1 ORDER BY k").collect()
    assert [(r.k, r.v, r.x) for r in rows] == [(1, "a", 1.5), (2, "b", 2.5)]


def test_insert_select_appends(dialect):
    _create(dialect)
    dialect.sql("INSERT INTO t1 VALUES (1, 'a', 1.0)")
    dialect.sql("INSERT INTO t1 SELECT k + 10, v, x FROM t1")
    assert dialect.sql("SELECT count(*) AS n FROM t1").collect()[0].n == 2


def test_load_data_inpath_overwrite(dialect, spark, tmp_path):
    _create(dialect)
    csv = tmp_path / "in"
    spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0)], "k BIGINT, v STRING, x DOUBLE"
    ).write.mode("overwrite").csv(str(csv))
    dialect.sql(f"LOAD DATA INPATH '{csv}' INTO TABLE t1")
    dialect.sql(f"LOAD PARALL DATA INPATH '{csv}' OVERWRITE INTO TABLE t1")
    assert dialect.sql("SELECT count(*) AS n FROM t1").collect()[0].n == 2


def test_load_writes_key_sorted_regions(dialect, spark, tmp_path):
    """The bulkload layout contract: ≤ N_REGIONS files, each key-sorted with
    disjoint [min,max] key ranges (the parquet restatement of HBase regions)."""
    import pyarrow.parquet as pq
    import glob

    _create(dialect)
    csv = tmp_path / "in"
    spark.range(100).selectExpr(
        "id AS k", "concat('v', id) AS v", "id * 1.0 AS x"
    ).write.mode("overwrite").csv(str(csv))
    dialect.sql(f"LOAD DATA INPATH '{csv}' INTO TABLE t1")
    files = glob.glob(f"{dialect.catalog['t1'].path}/*.parquet")
    assert 0 < len(files) <= AstroDialect.N_REGIONS
    ranges = []
    for f in files:
        t = pq.read_table(f, columns=["k"])["k"].to_pylist()
        if t:
            assert t == sorted(t), "file not key-sorted"
            ranges.append((t[0], t[-1]))
    ranges.sort()
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        assert hi < lo, "region key ranges overlap"


def test_show_describe_drop(dialect):
    _create(dialect)
    assert dialect.sql("SHOW TABLES").collect()[0].hbaseTableName == "hb_t1"
    desc = {r.col_name: r.comment for r in dialect.sql("DESCRIBE t1").collect()}
    assert desc == {"k": "KEY COLUMN", "v": "cf.v", "x": "cf.x"}
    dialect.sql("DROP TABLE t1")
    assert dialect.sql("SHOW TABLES").count() == 0
    with pytest.raises(ValueError, match="unknown table"):
        dialect.sql("DESCRIBE t1")


def test_non_dialect_statement_falls_through(dialect):
    assert dialect.sql("SELECT 1 + 1 AS two").collect()[0].two == 2


def test_alter_add_nulls_existing_rows_then_insert(dialect):
    _create(dialect)
    dialect.sql("INSERT INTO t1 VALUES (1, 'a', 1.0)")
    dialect.sql("ALTER TABLE t1 ADD (extra BIGINT) MAPPED BY (COLS=[extra=cf.extra])")
    assert dialect.catalog["t1"].col_mapping["extra"] == "cf.extra"
    row = dialect.sql("SELECT extra FROM t1").collect()[0]
    assert row.extra is None  # pre-ALTER rows read as absent cells
    dialect.sql("INSERT INTO t1 VALUES (2, 'b', 2.0, 7)")
    rows = {r.k: r.extra for r in dialect.sql("SELECT k, extra FROM t1").collect()}
    assert rows == {1: None, 2: 7}


def test_alter_drop_column_and_guards(dialect):
    _create(dialect)
    dialect.sql("INSERT INTO t1 VALUES (1, 'a', 1.0)")
    dialect.sql("ALTER TABLE t1 DROP COLUMN x")
    cols = dialect.sql("SELECT * FROM t1").columns
    assert cols == ["k", "v"]
    with pytest.raises(ValueError, match="key column"):
        dialect.sql("ALTER TABLE t1 DROP COLUMN k")
    with pytest.raises(ValueError, match="unknown column"):
        dialect.sql("ALTER TABLE t1 DROP COLUMN nope")


def test_reference_readme_example_session(dialect, spark, tmp_path):
    """The upstream project's public README walks through a 'teacher' table:
    composite-key CREATE ... MAPPED BY, a CSV bulk load, and SELECTs
    ([upstream: README.md — UNVERIFIED, recalled shape, confidence M] per
    SURVEY.md §0 citation policy). A reference user's documented first
    session must run verbatim through this engine's dialect."""
    dialect.sql(
        """CREATE TABLE teacher (grade INT, class INT, subject STRING,
           teacher_name STRING, teacher_age INT,
           PRIMARY KEY (grade, class, subject))
           MAPPED BY (teacher_hbase, COLS=[teacher_name=cf.a, teacher_age=cf.b])"""
    )
    csv = tmp_path / "teacher_csv"
    spark.createDataFrame(
        [
            (1, 1, "math", "aa", 30),
            (1, 1, "english", "bb", 40),
            (1, 2, "math", "cc", 35),
            (2, 1, "math", "dd", 28),
        ],
        "grade INT, class INT, subject STRING, teacher_name STRING, teacher_age INT",
    ).write.mode("overwrite").csv(str(csv))
    dialect.sql(f"LOAD DATA INPATH '{csv}' INTO TABLE teacher")

    rows = dialect.sql(
        "SELECT teacher_name, teacher_age FROM teacher "
        "WHERE grade = 1 AND class = 1 ORDER BY subject"
    ).collect()
    assert [(r.teacher_name, r.teacher_age) for r in rows] == [("bb", 40), ("aa", 30)]
    agg = dialect.sql(
        "SELECT grade, count(*) AS n, avg(teacher_age) AS avg_age "
        "FROM teacher GROUP BY grade ORDER BY grade"
    ).collect()
    assert [(r.grade, r.n) for r in agg] == [(1, 3), (2, 1)]
    desc = {r.col_name: r.comment for r in dialect.sql("DESCRIBE teacher").collect()}
    assert desc["grade"] == "KEY COLUMN" and desc["teacher_name"] == "cf.a"


def test_parameterized_types_rejected(dialect):
    with pytest.raises(ValueError, match="atomic-type"):
        dialect.sql(
            "CREATE TABLE bad (k BIGINT, d DECIMAL(10, 2), PRIMARY KEY (k)) "
            "MAPPED BY (hb_bad, COLS=[d=cf.d])"
        )


def test_insert_overwrite_replaces_contents(dialect):
    _create(dialect)
    dialect.sql("INSERT INTO t1 VALUES (1, 'a', 1.0), (2, 'b', 2.0)")
    dialect.sql("INSERT OVERWRITE t1 VALUES (9, 'z', 9.0)")
    rows = dialect.sql("SELECT k, v FROM t1").collect()
    assert [(r.k, r.v) for r in rows] == [(9, "z")]


def test_insert_overwrite_self_reference_stages(dialect):
    """'INSERT OVERWRITE t SELECT ... FROM t' is grammar-legal; the source
    must be staged before the overwrite or Spark throws 'Cannot overwrite a
    path that is also being read from' mid-write (ADVICE r02)."""
    _create(dialect)
    dialect.sql("INSERT INTO t1 VALUES (1, 'a', 1.0), (2, 'b', 2.0), (3, 'c', 3.0)")
    dialect.sql("INSERT OVERWRITE t1 SELECT k + 10, v, x * 2 FROM t1 WHERE k <= 2")
    rows = dialect.sql("SELECT k, v, x FROM t1 ORDER BY k").collect()
    assert [(r.k, r.v, r.x) for r in rows] == [(11, "a", 2.0), (12, "b", 4.0)]
    # staging directory cleaned up
    import os

    assert not os.path.exists(dialect.catalog["t1"].path + ".staging")


def test_shell_statement_split_quote_aware():
    from tools.astro_shell import split_statements

    assert split_statements("SELECT 1; SELECT 2") == ["SELECT 1", " SELECT 2"]
    got = split_statements("INSERT INTO t VALUES ('a;b'); SELECT 'x\";y'")
    assert got == ["INSERT INTO t VALUES ('a;b')", " SELECT 'x\";y'"]
    assert split_statements("SELECT \"a;b\"") == ['SELECT "a;b"']


def test_shell_statements_keep_unterminated_tail():
    from tools.astro_shell import statements

    # piped input without a closing ';' still runs its last statement
    assert list(statements(["SELECT count(*) AS n FROM region"])) == [
        "SELECT count(*) AS n FROM region"
    ]
    # a statement spans lines until one ends with ';'; the tail follows
    got = list(statements(["SELECT 1,", "2; SELECT 3;", "SELECT", "4"]))
    assert got == ["SELECT 1, 2", " SELECT 3", "SELECT 4"]
    # 'exit' between statements stops; inside a statement it is text
    assert list(statements(["SELECT 1;", "exit", "SELECT 2;"])) == ["SELECT 1"]
    assert list(statements(["SELECT", "exit"])) == ["SELECT exit"]
    assert list(statements(["SELECT 1;", " "])) == ["SELECT 1"]
    assert list(statements([])) == []


def test_near_miss_astro_statements_rejected(dialect):
    """Statements carrying Astro-only grammar markers that don't parse as a
    supported shape must be rejected loudly, not delegated to Spark SQL
    where the typo would surface as a confusing core-parser error (or
    silently succeed as something else)."""
    near_misses = [
        # typo'd MAPPED BY clause (missing paren)
        "CREATE TABLE bad (k BIGINT, PRIMARY KEY (k)) MAPPED BY hb_bad",
        # documented-upstream namespace form we don't support
        "CREATE TABLE bad (k BIGINT, PRIMARY KEY (k)) "
        "MAPPED BY (hb_bad) IN HBASE NAMESPACE ns",
        # LOAD with unquoted path
        "LOAD DATA INPATH /tmp/x.csv INTO TABLE t1",
        # PARALL outside a LOAD statement
        "BULKLOAD PARALL '/tmp/x' INTO t1",
    ]
    for stmt in near_misses:
        with pytest.raises(ValueError, match="astro_dialect"):
            dialect.sql(stmt)


def test_plain_sql_still_falls_through(dialect):
    assert dialect.sql("SELECT 1 AS one").collect()[0].one == 1
