"""Engine facade, dialect rewrites, CTAS/JDBC sinks, CLI."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from hdfs_hive_sql_playground_spark import dialect
from hdfs_hive_sql_playground_spark.engine import Engine


def test_field_rewrite_basic():
    assert (
        dialect.rewrite_field("SELECT field(peculiarity,'nocp','cp') - 1 FROM t")
        == "SELECT CAST(coalesce(array_position(array('nocp', 'cp'), peculiarity), 0) AS INT)"
        " - 1 FROM t"
    )


def test_field_rewrite_ignores_literals_and_nests():
    sql = "SELECT 'field(a,b)' AS s, field(x, field(y, 'a', 'b'), 2) FROM t"
    out = dialect.rewrite_field(sql)
    assert out.startswith("SELECT 'field(a,b)' AS s, CAST(coalesce(array_position(")
    assert "CAST(coalesce(array_position(array('a', 'b'), y), 0) AS INT)" in out


# id -> (script, statements): every form that hides a ';' from the splitter.
_SPLIT_CASES = {
    "backslash-escape": ("SELECT 'a\\';b' AS x; SELECT 1", ["SELECT 'a\\';b' AS x", "SELECT 1"]),
    "double-quoted": ('SELECT "a;b"; SELECT 2', ['SELECT "a;b"', "SELECT 2"]),
    "backtick": ("SELECT `we;ird` FROM t; SELECT 2", ["SELECT `we;ird` FROM t", "SELECT 2"]),
    "raw-single": ("SELECT r'a\\'; SELECT 'b;'", ["SELECT r'a\\'", "SELECT 'b;'"]),
    "raw-double": ('SELECT R"a;\\"; SELECT 2', ['SELECT R"a;\\"', "SELECT 2"]),
    "doubled-quote": ("SELECT 'it''s;'; SELECT 2", ["SELECT 'it''s;'", "SELECT 2"]),
    "line-and-block-comments": (
        "SELECT 1; -- first\nSELECT 2; /* two; */ SELECT 3",
        ["SELECT 1", "SELECT 2", "/* two; */ SELECT 3"],
    ),
    "line-comment-semicolon": ("SELECT 1; -- one; still a comment\nSELECT 2", ["SELECT 1", "SELECT 2"]),
    "nested-block-comment": (
        "SELECT /* a /* nested; */ b; */ 1; SELECT 2",
        ["SELECT /* a /* nested; */ b; */ 1", "SELECT 2"],
    ),
    "hint": ("SELECT /*+ BROADCAST(t) */ * FROM t", ["SELECT /*+ BROADCAST(t) */ * FROM t"]),
    "dashes-in-literal": ("SELECT 'x\n-- kept\ny' AS s;", ["SELECT 'x\n-- kept\ny' AS s"]),
    "comment-apostrophe": ("-- don't\nSELECT 1;\n-- tail comment", ["SELECT 1"]),
    # an unterminated literal is the remainder, ';' and all
    "unterminated-literal": ("SELECT 1; SELECT 'open; x", ["SELECT 1", "SELECT 'open; x"]),
}


@pytest.mark.parametrize("script,want", _SPLIT_CASES.values(), ids=_SPLIT_CASES)
def test_split_statements_lexical_forms(script, want):
    assert Engine.split_statements(script) == want


def test_split_keeps_open_tail_verbatim():
    """The shell buffers the tail: an open literal keeps its newlines and
    its '--' lines; a tail of blanks and comments is empty."""
    assert dialect.split("SELECT 1; SELECT 'a;\n-- b\n") == (["SELECT 1"], " SELECT 'a;\n-- b\n")
    assert dialect.split("SELECT 1; -- done\n") == (["SELECT 1"], "")


# Text that only looks like a shim target: inside a string, raw string,
# identifier or comment it is left alone.
_UNTOUCHED = [
    "SELECT 'field(a, b)' AS s",
    'SELECT "field(a, b)" AS s',
    "SELECT r'field(a, b)\\' AS s",
    "SELECT `field(a, b)` FROM t",
    "SELECT 1 /* field(a, b) */",
    "SELECT 1 -- field(a, b)",
    'SELECT "INPUT__FILE__NAME" AS s',
    "SELECT `INPUT__FILE__NAME` FROM t",
    "SELECT 1 /* INPUT__FILE__NAME */",
    "SELECT 1 -- INPUT__FILE__NAME",
]


@pytest.mark.parametrize("sql", _UNTOUCHED, ids=range(len(_UNTOUCHED)))
def test_rewrite_leaves_literals_identifiers_and_comments(sql):
    assert dialect.rewrite(sql) == sql


def test_field_rewrite_keeps_comma_in_double_quoted_literal():
    assert (
        dialect.rewrite('SELECT field(x, "a,b", "c")')
        == 'SELECT CAST(coalesce(array_position(array("a,b", "c"), x), 0) AS INT)'
    )


def test_exec_file_lexical_forms(spark, tmp_path):
    """exec_file runs every statement of a script whose literals,
    identifiers and comments hold ';', '--' and field( text, and each
    returns the value Spark gives it."""
    script = tmp_path / "forms.sql"
    script.write_text(
        "-- header; with an apostrophe: don't\n"
        "SELECT 'a\\';b' AS v;\n"
        'SELECT "a;b" AS v;\n'
        "SELECT `we;ird` AS v FROM (SELECT 'w' AS `we;ird`);\n"
        "SELECT r'a\\' AS v;\n"
        "SELECT 'it''s' AS v;\n"
        "SELECT /* c; /* nested; */ */ 'c' AS v; -- trailing; comment\n"
        "SELECT 'x\n-- kept\ny' AS v;\n"
        "SELECT CAST(field('a,b', \"a,b\", 'c') AS STRING) AS v\n"
    )
    eng = Engine()
    eng._spark = spark
    got = [df.first().v for df in eng.exec_file(str(script))]
    assert got == ["a';b", "a;b", "w", "a\\", "it's", "c", "x\n-- kept\ny", "1"]


def test_m33_hql_splits_into_five_statements():
    """perfbench's m33_statements drops the last statement by its prefix:
    the reference HQL must split into the external table, two partitions,
    the view and the CTAS."""
    hql = os.path.join(os.path.dirname(__file__), "..", "examples", "hive", "m33_pipeline.hql")
    with open(hql) as f:
        stmts = Engine.split_statements(f.read())
    assert len(stmts) == 5
    assert stmts[0].startswith("CREATE EXTERNAL TABLE")
    assert stmts[-1].startswith("CREATE TABLE m33")


def test_top_rewrite():
    assert dialect.rewrite("SELECT TOP 100 * FROM m33;") == "SELECT * FROM m33 LIMIT 100"
    assert dialect.rewrite("SELECT t FROM x") == "SELECT t FROM x"


def test_engine_exec_sql_field_returns_int(spark):
    """Hive's FIELD returns INT; array_position alone would make it BIGINT."""
    from pyspark.sql.types import IntegerType

    eng = Engine()
    eng._spark = spark
    df = eng.exec_sql("SELECT field('b', 'a', 'b') AS f, field(NULL, 'a') AS z")
    assert [f.dataType for f in df.schema] == [IntegerType(), IntegerType()]
    assert tuple(df.first()) == (2, 0)


def test_engine_exec_sql_field_matches_hive_semantics(spark, sf_dir):
    eng = Engine()
    eng._spark = spark  # reuse the test session
    eng.register_testdata(sf_dir)
    rows = eng.exec_sql(
        "SELECT field(o_orderstatus, 'F', 'O', 'P') AS f, field(NULL, 'a') AS z "
        "FROM orders LIMIT 5"
    ).collect()
    assert all(r.f in (1, 2, 3) and r.z == 0 for r in rows)


def test_engine_health_and_m33_pipeline(spark):
    eng = Engine()
    eng._spark = spark
    h = eng.health()
    assert h["healthy"] and h["session"] == "alive" and h["warehouse_writable"]

    eng.m33_create_views()
    top = eng.exec_sql("SELECT TOP 7 * FROM m33_schem").collect()
    assert len(top) == 7

    eng.m33_ctas(table="m33_test")
    assert eng.spark.table("m33_test").count() == 4000

    n = eng.m33_export(
        "jdbc:derby:memory:enginetest;create=true",
        table="m33_test",
        num_partitions=2,
        batchsize=500,
    )
    assert n == 4000


def test_jdbc_ddl_side_channel(spark):
    from hdfs_hive_sql_playground_spark.sources.jdbc import jdbc_ddl, read_jdbc

    url = "jdbc:derby:memory:ddltest;create=true"
    jdbc_ddl(
        spark,
        url,
        "CREATE TABLE t_ddl (a BIGINT, b DOUBLE)",
        "INSERT INTO t_ddl VALUES (1, 2.5), (2, 3.5)",
    )
    df = read_jdbc(spark, url, "t_ddl")
    assert df.count() == 2
    assert df.agg(F.sum("b")).collect()[0][0] == 6.0


def test_engine_ingest(spark, tmp_path):
    eng = Engine()
    eng._spark = spark
    src = tmp_path / "src" / "part=a"
    src.mkdir(parents=True)
    (src / "f1.txt").write_text("hello\n")
    (tmp_path / "src" / "f0.txt").write_text("root\n")
    n = eng.ingest(str(tmp_path / "src"), str(tmp_path / "dst"))
    assert n == 2
    assert (tmp_path / "dst" / "part=a" / "f1.txt").read_text() == "hello\n"
    got = spark.read.option("recursiveFileLookup", "true").text(str(tmp_path / "dst")).count()
    assert got == 2


def test_input_file_name_rewrite():
    out = dialect.rewrite("SELECT regexp_extract(INPUT__FILE__NAME, '(a)(b)', 2) FROM t")
    assert "input_file_name()" in out and "INPUT__FILE__NAME" not in out
    # untouched inside string literals
    assert dialect.rewrite("SELECT 'INPUT__FILE__NAME' FROM t") == "SELECT 'INPUT__FILE__NAME' FROM t"


def test_ctas_parquet_roundtrip(spark):
    from hdfs_hive_sql_playground_spark.m33 import m33_schem
    from hdfs_hive_sql_playground_spark.sinks import ctas_parquet

    path = ctas_parquet(m33_schem(spark), "m33_parquet_test")
    back = spark.read.parquet(path)
    assert back.count() == 4000
    assert dict(back.dtypes)["wavelength"] == "double"


def test_ddl_shim_lists_each_added_partition_once(spark, tmp_path, monkeypatch):
    """ALTER TABLE ... ADD PARTITION builds only the new partition's scan
    branch: 10 ADDs list 10 directories through the wholetext size guard
    (rebuilding every branch on each ADD listed 1 + 2 + ... + 10 = 55),
    and the view holds every partition's rows."""
    from hdfs_hive_sql_playground_spark.sources import text

    listed = []
    data_files = text.data_files
    monkeypatch.setattr(text, "data_files", lambda s, path: listed.append(path) or data_files(s, path))
    eng = Engine()
    eng._spark = spark
    eng.exec_sql(
        "CREATE EXTERNAL TABLE shim_adds (row_str STRING) PARTITIONED BY (part STRING) "
        "STORED AS TEXTFILE TBLPROPERTIES ('skip.header.line.count'='1')"
    )
    for i in range(10):
        d = tmp_path / f"p{i}"
        d.mkdir()
        (d / "f.txt").write_text(f"header\nrow{i}\n")
        eng.exec_sql(f"ALTER TABLE shim_adds ADD PARTITION (part='p{i}') LOCATION '{d}'")
    assert len(listed) == 10
    rows = eng.exec_sql("SELECT part, row_str FROM shim_adds").collect()
    assert sorted(map(tuple, rows)) == [(f"p{i}", f"row{i}") for i in range(10)]


@pytest.mark.parametrize("skip", [0, 3])
def test_ddl_shim_select_star_layout_is_fixed(spark, tmp_path, skip):
    """``SELECT *`` over a shimmed table gives the declared row column,
    ``input_file`` and the partition column, in that order and as strings,
    with no partition, one and two, whatever the header-skip count."""
    from pyspark.sql.types import StringType

    eng = Engine()
    eng._spark = spark
    name = f"shim_layout_{skip}"
    eng.exec_sql(
        f"CREATE EXTERNAL TABLE {name} (line STRING) PARTITIONED BY (part STRING) "
        f"STORED AS TEXTFILE TBLPROPERTIES ('skip.header.line.count'='{skip}')"
    )
    want = [("line", StringType()), ("input_file", StringType()), ("part", StringType())]
    layouts = [[(f.name, f.dataType) for f in eng.exec_sql(f"SELECT * FROM {name}").schema]]
    for value in ("b", "a"):
        d = tmp_path / value
        d.mkdir()
        (d / "f.txt").write_text("h1\nh2\nh3\n" * (skip > 0) + f"row_{value}\n")
        eng.exec_sql(f"ALTER TABLE {name} ADD PARTITION (part='{value}') LOCATION '{d}'")
        layouts.append([(f.name, f.dataType) for f in eng.exec_sql(f"SELECT * FROM {name}").schema])
    assert layouts == [want] * 3
    rows = eng.exec_sql(f"SELECT line, part FROM {name}").collect()
    assert sorted(map(tuple, rows)) == [("row_a", "a"), ("row_b", "b")]


@pytest.mark.parametrize("skip", [0, 1])
def test_read_text_files_column_order(spark, tmp_path, skip):
    from hdfs_hive_sql_playground_spark.sources.text import read_text_files

    (tmp_path / "f.txt").write_text("h\nrow\n")
    df = read_text_files(
        spark, str(tmp_path), skip, per_file_cols={"name_len": lambda f: F.length(f)}
    )
    assert df.columns == ["row_str", "input_file", "name_len"]


def test_logs_counts_jobs_run_in_a_job_group(spark):
    """Jobs under a job group (every Thrift wire statement runs in one)
    count in ``n_jobs_run`` like any other job."""
    eng = Engine()
    eng._spark = spark
    before = eng.logs()["n_jobs_run"]
    sc = spark.sparkContext
    sc.setJobGroup("logs-count", "jobs that logs() must count")
    try:
        spark.range(10).collect()
        spark.range(10).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert eng.logs()["n_jobs_run"] >= before + 2
