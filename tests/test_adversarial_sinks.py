"""Adversarial sink gate (round 10): values the m33 fixture never produces
through BOTH export sinks — the Hive-parity delimited TEXTFILE CTAS
(`sinks.ctas_text`, reference `create_insert_m33_tbl.hql:1-5`) and the
batched JDBC export (`sources/jdbc.py`, the Sqoop-export analog,
`playground.py:710-719`).

The text sink is LazySimpleSerDe-parity by design: unquoted, unescaped.
That makes its corruption modes part of the CONTRACT, and this gate pins
each one exactly (delimiter-in-value shifts columns, newline-in-value
splits the row, a literal backslash-N collides with the NULL token) so a
future "fix" that silently adds quoting — breaking Hive read-back parity
— fails here. The JDBC sink is the safe channel for such data: the same
rows round-trip bit-exactly, INCLUDING the NULL vs empty-string
distinction the text format cannot represent.

Real finding: exporting a NULL string into a Derby VARCHAR column fails
with ERROR 22005 — Spark's DerbyDialect declares CLOB as the string null
type, and Derby rejects setNull(CLOB) on a VARCHAR column. Pinned here
with the remedy (declare string columns CLOB on embedded-Derby targets
when NULLs are possible; real RDBMS dialects map strings natively and are
unaffected — the reference's SQL Server target included).
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pytest

from hdfs_hive_sql_playground_spark.sinks import ctas_text, read_text_table
from hdfs_hive_sql_playground_spark.sources.jdbc import (
    export_jdbc,
    jdbc_ddl,
    read_jdbc,
)

ROWS = [
    (1, "plain", "ok"),
    (2, "com,ma", "z"),  # field delimiter inside a value
    (3, "new\nline", "z"),  # record terminator inside a value
    (4, "\\N", "z"),  # literal backslash-N (the NULL token itself)
    (5, "uni 点击 ü", "z"),  # multibyte
    (6, None, "z"),  # real NULL
    (7, "", "z"),  # empty string (distinct from NULL)
]
SCHEMA = "a int, b string, c string"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def adv_df(spark):
    return spark.createDataFrame(ROWS, SCHEMA)


def test_text_sink_corruption_modes_are_the_hive_contract(
    spark, adv_df, tmp_path_factory
):
    """Unquoted delimited text cannot carry its own metacharacters — the
    exact LazySimpleSerDe behavior the reference's text tables have. Each
    corruption is pinned so read-back behavior never drifts silently."""
    wh = str(tmp_path_factory.mktemp("adv_sink_wh"))
    ctas_text(adv_df, "adv", warehouse_dir=wh)
    got = read_text_table(spark, "adv", SCHEMA, warehouse_dir=wh).collect()
    by_a = {r["a"]: (r["b"], r["c"]) for r in got}
    assert by_a[1] == ("plain", "ok")
    # delimiter-in-value: column shift, surplus token dropped (PERMISSIVE)
    assert by_a[2] == ("com", "ma")
    # newline-in-value: the row SPLITS — first half loses c, second half
    # fails the int cast on 'line' and lands under a=NULL
    assert by_a[3] == ("new", None)
    assert by_a[None] == ("z", None)
    # literal \N collides with the NULL token
    assert by_a[4] == (None, "z")
    # multibyte round-trips
    assert by_a[5] == ("uni 点击 ü", "z")
    # NULL and empty string are INDISTINGUISHABLE in this format: both \N
    # writes and unquoted-empty reads come back NULL (SPARK-25241 pin in
    # test_m33_pipeline covers the writer side)
    assert by_a[6] == (None, "z") and by_a[7] == (None, "z")
    assert len(got) == len(ROWS) + 1  # the split row adds one record


def test_jdbc_sink_roundtrips_what_text_cannot(spark, adv_df):
    """The typed channel: the same adversarial rows round-trip exactly —
    embedded delimiters/newlines, the \\N literal, multibyte, and the
    NULL vs empty-string distinction (Derby string columns declared CLOB;
    see test below for why)."""
    url = "jdbc:derby:memory:advsinkgate;create=true"
    jdbc_ddl(spark, url, "CREATE TABLE adv_ok (a INT, b CLOB, c CLOB)")
    export_jdbc(adv_df, url, "adv_ok", num_partitions=2, batchsize=10)
    got = sorted(
        (r["A"], r["B"], r["C"]) for r in read_jdbc(spark, url, "adv_ok").collect()
    )
    assert got == sorted(ROWS)  # includes (6, None, 'z') vs (7, '', 'z')


def test_jdbc_null_string_into_derby_varchar_fails_loudly(spark, adv_df):
    """Spark's DerbyDialect declares CLOB as the string NULL type, and
    Derby rejects setNull(CLOB) on a VARCHAR column (ERROR 22005) — so a
    NULL string export into a VARCHAR-columned Derby table fails instead
    of silently degrading. Pinned with the remedy in the module
    docstring; non-NULL strings (the m33 workload) are unaffected."""
    url = "jdbc:derby:memory:advsinkgate;create=true"
    jdbc_ddl(
        spark, url, "CREATE TABLE adv_varchar (a INT, b VARCHAR(100), c VARCHAR(10))"
    )
    no_nulls = adv_df.filter("b IS NOT NULL")
    export_jdbc(no_nulls, url, "adv_varchar", num_partitions=1, batchsize=10)
    assert read_jdbc(spark, url, "adv_varchar").count() == len(ROWS) - 1
    with pytest.raises(Exception, match="22005|VARCHAR|CLOB"):
        export_jdbc(
            adv_df.filter("b IS NULL"), url, "adv_varchar",
            num_partitions=1, batchsize=10,
        )


def test_export_target_alone_boots_with_table_locks():
    """The export target's embedded Derby database takes only TABLE locks
    for an insert; a database booted afterwards by a plain connection
    still takes ROW locks, and the system property is restored. Its own
    process: Derby reads the property when a database boots, so a
    database or property another test left behind could make it pass."""
    code = textwrap.dedent(
        """
        from pyspark.sql import SparkSession
        from hdfs_hive_sql_playground_spark.sources.jdbc import export_jdbc
        spark = SparkSession.builder.master("local[2]").getOrCreate()
        jvm = spark._jvm

        def lock_types(url, ddl=None):
            conn = jvm.java.sql.DriverManager.getConnection(url)
            stmt = conn.createStatement()
            if ddl:
                stmt.execute(ddl)
            conn.setAutoCommit(False)
            stmt.execute("INSERT INTO t VALUES (1)")
            rs = stmt.executeQuery("SELECT DISTINCT TYPE FROM SYSCS_DIAG.LOCK_TABLE")
            types = set()
            while rs.next():
                types.add(rs.getString(1).strip())
            conn.rollback()
            conn.close()
            return sorted(types)

        export_jdbc(spark.range(10).toDF("k"), "jdbc:derby:memory:lock_export;create=true", "t")
        print("export", lock_types("jdbc:derby:memory:lock_export"))
        plain = "jdbc:derby:memory:lock_plain;create=true"
        print("plain", lock_types(plain, "CREATE TABLE t (k BIGINT)"))
        print("property", jvm.System.getProperty("derby.storage.rowLocking"))
        """
    )
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, capture_output=True, text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert proc.stdout.splitlines()[-3:] == [
        "export ['TABLE']",
        "plain ['ROW', 'TABLE']",
        "property None",
    ], proc.stdout
