"""Bulk JDBC export sink + verification reads + DDL side-channel.

Reference basis (SURVEY §2 A18-A26): the Sqoop export pipeline —
``playground.py:710-719`` invokes ``sqoop export`` which splits the input
4 ways (``ExportInputFormat.java:42`` DEFAULT_NUM_MAP_TASKS=4), parses
delimited records (``RecordParser.java``), and batches INSERTs
(``ExportBatchOutputFormat.java:75-102`` addBatch/executeBatch). Observed
throughput: 2.8 M rows in 147.8 s ≈ 18.9k rows/s
(``example-output.log:1295-1296``).

In Spark the whole pipeline is one ``DataFrameWriter.jdbc`` call:
``numPartitions`` replaces the input-split logic, ``batchsize`` the batch
writer, the built-in dialects the SQLServerManager, and Tungsten codegen
the Sqoop ORM class generation (A24). Target-side DDL (A18,
``create_m33_tbl.sql``) goes through a plain JDBC statement on the driver.

Tests use the embedded Derby engine that ships with Spark (in-memory,
same JVM) — the URL shape and options are identical for SQL Server
(``jdbc:sqlserver://...``) on a real deployment.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

def export_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    num_partitions: int = 4,
    batchsize: int = 1000,
    properties: dict[str, str] | None = None,
) -> None:
    """Parallel batched JDBC export (A19-A25).

    ``num_partitions`` bounds the number of concurrent connections (the
    Sqoop 4-map-task default); ``batchsize`` the rows per
    ``executeBatch``. At scale, raise both with the target's ingest
    capacity — the bottleneck is the RDBMS, not Spark.

    Embedded-Derby caveat (test targets only): Spark's DerbyDialect
    declares CLOB as the string NULL type, and Derby rejects
    ``setNull(CLOB)`` on a VARCHAR column (ERROR 22005) — so declare
    string columns CLOB in Derby DDL when NULLs are possible (pinned in
    tests/test_adversarial_sinks.py). Real RDBMS dialects (the
    reference's SQL Server target included) map strings natively and are
    unaffected.
    """
    writer = (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("numPartitions", num_partitions)
        .option("batchsize", batchsize)
        .option("isolationLevel", "READ_COMMITTED")
    )
    for k, v in (properties or {}).items():
        writer = writer.option(k, v)
    writer.mode(mode).save()


def read_jdbc(
    spark: SparkSession,
    url: str,
    table_or_query: str,
    properties: dict[str, str] | None = None,
) -> DataFrame:
    """Verification read over JDBC (A26: ``SELECT TOP 100 * FROM m33`` →
    ``read_jdbc(...).limit(100)``)."""
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table_or_query)
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    return reader.load()


@contextmanager
def jdbc_connection(spark: SparkSession, url: str, user: str | None = None):
    """A JDBC connection opened through the driver JVM's DriverManager,
    closed when the ``with`` block exits. ``user`` (empty password) is
    for targets that take credentials, such as the Thrift server."""
    manager = spark._jvm.java.sql.DriverManager
    conn = manager.getConnection(url) if user is None else manager.getConnection(url, user, "")
    try:
        yield conn
    finally:
        conn.close()


def sql_state(exc: Exception) -> str | None:
    """The SQLState of a JDBC error raised through py4j, else None."""
    java_exc = getattr(exc, "java_exception", None)
    if java_exc is not None and hasattr(java_exc, "getSQLState"):
        return java_exc.getSQLState()
    return None


def jdbc_table_exists(spark: SparkSession, url: str, table: str) -> bool:
    """True iff ``table`` exists on the JDBC target, probed with a
    zero-row ``SELECT 1 FROM <table> WHERE 1=0``.  Only a
    missing-object error maps to False — SQLState class 42 with an
    object-not-found code (Derby/MSSQL 42X05, the SQL-standard 42S02
    family, Postgres 42P01) — so a transient probe failure (lock timeout,
    dropped connection, permissions) RAISES instead of masquerading as
    "table missing" and letting a streaming-sink replay skip its
    deduplicating DELETE."""
    _MISSING_SQLSTATES = ("42X05", "42S02", "42P01", "42S01", "S0002")
    with jdbc_connection(spark, url) as conn:
        stmt = conn.createStatement()
        try:
            stmt.executeQuery(f"SELECT 1 FROM {table} WHERE 1=0").close()
            return True
        except Exception as exc:
            if sql_state(exc) in _MISSING_SQLSTATES:
                return False
            raise
        finally:
            stmt.close()


def jdbc_ddl(spark: SparkSession, url: str, *statements: str) -> None:
    """Run DDL on the export target through a raw JDBC statement — the
    Spark-side analog of ``sqlcmd -q "CREATE TABLE ..."``
    (``playground.py:703-708``, A18). Uses the JVM's DriverManager; no
    Python JDBC dependency."""
    with jdbc_connection(spark, url) as conn:
        stmt = conn.createStatement()
        for sql in statements:
            stmt.execute(sql)
        stmt.close()


def jdbc_count(spark: SparkSession, url: str, table: str) -> int:
    """``SELECT COUNT(*)`` on the export target through the driver's
    DriverManager (as :func:`jdbc_ddl`): the target counts its own rows,
    so none travel back through Spark."""
    with jdbc_connection(spark, url) as conn:
        stmt = conn.createStatement()
        rs = stmt.executeQuery(f"SELECT COUNT(*) FROM {table}")
        rs.next()
        n = rs.getLong(1)
        stmt.close()
        return n
