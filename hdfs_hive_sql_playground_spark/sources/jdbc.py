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

The export policy is defined here once. ``EXPORT_WRITERS`` is Sqoop's
4-map-task default; a 2.8 M-row sweep into embedded Derby under table
locks found 4 to 32 writers flat (14.1-15.4 s). ``EXPORT_BATCH_ROWS`` is
that sweep's best batch (interleaved min-of-3: 100k 10.91 s, 50k 11.75 s,
10k 12.73 s).

Tests use the embedded Derby engine that ships with Spark (in-memory,
same JVM) — the URL shape and options are identical for SQL Server
(``jdbc:sqlserver://...``) on a real deployment. An embedded Derby
database this module opens boots with table-level locks
(``derby.storage.rowLocking=false``): a bulk append under row locks spent
its time in Derby's lock manager, one lock per inserted row (2.8 M rows:
33.0 s with row locks, 15.1 s without), and coarse locking is what the
reference's bulk path takes on SQL Server (TABLOCK). Derby reads the
property when each database boots, so it is set only around the
connection that may boot one and restored at once: the Hive metastore's
Derby and any database booted elsewhere keep Derby's defaults. A
database already booted before this module first opens it keeps the
locking it booted with.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

EXPORT_WRITERS = 4
EXPORT_BATCH_ROWS = 100_000

_ROW_LOCKING = "derby.storage.rowLocking"
# One boot window at a time, so two threads cannot restore each other's value.
_BOOT = threading.Lock()


def _embedded_derby(url: str) -> bool:
    return url.startswith("jdbc:derby:") and not url.startswith("jdbc:derby://")


def export_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    num_partitions: int = EXPORT_WRITERS,
    batchsize: int = EXPORT_BATCH_ROWS,
) -> None:
    """Parallel batched JDBC export (A19-A25).

    ``num_partitions`` bounds the number of concurrent connections: a
    DataFrame with more partitions is coalesced to it, one with fewer
    keeps its own. ``batchsize`` is the rows per ``executeBatch``. At
    scale, size both to the target's ingest capacity — the bottleneck is
    the RDBMS, not Spark.

    An embedded Derby target is opened here first, so it boots with
    table-level locks before any writer connects (module docstring).
    Writers then take the table lock in turn, each for its whole
    partition.

    Embedded-Derby caveat (test targets only): Spark's DerbyDialect
    declares CLOB as the string NULL type, and Derby rejects
    ``setNull(CLOB)`` on a VARCHAR column (ERROR 22005) — so declare
    string columns CLOB in Derby DDL when NULLs are possible (pinned in
    tests/test_adversarial_sinks.py). Real RDBMS dialects (the
    reference's SQL Server target included) map strings natively and are
    unaffected.
    """
    if _embedded_derby(url):
        with jdbc_connection(df.sparkSession, url):
            pass
    (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("numPartitions", num_partitions)
        .option("batchsize", batchsize)
        .option("isolationLevel", "READ_COMMITTED")
        .mode(mode)
        .save()
    )


def read_jdbc(spark: SparkSession, url: str, table_or_query: str) -> DataFrame:
    """Verification read over JDBC (A26: ``SELECT TOP 100 * FROM m33`` →
    ``read_jdbc(...).limit(100)``)."""
    return spark.read.format("jdbc").option("url", url).option("dbtable", table_or_query).load()


@contextmanager
def jdbc_connection(spark: SparkSession, url: str, user: str | None = None):
    """A JDBC connection opened through the driver JVM's DriverManager,
    closed when the ``with`` block exits. ``user`` (empty password) is
    for targets that take credentials, such as the Thrift server. An
    embedded Derby database (``jdbc:derby:``, not the network client's
    ``jdbc:derby://``) that this connection boots gets table-level locks
    (module docstring)."""
    manager = spark._jvm.java.sql.DriverManager
    if user is not None:
        conn = manager.getConnection(url, user, "")
    elif _embedded_derby(url):
        system = spark._jvm.System
        with _BOOT:
            previous = system.setProperty(_ROW_LOCKING, "false")
            try:
                conn = manager.getConnection(url)
            finally:
                if previous is None:
                    system.clearProperty(_ROW_LOCKING)
                else:
                    system.setProperty(_ROW_LOCKING, previous)
    else:
        conn = manager.getConnection(url)
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
