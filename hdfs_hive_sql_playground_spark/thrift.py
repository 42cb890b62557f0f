"""HiveServer2 wire boundary: serve the engine's session over the Thrift
JDBC/ODBC protocol and query it back as a wire client.

Reference basis (SURVEY §3.1, scoped optional): the reference runs
HiveServer2 on its ``hs`` node (``playground.py:672-677`` launches
``hiveserver2`` listening on 10000) and its only interactive client is
beeline over JDBC (``bin/helper-scripts/bee.sh:2`` —
``beeline -u jdbc:hive2://hs:10000``). Spark ships the same boundary:
``HiveThriftServer2.startWithContext`` serves an existing SparkSession on
the identical wire protocol, so beeline / Tableau / DBeaver / any
HiveServer2 JDBC client works unchanged.

Design decisions:

- **singleSession**: the served session IS the engine's session
  (``spark.sql.hive.thriftServer.singleSession=true``, a static conf the
  engine sets at build). Wire clients see every temp view the engine
  registered, and wire-side DDL is visible to the engine — matching the
  reference's one-HiveServer2 topology.
- The port/bind-host are runtime-set on the Hadoop conf just before
  server start, so callers pick free ports without rebuilding sessions.
- The client half (:func:`wire_sql`) uses the in-JVM ``hive-jdbc`` driver
  through ``java.sql.DriverManager`` — a genuine localhost Thrift
  round-trip (connect → execute → fetch), not an in-process shortcut; no
  Python-side JDBC dependency.

At scale this is the serving boundary, not the data path: results that
cross it should be final aggregates/LIMITed fetches (the reference used
it the same way — ``SELECT TOP``-style verification reads).
"""

from __future__ import annotations

import socket
import time
from contextlib import ExitStack
from dataclasses import dataclass
from typing import Any

from pyspark.sql import SparkSession

from hdfs_hive_sql_playground_spark.sources.jdbc import jdbc_connection

SINGLE_SESSION_CONF = {"spark.sql.hive.thriftServer.singleSession": "true"}

# The reference's HiveServer2 serves CONCURRENT INDEPENDENT sessions (every
# beeline connection gets its own session state; only the metastore is
# shared). Engine.start applies SINGLE_SESSION_CONF under Engine.conf, so
# Engine(conf=MULTI_SESSION_CONF) matches it: each wire connection (one
# WireClient) becomes its own Spark session — private temp views / SET
# state, shared catalog tables. The two confs are build-time alternatives
# (the conf is static): one engine topology per JVM, exactly like a real
# HS2 deployment choice.
MULTI_SESSION_CONF = {"spark.sql.hive.thriftServer.singleSession": "false"}

_LISTEN_TIMEOUT_S = 30.0


def _free_port(host: str) -> int:
    with socket.socket() as s:
        s.bind((host, 0))
        return s.getsockname()[1]


@dataclass
class ThriftServer:
    """Handle for a running in-process HiveServer2 (stop with .stop())."""

    host: str
    port: int
    _jserver: Any
    _spark: SparkSession

    @property
    def url(self) -> str:
        return f"jdbc:hive2://{self.host}:{self.port}/default"

    def stop(self) -> None:
        if self._jserver is not None:
            self._jserver.stop()
            self._jserver = None


def start_thrift_server(
    spark: SparkSession,
    host: str = "127.0.0.1",
    port: int | None = None,
) -> ThriftServer:
    """Serve ``spark``'s session over the HiveServer2 Thrift protocol.

    Blocks until the listener accepts TCP connections (or raises after
    ``_LISTEN_TIMEOUT_S``). ``port=None`` picks a free port. For wire
    clients to see the engine's temp views, the session must have been
    built with ``SINGLE_SESSION_CONF`` (the engine does this by default);
    without it each connection gets an isolated Spark session — still
    functional, but only global/catalog objects are visible.
    """
    if port is None:
        port = _free_port(host)
    hconf = spark._jsc.hadoopConfiguration()
    hconf.set("hive.server2.thrift.port", str(port))
    hconf.set("hive.server2.thrift.bind.host", host)
    jserver = spark._jvm.org.apache.spark.sql.hive.thriftserver.HiveThriftServer2.startWithContext(
        spark._jsparkSession.sqlContext()
    )
    deadline = time.monotonic() + _LISTEN_TIMEOUT_S
    while time.monotonic() < deadline:
        try:
            with socket.create_connection((host, port), timeout=1.0):
                return ThriftServer(host=host, port=port, _jserver=jserver, _spark=spark)
        except OSError:
            time.sleep(0.25)
    jserver.stop()
    raise TimeoutError(f"thrift server did not listen on {host}:{port} within {_LISTEN_TIMEOUT_S}s")


class WireClient:
    """A PERSISTENT HiveServer2 JDBC connection — one wire *session* that
    survives across statements (what a beeline prompt is). Context-manager
    friendly.

    Under the default single-session topology every connection shares the
    engine's session, so connection lifetime is invisible; under
    :data:`MULTI_SESSION_CONF` each WireClient is an isolated Spark
    session — temp views and ``SET`` state created through it are private
    to it, while catalog (persistent) tables stay shared — the reference
    HS2's concurrent-client behavior (``playground.py:672-677``; any
    number of ``bee.sh`` clients at once). :func:`wire_sql` opens a fresh
    connection per call and therefore cannot express "same session across
    statements"; this can."""

    def __init__(self, spark: SparkSession, url: str, user: str = "anon"):
        self._stack = ExitStack()
        self._conn = self._stack.enter_context(jdbc_connection(spark, url, user))

    def sql(self, sql: str) -> list[tuple]:
        """Execute one statement on this wire session; fetch all rows."""
        return self.sql_with_names(sql)[1]

    def sql_with_names(self, sql: str) -> tuple[list[str], list[tuple]]:
        """Like :meth:`sql` but also returns the result column names (what
        a shell prints as the header row)."""
        st = self._conn.createStatement()
        try:
            has_rs = st.execute(sql)
            if not has_rs:
                return [], []
            rs = st.getResultSet()
            meta = rs.getMetaData()
            n = meta.getColumnCount()
            cols = [meta.getColumnName(i + 1) for i in range(n)]
            out: list[tuple] = []
            while rs.next():
                out.append(tuple(rs.getObject(i + 1) for i in range(n)))
            rs.close()
            return cols, out
        finally:
            st.close()

    def tables(self) -> list[str]:
        """Table and view names visible to THIS wire session, sorted, via
        JDBC DatabaseMetaData (what beeline's ``!tables`` issues). Under
        :data:`MULTI_SESSION_CONF` that includes the session's own temp
        views, which another connection cannot see."""
        rs = self._conn.getMetaData().getTables(None, None, "%", None)
        try:
            names = []
            while rs.next():
                names.append(rs.getString(3))
            return sorted(names)
        finally:
            rs.close()

    def close(self) -> None:
        self._stack.close()

    def __enter__(self) -> "WireClient":
        return self

    def __exit__(self, *exc: Any) -> None:
        self.close()


def wire_sql(
    spark: SparkSession, url: str, sql: str, user: str = "anon"
) -> list[tuple]:
    """Execute ``sql`` over the wire as a one-shot JDBC client (beeline -e
    analog) and fetch all rows as Python tuples. Uses the in-JVM hive-jdbc
    driver — a real localhost Thrift round-trip."""
    with WireClient(spark, url, user) as client:
        return client.sql(sql)

