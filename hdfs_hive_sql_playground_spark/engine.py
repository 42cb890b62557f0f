"""Engine facade: session lifecycle, health introspection, SQL pass-through
with dialect shims, and the m33 example pipeline as one-call verbs.

Replaces the reference's cluster orchestration layer (``playground.py``):
there are no Docker nodes or daemons — a SparkSession is the cluster
handle — so setup/start/stop collapse to session management (A27-A29) and
the JMX health polling (``playground.py:339-431,576-588``) collapses to
session/executor introspection. The CLI verbs that still make sense are
kept name-compatible (see :mod:`hdfs_hive_sql_playground_spark.cli`).
"""

from __future__ import annotations

import logging
import os
import re
import tempfile
from dataclasses import dataclass, field as dc_field
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from hdfs_hive_sql_playground_spark import dialect
from hdfs_hive_sql_playground_spark.session import get_spark
from hdfs_hive_sql_playground_spark.sinks import DEFAULT_WAREHOUSE, ctas_text, read_text_table
from hdfs_hive_sql_playground_spark.sources.jdbc import EXPORT_BATCH_ROWS, EXPORT_WRITERS
from hdfs_hive_sql_playground_spark.sources.jdbc import export_jdbc, jdbc_count, jdbc_ddl
from hdfs_hive_sql_playground_spark.sources.text import TextTable
from hdfs_hive_sql_playground_spark.tables import register_all

log = logging.getLogger(__name__)

_LOG_CONF_KEYS = 20  # effective-config entries Engine.logs reports


@dataclass
class Engine:
    """A running engine = one SparkSession + a warehouse directory."""

    app_name: str = "hdfs-hive-sql-playground-spark"
    master: str | None = None
    warehouse_dir: str = DEFAULT_WAREHOUSE
    # Session confs over the engine's defaults. The Thrift topology is one
    # of them: by default every wire client shares THIS engine session (the
    # reference's one-engine hs-node layout); conf=MULTI_SESSION_CONF gives
    # each wire connection its own isolated session with private temp
    # views, like a stock multi-client HiveServer2 deployment.
    conf: dict[str, str] = dc_field(default_factory=dict)
    _spark: SparkSession | None = None
    # Header-skipping external text tables the DDL shim overlays (see
    # _intercept_ddl), by table name. Their temp views live in this
    # session, so stop() forgets them.
    _text_tables: dict[str, TextTable] = dc_field(default_factory=dict, init=False, repr=False)

    # -- lifecycle (A27-A29) -------------------------------------------------

    def start(self) -> "Engine":
        from hdfs_hive_sql_playground_spark.thrift import SINGLE_SESSION_CONF

        # singleSession is static (build-time): harmless when no Thrift
        # server is started, decides wire-client session topology when one
        # is (serve_thrift); self.conf may override it.
        self._spark = get_spark(
            app_name=self.app_name,
            master=self.master,
            warehouse_dir=self.warehouse_dir,
            conf={**SINGLE_SESSION_CONF, **self.conf},
        )
        return self

    def stop(self) -> None:
        self._text_tables.clear()
        if self._spark is not None:
            self._spark.stop()
            self._spark = None

    @property
    def spark(self) -> SparkSession:
        if self._spark is None:
            raise RuntimeError("engine not started; call start()")
        return self._spark

    def health(self) -> dict[str, Any]:
        """Degenerate-but-API-compatible health report (the Spark analog of
        ``print-health-report``, ``playground.py:465-497``): session alive,
        warehouse writable, parallelism available."""
        report: dict[str, Any] = {"healthy": False}
        if self._spark is None:
            report["session"] = "stopped"
            return report
        sc = self._spark.sparkContext
        report["session"] = "alive"
        report["app_id"] = sc.applicationId
        report["master"] = sc.master
        report["spark_version"] = self._spark.version
        report["default_parallelism"] = sc.defaultParallelism
        try:
            os.makedirs(self.warehouse_dir, exist_ok=True)
            with tempfile.NamedTemporaryFile(dir=self.warehouse_dir):
                pass
            report["warehouse_writable"] = True
        except OSError:
            report["warehouse_writable"] = False
        report["healthy"] = report["warehouse_writable"] and sc.defaultParallelism > 0
        return report

    def logs(self) -> dict[str, Any]:
        """``print-hadoop-logs`` analog (A30): with no per-node daemon logs
        to cat, surface the session's execution history (job/stage counts
        from the status store and tracker) and the effective config.

        ``n_jobs_run`` counts every job, in a job group or not (each wire
        statement of the Thrift server runs under one). Job ids count up
        from 0 and the status store keeps only the latest
        ``spark.ui.retainedJobs`` of them, so the count is its highest id
        + 1, not its size."""
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        jobs = jsc.statusStore().jobsList(None)
        n_jobs = jobs.size() and max(jobs.apply(0).jobId(), jobs.apply(jobs.size() - 1).jobId()) + 1
        conf = dict(sorted(self.spark.sparkContext.getConf().getAll()))
        interesting = {
            k: v
            for k, v in conf.items()
            if any(t in k for t in ("adaptive", "shuffle", "arrow", "warehouse", "master", "memory"))
        }
        return {
            "app_id": sc.applicationId,
            "n_jobs_run": n_jobs,
            "active_jobs": len(tracker.getActiveJobsIds() or []),
            "active_stages": len(tracker.getActiveStageIds() or []),
            "conf": dict(list(interesting.items())[:_LOG_CONF_KEYS]),
        }

    # -- SQL pass-through with dialect shims (Tier B; A13, A26) --------------

    # DDL shim state: header-skipping external text tables (A2-A4). Spark
    # 4.1's Hive text scan does NOT honor skip.header.line.count (verified:
    # headers leak), so tables created with that property are overlaid with
    # a temp view over sources.text (exact per-file skip semantics); the
    # catalog DDL still runs when a Hive metastore is enabled, so SHOW
    # PARTITIONS etc. keep working. Views over a shimmed table are created
    # as temp views (Spark refuses permanent views over temp views).
    _CREATE_TEXT_RE = re.compile(
        r"CREATE\s+EXTERNAL\s+TABLE\s+(\w+)\s*\(\s*(\w+)\s+STRING\s*\)"
        r".*?PARTITIONED\s+BY\s*\(\s*(\w+)\s+STRING\s*\)"
        r".*?STORED\s+AS\s+TEXTFILE"
        r".*?[\"']skip\.header\.line\.count[\"']\s*=\s*[\"'](\d+)[\"']",
        re.IGNORECASE | re.DOTALL,
    )
    _ADD_PART_RE = re.compile(
        r"ALTER\s+TABLE\s+(\w+)\s+ADD\s+PARTITION\s*\(\s*(\w+)\s*=\s*'([^']*)'\s*\)"
        r"\s+LOCATION\s+'([^']*)'",
        re.IGNORECASE | re.DOTALL,
    )
    _CREATE_VIEW_RE = re.compile(r"CREATE\s+(OR\s+REPLACE\s+)?VIEW\s+(\w+)", re.IGNORECASE)

    def _intercept_ddl(self, sql: str) -> DataFrame | None:
        # Anchor every DDL pattern to the start of the trimmed statement:
        # a non-DDL statement that merely CONTAINS a matching fragment
        # (inside a string literal or comment) must not be intercepted.
        sql = sql.strip()

        m = self._CREATE_TEXT_RE.match(sql)
        if m:
            name, row_col, part_col, skip = m.group(1), m.group(2), m.group(3), int(m.group(4))
            if self._catalog_is_hive():
                try:
                    self.spark.sql(sql)  # catalog parity (SHOW PARTITIONS etc.)
                except Exception as exc:
                    log.warning("DDL shim: catalog statement %r failed: %s", sql, exc)
            table = self._text_tables[name] = TextTable(self.spark, part_col, skip, row_col=row_col)
            table.df().createOrReplaceTempView(name)
            return self.spark.sql("SELECT 1 AS ok").limit(0)

        m = self._ADD_PART_RE.match(sql)
        if m and m.group(1) in self._text_tables:
            name, col, value, path = m.group(1), m.group(2), m.group(3), m.group(4)
            if self._catalog_is_hive():
                # Qualified name bypasses the shim temp view so the
                # catalog partition registers (SHOW PARTITIONS parity).
                stmt = (
                    f"ALTER TABLE spark_catalog.default.{name} "
                    f"ADD PARTITION ({col}='{value}') LOCATION '{path}'"
                )
                try:
                    self.spark.sql(stmt)
                except Exception as exc:
                    log.warning("DDL shim: catalog statement %r failed: %s", stmt, exc)
            self._text_tables[name].add_partition(value, path).df().createOrReplaceTempView(name)
            return self.spark.sql("SELECT 1 AS ok").limit(0)

        m = self._CREATE_VIEW_RE.match(sql)
        if m and self._text_tables and re.search(
            rf"\b(?:{'|'.join(map(re.escape, self._text_tables))})\b",
            dialect.lex(sql).mask,
            re.IGNORECASE,
        ):
            sql = self._CREATE_VIEW_RE.sub(
                lambda mm: f"CREATE {mm.group(1) or ''}TEMPORARY VIEW {mm.group(2)}", sql, count=1
            )
            return self.spark.sql(dialect.rewrite(sql))
        return None

    def _catalog_is_hive(self) -> bool:
        return self.spark.conf.get("spark.sql.catalogImplementation", "in-memory") == "hive"

    def serve_thrift(self, host: str = "127.0.0.1", port: int | None = None):
        """Start the HiveServer2 wire boundary over this engine's session
        (the reference's ``hiveserver2`` on ``hs:10000``,
        ``playground.py:672-677``; beeline client ``bee.sh:2``). Returns a
        :class:`..thrift.ThriftServer` handle — every view the engine has
        registered is queryable by any HiveServer2 JDBC/ODBC client at
        ``handle.url``. Call ``handle.stop()`` to tear down."""
        from hdfs_hive_sql_playground_spark.thrift import start_thrift_server

        return start_thrift_server(self.spark, host=host, port=port)

    def exec_sql(self, sql: str) -> DataFrame:
        """``exec-hive-query`` analog: arbitrary SQL, with ``field()``,
        ``TOP n`` and ``INPUT__FILE__NAME`` rewritten to Spark SQL and
        header-skipping text-table DDL shimmed (``playground.py:745-750``)."""
        intercepted = self._intercept_ddl(sql)
        if intercepted is not None:
            return intercepted
        return self.spark.sql(dialect.rewrite(sql))

    @staticmethod
    def split_statements(text: str) -> list[str]:
        """Split a SQL script into statements at each top-level ';' (the
        lexical rules are :mod:`..dialect`'s); an unterminated last
        statement comes last. Shared by :meth:`exec_file` and the
        ``sql-cli`` shell."""
        stmts, tail = dialect.split(text)
        return [*stmts, tail.strip()] if tail else stmts

    def exec_file(self, path: str) -> list[DataFrame]:
        """``exec-hive-file`` analog: run each ;-terminated statement
        (``playground.py:738-743``)."""
        with open(path) as f:
            text = f.read()
        return [self.exec_sql(s) for s in self.split_statements(text)]

    def register_testdata(self, sf_dir: str) -> None:
        register_all(self.spark, sf_dir)

    def ingest(self, src_dir: str, dest_dir: str) -> int:
        """``hadoop fs -put`` analog (A1, ``playground.py:210-214``): stage a
        local directory tree into the engine's data area. With Spark reading
        in place there is usually nothing to move — this exists for parity
        and for copying into a mounted DFS path; returns files copied."""
        import shutil

        n = 0
        for root, _, files in os.walk(src_dir):
            rel = os.path.relpath(root, src_dir)
            out = os.path.join(dest_dir, rel) if rel != "." else dest_dir
            os.makedirs(out, exist_ok=True)
            for fname in files:
                shutil.copy2(os.path.join(root, fname), os.path.join(out, fname))
                n += 1
        return n

    # -- m33 pipeline verbs (the runall.py sequence) -------------------------

    def m33_create_views(self, base_dir: str | None = None) -> None:
        """Register ``m33_raw`` and ``m33_schem`` (runall steps 3-4)."""
        from hdfs_hive_sql_playground_spark.m33 import m33_raw, m33_schem

        m33_raw(self.spark, base_dir).createOrReplaceTempView("m33_raw")
        m33_schem(self.spark, base_dir).createOrReplaceTempView("m33_schem")

    def m33_ctas(self, table: str = "m33") -> str:
        """CTAS the typed view to comma-delimited text (runall step 6, A17)
        and register the read-back table."""
        from hdfs_hive_sql_playground_spark.m33 import M33_SCHEMA

        path = ctas_text(self.spark.table("m33_schem"), table, self.warehouse_dir)
        read_text_table(
            self.spark, table, M33_SCHEMA, self.warehouse_dir
        ).createOrReplaceTempView(table)
        return path

    def m33_export(
        self,
        url: str,
        table: str = "m33",
        num_partitions: int = EXPORT_WRITERS,
        batchsize: int = EXPORT_BATCH_ROWS,
        create_ddl: str | None = None,
    ) -> int:
        """JDBC export + verification count on the target (runall steps
        7-10, A18-A26)."""
        if create_ddl:
            jdbc_ddl(self.spark, url, create_ddl)
        df = self.spark.table(table)
        export_jdbc(df, url, table, num_partitions=num_partitions, batchsize=batchsize)
        return jdbc_count(self.spark, url, table)
