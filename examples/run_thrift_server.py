"""Serve the engine over the HiveServer2 wire protocol and query it back
as a JDBC client — the reference's hs-node + beeline topology
(``playground.py:672-677``, ``bin/helper-scripts/bee.sh:2``) in one
process.

Usage::

    python examples/run_thrift_server.py [sf_dir]

Runs a self-check (wire results must equal in-process results), prints
THRIFT_OK markers and stops the server. For a server that stays up for an
external beeline, run ``python -m hdfs_hive_sql_playground_spark.cli
serve-thrift``.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from hdfs_hive_sql_playground_spark.engine import Engine  # noqa: E402
from hdfs_hive_sql_playground_spark.thrift import WireClient, wire_sql  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    engine = Engine(app_name="thrift-serve").start()
    try:
        engine.register_testdata(sf_dir)
        server = engine.serve_thrift()
        print(f"thrift server listening: {server.url}")

        # Wire query vs in-process query: identical results required.
        sql = (
            "SELECT r_name, COUNT(*) AS n FROM nation n "
            "JOIN region r ON n.n_regionkey = r.r_regionkey "
            "GROUP BY r_name ORDER BY r_name"
        )
        over_wire = [(r[0], int(r[1])) for r in wire_sql(engine.spark, server.url, sql)]
        in_proc = [(r.r_name, r.n) for r in engine.exec_sql(sql).collect()]
        assert over_wire == in_proc, (over_wire, in_proc)
        print(f"THRIFT_OK wire==inprocess rows={len(over_wire)}")

        # Wire-side DDL lands in the shared (singleSession) session.
        wire_sql(
            engine.spark,
            server.url,
            "CREATE OR REPLACE TEMPORARY VIEW wire_made AS "
            "SELECT n_nationkey FROM nation WHERE n_nationkey < 5",
        )
        assert engine.spark.table("wire_made").count() == 5
        print("THRIFT_OK wire-ddl-visible-to-engine")

        # Metadata surface (beeline's !tables).
        with WireClient(engine.spark, server.url) as wc:
            tables = wc.tables()
        assert "nation" in tables and "wire_made" in tables, tables
        print(f"THRIFT_OK metadata tables={len(tables)}")

        # --- adversarial wire contracts -------------------------------
        with WireClient(engine.spark, server.url) as wc:
            # A failing statement must surface the engine's error class
            # to the wire client (not a silent empty result), and the
            # SESSION must survive it — a beeline prompt doesn't die
            # because one query referenced a missing table.
            for bad, want in (
                ("SELECT * FROM definitely_not_a_table", "TABLE_OR_VIEW_NOT_FOUND"),
                ("SELEC 1", "PARSE_SYNTAX_ERROR"),
                ("SELECT 1 + ", "PARSE_SYNTAX_ERROR"),
            ):
                try:
                    wc.sql(bad)
                    raise AssertionError(f"no wire error for {bad!r}")
                except AssertionError:
                    raise
                except Exception as exc:
                    assert want in str(exc), (bad, str(exc)[:400])
            assert wc.sql("SELECT 40 + 2")[0][0] == 42
            print("THRIFT_OK errors-propagate-session-survives")

            # Value fidelity across the wire: NULL stays NULL (typed
            # columns AND untyped NULL literal), DECIMAL keeps scale,
            # TIMESTAMP round-trips to the wall-clock second, non-ASCII
            # strings (CJK + emoji) survive the Thrift encoding.
            cols, rows = wc.sql_with_names(
                "SELECT CAST(NULL AS INT) AS i_null, NULL AS raw_null, "
                "CAST(1.50 AS DECIMAL(10,2)) AS d, "
                "TIMESTAMP'2026-03-01 10:15:00' AS ts, "
                "'汉字 \U0001f642 café' AS s"
            )
            assert cols == ["i_null", "raw_null", "d", "ts", "s"], cols
            (row,) = rows
            assert row[0] is None and row[1] is None, row
            assert str(row[2]) == "1.50", row
            assert str(row[3]).startswith("2026-03-01 10:15:00"), row
            assert row[4] == "汉字 \U0001f642 café", row
            print("THRIFT_OK type-null-unicode-fidelity")

            # Multi-fetch-batch integrity: a result far larger than one
            # Thrift fetch batch (default 1000) arrives complete and
            # exact — no dropped/duplicated batch at the fetch loop.
            (agg,) = wc.sql(
                "SELECT COUNT(*) AS n, SUM(id) AS s FROM range(100000)"
            )
            assert (int(agg[0]), int(agg[1])) == (100000, 4999950000), agg
            big = wc.sql("SELECT id FROM range(10000)")
            got = sorted(int(r[0]) for r in big)
            assert got == list(range(10000)), (len(big), got[:5], got[-5:])
            print("THRIFT_OK multi-batch-fetch-exact")

        server.stop()
        return 0
    finally:
        engine.stop()


if __name__ == "__main__":
    sys.exit(main())
