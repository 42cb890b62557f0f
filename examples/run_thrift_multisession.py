"""Serve the engine over the HiveServer2 wire protocol in MULTI-session
topology and drive two concurrent wire clients — the reference HS2's
stock behavior when several beeline clients connect at once
(``playground.py:672-677`` starts one ``hiveserver2``; nothing limits it
to one client; each connection gets private session state and a shared
metastore).

Usage::

    python examples/run_thrift_multisession.py

Prints THRIFT_OK markers for: per-session temp-view isolation (client A's
temp view is invisible to client B and to the engine), session
persistence across statements on one connection, shared catalog tables
across sessions, and two clients querying concurrently.
"""

from __future__ import annotations

import os
import sys
import threading

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from hdfs_hive_sql_playground_spark.engine import Engine  # noqa: E402
from hdfs_hive_sql_playground_spark.thrift import MULTI_SESSION_CONF, WireClient  # noqa: E402


def main() -> int:
    engine = Engine(app_name="thrift-multi", conf=MULTI_SESSION_CONF).start()
    try:
        server = engine.serve_thrift()
        print(f"thrift server listening (multi-session): {server.url}")

        with WireClient(engine.spark, server.url) as ca, WireClient(
            engine.spark, server.url
        ) as cb:
            # Session persistence: a temp view created on connection A is
            # visible to a LATER statement on the same connection...
            ca.sql(
                "CREATE TEMPORARY VIEW mine AS "
                "SELECT id * 2 AS v FROM range(5)"
            )
            got = sorted(int(r[0]) for r in ca.sql("SELECT v FROM mine"))
            assert got == [0, 2, 4, 6, 8], got
            print("THRIFT_OK same-session-persistent")

            # ...but NOT to connection B (its own session) nor the engine.
            try:
                cb.sql("SELECT v FROM mine")
                print("FAIL: client B saw client A's temp view")
                return 1
            except Exception:
                print("THRIFT_OK temp-view-isolated-across-clients")
            try:
                engine.spark.table("mine")
                print("FAIL: engine saw a wire client's temp view")
                return 1
            except Exception:
                print("THRIFT_OK temp-view-isolated-from-engine")

            # Catalog (persistent) tables are the SHARED layer: created
            # through A, immediately visible to B — the metastore the
            # reference's concurrent beeline clients share.
            ca.sql("DROP TABLE IF EXISTS shared_ms")
            ca.sql("CREATE TABLE shared_ms AS SELECT id AS x FROM range(3)")
            got = sorted(int(r[0]) for r in cb.sql("SELECT x FROM shared_ms"))
            assert got == [0, 1, 2], got
            print("THRIFT_OK catalog-shared-across-sessions")
            ca.sql("DROP TABLE shared_ms")

            # Concurrency: both clients issue a stream of queries at the
            # same time from separate threads; every result must be right.
            errors: list[str] = []

            def hammer(client: WireClient, base: int) -> None:
                try:
                    for i in range(10):
                        rows = client.sql(
                            f"SELECT SUM(id) + {base + i} FROM range(101)"
                        )
                        expect = 5050 + base + i
                        if int(rows[0][0]) != expect:
                            errors.append(f"{rows[0][0]} != {expect}")
                except Exception as exc:  # pragma: no cover - failure path
                    errors.append(repr(exc))

            ta = threading.Thread(target=hammer, args=(ca, 1000))
            tb = threading.Thread(target=hammer, args=(cb, 2000))
            ta.start(), tb.start()
            ta.join(), tb.join()
            assert not errors, errors
            print("THRIFT_OK concurrent-clients")

            # Concurrent DDL against the SHARED metastore: each client
            # races CREATE TABLE AS / verify / DROP cycles on its OWN
            # tables while the other does the same — the reference HS2
            # serves several beeline sessions issuing DDL at once
            # (playground.py:672-677); the shared catalog must serialize
            # them without cross-talk or lost tables.
            ddl_errors: list[str] = []

            def ddl_race(client: WireClient, who: str) -> None:
                try:
                    for i in range(5):
                        t = f"race_{who}_{i}"
                        client.sql(f"DROP TABLE IF EXISTS {t}")
                        client.sql(
                            f"CREATE TABLE {t} AS "
                            f"SELECT id + {i} AS v FROM range(4)"
                        )
                        got = sorted(
                            int(r[0]) for r in client.sql(f"SELECT v FROM {t}")
                        )
                        if got != [i, i + 1, i + 2, i + 3]:
                            ddl_errors.append(f"{t}: {got}")
                        client.sql(f"DROP TABLE {t}")
                except Exception as exc:  # pragma: no cover - failure path
                    ddl_errors.append(f"{who}: {exc!r}")

            ta = threading.Thread(target=ddl_race, args=(ca, "a"))
            tb = threading.Thread(target=ddl_race, args=(cb, "b"))
            ta.start(), tb.start()
            ta.join(), tb.join()
            assert not ddl_errors, ddl_errors
            # neither client's tables survived, and the race left no
            # stray catalog entries behind
            left = [
                r
                for r in ca.sql("SHOW TABLES")
                if str(r[1]).startswith("race_")
            ]
            assert not left, left
            print("THRIFT_OK concurrent-ddl-shared-metastore")

        server.stop()
        return 0
    finally:
        engine.stop()


if __name__ == "__main__":
    sys.exit(main())
