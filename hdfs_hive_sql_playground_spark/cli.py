"""CLI mirroring the reference's ``playground.py`` verbs where they still
make sense on Spark (``playground.py:1050-1225`` argparse surface).

Dropped verbs are the Docker/daemon plumbing that has no Spark analog
(format-hdfs, per-node log cat, container lifecycle); kept verbs map:

| reference verb              | here            |
|-----------------------------|-----------------|
| setup / start-*             | (implicit — a session starts per command) |
| print-health-report         | health          |
| exec-hive-query SQL         | exec-sql SQL    |
| exec-hive-file FILE         | exec-file FILE  |
| sqoop-export                | m33-export      |
| sql-exec-query (TOP n read) | exec-sql with TOP rewrite |
| (runall.py pipeline)        | m33-pipeline    |
| start-* (hiveserver2 on hs) | serve-thrift    |
| beeline-cli / sql-cli       | sql-cli (stdin shell, dialect shims; TTY prompt or piped) |

Still dropped: bash-cli (a container shell — no container) and
launch-ssms (launches a Windows GUI against the SQL Server container).

Usage: python -m hdfs_hive_sql_playground_spark.cli <verb> [args]
"""

from __future__ import annotations

import argparse
import json
import sys

from hdfs_hive_sql_playground_spark import dialect
from hdfs_hive_sql_playground_spark.engine import Engine
from hdfs_hive_sql_playground_spark.sources.jdbc import EXPORT_BATCH_ROWS, EXPORT_WRITERS


def _show(df, n: int = 20) -> None:
    df.show(n, truncate=False)


def _show_wire(cols: list, rows: list, n: int) -> None:
    if cols:
        print("\t".join(str(c) for c in cols))
    for row in rows[:n]:
        print("\t".join("NULL" if v is None else str(v) for v in row))
    if len(rows) > n:
        print(f"... ({len(rows) - n} more rows)")


def _sql_shell(eng, n: int = 20, url: str | None = None) -> None:
    """The sql-cli loop: buffer stdin until a top-level ';' (as
    :func:`..dialect.split` lexes it) completes a statement, execute it,
    keep going. A statement that fails prints its error class/message and
    the shell survives (beeline semantics). On EOF any non-empty remainder
    runs as a final statement.

    With ``url`` the shell is a true beeline analog: ONE persistent
    HiveServer2 wire session (temp views / SET state survive across
    statements) against a running ``serve-thrift``, with the dialect
    shims applied client-side before each send — the local session only
    hosts the in-JVM hive-jdbc driver. ``!connect <url>`` switches a
    running shell onto (or between) wire sessions, beeline-style."""
    # Mutable so !connect can retarget a running shell; holds the ONE
    # persistent WireClient when in wire mode, None for in-process.
    state: dict = {"client": None, "url": None}

    def connect(to_url: str) -> None:
        from hdfs_hive_sql_playground_spark.thrift import WireClient

        # Retargeting must close the previous wire session first, or each
        # !connect leaks a server-side HiveServer2 session (plus its temp
        # views / SET state) for the life of the server. A half-dead old
        # session must not block the new connection: its close() failure
        # is reported and the connect goes on.
        old = state["client"]
        if old is not None:
            try:
                old.close()
            except Exception as e:  # noqa: BLE001 — old session may already be dead
                print(f"WARN {type(e).__name__}: closing {state['url']}: {e}")
        state["client"] = WireClient(eng.spark, to_url)
        state["url"] = to_url

    if url:
        connect(url)

    def run(stmt: str) -> None:
        if state["client"] is not None:
            _show_wire(*state["client"].sql_with_names(dialect.rewrite(stmt)), n)
        else:
            _show(eng.exec_sql(stmt), n)

    def bang(cmd: str) -> bool:
        """beeline-style meta-commands; returns True to exit the shell."""
        verb, _, arg = cmd.partition(" ")
        arg = arg.strip()
        if verb in ("!quit", "!q", "!exit"):
            return True
        if verb == "!tables":
            if state["client"] is not None:
                names = state["client"].tables()
            else:
                names = [t.name for t in eng.spark.catalog.listTables()]
            for t in sorted(names):
                print(t)
        elif verb == "!describe":
            if not arg:
                print("usage: !describe <table>")
            else:
                # DESCRIBE works identically over the wire and in-process,
                # so routing it through run() keeps one execution path (and
                # the shell's survive-on-error contract).
                _run_shell_stmt(run, f"DESCRIBE {arg}")
        elif verb == "!connect":
            if not arg:
                print("usage: !connect <jdbc:hive2://...>")
            else:
                try:
                    connect(arg)
                    print(f"connected: {arg}")
                except Exception as e:  # noqa: BLE001 — shell must survive
                    print(f"ERROR {type(e).__name__}: {e}")
        else:
            print(
                f"unknown command {verb} "
                "(have: !tables, !describe <t>, !connect <url>, !quit)"
            )
        return False

    tty = sys.stdin.isatty()
    if tty:
        target = f"wire session at {url}" if url else "in-process session"
        print(
            f"hhsp sql shell ({target}) — ;-terminated statements, "
            "!tables, !describe <t>, !connect <url>, !quit or Ctrl-D to exit"
        )
    buf = ""
    while True:
        if tty:
            sys.stdout.write("....> " if buf else "hhsp> ")
            sys.stdout.flush()
        line = sys.stdin.readline()
        if not line:  # EOF
            break
        if not buf and line.strip().startswith("!"):
            if bang(line.strip()):
                return
            continue
        # Every statement the line completes runs; the open tail (code only,
        # with any multi-line literal intact) stays buffered.
        stmts, buf = dialect.split(buf + line)
        for stmt in stmts:
            _run_shell_stmt(run, stmt)
    if buf:  # EOF: the open tail runs as the final statement
        _run_shell_stmt(run, buf.strip())


def validate(spark, names: list[str], sf_dir: str) -> list[str]:
    """Check the named registry queries against their DuckDB oracles on
    ``spark`` (the print-health-report spirit extended to semantics: does
    this deployment still reproduce the reference answers bit-for-bit?).
    Prints one PASS/FAIL/ROWSONLY/UNKNOWN/ERROR line per query, returns the
    failing names."""
    from hdfs_hive_sql_playground_spark.oracle import check
    from hdfs_hive_sql_playground_spark.queries import all_queries

    specs = all_queries()
    fails: list[str] = []
    for name in names:
        if name not in specs:
            print(f"UNKNOWN {name}")
            fails.append(name)
            continue
        try:
            r = check(spark, specs[name], sf_dir)
        except Exception as e:  # noqa: BLE001 — report and continue
            print("ERROR", name, str(e)[:300], flush=True)
            fails.append(name)
            continue
        if r.rows_only:
            print(f"ROWSONLY {name} rows={r.spark_rows}", flush=True)
            continue
        print(("PASS" if r.ok else "FAIL"), name, flush=True)
        if not r.ok:
            fails.append(name)
            print(r.report())
    print(f"VALIDATE_DONE checked={len(names)} fails={len(fails)}")
    return fails


def _run_shell_stmt(run, stmt: str) -> None:
    try:
        run(stmt)
    except Exception as e:  # noqa: BLE001 — shell must survive bad SQL
        print(f"ERROR {type(e).__name__}: {str(e).splitlines()[0] if str(e) else e}")


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="hhsp-spark", description=__doc__)
    p.add_argument("--master", default=None, help="Spark master (default local[cpus])")
    sub = p.add_subparsers(dest="verb", required=True)
    # The verbs that run SQL over registered views share these flags.
    views = argparse.ArgumentParser(add_help=False)
    views.add_argument("--testdata", default=None, help="sf dir to register as views")
    views.add_argument("--m33", action="store_true", help="register m33_raw/m33_schem views")

    sub.add_parser("health", help="session + warehouse health report")
    sub.add_parser("logs", help="execution history + effective config (print-hadoop-logs analog)")

    q = sub.add_parser("exec-sql", parents=[views], help="run SQL (field()/TOP dialect shims applied)")
    q.add_argument("sql")
    q.add_argument("-n", type=int, default=20, help="rows to show")

    f = sub.add_parser("exec-file", parents=[views], help="run ;-separated SQL file")
    f.add_argument("path")

    pipe = sub.add_parser("m33-pipeline", help="run the full runall.py-equivalent sequence")
    pipe.add_argument("--jdbc-url", default="jdbc:derby:memory:m33db;create=true")

    exp = sub.add_parser("m33-export", help="CTAS + JDBC export + verification count")
    exp.add_argument("--jdbc-url", default="jdbc:derby:memory:m33db;create=true")
    exp.add_argument("--num-partitions", type=int, default=EXPORT_WRITERS)
    exp.add_argument("--batchsize", type=int, default=EXPORT_BATCH_ROWS)

    shell = sub.add_parser(
        "sql-cli",
        parents=[views],
        help="interactive SQL shell (beeline-cli / sql-cli analog, "
        "playground.py:1137-1153): reads ;-terminated statements from "
        "stdin — interactive with a prompt on a TTY, or piped — applies "
        "the dialect shims, prints each result; a failed statement "
        "reports its error and the shell continues",
    )
    shell.add_argument("-n", type=int, default=20, help="rows to show per result")
    shell.add_argument(
        "--url",
        default=None,
        help="connect over the HiveServer2 wire to a running serve-thrift "
        "(jdbc:hive2://...) as ONE persistent wire session — the true "
        "beeline analog; omit for the in-process session",
    )

    val = sub.add_parser(
        "validate",
        help="run the DuckDB oracle compare for registered queries — the "
        "print-health-report spirit extended to semantics (PASS/FAIL per "
        "query, nonzero exit on any failure)",
    )
    val.add_argument(
        "queries",
        nargs="*",
        help="query names (default: the driver window, i.e. the first N registry entries)",
    )
    val.add_argument("--testdata", default="/root/testdata/sf0.01", help="sf dir")
    val.add_argument(
        "-n", type=int, default=50, help="with no names: check the first N registry entries"
    )

    srv = sub.add_parser(
        "serve-thrift",
        parents=[views],
        help="serve the session over the HiveServer2 wire protocol "
        "(start-hiveserver2 analog; connect with any hive2 JDBC client)",
    )
    srv.add_argument("--host", default="127.0.0.1")
    srv.add_argument("--port", type=int, default=None, help="default: a free port")

    args = p.parse_args(argv)
    eng = Engine(master=args.master).start()
    try:
        if "m33" in vars(args):  # a verb with the shared view flags
            if args.testdata:
                eng.register_testdata(args.testdata)
            if args.m33:
                eng.m33_create_views()
        if args.verb == "health":
            print(json.dumps(eng.health(), indent=2))
        elif args.verb == "logs":
            print(json.dumps(eng.logs(), indent=2))
        elif args.verb == "exec-sql":
            _show(eng.exec_sql(args.sql), args.n)
        elif args.verb == "exec-file":
            for df in eng.exec_file(args.path):
                _show(df)
        elif args.verb == "m33-pipeline":
            eng.m33_create_views()
            _show(eng.exec_sql("SELECT * FROM m33_schem ORDER BY wavelength, age_mil, is_peculiar LIMIT 5"))
            path = eng.m33_ctas()
            print(f"CTAS -> {path}")
            n = eng.m33_export(args.jdbc_url)
            print(f"exported + verified rows: {n}")
        elif args.verb == "m33-export":
            eng.m33_create_views()
            eng.m33_ctas()
            n = eng.m33_export(args.jdbc_url, num_partitions=args.num_partitions, batchsize=args.batchsize)
            print(f"exported + verified rows: {n}")
        elif args.verb == "sql-cli":
            _sql_shell(eng, n=args.n, url=args.url)
        elif args.verb == "validate":
            from hdfs_hive_sql_playground_spark.queries import all_queries

            names = args.queries or list(all_queries())[: args.n]
            if validate(eng.spark, names, args.testdata):
                return 1
        elif args.verb == "serve-thrift":
            server = eng.serve_thrift(host=args.host, port=args.port)
            print(f"listening: {server.url}", flush=True)
            try:
                import time

                while True:
                    time.sleep(60)
            except KeyboardInterrupt:
                server.stop()
    finally:
        eng.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
