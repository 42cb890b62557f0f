"""The CLI integration path (the runall.py analog) pinned end-to-end.

``cli.main`` starts and STOPS its own Engine/session, so the pipeline verb
runs in a subprocess — the in-process route would tear down the shared
test session. This is the library-vs-integration distinction: every step
of the pipeline is already unit-tested; this test pins the wiring
(argparse → Engine verbs → stdout contract) the way runall.py pinned the
reference's (``examples/runall.py:32-77``).
"""

from __future__ import annotations

import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_cli_m33_pipeline_end_to_end():
    r = subprocess.run(
        [
            sys.executable,
            "-m",
            "hdfs_hive_sql_playground_spark.cli",
            "m33-pipeline",
            "--jdbc-url",
            "jdbc:derby:memory:clipipe;create=true",
        ],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=REPO,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    assert "CTAS ->" in r.stdout
    m = re.search(r"exported \+ verified rows: (\d+)", r.stdout)
    assert m, r.stdout[-2000:]
    # data/m33_mini: 4 files x 1000 rows.
    assert int(m.group(1)) == 4000


def test_cli_sql_shell_piped_statements():
    """The sql-cli shell (beeline-cli / sql-cli analog): piped ;-terminated
    statements execute in order with the dialect shims applied, a failing
    statement reports ERROR and the shell SURVIVES it, and a trailing
    statement without ';' runs at EOF."""
    script = (
        "!badcmd\n"
        "SELECT 1 AS a;\n"
        "SELECT field('b', 'a', 'b') AS pos;\n"
        "SELECT broken FROM nowhere;\n"
        "-- a full-line comment;\n"
        # a comment with an UNBALANCED quote must not poison the lexer —
        # statements after it must still complete
        "-- don't let a comment's apostrophe mark the rest as in-literal\n"
        # a ';' and newlines INSIDE a string literal must neither split the
        # statement nor lose the literal's interior newline
        "SELECT length('x;\n"
        "y') AS lit_len;\n"
        # a literal line that starts with '--' is text, not a comment
        "SELECT length('p\n"
        "-- q\n"
        "r') AS dash_len;\n"
        "SELECT 'tail' AS t;\n"
        "!quit\n"
        "SELECT 'after_quit' AS never;\n"
    )
    r = subprocess.run(
        [sys.executable, "-m", "hdfs_hive_sql_playground_spark.cli", "sql-cli"],
        input=script,
        capture_output=True,
        text=True,
        timeout=600,
        cwd=REPO,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    out = r.stdout
    # all four statements reached execution, in order
    ia, ipos, ierr, itail = (
        out.index("|a  |"),
        out.index("|pos|"),
        out.index("ERROR AnalysisException"),
        out.index("|tail|"),
    )
    assert ia < ipos < ierr < itail, out
    assert "|2  |" in out  # field('b','a','b') == 2: the shim ran
    # bang meta-commands: unknown reports and continues; !quit exits
    assert "unknown command !badcmd" in out, out
    assert "after_quit" not in out, out
    # 'x;\ny' is 4 chars: the in-literal ';' didn't split and the interior
    # newline survived buffering
    assert "|4      |" in out, out
    # 'p\n-- q\nr' is 8 chars: the '--' line stayed inside the literal
    assert "|8       |" in out, out


def test_cli_sql_shell_eof_tail_and_describe():
    """Two shell edge contracts: (1) the EOF remainder goes through
    split_statements — a final line holding several ;-separated statements
    with no trailing newline-';' runs each separately, not as one blob;
    (2) !describe <t> prints the table's columns (beeline meta-command),
    in-process. Runs via _sql_shell directly against the shared session —
    no subprocess needed since no Thrift/JVM lifecycle is involved."""
    import contextlib
    import io
    import sys

    from hdfs_hive_sql_playground_spark import cli
    from hdfs_hive_sql_playground_spark.engine import Engine

    from hdfs_hive_sql_playground_spark.session import get_spark

    eng = Engine(_spark=get_spark())  # reuse the shared test session; no start()/stop()
    eng.spark.sql("CREATE OR REPLACE TEMPORARY VIEW desc_tv AS SELECT 1 AS c1, 'x' AS c2")
    script = "!describe desc_tv\nSELECT 10 AS ten; SELECT 20 AS twenty"
    out_io = io.StringIO()
    stdin0 = sys.stdin
    sys.stdin = io.StringIO(script)
    try:
        with contextlib.redirect_stdout(out_io):
            cli._sql_shell(eng, n=5)
    finally:
        sys.stdin = stdin0
    out = out_io.getvalue()
    assert "c1" in out and "c2" in out, out  # !describe listed the columns
    # EOF tail split into TWO statements, both executed
    assert "|ten|" in out and "|twenty|" in out, out


def test_cli_sql_shell_wire_mode_persistent_session():
    """sql-cli --url: the shell is ONE persistent HiveServer2 wire session
    (a temp view created in one statement is queryable by the next — what
    one-shot wire_sql cannot express), dialect shims are applied
    client-side (field(), TOP), and a failing statement doesn't kill the
    shell. Also pins !connect: the shell starts IN-PROCESS, runs one local
    statement, then !connect retargets it onto the wire mid-session
    (beeline's connect verb) — everything after runs over Thrift.
    Subprocess because the Thrift listener needs its own static conf / JVM
    lifecycle (same pattern as the other thrift tests)."""
    script = (
        "import io, sys\n"
        "from hdfs_hive_sql_playground_spark.engine import Engine\n"
        "from hdfs_hive_sql_playground_spark import cli\n"
        "eng = Engine().start()\n"
        "server = eng.serve_thrift()\n"
        "sys.stdin = io.StringIO(\n"
        "    'SELECT 7 AS local_first;\\n'\n"
        "    + f'!connect {server.url}\\n'\n"
        "    + 'CREATE TEMPORARY VIEW tv AS SELECT 41 AS v;'\n"
        "    'SELECT v + 1 AS answer FROM tv;'\n"
        "    \"SELECT field('b', 'a', 'b') AS pos;\"\n"
        "    'SELECT broken FROM nowhere;'\n"
        "    'SELECT TOP 1 v AS top_v FROM tv;'\n"
        ")\n"
        "cli._sql_shell(eng, n=5)\n"
        "server.stop()\n"
        "eng.stop()\n"
    )
    r = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=420,
        cwd=REPO,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    out = r.stdout
    assert "local_first" in out, out  # in-process statement ran before !connect
    assert "connected: jdbc:hive2://" in out, out  # !connect switched to the wire
    assert "answer\n42" in out, out  # temp view survived to the next statement
    assert "pos\n2" in out, out  # field() shim applied before the wire send
    assert "ERROR" in out, out  # bad statement reported...
    assert "top_v\n41" in out, out  # ...and the session survived it (TOP shim too)


def test_cli_sql_shell_wire_tables_lists_own_session_views():
    """!tables in wire mode lists what the shell's OWN wire session sees.
    Under MULTI_SESSION_CONF each connection is a separate Spark session,
    so a temp view created through the shell is visible only on the
    shell's connection; a second connection would not list it.
    Subprocess for the same static-conf reason as the test above."""
    script = (
        "import io, sys\n"
        "from hdfs_hive_sql_playground_spark.engine import Engine\n"
        "from hdfs_hive_sql_playground_spark.thrift import MULTI_SESSION_CONF\n"
        "from hdfs_hive_sql_playground_spark import cli\n"
        "eng = Engine(conf=MULTI_SESSION_CONF).start()\n"
        "server = eng.serve_thrift()\n"
        "sys.stdin = io.StringIO(\n"
        "    f'!connect {server.url}\\n'\n"
        "    'CREATE TEMPORARY VIEW tv_probe AS SELECT 1 AS v;\\n'\n"
        "    '!tables\\n'\n"
        ")\n"
        "cli._sql_shell(eng, n=5)\n"
        "server.stop()\n"
        "eng.stop()\n"
    )
    r = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=420,
        cwd=REPO,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    assert "connected: jdbc:hive2://" in r.stdout, r.stdout
    assert "tv_probe" in r.stdout.splitlines(), r.stdout


def test_cli_shell_connect_closes_previous_wire_session(monkeypatch, capsys):
    """!connect on an already-connected shell must close the old WireClient
    before replacing it — otherwise every retarget leaks a server-side
    HiveServer2 session (and its temp views / SET state) for the life of
    the server. Also pins survive-on-error: a close() that raises (old
    session already dead) is reported as a WARN line and does not block
    the new connection."""
    import io
    import sys as _sys

    from hdfs_hive_sql_playground_spark import cli, thrift

    events: list[str] = []

    class FakeWire:
        def __init__(self, spark, url):
            self.url = url
            events.append(f"open:{url}")

        def close(self):
            events.append(f"close:{self.url}")
            if self.url == "jdbc:hive2://h/2":
                raise RuntimeError("session already dead")

        def sql_with_names(self, stmt):
            return ["c"], [(1,)]

    monkeypatch.setattr(thrift, "WireClient", FakeWire)

    class FakeEng:
        spark = None

    stdin0 = _sys.stdin
    _sys.stdin = io.StringIO(
        "!connect jdbc:hive2://h/1\n"
        "!connect jdbc:hive2://h/2\n"
        "!connect jdbc:hive2://h/3\n"
        "!quit\n"
    )
    try:
        cli._sql_shell(FakeEng(), n=5)
    finally:
        _sys.stdin = stdin0
    assert events == [
        "open:jdbc:hive2://h/1",
        "close:jdbc:hive2://h/1",  # retarget 1 -> 2 closed the old session
        "open:jdbc:hive2://h/2",
        "close:jdbc:hive2://h/2",  # raised — and the shell survived it
        "open:jdbc:hive2://h/3",
    ], events
    out = capsys.readouterr().out
    assert "WARN RuntimeError: closing jdbc:hive2://h/2: session already dead" in out, out
    assert "connected: jdbc:hive2://h/3" in out, out


def test_cli_validate_helper_reports_pass_rowsonly_unknown(spark, sf_dir, capsys):
    """The validate verb's engine: a hash-checked query prints PASS, the
    rows-only-by-design query prints ROWSONLY, an unknown name prints
    UNKNOWN and is the only failure returned."""
    from hdfs_hive_sql_playground_spark import cli

    fails = cli.validate(
        spark,
        ["q80_exact_dedup", "q06_approx_distinct", "no_such_query"],
        sf_dir,
    )
    out = capsys.readouterr().out
    assert "PASS q80_exact_dedup" in out, out
    assert "ROWSONLY q06_approx_distinct" in out, out
    assert "UNKNOWN no_such_query" in out, out
    assert fails == ["no_such_query"]
    assert "VALIDATE_DONE checked=3 fails=1" in out, out


def test_cli_exec_file_registers_views(tmp_path):
    """exec-file takes the view flags the other SQL verbs take and
    registers the views before its statements run."""
    sql = tmp_path / "q.sql"
    sql.write_text("SELECT COUNT(*) AS n FROM m33_schem;\n")
    r = subprocess.run(
        [sys.executable, "-m", "hdfs_hive_sql_playground_spark.cli", "exec-file", "--m33", str(sql)],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=REPO,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    assert re.search(r"\|\s*4000\s*\|", r.stdout), r.stdout[-2000:]
