"""HiveServer2 wire-boundary parity (SURVEY §3.1): the engine serves its
session over the Thrift JDBC protocol and a wire client sees exactly the
in-process results, can issue DDL back into the shared session, and can
enumerate tables — the reference's hs-node + beeline topology
(``playground.py:672-677``, ``bee.sh:2``).

Runs in a subprocess: ``spark.sql.hive.thriftServer.singleSession`` is a
static conf the already-running test session doesn't carry, and the
Thrift listener wants its own JVM lifecycle (same pattern as
test_hive_ddl)."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_thrift_multi_session_two_clients():
    """Multi-session topology (Engine(conf=MULTI_SESSION_CONF)): two
    concurrent wire clients get isolated temp views + shared catalog —
    the reference HS2's stock concurrent-beeline behavior. Subprocess for
    the same static-conf reason as the single-session test."""
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "examples", "run_thrift_multisession.py")],
        capture_output=True,
        text=True,
        timeout=420,
        cwd=REPO,
    )
    out = proc.stdout
    for marker in (
        "THRIFT_OK same-session-persistent",
        "THRIFT_OK temp-view-isolated-across-clients",
        "THRIFT_OK temp-view-isolated-from-engine",
        "THRIFT_OK catalog-shared-across-sessions",
        "THRIFT_OK concurrent-clients",
        "THRIFT_OK concurrent-ddl-shared-metastore",
    ):
        assert marker in out, out[-2000:] + proc.stderr[-2000:]
    assert proc.returncode == 0


def test_thrift_wire_boundary_end_to_end():
    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "examples", "run_thrift_server.py"), sf_dir],
        capture_output=True,
        text=True,
        timeout=420,
        cwd=REPO,
    )
    out = proc.stdout
    assert "THRIFT_OK wire==inprocess" in out, out[-2000:] + proc.stderr[-2000:]
    assert "THRIFT_OK wire-ddl-visible-to-engine" in out, out[-2000:]
    assert "THRIFT_OK metadata" in out, out[-2000:]
    # adversarial wire contracts (one server run covers all of them):
    # errors carry the engine's error class AND the wire session
    # survives; NULL/DECIMAL/TIMESTAMP/unicode cross the wire exactly;
    # results spanning many Thrift fetch batches arrive complete.
    assert "THRIFT_OK errors-propagate-session-survives" in out, out[-2000:]
    assert "THRIFT_OK type-null-unicode-fidelity" in out, out[-2000:]
    assert "THRIFT_OK multi-batch-fetch-exact" in out, out[-2000:]
    assert proc.returncode == 0
