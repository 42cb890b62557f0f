"""The reference's own HQL pipeline (external table + partitions + header
skip + persisted view + Hive CTAS) must run through the engine verbatim
(modulo the three documented deviations in examples/hive/m33_pipeline.hql).

Runs in a subprocess: the Hive catalog can't be added to the already-
running test session, and the Derby metastore wants its own JVM."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_reference_hql_pipeline_end_to_end(tmp_path):
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "examples", "run_hive_pipeline.py"),
         os.path.join(REPO, "data", "m33_mini"), str(tmp_path)],
        capture_output=True,
        text=True,
        timeout=420,
        cwd=REPO,
    )
    assert "HIVE_PIPELINE_OK" in proc.stdout, proc.stdout[-2000:] + proc.stderr[-2000:]
    assert "catalog partitions: ['peculiarity=cp', 'peculiarity=nocp']" in proc.stdout
    assert "view schema matches m33.m33_schem" in proc.stdout
    assert "hive format roundtrips passed: sequencefile, rcfile, avro" in proc.stdout
    assert proc.returncode == 0

