"""Driver-contract resilience: the verification driver builds its OWN
plain SparkSession (none of our session.py defaults — no UTC pin, no
nanosAsLong, no inferTimestampNTZ override). Every conf the queries need
must therefore be runtime-set inside tables.load(); this test runs the
window preflight (exactly such a session) in a subprocess on
timestamp-heavy queries, so a new testdata timestamp vintage or a
forgotten runtime conf breaks HERE, not in the driver's CORRECTNESS
gate."""

from __future__ import annotations

import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Timestamp/date-dependent queries: the vintage-sensitive surface.
NAMES = (
    "q61_tumbling_window",
    "q62_sessionize",
    "q102_scd2_build",
    "q44_date_funcs",
    "q01_pricing_summary",
)


def test_queries_green_under_plain_driver_session():
    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "preflight_window.py"), sf_dir, *NAMES],
        capture_output=True,
        text=True,
        timeout=420,
        cwd=REPO,
    )
    out = proc.stdout[-2000:] + proc.stderr[-2000:]
    entry = re.search(r"^ENTRY rows=(\d+)$", proc.stdout, re.MULTILINE)
    assert entry and int(entry.group(1)) >= 1, out
    for name in NAMES:
        assert f"PASS {name}\n" in proc.stdout, out
    assert "VALIDATE_DONE checked=5 fails=0" in proc.stdout, out
    assert proc.returncode == 0, out
