"""Every registry query gives its oracle's answer under session configs far
from the defaults: one shuffle partition with AQE and broadcast joins off,
and 37 shuffle partitions over scans split into 4 KB pieces with AQE's skew
join on and partition coalescing off. A query whose answer depends on how
rows are partitioned, ordered or joined fails here even when the default
session happens to give the oracle's answer.

Each config runs ``cli.validate`` over the whole registry in its own
process, on a session ``session.get_spark`` builds with the confs
overridden. A query without an oracle (rows-only) must instead return,
under each config, the rows it returns in the suite's session.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

import pytest

from hdfs_hive_sql_playground_spark.queries import all_queries

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CONFIGS = {
    "one_partition_no_aqe_no_broadcast": {
        "spark.sql.shuffle.partitions": "1",
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    },
    "split_scans_skew_join_no_coalesce": {
        "spark.sql.shuffle.partitions": "37",
        "spark.sql.files.maxPartitionBytes": "4096",
        "spark.sql.files.openCostInBytes": "0",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    },
}

RUN = textwrap.dedent(
    """
    import json, sys
    from hdfs_hive_sql_playground_spark.cli import validate
    from hdfs_hive_sql_playground_spark.queries import all_queries
    from hdfs_hive_sql_playground_spark.session import get_spark

    conf, sf_dir = json.loads(sys.argv[1]), sys.argv[2]
    spark = get_spark(app_name="config-invariance", conf=conf)
    specs = all_queries()
    fails = validate(spark, list(specs), sf_dir)
    rows = {n: sorted(json.dumps(list(r), default=str) for r in s.fn(spark, sf_dir).collect())
            for n, s in specs.items() if s.oracle is None}
    print("RESULT " + json.dumps({"fails": fails, "rows": rows}))
    spark.stop()
    """
)


def _rows_only_rows(spark, sf_dir: str) -> dict[str, list[str]]:
    return {
        n: sorted(json.dumps(list(r), default=str) for r in s.fn(spark, sf_dir).collect())
        for n, s in all_queries().items()
        if s.oracle is None
    }


@pytest.mark.parametrize("config", list(CONFIGS))
def test_registry_answers_do_not_depend_on_session_config(spark, sf_dir, config):
    conf = {**CONFIGS[config], "spark.driver.memory": "2g"}
    # The checkout on PYTHONPATH: Python UDF workers import the package.
    env = {**os.environ, "PYTHONPATH": os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p)}
    proc = subprocess.run(
        [sys.executable, "-c", RUN, json.dumps(conf), sf_dir],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=1500,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.rsplit("RESULT ", 1)[1])
    failed = [ln for ln in proc.stdout.splitlines() if ln.startswith(("FAIL", "ERROR"))]
    assert result["fails"] == [], "\n".join(failed)
    assert result["rows"] == _rows_only_rows(spark, sf_dir)
