"""Dump `.explain("formatted")` for named registry queries to files.

Usage: python scripts/dump_plan.py OUTDIR SUFFIX QUERY [QUERY...]

Writes OUTDIR/<query>_<SUFFIX>.txt for each query, evaluated against
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.01) on local[4].
Expression ids (``#123``) are written as ``#N``, exchange plan ids
(``plan_id=45``, a session-wide counter) as ``plan_id=N``, the numeric
suffix pyspark gives a higher-order function's lambda variables
(``lambda x_15``, a process-wide counter) as ``_N`` and this checkout's
root directory as ``<repo>``, so plans dumped from two checkouts compare
with a plain ``diff -r``. The caches a query tracked are released after
its dump, so no plan shows a cache an earlier query in the run already
filled: a dump does not depend on the order of the names.
"""
from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def comparable(plan: str) -> str:
    """``plan`` with expression ids, plan ids, lambda variable suffixes and
    the checkout root masked."""
    plan = re.sub(r"plan_id=\d+", "plan_id=N", plan.replace(REPO, "<repo>"))
    plan = re.sub(r"(lambda \w+)_\d+", r"\1_N", plan)
    return re.sub(r"#\d+", "#N", plan)


def main() -> None:
    outdir, suffix, *names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    from hdfs_hive_sql_playground_spark.caching import release_tracked_caches
    from hdfs_hive_sql_playground_spark.queries import all_queries
    from hdfs_hive_sql_playground_spark.session import get_spark

    spark = get_spark(
        app_name="plan-dump",
        master="local[4]",
        shuffle_partitions=8,
        conf={"spark.driver.memory": "4g"},
    )
    registry = all_queries()
    os.makedirs(outdir, exist_ok=True)
    for name in names:
        df = registry[name].fn(spark, sf_dir)
        plan = comparable(df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), "formatted"
        ))
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange mentions)")
        release_tracked_caches()


if __name__ == "__main__":
    main()
