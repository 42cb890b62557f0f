"""Pre-flight the driver's correctness window exactly as the driver runs
it: a PLAIN SparkSession (none of session.py's defaults), the entry smoke
query, then each window query checked against its DuckDB oracle.

Run before each round's end to know CORRECTNESS_r{N} in advance::

    python scripts/preflight_window.py [sf_dir] [query ...]

With no query names it checks the first 50 registry entries (the driver
window). Prints the ``cli validate`` lines; exit code 0 iff every named
query passes.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    from pyspark.sql import SparkSession

    import __spark_entry__
    from hdfs_hive_sql_playground_spark.cli import validate
    from hdfs_hive_sql_playground_spark.queries import all_queries

    spark = (
        SparkSession.builder.appName("window-preflight")
        .master("local[16]")
        .config("spark.sql.shuffle.partitions", "16")
        .getOrCreate()
    )
    try:
        print(f"ENTRY rows={__spark_entry__.entry(spark).count()}", flush=True)
        fails = validate(spark, sys.argv[2:] or list(all_queries())[:50], sf_dir)
    finally:
        spark.stop()
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
