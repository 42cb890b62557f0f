"""Validate the export-sink posture against a DISK-backed Derby target.

Round-13 verdict item 7: the 16-writer x 100k-batch optimum (and the
table-level-locking rationale) were derived against an IN-MEMORY Derby
database; confirm neither is an in-memory artifact before calling it a
scale posture. This sweep exports the same 2.8 M-row m33 warehouse table
the bench exports, but into ``jdbc:derby:<tmpdir>`` (the embedded engine's
on-disk page store + transaction log), fresh database per draw.

Usage: python scripts/sweep_export_disk.py [np:bs ...]
Defaults to the posture grid {4,16} x {10k, 100k} plus a rowLocking=true
control at the shipped posture. One fresh JVM per configuration would be
ideal; here each config gets its own fresh DATABASE and the JVM-level
Derby lock property is fixed per process run, so run the rowLocking
control as a separate invocation: SWEEP_ROW_LOCKING=true.
"""
from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    from hdfs_hive_sql_playground_spark.session import get_spark
    from hdfs_hive_sql_playground_spark.sinks import read_text_table
    from hdfs_hive_sql_playground_spark.sources.jdbc import export_jdbc, read_jdbc

    row_locking = os.environ.get("SWEEP_ROW_LOCKING", "false")
    spark = get_spark(app_name="export-disk-sweep")
    # Same mechanism as bench._tune_derby_sink, but parameterized so the
    # control run (row locking ON, Derby's default) uses the same script.
    spark._jvm.System.setProperty("derby.storage.rowLocking", row_locking)

    # The bench's own m33 warehouse table (built by a prior bench run);
    # rebuild it if absent.
    table_dir = os.path.join(REPO, "spark-warehouse", "m33_bench")
    if not os.path.isdir(table_dir):
        from hdfs_hive_sql_playground_spark.m33 import m33_schem
        from hdfs_hive_sql_playground_spark.sinks import ctas_text

        fixture = os.path.join(REPO, ".bench_data", "m33_full_x1v2")
        assert os.path.isdir(fixture), "run bench.py once to build the fixture"
        ctas_text(m33_schem(spark, fixture), "m33_bench")
    back = read_text_table(
        spark, "m33_bench", "age_mil bigint, wavelength double, flam double, is_peculiar int"
    )
    n_rows = back.count()  # warm the scan; the export is sink-bound

    grid = sys.argv[1:] or ["16:100000", "16:10000", "4:100000", "16:50000", "32:100000"]
    scratch = tempfile.mkdtemp(prefix="derby_disk_sweep_")
    print(f"rows={n_rows} rowLocking={row_locking} scratch={scratch}")
    try:
        for draw in range(2):
            for cfg in grid:
                np_, bs = (int(x) for x in cfg.split(":"))
                dbdir = os.path.join(scratch, f"db_{cfg.replace(':', '_')}_{draw}")
                url = f"jdbc:derby:{dbdir};create=true"
                spark._jvm.System.gc()
                time.sleep(0.3)
                t0 = time.perf_counter()
                export_jdbc(back, url, "m33", mode="overwrite",
                            num_partitions=np_, batchsize=bs)
                n = read_jdbc(spark, url, "m33").count()
                wall = time.perf_counter() - t0
                assert n == n_rows, (n, n_rows)
                print(f"draw={draw} np={np_} bs={bs} wall={wall:.2f}s", flush=True)
                # shut the db down and drop its files before the next draw
                try:
                    spark._jvm.java.sql.DriverManager.getConnection(
                        f"jdbc:derby:{dbdir};shutdown=true"
                    )
                except Exception:
                    pass  # Derby signals a clean shutdown by throwing
                shutil.rmtree(dbdir, ignore_errors=True)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
