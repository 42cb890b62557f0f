"""Run the reference's HQL pipeline through a Hive-metastore-backed
session: persisted external table + partitions + header skip + persisted
view + Hive-format CTAS (SURVEY §2 A2-A5, A17, A27).

Starts its own Engine with the Hive catalog (embedded Derby metastore in
a scratch dir), so run it as a standalone process:

    python examples/run_hive_pipeline.py [m33_dir] [scratch_dir]

Prints verification lines; exits non-zero on any mismatch.
"""

from __future__ import annotations

import os
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from hdfs_hive_sql_playground_spark.engine import Engine  # noqa: E402


def main() -> int:
    m33_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(REPO, "data", "m33_mini")
    scratch = sys.argv[2] if len(sys.argv) > 2 else tempfile.mkdtemp(prefix="hhsp_hive_")
    os.makedirs(scratch, exist_ok=True)

    eng = Engine(
        app_name="m33-hive-pipeline",
        warehouse_dir=os.path.join(scratch, "warehouse"),
        conf={
            # embedded Derby metastore, isolated in the scratch dir
            "spark.hadoop.javax.jdo.option.ConnectionURL": (
                f"jdbc:derby:;databaseName={scratch}/metastore_db;create=true"
            ),
            # what Builder.enableHiveSupport() sets
            "spark.sql.catalogImplementation": "hive",
        },
    ).start()

    hql_path = os.path.join(REPO, "examples", "hive", "m33_pipeline.hql")
    with open(hql_path) as f:
        hql = f.read().replace("${M33_DIR}", m33_dir)
    for stmt in eng.split_statements(hql):
        eng.exec_sql(stmt)

    # Verification (the runall.py checks, value-level):
    n_raw = eng.exec_sql("SELECT COUNT(*) AS n FROM m33_raw").collect()[0].n
    n_view = eng.exec_sql("SELECT COUNT(*) AS n FROM m33_schem").collect()[0].n
    n_tbl = eng.exec_sql("SELECT COUNT(*) AS n FROM m33").collect()[0].n
    top = eng.exec_sql("SELECT TOP 100 * FROM m33").collect()
    groups = {
        (r.age_mil, r.is_peculiar): r.n
        for r in eng.exec_sql(
            "SELECT age_mil, is_peculiar, COUNT(*) AS n FROM m33 GROUP BY age_mil, is_peculiar"
        ).collect()
    }
    parts = sorted(
        r[0] for r in eng.exec_sql("SHOW PARTITIONS spark_catalog.default.m33_raw").collect()
    )
    print(f"catalog partitions: {parts}")
    assert parts == ["peculiarity=cp", "peculiarity=nocp"], parts

    # The persisted HQL view and the DataFrame view agree on column types
    # (field() is INT on both paths, as in Hive).
    from hdfs_hive_sql_playground_spark.m33 import m33_schem

    view_types = [(f.name, f.dataType) for f in eng.exec_sql("SELECT * FROM m33_schem").schema]
    want_types = [(f.name, f.dataType) for f in m33_schem(eng.spark, m33_dir).schema]
    assert view_types == want_types, (view_types, want_types)
    print("view schema matches m33.m33_schem")

    # DML/maintenance surface (Tier B DDL/DML row): INSERT INTO, ANALYZE,
    # MSCK REPAIR, DESCRIBE — all through the same exec_sql pass-through.
    eng.exec_sql("INSERT INTO m33 VALUES (99, 1.5, 2.5, 0)")
    n_after = eng.exec_sql("SELECT COUNT(*) AS n FROM m33").collect()[0].n
    assert n_after == n_tbl + 1, (n_after, n_tbl)
    eng.exec_sql("ANALYZE TABLE m33 COMPUTE STATISTICS")
    stats = eng.exec_sql("DESCRIBE TABLE EXTENDED m33").collect()
    assert any("Statistics" in str(r) for r in stats)
    eng.exec_sql("MSCK REPAIR TABLE spark_catalog.default.m33_raw")
    print(f"dml checks passed (insert -> {n_after} rows, stats collected, msck ok)")

    # Hive storage-format round trips (Tier B 'File formats' row): the same
    # CTAS against the classic Hive serdes. Verified value-level against the
    # TEXTFILE m33 table (count + an exact integer aggregate).
    want_chk = eng.exec_sql(
        "SELECT COUNT(*) AS n, SUM(age_mil * is_peculiar) AS chk FROM m33"
    ).collect()[0]
    for fmt in ("SEQUENCEFILE", "RCFILE", "AVRO"):
        eng.exec_sql(f"DROP TABLE IF EXISTS m33_{fmt.lower()}")
        eng.exec_sql(f"CREATE TABLE m33_{fmt.lower()} STORED AS {fmt} AS SELECT * FROM m33")
        got = eng.exec_sql(
            f"SELECT COUNT(*) AS n, SUM(age_mil * is_peculiar) AS chk FROM m33_{fmt.lower()}"
        ).collect()[0]
        assert (got.n, got.chk) == (want_chk.n, want_chk.chk), (fmt, got, want_chk)
    print("hive format roundtrips passed: sequencefile, rcfile, avro")
    print(f"rows raw={n_raw} view={n_view} table={n_tbl} top={len(top)} groups={sorted(groups.items())}")

    ok = (
        n_raw == n_view == n_tbl
        and len(top) == 100
        and set(groups) == {(11, 0), (11, 1), (12, 0), (12, 1)}
        and len(set(groups.values())) == 1
    )
    # header skip must have dropped 3 lines per file (4 files)
    per_file = next(iter(groups.values()))
    print(f"per-group rows: {per_file}")
    print("HIVE_PIPELINE_OK" if ok else "HIVE_PIPELINE_FAIL")
    eng.stop()
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
