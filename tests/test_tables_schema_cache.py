"""The process-wide parquet schema cache behind ``tables.load``: a table's
schema is inferred once (one small Spark job) and reused by every later
load from any session, until the table's files or a schema-affecting
session conf change."""

from __future__ import annotations

import datetime as dt
import itertools

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from hdfs_hive_sql_playground_spark.tables import load


_labels = itertools.count()


def jobs_during(spark, fn):
    """(fn's result, number of Spark jobs it started)."""
    sc = spark.sparkContext
    label = f"schema-cache-{next(_labels)}"
    sc.setJobGroup(label, label)
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return out, len(list(sc.statusTracker().getJobIdsForGroup(label) or []))


def write(tmp_path, name, **cols):
    pq.write_table(pa.table(cols), str(tmp_path / f"{name}.parquet"))


def test_second_load_starts_no_job(spark, tmp_path):
    write(tmp_path, "region", r_regionkey=pa.array([0, 1], pa.int64()))
    first, n_first = jobs_during(spark, lambda: load(spark, str(tmp_path), "region"))
    second, n_second = jobs_during(spark, lambda: load(spark, str(tmp_path), "region"))
    assert n_first == 1
    assert n_second == 0
    assert second.schema == first.schema
    assert sorted(r.r_regionkey for r in second.collect()) == [0, 1]


def test_rewritten_file_is_reinferred(spark, tmp_path):
    write(tmp_path, "nation", n_nationkey=pa.array([1], pa.int64()))
    assert load(spark, str(tmp_path), "nation").columns == ["n_nationkey"]
    write(tmp_path, "nation", n_nationkey=pa.array([1], pa.int64()), n_name=pa.array(["x"]))
    df, n = jobs_during(spark, lambda: load(spark, str(tmp_path), "nation"))
    assert n == 1
    assert df.columns == ["n_nationkey", "n_name"]
    assert df.collect()[0].n_name == "x"


def test_schema_conf_change_is_reinferred(spark, tmp_path):
    write(tmp_path, "part", p_blob=pa.array([b"ab"], pa.binary()))
    key = "spark.sql.parquet.binaryAsString"
    before = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        assert load(spark, str(tmp_path), "part").schema["p_blob"].dataType.typeName() == "binary"
        spark.conf.set(key, "true")
        df, n = jobs_during(spark, lambda: load(spark, str(tmp_path), "part"))
        assert n == 1
        assert df.schema["p_blob"].dataType.typeName() == "string"
        assert df.collect()[0].p_blob == "ab"
    finally:
        spark.conf.set(key, before)


def test_second_session_reuses_the_schema(spark, tmp_path):
    ts = pa.array([dt.datetime(2024, 1, 2, 3, 4, 5)], pa.timestamp("us"))
    write(tmp_path, "events", event_id=pa.array([7], pa.int64()), ts=ts)
    first = load(spark, str(tmp_path), "events")
    other = spark.newSession()
    df, n = jobs_during(other, lambda: load(other, str(tmp_path), "events"))
    assert n == 0
    assert df.schema == first.schema


@pytest.mark.parametrize("unit", ["us", "ns"])
def test_events_ts_arrives_as_microsecond_timestamp(spark, tmp_path, unit):
    """Both testdata vintages: naive timestamp[us], and TIMESTAMP(NANOS),
    which is read as nanosecond longs and truncated to microseconds, on
    the inferring load and on the cached one alike."""
    nanos = 1_700_000_000_123_456_789
    ts = pa.array([nanos if unit == "ns" else nanos // 1000], pa.timestamp(unit))
    write(tmp_path, "events", event_id=pa.array([1], pa.int64()), ts=ts)
    want = dt.datetime(2023, 11, 14, 22, 13, 20, 123456)
    for _ in range(2):
        df = load(spark, str(tmp_path), "events")
        assert df.schema["ts"].dataType.typeName() == "timestamp"
        got = df.selectExpr("date_format(ts, 'yyyy-MM-dd HH:mm:ss.SSSSSS') AS s").collect()[0].s
        assert got == want.strftime("%Y-%m-%d %H:%M:%S.%f")
