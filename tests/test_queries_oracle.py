"""Every registered query with an oracle must match DuckDB exactly —
the local replica of the driver's CORRECTNESS gate."""

from __future__ import annotations

import pytest

from hdfs_hive_sql_playground_spark import caching
from hdfs_hive_sql_playground_spark.oracle import check, compare
from hdfs_hive_sql_playground_spark.queries import QuerySpec, all_queries

SPECS = all_queries()


@pytest.mark.parametrize("name", sorted(SPECS))
def test_query_matches_oracle(spark, sf_dir, name):
    result = check(spark, SPECS[name], sf_dir)
    assert result.ok, result.report()


def test_driver_window_composition():
    """The driver gate consumes the first 50 registry entries: the window
    must be exactly 50 unique registered names (a typo here silently
    shrinks the gate to whatever subset resolves)."""
    from hdfs_hive_sql_playground_spark.queries import DRIVER_PRIORITY

    assert len(DRIVER_PRIORITY) == 50
    assert len(set(DRIVER_PRIORITY)) == 50
    unknown = [n for n in DRIVER_PRIORITY if n not in SPECS]
    assert unknown == [], unknown


def test_compare_rejects_wrong_results(spark, sf_dir):
    """The gate must be able to FAIL: value, column-name and row-count
    mismatches each produce ok=False (a comparator that cannot reject is
    indistinguishable from one that isn't checking)."""
    df = spark.sql("SELECT CAST(1 AS BIGINT) AS x")
    assert compare("meta_ok", df, "SELECT CAST(1 AS BIGINT) AS x", sf_dir).ok
    assert not compare("meta_value", df, "SELECT CAST(2 AS BIGINT) AS x", sf_dir).ok
    assert not compare("meta_schema", df, "SELECT CAST(1 AS BIGINT) AS y", sf_dir).ok
    assert not compare(
        "meta_rows",
        df,
        "SELECT CAST(1 AS BIGINT) AS x UNION ALL SELECT CAST(1 AS BIGINT)",
        sf_dir,
    ).ok


def _spec(fn, oracle):
    return QuerySpec(name="meta_check", fn=fn, oracle=oracle, doc="")


def test_check_rows_only_spec_is_marked_and_releases(spark, sf_dir):
    def fn(spark, sf_dir):
        return caching.track_persist(spark.range(3))

    result = check(spark, _spec(fn, None), sf_dir)
    assert result.ok and result.rows_only, result.report()
    assert result.spark_rows == 3
    assert caching._TRACKED == []


def test_check_rejects_wrong_oracle(spark, sf_dir):
    def fn(spark, sf_dir):
        return spark.sql("SELECT CAST(1 AS BIGINT) AS x")

    result = check(spark, _spec(fn, "SELECT CAST(2 AS BIGINT) AS x"), sf_dir)
    assert not result.ok and not result.rows_only


def test_check_releases_caches_when_the_query_raises(spark, sf_dir):
    def fn(spark, sf_dir):
        return caching.track_persist(spark.range(3).selectExpr("raise_error('boom') AS x"))

    with pytest.raises(Exception, match="boom"):
        check(spark, _spec(fn, "SELECT 1 AS x"), sf_dir)
    assert caching._TRACKED == []
