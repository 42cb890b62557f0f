"""release_tracked_caches: releases and counts live caches, drops the
entries of a stopped SparkContext without a call, and lets any other
unpersist failure raise instead of swallowing it."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import types

import pytest

from hdfs_hive_sql_playground_spark import caching

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_release_unpersists_and_counts(spark):
    caching.release_tracked_caches()  # drain whatever earlier tests tracked
    df = caching.track_persist(spark.range(10))
    assert df.count() == 10 and df.is_cached
    assert caching.release_tracked_caches() == 1
    assert not df.is_cached
    assert caching.release_tracked_caches() == 0


def test_release_raises_other_unpersist_errors(spark):
    caching.release_tracked_caches()

    def unpersist(blocking):
        raise RuntimeError("unpersist failed")

    broken = types.SimpleNamespace(sparkSession=spark, unpersist=unpersist)
    caching._TRACKED.append(broken)
    with pytest.raises(RuntimeError, match="unpersist failed"):
        caching.release_tracked_caches()
    assert caching._TRACKED == []


def test_release_after_spark_stop_is_quiet():
    # its own process: stopping the suite's shared session would end it
    code = textwrap.dedent(
        """
        from pyspark.sql import SparkSession
        from hdfs_hive_sql_playground_spark.caching import (
            _TRACKED, release_tracked_caches, track_persist,
        )
        spark = SparkSession.builder.master("local[1]").getOrCreate()
        df = track_persist(spark.range(5))
        assert df.count() == 5
        spark.stop()
        assert release_tracked_caches() == 0
        assert _TRACKED == []
        print("ok")
        """
    )
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, capture_output=True, text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert proc.stdout.strip().endswith("ok")
