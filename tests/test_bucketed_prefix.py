"""Multi-bucket exactness for the two-pass bucketed prefix scans.

The default bucket width (1 Mi doc_ids) puts all test-SF rows in one
bucket, so the oracle gate alone would never exercise the offsets path.
These tests shrink the width / md5-prefix until the test data spans many
buckets (with empty and partial buckets, non-divisor widths) and assert
the result is STILL bit-identical to the single-window oracle SQL.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hdfs_hive_sql_playground_spark.oracle import check
from hdfs_hive_sql_playground_spark.queries import all_queries
from hdfs_hive_sql_playground_spark.queries import text as text_mod

SPECS = all_queries()


@pytest.mark.parametrize("width", [37, 64, 500])
def test_q112_multibucket_exact(spark, sf_dir, width, monkeypatch):
    monkeypatch.setattr(text_mod, "CUMSUM_BUCKET_WIDTH", width)
    result = check(spark, SPECS["q112_sequence_packing"], sf_dir)
    assert result.ok, result.report()


@pytest.mark.parametrize("width", [37, 128])
def test_q115_multibucket_exact(spark, sf_dir, width, monkeypatch):
    monkeypatch.setattr(text_mod, "CUMSUM_BUCKET_WIDTH", width)
    result = check(spark, SPECS["q115_domain_mix_sample"], sf_dir)
    assert result.ok, result.report()


@pytest.mark.parametrize("prefix", [1, 2])
def test_q94_multibucket_exact(spark, sf_dir, prefix, monkeypatch):
    monkeypatch.setattr(text_mod, "MD5_BUCKET_PREFIX", prefix)
    result = check(spark, SPECS["q94_stratified_quota"], sf_dir)
    assert result.ok, result.report()


def test_q99_multibucket_exact(spark, sf_dir, monkeypatch):
    monkeypatch.setattr(text_mod, "MD5_BUCKET_PREFIX", 1)
    result = check(spark, SPECS["q99_curation_pipeline"], sf_dir)
    assert result.ok, result.report()


def test_running_sum_helper_spans_buckets(spark, sf_dir, monkeypatch):
    """With width 64 the 500-doc test table spans ~8 buckets per stratum;
    prove the helper actually produced multiple buckets (the exactness
    above isn't vacuously single-bucket) and that the running sum equals
    a driver-side per-stratum cumulative check on a sample stratum."""
    monkeypatch.setattr(text_mod, "CUMSUM_BUCKET_WIDTH", 64)
    from hdfs_hive_sql_playground_spark.tables import load

    d = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.length("text").cast("bigint").alias("v")
    )
    n_buckets = d.select(
        F.countDistinct(F.expr("doc_id div 64")).alias("n")
    ).collect()[0]["n"]
    assert n_buckets >= 4

    out = text_mod._bucketed_running_sum(d, "lang", "doc_id", "v", "cum")
    rows = sorted(
        out.filter(F.col("lang") == out.select("lang").first()["lang"]).collect(),
        key=lambda r: r["doc_id"],
    )
    running = 0
    for r in rows:
        running += r["v"]
        assert r["cum"] == running


@pytest.mark.parametrize("width", [37, 128])
def test_q120_multibucket_exact(spark, sf_dir, width, monkeypatch):
    """Budget selection composes the within-score bucketed cumsum with
    cross-score broadcast offsets; shrinking the width must leave the
    global cum_tok bit-identical to the oracle's single ORDER BY window."""
    monkeypatch.setattr(text_mod, "CUMSUM_BUCKET_WIDTH", width)
    result = check(spark, SPECS["q120_budget_select"], sf_dir)
    assert result.ok, result.report()


@pytest.mark.parametrize("width", [1 << 44, 1 << 46])
def test_q138_multibucket_exact(spark, sf_dir, width, monkeypatch):
    """Re-bucket the 48-bit key space at 2^44 (16 buckets) and 2^46
    (4 buckets): different boundaries put different key runs in the same
    bucket (partial and empty buckets included, since keys are
    hash-uniform), and the two-pass rank must stay bit-identical to the
    single-window oracle at every width."""
    monkeypatch.setattr(text_mod, "WSAMPLE_KEY_BUCKET_WIDTH", width)
    result = check(spark, SPECS["q138_weighted_sample"], sf_dir)
    assert result.ok, result.report()


def test_q138_key_rank_helper_spans_buckets(spark, sf_dir, monkeypatch):
    """At the default 2^36 width the 48-bit hash keys spread over ~4096
    buckets: prove the rank path is genuinely multi-bucket over the WHOLE
    keyed corpus (k raised past the corpus size so nothing is filtered),
    not just over a top-k sample whose keys concentrate low."""
    monkeypatch.setattr(text_mod, "WSAMPLE_K", 10**9)
    buckets = (
        SPECS["q138_weighted_sample"]
        .fn(spark, sf_dir)
        .select("lang", F.expr(f"skey div {text_mod.WSAMPLE_KEY_BUCKET_WIDTH}"))
        .distinct()
        .count()
    )
    assert buckets > 100, f"corpus keys collapsed into {buckets} buckets"
