"""Tests for the scale helpers: salted_join must be row-for-row identical
to the plain join, and write_range_layout must produce a layout where
partition pruning and row-group predicate pushdown actually engage."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from hdfs_hive_sql_playground_spark import plans
from hdfs_hive_sql_playground_spark.sinks import write_range_layout
from hdfs_hive_sql_playground_spark.skew import salted_join
from hdfs_hive_sql_playground_spark.tables import load


def _norm(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_salted_join_inner_matches_plain_join(spark, sf_dir):
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    big = orders.withColumnRenamed("o_custkey", "custkey")
    small = cust.withColumnRenamed("c_custkey", "custkey")
    cols = ["o_orderkey", "custkey", "c_nationkey"]
    plain = big.join(small, ["custkey"])
    salted = salted_join(big, small, ["custkey"], n_salts=7)
    assert _norm(salted, cols) == _norm(plain, cols)


def test_salted_join_left_keeps_unmatched_big_rows(spark, sf_dir):
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    # keep only even customers on the small side so some orders miss
    cust = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 2 == 0)
        .select("c_custkey", "c_nationkey")
    )
    big = orders.withColumnRenamed("o_custkey", "custkey")
    small = cust.withColumnRenamed("c_custkey", "custkey")
    cols = ["o_orderkey", "custkey", "c_nationkey"]
    plain = big.join(small, ["custkey"], "left")
    salted = salted_join(big, small, ["custkey"], n_salts=5, how="left")
    assert _norm(salted, cols) == _norm(plain, cols)


def test_salted_join_rejects_replica_duplicating_sides(spark, sf_dir):
    d = load(spark, sf_dir, "nation")
    with pytest.raises(ValueError):
        salted_join(d, d, ["n_nationkey"], how="full")


def test_range_layout_prunes_partitions_and_pushes_predicates(
    spark, sf_dir, tmp_path
):
    ev = load(spark, sf_dir, "events").withColumn("event_date", F.to_date("ts"))
    out = os.path.join(str(tmp_path), "events_layout")
    write_range_layout(ev, out, "event_type", ["user_id"], n_output_files=8)

    back = spark.read.parquet(out)
    one = back.filter(
        (F.col("event_type") == "click") & (F.col("user_id") <= 10)
    )
    p = plans.executed_plan(one)
    # Directory pruning: the event_type predicate must be a PartitionFilter
    # (never a post-scan filter), and user_id must reach the parquet reader
    # as a pushed filter so row-group stats can skip.
    assert "PartitionFilters: [" in p
    assert "event_type" in p.split("PartitionFilters:", 1)[1].split("]", 1)[0]
    plans.assert_pushed_filters(one, "LessThanOrEqual(user_id")

    # Round trip preserves the data.
    assert back.count() == ev.count()


def test_wholetext_size_guard_uses_hadoop_fs_api(spark, tmp_path):
    """The wholetext header-skip path refuses files over the size cap via
    the Hadoop FileSystem API, so the guard covers every URI scheme Spark
    can read (file:, hdfs://, s3a://) — not just os.walk-able local paths.
    Exercised here through an explicit file: URI, which the old local-stat
    implementation passed through unguarded."""
    from hdfs_hive_sql_playground_spark.sources.text import read_text_files

    d = tmp_path / "txt"
    d.mkdir()
    (d / "ok.txt").write_text("h1\nh2\nrow1\nrow2\n")
    (d / "big.txt").write_text("h1\nh2\n" + "x" * 4096 + "\n")
    (d / "_hidden.txt").write_text("y" * 4096)  # FileInputFormat skips these
    uri = f"file://{d}"

    with pytest.raises(ValueError, match="big.txt"):
        read_text_files(spark, uri, skip_header_lines=2, max_file_bytes=1024)

    # Under the cap the same URI reads fine (hidden oversize file ignored),
    # and the guard is metadata-only — values are unaffected.
    rows = read_text_files(spark, uri, skip_header_lines=2, max_file_bytes=8192)
    got = {r.row_str for r in rows.collect()}
    assert {"row1", "row2", "x" * 4096} <= got
    assert not any(r.startswith("y") for r in got)  # hidden file never read


def test_header_skip_line_semantics_edge_cases(spark, tmp_path):
    """The wholetext header-skip path must emit exactly the lines a Hive
    LineRecordReader would after skipping k header lines per file: the
    phantom empty record from ONE trailing final newline is dropped,
    interior blank lines stay data, files shorter than the skip produce
    nothing, and a file not ending in a newline keeps its last line.
    Pinned because round 3 changed these semantics and round 4 rewrote
    the implementation (string-level trailing-newline strip)."""
    from hdfs_hive_sql_playground_spark.sources.text import read_text_files

    cases = {
        # filename: (content, expected rows after skip=2)
        "trailing_nl.txt": ("h1\nh2\na\nb\n", ["a", "b"]),
        "no_trailing_nl.txt": ("h1\nh2\na\nb", ["a", "b"]),
        "interior_blanks.txt": ("h1\nh2\na\n\nb\n", ["a", "", "b"]),
        "ends_blank_line.txt": ("h1\nh2\na\n\n", ["a", ""]),
        "only_headers.txt": ("h1\nh2\n", []),
        "short_file.txt": ("h1\n", []),
        "empty_file.txt": ("", []),
    }
    d = tmp_path / "hdr"
    d.mkdir()
    for fname, (content, _) in cases.items():
        (d / fname).write_text(content)

    df = read_text_files(spark, str(d), skip_header_lines=2)
    got: dict[str, list[str]] = {k: [] for k in cases}
    for r in df.collect():
        got[r.input_file.rsplit("/", 1)[-1]].append(r.row_str)
    for fname, (_, expect) in cases.items():
        assert sorted(got[fname]) == sorted(expect), (fname, got[fname], expect)

    # And the no-skip path agrees with plain line reading (no phantom drop
    # beyond what spark.read.text itself does).
    plain = read_text_files(spark, str(d / "interior_blanks.txt"))
    assert sorted(r.row_str for r in plain.collect()) == sorted(
        ["h1", "h2", "a", "", "b"]
    )


def test_range_layout_bounds_file_count(spark, sf_dir, tmp_path):
    ev = load(spark, sf_dir, "events").withColumn("event_date", F.to_date("ts"))
    out = os.path.join(str(tmp_path), "events_layout_files")
    write_range_layout(ev, out, "event_type", ["user_id"], n_output_files=8)
    n_files = 0
    for root, _dirs, files in os.walk(out):
        n_files += sum(1 for f in files if f.endswith(".parquet"))
    # range partitioning leads with the directory key: total files stay at
    # ~n_output_files, not tasks × partitions
    assert 1 <= n_files <= 12


def test_q128_moment_sums_survive_int64_overflow(spark, tmp_path):
    """q128's DECIMAL(38,0) moment path must return EXACT statistics on
    balances whose per-row squares (1e32) dwarf int64 — the regime where
    the old BIGINT sums wrapped silently. Two customers at 1e14 and 0
    dollars: var_pop over cents is (2*1e32 - 1e32)/4 = 2.5e31, computed
    here with Python bigints as the ground truth."""
    from hdfs_hive_sql_playground_spark.queries import all_queries

    big = spark.createDataFrame(
        [(1, 7, 1e14), (2, 7, 0.0)],
        "c_custkey long, c_nationkey int, c_acctbal double",
    )
    big.write.parquet(os.path.join(str(tmp_path), "customer.parquet"))
    row = all_queries()["q128_stats_aggregates"].fn(spark, str(tmp_path)).collect()
    assert len(row) == 1
    r = row[0]
    x1, x2 = 10**16, 0  # exact cents
    n, sx, sxx = 2, x1 + x2, x1 * x1 + x2 * x2
    expected_var_pop = float(n * sxx - sx * sx) / float(n * n)
    assert expected_var_pop > 2**63  # the case int64 could not represent
    assert abs(r.var_pop_c2 - expected_var_pop) <= 1e-12 * expected_var_pop
    # the double-based builtins must agree with the exact decimal path
    assert r.var_pop_builtin_ok and r.stddev_samp_builtin_ok
    assert r.covar_samp_builtin_ok


def test_q128_per_row_cast_overflow_fails_loudly(spark, tmp_path):
    """A balance past the decimal(18,2) cents cast (~1e16 dollars) must
    fail loudly in BOTH cast modes, never skew the moments: under ANSI
    (the session default) the cast itself throws; under non-ANSI the cast
    NULLs per-row, the SUMs would silently drop the row while n counts
    it — the count(x)==count(*) assert_true pin catches exactly that."""
    from hdfs_hive_sql_playground_spark.queries import all_queries

    big = spark.createDataFrame(
        [(1, 7, 2e16), (2, 7, 1.0)],
        "c_custkey long, c_nationkey int, c_acctbal double",
    )
    big.write.parquet(os.path.join(str(tmp_path), "customer.parquet"))
    q = all_queries()["q128_stats_aggregates"].fn
    with pytest.raises(Exception, match="NUMERIC_VALUE_OUT_OF_RANGE"):
        q(spark, str(tmp_path)).collect()
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        with pytest.raises(Exception, match="q128"):
            q(spark, str(tmp_path)).collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)


def test_wholetext_size_guard_rechecks_every_build(spark, tmp_path):
    """The guard lists the files on every build and keeps no verdict: a
    directory that passed once is refused after one of its files is
    rewritten past the limit."""
    from hdfs_hive_sql_playground_spark.sources.text import read_text_files

    d = tmp_path / "txt"
    d.mkdir()
    (d / "a.txt").write_text("h\nrow\n")
    uri = f"file://{d}"

    read_text_files(spark, uri, skip_header_lines=1, max_file_bytes=1024)
    (d / "a.txt").write_text("h\n" + "x" * 5 * 1024 + "\n")
    with pytest.raises(ValueError, match="a.txt"):
        read_text_files(spark, uri, skip_header_lines=1, max_file_bytes=1024)


# ---------------------------------------------------------------------------
# Bucketed-rank / bucketed-running-sum property coverage (the q94/q99/q112/
# q115/q138 scale family): randomized strata + sparse non-contiguous keys,
# forced multi-bucket, compared row-for-row against the plain windows the
# helpers claim to replicate.
# ---------------------------------------------------------------------------


def _random_strata_rows(seed: int, n: int = 600):
    """Skewed random fixture: ~60% of rows in one stratum, ids sparse and
    shuffled (bucket occupancy uneven), one singleton stratum, values with
    zeros and negatives (running-sum edge cases)."""
    import random

    rng = random.Random(seed)
    ids = rng.sample(range(0, 50_000), n)
    rows = []
    for i, doc_id in enumerate(ids):
        if i == 0:
            stratum = "singleton"
        elif rng.random() < 0.6:
            stratum = "hot"
        else:
            stratum = rng.choice(["a", "b", "c"])
        rows.append((stratum, doc_id, rng.randint(-5, 50)))
    return rows


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_bucketed_hash_order_rank_matches_plain_window(spark, seed, monkeypatch):
    from pyspark.sql.window import Window

    import hdfs_hive_sql_playground_spark.queries.text as text_mod

    # 16 hash buckets (1 hex char) so every stratum genuinely spans many
    # buckets — the degenerate one-bucket case would vacuously pass.
    monkeypatch.setattr(text_mod, "MD5_BUCKET_PREFIX", 1)
    df = spark.createDataFrame(
        _random_strata_rows(seed), "stratum string, doc_id long, v long"
    )
    got = text_mod._bucketed_hash_order_rank(df, "stratum", "doc_id", "rn")
    md5 = F.md5(F.col("doc_id").cast("string"))
    w = Window.partitionBy("stratum").orderBy(md5, F.col("doc_id"))
    want = df.withColumn("rn", F.row_number().over(w).cast("bigint"))
    cols = ["stratum", "doc_id", "rn"]
    assert _norm(got, cols) == _norm(want, cols)

    # keep_at_most=N contract (the q94/q99 pattern): the helper returns a
    # pre-filtered SUPERSET — every row with LOCAL rank <= N, carrying its
    # exact global rank — and the caller's rn <= N filter then recovers
    # exactly the global top-N (global rank <= N implies local rank <= N,
    # so nothing the caller wants was dropped).
    for n in (1, 7):
        kept = text_mod._bucketed_hash_order_rank(
            df, "stratum", "doc_id", "rn", keep_at_most=n
        )
        assert _norm(kept.filter(F.col("rn") <= n), cols) == _norm(
            want.filter(F.col("rn") <= n), cols
        )
        # and the superset is genuinely bounded: <= N rows per bucket
        assert kept.count() <= n * 16 * 5  # N x #buckets x #strata


@pytest.mark.parametrize("seed", [3, 4])
def test_bucketed_running_sum_matches_plain_window(spark, seed, monkeypatch):
    from pyspark.sql.window import Window

    import hdfs_hive_sql_playground_spark.queries.text as text_mod

    # Width 1024 over ids sampled from [0, 50k): ~49 buckets, most strata
    # hit many of them, some buckets empty for some strata (the offsets
    # join must not invent rows there).
    monkeypatch.setattr(text_mod, "CUMSUM_BUCKET_WIDTH", 1024)
    df = spark.createDataFrame(
        _random_strata_rows(seed), "stratum string, doc_id long, v long"
    )
    got = text_mod._bucketed_running_sum(df, "stratum", "doc_id", "v", "rs")
    w = (
        Window.partitionBy("stratum")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = df.withColumn("rs", F.sum("v").over(w).cast("bigint"))
    cols = ["stratum", "doc_id", "v", "rs"]
    assert _norm(got, cols) == _norm(want, cols)


def test_parquet_row_count_file_and_directory(spark, tmp_path):
    """The footer-metadata row count (q136's strategy probe) must agree
    with an executed count for BOTH layouts it meets: the single-file
    testdata tables and multi-file directory outputs (the bench's x8 trend
    fixtures), skipping _SUCCESS markers and .crc hidden files."""
    from hdfs_hive_sql_playground_spark.tables import parquet_row_count

    d = str(tmp_path / "multi.parquet")
    spark.range(1234).repartition(7).write.mode("overwrite").parquet(d)
    assert parquet_row_count(spark, d) == 1234
    # single file: point straight at one part file inside the directory
    import glob

    part = glob.glob(d + "/part-*.parquet")[0]
    import pyarrow.parquet as pq

    assert parquet_row_count(spark, part) == pq.read_metadata(part).num_rows
    # cached per (path, file fingerprint): a repeat call hits the footer
    # cache instead of re-reading metadata...
    from hdfs_hive_sql_playground_spark.tables import _footer_row_count

    before = _footer_row_count.cache_info().hits
    parquet_row_count(spark, d)
    assert _footer_row_count.cache_info().hits == before + 1
    # ...but an IN-PROCESS rewrite of the same path (regenerated trend
    # fixture, the round-8 ADVICE hazard) changes the fingerprint and the
    # count follows the new data instead of silently flipping q136's
    # broadcast-vs-shuffle pick off a stale entry.
    spark.range(77).repartition(3).write.mode("overwrite").parquet(d)
    assert parquet_row_count(spark, d) == 77
