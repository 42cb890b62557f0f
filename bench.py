"""Benchmark harness: runs the bench-flagged queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], plus the
BASELINE.md-comparable m33 pipeline at the reference's own data scale
(2.8 M rows / ~73 MB raw text — the exact workload behind the reference's
50.1 s CTAS, 147.8 s Sqoop export, and 1.387 s LIMIT-100 numbers), plus
the scale-trend legs, and prints JSONL records (contract: ``_emit_records``).
Every wall is a full execution (a noop write materializes every row without
driver collection) timed by ``_min_wall``. Fixtures are generated once into
.bench_data/ (gitignored) by ``_fixture``.

``python bench.py --legs <group>`` measures one leg group of LEG_GROUPS
in this process and prints its walls as one JSON dict — the bench spawns
itself this way to give a group a fresh JVM. ``--legs registry:a,b``
times any registry queries under the registry group's protocol.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import subprocess
import sys
import time
from unittest import mock

from pyspark.sql import functions as F

from hdfs_hive_sql_playground_spark.caching import release_tracked_caches
from hdfs_hive_sql_playground_spark.m33 import M33_SCHEMA, m33_schem
from hdfs_hive_sql_playground_spark.queries import all_queries
from hdfs_hive_sql_playground_spark.sinks import ctas_text, read_text_table
from hdfs_hive_sql_playground_spark.sources.jdbc import (
    export_jdbc, jdbc_connection, jdbc_count, sql_state)
from hdfs_hive_sql_playground_spark.tables import load

REPO = os.path.dirname(os.path.abspath(__file__))
# The reference's m33 workload: 4 files x 700k rows. Scaled fixtures
# multiply the FILE COUNT at constant ~13 MB/file (the reference's
# many-files layout and the wholetext header-skip path's requirement), so
# per-task memory stays flat while parallelism grows.
M33_FULL_ROWS_PER_FILE = 700_000
M33_TOTAL_ROWS = 4 * M33_FULL_ROWS_PER_FILE


def _fixture(name: str, build) -> str:
    """``.bench_data/<name>``, made by ``build(path)`` on first use. The
    ``.complete`` marker is written only after ``build`` returns, so an
    interrupted build is redone rather than read."""
    path = os.path.join(REPO, ".bench_data", name)
    marker = os.path.join(path, ".complete")
    if not os.path.exists(marker):
        build(path)
        with open(marker, "w") as f:
            f.write("ok\n")
    return path


def _m33_fixture(scale: int) -> str:
    def build(path: str) -> None:
        sys.path.insert(0, os.path.join(REPO, "scripts"))
        from gen_m33_fixture import gen_tree

        gen_tree(path, M33_FULL_ROWS_PER_FILE, n_files=scale)

    return _fixture(f"m33_full_x{scale}v2", build)


def _warm_dir(sf_dir: str) -> str:
    """The codegen warm-up data: $SPARK_GRAFT_WARM_SF_DIR, else the sf0.001
    set beside the bench data."""
    return os.environ.get("SPARK_GRAFT_WARM_SF_DIR") or os.path.join(
        os.path.dirname(sf_dir.rstrip("/")), "sf0.001"
    )


def _quiesce(spark) -> None:
    """Ask the JVM for a full GC so the next timed section starts from a
    drained heap instead of paying for the previous section's garbage —
    measured swings of 2-4x on individual timings otherwise."""
    spark._jvm.System.gc()
    time.sleep(0.3)


def _min_wall(spark, run, draws: int, warm: int = 0, quiesce: bool = True,
              after=None) -> float:
    """The bench's one timing loop: ``warm`` untimed passes of ``run``,
    then ``draws`` timed passes, each preceded by a full GC unless
    ``quiesce`` is False. Returns the minimum wall rounded to 0.1 ms — the
    timeit estimator, since noise on a shared box is additive (same-plan
    draws have been observed 5-7x apart). After every pass, untimed,
    ``after`` runs (if given) and tracked caches are released, so no pass
    reads another's cached blocks; with nothing tracked that is a no-op."""
    best = float("inf")
    for i in range(warm + draws):
        timed = i >= warm
        if timed and quiesce:
            _quiesce(spark)
        t0 = time.perf_counter()
        run()
        wall = time.perf_counter() - t0
        if after is not None:
            after()
        release_tracked_caches()
        if timed:
            best = min(best, wall)
    return round(best, 4)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# --- host-calibration legs ------------------------------------------------
# One fixed synthetic workload with a pinned plan (parquet scan -> partial
# hash agg -> one exchange -> final agg -> noop write), timed FIRST and LAST
# in the bench run. Its wall measures the HOST (CPU contention, GC phase,
# page cache), not any query plan: uniform drift in trend walls that tracks
# calibration_x1 is machine state, drift that doesn't is a plan regression.
CALIBRATION_ROWS = 2_000_000
# Quiet-box reference wall for the calibration workload (min-of-3 on the
# 32-cpu bench host). calibration_factor = calibration_x1 /
# CALIBRATION_REF_SEC; calibration-normalized walls divide by that factor.
CALIBRATION_REF_SEC = 0.43


def _calibration_fixture(spark) -> str:
    def build(path: str) -> None:
        spark.range(CALIBRATION_ROWS).select(
            (F.col("id") % 1000).alias("k"),
            (F.col("id") * 0.5).alias("v"),
            F.md5(F.col("id").cast("string")).alias("s"),
        ).coalesce(8).write.mode("overwrite").parquet(os.path.join(path, "cal.parquet"))

    return os.path.join(_fixture("calibration_v1", build), "cal.parquet")


def _calibration_wall(spark) -> float:
    """min-of-3 wall of the pinned calibration workload (1 untimed warm
    pass first so the draw measures the host, not codegen compilation)."""
    cal = _calibration_fixture(spark)

    def run() -> None:
        _noop(spark.read.parquet(cal).groupBy("k").agg(
            F.sum("v").alias("sum_v"),
            F.count(F.lit(1)).alias("n"),
            F.avg(F.length("s")).alias("avg_len"),
        ))

    return _min_wall(spark, run, 3, warm=1)


# I/O-shaped calibration: the CPU-shaped workload above cannot register
# host I/O state (dirty-page writeback, page-cache eviction), the blind
# spot behind an x10 CTAS draw of 26.9 s in a run calibrated 'quiet'.
# This leg writes a fixed ~100 MB of generated text and reads it fully
# back, first and last in the run: an I/O-sensitive trend move that
# tracks calibration_io is host state; one that doesn't is the plan.
CALIBRATION_IO_ROWS = 1_300_000  # x ~74 B/row -> ~96 MB of text per draw
CALIBRATION_IO_DIR = os.path.join(REPO, ".bench_data", "cal_io_tmp")
# Quiet-box reference (min-of-3 calls of the min-of-2 leg: 0.62/0.63/0.51
# on the 32-cpu bench host); calibration_io_factor = calibration_io_x1 / this.
CALIBRATION_IO_REF_SEC = 0.51


def _calibration_io_wall(spark) -> float:
    """min-of-2 wall of the fixed ~100 MB text write + full read-back,
    after TWO untimed warm passes (one was measured insufficient: JIT
    tiering on the text writer path outlasts a single execution). The data
    is generated, so every draw writes the same bytes."""

    def run() -> None:
        i = F.col("id")
        spark.range(CALIBRATION_IO_ROWS).select(F.concat_ws(
            "|", i, F.md5(i.cast("string")), F.md5((i + 1).cast("string"))
        ).alias("value")).coalesce(8).write.mode("overwrite").text(CALIBRATION_IO_DIR)
        n = spark.read.text(CALIBRATION_IO_DIR).count()
        assert n == CALIBRATION_IO_ROWS, n

    # The temp dir is owned per call: an exception mid-draw must not
    # strand ~96 MB in .bench_data across aborted runs.
    try:
        wall = _min_wall(spark, run, 2, warm=2)
    finally:
        shutil.rmtree(CALIBRATION_IO_DIR, ignore_errors=True)
    # Flush the ~400 MB of dirty pages this leg produced (untimed), so
    # their writeback cannot overlap the next timed section.
    os.sync()
    time.sleep(0.5)
    return wall


# --- m33 headlines ----------------------------------------------------------


def _drop_derby_memory(spark, name: str) -> None:
    """Drop an in-memory Derby database so its pages leave the driver heap
    before the next timed section — an undropped 2.8 M-row x1 export DB
    measurably inflates the (x2-capped) export trend (GC pressure, not
    sink cost). Derby signals a successful drop by THROWING SQLState
    08006; any other error (a database that does not exist) is raised."""
    try:
        with jdbc_connection(spark, f"jdbc:derby:memory:{name};drop=true"):
            pass
    except Exception as exc:
        if sql_state(exc) != "08006":
            raise


def _ctas_wall(spark, src_dir: str, table: str, draws: int) -> float:
    return _min_wall(
        spark, lambda: ctas_text(m33_schem(spark, src_dir), table), draws
    )


def _export_wall(spark, df, db: str, rows: int) -> float:
    """min-of-2 bulk JDBC export of ``df`` with the export defaults
    (``sources.jdbc``), verified by a ``COUNT(*)`` on the target as
    ``Engine.m33_export`` does. Each draw writes into a FRESH in-memory
    Derby database, dropped untimed after it: a reused one would measure
    Derby's page-cache reuse, an undropped one loads the heap."""
    url = f"jdbc:derby:memory:{db};create=true"

    def run() -> None:
        export_jdbc(df, url, "m33", mode="overwrite")
        n = jdbc_count(spark, url, "m33")
        assert n == rows, n

    return _min_wall(spark, run, 2, after=lambda: _drop_derby_memory(spark, db))


def _fetch100(df) -> None:
    assert len(df.limit(100).collect()) == 100


def _bench_m33(spark, timings: dict[str, float]) -> None:
    """The four BASELINE.md-comparable headlines, all steady-state: the
    reference's numbers come from a warmed, long-running Hive service, and
    a single draw on this box has been observed 2x the steady state."""
    src = _m33_fixture(1)
    # CTAS (baseline 50.1 s), first, before the heap carries anything
    # else. One untimed count of the view JIT-compiles the wholetext
    # decode path (cold-JIT inflates a one-shot CTAS ~50%), then min-of-2.
    m33_schem(spark, src).count()
    timings["m33_ctas_2800k"] = _ctas_wall(spark, src, "m33_bench", 2)

    # Interactive fetches (baselines 1.387 s raw view, 0.339 s warehouse):
    # one warm pass, then min-of-5 back to back with no GC between — the
    # interactive regime, where the reference measured a warmed HS2.
    _quiesce(spark)
    timings["m33_limit100_raw_view"] = _min_wall(
        spark, lambda: _fetch100(m33_schem(spark, src)), 5, warm=1, quiesce=False
    )
    back = read_text_table(spark, "m33_bench", M33_SCHEMA)
    timings["m33_limit100_warehouse"] = _min_wall(
        spark, lambda: _fetch100(back), 5, warm=1, quiesce=False
    )

    # Bulk JDBC export (baseline 147.8 s = 18.9 k rows/s, 4 Sqoop maps).
    # ~99% of this leg is the embedded Derby insert+page-store path
    # (measured: Spark-side scan 0.49 s of a 36.6 s export), so it measures
    # the sink; the in-memory target shares the driver heap, hence the
    # fresh, dropped DB per draw.
    timings["m33_jdbc_export_2800k"] = _export_wall(spark, back, "m33bench", M33_TOTAL_ROWS)


# --- scale-trend legs ---------------------------------------------------------
# Slope evidence (does the plan scale ~linearly?), not headline throughput:
# every key is prefixed 'trend_' and excluded from the wall-clock total.
# CTAS at 10x the rows (28 M, 40 files); JDBC export at 2x (5.6 M). The
# export trend is capped at x2: the embedded Derby TARGET degrades
# superlinearly past ~5 M rows (page-store GC; x4 measured 212-295 s),
# while the Spark sink side is linear (the CTAS trend isolates it).
CTAS_TREND_SCALE = 10
EXPORT_TREND_SCALE = 2

# Quiet band for the CTAS x10/x1 ratio watch. The x10 leg reads+writes
# ~730 MB of text per draw, so host I/O state can inflate both draws in a
# way the calibration leg does not register. Out-of-band, the leg takes up
# to CTAS_MAX_REDRAWS extra draws (each re-checks) and reports how many it
# used: a real plan regression survives the redraws and still fires.
CTAS_RATIO_BAND = (2.2, 3.6)
CTAS_MAX_REDRAWS = 3


def _bench_m33_trend(spark, sf_dir: str, timings: dict[str, float]) -> None:
    """CTAS x10 and export x2 slopes. Runs in a fresh child JVM: the x10
    CTAS once tripled (9.3 -> 28.0 s, same plan) when it ran last in a
    session whose heap history kept 6-10 GB in old gen. The CTAS x1 ratio
    base is re-measured here with the identical protocol, so the slope
    compares warm to warm inside one JVM. The export x2 ratio divides by
    the parent's x1 headline (``_export_ratio``): the leg is target-bound,
    so the JVM boundary is not the resource being measured."""
    base_dir = _m33_fixture(1)
    m33_schem(spark, base_dir).count()
    base = _ctas_wall(spark, base_dir, "m33_bench_trend_base", 2)
    timings["trend_m33_ctas_x1"] = base

    # The warm count parks the x10 wholetext strings (~9.5 GB) in old gen;
    # min-of-2 keeps the first draw's mixed collections out of the wall
    # (measured 17.8 s first draw vs 7.1-7.4 s later in a fresh JVM).
    ctas_dir = _m33_fixture(CTAS_TREND_SCALE)
    m33_schem(spark, ctas_dir).count()
    wall = _ctas_wall(spark, ctas_dir, "m33_bench_trend", 2)
    # Min-of-N only shrinks a wall, so a too-HIGH ratio redraws the x10
    # numerator and a too-LOW one redraws the x1 denominator.
    redraws = 0
    lo, hi = CTAS_RATIO_BAND
    while not (lo <= wall / base <= hi) and redraws < CTAS_MAX_REDRAWS:
        if wall / base > hi:
            wall = min(wall, _ctas_wall(spark, ctas_dir, "m33_bench_trend", 1))
        else:
            base = min(base, _ctas_wall(spark, base_dir, "m33_bench_trend_base", 1))
        redraws += 1
    timings["trend_m33_ctas_x1"] = base
    timings[f"trend_m33_ctas_x{CTAS_TREND_SCALE}"] = wall
    timings[f"trend_ctas_x{CTAS_TREND_SCALE}_redraws"] = redraws
    timings[f"trend_ctas_x{CTAS_TREND_SCALE}_over_x1_ratio"] = round(wall / base, 3)

    export_dir = _m33_fixture(EXPORT_TREND_SCALE)
    ctas_text(m33_schem(spark, export_dir), "m33_bench_export_trend")
    back = read_text_table(spark, "m33_bench_export_trend", M33_SCHEMA)
    # Scan-only control: the Spark-side share of the export wall (~1-3%).
    # Control moved -> scan/plan regression; control flat -> the Derby
    # target, whose page-store GC is the known wobble source.
    timings[f"trend_m33_export_x{EXPORT_TREND_SCALE}_scan_control"] = _min_wall(
        spark, lambda: _noop(back), 2, warm=1
    )
    timings[f"trend_m33_export_x{EXPORT_TREND_SCALE}"] = _export_wall(
        spark, back, "m33trend", M33_TOTAL_ROWS * EXPORT_TREND_SCALE
    )


def _export_ratio(timings: dict[str, float]) -> None:
    """trend_export_x2_over_x1_ratio: the child's x2 export over the
    parent's x1 headline, once both exist."""
    trend = timings.get(f"trend_m33_export_x{EXPORT_TREND_SCALE}")
    base = timings.get("m33_jdbc_export_2800k")
    if trend and base:
        timings[f"trend_export_x{EXPORT_TREND_SCALE}_over_x1_ratio"] = round(trend / base, 3)


# Corpus scale trend: documents AND embeddings replicated 8x (ids remapped
# unique, exact-dup groups 8x, IVF cells 8x fuller) into a 32-file fixture,
# each query's x8 wall over its wall on an x1 fixture with the identical
# layout (a one-file x1 base made small-x1 ratios layout artifacts).
DOC_TREND_SCALE = 8
# Chunk budget for the compact trend-ratio JSONL records: small enough
# that the driver's 2000-char stdout tail always holds every chunk PLUS
# the final headline record as complete lines (combined budget asserted
# by test_emit_records_tail_budget).
TREND_NORM_CHUNK_CHARS = 850
DOC_TREND_QUERIES = (
    "q80_exact_dedup",
    "q91_quality_score",
    "q104_heavy_hitters",
    "q86_ivf_ann_topk",
    # segment explode -> hash agg -> per-doc removal list: linear stages
    "q136_segment_dedup_rewrite",
    # (cell, dim) partial-sum shuffle + zero-shuffle re-assignment
    "q137_kmeans_refine",
    # per-row race keys + bucketed top-k over <= shards x k narrow rows
    "q138_weighted_sample",
    # broadcast bucket lookup, no token shuffle, linear aggs
    "q141_target_affinity_select",
    # composed front half: every stage linear in docs
    "q143_crawl_front_pipeline",
)
# Skew-stress trend: the bucketed two-pass prefix-sum rewrite of the
# stratum-window family claims a bounded plan however skewed lang/source
# get. The x8 corpus is rewritten so ~70% of rows collapse into ONE lang
# and ONE source; skewed-over-balanced ratios near 1x are the proof.
SKEW_TREND_QUERIES = (
    "q94_stratified_quota",
    "q112_sequence_packing",
    "q115_domain_mix_sample",
)
# The x8-over-x1 wall and ratio keys of a doc-trend leg (see _ratio_legs).
SCALE_KEYS = ("trend_{q}_x{n}", "trend_{q}_x{n}_over_x1_ratio")


def _doc_fixture(spark, sf_dir: str, scale: int = DOC_TREND_SCALE,
                 skew: bool = False) -> str:
    """The sf_dir corpus replicated ``scale``x into 32 files (a single ~1 MB
    file gives every trend query a one-task scan stage, understating x8
    parallelism): documents and embeddings with ids remapped unique, or
    with ``skew`` the documents alone with a deterministic ~70% of rows
    rewritten into one lang and one source."""
    tables = {"documents": "doc_id"} if skew else {
        "documents": "doc_id", "embeddings": "vec_id"}

    def build(path: str) -> None:
        for table, id_col in tables.items():
            src = load(spark, sf_dir, table)
            n = src.count()
            big = src.select(
                F.explode(F.sequence(F.lit(0), F.lit(scale - 1))).alias("_r"), "*"
            ).withColumn(id_col, F.col(id_col) + F.col("_r") * n).drop("_r")
            if skew:
                hot = F.col("doc_id") % 10 < 7
                big = big.withColumn(
                    "lang", F.when(hot, F.lit("en")).otherwise(F.col("lang"))
                ).withColumn("source", F.when(hot, F.lit("src0")).otherwise(F.col("source")))
            big.repartition(32).write.mode("overwrite").parquet(f"{path}/{table}.parquet")

    tag = os.path.basename(sf_dir.rstrip("/"))
    return _fixture(
        f"docs_skew_x{scale}_{tag}_v2" if skew else f"docs_x{scale}_{tag}_v3", build
    )


def _ratio_legs(spark, timings: dict[str, float], names, den, nums,
                den_draws: int = 3, warm=()) -> None:
    """The scale-trend runner, one registry query of ``names`` at a time:
    one untimed pass on each directory in ``warm``, the denominator wall
    (min of ``den_draws``) on its fixture, then each numerator's wall (min
    of 2) on its fixture under its patch, if any, and the numerator's
    ratio over the denominator. ``den`` is (fixture, key or None); each
    numerator is (fixture, key, ratio key, patch or None). Keys are
    templates over ``q`` (the query) and ``n`` (DOC_TREND_SCALE)."""
    specs = all_queries()
    den_dir, den_key = den
    for q in names:
        fn = specs[q].fn
        for d in warm:
            _noop(fn(spark, d))
            release_tracked_caches()
        base = _min_wall(spark, lambda: _noop(fn(spark, den_dir)), den_draws)
        if den_key:
            timings[den_key.format(q=q)] = base
        for num_dir, key, ratio_key, patch in nums:
            with patch or contextlib.nullcontext():
                wall = _min_wall(spark, lambda: _noop(fn(spark, num_dir)), 2)
            timings[key.format(q=q, n=DOC_TREND_SCALE)] = wall
            timings[ratio_key.format(q=q, n=DOC_TREND_SCALE)] = round(wall / base, 3)


def _bench_doc_trend(spark, sf_dir: str, timings: dict[str, float]) -> None:
    # x1 bases get a third draw: sub-2 s walls dominated by fixed
    # per-stage overhead, and every ratio divides by them.
    _ratio_legs(spark, timings, DOC_TREND_QUERIES,
                (_doc_fixture(spark, sf_dir, 1), "trend_{q}_x1"),
                [(_doc_fixture(spark, sf_dir), *SCALE_KEYS, None)])


def _bench_q124_trend(spark, sf_dir: str, timings: dict[str, float],
                      name: str) -> None:
    """The three q124 legs, warm to warm in one fresh child JVM (in-session,
    its fixed-cells walls moved +57% with zero plan change while the
    cells-scaled twin improved — session heap history). One untimed warm
    pass: a fresh child has no session to have paid codegen and the Arrow
    worker pool.

    Fixed-cells leg: N_CELLS constant, the x8 corpus packs each cell 8x
    fuller, within-cell pair work ~64x (the sum-cell^2 law). Cells-scaled
    leg: N_CELLS x8 on the same corpus (constant occupancy, the production
    regime), pair work linear in rows — its ratio over the same x1 base
    should sit near the linear operators'."""
    from hdfs_hive_sql_playground_spark.queries import similarity

    x1, x8 = _doc_fixture(spark, sf_dir, 1), _doc_fixture(spark, sf_dir)
    cells = mock.patch.object(similarity, "N_CELLS",
                              similarity.N_CELLS * DOC_TREND_SCALE)
    _ratio_legs(spark, timings, [name], (x1, "trend_{q}_x1"), [
        (x8, *SCALE_KEYS, None),
        (x8, "trend_q124_cells_scaled_x{n}",
         "trend_q124_cells_scaled_x{n}_over_x1_ratio", cells),
    ], warm=[x1])


def _bench_doc_skew_trend(spark, sf_dir: str, timings: dict[str, float]) -> None:
    from hdfs_hive_sql_playground_spark.queries import text

    # The production bucket width (1M rows) would put every stratum of
    # this 40k-row fixture in ONE bucket, degenerating the composite key
    # to the bare stratum — the very plan the test exists to rule out.
    # Shrink it for BOTH legs (identical plans, fair ratio). The sf0.001
    # pass warms codegen so the balanced leg (first) does not pay a compile
    # the skew leg then inherits for free.
    warm_dir = _warm_dir(sf_dir)
    balanced, skew = _doc_fixture(spark, sf_dir), _doc_fixture(spark, sf_dir, skew=True)
    with mock.patch.object(text, "CUMSUM_BUCKET_WIDTH", 2048):
        _ratio_legs(spark, timings, SKEW_TREND_QUERIES, (balanced, None), [
            (skew, "trend_{q}_x{n}_skew", "trend_{q}_skew_over_balanced_ratio", None)
        ], den_draws=2, warm=[warm_dir] if os.path.isdir(warm_dir) else [])


def _bench_registry_legs(spark, sf_dir: str, timings: dict[str, float],
                         *names: str) -> None:
    """Registry legs under the fresh-JVM protocol: one sf0.001 pass
    (codegen), two untimed passes at the target SF, then min-of-3 quiesced
    draws. The deeper warm-up is the point: a fresh JVM pays JIT tiering on
    every generated-code path (q99 at sf0.1: draws decline 1.95 -> ~1.25 s
    over ~5 executions with zero plan change)."""
    specs = all_queries()
    warm_dir = _warm_dir(sf_dir)
    for name in names:
        fn = specs[name].fn
        if os.path.isdir(warm_dir):
            _noop(fn(spark, warm_dir))
            release_tracked_caches()
        timings[name] = _min_wall(spark, lambda: _noop(fn(spark, sf_dir)), 3, warm=2)


# --- child JVMs -----------------------------------------------------------------
# Leg groups measured in a fresh child JVM: group -> (runner, child timeout
# in seconds, the registry queries the runner is given). A leg is promoted
# here when its in-session wall drifts from session heap history rather
# than from its plan (docs/DEPLOYMENT_100TB.md §9): the x10 CTAS, q99 (its
# in-session wall crept 1.30 -> 1.60 s while its fresh-JVM stage profile
# summed to 1.17 s) and q124's trends.
LEG_GROUPS = {
    "registry": (_bench_registry_legs, 900, ("q99_curation_pipeline",)),
    "m33_trend": (_bench_m33_trend, 1800, ()),
    "q124_trend": (_bench_q124_trend, 900, ("q124_semdedup_prune",)),
}


def _measure_group(spark, sf_dir: str, legs: str, timings: dict[str, float]) -> None:
    """Run leg group ``legs`` (``<group>`` or ``registry:<q1>,<q2>``) here."""
    group, _, names = legs.partition(":")
    runner, _, default = LEG_GROUPS[group]
    runner(spark, sf_dir, timings, *(names.split(",") if names else default))


def _run_bench_child(spark, legs: str, timeout: float) -> dict[str, float] | None:
    """Measure leg group ``legs`` in a fresh child JVM and return the
    dict on the child's last JSON line. None means the caller measures the
    group in-session after the m33 headlines: nothing is spawned under
    SPARK_GRAFT_SKIP_SUBPROCESS_LEGS=1 (one JVM at a time, for small
    hosts), and a dead child (timeout, nonzero exit, no JSON line) is
    reported on stderr.

    The parent idles meanwhile, but its heap still background-GCs and
    competes for memory bandwidth (the x10 CTAS child measured 14.5 s
    after the doc/skew sections vs 6.6 s quiet), so it is drained first.
    Two driver JVMs coexist while a child runs: size
    SPARK_GRAFT_DRIVER_MEM for both."""
    if os.environ.get("SPARK_GRAFT_SKIP_SUBPROCESS_LEGS") == "1":
        return None
    _quiesce(spark)
    time.sleep(1.0)
    argv = [sys.executable, os.path.abspath(__file__), "--legs", legs]
    try:
        proc = subprocess.run(argv, capture_output=True, text=True, timeout=timeout)
    except subprocess.TimeoutExpired:
        print(f"bench child --legs {legs} exceeded {timeout}s and was killed; "
              "deferring it until after the m33 headlines", file=sys.stderr)
        return None
    line = next(
        (ln for ln in reversed(proc.stdout.splitlines()) if ln.startswith("{")),
        None,
    )
    if proc.returncode != 0 or line is None:
        print(f"bench child --legs {legs} failed (rc={proc.returncode}); "
              f"deferring it until after the m33 headlines\n{proc.stderr[-2000:]}",
              file=sys.stderr)
        return None
    return json.loads(line)


def _measure(spark, sf_dir: str, specs: dict, timings: dict[str, float]) -> None:
    """Every timed section between the two calibration brackets, in order."""
    # Child groups FIRST, while this parent idles with a near-empty heap
    # (warm-up + fixtures only): a loaded parent measurably slows a child.
    deferred = []
    for group in ("registry", "m33_trend", "q124_trend"):
        out = _run_bench_child(spark, group, LEG_GROUPS[group][1])
        if out is None:
            deferred.append(group)
        else:
            timings.update(out)

    # The BASELINE.md-comparable headlines next, in a quiesced JVM.
    _bench_m33(spark, timings)

    # Warm each benched query once at the tiny SF: a plan's first execution
    # pays Janino/JIT compilation of its generated code (q99: 6.2 s cold vs
    # 1.2-2.0 s warm at sf0.1), and generated code is identical across
    # scale factors, so a sf0.001 pass fills the codegen cache for pennies.
    warm_dir = _warm_dir(sf_dir)
    if os.path.isdir(warm_dir):
        for spec in specs.values():
            _noop(spec.fn(spark, warm_dir))
        release_tracked_caches()
    _quiesce(spark)
    in_child = set(LEG_GROUPS["registry"][2])
    for name, spec in sorted(specs.items()):
        if name not in in_child:
            timings[name] = _min_wall(
                spark, lambda: _noop(spec.fn(spark, sf_dir)), 2, quiesce=False
            )

    # In-session sections last: deferred child groups (keeping the
    # headlines-first discipline on the one-JVM and failure paths), then
    # the in-session trends, which may leave the heap loaded.
    for group in deferred:
        _measure_group(spark, sf_dir, group, timings)
    _bench_doc_trend(spark, sf_dir, timings)
    _bench_doc_skew_trend(spark, sf_dir, timings)
    _export_ratio(timings)


def main() -> None:
    parser = argparse.ArgumentParser(description="Run the benchmark; print JSONL.")
    parser.add_argument(
        "--legs", metavar="GROUP",
        help=f"measure one leg group ({', '.join(LEG_GROUPS)}; registry:<q1>,<q2> "
        "for chosen queries) and print its walls as one JSON dict",
    )
    args = parser.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    # The bench session hosts the embedded in-memory Derby target on the
    # driver heap alongside Spark; 16g keeps the export measuring the sink,
    # not the collector (39-41 s quiet vs ~52 s loaded at 8g).
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "16g")
    from hdfs_hive_sql_playground_spark.session import get_spark

    if args.legs:
        spark = get_spark(app_name=f"bench-{args.legs.partition(':')[0]}")
        t: dict[str, float] = {}
        _measure_group(spark, sf_dir, args.legs, t)
        print(json.dumps(t))
        spark.stop()
        return

    spark = get_spark(app_name="bench")
    specs = {n: s for n, s in all_queries().items() if s.bench}

    # Warm the JVM + file listing + Python worker pool once so per-query
    # numbers measure the query, not session or Arrow-worker startup.
    next(iter(specs.values())).fn(spark, sf_dir).count()
    spark.range(32).mapInPandas(lambda it: it, schema="id long").count()

    # Every fixture BEFORE any timed section: fixture generation between
    # timed sections once regressed m33_limit100_raw_view 0.83 -> 2.06 s
    # with no plan change. The children read them too.
    for scale in (1, CTAS_TREND_SCALE, EXPORT_TREND_SCALE):
        _m33_fixture(scale)
    _doc_fixture(spark, sf_dir)
    _doc_fixture(spark, sf_dir, 1)
    _doc_fixture(spark, sf_dir, skew=True)
    _calibration_fixture(spark)

    # Host calibration brackets the whole run (first and last timed
    # sections), so trend drift can be adjudicated from the artifact alone.
    timings: dict[str, float] = {
        "calibration_x1_first": _calibration_wall(spark),
        "calibration_io_x1_first": _calibration_io_wall(spark),
    }
    _measure(spark, sf_dir, specs, timings)
    timings["calibration_x1_last"] = _calibration_wall(spark)
    timings["calibration_io_x1_last"] = _calibration_io_wall(spark)

    for line in _emit_records(timings, sf):
        print(line)
    spark.stop()


# The four BASELINE.md-comparable keys, in record order.
HEADLINE_KEYS = (
    "m33_ctas_2800k",
    "m33_jdbc_export_2800k",
    "m33_limit100_raw_view",
    "m33_limit100_warehouse",
)
# The watches: trend bands and host state the headline record carries.
WATCH_KEYS = (
    "trend_m33_ctas_x1",
    f"trend_m33_ctas_x{CTAS_TREND_SCALE}",
    f"trend_m33_ctas_x{CTAS_TREND_SCALE}_norm",
    f"trend_ctas_x{CTAS_TREND_SCALE}_over_x1_ratio",
    f"trend_ctas_x{CTAS_TREND_SCALE}_redraws",
    f"trend_q124_cells_scaled_x{DOC_TREND_SCALE}_over_x1_ratio",
    f"trend_export_x{EXPORT_TREND_SCALE}_over_x1_ratio",
    f"trend_m33_export_x{EXPORT_TREND_SCALE}_scan_control",
    "calibration_x1",
    "calibration_factor",
    "calibration_io_x1",
    "calibration_io_factor",
)


def _emit_records(timings: dict[str, float], sf: str) -> list[str]:
    """The bench's stdout JSONL records, derived from the raw walls (pure;
    pinned byte for byte by test_emit_records_golden). The driver keeps
    only the LAST 2000 chars of stdout and the full record overflows
    them, so every key a run is judged on also rides in whole lines
    inside that tail (budget asserted by test_emit_records_tail_budget):

    1. ``bench_queries_total_wall``: every key plus the derived
       calibration keys and a ``_norm`` twin (wall / calibration_factor)
       of each non-ratio trend wall, ordered registry walls, raw trend
       walls, calibration, norms, ratios, m33 headlines, so truncation
       eats the least needed keys first. ``value`` is the wall-clock
       total: everything but ``trend_*`` and ``calibration_*``.
    2. ``bench_trend_norms``, chunked near TREND_NORM_CHUNK_CHARS: every
       x-over-x1 ratio that is not a watch (the doc trend's and q124's
       fixed-cells one, as ``<query>_x8r``) and every skew-over-balanced
       ratio (``<query>_skewr``), rounded to 3 decimals.
    3. ``bench_m33_headlines``, LAST: the four m33 headlines unrounded,
       every registry wall (2 decimals), the WATCH_KEYS (the CTAS, q124
       cells-scaled and export bands, calibration), the calibration
       reference and the total."""
    timings = dict(timings)
    for prefix, ref in (("calibration", CALIBRATION_REF_SEC),
                        ("calibration_io", CALIBRATION_IO_REF_SEC)):
        pair = [timings[k] for k in (f"{prefix}_x1_first", f"{prefix}_x1_last")
                if k in timings]
        if pair:
            timings[f"{prefix}_x1"] = min(pair)
            timings[f"{prefix}_factor"] = round(min(pair) / ref, 3)
    if "calibration_factor" in timings:
        for k in [k for k in timings if k.startswith("trend_")
                  and "_ratio" not in k and not k.endswith("_redraws")]:
            timings[k + "_norm"] = round(timings[k] / timings["calibration_factor"], 4)

    total = round(sum(v for k, v in timings.items()
                      if not k.startswith(("trend_", "calibration_"))), 4)

    def _bucket(k: str) -> int:
        if k in HEADLINE_KEYS:
            return 5
        if k.endswith("_ratio"):
            return 4
        if k.endswith("_norm"):
            return 3
        if k.startswith("calibration_"):
            return 2
        return 1 if k.startswith("trend_") else 0

    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    full = json.dumps({
        "metric": "bench_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": {k: timings[k] for k in sorted(timings, key=_bucket)},
        "sf": sf_val,
    })
    # compact separators on the tail-window records: ~150 chars of
    # whitespace matter against the driver's 2000-char capture
    compact = (",", ":")
    headline = json.dumps({
        "metric": "bench_m33_headlines",
        "unit": "sec",
        "queries": {
            **{k: timings[k] for k in HEADLINE_KEYS if k in timings},
            **{k: round(timings[k], 2) for k in sorted(timings) if _bucket(k) == 0},
        },
        "watches": {k: timings[k] for k in WATCH_KEYS if k in timings},
        "calibration_ref": CALIBRATION_REF_SEC,
        "total": total,
        "sf": sf_val,
    }, separators=compact)

    ratios: dict[str, float] = {}
    for k, v in timings.items():
        if k.endswith("_skew_over_balanced_ratio"):
            ratios[k[len("trend_"):-len("_skew_over_balanced_ratio")] + "_skewr"] = round(v, 3)
        elif k.startswith("trend_") and k.endswith("_over_x1_ratio") and k not in WATCH_KEYS:
            ratios[k[len("trend_"):-len("_over_x1_ratio")] + "r"] = round(v, 3)
    chunks: list[dict[str, float]] = []
    for k, v in ratios.items():
        if not chunks or len(json.dumps(chunks[-1])) > TREND_NORM_CHUNK_CHARS:
            chunks.append({})
        chunks[-1][k] = v
    norm_lines = [
        json.dumps({"metric": "bench_trend_norms", "part": f"{i}/{len(chunks)}",
                    "unit": "sec/cal", "queries": c}, separators=compact)
        for i, c in enumerate(chunks, 1)
    ]
    return [full, *norm_lines, headline]


if __name__ == "__main__":
    sys.exit(main())
