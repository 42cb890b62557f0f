"""File-format coverage (SURVEY §2 Tier B 'File formats'): ORC, JSON, CSV
round trips through the warehouse, and bucketed parquet tables for
shuffle-free co-located joins.

The reference supports TEXTFILE/ORC/SEQUENCEFILE SerDes via Hive (and its
author documented that Sqoop could never export ORC — ``README.md:191-193``);
here each format is a first-class read/write pair. The classic Hive-serde
formats (SEQUENCEFILE, RCFILE, AVRO) round-trip through Hive CTAS in
``examples/run_hive_pipeline.py`` (native ``spark-avro`` isn't shipped in
this environment, so the native Avro reader is exercised opportunistically
and skipped cleanly when absent).

Bucketing is the 100 TB co-location strategy the reference never had:
``bucketBy(k, key)`` tables join WITHOUT a shuffle on either side — the
plan test asserts zero Exchange operators inside the join.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hdfs_hive_sql_playground_spark.queries import exact_cents, register
from hdfs_hive_sql_playground_spark.sinks import DEFAULT_WAREHOUSE, write_range_layout
from hdfs_hive_sql_playground_spark.sources.text import data_files
from hdfs_hive_sql_playground_spark.tables import load

N_BUCKETS = 8  # q78's bucket count

_AGG_ORACLE = """
    SELECT
      l_returnflag,
      COUNT(*) AS n,
      CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_price_c
    FROM lineitem
    WHERE l_orderkey < 1000
    GROUP BY l_returnflag
"""


def _subset(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 1000)


def _agg(df: DataFrame) -> DataFrame:
    return df.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(exact_cents("l_extendedprice")).alias("sum_price_c"),
    )


def _roundtrip(spark: SparkSession, sf_dir: str, fmt: str, options: dict | None = None) -> DataFrame:
    path = os.path.join(DEFAULT_WAREHOUSE, f"fmt_check_{fmt}")
    src = _subset(spark, sf_dir)
    w = src.write.mode("overwrite").format(fmt)
    r = spark.read.format(fmt)
    for k, v in (options or {}).items():
        w = w.option(k, v)
        r = r.option(k, v)
    w.save(path)
    back = r.schema(src.schema).load(path) if fmt in ("csv", "json") else r.load(path)
    return _agg(back)


@register(
    "q75_orc_roundtrip",
    oracle=_AGG_ORACLE,
    doc="ORC write + read round trip (the format Sqoop could never export, "
    "README.md:191-193) — values survive exactly.",
)
def q75_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _roundtrip(spark, sf_dir, "orc")


@register(
    "q76_json_roundtrip",
    oracle=_AGG_ORACLE,
    doc="JSON lines write + schema-on-read round trip (Hive JsonSerDe analog).",
)
def q76_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _roundtrip(spark, sf_dir, "json")


@register(
    "q77_csv_roundtrip",
    oracle=_AGG_ORACLE,
    doc="CSV write + schema-on-read round trip with delimiter/quote options "
    "(LazySimpleSerDe analog; same parser family as the Sqoop record parser A21).",
)
def q77_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _roundtrip(spark, sf_dir, "csv", {"sep": "|", "quote": '"'})


@register(
    "q78_bucketed_join",
    oracle="""
    SELECT o.o_orderpriority,
           COUNT(*) AS n,
           CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_price_c
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderpriority
    """,
    doc="Shuffle-free co-located join over bucketed tables: both fact tables "
    "bucketBy(8, orderkey) into the warehouse catalog, then joined — zero "
    "Exchange inside the join (asserted in tests). The 100 TB answer to "
    "repeated fact-fact joins on one key.",
)
def q78_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Re-bucket on every call: the table contents are a function of sf_dir,
    # so a cached table from another scale factor would be stale.
    for name, key in (("orders", "o_orderkey"), ("lineitem", "l_orderkey")):
        tbl = f"bkt_{name}"
        src = load(spark, sf_dir, name)
        # The sf-scale parquet scans arrive in 1-3 partitions, so the
        # bucketed write (per-task sort + parquet encode) would serialize on
        # 1-3 cores. Spread rows by the bucket key first: repartition uses
        # the same murmur3 hash family as bucket assignment, so with a task
        # count that is a multiple of the bucket count each task writes
        # exactly one bucket's rows — rounded UP to the next multiple of
        # N_BUCKETS (round-13 ADVICE: on hosts where cores % 8 != 0 the
        # invariant broke, tasks straddled buckets, and each task wrote
        # several per-bucket files). Gated on the scan's partition count —
        # production scans already carry >= cores partitions and skip the
        # exchange.
        par = spark.sparkContext.defaultParallelism
        par = max(N_BUCKETS, ((par + N_BUCKETS - 1) // N_BUCKETS) * N_BUCKETS)
        if src.rdd.getNumPartitions() < par:
            src = src.repartition(par, F.col(key))
        (
            src
            .write.mode("overwrite")
            .bucketBy(N_BUCKETS, key)
            .sortBy(key)
            .option("path", os.path.join(DEFAULT_WAREHOUSE, tbl))
            .saveAsTable(tbl)
        )
    o = spark.table("bkt_orders")
    li = spark.table("bkt_lineitem")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(exact_cents("l_extendedprice")).alias("sum_price_c"),
        )
    )


@register(
    "q110_range_layout_scan",
    oracle="""
    SELECT event_id, user_id, event_type,
           CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS value_c
    FROM events
    WHERE event_type = 'click' AND user_id <= 50
    """,
    doc="Scan-optimized layout round trip: events rewritten with "
    "write_range_layout (directory-partitioned by event_type, "
    "range-clustered + sorted by user_id), then a selective read back. The "
    "plan test asserts the event_type predicate becomes a PartitionFilter "
    "(directory pruning) and user_id reaches the parquet reader as a pushed "
    "filter (row-group min/max skipping) — the layout decision that turns a "
    "100 TB time-series scan into a handful of file reads.",
)
def q110_range_layout_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    # The rewritten layout is a pure function of the source events table,
    # so key the path by sf_dir and guard with a completeness marker that
    # records a CONTENT FINGERPRINT (the data_files listing: path, size and
    # mtime of every source file, as the schema cache keys on):
    # repeated invocations (the registry-wide plan sweep calls every query
    # several times) reuse the layout, but a regenerated /root/testdata —
    # which keeps the same sf_dir name across rounds — invalidates the
    # cache instead of serving a layout built from old data.  Two
    # concurrent sessions on the same repo don't race mid-write: the
    # layout is built in a per-process staging dir and atomically renamed.
    tag = os.path.basename(sf_dir.rstrip("/"))
    fingerprint = ";".join(
        ":".join(map(str, f))
        for f in data_files(spark, os.path.join(sf_dir, "events.parquet"))
    )
    path = os.path.join(DEFAULT_WAREHOUSE, f"events_range_layout_{tag}")
    marker = os.path.join(path, "_LAYOUT_COMPLETE")
    current = None
    if os.path.exists(marker):
        with open(marker) as f:
            current = f.read().strip()
    if current != fingerprint:
        if os.path.exists(path):
            import shutil

            shutil.rmtree(path, ignore_errors=True)
        staging = f"{path}.staging.{os.getpid()}"
        write_range_layout(src, staging, "event_type", ["user_id"])
        with open(os.path.join(staging, "_LAYOUT_COMPLETE"), "w") as f:
            f.write(fingerprint + "\n")
        try:
            os.rename(staging, path)
        except OSError:
            # Another session won the rename race; its completed layout is
            # equivalent (same source fingerprint) — drop ours.
            import shutil

            shutil.rmtree(staging, ignore_errors=True)
    back = spark.read.parquet(path)
    return back.filter(
        (F.col("event_type") == "click") & (F.col("user_id") <= 50)
    ).select(
        "event_id",
        "user_id",
        "event_type",
        exact_cents("value").alias("value_c"),
    )


@register(
    "q144_quarantine_ingest",
    oracle="""
    WITH src AS (
      SELECT l_orderkey AS k, l_returnflag AS flag,
             CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
             (l_orderkey % 19 = 3 OR l_orderkey % 19 = 7) AS bad
      FROM lineitem WHERE l_orderkey < 1000
    )
    SELECT 'clean' AS side, flag AS key,
           COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS checksum
    FROM src WHERE NOT bad GROUP BY flag
    UNION ALL
    SELECT 'quarantine' AS side, '*' AS key,
           COUNT(*) AS n, CAST(SUM(k) AS BIGINT) AS checksum
    FROM src
    WHERE bad
    """,
    doc="Quarantine-split ingest end-to-end (sources/quarantine.py): a "
    "lineitem subset is rendered to delimited text with two deterministic "
    "corruption modes injected in-plan (arity-truncated lines for "
    "l_orderkey%19=3, a non-numeric token in the BIGINT cents field for "
    "%19=7 — the two malformed-row classes the adversarial formats gate "
    "pins), then split-read back: DROPMALFORMED clean side aggregated per "
    "returnflag, PERMISSIVE quarantine side summarized as (row count, sum "
    "of the replayable parsed-prefix keys). The oracle recomputes both "
    "sides purely relationally from parquet, so the hash pins that the "
    "split partitions the corrupted file EXACTLY along the injected modes "
    "— no clean row lost, no corrupt row leaked, every quarantined row's "
    "prefix intact for replay. The 100 TB ingest contract for interrupted "
    "writers / encoding drift (reference surface: LazySimpleSerDe text "
    "tables + the Sqoop record parser, SURVEY §2 A2/A21, which "
    "null-fill or abort instead).",
)
def q144_quarantine_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_hive_sql_playground_spark.sources.quarantine import (
        read_csv_quarantined,
    )

    src = _subset(spark, sf_dir).select(
        F.col("l_orderkey").alias("k"),
        F.col("l_linenumber").alias("ln"),
        F.col("l_returnflag").alias("flag"),
        exact_cents("l_extendedprice").alias("cents"),
    )
    good = F.concat_ws("|", "k", "ln", "flag", "cents")
    line = (
        F.when(F.col("k") % 19 == 3, F.concat_ws("|", "k", "ln"))
        .when(F.col("k") % 19 == 7, F.concat_ws("|", "k", "ln", "flag", F.lit("N/A")))
        .otherwise(good)
    )
    path = os.path.join(DEFAULT_WAREHOUSE, "quarantine_ingest_csv")
    src.select(line.alias("value")).write.mode("overwrite").text(path)

    clean, quar = read_csv_quarantined(
        spark,
        path,
        "l_orderkey bigint, l_linenumber int, l_returnflag string, cents bigint",
        sep="|",
    )
    clean_agg = clean.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"), F.sum("cents").alias("checksum")
    ).select(
        F.lit("clean").alias("side"),
        F.col("l_returnflag").alias("key"),
        "n",
        "checksum",
    )
    quar_agg = quar.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("l_orderkey").alias("checksum"),
    ).select(F.lit("quarantine").alias("side"), F.lit("*").alias("key"), "n", "checksum")
    return clean_agg.unionAll(quar_agg)
