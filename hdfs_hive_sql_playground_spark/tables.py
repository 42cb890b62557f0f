"""Loaders for the driver-provided test tables (TESTDATA.md).

At 100 TB these would be partitioned/bucketed external tables on a
distributed store; the access pattern is identical — ``spark.read.parquet``
on a directory — so nothing here changes with scale. Column pruning and
predicate pushdown reach the parquet scan because every consumer expresses
its query declaratively on the returned DataFrame.

Schemas are resolved once per process, as the reference's Hive metastore
holds them: a query there finds a table's schema by name without opening a
data file. ``load()`` infers a table's schema from its parquet footers on
the first call only (one small Spark job) and caches it; later calls, from
any session in the process, read with that schema and start no job. The
cache key is the table path, the (path, size, mtime) of each data file
(:func:`~.sources.text.data_files`) and the values of the session confs in
``_SCHEMA_CONFS``, which change what Spark infers from a footer. A
rewritten file or a changed conf is therefore a miss; nothing else evicts.

Registration (:func:`register_all`) is metadata work only, as creating a
table in the metastore is. The present tables are resolved concurrently on
``min(#tables, defaultParallelism)`` threads. Each task inherits the
caller's JVM local properties (job group, scheduler pool, job tags), so the
schema-inference jobs of a cold cache run under the caller's job group.
The first failure is raised once every task has ended, so a view is never
silently missing. The read confs are set and the ``_SCHEMA_CONFS`` read
once per registration, not once per table, so a warm single-file table
costs about 20 py4j round trips (listing, read, view). The cache key and
the DataFrame each view holds are those of :func:`load`.
"""

from __future__ import annotations

import functools
import os
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType
from pyspark.util import inheritable_thread_target

from hdfs_hive_sql_playground_spark.sources.text import data_files

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
)
_schemas: dict[tuple, StructType] = {}


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    _pin_read_confs(spark, nanos=name == "events")
    return _read(spark, _path(sf_dir, name), _schema_confs(spark))


def _path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _pin_read_confs(spark: SparkSession, nanos: bool) -> None:
    # Runtime-set so foreign sessions (e.g. the verification driver's, built
    # without our session defaults) scan timestamps the same way we do:
    # TIMESTAMP(NANOS) as nanosecond longs (converted in _read) instead of
    # PARQUET_TYPE_ILLEGAL, and naive timestamp[us] (the current testdata
    # vintage for events.ts / o_orderdate / l_shipdate) as TIMESTAMP rather
    # than TIMESTAMP_NTZ — with the UTC session timezone the values match
    # the oracle's naive reading, and reader-level handling (vs a cast)
    # keeps min/max pushdown on timestamp columns intact.
    if nanos:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    # The naive-timestamp contract above depends on the session timezone
    # being UTC; our own sessions pin it, but a foreign driver session
    # inherits the host JVM zone — set it here so correctness never rides
    # on the host being UTC.
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _schema_confs(spark: SparkSession) -> tuple:
    return tuple(spark.conf.get(k) for k in _SCHEMA_CONFS)


def _read(spark: SparkSession, path: str, confs: tuple) -> DataFrame:
    """The parquet table at ``path``, read with its cached schema;
    ``confs`` is :func:`_schema_confs`, read after the read confs were
    pinned."""
    key = (path, data_files(spark, path), confs)
    schema = _schemas.get(key)
    if schema is None:
        schema = _schemas[key] = spark.read.parquet(path).schema
    # The JVM reader, called directly: 5 py4j round trips, where
    # spark.read.schema(..).parquet(..) makes 13 (an active-session lookup
    # and a one-path Seq built element by element). Same reader and plan.
    jspark = spark._jsparkSession
    jdf = jspark.read().schema(jspark.parseDataType(schema.json())).format("parquet").load(path)
    df = DataFrame(jdf, spark)
    # events.ts is parquet TIMESTAMP(NANOS), which Spark's reader rejects
    # (PARQUET_TYPE_ILLEGAL). The session sets
    # spark.sql.legacy.parquet.nanosAsLong=true so it scans as a raw
    # nanosecond long; convert to a microsecond timestamp with integer
    # `div` (never float division — epoch-nanos exceed 2^53). Truncation
    # toward zero matches DuckDB's TIMESTAMP_NS → TIMESTAMP cast, so the
    # oracle sees identical values.
    for field in schema.fields:
        if field.name == "ts" and isinstance(field.dataType, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def parquet_row_count(spark: SparkSession, path: str) -> int:
    """Total row count of a parquet file or directory from FOOTER METADATA
    only — no data pages read, no Spark job scheduled.

    Driver-side strategy probes (q136's rewrite-join pick) call this at
    plan-BUILD time, so it must never run a Spark action: an eager
    ``df.count()`` there would make merely constructing the DataFrame
    (explain-only paths, plan tests, repeated ``spec.fn`` calls) pay a scan
    job each time, breaking the build-is-lazy contract every other registry
    query keeps. A parquet footer is a few KB per file regardless of data
    size, so this stays O(#files) metadata reads at 100 TB (and on a real
    cluster the same number would come from catalog stats / manifest
    files). Cached per file fingerprint (:func:`data_files`, the listing
    the schema cache keys on), so a path rewritten in-process (e.g. a
    regenerated .bench_data trend fixture after a partial prior run) is
    re-counted and a stale count can never silently flip q136's
    broadcast-vs-shuffle pick.
    """
    return _footer_row_count(data_files(spark, path))


@functools.lru_cache(maxsize=None)
def _footer_row_count(files: tuple[tuple[str, int, int], ...]) -> int:
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(f).num_rows for f, _size, _mtime in files)


def register_all(spark: SparkSession, sf_dir: str) -> None:
    """Register every table present under ``sf_dir`` as a temp view so
    plain SQL can reference it; missing tables are skipped. The tables are
    resolved concurrently (see the module docstring); the first failure in
    ``TABLES`` order is raised once every task has ended."""
    names = [n for n in TABLES if os.path.exists(_path(sf_dir, n))]
    if not names:
        return
    _pin_read_confs(spark, nanos="events" in names)
    confs = _schema_confs(spark)

    def register(name: str) -> None:
        _read(spark, _path(sf_dir, name), confs).createOrReplaceTempView(name)

    wrap = inheritable_thread_target(spark)
    # With pinned threads off (PYSPARK_PIN_THREAD=false) pyspark returns
    # the session instead of a decorator: the Python threads then share
    # pooled JVM threads, and there are no per-thread properties to copy.
    task = register if wrap is spark else wrap(register)
    with ThreadPoolExecutor(min(len(names), spark.sparkContext.defaultParallelism)) as pool:
        for _ in pool.map(task, names):
            pass
