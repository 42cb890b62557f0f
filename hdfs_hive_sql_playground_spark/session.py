"""SparkSession factory with scale-oriented defaults.

Replaces the reference's cluster lifecycle layer (``playground.py:590-644``
setup/start/stop): there are no daemons to provision — a session IS the
cluster handle. Defaults are chosen for the 100 TB design point:

- AQE on (runtime coalescing, skew-join splitting, dynamic broadcast),
- Arrow for any Python<->JVM data exchange (Pandas UDFs),
- UTC session timezone (deterministic timestamp semantics across engines),
- shuffle partitions sized from the local core count but overridable via
  ``SPARK_GRAFT_CPUS`` / explicit argument for real clusters.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_spark(
    app_name: str = "hdfs-hive-sql-playground-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    warehouse_dir: str | None = None,
    conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession with engine defaults; ``conf``
    overrides any default key by key.

    ``conf={"spark.sql.catalogImplementation": "hive"}`` (what
    ``Builder.enableHiveSupport()`` sets) gives a Hive metastore-backed
    catalog (embedded Derby), mirroring the reference's HiveServer2 + Derby
    setup (``playground.py:230-240``); ``examples/run_hive_pipeline.py``
    runs the reference's HQL that way.
    """
    cpus = default_cpus()
    builder = SparkSession.builder.appName(app_name)
    builder = builder.master(master or f"local[{cpus}]")

    # Shuffle partitions: for local mode, ~2x cores keeps every core busy
    # through stragglers without tiny-partition overhead. On a real cluster
    # pass an explicit value (or rely on AQE coalescing from a higher cap).
    builder = builder.config(
        "spark.sql.shuffle.partitions", str(shuffle_partitions or 2 * cpus)
    )

    defaults = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        # Local runs don't need the UI; conf={"spark.ui.enabled": "true"}
        # turns it back on.
        "spark.ui.enabled": "false",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        # JIT code cache: a long-lived session compiling the registry's
        # 137 distinct codegen'd plans fills the JVM's default 240m
        # ReservedCodeCache (measured: the profiled-nmethods heap sits at
        # 79/122 MB after ONE sf0.001 pass); once a segment fills, the
        # sweeper flushes hot compiled methods and later queries re-run
        # partially interpreted — observed as a 2.5x wall regression on
        # the LAST bench leg with no plan change. 480m keeps the whole
        # registry's generated code resident. Same knob every production
        # Spark deployment with many distinct queries tunes (SPARK-29512
        # family). A caller-supplied spark.driver.extraJavaOptions
        # REPLACES this default wholesale (the conf loop overrides
        # key-for-key), so append the flag when passing your own JVM
        # options.
        "spark.driver.extraJavaOptions": "-XX:ReservedCodeCacheSize=480m",
        # Parquet scans: vectorized reader + pushdown are defaults, pinned
        # here so a misconfigured environment can't silently disable them.
        "spark.sql.parquet.filterPushdown": "true",
        "spark.sql.parquet.enableVectorizedReader": "true",
        # Read parquet TIMESTAMP(NANOS) columns as nanosecond longs instead
        # of failing the scan; tables.load() converts them to µs timestamps.
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        # Naive (isAdjustedToUTC=false) parquet timestamps scan directly as
        # TIMESTAMP, not TIMESTAMP_NTZ: with the UTC session timezone the
        # values are identical to the oracle's naive reading, and doing it
        # at the reader (instead of a cast) keeps min/max pushdown on
        # timestamp columns intact.
        "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    }
    for key, value in defaults.items():
        builder = builder.config(key, value)

    if warehouse_dir:
        builder = builder.config("spark.sql.warehouse.dir", warehouse_dir)
    for key, value in (conf or {}).items():
        builder = builder.config(key, value)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()


def cluster_conf(
    data_tb: float,
    executors: int = 1000,
    cores_per_executor: int = 4,
    executor_mem_gb: int = 16,
    target_partition_mb: int = 256,
) -> dict[str, str]:
    """Derive the scale-dependent knobs for a real cluster run.

    Sizing rules (the ones local[32] can't exercise but the plans assume):

    - ``shuffle.partitions``: data / target-partition-size, floored at 2×
      total cores so every core has work through stragglers. AQE coalesces
      down from this cap at runtime, so erring high is cheap.
    - ``files.maxPartitionBytes``: the scan-side analog — keeps each input
      split ≈ one task's worth.
    - Executor memory is a caller decision; partitions are sized so a
      partition (~256 MB compressed, a few GB decoded) fits comfortably in
      one task's share of the executor heap.

    Usage::

        conf = cluster_conf(data_tb=100)
        spark = get_spark(master="yarn", shuffle_partitions=None, conf=conf)
    """
    total_cores = executors * cores_per_executor
    data_mb = int(data_tb * 1024 * 1024)
    by_size = data_mb // target_partition_mb
    shuffle_partitions = max(by_size, 2 * total_cores)
    return {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.files.maxPartitionBytes": str(target_partition_mb * 1024 * 1024),
        "spark.executor.instances": str(executors),
        "spark.executor.cores": str(cores_per_executor),
        "spark.executor.memory": f"{executor_mem_gb}g",
        # AQE trims the high partition cap back to real sizes at runtime.
        "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(
            target_partition_mb * 1024 * 1024
        ),
    }
