"""Tracked DataFrame persistence for multi-consumer query plans.

A handful of operators (q103 SRP-LSH, q124 SemDeDup, q99's composed
pipeline) persist an intermediate DataFrame because three or more plan
branches consume it. A bare ``df.persist()`` inside a query function
leaks for the session lifetime: the query returns a LAZY DataFrame, so
the function cannot unpersist before its caller materializes the result,
and every invocation (oracle harness, bench legs, trend legs) parks
another cached relation on the executors.

``track_persist`` registers each persisted DataFrame in a module-level
list; long-running drivers call ``release_tracked_caches()`` after
materializing a result (the bench harness and the pytest oracle gate
both do). Untracked sessions (the per-round driver, short scripts) at
worst hold the few narrow cached relations of the queries they ran —
MEMORY_AND_DISK, so bounded by disk, never an OOM vector.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_TRACKED: list[DataFrame] = []


def track_persist(df: DataFrame) -> DataFrame:
    """Persist ``df`` (MEMORY_AND_DISK) and register it for later release."""
    df.persist(StorageLevel.MEMORY_AND_DISK)
    _TRACKED.append(df)
    return df


def release_tracked_caches() -> int:
    """Unpersist every tracked DataFrame (non-blocking); returns how many
    were released. Safe to call at any time: releasing a cache a plan
    still references only degrades that plan to recompute. A DataFrame
    whose SparkContext has been stopped holds no cache any more and is
    dropped uncounted; any other failure to unpersist raises."""
    n = 0
    while _TRACKED:
        df = _TRACKED.pop()
        if _context_stopped(df):
            continue
        df.unpersist(blocking=False)
        n += 1
    return n


def _context_stopped(df: DataFrame) -> bool:
    sc = df.sparkSession.sparkContext
    return sc._jsc is None or sc._jsc.sc().isStopped()
