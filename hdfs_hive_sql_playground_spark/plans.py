"""Physical-plan introspection helpers: the assertions that keep
100 TB-relevant plan properties (pushdown, broadcast, shuffle counts,
no cartesian products) from regressing silently.

Used by the test suite; also handy interactively::

    from hdfs_hive_sql_playground_spark import plans
    plans.summary(df)        # {'exchanges': 1, 'scans': [...], ...}
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def scan_lines(df: DataFrame) -> list[str]:
    return [ln.strip() for ln in executed_plan(df).splitlines() if "PushedFilters" in ln]


def assert_pushed_filters(df: DataFrame, *fragments: str) -> None:
    """Every fragment must appear inside some scan's PushedFilters list —
    i.e. the filter reached the parquet reader instead of a post-scan
    Filter node."""
    scans = scan_lines(df)
    assert scans, "no file scans in plan"
    joined = "\n".join(scans)
    for frag in fragments:
        assert frag in joined, f"filter {frag!r} not pushed; scans:\n{joined}"


def assert_no_cartesian(df: DataFrame) -> None:
    assert "CartesianProduct" not in executed_plan(df)


def count_exchanges(df: DataFrame) -> int:
    return executed_plan(df).count("Exchange")


def count_broadcast_joins(df: DataFrame) -> int:
    return executed_plan(df).count("BroadcastHashJoin")


def summary(df: DataFrame) -> dict:
    plan = executed_plan(df)
    return {
        "exchanges": plan.count("Exchange"),
        "broadcast_hash_joins": plan.count("BroadcastHashJoin"),
        "sort_merge_joins": plan.count("SortMergeJoin"),
        "cartesian": plan.count("CartesianProduct"),
        "scans": scan_lines(df),
        "codegen_spans": len(set(re.findall(r"\*\((\d+)\)", plan))),
    }
