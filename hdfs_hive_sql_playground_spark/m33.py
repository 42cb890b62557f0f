"""The m33 pipeline head: raw external text table → typed schema view.

This is the reference's end-to-end core (SURVEY.md §3.1, A2-A16): raw
partitioned text files, schema applied at read time, typed projection view.

Reference mapping (file:line in /root/reference):
- raw table + header skip + partitions: ``examples/src/hive/create_m33_raw_ext_tbl.hql:1-14``
- typed view (the exact expression set below): ``examples/src/hive/create_m33_schem_view.hql:1-14``
    age_mil      = cast(regexp_extract(INPUT__FILE__NAME,'(hmix\\.a)(\\d*)',2) AS BIGINT)
    wavelength   = cast(data[0] AS DOUBLE)
    flam         = cast(data[1] AS DOUBLE)
    is_peculiar  = field(peculiarity,'nocp','cp') - 1
    data         = split(trim(row_str), '  ')
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hdfs_hive_sql_playground_spark.dialect import field
from hdfs_hive_sql_playground_spark.sources.text import TextTable

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DEFAULT_M33_DIR = os.path.join(REPO_ROOT, "data", "m33_mini")

PARTITION_COL = "peculiarity"
SKIP_HEADER_LINES = 3  # TBLPROPERTIES("skip.header.line.count"="3")
AGE_PATTERN = r"(hmix\.a)(\d*)"
# The typed view's columns as a DDL schema string: how the CTAS'd text
# table is read back schema-on-read (create_insert_m33_tbl.hql).
M33_SCHEMA = "age_mil bigint, wavelength double, flam double, is_peculiar int"


def m33_raw(
    spark: SparkSession,
    base_dir: str | None = None,
    per_file_cols: dict | None = None,
) -> DataFrame:
    """The raw external table: one STRING row per data line, partitioned by
    ``peculiarity`` ∈ {cp, nocp} (partition value from the catalog map)."""
    base = base_dir or DEFAULT_M33_DIR
    table = TextTable(spark, PARTITION_COL, SKIP_HEADER_LINES, per_file_cols or {})
    for value in ("cp", "nocp"):
        table.add_partition(value, os.path.join(base, value))
    return table.df()


def m33_schem(spark: SparkSession, base_dir: str | None = None) -> DataFrame:
    """The typed projection view over the raw rows.

    The filename-derived ``age_mil`` is computed once per FILE (hoisted
    above the line explode via ``per_file_cols``), not once per line —
    per-row evaluation of the same regexp on 2.8 M identical path strings
    measured ~1 s of pure waste in the CTAS."""
    raw = m33_raw(
        spark,
        base_dir,
        per_file_cols={
            "age_mil": lambda f: F.regexp_extract(f, AGE_PATTERN, 2).cast("bigint")
        },
    )
    data = F.split(F.trim(F.col("row_str")), "  ")
    return raw.select(
        "age_mil",
        data.getItem(0).cast("double").alias("wavelength"),
        data.getItem(1).cast("double").alias("flam"),
        (field(F.col(PARTITION_COL), "nocp", "cp") - 1).cast("int").alias("is_peculiar"),
    )
