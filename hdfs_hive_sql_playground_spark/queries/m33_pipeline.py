"""Driver-checkable queries over the m33 text pipeline (SURVEY §2 A2-A16).

The fixture is the committed ``data/m33_mini`` tree (see FIXTURES.md §1 and
``scripts/gen_m33_fixture.py``); the DuckDB oracle re-reads the same text
files with ``read_csv(skip=3, filename=true)`` and re-applies the view
expressions in SQL, so every hop of the pipeline — per-file header skip,
partition binding, filename-derived columns, split/trim/cast, field() — is
value-checked end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hdfs_hive_sql_playground_spark.m33 import DEFAULT_M33_DIR, M33_SCHEMA, m33_schem
from hdfs_hive_sql_playground_spark.queries import exact_cents, register

# DuckDB rendition of the typed view (single source for all three oracles).
_ORACLE_VIEW = f"""
  SELECT
    CAST(regexp_extract(filename, '(hmix\\.a)(\\d*)', 2) AS BIGINT) AS age_mil,
    CAST(string_split(trim(row_str, ' '), '  ')[1] AS DOUBLE) AS wavelength,
    CAST(string_split(trim(row_str, ' '), '  ')[2] AS DOUBLE) AS flam,
    CAST(CASE regexp_extract(filename, '/(cp|nocp)/', 1)
         WHEN 'nocp' THEN 0 WHEN 'cp' THEN 1 ELSE -1 END AS INTEGER) AS is_peculiar
  FROM read_csv('{DEFAULT_M33_DIR}/*/hmix.*', header=false, skip=3,
                columns={{'row_str':'VARCHAR'}}, delim='', quote='', filename=true)
"""


@register(
    "q70_m33_schem_view",
    oracle=f"SELECT * FROM ({_ORACLE_VIEW})",
    doc="Full typed view over the raw partitioned text table: header skip (A3), partition "
    "binding (A4), INPUT__FILE__NAME + regexp_extract (A8-A9), split/trim/array/cast "
    "(A7, A10-A12), field() arithmetic (A13-A14).",
)
def q70_m33_schem_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    return m33_schem(spark)


_AGG_ORACLE = f"""
    SELECT
      age_mil,
      is_peculiar,
      COUNT(*) AS n,
      MIN(wavelength) AS min_wl,
      MAX(wavelength) AS max_wl,
      CAST(SUM(CAST(CAST(flam AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_flam_c
    FROM ({_ORACLE_VIEW})
    GROUP BY age_mil, is_peculiar
"""


def _schem_agg(df: DataFrame) -> DataFrame:
    return df.groupBy("age_mil", "is_peculiar").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("wavelength").alias("min_wl"),
        F.max("wavelength").alias("max_wl"),
        F.sum(exact_cents("flam")).alias("sum_flam_c"),
    )


@register(
    "q71_m33_schem_agg",
    oracle=_AGG_ORACLE,
    doc="Aggregate over the m33 view (the FIXTURES.md §1.5 invariants as a query): "
    "per (age, peculiarity) group counts and wavelength bounds.",
)
def q71_m33_schem_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _schem_agg(m33_schem(spark))


@register(
    "q72_m33_limit_fetch",
    oracle=f"""
    SELECT * FROM ({_ORACLE_VIEW})
    ORDER BY wavelength, age_mil, is_peculiar
    LIMIT 100
    """,
    doc="The runall.py verification read: SELECT * FROM m33_schem LIMIT 100 (A15-A16), "
    "made deterministic with a unique sort key (wavelength, age_mil, is_peculiar).",
)
def q72_m33_limit_fetch(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        m33_schem(spark)
        .orderBy("wavelength", "age_mil", "is_peculiar")
        .limit(100)
    )


@register(
    "q73_m33_ctas_roundtrip",
    oracle=_AGG_ORACLE,
    doc="CTAS materialization sink (A17): write the typed view to comma-delimited "
    "TEXTFILE in the warehouse (create_insert_m33_tbl.hql analog), read it back "
    "schema-on-read, aggregate — values must survive the text round trip exactly.",
)
def q73_m33_ctas_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_hive_sql_playground_spark.sinks import ctas_text, read_text_table

    ctas_text(m33_schem(spark), "m33_ctas_check")
    back = read_text_table(spark, "m33_ctas_check", M33_SCHEMA)
    return _schem_agg(back)


@register(
    "q74_m33_jdbc_export_roundtrip",
    oracle=_AGG_ORACLE,
    doc="Bulk JDBC export (A19-A26): df.write.jdbc with the export defaults, 4 writers "
    "x 100k-row batches, to table-locked embedded Derby (the Sqoop export pipeline as "
    "one call), verification read back over JDBC, aggregate — exact value survival.",
)
def q74_m33_jdbc_export_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_hive_sql_playground_spark.sources.jdbc import export_jdbc, read_jdbc

    url = "jdbc:derby:memory:m33oracle;create=true"
    export_jdbc(m33_schem(spark), url, "m33_export_check", mode="overwrite")
    return _schem_agg(read_jdbc(spark, url, "m33_export_check"))
