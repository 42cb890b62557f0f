"""User-defined function surface (SURVEY §2 Tier B 'UDF/UDAF'), the fast
way: Arrow-vectorized ``pandas_udf`` for scalar functions and grouped
aggregates. Row-at-a-time Python UDFs are deliberately absent.

UDFs are constructed lazily inside each query (pandas_udf type resolution
needs an active SparkSession, and the registry imports at module scope).

Determinism note: the grouped-aggregate UDF works in integer cents inside
pandas (int64 sums are order-independent), so its result is exact and the
DuckDB oracle matches bit-for-bit — the same discipline as the built-in
aggregate queries.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from hdfs_hive_sql_playground_spark.queries import exact_cents, register
from hdfs_hive_sql_playground_spark.tables import load


@register(
    "q09_pandas_udf_scalar",
    oracle="""
    SELECT
      p_partkey,
      upper(reverse(p_name)) AS rev_name,
      CAST(length(regexp_replace(p_name, '[^aeiouAEIOU]', '', 'g')) AS INTEGER) AS n_vowels
    FROM part
    """,
    doc="Arrow-vectorized scalar pandas_udf (string reverse/upper + vowel "
    "count) — the UDF surface with batch transfer, no per-row Python.",
)
def q09_pandas_udf_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    @pandas_udf("string")
    def rev_upper(s: pd.Series) -> pd.Series:
        return s.str[::-1].str.upper()

    @pandas_udf("int")
    def vowel_count(s: pd.Series) -> pd.Series:
        return s.str.count("[aeiouAEIOU]").astype("int32")

    p = load(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        rev_upper(F.col("p_name")).alias("rev_name"),
        vowel_count(F.col("p_name")).alias("n_vowels"),
    )


@register(
    "q19_pandas_udaf_weighted",
    oracle="""
    SELECT
      l_returnflag,
      ROUND(
        CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                 * CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)) AS DOUBLE)
        / CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)) AS DOUBLE)
        / 100.0, 6) AS weighted_avg_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Grouped-aggregate pandas_udf (quantity-weighted mean price) over "
    "exact integer cents — a UDAF through Arrow with an exact oracle.",
)
def q19_pandas_udaf_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    @pandas_udf("double")
    def weighted_price(price_c: pd.Series, qty_c: pd.Series) -> float:
        # integer cents in, exact int64 sums, one double division out
        num = int((price_c.astype("int64") * qty_c.astype("int64")).sum())
        den = int(qty_c.astype("int64").sum())
        return round(num / den / 100.0, 6) if den else float("nan")

    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        exact_cents("l_extendedprice").alias("price_c"),
        exact_cents("l_quantity").alias("qty_c"),
    )
    return li.groupBy("l_returnflag").agg(
        weighted_price(F.col("price_c"), F.col("qty_c")).alias("weighted_avg_price")
    )


@register(
    "q111_grouped_map_demean",
    oracle="""
    WITH o AS (
      SELECT o_orderkey, o_custkey,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_c
      FROM orders
    )
    SELECT o_orderkey, o_custkey,
           CAST(price_c * COUNT(*) OVER (PARTITION BY o_custkey)
                - SUM(price_c) OVER (PARTITION BY o_custkey) AS BIGINT)
             AS dev_scaled_c,
           CAST(COUNT(*) OVER (PARTITION BY o_custkey) AS BIGINT) AS n_orders
    FROM o
    """,
    doc="Grouped-MAP pandas UDF (applyInPandas): per-customer demeaned "
    "order price, kept exact by scaling — dev_scaled_c = price_c * n - "
    "sum_c is pure int64 arithmetic, so the whole-group transform is "
    "bit-identical to the window-function oracle. Completes the pandas "
    "UDF family (scalar q09, grouped-agg q19, grouped-map here). The "
    "grouped-map key is a synthetic hash BUCKET of o_custkey (~4x cores "
    "buckets), not the raw customer key: the per-customer demean runs as "
    "a vectorized pandas groupby-transform inside each bucket, so the "
    "shuffle is still one hash exchange and the Python-call count tracks "
    "the cluster, not customer cardinality (round 13, guide §4).",
)
def q111_grouped_map_demean(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The grouped-map key is a hash BUCKET of the customer key, not the
    # customer key itself (round 13, guide §4): Spark ships every
    # applyInPandas group as its own Arrow batch and Python call, so
    # keying on ~15k customers paid ~15k tiny-batch boundary crossings —
    # a measured 12.4 s trivial-body floor at sf0.1 that no body change
    # could beat. Bucketing to ~4× cores keys keeps the SAME single hash
    # exchange and the SAME per-customer arithmetic (a vectorized
    # pandas groupby-transform inside each bucket), but the Python-call
    # count now tracks the cluster, not the customer count. price_c
    # arrives int64 and pr * n - s stays pure int64, bit-identical to
    # the window-function oracle.
    def demean(pdf: pd.DataFrame) -> pd.DataFrame:
        # dropna=False: a NULL customer key must form its own group (what
        # Spark's per-customer grouped-map and the window oracle both do),
        # not silently drop its rows from the transform output. NB: with
        # NULLs present, Arrow-to-pandas lands o_custkey (nullable int64)
        # as float64 with NaN — groupby and the int64 round-trip stay
        # exact only while custkeys < 2^53 (fine at any realistic key
        # range; switch to pandas nullable Int64 via types_mapper if keys
        # ever approach that bound).
        g = pdf.groupby("o_custkey", dropna=False)["price_c"]
        n = g.transform("size").to_numpy()
        s = g.transform("sum").to_numpy()
        pr = pdf["price_c"].to_numpy()
        return pd.DataFrame(
            {
                "o_orderkey": pdf["o_orderkey"].to_numpy(),
                "o_custkey": pdf["o_custkey"].to_numpy(),
                "dev_scaled_c": pr * n - s,
                "n_orders": n,
            }
        )

    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        exact_cents("o_totalprice").alias("price_c"),
    )
    n_buckets = max(4 * spark.sparkContext.defaultParallelism, 1)
    bucketed = o.withColumn(
        "__bkt", F.pmod(F.xxhash64(F.col("o_custkey")), F.lit(n_buckets))
    )
    return bucketed.groupBy("__bkt").applyInPandas(
        demean,
        schema="o_orderkey bigint, o_custkey bigint, dev_scaled_c bigint, n_orders bigint",
    )
