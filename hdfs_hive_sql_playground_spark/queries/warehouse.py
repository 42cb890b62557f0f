"""Warehouse maintenance operators: MERGE-style upsert and SCD Type-2
dimension builds.

The reference's Hive 3.1.2 surface includes ACID MERGE INTO and the
classic warehouse-dimension workflows built on it. Spark on plain parquet
has no transactional MERGE, so these implement the same semantics as
scale-safe relational plans — which is also exactly how MERGE executes
inside Delta/Iceberg: a key-equi outer join between target and source,
then a projected rewrite. No row ever reaches the driver; the single wide
operation is one shuffle on the merge key.

- q101: MERGE (update-matched / insert-unmatched) of a deterministic CDC
  feed derived from ``orders`` into ``customer``, emitting the op code
  per row like MERGE's matched/not-matched branches.
- q102: SCD2 build — collapse a change log (each customer's orders) into
  validity intervals with ``lead()`` over the change sequence: one window
  shuffle on the dimension key, the textbook scalable SCD2 shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hdfs_hive_sql_playground_spark.queries import exact_cents, register
from hdfs_hive_sql_playground_spark.tables import load

# Exact-cents expression shared with the oracle (see memory: never ship
# DECIMAL sums across engines).
_CENTS = "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"

INSERT_KEY_OFFSET = 1_000_000
INSERT_SAMPLE_MAX = 50


@register(
    "q101_merge_upsert",
    oracle=f"""
    WITH changes AS (
      SELECT o_custkey AS c_custkey,
             CAST(SUM({_CENTS}) AS BIGINT) AS new_bal_c
      FROM orders GROUP BY o_custkey
      UNION ALL
      SELECT o_custkey + {INSERT_KEY_OFFSET},
             CAST(SUM({_CENTS}) AS BIGINT)
      FROM orders WHERE o_custkey < {INSERT_SAMPLE_MAX} GROUP BY o_custkey
    ),
    base AS (
      SELECT c_custkey,
             CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS bal_c
      FROM customer
    )
    SELECT
      COALESCE(b.c_custkey, ch.c_custkey) AS c_custkey,
      COALESCE(ch.new_bal_c, b.bal_c) AS bal_c,
      CASE WHEN b.c_custkey IS NULL THEN 'I'
           WHEN ch.c_custkey IS NULL THEN 'K'
           ELSE 'U' END AS op
    FROM base b FULL OUTER JOIN changes ch ON b.c_custkey = ch.c_custkey
    """,
    doc="MERGE INTO semantics on plain parquet: a CDC feed (per-customer "
    "order totals, plus synthetic beyond-range keys exercising the "
    "not-matched branch) full-outer-joins the target on the merge key; "
    "matched rows update ('U'), unmatched-source rows insert ('I'), "
    "unmatched-target rows keep ('K'). One shuffle on the merge key — the "
    "same physical shape Delta/Iceberg MERGE plans. Hive-parity target: "
    "ACID MERGE INTO (Tier B DML).",
)
def q101_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    cents = F.expr(_CENTS)
    updates = o.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.sum(cents).cast("bigint").alias("new_bal_c")
    )
    inserts = (
        o.filter(F.col("o_custkey") < INSERT_SAMPLE_MAX)
        .groupBy((F.col("o_custkey") + INSERT_KEY_OFFSET).alias("c_custkey"))
        .agg(F.sum(cents).cast("bigint").alias("new_bal_c"))
    )
    changes = updates.unionByName(inserts)
    base = load(spark, sf_dir, "customer").select(
        "c_custkey",
        exact_cents("c_acctbal").alias("bal_c"),
    )
    b, ch = base.alias("b"), changes.alias("ch")
    return b.join(ch, F.col("b.c_custkey") == F.col("ch.c_custkey"), "full_outer").select(
        F.coalesce(F.col("b.c_custkey"), F.col("ch.c_custkey")).alias("c_custkey"),
        F.coalesce(F.col("ch.new_bal_c"), F.col("b.bal_c")).alias("bal_c"),
        F.when(F.col("b.c_custkey").isNull(), "I")
        .when(F.col("ch.c_custkey").isNull(), "K")
        .otherwise("U")
        .alias("op"),
    )


@register(
    "q102_scd2_build",
    oracle=f"""
    SELECT
      o_custkey AS cust_key,
      o_orderdate AS valid_from,
      LEAD(o_orderdate) OVER w AS valid_to,
      CAST({_CENTS} AS BIGINT) AS attr_price_c,
      CAST(CASE WHEN LEAD(o_orderdate) OVER w IS NULL THEN 1 ELSE 0 END AS INTEGER)
        AS is_current
    FROM orders
    WHERE o_custkey < 500
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY o_orderdate NULLS FIRST, o_orderkey)
    """,
    doc="SCD Type-2 dimension build: each change record becomes a validity "
    "interval [valid_from, valid_to) via lead() over the per-key change "
    "sequence; the open interval is flagged current. ONE shuffle on the "
    "dimension key builds the whole history — no self-join, no per-row "
    "lookups — which is the shape that survives a 100 TB change log. "
    "Ties broken by (date, orderkey) so intervals are engine-deterministic, "
    "and a NULL change date is pinned NULLS FIRST on both sides (unknown "
    "start = beginning of history, never the CURRENT row — the engines' "
    "defaults differ exactly here: Spark ASC is nulls-first, DuckDB "
    "nulls-last; found by the round-9 adversarial warehouse gate). "
    "Hive-parity target: dimension-maintenance DML workflows.",
)
def q102_scd2_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    o = load(spark, sf_dir, "orders").filter(F.col("o_custkey") < 500)
    # asc_nulls_first explicit (Spark's default, DuckDB's is not): a NULL
    # change date opens the history, it never becomes the current row.
    w = Window.partitionBy("o_custkey").orderBy(
        F.asc_nulls_first("o_orderdate"), "o_orderkey"
    )
    valid_to = F.lead("o_orderdate").over(w)
    return o.select(
        F.col("o_custkey").alias("cust_key"),
        F.col("o_orderdate").alias("valid_from"),
        valid_to.alias("valid_to"),
        F.expr(_CENTS).alias("attr_price_c"),
        F.when(valid_to.isNull(), 1).otherwise(0).cast("int").alias("is_current"),
    )
