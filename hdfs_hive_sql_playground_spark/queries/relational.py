"""Relational query surface — the Tier B Hive-SQL capability inventory of
SURVEY.md §2 (joins, aggregation, windows, sort/limit, set ops, scalar
functions, lateral views, subqueries), exercised as idiomatic DataFrame
plans over the driver's TPC-H-ish tables.

Reference basis: the pass-through HiveQL surface reachable via
``playground.py:745-750`` (``exec-hive-query``). Each query here has a
DuckDB oracle; numeric outputs are exact integer cents (BIGINT) for sums
and exact-sum-derived 6-dp doubles for averages, so both engines hash
identically (see ``exact_cents``/``_avg6``).

Scale notes (100 TB design point):
- Dimension joins (region/nation/supplier/part at TPC-H proportions) are
  explicitly broadcast — no shuffle of the fact table for them.
- Fact-fact joins (orders ⋈ lineitem) shuffle on the join key; AQE handles
  skew splitting and partition coalescing.
- Aggregations are expressed as single groupBy().agg() so Catalyst plans
  partial (map-side) + final aggregation — no two-pass tricks needed.
- Filters are applied straight on the scan DataFrame so they push into the
  parquet reader (verify via plans.assert_pushed_filters).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hdfs_hive_sql_playground_spark.dialect import field
from hdfs_hive_sql_playground_spark.queries import exact_cents, register
from hdfs_hive_sql_playground_spark.tables import load


def _avg6(cents_sum, divisor):
    """Deterministic 6-dp average from an exact integer sum: int→double is
    exact (< 2^53), the division operands are identical on both engines,
    and a 6-dp ROUND of a non-tie double is engine-independent."""
    return F.round(cents_sum.cast("double") / divisor, 6)


# ---------------------------------------------------------------------------
# Aggregation
# ---------------------------------------------------------------------------


@register(
    "q01_pricing_summary",
    oracle="""
    SELECT
      l_returnflag,
      l_linestatus,
      CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_qty_c,
      CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_base_price_c,
      CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
          * (100 - CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT))) AS BIGINT) AS sum_disc_price_e4,
      ROUND(CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)) AS DOUBLE)
            / (COUNT(*) * 100.0), 6) AS avg_qty,
      ROUND(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS DOUBLE)
            / (COUNT(*) * 100.0), 6) AS avg_price,
      ROUND(CAST(SUM(CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT)) AS DOUBLE)
            / (COUNT(*) * 100.0), 6) AS avg_disc,
      COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1-style grouped aggregation with partial+final agg (SURVEY §2 Tier B 'Aggregation'). "
    "Money sums in exact integer cents; disc_price in 1e-4 dollar units.",
    bench=True,
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    n = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(exact_cents("l_quantity")).alias("sum_qty_c"),
            F.sum(exact_cents("l_extendedprice")).alias("sum_base_price_c"),
            F.sum(exact_cents("l_extendedprice") * (100 - exact_cents("l_discount"))).alias(
                "sum_disc_price_e4"
            ),
            _avg6(F.sum(exact_cents("l_quantity")), n * 100.0).alias("avg_qty"),
            _avg6(F.sum(exact_cents("l_extendedprice")), n * 100.0).alias("avg_price"),
            _avg6(F.sum(exact_cents("l_discount")), n * 100.0).alias("avg_disc"),
            n.alias("count_order"),
        )
    )


@register(
    "q02_distinct_agg",
    oracle="""
    SELECT
      o_orderpriority,
      CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
      COUNT(*) AS n_orders,
      CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
      CAST(MAX(o_orderkey) AS BIGINT) AS max_key
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc="DISTINCT aggregate alongside plain aggregates (Hive DISTINCT agg; Spark plans expand+two-phase agg).",
)
def q02_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.count_distinct(F.col("o_custkey")).alias("n_customers"),
            F.count(F.lit(1)).alias("n_orders"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )
    )


@register(
    "q03_rollup",
    oracle="""
    SELECT
      l_returnflag,
      l_linestatus,
      CAST(GROUPING(l_returnflag) AS INTEGER) AS g_rf,
      CAST(GROUPING(l_linestatus) AS INTEGER) AS g_ls,
      CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_price_c,
      COUNT(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    doc="ROLLUP with GROUPING() markers (Hive GROUPING SETS family).",
)
def q03_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").cast("int").alias("g_rf"),
            F.grouping("l_linestatus").cast("int").alias("g_ls"),
            F.sum(exact_cents("l_extendedprice")).alias("sum_price_c"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@register(
    "q04_cube",
    oracle="""
    SELECT
      o_orderstatus,
      o_orderpriority,
      CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_st,
      CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_pr,
      COUNT(*) AS n,
      CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_price_c
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    doc="CUBE over two dimensions (Hive CUBE).",
)
def q04_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping("o_orderstatus").cast("int").alias("g_st"),
            F.grouping("o_orderpriority").cast("int").alias("g_pr"),
            F.count(F.lit(1)).alias("n"),
            F.sum(exact_cents("o_totalprice")).alias("sum_price_c"),
        )
    )


@register(
    "q05_grouping_sets",
    oracle="""
    SELECT
      l_returnflag,
      l_shipmode_none AS l_linestatus,
      COUNT(*) AS n
    FROM (
      SELECT l_returnflag, l_linestatus AS l_shipmode_none FROM lineitem
    )
    GROUP BY GROUPING SETS ((l_returnflag), (l_shipmode_none), ())
    """,
    doc="Explicit GROUPING SETS (Hive GROUPING SETS).",
)
def q05_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("_gs_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n
        FROM _gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


# ---------------------------------------------------------------------------
# Joins
# ---------------------------------------------------------------------------


@register(
    "q10_join_chain_revenue",
    oracle="""
    SELECT
      c.c_mktsegment,
      CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
          * (100 - CAST(CAST(l.l_discount AS DECIMAL(18,2)) * 100 AS BIGINT))) AS BIGINT) AS revenue_e4,
      COUNT(*) AS n_lineitems,
      CAST(COUNT(DISTINCT o.o_orderkey) AS BIGINT) AS n_orders
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderstatus <> 'F'
    GROUP BY c.c_mktsegment
    """,
    doc="Fact-fact-dim equi-join chain customer⋈orders⋈lineitem with "
    "post-join agg (Hive inner join). The plan pre-aggregates lineitem per "
    "l_orderkey BEFORE the join — partial agg on the fact's natural key "
    "needs no distinct-expand, the join then moves one row per order "
    "instead of ~4 lineitems, and COUNT(DISTINCT o_orderkey) degenerates "
    "to a plain COUNT of pre-grouped rows. Same single lineitem exchange "
    "(the aggregation key IS the join key, so the join reuses its "
    "partitioning); at 100 TB this is the difference between shuffling "
    "the lineitem fact twice (join + distinct-expand) and once.",
    bench=True,
)
def q10_join_chain_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") != "F")
    li = load(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(
        F.sum(exact_cents("l_extendedprice") * (100 - exact_cents("l_discount"))).alias(
            "_rev"
        ),
        F.count(F.lit(1)).alias("_nli"),
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(per_order, o.o_orderkey == per_order.l_orderkey)
        .groupBy("c_mktsegment")
        .agg(
            F.sum("_rev").alias("revenue_e4"),
            F.sum("_nli").alias("n_lineitems"),
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        )
    )


@register(
    "q11_broadcast_dim_join",
    oracle="""
    SELECT
      r.r_name,
      n.n_name,
      COUNT(*) AS n_customers,
      CAST(SUM(CAST(CAST(c.c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_acctbal_c
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    """,
    doc="Star-schema dim joins; nation/region are broadcast so the fact side never shuffles for the join.",
)
def q11_broadcast_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    n = F.broadcast(load(spark, sf_dir, "nation"))
    r = F.broadcast(load(spark, sf_dir, "region"))
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(exact_cents("c_acctbal")).alias("sum_acctbal_c"),
        )
    )


@register(
    "q12_region_revenue",
    oracle="""
    SELECT
      r.r_name,
      CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
          * (100 - CAST(CAST(l.l_discount AS DECIMAL(18,2)) * 100 AS BIGINT))) AS BIGINT) AS revenue_e4
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY r.r_name
    """,
    doc="TPC-H Q5-style 5-way join: shuffle join on fact keys, broadcast on dims, date filter pushed to scan.",
    bench=True,
)
def q12_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    c = load(spark, sf_dir, "customer")
    n = F.broadcast(load(spark, sf_dir, "nation"))
    r = F.broadcast(load(spark, sf_dir, "region"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(F.sum(exact_cents("l_extendedprice") * (100 - exact_cents("l_discount"))).alias("revenue_e4"))
    )


@register(
    "q13_semi_join",
    oracle="""
    SELECT c.c_custkey, c.c_name
    FROM customer c
    WHERE EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000
    )
    """,
    doc="LEFT SEMI join (Hive LEFT SEMI JOIN / EXISTS).",
)
def q13_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@register(
    "q14_anti_join",
    oracle="""
    SELECT c.c_custkey, c.c_name, c.c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
    )
    """,
    doc="LEFT ANTI join: customers with no orders (Hive NOT EXISTS rewrite).",
)
def q14_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


@register(
    "q15_outer_join_coalesce",
    oracle="""
    SELECT
      c.c_custkey,
      COALESCE(CAST(o.n_orders AS BIGINT), 0) AS n_orders,
      COALESCE(o.max_price, -1.0) AS max_price
    FROM customer c
    LEFT JOIN (
      SELECT o_custkey, COUNT(*) AS n_orders, MAX(o_totalprice) AS max_price
      FROM orders GROUP BY o_custkey
    ) o ON c.c_custkey = o.o_custkey
    """,
    doc="LEFT OUTER join against a pre-aggregated subquery + COALESCE null handling.",
)
def q15_outer_join_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    agg = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.max("o_totalprice").alias("max_price"),
        )
    )
    return c.join(agg, c.c_custkey == agg.o_custkey, "left").select(
        "c_custkey",
        F.coalesce(F.col("n_orders"), F.lit(0).cast("bigint")).alias("n_orders"),
        F.coalesce(F.col("max_price"), F.lit(-1.0)).alias("max_price"),
    )


@register(
    "q16_theta_self_join",
    oracle="""
    SELECT
      a.n_name AS nation_a,
      b.n_name AS nation_b
    FROM nation a
    JOIN nation b
      ON a.n_regionkey = b.n_regionkey AND a.n_nationkey < b.n_nationkey
    """,
    doc="Self theta-join (equi on region + inequality predicate) — Hive theta join support.",
)
def q16_theta_self_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = load(spark, sf_dir, "nation").alias("a")
    b = load(spark, sf_dir, "nation").alias("b")
    return a.join(
        b,
        (F.col("a.n_regionkey") == F.col("b.n_regionkey"))
        & (F.col("a.n_nationkey") < F.col("b.n_nationkey")),
    ).select(F.col("a.n_name").alias("nation_a"), F.col("b.n_name").alias("nation_b"))


# ---------------------------------------------------------------------------
# Windows
# ---------------------------------------------------------------------------


@register(
    "q20_window_rank",
    oracle="""
    SELECT * FROM (
      SELECT
        o_custkey,
        o_orderkey,
        o_totalprice,
        CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn,
        CAST(RANK()       OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rk,
        CAST(DENSE_RANK() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS drk
      FROM orders
    ) WHERE rn <= 3
    """,
    doc="ROW_NUMBER/RANK/DENSE_RANK per-partition top-k (Hive windowing).",
    bench=True,
)
def q20_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        load(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).cast("int").alias("rn"),
            F.rank().over(w).cast("int").alias("rk"),
            F.dense_rank().over(w).cast("int").alias("drk"),
        )
        .filter(F.col("rn") <= 3)
    )


@register(
    "q21_window_running_sum",
    oracle="""
    SELECT
      o_custkey,
      o_orderkey,
      CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
           OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_spend_c,
      ROUND(AVG(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
           OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) / 100.0, 6) AS moving_avg
    FROM orders
    """,
    doc="Running aggregate with explicit ROWS frame + moving average (Hive window frames). "
    "Exact cents arithmetic; moving avg over ≤3 exact ints is engine-independent. "
    "Scale note: per-customer history is naturally bounded; for unbounded keys at "
    "100 TB, pre-bucket the partition key by date (as q67's rollup cascade does) so "
    "window state stays executor-sized.",
)
def q21_window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    moving = w.rowsBetween(-2, Window.currentRow)
    return load(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.sum(exact_cents("o_totalprice")).over(running).alias("running_spend_c"),
        F.round(F.avg(exact_cents("o_totalprice")).over(moving) / 100.0, 6).alias("moving_avg"),
    )


@register(
    "q22_lead_lag",
    oracle="""
    SELECT
      user_id,
      event_id,
      event_type,
      LAG(event_type)  OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
      LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type,
      CAST(epoch_us(ts) - epoch_us(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS BIGINT) AS gap_us
    FROM events
    """,
    doc="LEAD/LAG with deterministic ordering; gap in exact integer microseconds. "
    "Scale note: partitions are per-user; an unbounded-history user would need "
    "date-bucketed windows (see q67) to bound sort/state per partition.",
)
def q22_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = load(spark, sf_dir, "events")
    return ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
        F.lead("event_type").over(w).alias("next_type"),
        (F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))).alias("gap_us"),
    )


@register(
    "q23_ntile_first_last",
    oracle="""
    SELECT
      c_mktsegment,
      c_custkey,
      CAST(NTILE(4) OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS INTEGER) AS quartile,
      FIRST_VALUE(c_custkey) OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS top_cust,
      LAST_VALUE(c_custkey) OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS bottom_cust
    FROM customer
    """,
    doc="NTILE + FIRST_VALUE/LAST_VALUE with full-partition frame.",
)
def q23_ntile_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return load(spark, sf_dir, "customer").select(
        "c_mktsegment",
        "c_custkey",
        F.ntile(4).over(w).cast("int").alias("quartile"),
        F.first("c_custkey").over(w).alias("top_cust"),
        F.last("c_custkey").over(wfull).alias("bottom_cust"),
    )


# ---------------------------------------------------------------------------
# Sort / limit / set ops
# ---------------------------------------------------------------------------


@register(
    "q30_topk_orders",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
    doc="Global top-k: Spark plans TakeOrderedAndProject (no full sort materialization).",
)
def q30_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
    )


@register(
    "q31_set_ops",
    oracle="""
    SELECT 'big_spender_and_buyer' AS tag, c_custkey FROM (
      SELECT c_custkey FROM customer WHERE c_acctbal > 5000
      INTERSECT
      SELECT DISTINCT o_custkey AS c_custkey FROM orders
    )
    UNION ALL
    SELECT 'rich_non_buyer' AS tag, c_custkey FROM (
      SELECT c_custkey FROM customer WHERE c_acctbal > 5000
      EXCEPT
      SELECT DISTINCT o_custkey AS c_custkey FROM orders
    )
    """,
    doc="INTERSECT / EXCEPT / UNION ALL in one plan (Hive set operators).",
)
def q31_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    rich = (
        load(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 5000).select("c_custkey")
    )
    buyers = load(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey")).distinct()
    both = rich.intersect(buyers).select(F.lit("big_spender_and_buyer").alias("tag"), "c_custkey")
    only_rich = rich.exceptAll(buyers).distinct().select(
        F.lit("rich_non_buyer").alias("tag"), "c_custkey"
    )
    return both.unionByName(only_rich)


# ---------------------------------------------------------------------------
# Scalar functions (the m33 view's function family: SURVEY §2 A7-A14)
# ---------------------------------------------------------------------------


@register(
    "q40_string_funcs",
    oracle="""
    SELECT
      p_partkey,
      UPPER(p_name) AS name_upper,
      SUBSTR(p_name, 1, 5) AS name_prefix,
      TRIM(CONCAT('  ', p_name, '  ')) AS name_trimmed,
      REGEXP_EXTRACT(p_brand, '#(\\d+)', 1) AS brand_num,
      CAST(LENGTH(p_name) AS INTEGER) AS name_len,
      REPLACE(p_type, 'O', '0') AS type_leet,
      CAST(STRPOS(p_name, ' ') AS INTEGER) AS space_pos
    FROM part
    """,
    doc="String function family: upper/substr/trim/concat/regexp_extract/length/replace/instr (m33 view A8-A11).",
)
def q40_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.substring("p_name", 1, 5).alias("name_prefix"),
        F.trim(F.concat(F.lit("  "), F.col("p_name"), F.lit("  "))).alias("name_trimmed"),
        F.regexp_extract("p_brand", r"#(\d+)", 1).alias("brand_num"),
        F.length("p_name").alias("name_len"),
        F.replace(F.col("p_type"), F.lit("O"), F.lit("0")).alias("type_leet"),
        F.instr(F.col("p_name"), " ").alias("space_pos"),
    )


@register(
    "q41_split_array_cast",
    oracle="""
    SELECT
      p_partkey,
      string_split(p_name, ' ')[1] AS word0,
      string_split(p_name, ' ')[2] AS word1,
      CAST(len(string_split(p_name, ' ')) AS INTEGER) AS n_words,
      CAST(REGEXP_EXTRACT(p_brand, '#(\\d+)', 1) AS BIGINT) AS brand_id,
      CAST(p_size AS DOUBLE) AS size_d
    FROM part
    """,
    doc="split → array index/size + CAST chain: the exact m33-view pattern (split(trim(x)) + data[i] + cast, A7/A10/A12).",
)
def q41_split_array_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part")
    words = F.split(F.col("p_name"), " ")
    return p.select(
        "p_partkey",
        words.getItem(0).alias("word0"),
        words.getItem(1).alias("word1"),
        F.size(words).alias("n_words"),
        F.regexp_extract("p_brand", r"#(\d+)", 1).cast("bigint").alias("brand_id"),
        F.col("p_size").cast("double").alias("size_d"),
    )


@register(
    "q42_conditional",
    oracle="""
    SELECT
      c_custkey,
      CASE WHEN c_acctbal < 0 THEN 'debt'
           WHEN c_acctbal < 5000 THEN 'low'
           ELSE 'high' END AS bal_bucket,
      COALESCE(NULLIF(c_mktsegment, 'FURNITURE'), 'OTHER') AS segment_or_other,
      CASE WHEN c_nationkey % 2 = 0 THEN CAST(1 AS INTEGER) ELSE CAST(0 AS INTEGER) END AS even_nation,
      GREATEST(c_acctbal, 0.0) AS bal_floor,
      LEAST(CAST(c_nationkey AS INTEGER), 10) AS nation_cap
    FROM customer
    """,
    doc="CASE/NULLIF/COALESCE/GREATEST/LEAST conditional family.",
)
def q42_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.when(F.col("c_acctbal") < 0, "debt")
        .when(F.col("c_acctbal") < 5000, "low")
        .otherwise("high")
        .alias("bal_bucket"),
        F.coalesce(F.nullif(F.col("c_mktsegment"), F.lit("FURNITURE")), F.lit("OTHER")).alias(
            "segment_or_other"
        ),
        F.when(F.col("c_nationkey") % 2 == 0, F.lit(1)).otherwise(F.lit(0)).alias("even_nation"),
        F.greatest(F.col("c_acctbal"), F.lit(0.0)).alias("bal_floor"),
        F.least(F.col("c_nationkey").cast("int"), F.lit(10)).alias("nation_cap"),
    )


@register(
    "q43_math_funcs",
    oracle="""
    SELECT
      l_orderkey,
      l_linenumber,
      ROUND(ABS(l_discount - 0.05), 6) AS disc_dev,
      CAST(CEIL(l_quantity) AS BIGINT) AS qty_ceil,
      CAST(FLOOR(l_quantity) AS BIGINT) AS qty_floor,
      ROUND(SQRT(l_extendedprice), 6) AS price_sqrt,
      ROUND(LN(l_extendedprice + 1), 6) AS price_ln,
      ROUND(POW(l_tax + 1, 2), 6) AS tax_sq,
      CAST(l_partkey % 7 AS BIGINT) AS pk_mod
    FROM lineitem
    """,
    doc="Math function family (abs/ceil/floor/sqrt/ln/pow/mod) — single-op float results are bit-identical across engines.",
)
def q43_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.abs(F.col("l_discount") - 0.05), 6).alias("disc_dev"),
        F.ceil("l_quantity").alias("qty_ceil"),
        F.floor("l_quantity").alias("qty_floor"),
        F.round(F.sqrt("l_extendedprice"), 6).alias("price_sqrt"),
        F.round(F.log(F.col("l_extendedprice") + 1), 6).alias("price_ln"),
        F.round(F.pow(F.col("l_tax") + 1, 2), 6).alias("tax_sq"),
        (F.col("l_partkey") % 7).alias("pk_mod"),
    )


@register(
    "q44_date_funcs",
    oracle="""
    SELECT
      CAST(YEAR(o_orderdate) AS INTEGER) AS order_year,
      CAST(MONTH(o_orderdate) AS INTEGER) AS order_month,
      CAST(DAYOFWEEK(o_orderdate) + 1 AS INTEGER) AS order_dow,
      COUNT(*) AS n,
      CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_price_c
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
    GROUP BY 1, 2, 3
    """,
    doc="Date extraction family (year/month/dayofweek) + grouped agg over time. "
    "Spark dayofweek is Sunday=1..Saturday=7; DuckDB DAYOFWEEK is Sunday=0, hence the +1.",
)
def q44_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp")
    )
    return (
        o.groupBy(
            F.year("o_orderdate").alias("order_year"),
            F.month("o_orderdate").alias("order_month"),
            F.dayofweek("o_orderdate").alias("order_dow"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(exact_cents("o_totalprice")).alias("sum_price_c"),
        )
    )


@register(
    "q45_field_function",
    oracle="""
    SELECT
      o_orderkey,
      CAST(CASE o_orderstatus WHEN 'F' THEN 1 WHEN 'O' THEN 2 WHEN 'P' THEN 3 ELSE 0 END AS INTEGER) AS status_field,
      CAST(CASE o_orderstatus WHEN 'F' THEN 1 WHEN 'O' THEN 2 WHEN 'P' THEN 3 ELSE 0 END - 1 AS INTEGER) AS status_idx
    FROM orders
    """,
    doc="Hive field() semantics (1-based index in list, 0 if absent) — the m33 view's A13; JVM-side via array_position.",
)
def q45_field_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    fld = field("o_orderstatus", "F", "O", "P")
    return o.select(
        "o_orderkey",
        fld.alias("status_field"),
        (fld - F.lit(1)).cast("int").alias("status_idx"),
    )


# ---------------------------------------------------------------------------
# Lateral views / subqueries
# ---------------------------------------------------------------------------


@register(
    "q50_explode_tokens",
    oracle="""
    SELECT word, COUNT(*) AS freq
    FROM (
      SELECT UNNEST(string_split(text, ' ')) AS word
      FROM documents WHERE doc_id < 200
    )
    WHERE word <> ''
    GROUP BY word
    """,
    doc="LATERAL VIEW explode(split(...)) — UDTF surface (Hive lateral views).",
)
def q50_explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return (
        d.select(F.explode(F.split(F.col("text"), " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


@register(
    "q51_scalar_subquery",
    oracle="""
    SELECT p_partkey, p_name, p_retailprice
    FROM part
    WHERE CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)
          * (SELECT COUNT(*) FROM part)
        > (SELECT SUM(CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)) FROM part)
    """,
    doc="Uncorrelated scalar subqueries in WHERE ('price above mean', compared in exact "
    "integer arithmetic so the boundary row set is engine-independent).",
)
def q51_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "part").createOrReplaceTempView("_sq_part")
    return spark.sql(
        """
        SELECT p_partkey, p_name, p_retailprice
        FROM _sq_part
        WHERE CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)
              * (SELECT COUNT(*) FROM _sq_part)
            > (SELECT SUM(CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)) FROM _sq_part)
        """
    )


@register(
    "q52_correlated_exists",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
    )
    GROUP BY o_orderpriority
    """,
    doc="TPC-H Q4-style correlated EXISTS → semi-join under the hood.",
)
def q52_correlated_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    for t in ("orders", "lineitem"):
        load(spark, sf_dir, t).createOrReplaceTempView(f"_ce_{t}")
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS order_count
        FROM _ce_orders o
        WHERE EXISTS (
          SELECT 1 FROM _ce_lineitem l
          WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
        )
        GROUP BY o_orderpriority
        """
    )


@register(
    "q53_in_subquery",
    oracle="""
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE s_nationkey IN (
      SELECT n_nationkey FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
      WHERE r.r_name = 'ASIA'
    )
    """,
    doc="IN-subquery with a join inside (Hive IN subquery).",
)
def q53_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    for t in ("supplier", "nation", "region"):
        load(spark, sf_dir, t).createOrReplaceTempView(f"_in_{t}")
    return spark.sql(
        """
        SELECT s_suppkey, s_name
        FROM _in_supplier
        WHERE s_nationkey IN (
          SELECT n_nationkey FROM _in_nation n JOIN _in_region r ON n.n_regionkey = r.r_regionkey
          WHERE r.r_name = 'ASIA'
        )
        """
    )


# ---------------------------------------------------------------------------
# Approximate sketches + skew-mitigation (aggregation family extensions)
# ---------------------------------------------------------------------------


@register(
    "q06_approx_distinct",
    oracle=None,
    doc="HyperLogLog++ approximate distinct counting (Hive approx_distinct "
    "analog): sketch-based, constant memory per group — the 100 TB path for "
    "cardinality. Rows-only driver check (HLL estimates are engine-specific); "
    "tests assert <5% relative error vs exact.",
)
def q06_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("approx_customers"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@register(
    "q06b_hll_exact_check",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_customers,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           TRUE AS hll_within_5pct
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc="q06's hash-checkable companion: exact per-group distinct counts "
    "PLUS an in-plan accuracy assertion on the HyperLogLog++ estimate. The "
    "oracle pins hll_within_5pct to literal TRUE, so the value-hash match "
    "fails if Spark's rsd=0.02 sketch ever strays past 5% relative error — "
    "the approximate path is driver-gated without requiring engines to "
    "agree on estimates (they can't; HLL is implementation-specific).",
)
def q06b_hll_exact_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    exact = F.countDistinct("o_custkey").cast("bigint")
    approx = F.approx_count_distinct("o_custkey", rsd=0.02)
    return o.groupBy("o_orderpriority").agg(
        exact.alias("exact_customers"),
        F.count(F.lit(1)).alias("n_orders"),
        (F.abs(approx.cast("double") - exact.cast("double"))
         <= 0.05 * exact.cast("double")).alias("hll_within_5pct"),
    )


@register(
    "q07_exact_percentiles",
    oracle="""
    SELECT
      l_returnflag,
      ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
      ROUND(quantile_cont(l_extendedprice, 0.95), 6) AS p95,
      ROUND(quantile_cont(l_extendedprice, 0.99), 6) AS p99,
      TRUE AS approx_p50_ok
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Exact interpolated percentiles (Spark percentile == DuckDB "
    "quantile_cont: both linear-interpolate at p*(n-1)). The 100 TB path — "
    "approx_percentile, a mergeable GK sketch whose result can vary with "
    "partition merge order and so can never hash cross-engine — is "
    "exercised and driver-gated q06b-style: approx_p50_ok pins 'the "
    "accuracy-100 sketch's p50 lies between the exact p40 and p60 values' "
    "(far looser than its 1%-rank guarantee, so TRUE under any merge "
    "order) to literal TRUE in the oracle.",
)
def q07_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    # ONE array-percentile aggregate (round 13): the five separate exact
    # percentile() calls each built their own full per-group value buffer
    # (five copies of every group's values); percentile(col, array(...))
    # shares one buffer and reads five quantiles out of it. Element
    # values identical (same exact-interpolation aggregate); measured
    # 7.0 -> 2.58 s at sf0.1, rows bit-identical.
    pcts = F.percentile(
        "l_extendedprice",
        F.array(F.lit(0.4), F.lit(0.5), F.lit(0.6), F.lit(0.95), F.lit(0.99)),
    )
    return (
        li.groupBy("l_returnflag")
        .agg(
            pcts.alias("__p"),
            F.approx_percentile("l_extendedprice", F.lit(0.5), F.lit(100)).alias(
                "__ap"
            ),
        )
        .select(
            "l_returnflag",
            F.round(F.col("__p")[1], 6).alias("p50"),
            F.round(F.col("__p")[3], 6).alias("p95"),
            F.round(F.col("__p")[4], 6).alias("p99"),
            F.col("__ap")
            .between(F.col("__p")[0], F.col("__p")[2])
            .alias("approx_p50_ok"),
        )
    )


@register(
    "q08_salted_agg",
    oracle="""
    SELECT
      l_suppkey,
      COUNT(*) AS n,
      CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_price_c,
      MAX(l_quantity) AS max_qty
    FROM lineitem
    GROUP BY l_suppkey
    """,
    doc="Salted two-phase aggregation (skew.salted_agg): hot keys split across "
    "16 salt buckets before the final merge — identical results to a plain "
    "GROUP BY (the oracle), balanced shuffles under power-law keys.",
)
def q08_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_hive_sql_playground_spark.skew import salted_agg

    li = load(spark, sf_dir, "lineitem")
    return salted_agg(
        li,
        keys=["l_suppkey"],
        aggs={
            "n": ("sum", F.count(F.lit(1))),
            "sum_price_c": ("sum", F.sum(exact_cents("l_extendedprice"))),
            "max_qty": ("max", F.max("l_quantity")),
        },
    )


@register(
    "q46_array_map_funcs",
    oracle="""
    SELECT
      p_partkey,
      CAST(list_contains(string_split(p_name, ' '), 'green') AS BOOLEAN) AS has_green,
      array_to_string(list_sort(string_split(p_name, ' ')), ',') AS sorted_words,
      CAST(len(string_split(p_name, ' ')) AS INTEGER) AS n_words,
      string_split(p_name, ' ')[len(string_split(p_name, ' '))] AS last_word,
      array_to_string(list_reverse(string_split(p_name, ' ')), ',') AS reversed_words
    FROM part
    """,
    doc="Array function family (Hive array ops): contains/sort/size/element_at "
    "(negative index)/reverse over split arrays.",
)
def q46_array_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part")
    words = F.split(F.col("p_name"), " ")
    return p.select(
        "p_partkey",
        F.array_contains(words, "green").alias("has_green"),
        F.concat_ws(",", F.sort_array(words)).alias("sorted_words"),
        F.size(words).alias("n_words"),
        F.element_at(words, -1).alias("last_word"),
        F.concat_ws(",", F.reverse(words)).alias("reversed_words"),
    )


@register(
    "q47_json_tuple",
    oracle="""
    SELECT
      event_id,
      CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
      CAST(CASE WHEN json_extract_string(props, '$.missing') IS NULL THEN 1 ELSE 0 END AS INTEGER) AS missing_is_null,
      CAST(length(props) AS INTEGER) AS props_len
    FROM events
    WHERE event_id < 500
    """,
    doc="JSON extraction family: json_tuple / get_json_object with missing-key "
    "NULL semantics (Hive JSON functions).",
)
def q47_json_tuple(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").filter(F.col("event_id") < 500)
    jt = ev.select(
        "event_id",
        F.json_tuple(F.col("props"), "k", "missing").alias("k_str", "missing_str"),
        F.length("props").alias("props_len"),
    )
    return jt.select(
        "event_id",
        F.col("k_str").cast("bigint").alias("k_val"),
        F.when(F.col("missing_str").isNull(), 1).otherwise(0).cast("int").alias("missing_is_null"),
        F.col("props_len").cast("int"),
    )


@register(
    "q32_distribute_cluster_by",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice
    FROM orders
    WHERE o_totalprice > 100000
    """,
    doc="DISTRIBUTE BY + SORT BY (Hive CLUSTER BY): repartition(col) + "
    "sortWithinPartitions — value-identical to the unordered oracle (the "
    "clustering is a physical property, asserted via plan in tests).",
)
def q32_distribute_cluster_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100000)
    return (
        o.select("o_custkey", "o_orderkey", "o_totalprice")
        .repartition(8, F.col("o_custkey"))
        .sortWithinPartitions("o_custkey", "o_orderkey")
    )


@register(
    "q17_full_outer_join",
    oracle="""
    SELECT
      COALESCE(c.c_nationkey, s.s_nationkey) AS nationkey,
      CAST(COUNT(c.c_custkey) AS BIGINT) AS n_customers,
      CAST(COUNT(s.s_suppkey) AS BIGINT) AS n_suppliers
    FROM (SELECT c_custkey, c_nationkey FROM customer WHERE c_acctbal > 9000) c
    FULL OUTER JOIN (SELECT s_suppkey, s_nationkey FROM supplier) s
      ON c.c_nationkey = s.s_nationkey
    GROUP BY 1
    """,
    doc="FULL OUTER join with COALESCE'd key recovery + asymmetric counts "
    "(Hive full outer join).",
)
def q17_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9000)
        .select("c_custkey", "c_nationkey")
    )
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    return (
        c.join(s, c.c_nationkey == s.s_nationkey, "full_outer")
        .groupBy(F.coalesce(F.col("c_nationkey"), F.col("s_nationkey")).alias("nationkey"))
        .agg(
            F.count("c_custkey").alias("n_customers"),
            F.count("s_suppkey").alias("n_suppliers"),
        )
    )


@register(
    "q24_range_frame_window",
    oracle="""
    SELECT
      o_custkey,
      o_orderkey,
      CAST(date_diff('day', TIMESTAMP '1970-01-01', o_orderdate) AS BIGINT) AS order_day,
      CAST(COUNT(*) OVER (
        PARTITION BY o_custkey
        ORDER BY CAST(date_diff('day', TIMESTAMP '1970-01-01', o_orderdate) AS BIGINT)
        RANGE BETWEEN 30 PRECEDING AND CURRENT ROW
      ) AS BIGINT) AS orders_last_30d
    FROM orders
    """,
    doc="RANGE BETWEEN window frame over a day-number key: trailing-30-day "
    "order counts (Hive RANGE frames; value-based, not row-based). Day "
    "number via calendar datediff — timezone-free on NTZ timestamps.",
)
def q24_range_frame_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    day = F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date")).cast("bigint")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("order_day"))
        .rangeBetween(-30, Window.currentRow)
    )
    return (
        o.select("o_custkey", "o_orderkey", day.alias("order_day"))
        .withColumn("orders_last_30d", F.count(F.lit(1)).over(w))
    )


@register(
    "q48_date_arithmetic",
    oracle="""
    SELECT
      o_orderkey,
      CAST(o_orderdate + INTERVAL 90 DAY AS TIMESTAMP) AS due_date,
      CAST(date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS INTEGER) AS days_since_95,
      CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS order_month,
      CAST(date_diff('month', o_orderdate, TIMESTAMP '1999-01-01') AS INTEGER) AS months_to_99,
      CAST(date_diff('day', TIMESTAMP '1970-01-01', o_orderdate) * 86400
           + extract(hour FROM o_orderdate) * 3600
           + extract(minute FROM o_orderdate) * 60
           + extract(second FROM o_orderdate) AS BIGINT) AS epoch_s
    FROM orders
    WHERE o_orderkey < 1000
    """,
    doc="Date arithmetic family: interval add, datediff, date_trunc, month "
    "difference, epoch seconds (Hive date functions). Epoch is computed from "
    "calendar parts (day number + time-of-day), which is timezone-free on "
    "NTZ timestamps — unix_timestamp() would silently depend on session tz.",
)
def q48_date_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 1000)
    return o.select(
        "o_orderkey",
        (F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")).alias("due_date"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date"))
        .cast("int")
        .alias("days_since_95"),
        F.date_trunc("month", F.col("o_orderdate")).alias("order_month"),
        (
            (F.lit(1999) - F.year("o_orderdate")) * 12 - F.month("o_orderdate") + 1
        )
        .cast("int")
        .alias("months_to_99"),
        (
            F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date")).cast("bigint")
            * 86400
            + F.hour("o_orderdate") * 3600
            + F.minute("o_orderdate") * 60
            + F.second("o_orderdate")
        )
        .cast("bigint")
        .alias("epoch_s"),
    )


@register(
    "q49_string_padding",
    oracle="""
    SELECT
      p_partkey,
      lpad(CAST(p_partkey AS VARCHAR), 10, '0') AS padded_key,
      rpad(p_brand, 12, '.') AS padded_brand,
      CAST(length(translate(p_type, 'aeiou', '')) AS INTEGER) AS consonant_len,
      repeat('*', CAST(p_size % 5 AS INTEGER)) AS stars,
      concat_ws('|', p_brand, p_type) AS joined
    FROM part
    """,
    doc="String padding/translate/repeat family (Hive lpad/rpad/translate/"
    "repeat/concat_ws).",
)
def q49_string_padding(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.lpad(F.col("p_partkey").cast("string"), 10, "0").alias("padded_key"),
        F.rpad(F.col("p_brand"), 12, ".").alias("padded_brand"),
        F.length(F.translate(F.col("p_type"), "aeiou", "")).cast("int").alias("consonant_len"),
        F.repeat(F.lit("*"), (F.col("p_size") % 5).cast("int")).alias("stars"),
        F.concat_ws("|", F.col("p_brand"), F.col("p_type")).alias("joined"),
    )


@register(
    "q18_join_hints",
    oracle="""
    SELECT s.s_suppkey, s.s_name, n.n_name
    FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE n.n_regionkey < 3
    """,
    doc="Join strategy hints (Hive MAPJOIN analog): BROADCAST hint on the dim "
    "side pins the plan regardless of statistics; results identical to the "
    "unhinted oracle.",
)
def q18_join_hints(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation").filter(F.col("n_regionkey") < 3).hint("broadcast")
    return s.join(n, s.s_nationkey == n.n_nationkey).select("s_suppkey", "s_name", "n_name")


@register(
    "q33_set_ops_all",
    oracle="""
    SELECT tag, v FROM (
      SELECT 'inter' AS tag, v FROM (
        SELECT l_suppkey AS v FROM lineitem WHERE l_orderkey < 2000
        INTERSECT ALL
        SELECT l_suppkey AS v FROM lineitem WHERE l_orderkey >= 1000 AND l_orderkey < 3000
      )
      UNION ALL
      SELECT 'exc' AS tag, v FROM (
        SELECT l_suppkey AS v FROM lineitem WHERE l_orderkey < 2000
        EXCEPT ALL
        SELECT l_suppkey AS v FROM lineitem WHERE l_orderkey >= 1000 AND l_orderkey < 3000
      )
    )
    """,
    doc="Multiset INTERSECT ALL / EXCEPT ALL (duplicate-preserving set ops — "
    "Hive 3 supports only DISTINCT variants; Spark adds the ALL forms).",
)
def q33_set_ops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_orderkey") < 2000).select(F.col("l_suppkey").alias("v"))
    b = li.filter((F.col("l_orderkey") >= 1000) & (F.col("l_orderkey") < 3000)).select(
        F.col("l_suppkey").alias("v")
    )
    inter = a.intersectAll(b).select(F.lit("inter").alias("tag"), "v")
    exc = a.exceptAll(b).select(F.lit("exc").alias("tag"), "v")
    return inter.unionByName(exc)


# -- Hive URL / fuzzy-string / xpath UDF parity -----------------------------


@register(
    "q125_url_funcs",
    oracle="""
    WITH d AS (
      SELECT doc_id, lang, source,
             'https://' || source || '.example.com/docs/' || CAST(doc_id AS VARCHAR)
               || '?lang=' || lang || '&ref=r' || CAST(doc_id % 7 AS VARCHAR) AS url
      FROM documents
    )
    SELECT doc_id,
           regexp_extract(url, '^([a-z]+)://', 1) AS proto,
           regexp_extract(url, '://([^/]+)', 1) AS host,
           regexp_extract(url, '://[^/]+(/[^?]*)', 1) AS path,
           regexp_extract(url, '\\?(.*)$', 1) AS query,
           regexp_extract(url, '[?&]lang=([^&]*)', 1) AS query_lang
    FROM d
    """,
    doc="Hive parse_url surface (PROTOCOL/HOST/PATH/QUERY and the keyed "
    "QUERY:<param> form — Hive's parse_url / parse_url_tuple UDFs) over "
    "URLs synthesized deterministically from the documents table, so the "
    "regexp-based oracle is exact by construction. Pure zero-shuffle "
    "projection; the Java URI parser runs JVM-side inside codegen, the "
    "standard plan for log-URL feature extraction at any scale.",
)
def q125_url_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/docs/"),
        F.col("doc_id").cast("string"), F.lit("?lang="), F.col("lang"),
        F.lit("&ref=r"), (F.col("doc_id") % 7).cast("string"),
    )
    return d.select(
        "doc_id",
        F.parse_url(url, F.lit("PROTOCOL")).alias("proto"),
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY")).alias("query"),
        F.parse_url(url, F.lit("QUERY"), F.lit("lang")).alias("query_lang"),
    )


@register(
    "q126_fuzzy_string_funcs",
    oracle="""
    SELECT c_custkey,
           CAST(levenshtein(c_name, c_mktsegment) AS INTEGER) AS lev_name_seg,
           CASE c_mktsegment
             WHEN 'BUILDING'   THEN 'B435'
             WHEN 'AUTOMOBILE' THEN 'A351'
             WHEN 'MACHINERY'  THEN 'M256'
             WHEN 'HOUSEHOLD'  THEN 'H243'
             WHEN 'FURNITURE'  THEN 'F653'
           END AS seg_soundex,
           array_to_string(
             list_transform(str_split(lower(c_name), ' '),
                            w -> upper(w[1:1]) || w[2:]),
             ' ') AS name_initcap,
           format('{:,}', c_custkey * 12345) AS key_fmt
    FROM customer
    """,
    doc="Hive fuzzy/format string UDFs: levenshtein (edit distance — both "
    "engines implement the classic Wagner-Fischer recurrence, but over "
    "DIFFERENT alphabets: Spark edits code points, DuckDB UTF-8 bytes, "
    "so they agree exactly on ASCII only — this query's domain; the "
    "non-ASCII split is pinned in tests/test_adversarial_strings.py), "
    "soundex (the oracle pins the standard algorithm's codes for "
    "the five TPC-H segments — an unexpected segment yields NULL and a "
    "hash mismatch, so the mapping is load-bearing), initcap (oracle "
    "emulates via per-word case split), and format_number with thousands "
    "separators — exercised on BIGINT only, because grouped float "
    "formatting is rounding-mode quicksand cross-engine (Spark "
    "DecimalFormat HALF_EVEN on shortest-repr vs binary-value rounding). "
    "Zero-shuffle projection.",
)
def q126_fuzzy_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.levenshtein(F.col("c_name"), F.col("c_mktsegment")).alias("lev_name_seg"),
        F.soundex(F.col("c_mktsegment")).alias("seg_soundex"),
        F.initcap(F.lower(F.col("c_name"))).alias("name_initcap"),
        F.format_number(F.col("c_custkey") * 12345, 0).alias("key_fmt"),
    )


@register(
    "q127_xpath_funcs",
    oracle="""
    SELECT p_partkey,
           CAST(p_partkey AS INTEGER) AS xkey,
           p_brand AS xbrand,
           CAST(3 AS INTEGER) AS n_leaves
    FROM part
    """,
    doc="Hive xpath UDF over XML synthesized from the part table, so the "
    "oracle is the identity by construction — what is verified is that "
    "Spark's XPath evaluation round-trips the values exactly (types "
    "included: the key extraction yields INTEGER) and that the node-set "
    "form counts leaves correctly. The document is parsed ONCE per row: "
    "a single node-set xpath() call extracts every leaf text in document "
    "order into a named column, and the per-field values are array "
    "element accesses over it — the previous three-call form "
    "(xpath_int + xpath_string + xpath) re-parsed the same XML three "
    "times per row and was the slowest registry query at 5.2 s "
    "(round-13 verdict item 4); equivalence to the three-call form is "
    "pinned by test_q127_single_parse_matches_scalar_xpath_calls on top "
    "of the oracle hash. Zero-shuffle projection; the XML never leaves "
    "the map side.",
)
def q127_xpath_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part")
    xml = F.concat(
        F.lit("<part><key>"), F.col("p_partkey").cast("string"),
        F.lit("</key><size>"), F.col("p_size").cast("string"),
        F.lit("</size><brand>"), F.col("p_brand"), F.lit("</brand></part>"),
    )
    # One parse per row: part/*/text() yields [key, size, brand] texts in
    # document order. xkey is exactly xpath_int's value here — XPath
    # number() of an integer-literal text — and xbrand exactly
    # xpath_string's; both equalities are oracle-hash-checked. The leaves
    # array is a NAMED column so the consumers share the single evaluation
    # (same no-CSE discipline as the gram builders). An empty leaf has no
    # text node, so an empty p_brand would shift xbrand to NULL where
    # xpath_string returns '': the positional read refuses any row without
    # exactly three leaves instead.
    leaves = F.xpath(xml, F.lit("part/*/text()"))
    n_leaves = F.size(F.col("__leaves"))
    brand = F.when(n_leaves == 3, F.element_at(F.col("__leaves"), 3)).otherwise(
        F.raise_error(
            F.concat(
                F.lit("q127_xpath_funcs: expected 3 non-empty XML leaves, got "),
                n_leaves.cast("string"),
                F.lit(" for p_partkey "),
                F.col("p_partkey").cast("string"),
            )
        )
    )
    return p.select("p_partkey", leaves.alias("__leaves")).select(
        "p_partkey",
        F.element_at(F.col("__leaves"), 1).cast("int").alias("xkey"),
        brand.alias("xbrand"),
        n_leaves.alias("n_leaves"),
    )


# -- Statistical & bitwise aggregate families --------------------------------


@register(
    "q128_stats_aggregates",
    oracle="""
    WITH m AS (
      SELECT c_nationkey,
             COUNT(*) AS n,
             SUM(x) AS sx, SUM(x*x) AS sxx,
             SUM(y) AS sy, SUM(y*y) AS syy,
             SUM(x*y) AS sxy
      FROM (
        SELECT c_nationkey,
               CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
               c_custkey AS y
        FROM customer
      )
      GROUP BY c_nationkey
    )
    SELECT c_nationkey,
           CAST(n AS BIGINT) AS n_cust,
           CAST(n*sxx - sx*sx AS DOUBLE) / CAST(n*n AS DOUBLE) AS var_pop_c2,
           CASE WHEN n > 1
                THEN CAST(n*sxx - sx*sx AS DOUBLE) / CAST(n*(n-1) AS DOUBLE)
           END AS var_samp_c2,
           SQRT(CAST(n*sxx - sx*sx AS DOUBLE) / CAST(n*n AS DOUBLE)) AS stddev_pop_c,
           CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*n AS DOUBLE) AS covar_pop,
           CASE WHEN n > 1 AND (n*sxx - sx*sx) > 0 AND (n*syy - sy*sy) > 0
                THEN CAST(n*sxy - sx*sy AS DOUBLE)
                     / SQRT(CAST(n*sxx - sx*sx AS DOUBLE) * CAST(n*syy - sy*sy AS DOUBLE))
           END AS corr_xy,
           TRUE AS var_pop_builtin_ok,
           TRUE AS stddev_samp_builtin_ok,
           TRUE AS corr_builtin_ok,
           TRUE AS covar_samp_builtin_ok
    FROM m
    """,
    doc="Hive statistical aggregate family (var_pop/var_samp/stddev/"
    "covar_pop/covar_samp/corr) with engine-independent checking: the "
    "hash-checked values derive from EXACT int64 moment sums over integer "
    "cents (n, Sx, Sxx, Sxy...), so both engines divide/sqrt identical "
    "integers and every IEEE division/sqrt of them is correctly rounded, so the RAW double results are bit-identical (no ROUND: DuckDB's multiply-based round corrupts >2^53-scaled values that Java's BigDecimal round handles exactly) — a float builtin's "
    "partition-order-dependent summation could never hash stably. The "
    "Spark builtins ARE still exercised and driver-gated q06b-style: four "
    "*_builtin_ok booleans compare var_pop/stddev_samp/corr/covar_samp "
    "builtins to the exact values at 1e-6 relative tolerance, and the "
    "oracle pins them to literal TRUE. One shuffle (partial+final agg on "
    "the group key). The moment sums run in DECIMAL(38,0) — int64 wraps "
    "silently around sf1000 group sizes; decimal is exact to 1e38 and an "
    "in-plan assert_true turns any overflow past that into a loud failure "
    "instead of a wrapped answer (tested with 1e16-cent balances whose "
    "squares exceed 2^63). The guard also pins count(x)==count(*) per "
    "group, so a per-row input cast gone NULL (|balance| >= ~1e16 "
    "dollars overflows the decimal(18,2) cents cast) fails loudly too "
    "instead of being silently dropped by the SUMs.",
)
def q128_stats_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    # Moment sums run in DECIMAL(38,0), not int64: per-row squares of
    # integer cents reach 1e32 once balances hit 1e14 cents, and the
    # n*Sxx - Sx^2 combination squares the group size on top — int64 wraps
    # SILENTLY (non-ANSI) somewhere around sf1000 group sizes, which is
    # exactly the 100 TB regime this engine targets. Decimal keeps every
    # intermediate exact to 1e38; past THAT, Spark's decimal arithmetic
    # yields NULL (never a wrapped value), and the assert_true guard below
    # turns the null into a loud per-row failure instead of a wrong answer.
    # The exact doubles derive by correctly-rounded decimal->double casts,
    # so at oracle scale they are bit-identical to the old int64 path.
    xd = F.col("x").cast("decimal(18,0)")
    yd = F.col("y").cast("decimal(18,0)")
    base = c.select(
        "c_nationkey",
        exact_cents("c_acctbal").alias("x"),
        F.col("c_custkey").alias("y"),
        F.col("c_acctbal").alias("bal_d"),
        F.col("c_custkey").cast("double").alias("key_d"),
    )
    m = base.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n"),
        # Per-row cast overflow (|balance| >= ~1e16 dollars NULLs the
        # decimal(18,2) cast inside exact_cents) would be silently DROPPED by
        # the moment SUMs while n still counts the row — count the non-null
        # inputs so the loud-failure guard below covers the input casts,
        # not just the combination stage.
        F.count(xd).alias("n_x"),
        F.count(yd).alias("n_y"),
        F.sum(xd).alias("sx"),
        F.sum(xd * xd).alias("sxx"),
        F.sum(yd).alias("sy"),
        F.sum(yd * yd).alias("syy"),
        F.sum(xd * yd).alias("sxy"),
        F.var_pop("bal_d").alias("b_var_pop"),
        F.stddev_samp("bal_d").alias("b_stddev_samp"),
        F.corr("bal_d", "key_d").alias("b_corr"),
        F.covar_samp("bal_d", "key_d").alias("b_covar_samp"),
    )
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    sy, syy, sxy = F.col("sy"), F.col("syy"), F.col("sxy")
    nd = n.cast("decimal(18,0)")
    vp_dec = nd * sxx - sx * sx
    vy_dec = nd * syy - sy * sy
    cv_dec = nd * sxy - sx * sy
    nn_dec = nd * nd
    nn1_dec = nd * (nd - 1)
    m = m.filter(
        F.assert_true(
            vp_dec.isNotNull()
            & vy_dec.isNotNull()
            & cv_dec.isNotNull()
            & (n == F.col("n_x"))
            & (n == F.col("n_y")),
            F.lit(
                "q128: a moment sum overflowed (DECIMAL(38,0) combination "
                "or a per-row input cast went NULL) — group size x value "
                "bounds exceed the engine contract"
            ),
        ).isNull()
    )
    vp_num = vp_dec.cast("double")
    vy_num = vy_dec.cast("double")
    cv_num = cv_dec.cast("double")
    nn = nn_dec.cast("double")
    var_pop_exact = vp_num / nn
    var_samp_exact = F.when(n > 1, vp_num / nn1_dec.cast("double"))
    covar_pop_exact = cv_num / nn
    corr_exact = F.when(
        (n > 1) & (vp_dec > 0) & (vy_dec > 0),
        cv_num / F.sqrt(vp_num * vy_num),
    )

    def _close(builtin, exact):
        # callers pass the exact cents-derived value already rescaled to
        # the builtin's dollar units; an undefined exact value (n=1 /
        # zero-variance guards) vacuously passes
        return F.when(exact.isNull(), F.lit(True)).otherwise(
            F.abs(builtin - exact) <= 1e-6 * (F.abs(exact) + F.lit(1.0))
        )

    var_pop_dollars = var_pop_exact / 10000.0
    var_samp_dollars = var_samp_exact / 10000.0
    covar_samp_dollars = F.when(n > 1, cv_num / nn1_dec.cast("double") / 100.0)
    return m.select(
        "c_nationkey",
        n.alias("n_cust"),
        var_pop_exact.alias("var_pop_c2"),
        var_samp_exact.alias("var_samp_c2"),
        F.sqrt(var_pop_exact).alias("stddev_pop_c"),
        covar_pop_exact.alias("covar_pop"),
        corr_exact.alias("corr_xy"),
        _close(F.col("b_var_pop"), var_pop_dollars).alias("var_pop_builtin_ok"),
        _close(F.col("b_stddev_samp"), F.sqrt(var_samp_dollars)).alias(
            "stddev_samp_builtin_ok"
        ),
        _close(F.col("b_corr"), corr_exact).alias("corr_builtin_ok"),
        _close(F.col("b_covar_samp"), covar_samp_dollars).alias(
            "covar_samp_builtin_ok"
        ),
    )


@register(
    "q129_bit_bool_aggs",
    oracle="""
    SELECT c_nationkey,
           bit_and(c_custkey) AS key_and,
           bit_or(c_custkey) AS key_or,
           bit_xor(c_custkey) AS key_xor,
           bool_and(c_acctbal > 0) AS all_positive,
           bool_or(c_acctbal < 0) AS any_debt,
           CAST(SUM(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_debt
    FROM customer
    GROUP BY c_nationkey
    """,
    doc="Bitwise and boolean aggregate family: bit_and/bit_or/bit_xor over "
    "int64 keys and bool_and (Hive: every) / bool_or (some) / count_if over "
    "predicates — all integer/boolean-exact, so cross-engine hash equality "
    "is unconditional. One partial+final agg shuffle on the group key; all "
    "combiners are associative-commutative so map-side partials shrink the "
    "exchange to one row per (partition, key) — the 100 TB shape for flag "
    "rollups.",
)
def q129_bit_bool_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey").agg(
        F.bit_and("c_custkey").alias("key_and"),
        F.bit_or("c_custkey").alias("key_or"),
        F.bit_xor("c_custkey").alias("key_xor"),
        F.bool_and(F.col("c_acctbal") > 0).alias("all_positive"),
        F.bool_or(F.col("c_acctbal") < 0).alias("any_debt"),
        F.count_if(F.col("c_acctbal") < 0).alias("n_debt"),
    )


@register(
    "q131_width_bucket_histogram",
    oracle="""
    WITH c AS (
      SELECT CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS x_c
      FROM customer
    ),
    b AS (
      SELECT CASE WHEN x_c < -100000 THEN 0
                  WHEN x_c >= 1000000 THEN 11
                  ELSE CAST((x_c + 100000) // 110000 AS BIGINT) + 1 END AS bucket
      FROM c
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_in_bucket,
           TRUE AS hn_mass_ok
    FROM b GROUP BY bucket
    """,
    doc="Fixed-width histogram via Hive/Spark width_bucket over the full "
    "TPC-H acctbal domain [-1000, 10000) in cents — bucket boundaries are "
    "exact multiples of the integer width 110000, so the builtin's double "
    "floor agrees bit-for-bit with the oracle's integer div. Spark's "
    "histogram_numeric UDAF (engine-specific adaptive bins — inherently "
    "unhashable cross-engine) is still exercised and driver-gated "
    "q06b-style: hn_mass_ok pins 'the sketch's bin masses sum to the row "
    "count' to literal TRUE. Shape: one partial+final agg on the bucket "
    "id (bounded cardinality 12) plus a 1-row broadcast for the sketch "
    "check — the scalable form of any fixed-bin distribution profile.",
)
def q131_width_bucket_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    base = c.select(
        exact_cents("c_acctbal").cast("double").alias("x_d"),
        F.col("c_acctbal").alias("bal_d"),
    )
    hist = (
        base.select(
            F.width_bucket(F.col("x_d"), F.lit(-100000.0), F.lit(1000000.0), F.lit(10))
            .cast("long")
            .alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_in_bucket"))
    )
    hn_check = base.agg(
        F.expr(
            "abs(aggregate(histogram_numeric(bal_d, 10), cast(0 as double),"
            " (s, b) -> s + b.y) - count(*)) < 1e-6"
        ).alias("hn_mass_ok")
    )
    return hist.crossJoin(F.broadcast(hn_check)).select(
        "bucket", "n_in_bucket", "hn_mass_ok"
    )


@register(
    "q133_array_hof_funcs",
    oracle="""
    WITH b AS (
      SELECT p_partkey, string_split(p_name, ' ') AS w FROM part
    )
    SELECT p_partkey,
           array_to_string(list_sort(w), ' ') AS sorted_words,
           array_to_string(flatten([w, w]), ' ') AS doubled,
           COALESCE(array_to_string(
             list_sort(list_distinct(list_intersect(w, ['red', 'green', 'blue']))),
             ' '), '') AS primary_colors,
           len(list_filter(w, x -> length(x) > 5)) > 0 AS has_long_word,
           len(list_filter(w, x -> NOT regexp_matches(x, '^[a-z]+$'))) = 0
             AS all_alpha,
           list_aggregate(w, 'max') AS max_word,
           array_to_string(
             list_transform(range(1, len(w) + 1), i -> w[i] || '-' || w[len(w) + 1 - i]),
             ' ') AS zip_rev,
           array_to_string(w, ' ') AS sentence_words
    FROM b
    """,
    doc="Spark higher-order array functions over Hive's split output: "
    "array_sort, flatten, array_intersect/array_distinct, exists, forall, "
    "array_max, zip_with (paired with the reversed array), and the Hive "
    "sentences() UDF (BreakIterator tokenization — on the punctuation-free "
    "p_name values it must agree exactly with whitespace split, which is "
    "what the oracle pins; array outputs are serialized with array_join "
    "so the hash compares strings, not nested types). Zero-shuffle "
    "projection; every lambda runs inside codegen, no Python.",
)
def q133_array_hof_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part")
    w = F.split(F.col("p_name"), " ")
    colors = F.array(F.lit("red"), F.lit("green"), F.lit("blue"))
    return p.select(
        "p_partkey",
        F.array_join(F.array_sort(w), " ").alias("sorted_words"),
        F.array_join(F.flatten(F.array(w, w)), " ").alias("doubled"),
        F.array_join(
            F.array_sort(F.array_distinct(F.array_intersect(w, colors))), " "
        ).alias("primary_colors"),
        F.exists(w, lambda x: F.length(x) > 5).alias("has_long_word"),
        F.forall(w, lambda x: x.rlike("^[a-z]+$")).alias("all_alpha"),
        F.array_max(w).alias("max_word"),
        F.array_join(
            F.zip_with(w, F.reverse(w), lambda a, b: F.concat(a, F.lit("-"), b)), " "
        ).alias("zip_rev"),
        F.array_join(F.flatten(F.sentences(F.col("p_name"))), " ").alias(
            "sentence_words"
        ),
    )


@register(
    "q134_explode_outer_map_hofs",
    oracle="""
    WITH b AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 3 = 0 THEN []::VARCHAR[]
                  ELSE [c_mktsegment, upper(c_name)] END AS arr,
             CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS bal_c
      FROM customer
    ),
    exploded AS (
      SELECT c_custkey, bal_c,
             CAST(UNNEST(range(1, len(arr) + 1)) AS INTEGER) - 1 AS pos,
             arr
      FROM b WHERE len(arr) > 0
    )
    SELECT c_custkey, pos, arr[pos + 1] AS val,
           'bal=' || CAST(bal_c * 2 AS VARCHAR) || ',key=' || CAST(c_custkey * 2 AS VARCHAR)
             AS doubled_map,
           CASE WHEN bal_c > 0 THEN 'bal=' || CAST(bal_c AS VARCHAR) ELSE '' END
             AS positive_entries
    FROM exploded
    UNION ALL
    SELECT c_custkey, NULL, NULL,
           'bal=' || CAST(bal_c * 2 AS VARCHAR) || ',key=' || CAST(c_custkey * 2 AS VARCHAR),
           CASE WHEN bal_c > 0 THEN 'bal=' || CAST(bal_c AS VARCHAR) ELSE '' END
    FROM b WHERE len(arr) = 0
    """,
    doc="posexplode_outer (NULL row preserved for empty arrays — the "
    "LATERAL VIEW OUTER semantics Hive users rely on to keep unmatched "
    "parents) plus the map higher-order functions transform_values and "
    "map_filter, checked by serializing the maps to deterministic "
    "'k=v' strings via sorted map_entries (DuckDB's MAP type hashes "
    "differently, strings don't). Every third customer gets an empty "
    "array, so the outer-NULL branch is exercised on real rows. "
    "Zero-shuffle projection.",
)
def q134_explode_outer_map_hofs(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    arr = F.when(
        F.col("c_custkey") % 3 == 0, F.array().cast("array<string>")
    ).otherwise(F.array(F.col("c_mktsegment"), F.upper(F.col("c_name"))))
    bal_c = exact_cents("c_acctbal")
    m = F.create_map(
        F.lit("bal"), bal_c, F.lit("key"), F.col("c_custkey")
    )
    doubled = F.transform_values(m, lambda k, v: v * 2)
    positive = F.map_filter(m, lambda k, v: (k == F.lit("bal")) & (v > 0))

    def _ser(mp):
        return F.array_join(
            F.array_sort(
                F.transform(
                    F.map_entries(mp),
                    lambda e: F.concat(e.key, F.lit("="), e.value.cast("string")),
                )
            ),
            ",",
        )

    return c.select(
        "c_custkey",
        F.posexplode_outer(arr).alias("pos", "val"),
        _ser(doubled).alias("doubled_map"),
        _ser(positive).alias("positive_entries"),
    )
