"""Advanced Tier-B Hive-SQL surface: CTEs, correlated/decorrelated subquery
shapes, PIVOT/UNPIVOT, null-treatment windows, distribution windows, hash and
map/bitwise scalar families, VALUES inline tables, and Hive script TRANSFORM.

Reference basis: the pass-through HiveQL surface reachable via
``exec-hive-query`` (reference ``playground.py:745-750``) — Hive 3.1.2
supports every construct here, so parity requires them even though the
reference's own scripts never exercise them (SURVEY.md §2 Tier B).

Scale notes (100 TB design point):
- q17/q18/q54 decorrelate to joins/semi-joins by Catalyst — no per-row
  subquery execution; the aggregates are partial+final.
- Window queries partition on bounded keys (priority, custkey) — state per
  partition is small; nothing accumulates unbounded history.
- TRANSFORM forks one process per task, not per row; the pipe is buffered.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hdfs_hive_sql_playground_spark.queries import exact_cents, register
from hdfs_hive_sql_playground_spark.tables import load

_CENTS_SQL = "CAST(CAST({col} AS DECIMAL(18,2)) * 100 AS BIGINT)"


@register(
    "q17_custdist",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c.c_custkey AS ck, COUNT(o.o_orderkey) AS c_count
      FROM customer c LEFT OUTER JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    ) c_orders
    GROUP BY c_count
    """,
    doc="TPC-H Q13-style customer order-count distribution: left outer join "
    "with an extra join-side predicate, then a two-level aggregation. The "
    "outer agg re-groups a tiny domain (distinct counts), so the second "
    "shuffle is negligible at any scale.",
)
def q17_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "q18_top_volume_orders",
    oracle=f"""
    SELECT c.c_name, o.o_orderkey, {_CENTS_SQL.format(col='o.o_totalprice')} AS totalprice_c,
           CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS BIGINT)) > 150
    )
    GROUP BY c.c_name, o.o_orderkey, o.o_totalprice
    """,
    doc="TPC-H Q18-style large-volume orders: IN-subquery with HAVING over an "
    "aggregate, decorrelated by Catalyst into a semi-join; quantities summed "
    "as exact BIGINT. The semi-join side reuses the lineitem shuffle "
    "partitioning on l_orderkey.",
)
def q18_top_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("q"))
        .filter(F.col("q") > 150)
        .select("l_orderkey")
    )
    return (
        o.join(big, o.o_orderkey == big.l_orderkey, "left_semi")
        .join(c, o.o_custkey == c.c_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("c_name", "o_orderkey", "o_totalprice")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"))
        .select(
            "c_name",
            "o_orderkey",
            exact_cents("o_totalprice").alias("totalprice_c"),
            "sum_qty",
        )
    )


@register(
    "q24_percent_rank_cume_dist",
    oracle=f"""
    SELECT o_orderkey,
           o_orderpriority,
           percent_rank() OVER w AS pr,
           cume_dist() OVER w AS cd
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY {_CENTS_SQL.format(col='o_totalprice')})
    """,
    doc="Distribution window functions (percent_rank, cume_dist). Ordering key "
    "is exact integer cents so tie groups are engine-identical; both outputs "
    "are ratios of exact ints so the doubles match bit-for-bit.",
)
def q24_percent_rank_cume_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(exact_cents("o_totalprice"))
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    )


@register(
    "q25_ignore_nulls_window",
    oracle="""
    SELECT o_orderkey,
           first_value(nullif(o_orderstatus, 'O') IGNORE NULLS) OVER wf AS first_closed,
           lag(nullif(o_orderstatus, 'O'), 1 IGNORE NULLS) OVER wl AS prev_closed
    FROM orders
    WINDOW wf AS (PARTITION BY o_custkey ORDER BY o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           wl AS (PARTITION BY o_custkey ORDER BY o_orderkey)
    """,
    doc="IGNORE NULLS null-treatment in window functions (first_value / lag "
    "over a sparse column) — Hive/Spark NULL-treatment clause; deterministic "
    "because o_orderkey is unique within each partition.",
)
def q25_ignore_nulls_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "orders").createOrReplaceTempView("_inw_orders")
    return spark.sql(
        """
        SELECT o_orderkey,
               first_value(nullif(o_orderstatus, 'O')) IGNORE NULLS OVER wf AS first_closed,
               lag(nullif(o_orderstatus, 'O'), 1) IGNORE NULLS OVER wl AS prev_closed
        FROM _inw_orders
        WINDOW wf AS (PARTITION BY o_custkey ORDER BY o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wl AS (PARTITION BY o_custkey ORDER BY o_orderkey)
        """
    )


@register(
    "q33_pivot_status",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_f,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS n_o,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS n_p
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc="PIVOT (long → wide): DataFrame pivot with an explicit value list so "
    "no extra distinct-values job runs; missing cells coalesced to 0. At "
    "scale the explicit value list keeps this a single-pass aggregation.",
)
def q33_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    p = (
        o.select("o_orderpriority", "o_orderstatus")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
    )
    z = F.lit(0).cast("long")
    return p.select(
        "o_orderpriority",
        F.coalesce(F.col("F"), z).alias("n_f"),
        F.coalesce(F.col("O"), z).alias("n_o"),
        F.coalesce(F.col("P"), z).alias("n_p"),
    )


@register(
    "q34_unpivot_stack",
    oracle=f"""
    SELECT o_orderkey, 'totalprice_c' AS metric, {_CENTS_SQL.format(col='o_totalprice')} AS val
    FROM orders
    UNION ALL
    SELECT o_orderkey, 'custkey' AS metric, o_custkey AS val FROM orders
    """,
    doc="UNPIVOT (wide → long) via the Hive stack() UDTF — one generator "
    "expression, no self-union, so the source is scanned once.",
)
def q34_unpivot_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.expr(
            "stack(2, 'totalprice_c', CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT),"
            " 'custkey', o_custkey)"
        ).alias("metric", "val"),
    )


@register(
    "q48_hash_funcs",
    oracle="""
    SELECT p_partkey, md5(p_name) AS md5_hex, sha256(p_name) AS sha256_hex
    FROM part
    """,
    doc="Cryptographic digest scalar functions (md5, sha2-256) — Hive "
    "md5()/sha2() analogs; both engines emit lowercase hex.",
)
def q48_hash_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.md5("p_name").alias("md5_hex"),
        F.sha2("p_name", 256).alias("sha256_hex"),
    )


@register(
    "q49_map_bitwise",
    oracle="""
    SELECT p_partkey,
           p_size AS size_from_map,
           p_brand AS brand_from_map,
           p_size & 7 AS size_and,
           xor(p_size, 21) AS size_xor,
           p_size << 2 AS size_shl
    FROM part
    """,
    doc="str_to_map construction + key access (Hive str_to_map) and the "
    "bitwise operator family (&, ^, shiftleft). The oracle computes the "
    "map-roundtrip values directly — the Spark side must reproduce them "
    "through an actual MapType column.",
)
def q49_map_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part")
    m = F.expr("str_to_map(concat('size:', p_size, ',brand:', p_brand), ',', ':')")
    return p.select(
        "p_partkey",
        m.getItem("size").cast("int").alias("size_from_map"),
        m.getItem("brand").alias("brand_from_map"),
        F.expr("p_size & 7").alias("size_and"),
        F.expr("p_size ^ 21").alias("size_xor"),
        F.shiftleft("p_size", 2).alias("size_shl"),
    )


@register(
    "q54_cte_multi_ref",
    oracle=f"""
    WITH rev AS (
      SELECT l_suppkey,
             CAST(SUM({_CENTS_SQL.format(col='l_extendedprice')}) AS BIGINT) AS rev_c
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, rev.rev_c
    FROM supplier s JOIN rev ON s.s_suppkey = rev.l_suppkey
    WHERE rev.rev_c = (SELECT MAX(rev_c) FROM rev)
    """,
    doc="TPC-H Q15-style CTE referenced twice (join input + scalar-subquery "
    "MAX). Exact integer cents make the argmax row set engine-independent. "
    "Catalyst either reuses the aggregated subplan (ReusedExchange) or "
    "recomputes the cheap branch — both scale-safe since rev is "
    "one-row-per-supplier.",
)
def q54_cte_multi_ref(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("_cte_lineitem")
    load(spark, sf_dir, "supplier").createOrReplaceTempView("_cte_supplier")
    return spark.sql(
        """
        WITH rev AS (
          SELECT l_suppkey,
                 CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS rev_c
          FROM _cte_lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
          GROUP BY l_suppkey
        )
        SELECT s.s_suppkey, s.s_name, rev.rev_c
        FROM _cte_supplier s JOIN rev ON s.s_suppkey = rev.l_suppkey
        WHERE rev.rev_c = (SELECT MAX(rev_c) FROM rev)
        """
    )


@register(
    "q57_script_transform",
    oracle="""
    SELECT CAST(p_partkey AS VARCHAR) AS pk, p_brand AS brand
    FROM part
    """,
    doc="Hive script TRANSFORM ... USING (streaming rows through an external "
    "process, here 'cat') — Spark's no-serde script transform, one process "
    "per task with a buffered pipe, not per row. Output columns are STRING "
    "per Hive TRANSFORM semantics.",
)
def q57_script_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "part").createOrReplaceTempView("_tr_part")
    return spark.sql(
        "SELECT TRANSFORM(p_partkey, p_brand) USING 'cat' AS (pk STRING, brand STRING) FROM _tr_part"
    )


@register(
    "q59_values_inline",
    oracle="""
    SELECT v.code, CAST(COUNT(*) AS BIGINT) AS n
    FROM orders o JOIN (VALUES ('F'), ('P')) AS v(code) ON o.o_orderstatus = v.code
    GROUP BY v.code
    """,
    doc="VALUES inline table joined against a fact table — Hive inline-table "
    "surface; Spark plans it as a LocalRelation broadcast (no shuffle of the "
    "fact side beyond the aggregation).",
)
def q59_values_inline(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "orders").createOrReplaceTempView("_vi_orders")
    return spark.sql(
        """
        SELECT v.code, COUNT(*) AS n
        FROM _vi_orders o JOIN (VALUES ('F'), ('P')) AS v(code) ON o.o_orderstatus = v.code
        GROUP BY v.code
        """
    )


@register(
    "q58_posexplode_lateral",
    oracle="""
    SELECT doc_id, i - 1 AS pos, w[i] AS word
    FROM (
      SELECT doc_id, string_split(lower(trim(text, ' ')), ' ') AS w
      FROM documents WHERE doc_id < 50
    ), UNNEST(range(1, len(w) + 1)) AS t(i)
    """,
    doc="LATERAL VIEW POSEXPLODE (position-preserving UDTF) — the Hive "
    "generator that keeps element ordinals; one narrow generate stage, no "
    "shuffle.",
)
def q58_posexplode_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "documents").createOrReplaceTempView("_pe_documents")
    return spark.sql(
        """
        SELECT doc_id, pos, word
        FROM _pe_documents
        LATERAL VIEW POSEXPLODE(split(lower(trim(text)), ' ')) t AS pos, word
        WHERE doc_id < 50
        """
    )


@register(
    "q35_hash_sample",
    oracle="""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
    FROM orders
    WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) = '0'
    GROUP BY o_orderpriority
    """,
    doc="Deterministic hash sampling — the reproducible TABLESAMPLE: keep "
    "rows whose key hashes into a fixed bucket (first md5 nibble = '0' → "
    "1/16 sample). Unlike TABLESAMPLE(PERCENT) this is stable across "
    "engines, runs, and partitionings, which is what a 100 TB pipeline "
    "needs for resumable sampled jobs; the predicate is a pure map-side "
    "filter (no shuffle, no sort).",
)
def q35_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    keep = F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1) == "0"
    return (
        o.filter(keep)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("o_orderkey").alias("key_sum"))
    )


@register(
    "q36_collect_agg",
    oracle="""
    SELECT o_orderpriority,
           array_to_string(list_sort(list_distinct(list(o_orderstatus))), ',') AS statuses,
           CAST(COUNT(o_orderstatus) AS BIGINT) AS n_collected,
           CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS n_distinct
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc="Hive collection UDAFs (collect_set/collect_list): set-aggregated "
    "values rendered through sort_array + array_join so the output is "
    "order-canonical and engine-independent. Distinct-set state per group "
    "is bounded by the value domain, not the row count — safe at any "
    "scale for low-cardinality columns (for unbounded domains, use the "
    "HLL sketch q06 instead).",
)
def q36_collect_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.array_join(F.sort_array(F.collect_set("o_orderstatus")), ",").alias("statuses"),
        F.count("o_orderstatus").alias("n_collected"),
        F.countDistinct("o_orderstatus").alias("n_distinct"),
    )


@register(
    "q37_global_sales_opportunity",
    oracle=f"""
    SELECT cntry, CAST(COUNT(*) AS BIGINT) AS numcust,
           CAST(SUM({_CENTS_SQL.format(col='c_acctbal')}) AS BIGINT) AS totacctbal_c
    FROM (
      SELECT substr(c_name, 10, 1) AS cntry, c_acctbal
      FROM customer c
      WHERE c_acctbal > (
        SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0.0
      )
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    ) t
    GROUP BY cntry
    """,
    doc="TPC-H Q22-style: correlated NOT EXISTS (decorrelated to a "
    "null-aware anti-join) + an uncorrelated scalar AVG subquery + "
    "substring bucketing. The AVG comparison only selects rows (never "
    "emitted), so float avg semantics can't affect the hash; emitted "
    "money is exact cents.",
)
def q37_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "customer").createOrReplaceTempView("_gso_customer")
    load(spark, sf_dir, "orders").createOrReplaceTempView("_gso_orders")
    return spark.sql(
        """
        SELECT cntry, COUNT(*) AS numcust,
               CAST(SUM(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
                 AS totacctbal_c
        FROM (
          SELECT substr(c_name, 10, 1) AS cntry, c_acctbal
          FROM _gso_customer c
          WHERE c_acctbal > (
            SELECT AVG(c_acctbal) FROM _gso_customer WHERE c_acctbal > 0.0
          )
          AND NOT EXISTS (SELECT 1 FROM _gso_orders o WHERE o.o_custkey = c.c_custkey)
        ) t
        GROUP BY cntry
        """
    )


@register(
    "q38_nth_value_window",
    oracle=f"""
    SELECT o_orderkey, o_orderpriority,
           nth_value({_CENTS_SQL.format(col='o_totalprice')}, 2) OVER w AS second_price_c,
           nth_value(o_orderkey, 3) OVER w AS third_key
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY {_CENTS_SQL.format(col='o_totalprice')} DESC, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    doc="nth_value window function over a deterministic (cents, key) "
    "ordering — completes the FIRST/LAST/NTH value family.",
)
def q38_nth_value_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy(exact_cents("o_totalprice").desc(), F.col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.nth_value(exact_cents("o_totalprice"), 2).over(w).alias("second_price_c"),
        F.nth_value("o_orderkey", 3).over(w).alias("third_key"),
    )


@register(
    "q39_null_ordering",
    oracle="""
    WITH base AS (
      SELECT o_orderkey,
             CASE WHEN o_orderstatus = 'O' THEN NULL ELSE o_orderdate END
               AS maybe_date
      FROM orders
    )
    SELECT * FROM (
      SELECT o_orderkey, maybe_date, 'nulls_first' AS null_order FROM base
      ORDER BY maybe_date ASC NULLS FIRST, o_orderkey LIMIT 25)
    UNION ALL
    SELECT * FROM (
      SELECT o_orderkey, maybe_date, 'nulls_last' AS null_order FROM base
      ORDER BY maybe_date ASC NULLS LAST, o_orderkey LIMIT 25)
    """,
    doc="Explicit NULLS FIRST / NULLS LAST ordering with a deterministic "
    "unique-key tiebreak and LIMIT. Engines disagree on the default (Spark "
    "ASC is nulls-first, DuckDB/ANSI nulls-last), so portable HiveQL must "
    "spell it out; both branches compile to TakeOrderedAndProject — "
    "per-partition top-k merged on the driver, never a global sort.",
)
def q39_null_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    maybe = (
        F.when(F.col("o_orderstatus") == "O", F.lit(None).cast("date"))
        .otherwise(F.col("o_orderdate"))
        .alias("maybe_date")
    )
    base = o.select("o_orderkey", maybe)
    first = (
        base.orderBy(F.col("maybe_date").asc_nulls_first(), "o_orderkey")
        .limit(25)
        .withColumn("null_order", F.lit("nulls_first"))
    )
    last = (
        base.orderBy(F.col("maybe_date").asc_nulls_last(), "o_orderkey")
        .limit(25)
        .withColumn("null_order", F.lit("nulls_last"))
    )
    return first.unionAll(last)


@register(
    "q135_recursive_hierarchy",
    oracle="""
    WITH RECURSIVE walk(orig, cur, depth) AS (
      SELECT c_custkey, c_custkey, 0 FROM customer WHERE c_custkey <= 200
      UNION ALL
      SELECT orig, cur // 2, depth + 1 FROM walk WHERE cur > 1
    )
    SELECT orig AS c_custkey,
           CAST(MAX(depth) AS BIGINT) AS depth,
           CAST(COUNT(*) AS BIGINT) AS chain_len,
           CAST(SUM(cur) AS BIGINT) AS ancestor_key_sum
    FROM walk GROUP BY orig
    """,
    doc="Recursive CTE (WITH RECURSIVE, new SQL surface in Spark 4.x; the "
    "same construct q87's oracle uses on the DuckDB side) walking the "
    "implicit binary hierarchy parent(k) = k div 2 from each customer key "
    "to the root: per-key depth, chain length, and the ancestor-key path "
    "sum — a path aggregate no window function can express. Integer "
    "division on both engines (Spark DIV, DuckDB //), so every step is "
    "int64-exact. Scale shape: Spark executes the recursion as an "
    "iterative union — the stage count is the recursion depth (log2 of "
    "the max key, ~8 here, bounded by the seed filter) and each iteration "
    "carries only the surviving frontier rows; at 100 TB the plan is "
    "depth x one bounded shuffle, the same discipline as q87's label "
    "propagation.",
)
def q135_recursive_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "customer").createOrReplaceTempView("_rec_customer")
    return spark.sql(
        """
        WITH RECURSIVE walk(orig, cur, depth) AS (
          SELECT c_custkey, c_custkey, 0 FROM _rec_customer WHERE c_custkey <= 200
          UNION ALL
          SELECT orig, cur DIV 2, depth + 1 FROM walk WHERE cur > 1
        )
        SELECT orig AS c_custkey,
               CAST(MAX(depth) AS BIGINT) AS depth,
               CAST(COUNT(*) AS BIGINT) AS chain_len,
               CAST(SUM(cur) AS BIGINT) AS ancestor_key_sum
        FROM walk GROUP BY orig
        """
    )
