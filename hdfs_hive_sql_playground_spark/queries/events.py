"""Event-stream batch analytics over the ``events`` table: JSON extraction,
tumbling-window aggregation, and gap-based sessionization.

These are the batch duals of the Structured Streaming operators in
:mod:`hdfs_hive_sql_playground_spark.streaming` — same logical plans, so a
pipeline validated here runs unchanged under ``readStream`` with a
watermark. At 100 TB the sessionization shuffles once on ``user_id`` and
both window functions reuse that single partitioning (Catalyst plans one
Exchange for both windows because partition keys match).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hdfs_hive_sql_playground_spark.queries import exact_cents, register
from hdfs_hive_sql_playground_spark.tables import load

SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 min in microseconds


@register(
    "q60_json_extract",
    oracle="""
    WITH raw AS (
      SELECT event_type,
             CASE WHEN props IS NOT NULL AND json_valid(props)
                  THEN json_extract_string(props, '$.k') END AS kstr
      FROM events
    ),
    cleaned AS (
      -- Spark try_cast trims ALL chars <= 0x20 (tab/newline/controls),
      -- DuckDB trim() strips only spaces: strip the full class explicitly
      -- so a JSON string value like "3\t" casts to 3 on both engines.
      SELECT event_type,
             regexp_replace(kstr, '^[\\x00-\\x20]+|[\\x00-\\x20]+$', '', 'g') AS kc
      FROM raw
    ),
    e AS (
      SELECT event_type,
             CASE WHEN regexp_matches(kc, '^[+-]?[0-9]+$')
                  THEN TRY_CAST(kc AS BIGINT) END AS k
      FROM cleaned
    )
    SELECT
      event_type,
      COUNT(*) AS n,
      CAST(SUM(k) AS BIGINT) AS sum_k,
      CAST(MAX(k) AS BIGINT) AS max_k
    FROM e
    GROUP BY event_type
    """,
    doc="get_json_object over a JSON props column + agg (Hive JSON functions). "
    "try_cast, not cast: a single event whose props carry a non-numeric k "
    "(crawl reality) must contribute NULL, not kill the whole job under "
    "ANSI mode — found by tests/test_adversarial_corpus.py. The oracle "
    "gates its TRY_CAST behind an integral regexp on the [\\x00-\\x20]-"
    "stripped string (Spark's try_cast trim class, wider than SQL trim) "
    "because the engines' string->BIGINT accept sets differ exactly on "
    "fractional text: Spark try_cast('3.5' AS BIGINT) is NULL while "
    "DuckDB rounds to 4 (likewise '2.0'->2, '1000.0'->1000) — a "
    "non-integral k is REJECTED, the right contract for an integer "
    "count, and the regexp ('^[+-]?[0-9]+$' after the strip) reproduces "
    "Spark's accept set ('+7', ' 3 ', tab/newline-padded digits "
    "accepted; '3.5', '7.', '1e3', '', NBSP-padded rejected) — "
    "fractional/padded/sign/control-char rows are pinned by the "
    "adversarial events gate.",
)
def q60_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").try_cast("bigint")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(k).alias("sum_k"),
        F.max(k).alias("max_k"),
    )


@register(
    "q61_tumbling_window",
    oracle="""
    SELECT
      date_trunc('hour', ts) AS window_start,
      event_type,
      COUNT(*) AS n,
      ROUND(CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS DOUBLE)
            / (COUNT(*) * 100.0), 6) AS avg_value,
      CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    GROUP BY 1, 2
    """,
    doc="Tumbling 1-hour window aggregation (batch dual of streaming window(ts, '1 hour')). "
    "avg over exact integer cents: ROUND(AVG(double)) flipped a 6th decimal at sf0.1.",
    bench=True,
)
def q61_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("window_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(exact_cents("value")).cast("double")
                / (F.count(F.lit(1)) * 100.0),
                6,
            ).alias("avg_value"),
            F.count_distinct(F.col("user_id")).alias("n_users"),
        )
    )


@register(
    "q62_sessionize",
    oracle=f"""
    WITH flagged AS (
      SELECT
        user_id, event_id, ts,
        CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) > {SESSION_GAP_US}
               OR LAG(ts) OVER w IS NULL
             THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
      SELECT
        user_id, event_id,
        SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM flagged
    )
    SELECT
      user_id,
      CAST(session_seq AS BIGINT) AS session_seq,
      COUNT(*) AS n_events
    FROM sessions
    GROUP BY user_id, session_seq
    """,
    doc="Gap-based sessionization (30 min) via lag + running sum — one shuffle on user_id for both windows.",
    bench=True,
)
def q62_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    flagged = ev.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > SESSION_GAP_US), F.lit(1)).otherwise(F.lit(0)),
    )
    sessions = flagged.withColumn(
        "session_seq",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    return (
        sessions.groupBy("user_id", F.col("session_seq").cast("bigint").alias("session_seq"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


@register(
    "q63_pivot",
    oracle="""
    SELECT
      user_id,
      CAST(COUNT(*) FILTER (WHERE event_type = 'click')    AS BIGINT) AS n_click,
      CAST(COUNT(*) FILTER (WHERE event_type = 'view')     AS BIGINT) AS n_view,
      CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS n_purchase,
      CAST(COUNT(*) FILTER (WHERE event_type = 'signup')   AS BIGINT) AS n_signup,
      CAST(COUNT(*) FILTER (WHERE event_type = 'error')    AS BIGINT) AS n_error
    FROM events
    GROUP BY user_id
    """,
    doc="Pivot (conditional aggregation) — Spark groupBy().pivot() with explicit value list "
    "avoids a discovery pass; output columns prefixed n_ (view/error are reserved-ish words).",
)
def q63_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    kinds = ("click", "view", "purchase", "signup", "error")
    out = ev.groupBy("user_id").pivot("event_type", list(kinds)).agg(F.count(F.lit(1)))
    cols = [F.col("user_id")] + [
        F.coalesce(F.col(c), F.lit(0)).cast("bigint").alias(f"n_{c}") for c in kinds
    ]
    return out.select(*cols)


@register(
    "q64_session_window",
    oracle=f"""
    WITH flagged AS (
      SELECT
        user_id, ts,
        CASE WHEN LAG(ts) OVER w IS NULL
               OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) >= {SESSION_GAP_US}
             THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM flagged
    )
    SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
    FROM sessions
    GROUP BY user_id, session_seq
    """,
    doc="Native session_window gap sessionization (30-min gap) in batch mode — "
    "the same operator runs unchanged under readStream with a watermark "
    "(streaming.session_counts); oracle replicates via lag-gap + running sum. "
    "Session opens when gap >= 30 min, matching session_window's [start, last+gap) "
    "half-open semantics.",
)
def q64_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("sess"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("sess.start").alias("session_start"), "n_events")
    )


# ---------------------------------------------------------------------------
# q65 as-of join (time-series point-in-time lookup)
# ---------------------------------------------------------------------------


@register(
    "q65_asof_join",
    oracle="""
    WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
    r AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'),
    best AS (
      SELECT l.event_id, l.user_id, MAX(r.ts) AS asof_ts
      FROM l JOIN r ON l.user_id = r.user_id AND r.ts <= l.ts
      GROUP BY 1, 2
    ),
    picked AS (
      SELECT b.event_id, ROUND(MAX(r.value), 6) AS asof_value
      FROM best b JOIN r ON r.user_id = b.user_id AND r.ts = b.asof_ts
      GROUP BY 1
    )
    SELECT l.event_id, l.user_id, b.asof_ts, p.asof_value
    FROM l
    LEFT JOIN best b ON l.event_id = b.event_id
    LEFT JOIN picked p ON l.event_id = p.event_id
    """,
    doc="As-of join: each click is matched to the latest purchase by the "
    "same user at-or-before its timestamp. Spark has no ASOF JOIN operator, "
    "so this is the union-window formulation: tag both sides, one window "
    "over (user_id, ts) carrying the last non-null purchase forward — ONE "
    "shuffle, O(n log n), instead of the quadratic range join the naive "
    "inequality-join plan would produce (the oracle uses that naive "
    "formulation, fine at oracle scale). Ties (purchase at the click's "
    "exact ts) are included; equal-ts purchases resolve to max value.",
)
def q65_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    is_p = (F.col("event_type") == "purchase").cast("int")
    tagged = ev.select(
        "event_id",
        "user_id",
        "ts",
        is_p.alias("is_p"),
        F.when(is_p == 1, F.col("ts")).alias("pts"),
        F.when(is_p == 1, F.col("value")).alias("pval"),
    )
    # Purchases sort before clicks at the same ts (is_p desc) so an
    # equal-ts purchase is inside the click's frame; among equal-ts
    # purchases ascending pval makes the max the LAST non-null.
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("is_p").desc(), F.col("pval").asc_nulls_first())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        tagged.withColumn("asof_ts", F.last("pts", ignorenulls=True).over(w))
        .withColumn("asof_value", F.round(F.last("pval", ignorenulls=True).over(w), 6))
        .filter(F.col("is_p") == 0)
        .select("event_id", "user_id", "asof_ts", "asof_value")
    )


# ---------------------------------------------------------------------------
# q66 range join via time-bucketing (inequality join -> equi join)
# ---------------------------------------------------------------------------

RANGE_US = 5 * 60 * 1_000_000  # ±5 minutes


@register(
    "q66_range_join_bucketed",
    oracle=f"""
    WITH err AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'
    ),
    other AS (
      SELECT user_id, ts FROM events WHERE event_type <> 'error'
    )
    SELECT e.event_id, e.user_id, CAST(COUNT(o.ts) AS BIGINT) AS n_nearby
    FROM err e LEFT JOIN other o
      ON e.user_id = o.user_id
     AND o.ts >= e.ts - INTERVAL 5 MINUTE
     AND o.ts <= e.ts + INTERVAL 5 MINUTE
    GROUP BY 1, 2
    """,
    doc="Range join (events within ±5 min of each error, same user) done "
    "scale-safe: both sides are bucketed to 5-minute bins and the error "
    "side explodes to its 3 candidate bins, turning the inequality join "
    "into an EQUI join on (user_id, bucket) + residual filter — shuffle "
    "volume O(n·3), no per-user cross product. The oracle is the naive "
    "inequality join (correct, but quadratic per user — exactly what this "
    "plan avoids). Note Spark would otherwise plan inequality joins as "
    "broadcast-nested-loop.",
)
def q66_range_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    err = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", us.alias("e_us"), (us / RANGE_US).cast("long").alias("b")
    )
    other = ev.filter(F.col("event_type") != "error").select(
        "user_id", us.alias("o_us"), (us / RANGE_US).cast("long").alias("bucket")
    )
    cand = err.select(
        "event_id",
        "user_id",
        "e_us",
        F.explode(F.sequence(F.col("b") - 1, F.col("b") + 1)).alias("bucket"),
    )
    joined = cand.join(other, ["user_id", "bucket"]).filter(
        (F.col("o_us") >= F.col("e_us") - RANGE_US)
        & (F.col("o_us") <= F.col("e_us") + RANGE_US)
    )
    hits = joined.groupBy("event_id").agg(F.count(F.lit(1)).alias("n_nearby"))
    # Left semantics: errors with zero nearby events still appear (n=0).
    return (
        err.select("event_id", "user_id")
        .join(hits, "event_id", "left")
        .select("event_id", "user_id", F.coalesce("n_nearby", F.lit(0)).alias("n_nearby"))
    )


# ---------------------------------------------------------------------------
# q67 multi-resolution rollup (hypertable continuous-aggregate analog)
# ---------------------------------------------------------------------------


@register(
    "q67_multires_rollup",
    oracle="""
    SELECT date_trunc('day', ts) AS day,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_value_c
    FROM events
    GROUP BY 1, 2
    """,
    doc="Hypertable-style multi-resolution rollup: minute-level partial "
    "aggregates are re-aggregated to hours, hours to days — the continuous- "
    "aggregate cascade (each level reads the previous level's partials, "
    "never the raw events). Works because count/sum are re-aggregable; the "
    "oracle aggregates raw→day directly and must agree exactly. At 100 TB "
    "the minute level is the only scan of raw data; coarser levels are "
    "~60× / ~1440× smaller.",
)
def q67_multires_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    cents = exact_cents("value")
    minute = ev.groupBy(
        F.date_trunc("minute", "ts").alias("minute"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"), F.sum(cents).alias("sum_value_c"))
    hour = minute.groupBy(
        F.date_trunc("hour", "minute").alias("hour"), "event_type"
    ).agg(F.sum("n").alias("n"), F.sum("sum_value_c").alias("sum_value_c"))
    return hour.groupBy(
        F.date_trunc("day", "hour").alias("day"), "event_type"
    ).agg(F.sum("n").alias("n"), F.sum("sum_value_c").alias("sum_value_c"))


# ---------------------------------------------------------------------------
# q68 keep-latest window dedup (the row_number()=1 idiom)
# ---------------------------------------------------------------------------


@register(
    "q68_keep_latest_per_key",
    oracle="""
    SELECT user_id, event_id, ts, event_type
    FROM (
      SELECT user_id, event_id, ts, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    WHERE rn = 1
    """,
    doc="Keep-latest-row-per-key via ROW_NUMBER()=1 — the standard CDC/upsert "
    "compaction idiom (one shuffle on the key; deterministic (ts, event_id) "
    "tie-break). The streaming dual is dropDuplicatesWithinWatermark.",
)
def q68_keep_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "ts", "event_type")
    )
