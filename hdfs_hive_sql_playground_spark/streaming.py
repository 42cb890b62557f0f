"""Structured Streaming duals of the batch event analytics.

The reference is batch-only MapReduce (``README.md:179-181`` — no streams
anywhere, SURVEY §2 Tier B last row), so this module is pure headroom: the
same logical plans as :mod:`queries.events`, expressed over ``readStream``
so a pipeline validated in batch runs incrementally with late-data
handling. Three operators:

- ``windowed_counts`` — tumbling-window counts with a watermark (the
  streaming dual of q61_tumbling_window),
- ``session_counts`` — native ``session_window`` gap sessionization (the
  streaming dual of q62_sessionize; same 30-min gap semantics),
- ``running_user_totals`` — custom stateful operator via
  ``applyInPandasWithState`` (GroupState + timeout), the extension point
  for operators Spark lacks natively,
- ``dedup_events`` — watermark-bounded streaming exact dedup
  (``dropDuplicatesWithinWatermark``), the streaming dual of q80,
- ``dedup_crawl_frontier`` — canonical-URL keep-first over a fetch
  stream (the streaming dual of q140, same shared canonicalizer),
- ``crawl_front_stream`` — the composed crawl front half over a live
  fetch stream (the streaming dual of q143: URL dedup → content dedup →
  quality gate, two watermark-bounded states, survivors emitted),
- ``incremental_ingest_stream`` — the composed per-ingest back half (the
  streaming dual of q109 + q108: history anti-join → in-stream dedup →
  stateless decontamination gate, ONE watermark-bounded state),
- ``export_stream_jdbc`` — continuous JDBC export via ``foreachBatch``
  over the same batched-INSERT path as the batch Sqoop-analog sink (A19).

Scale notes: all three shuffle once on their grouping key per microbatch;
state store size is bounded by the watermark (windows/sessions older than
the watermark are evicted). ``availableNow`` triggers make the streaming
path testable against batch ground truth on a static directory.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

EVENT_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, "
    "value double, props string"
)
SESSION_GAP = "30 minutes"
WATERMARK = "1 hour"


def stream_events(spark: SparkSession, events_dir: str) -> DataFrame:
    """File-source stream over a directory of event parquet files (µs
    timestamps — see tests for the nanos conversion step)."""
    return spark.readStream.schema(EVENT_SCHEMA).parquet(events_dir)


def windowed_counts(events: DataFrame) -> DataFrame:
    """Tumbling 1-hour windowed counts with late-data watermark."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("win.start").alias("window_start"), "event_type", "n")
    )


def session_counts(events: DataFrame) -> DataFrame:
    """Gap-based sessionization via native session_window (30-min gap)."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.session_window("ts", SESSION_GAP).alias("sess"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sess.start").alias("session_start"),
            "n_events",
        )
    )


STATE_SCHEMA = "n bigint"
TOTALS_SCHEMA = "user_id bigint, n_events bigint"


def _update_totals(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    n = state.get[0] if state.exists else 0
    for pdf in pdfs:
        n += len(pdf)
    state.update((n,))
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})


def running_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator: per-user running event totals kept in a
    GroupState — the applyInPandasWithState extension point for operators
    with no native equivalent (emits the updated total per microbatch)."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update_totals,
        outputStructType=TOTALS_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


TWS_OUTPUT_SCHEMA = "user_id bigint, n_events bigint, total_value double"


def _make_user_stats_processor():
    """Build the StatefulProcessor lazily: the class only exists on Spark
    4.x, and constructing it inside the function keeps module import safe
    on older runtimes."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    class UserStatsProcessor(StatefulProcessor):
        """Per-user running (count, total value) kept in a ValueState."""

        def init(self, handle: StatefulProcessorHandle) -> None:
            schema = StructType(
                [
                    StructField("n", LongType()),
                    StructField("total", DoubleType()),
                ]
            )
            self._state = handle.getValueState("stats", schema)

        def handleInputRows(self, key, rows, timerValues):
            if self._state.exists():
                n, total = self._state.get()
            else:
                n, total = 0, 0.0
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            self._state.update((n, total))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
            )

        def close(self) -> None:
            pass

    return UserStatsProcessor()


def user_stats_tws(events: DataFrame) -> DataFrame:
    """Per-user running event stats via ``transformWithStateInPandas`` —
    Spark 4's arbitrary-stateful-processing API (typed ValueState/ListState/
    MapState + timers), the successor extension point to
    ``applyInPandasWithState`` shown in :func:`running_user_totals`. State
    is a fixed-size (count, total) per key, so the state store is O(keys)
    regardless of stream length. Requires the RocksDB state store provider
    (``spark.sql.streaming.stateStore.providerClass``)."""
    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_make_user_stats_processor(),
        outputStructType=TWS_OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


def dedup_events(events: DataFrame, *keys: str) -> DataFrame:
    """Streaming exact dedup: ``dropDuplicatesWithinWatermark`` keeps one
    row per key while holding only watermark-bounded state — the streaming
    dual of the batch exact-dedup operator (q80). Unlike plain
    ``dropDuplicates`` on a stream (whose state grows forever), rows older
    than the watermark are evicted, so state is O(keys per watermark
    window) regardless of total stream length — the 100 TB/day property."""
    return events.withWatermark("ts", WATERMARK).dropDuplicatesWithinWatermark(
        list(keys) or ["event_id"]
    )


def dedup_crawl_frontier(
    fetches: DataFrame,
    url_col: str = "url",
    ts_col: str = "ts",
    keep_params: tuple[str, ...] = ("id",),
) -> DataFrame:
    """Streaming canonical-URL dedup — the streaming dual of q140 and the
    shape a live crawl frontier actually runs: each fetch row's URL is
    canonicalized (same shared builder as the batch operator, so the two
    can never drift) and ``dropDuplicatesWithinWatermark`` keeps the first
    fetch per canonical page. State is keyed on the short canonical string
    and watermark-bounded, so it holds O(pages per watermark window)
    however long the crawl runs; a re-fetch after the window re-admits the
    page, which is frontier semantics — recrawl policy lives upstream.

    ``keep_params`` is the content-bearing query-param whitelist the
    canonicalizer preserves (see ``_canonical_url``): params not listed
    are treated as tracking noise and dropped, so a crawl whose pages
    differ in other meaningful params (e.g. ``?page=2`` vs ``?page=3``)
    MUST whitelist them — ``("id", "page")`` — or the frontier silently
    collapses those fetches to one page. The default matches q140's
    single content param. ``ts_col`` names the fetch-event timestamp the
    watermark is anchored to."""
    from hdfs_hive_sql_playground_spark.queries.dedup import _canonical_url

    return (
        fetches.withColumn(
            "canonical_url", _canonical_url(F.col(url_col), keep_params)
        )
        .withWatermark(ts_col, WATERMARK)
        .dropDuplicatesWithinWatermark(["canonical_url"])
    )


def crawl_front_stream(
    fetches: DataFrame,
    url_col: str = "url",
    ts_col: str = "ts",
    text_col: str = "text",
    keep_params: tuple[str, ...] = ("id",),
) -> DataFrame:
    """The streaming dual of q143's crawl front half, composed from the
    same pieces the batch operator composes: canonical-URL keep-first
    (``dedup_crawl_frontier`` itself), exact content dedup among
    URL survivors (q80's md5, ``dropDuplicatesWithinWatermark`` on the
    16-byte hash), then the Gopher-lite quality gate — emitting the
    SURVIVING fetches with their quality signals. Streaming semantics
    differ from the batch audit on one point by design: a stream can only
    emit rows it keeps, so per-drop stage attribution (q143's 'url_dup' /
    'exact_dup' rows) is the batch operator's job; the stream's job is the
    live frontier. Thresholds are q143's CRAWL_MIN_* constants.

    State at 100 TB/day: two watermark-bounded dedup states — one keyed on
    the short canonical string, one on the 16-byte content hash — both
    O(pages per watermark window); the quality gate is stateless
    projection. Stage order matches DEPLOYMENT_100TB §8: each stage sees
    only the prior stage's survivors."""
    from hdfs_hive_sql_playground_spark.queries.dedup import content_norm
    from hdfs_hive_sql_playground_spark.queries.text import (
        CRAWL_MIN_WCHARS,
        CRAWL_MIN_WORDS,
    )

    norm = content_norm(F.col(text_col))
    nw = F.size(F.split(norm, " ")).cast("bigint")
    mw = F.floor(
        (F.length(norm) - (nw - F.lit(1))) / nw
    ).cast("bigint")
    surv = (
        dedup_crawl_frontier(fetches, url_col, ts_col, keep_params)
        .withColumn("h", F.md5(norm))
        .withColumn("n_words", nw)
        .withColumn("mw_chars", mw)
        .dropDuplicatesWithinWatermark(["h"])
    )
    return surv.filter(
        (F.col("n_words") >= CRAWL_MIN_WORDS) & (F.col("mw_chars") >= CRAWL_MIN_WCHARS)
    )


def incremental_ingest_stream(
    docs: DataFrame,
    corpus_hashes: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    content_key: Column | None = None,
) -> DataFrame:
    """The streaming dual of the per-ingest pair q109 + q108: dedup a live
    document stream against the EXISTING corpus, then within itself, then
    gate out benchmark-contaminated documents — the three checks a
    training-data pipeline runs on every incremental ingest, here as one
    composed streaming plan whose stages each see only the prior stage's
    survivors (DEPLOYMENT_100TB §8 order, cheapest byte-shedder first).

    - **History dedup** (q109's anti-join half): stream-static LEFT ANTI join
      on the normalized-content md5 against ``corpus_hashes`` (one
      ``content_hash`` column). Stream-static joins are STATELESS — the
      static side is re-resolved per microbatch, so a corpus hash table
      refreshed between drains is picked up without restarting the query.
    - **Self dedup** (q109's window half): ``dropDuplicatesWithinWatermark``
      on the hash — the single watermark-bounded state this plan carries.
    - **Decontamination gate** (q108): the probe n-gram set is a LITERAL
      array in a pure projection — ``array_intersect`` against the
      document's distinct n-grams, zero joins, zero state. Emits the same
      n_probes_hit signal q108 computes and keeps only clean documents.

    At 100 TB/day: the corpus hash relation is the big static side — keep
    it a bucketed/sorted table so the per-microbatch anti-join
    co-partitions instead of shuffling (the batch q109 note); state is
    O(docs per watermark window); the probe set stays map-side as long as
    the eval suite is thousands of grams (real suites are) — past that,
    swap the literal for a broadcast join or a bloom filter, same stage
    position. Cites the reference's batch-only scope
    (/root/reference/README.md:179-181): streams are pure headroom.

    ``content_key`` swaps the dedup-key recipe (default:
    ``dedup.default_content_key``, the byte-exact recipe per the pinned
    NFC/NFD posture) — pass ``dedup.width_fold_key(F.col(text_col))``
    or ``dedup.nfc_content_key(F.col(text_col))`` for the q146/q145
    variants. The caller owns recipe CONSISTENCY: ``corpus_hashes``
    must be built with the same recipe, or history dedup silently
    misses (the same contract the batch q109 pair documents) — which
    is exactly why the recipes ship as named helpers in
    ``queries/dedup.py`` instead of being re-spelled per site."""
    from hdfs_hive_sql_playground_spark.queries.curation2 import PROBE_N, PROBES

    # grams over a MATERIALIZED words column (see dedup._ngrams_of: a
    # captured split expression re-tokenizes per gram under the
    # interpreted HOF path — O(words²) per doc); __w is added just before
    # the gram projection below and dropped from the output.
    from hdfs_hive_sql_playground_spark.queries.dedup import _ngrams_of, _words

    words = _words(F.col(text_col))
    grams = _ngrams_of(F.col("__w"), PROBE_N)
    probes_lit = F.array(*[F.lit(p) for p in PROBES])
    # Assign the watermark only when the input doesn't already carry one:
    # Spark disallows REDEFINING a watermark downstream of a stateful
    # operator, and the chained full-pipeline case (crawl_front_stream →
    # here) arrives already watermarked on the same event-time column.
    # Parse WHICH attribute carries it (Spark 4.x plan line:
    # "EventTimeWatermark <node-uuid>, <col>#<exprId>: timestamp,
    # <delay>"; the uuid segment is absent in older plan renderings) —
    # an input watermarked on a DIFFERENT column would otherwise
    # silently bound dropDuplicatesWithinWatermark's state by the wrong
    # event-time clock; that must fail loudly, not pass the substring
    # check.
    import re

    plan = docs._jdf.queryExecution().analyzed().toString()
    wm_cols = re.findall(
        r"EventTimeWatermark (?:[0-9a-fA-F-]+, )?([A-Za-z_][A-Za-z0-9_]*)#\d+",
        plan,
    )
    already_watermarked = bool(wm_cols)
    if "EventTimeWatermark" in plan and not wm_cols:
        # The plan HAS a watermark node but the attribute name didn't
        # match the identifier-shaped regex (e.g. a backtick-quoted /
        # non-word column name): fail loudly instead of silently
        # re-applying withWatermark on ts_col — the exact silent path
        # this parse exists to close.
        raise ValueError(
            "incremental_ingest_stream: input plan contains an "
            "EventTimeWatermark node whose attribute could not be parsed "
            "(non-identifier column name?); rename the event-time column "
            "to an identifier-shaped name before chaining."
        )
    if already_watermarked and ts_col not in wm_cols:
        raise ValueError(
            f"incremental_ingest_stream: input already watermarked on "
            f"{sorted(set(wm_cols))!r}, but ts_col={ts_col!r} — dedup state "
            f"would be bounded by the wrong event-time clock; watermark the "
            f"input on {ts_col!r} (or pass ts_col={wm_cols[0]!r})."
        )
    if content_key is None:
        from hdfs_hive_sql_playground_spark.queries.dedup import (
            default_content_key,
        )

        content_key = default_content_key(F.col(text_col))
    staged = docs.withColumn("content_hash", content_key).join(
        corpus_hashes.select("content_hash"), "content_hash", "left_anti"
    )
    if not already_watermarked:
        staged = staged.withWatermark(ts_col, WATERMARK)
    surv = (
        staged
        .dropDuplicatesWithinWatermark(["content_hash"])
        .withColumn("__w", words)
        .withColumn(
            "n_probes_hit",
            F.size(F.array_intersect(F.array_distinct(grams), probes_lit)).cast(
                "bigint"
            ),
        )
        .drop("__w")
    )
    return surv.filter(F.col("n_probes_hit") == 0)


def make_jdbc_batch_sink(url: str, table: str):
    """Build the foreachBatch sink used by :func:`export_stream_jdbc`.

    Each batch is stamped with its checkpointed ``batch_id`` in a
    ``batch_stamp BIGINT`` column and the sink DELETEs its own batch's rows
    before appending, so a microbatch replayed after a failure converges to
    exactly-once target state (delivery itself is at-least-once —
    foreachBatch's contract). The target table must carry the
    ``batch_stamp`` column."""
    from hdfs_hive_sql_playground_spark.sources.jdbc import (
        export_jdbc,
        jdbc_ddl,
        jdbc_table_exists,
    )

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.withColumn("batch_stamp", F.lit(batch_id).cast("bigint"))
        # Only a not-yet-created target may skip the replay DELETE (the
        # append below creates the table, batch_stamp included).  Any
        # OTHER DELETE failure — connection drop, lock timeout,
        # permissions — must propagate and fail the microbatch, else a
        # replayed batch whose DELETE silently failed would append
        # duplicates: the exact failure this sink exists to prevent.
        if jdbc_table_exists(batch_df.sparkSession, url, table):
            jdbc_ddl(
                batch_df.sparkSession,
                url,
                f"DELETE FROM {table} WHERE batch_stamp = {int(batch_id)}",
            )
        export_jdbc(batch_df, url, table)

    return _sink


def export_stream_jdbc(stream_df: DataFrame, url: str, table: str, checkpoint_dir: str):
    """Continuous JDBC export: the streaming version of the Sqoop bulk
    export (A19) — each microbatch lands via the same parallel batched
    ``df.write.jdbc`` path (:func:`..sources.jdbc.export_jdbc`). The
    sink is idempotent per checkpointed batch id (delete-then-
    append keyed by a ``batch_stamp`` column — see
    :func:`make_jdbc_batch_sink`), so retried microbatches do not
    duplicate rows. Returns the started StreamingQuery (caller
    awaits/stops)."""
    return (
        stream_df.writeStream.foreachBatch(make_jdbc_batch_sink(url, table))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_stream_join(events: DataFrame) -> DataFrame:
    """Watermarked stream-stream time-interval join: each click joined to
    the same user's purchases in the preceding 5 minutes. Both sides carry
    watermarks and the join condition bounds event-time distance, so the
    state store holds only the watermark window per side — the conditions
    Spark requires for stream-stream joins to be runnable at all (and the
    reason they stay O(window), not O(stream), at 100 TB/day)."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", WATERMARK)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("value").alias("p_value"),
        )
        .withWatermark("p_ts", WATERMARK)
    )
    return clicks.join(
        purchases,
        F.expr(
            "c_user = p_user AND p_ts >= c_ts - INTERVAL 5 MINUTES AND p_ts <= c_ts"
        ),
        "inner",
    ).select("click_id", F.col("c_user").alias("user_id"), "c_ts", "p_ts", "p_value")


def run_to_memory(
    stream_df: DataFrame, query_name: str, output_mode: str = "complete"
) -> DataFrame:
    """Drain an availableNow trigger into a memory sink; returns the sink
    table DataFrame (test/dev harness — production uses a real sink)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.table(query_name)
