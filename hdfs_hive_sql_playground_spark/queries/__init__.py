"""Query registry: every operator the engine claims is registered here as a
(spark_fn, oracle_sql) pair consumed by ``__spark_entry__`` and the tests.

``oracle_sql`` is ANSI SQL runnable by DuckDB over the same parquet tables;
``None`` marks operators whose semantics are not SQL-expressible (the driver
then records a weaker rows-only check).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str
    bench: bool = False


REGISTRY: dict[str, QuerySpec] = {}


def exact_cents(name: str) -> Column:
    """Exact integer cents of a 2-decimal money column.

    Money outputs are exposed as BIGINT cents rather than DECIMAL: both
    engines then produce int64 with identical values, so the driver's
    value-hash can't be tripped by decimal scale metadata, scientific
    notation, or HALF_UP-vs-HALF_EVEN differences when narrowing a sum's
    scale (the round-1 q01/q10/q12 failure mode). The matching oracle
    fragment is ``CAST(CAST(x AS DECIMAL(18,2)) * 100 AS BIGINT)``.
    """
    return (F.col(name).cast("decimal(18,2)") * 100).cast("long")


def register(name: str, oracle: str | None, doc: str = "", bench: bool = False):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle, doc=doc, bench=bench)
        return fn

    return deco


# The driver's correctness gate verifies the FIRST 50 registry entries in
# insertion order.  This round-13 window executes the rotation round 12
# committed to, computed mechanically by scripts/propose_window.py with
# the round's two NEW queries as the only forced names (no EXISTING
# query's semantics changed):
# (a) all 42 r10-vintage greens — the unpivot/CTE/lateral block
# (q34-q39, q54, q57-q58), the LSH family (q81-q83, q116), the span/
# decontam/incremental-dedup block (q105, q108-q109), events q60,
# format round-trips (q75-q78), multimodal (q95-q96, q107), the
# aggregation block (q01-q05, q06b, q07-q08), joins (q10-q12, q17),
# sketches/text (q104, q113-q114), pandas UDFs (q09, q111), and
# warehouse q101 — then (b) the 6 stalest r11 greens as backfill
# (q18, q24_percent_rank, q48_hash, q49_map_bitwise, q59, q135) — then
# (c) the two NEW queries, which must claim slots for their first-ever
# driver checks: q145_nfc_exact_dedup (the opt-in NFC
# normalize-before-hash dedup recipe) and q146_width_fold_dedup (the
# fullwidth/NBSP confusable-fold dedup key).
#
# NFC/NFD posture (decided round 13, pinned in docs/VERIFICATION.md):
# the DEFAULT content-hash recipe (q80/q109/q140/q143) stays BYTE-EXACT
# — canonically-equivalent NFC/NFD twins hash differently on BOTH
# engines, a dedup-recall cost only — because Spark has no JVM-side NFC
# and an always-on Arrow pandas-UDF pass over the full text column is
# the wrong default for the flagship "text never shuffles" path.
# Normalize-before-hash is the opt-in q145 recipe (dedup.py
# nfc_normalize_col). ZERO oracle or implementation changes to the
# default family, so no vintage implications (the fixture is
# NFC-invariant anyway — asserted by tests/test_adversarial_corpus.py::
# test_fixture_is_nfc_invariant); the NFC/NFD twin corpus docs 18/19
# exercise both postures cross-engine through the full corpus gate.
#
# Rotation discipline (standing): lead each round with the queries whose
# last driver row is oldest, plus every query whose semantics changed
# that round; backfill to 50 with the stalest remaining greens; registry
# (145) ~ 3x window, so the full cycle is ~3 rounds — report vintage
# honestly, and keep the local oracle gate (ALL queries, every round,
# tests/test_queries_oracle.py) green regardless.  After this window no
# query's latest driver green is older than r11; the r14 window leads
# with the 50 stalest r11 greens (run scripts/propose_window.py for the
# exact list and scripts/preflight_window.py before every end-of-round
# snapshot).
DRIVER_PRIORITY: tuple[str, ...] = (
    "q17_custdist",  # r10
    "q34_unpivot_stack",  # r10
    "q54_cte_multi_ref",  # r10
    "q57_script_transform",  # r10
    "q58_posexplode_lateral",  # r10
    "q35_hash_sample",  # r10
    "q36_collect_agg",  # r10
    "q37_global_sales_opportunity",  # r10
    "q38_nth_value_window",  # r10
    "q39_null_ordering",  # r10
    "q81_minhash_lsh_neardup",  # r10
    "q82_ngram_jaccard_pairs",  # r10
    "q83_simhash",  # r10
    "q116_canonical_per_cluster",  # r10
    "q105_dup_ngram_spans",  # r10
    "q108_decontaminate",  # r10
    "q109_incremental_dedup",  # r10
    "q60_json_extract",  # r10
    "q75_orc_roundtrip",  # r10
    "q76_json_roundtrip",  # r10
    "q77_csv_roundtrip",  # r10
    "q78_bucketed_join",  # r10
    "q95_multimodal_features",  # r10
    "q96_multimodal_meta_agg",  # r10
    "q107_frame_sample",  # r10
    "q01_pricing_summary",  # r10
    "q02_distinct_agg",  # r10
    "q03_rollup",  # r10
    "q04_cube",  # r10
    "q05_grouping_sets",  # r10
    "q10_join_chain_revenue",  # r10
    "q11_broadcast_dim_join",  # r10
    "q12_region_revenue",  # r10
    "q06b_hll_exact_check",  # r10
    "q07_exact_percentiles",  # r10
    "q08_salted_agg",  # r10
    "q104_heavy_hitters",  # r10
    "q113_collapse_repeats",  # r10
    "q114_pii_redact",  # r10
    "q09_pandas_udf_scalar",  # r10
    "q111_grouped_map_demean",  # r10
    "q101_merge_upsert",  # r10
    "q18_top_volume_orders",  # r11
    "q24_percent_rank_cume_dist",  # r11
    "q48_hash_funcs",  # r11
    "q49_map_bitwise",  # r11
    "q59_values_inline",  # r11
    "q135_recursive_hierarchy",  # r11
    "q145_nfc_exact_dedup",  # new this round (changed)
    "q146_width_fold_dedup",  # new this round (changed)
)


def all_queries() -> dict[str, QuerySpec]:
    # Import for side effects: each module registers its queries.
    from hdfs_hive_sql_playground_spark.queries import (  # noqa: F401
        advanced_sql,
        curation2,
        dedup,
        events,
        formats,
        m33_pipeline,
        multimodal,
        relational,
        similarity,
        sketches,
        text,
        udfs,
        warehouse,
    )

    ordered = {name: REGISTRY[name] for name in DRIVER_PRIORITY if name in REGISTRY}
    for name, spec in REGISTRY.items():
        if name not in ordered:
            ordered[name] = spec
    return ordered
