"""Plan-shape assertions for the headline queries: predicate pushdown,
broadcast dimension joins, single-exchange windowing. These are the
properties that decide 100 TB behavior — a green oracle gate with a bad
plan is only half done."""

from __future__ import annotations

import os

import pytest

from hdfs_hive_sql_playground_spark import plans
from hdfs_hive_sql_playground_spark.caching import release_tracked_caches
from hdfs_hive_sql_playground_spark.queries import all_queries
from hdfs_hive_sql_playground_spark.tables import register_all

SPECS = all_queries()


def test_q01_filter_pushed_to_scan(spark, sf_dir):
    df = SPECS["q01_pricing_summary"].fn(spark, sf_dir)
    plans.assert_pushed_filters(df, "LessThanOrEqual(l_shipdate")
    # partial+final aggregation over exactly one shuffle
    assert plans.count_exchanges(df) == 1


def test_q12_broadcast_dims_and_pushdown(spark, sf_dir):
    df = SPECS["q12_region_revenue"].fn(spark, sf_dir)
    plans.assert_pushed_filters(df, "GreaterThanOrEqual(o_orderdate")
    assert plans.count_broadcast_joins(df) >= 2  # nation + region at minimum
    plans.assert_no_cartesian(df)


def test_q62_single_exchange_for_both_windows(spark, sf_dir):
    df = SPECS["q62_sessionize"].fn(spark, sf_dir)
    # lag window, running-sum window, and the final agg all reuse ONE
    # user_id exchange
    assert plans.count_exchanges(df) == 1


def test_q80_dedup_single_exchange(spark, sf_dir):
    df = SPECS["q80_exact_dedup"].fn(spark, sf_dir)
    assert plans.count_exchanges(df) == 1
    plans.assert_no_cartesian(df)


# Attributes that carry a full document through the plan: the raw column
# plus every alias a query derives from it wholesale (q99's
# t = lower(trim(text)), q113's cleaned_text).  Extend this tuple whenever
# a query introduces a new full-text alias — grams, hashes, signatures,
# and per-token explode outputs are fine to shuffle; whole documents are
# not.  Matched as whole attribute names in Spark's attr#id notation (a
# bare "t#" substring would false-positive on e.g. c_mktsegment#13364).
import re

FULL_TEXT_ATTRS = ("text", "t", "cleaned_text", "redacted", "__content")
_FULL_TEXT_RE = re.compile(
    r"(?<![A-Za-z0-9_])(?:" + "|".join(FULL_TEXT_ATTRS) + r")#\d"
)


def _assert_no_full_text_in_exchange(name: str, plan: str) -> None:
    for line in plan.splitlines():
        if "Exchange" in line:
            m = _FULL_TEXT_RE.search(line)
            assert m is None, (name, m.group(0) if m else None, line)


def test_no_collect_style_plans(spark, sf_dir):
    """Registry-wide plan invariants: CartesianProduct is banned everywhere
    (no driver funnels / all-pairs stages), and no plan may carry the raw
    documents.text column — or any full-text alias of it — through an
    Exchange: at 100 TB the shuffle carries hashes, grams, and signatures,
    never documents."""
    for name, spec in SPECS.items():
        if name.startswith(("q7", "q8")) and "jdbc" in name:
            continue
        df = spec.fn(spark, sf_dir)
        p = plans.executed_plan(df)
        assert "CartesianProduct" not in p, name
        _assert_no_full_text_in_exchange(name, p)


def test_q18_in_subquery_decorrelates_to_semi_join(spark, sf_dir):
    df = SPECS["q18_top_volume_orders"].fn(spark, sf_dir)
    p = plans.executed_plan(df)
    assert "LeftSemi" in p  # IN + HAVING became a semi-join, not a per-row subquery
    plans.assert_no_cartesian(df)


def test_q17_left_join_distribution_no_cartesian(spark, sf_dir):
    df = SPECS["q17_custdist"].fn(spark, sf_dir)
    plans.assert_no_cartesian(df)


def test_q65_asof_join_single_exchange_no_nested_loop(spark, sf_dir):
    df = SPECS["q65_asof_join"].fn(spark, sf_dir)
    p = plans.executed_plan(df)
    # union-window formulation: ONE user_id shuffle, and crucially no
    # BroadcastNestedLoopJoin (what a naive ts-inequality join would plan)
    assert plans.count_exchanges(df) == 1
    assert "BroadcastNestedLoop" not in p


def test_q66_range_join_is_equi_not_nested_loop(spark, sf_dir):
    df = SPECS["q66_range_join_bucketed"].fn(spark, sf_dir)
    p = plans.executed_plan(df)
    assert "BroadcastNestedLoop" not in p
    plans.assert_no_cartesian(df)


def test_q37_not_exists_decorrelates_to_anti_join(spark, sf_dir):
    df = SPECS["q37_global_sales_opportunity"].fn(spark, sf_dir)
    p = plans.executed_plan(df)
    assert "Anti" in p  # NOT EXISTS became an anti-join, not a per-row subquery
    assert "BroadcastNestedLoop" not in p or "Anti" in p
    plans.assert_no_cartesian(df)


def test_q39_topk_not_global_sort(spark, sf_dir):
    df = SPECS["q39_null_ordering"].fn(spark, sf_dir)
    plan = plans.executed_plan(df)
    # Each ORDER BY ... LIMIT branch must plan as per-partition top-k
    # (TakeOrderedAndProject), never a full-shuffle global Sort.
    assert plan.count("TakeOrderedAndProject") == 2
    assert plans.count_exchanges(df) == 0


def test_q98_banded_simhash_equi_join_no_cartesian(spark, sf_dir):
    df = SPECS["q98_simhash_banded_neardup"].fn(spark, sf_dir)
    p = plans.executed_plan(df)
    # The candidate stage must be a (band, byte)-keyed equi-join: all-pairs
    # Hamming comparison would plan a nested-loop/cartesian.
    plans.assert_no_cartesian(df)
    assert "BroadcastNestedLoop" not in p


def test_q100_bigram_topk_takeordered_not_global_sort(spark, sf_dir):
    df = SPECS["q100_bigram_topk"].fn(spark, sf_dir)
    p = plans.executed_plan(df)
    # Top-k over the bigram counts: per-partition heap + driver merge, not
    # a full global sort of the vocabulary.
    assert "TakeOrderedAndProject" in p
    # one exchange for the bigram aggregation, none for the ordering
    assert plans.count_exchanges(df) == 1


def test_q104_sketch_recount_is_broadcast_bounded(spark, sf_dir):
    """The heavy-hitter recount must join candidates by BROADCAST (the
    sketch output is tiny) so the only wide shuffle aggregates candidate
    tokens, never the full token stream."""
    df = SPECS["q104_heavy_hitters"].fn(spark, sf_dir)
    p = plans.executed_plan(df)
    assert plans.count_broadcast_joins(df) >= 1  # candidate semi-join
    assert "BroadcastNestedLoopJoin" in p  # the 1-row N-total join
    plans.assert_no_cartesian(df)


def test_q106_repetition_signals_zero_shuffle(spark, sf_dir):
    """Gopher-style repetition stats are a pure projection: no exchange,
    no explode-induced shuffle, nothing but a map-side pass."""
    df = SPECS["q106_repetition_signals"].fn(spark, sf_dir)
    assert plans.count_exchanges(df) == 0


def test_q107_frame_sample_single_pass_no_shuffle(spark, sf_dir):
    """Frame sampling is one mapInPandas over the scan — exploding frames
    must not introduce an exchange."""
    df = SPECS["q107_frame_sample"].fn(spark, sf_dir)
    assert plans.count_exchanges(df) == 0
    assert "MapInPandas" in plans.executed_plan(df)


def test_q108_probe_index_is_broadcast(spark, sf_dir):
    """Decontamination must broadcast the probe index; the corpus side
    joins map-side and only hit rows reach an exchange."""
    df = SPECS["q108_decontaminate"].fn(spark, sf_dir)
    assert plans.count_broadcast_joins(df) >= 1
    plans.assert_no_cartesian(df)


def test_q109_only_hashes_shuffle(spark, sf_dir):
    """Incremental dedup shuffles 128-bit content hashes, never text: no
    plan node may carry the text column past the scan projection."""
    df = SPECS["q109_incremental_dedup"].fn(spark, sf_dir)
    p = plans.executed_plan(df)
    assert "LeftAnti" in p
    # text appears only inside the scan/md5 projection, not in exchanges:
    _assert_no_full_text_in_exchange("q109_incremental_dedup", p)


def test_q101_merge_is_key_equi_full_outer(spark, sf_dir):
    """MERGE semantics must plan as ONE key-equi full-outer join (the
    Delta/Iceberg MERGE shape): two CDC aggregations + the join exchange,
    never a nested-loop or per-row lookup."""
    df = SPECS["q101_merge_upsert"].fn(spark, sf_dir)
    p = plans.executed_plan(df)
    assert "FullOuter" in p
    assert "BroadcastNestedLoop" not in p
    plans.assert_no_cartesian(df)
    # update-agg + insert-agg + merge-key join = exactly three exchanges
    assert plans.count_exchanges(df) == 3
    # the insert branch's key filter reaches the parquet reader
    plans.assert_pushed_filters(df, "LessThan(o_custkey,50)")


def test_q102_scd2_single_dimension_key_exchange(spark, sf_dir):
    """SCD2 builds the whole validity history with ONE shuffle on the
    dimension key (lead() window) — no self-join — and the key filter is
    pushed to the scan."""
    df = SPECS["q102_scd2_build"].fn(spark, sf_dir)
    assert plans.count_exchanges(df) == 1
    plans.assert_pushed_filters(df, "LessThan(o_custkey,500)")


def test_q105_gram_agg_bounded_output_topk(spark, sf_dir):
    """Duplicated-span detection: positioned n-gram explode feeds a
    two-phase distinct aggregation (grams partial-aggregate map-side), and
    the top-k is TakeOrderedAndProject, never a global sort of the gram
    vocabulary."""
    df = SPECS["q105_dup_ngram_spans"].fn(spark, sf_dir)
    p = plans.executed_plan(df)
    # (gram, doc_id) distinct exchange + gram rollup exchange — nothing more
    assert plans.count_exchanges(df) == 2
    assert "TakeOrderedAndProject" in p
    plans.assert_no_cartesian(df)


def test_q110_partition_pruning_and_rowgroup_pushdown(spark, sf_dir):
    """The range layout must actually pay off at scan time: event_type
    becomes a PartitionFilter (directory pruning) and user_id reaches the
    parquet reader as a pushed filter (row-group min/max skipping), with
    zero exchanges in the read-back."""
    df = SPECS["q110_range_layout_scan"].fn(spark, sf_dir)
    p = plans.executed_plan(df)
    scan = next(ln for ln in p.splitlines() if "FileScan" in ln)
    part = scan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "event_type" in part and "click" in part, scan
    plans.assert_pushed_filters(df, "LessThanOrEqual(user_id,50)")
    assert plans.count_exchanges(df) == 0


def _assert_stratum_windows_bucketed(df, stratum: str) -> None:
    """Every window spec that partitions on the low-cardinality stratum key
    must involve the __bucket split (as partition or order column): the
    corpus windows partition on (stratum, __bucket); the only bare-stratum
    window ORDERS BY __bucket and runs over the bounded per-bucket totals
    table.  A bare `PARTITION BY stratum ORDER BY <row key>` window — the
    100 TB skew-killer — must never reappear."""
    p = plans.executed_plan(df)
    specs = re.findall(r"windowspecdefinition\([^)]*\)", p)
    strat = [s for s in specs if f"{stratum}#" in s]
    assert strat, f"no window on {stratum} found"
    for s in strat:
        assert "__bucket" in s, f"bare-stratum window spec: {s}"


def test_q99_composed_pipeline_bounded_exchanges(spark, sf_dir):
    """The end-to-end curation pipeline (quality → dedup → LID → quota)
    composes as ONE plan with a bounded number of key-narrow exchanges —
    no stage multiplies shuffles, the lexicon joins broadcast, nothing
    plans nested-loop/cartesian, and the final quota stage windows on the
    bucketed composite key (the bare pred_lang running rank was the last
    low-cardinality scale-killer).  Round 13 folded the LID branch
    (explode → broadcast lexicon join → count + argmax exchanges → doc_id
    left join) into the map-side _lid_best projection, so the corpus is
    scanned ONCE and the static plan is down from 14 exchanges to 6 (the
    quota counts branch still re-derives its upstream; at runtime
    ReusedExchange collapses the expensive dedup-window exchange — a
    persist of the pre-window projection was A/B-measured SLOWER than
    the reused exchange and is deliberately absent)."""
    df = SPECS["q99_curation_pipeline"].fn(spark, sf_dir)
    p = plans.executed_plan(df)
    assert plans.count_exchanges(df) <= 6
    assert "BroadcastNestedLoop" not in p
    plans.assert_no_cartesian(df)
    _assert_no_full_text_in_exchange("q99_curation_pipeline", p)
    _assert_stratum_windows_bucketed(df, "pred_lang")


def test_q103_srp_lsh_is_bucketed_equi_join(spark, sf_dir):
    """SRP-LSH near-dup must candidate-pair via (band, signature) equi
    joins with broadcast small sides — an all-pairs Hamming comparison
    would plan a nested-loop."""
    df = SPECS["q103_srp_lsh_neardup"].fn(spark, sf_dir)
    p = plans.executed_plan(df)
    assert "BroadcastNestedLoop" not in p
    plans.assert_no_cartesian(df)
    assert plans.count_exchanges(df) <= 4


def test_q114_pii_redact_zero_shuffle(spark, sf_dir):
    """PII scrubbing is a pure map-side regexp_replace chain: no exchange,
    and the redacted text never leaves the projection."""
    df = SPECS["q114_pii_redact"].fn(spark, sf_dir)
    assert plans.count_exchanges(df) == 0


def test_q115_domain_mix_broadcasts_quotas(spark, sf_dir):
    """Domain mixing: the per-source quota table (tiny) must broadcast
    onto the corpus, the only single-partition exchange is the one-row
    weight total, no cartesian anywhere — and the running token sum
    windows on (source, __bucket), never on the bare domain key (one
    domain can hold half the corpus)."""
    df = SPECS["q115_domain_mix_sample"].fn(spark, sf_dir)
    p = plans.executed_plan(df)
    plans.assert_no_cartesian(df)
    assert plans.count_broadcast_joins(df) >= 2  # quotas + bucket offsets
    assert p.count("SinglePartition") == 1
    _assert_stratum_windows_bucketed(df, "source")


def test_q112_windows_on_composite_bucket_key(spark, sf_dir):
    """Sequence packing: the running-sum window partitions on
    (lang, __bucket) — bounded by the bucket width however skewed the
    language mix — with exactly one full-corpus exchange; the per-bucket
    totals branch partial-aggregates map-side before its (tiny) shuffle,
    and the offsets join back is a broadcast."""
    df = SPECS["q112_sequence_packing"].fn(spark, sf_dir)
    p = plans.executed_plan(df)
    assert plans.count_exchanges(df) == 4  # corpus window + totals agg + offsets window + broadcast
    composite = [
        ln for ln in p.splitlines()
        if "Exchange hashpartitioning" in ln and "lang#" in ln and "__bucket" in ln
    ]
    assert len(composite) == 2  # corpus window exchange + partial-agg totals
    assert "SinglePartition" not in p
    _assert_stratum_windows_bucketed(df, "lang")


def test_q94_quota_rank_bucketed_and_prefiltered(spark, sf_dir):
    """Stratified quota: the hash-order rank windows on (lang, md5-prefix
    __bucket) — never bare lang — and the offsets join is broadcast; the
    per-bucket top-N prefilter bounds the join input."""
    df = SPECS["q94_stratified_quota"].fn(spark, sf_dir)
    p = plans.executed_plan(df)
    assert plans.count_exchanges(df) == 4
    assert plans.count_broadcast_joins(df) >= 1
    assert "SinglePartition" not in p
    plans.assert_no_cartesian(df)
    _assert_stratum_windows_bucketed(df, "lang")


def test_q116_single_component_window_exchange(spark, sf_dir):
    """Canonical-doc selection: on top of q87's (checkpointed) component
    assignment, the keep-longest decision adds exactly ONE window exchange
    partitioned on component — safe because component sizes are bounded by
    q87's shingle-DF cap — carrying only ids and one token count, never
    text."""
    df = SPECS["q116_canonical_per_cluster"].fn(spark, sf_dir)
    p = plans.executed_plan(df)
    comp_ex = [
        ln
        for ln in p.splitlines()
        if "Exchange hashpartitioning" in ln and "component#" in ln
    ]
    assert len(comp_ex) == 1, p
    plans.assert_no_cartesian(df)
    _assert_no_full_text_in_exchange("q116_canonical_per_cluster", p)


def test_q117_novelty_reuses_gram_hash_exchange(spark, sf_dir):
    """n-gram novelty: distinctness is map-side (array_distinct before
    explode — no pre-shuffle), the shuffle key is xxhash64(gram) so no
    gram string or document text enters an Exchange, and the
    first-occurrence aggregate + join probe hash-partition on the same
    key so Catalyst plans ONE gram-hash exchange and reuses it."""
    df = SPECS["q117_ngram_novelty"].fn(spark, sf_dir)
    p = plans.executed_plan(df)
    plans.assert_no_cartesian(df)
    _assert_no_full_text_in_exchange("q117_ngram_novelty", p)
    # no gram STRING ever enters an exchange — only its 64-bit hash
    assert not any(
        "gram#" in ln for ln in p.splitlines() if "Exchange" in ln
    ), p
    # the join key is the gram hash; at this scale AQE broadcasts the
    # first-occurrence table (so the corpus side never shuffles at all —
    # at 100 TB it degrades gracefully to a same-key SMJ that reuses the
    # aggregate's gh exchange), and the only hash exchanges are the
    # first-occurrence agg (gh) and the final per-doc agg (doc_id)
    assert plans.count_broadcast_joins(df) >= 1, p
    assert plans.count_exchanges(df) <= 3, p
    assert any(
        "Exchange hashpartitioning(gh#" in ln for ln in p.splitlines()
    ), p


def test_q118_length_trim_windows_only_on_histogram(spark, sf_dir):
    """Length trimming: the CDF windows run over the (source, n_tok)
    HISTOGRAM — bounded by |sources| x |distinct lengths| — never over
    corpus rows, and the thresholds broadcast back onto the corpus. The
    corpus itself is shuffled exactly once (the histogram aggregation);
    sort orders inside window stages touch only the tiny table."""
    df = SPECS["q118_length_trim"].fn(spark, sf_dir)
    p = plans.executed_plan(df)
    plans.assert_no_cartesian(df)
    _assert_no_full_text_in_exchange("q118_length_trim", p)
    assert plans.count_broadcast_joins(df) >= 1
    # exactly two hash exchanges (plus the threshold broadcast): the corpus
    # histogram aggregation on (source, n_tok) and the tiny
    # post-aggregation shuffle on source that feeds the CDF windows; the
    # corpus itself is never window-sorted
    hash_ex = [
        ln for ln in p.splitlines() if "Exchange hashpartitioning" in ln
    ]
    assert len(hash_ex) == 2, p
    assert any(
        "Exchange hashpartitioning(source#" in ln and "n_tok#" in ln
        for ln in p.splitlines()
    ), p
    # every window aggregates histogram COUNTS (sum(cnt#...)), proving the
    # window input is the bounded (source, n_tok) table, not corpus rows
    win_lines = [ln for ln in p.splitlines() if "windowspecdefinition" in ln]
    assert win_lines and all("sum(cnt#" in ln for ln in win_lines), p


def test_q119_hash_split_zero_shuffle(spark, sf_dir):
    """Split assignment is a pure projection: membership derives from a
    deterministic doc_id hash, so the plan has no exchange at all."""
    df = SPECS["q119_hash_split"].fn(spark, sf_dir)
    assert plans.count_exchanges(df) == 0


def test_q120_budget_select_no_global_sort(spark, sf_dir):
    """Global budget selection must NOT plan a global ORDER BY over corpus
    rows: the only single-partition stage is the <= 10001-row per-score
    offsets window, every corpus window partitions on the composite
    (q_e4, __bucket) key, and the offsets join back is a broadcast."""
    df = SPECS["q120_budget_select"].fn(spark, sf_dir)
    p = plans.executed_plan(df)
    plans.assert_no_cartesian(df)
    _assert_no_full_text_in_exchange("q120_budget_select", p)
    assert plans.count_broadcast_joins(df) >= 2  # bucket offsets + score offsets
    # every window touching q_e4 is either (a) a corpus/bucket-offsets
    # window involving the __bucket split, or (b) the <= 10001-row
    # cross-score offsets window, recognizable as ORDER BY q_e4 DESC over
    # the per-score totals — never a bare PARTITION BY q_e4 over corpus
    # rows, and never a corpus-wide ORDER BY
    specs_ = re.findall(r"windowspecdefinition\([^)]*\)", p)
    q_specs = [s for s in specs_ if "q_e4#" in s]
    assert q_specs, "no window on q_e4 found"
    for s in q_specs:
        assert "__bucket" in s or "DESC" in s, f"bare-stratum window: {s}"
    # the tiny global offsets window is allowed exactly one single
    # partition; a corpus-wide global sort would add rangepartitioning
    assert "rangepartitioning" not in p, p


def test_q121_pack_stats_inherits_bucketed_windows(spark, sf_dir):
    """Per-pack stats compose q112's plan with one (lang, pack_id)
    aggregation: the running-sum windows must still partition on the
    composite bucket key, and nothing new shuffles text."""
    df = SPECS["q121_pack_stats"].fn(spark, sf_dir)
    p = plans.executed_plan(df)
    plans.assert_no_cartesian(df)
    _assert_no_full_text_in_exchange("q121_pack_stats", p)
    _assert_stratum_windows_bucketed(df, "lang")


def test_q122_unigram_join_is_token_keyed(spark, sf_dir):
    """Unigram scoring: the vocab count and the token join key on the
    same single-token column (never documents) — no nested-loop, no
    cartesian, and only token/doc_id exchanges."""
    df = SPECS["q122_unigram_surprisal"].fn(spark, sf_dir)
    p = plans.executed_plan(df)
    plans.assert_no_cartesian(df)
    assert "BroadcastNestedLoop" not in p
    _assert_no_full_text_in_exchange("q122_unigram_surprisal", p)
    hash_ex = [ln for ln in p.splitlines() if "Exchange hashpartitioning" in ln]
    assert all(("token#" in ln) or ("doc_id#" in ln) for ln in hash_ex), p


def test_q123_source_overlap_hash_keyed_no_explosion(spark, sf_dir):
    """Source-overlap: candidate pairing must be an equi-join on the
    48-bit gram hash over DISTINCT (source, hash) rows — per-gram fan-out
    bounded by |sources| — with the inequality as a post-filter, never a
    nested-loop/cartesian; gram strings and text stay out of exchanges."""
    df = SPECS["q123_source_overlap"].fn(spark, sf_dir)
    p = plans.executed_plan(df)
    plans.assert_no_cartesian(df)
    assert "BroadcastNestedLoop" not in p
    _assert_no_full_text_in_exchange("q123_source_overlap", p)
    assert not any(
        "gram#" in ln for ln in p.splitlines() if "Exchange" in ln
    ), p


def test_q10_preaggregates_lineitem_no_distinct_expand(spark, sf_dir):
    """q10 must aggregate lineitem per order key BEFORE joining — the
    COUNT(DISTINCT) formulation would plan an Expand over the join output
    and shuffle the fact twice."""
    df = SPECS["q10_join_chain_revenue"].fn(spark, sf_dir)
    p = plans.executed_plan(df)
    assert "Expand" not in p, p
    plans.assert_no_cartesian(df)


def test_q124_semdedup_cell_bounded_no_allpairs(spark, sf_dir):
    """SemDeDup prunes within IVF cells only: centroid assignment is a
    broadcast join, the dominance self-join exchanges on the cell key, and
    no unbucketed all-pairs stage exists anywhere."""
    from hdfs_hive_sql_playground_spark.caching import release_tracked_caches

    try:
        df = SPECS["q124_semdedup_prune"].fn(spark, sf_dir)
        p = plans.executed_plan(df)
        plans.assert_no_cartesian(df)
        # centroid scoring happens ONCE: the assignment is cached and every
        # consumer reads the InMemory relation.  The plan string re-renders
        # that one cached plan under each scan (and twice per scan when the
        # cache pre-exists), so we assert shape, not occurrence counts: three
        # consumers, and EVERY nested-loop rendering is the broadcast-centroid
        # cross (build side = N_CELLS rows), never an unbroadcast all-pairs.
        assert p.count("InMemoryTableScan") >= 3, p
        assert p.count("BroadcastNestedLoopJoin") == p.count(
            "BroadcastNestedLoopJoin BuildRight, Cross"
        ), p
        # with every cell under the cap (this SF), the dominance self-join is
        # the plain cell-keyed equi join, never all-pairs (strategy varies
        # with cache statistics: SMJ cold, BHJ once the cached assignment's
        # true size is known — both are cell-keyed equi joins)
        assert re.search(
            r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \[cell#", p
        ), p
        _assert_no_full_text_in_exchange("q124_semdedup_prune", p)
    finally:
        # q124 track_persists its assignment; leave no cache behind on the
        # shared session (the exact leak caching.py exists to prevent)
        release_tracked_caches()


def test_q124_hot_cell_plan_is_2d_sharded(spark, sf_dir, monkeypatch):
    """Force every cell over the cap: the dominance join must switch to
    the 2-D blocked shape — key-equi on (cell, __sa, __sb), candidate
    replication via a sequence explode, and the pair stage pinned to an
    AQE-exempt numbered repartition so tiny shuffled inputs can't
    coalesce the compute-bound stage onto a handful of tasks."""
    import hdfs_hive_sql_playground_spark.queries.similarity as sim
    from hdfs_hive_sql_playground_spark.caching import release_tracked_caches

    monkeypatch.setattr(sim, "SEMDEDUP_CELL_CAP", 1)
    try:
        df = SPECS["q124_semdedup_prune"].fn(spark, sf_dir)
        p = plans.executed_plan(df)
        plans.assert_no_cartesian(df)
        assert re.search(
            r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) "
            r"\[cell#\d+L?, __sa#\d+, __sb#",
            p,
        ), p
        assert "Generate explode(sequence" in p, p
        assert "REPARTITION_BY_NUM" in p, p
        _assert_no_full_text_in_exchange("q124_semdedup_prune", p)
    finally:
        release_tracked_caches()


def test_q125_q126_q127_scalar_udf_parity_zero_shuffle(spark, sf_dir):
    """The Hive UDF-parity projections (parse_url, levenshtein/soundex/
    initcap/format_number, xpath) are pure map-side work: no exchange."""
    for name in ("q125_url_funcs", "q126_fuzzy_string_funcs", "q127_xpath_funcs"):
        df = SPECS[name].fn(spark, sf_dir)
        assert plans.count_exchanges(df) == 0, name


def test_q06b_distinct_agg_two_narrow_exchanges(spark, sf_dir):
    """The exact-distinct + HLL-pin companion plans as Spark's two-level
    distinct aggregate: partial agg keyed (group, custkey) -> exchange ->
    dedup -> exchange on the group key -> final. Both exchanges carry
    pre-aggregated narrow rows (no Expand — a single distinct column
    needs no grouping-id expansion), so shuffle volume is bounded by
    |group x custkey| pairs, not input rows."""
    df = SPECS["q06b_hll_exact_check"].fn(spark, sf_dir)
    assert plans.count_exchanges(df) == 2
    assert "Expand" not in plans.executed_plan(df)
    plans.assert_no_cartesian(df)


def test_q128_q129_single_agg_exchange(spark, sf_dir):
    """Both aggregate families are one partial+final agg over one group-key
    exchange — associative combiners, the canonical 100 TB rollup shape."""
    for name in ("q128_stats_aggregates", "q129_bit_bool_aggs"):
        df = SPECS[name].fn(spark, sf_dir)
        assert plans.count_exchanges(df) == 1, name


def test_q130_bpe_pairs_takeordered_single_exchange(spark, sf_dir):
    """Char-pair counting: map-side explode, ONE pair-key agg exchange,
    top-k via TakeOrdered — never a global sort of the pair table."""
    df = SPECS["q130_bpe_pair_counts"].fn(spark, sf_dir)
    p = plans.executed_plan(df)
    assert "TakeOrderedAndProject" in p
    assert plans.count_exchanges(df) == 1


def test_q131_histogram_agg_plus_one_row_broadcast(spark, sf_dir):
    """Fixed-width histogram: one bucket-key agg exchange; the
    histogram_numeric mass check joins as a 1-row broadcast."""
    df = SPECS["q131_width_bucket_histogram"].fn(spark, sf_dir)
    p = plans.executed_plan(df)
    assert "BroadcastNestedLoopJoin" in p  # the 1-row sketch-check join
    plans.assert_no_cartesian(df)


def test_q132_gopher_rules_zero_shuffle(spark, sf_dir):
    """The Gopher rule bundle is a pure map-side projection — no exchange,
    and the document text never leaves the scan."""
    df = SPECS["q132_gopher_rules"].fn(spark, sf_dir)
    assert plans.count_exchanges(df) == 0


def test_q133_q134_hof_zero_shuffle(spark, sf_dir):
    """Array/map higher-order functions and posexplode_outer are pure
    map-side generators/projections — no exchange anywhere."""
    for name in ("q133_array_hof_funcs", "q134_explode_outer_map_hofs"):
        df = SPECS[name].fn(spark, sf_dir)
        assert plans.count_exchanges(df) == 0, name


def test_q136_rewrite_join_broadcasts_and_text_never_shuffles(spark, sf_dir):
    """Segment-dedup rewrite, small-corpus shape: the driver-side doc
    count sits under REWRITE_BCAST_CAP, so the removal list joins back to
    the documents scan as a doc_id broadcast — segments hash map-side
    (only (hash, doc_id, pos) rows reach the first-occurrence exchange)
    and the document text never enters any Exchange."""
    df = SPECS["q136_segment_dedup_rewrite"].fn(spark, sf_dir)
    p = plans.executed_plan(df)
    plans.assert_no_cartesian(df)
    # the rewrite join against the full documents scan must be the
    # broadcast (text side streamed, never exchanged)
    assert re.search(r"BroadcastHashJoin \[doc_id#\d+L?\]", p), p
    # first-occurrence resolution is ONE rank over the 48-bit segment-hash
    # exchange (round-13: replaced the min(struct) + shuffle_hash join,
    # which re-derived the segment explode+hash for both join subtrees)
    assert re.search(r"Window \[row_number\(\)", p), p
    assert re.search(r"hashpartitioning\(h#", p), p
    # ... and the raw segment stream is exploded+hashed exactly once: no
    # join on h remains
    assert not re.search(
        r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \[h#", p
    ), p
    _assert_no_full_text_in_exchange("q136_segment_dedup_rewrite", p)


def test_q136_past_cap_rewrite_is_shuffled_doc_id_equi_join(spark, sf_dir):
    """Force the corpus count past REWRITE_BCAST_CAP: the rewrite must
    switch to the shuffle_hash doc_id equi-join — no broadcast of the
    (corpus-proportional) removal list anywhere, so the driver never
    builds a corpus-sized HashedRelation. The one text exchange this shape
    pays is the documented Lee-et-al rewrite cost, so the full-text
    invariant is intentionally NOT asserted here. Values must be identical
    to the broadcast shape."""
    import hdfs_hive_sql_playground_spark.queries.dedup as dd

    baseline = sorted(
        map(tuple, SPECS["q136_segment_dedup_rewrite"].fn(spark, sf_dir).collect())
    )
    orig = dd.REWRITE_BCAST_CAP
    dd.REWRITE_BCAST_CAP = 0
    try:
        df = SPECS["q136_segment_dedup_rewrite"].fn(spark, sf_dir)
        p = plans.executed_plan(df)
        plans.assert_no_cartesian(df)
        assert re.search(r"ShuffledHashJoin \[doc_id#\d+L?\]", p), p
        # the removal list must not be broadcast in this shape
        assert not re.search(r"BroadcastHashJoin \[doc_id#\d+L?\]", p), p
        assert sorted(map(tuple, df.collect())) == baseline
    finally:
        dd.REWRITE_BCAST_CAP = orig


# Registry queries whose BUILD runs Spark jobs by design, with the reason.
BUILD_RUNS_JOBS = {
    "q73_m33_ctas_roundtrip": "writes the CTAS text table it reads back",
    "q74_m33_jdbc_export_roundtrip": "exports to Derby over JDBC and reads the table back",
    "q75_orc_roundtrip": "writes the ORC files it reads back",
    "q76_json_roundtrip": "writes the JSON files it reads back",
    "q77_csv_roundtrip": "writes the CSV files it reads back",
    "q78_bucketed_join": "writes the two bucketed tables it joins",
    "q87_neardup_components": "label propagation: one checkpoint job per round until an observed count is 0",
    "q97_ann_pandas_topk": "collects the query matrix, a closure constant of the pandas scorer",
    "q110_range_layout_scan": "writes the range layout it scans when the source fingerprint changed",
    "q116_canonical_per_cluster": "q87's label propagation",
    "q124_semdedup_prune": "the max cell size (.first()) picks the dominance-join strategy",
    "q139_leakage_safe_split": "q87's label propagation",
    "q144_quarantine_ingest": "writes the raw text files it ingests",
}


@pytest.fixture(scope="module")
def warm_schemas(spark, sf_dir):
    register_all(spark, sf_dir)


def test_build_allow_list_names_registry_queries():
    assert set(BUILD_RUNS_JOBS) <= set(SPECS)


@pytest.mark.parametrize("name", sorted(set(SPECS) - set(BUILD_RUNS_JOBS)))
def test_registry_build_schedules_no_job(spark, sf_dir, warm_schemas, name):
    """Constructing a registry query's DataFrame must stay LAZY once the
    table schemas are cached (tables.load): an action at build time would
    charge every explain-only path, plan test and repeated spec.fn call
    its jobs, and at 100 TB a build-time scan is a full extra stage. So
    driver-side strategy probes read metadata (q136's doc count comes from
    parquet footers, tables.parquet_row_count), and parallelism floors
    count the partitions of a plain scan, never of a persisted or
    AQE-wrapped plan, where ``.rdd`` runs the stages below it (q84, q124
    and q137 did, 3 jobs each)."""
    sc = spark.sparkContext
    label = f"lazy-build-{name}"
    sc.setJobGroup(label, label)
    try:
        SPECS[name].fn(spark, sf_dir)
    finally:
        sc.setJobGroup(None, None)
        release_tracked_caches()
    built = len(list(sc.statusTracker().getJobIdsForGroup(label) or []))
    assert built == 0, f"building {name} scheduled {built} job(s)"


def test_q135_recursion_is_bounded_union_loop(spark, sf_dir):
    """The recursive CTE must plan Spark's iterative union (UnionLoop),
    seeded by a pushed-down key filter — never a cartesian expansion."""
    df = SPECS["q135_recursive_hierarchy"].fn(spark, sf_dir)
    p = plans.executed_plan(df)
    assert "UnionLoop" in p or "Recursion" in p or "recursive" in p.lower(), p
    plans.assert_no_cartesian(df)
    # the anchor scan lives inside the loop node, out of reach of the
    # pushed-filter helper; the seed bound is asserted by the oracle match
    # (201+ rows would change every aggregate)


def test_q137_kmeans_update_shuffles_partial_sums_not_vectors(spark, sf_dir):
    """k-means refinement: the centroid update must partial-aggregate
    map-side so its exchange carries (cell, pos) partial sums, never the
    exploded per-element rows; the refined centroids broadcast back for
    re-assignment; and no embedding array column enters any Exchange
    (vectors only ever stream through scans and broadcast probes)."""
    df = SPECS["q137_kmeans_refine"].fn(spark, sf_dir)
    p = plans.executed_plan(df)
    # map-side combine on the CENTROID-UPDATE agg specifically: a partial
    # HashAggregate grouped on (cell, pos) must exist — anchored on its
    # keys so the final groupBy(cell) agg's partial_sum can't satisfy it
    assert re.search(
        r"HashAggregate\(keys=\[cell#\d+L?, pos#\d+\], functions=\[partial_sum", p
    ), p
    # refined centroids (and the initial ones) reach scoring via broadcast
    assert "BroadcastExchange" in p, p
    # the embedding array never shuffles: hash exchanges exist only for
    # the (cell, pos) update agg, the (cell, n) centroid rebuild and the
    # final (cell) agg — a window-based argmax regression (which would
    # shuffle full candidate rows per vec_id) adds a vec_id exchange
    for ln in p.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert re.search(r"hashpartitioning\((cell|pos|n)#", ln), ln
            assert "vec_id#" not in ln, ln


def test_q138_weighted_sample_rank_bucketed_and_prefiltered(spark, sf_dir):
    """Weighted sampler: the per-stratum top-k rank windows on the
    composite (lang, key-range __bucket) key — never bare lang — with the
    per-bucket top-k prefilter and a broadcast offsets join; the race-key
    construction is a per-row array fold (no explode, no extra
    exchange)."""
    df = SPECS["q138_weighted_sample"].fn(spark, sf_dir)
    p = plans.executed_plan(df)
    assert plans.count_broadcast_joins(df) >= 1
    assert "SinglePartition" not in p
    plans.assert_no_cartesian(df)
    assert "Generate" not in p  # no explode: sequence+transform fold only
    _assert_stratum_windows_bucketed(df, "lang")


def test_q139_split_is_one_join_plus_projection(spark, sf_dir):
    """Leakage-safe split: one doc_id equi-join of the component table
    onto the corpus plus a pure projection — no cartesian, no window,
    and the split assignment adds no exchange beyond the join's own
    (strategy stays stats-picked per DEPLOYMENT_100TB §7: broadcast
    while the component table fits, SMJ from real sizes past it)."""
    df = SPECS["q139_leakage_safe_split"].fn(spark, sf_dir)
    p = plans.executed_plan(df)
    plans.assert_no_cartesian(df)
    # exactly one join above q87's (checkpointed) component machinery
    assert re.search(r"(BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin) \[doc_id#\d+L?\]", p), p
    assert "Window" not in p, p


def test_q140_url_dedup_one_exchange_no_text(spark, sf_dir):
    """Canonical-URL dedup must keep q80's shape: a zero-shuffle codegen
    projection (URL synthesis + regex canonicalization) and ONE hash
    exchange on the short canonical string — no join, no window, and the
    document text column never read or shuffled."""
    df = SPECS["q140_url_canonical_dedup"].fn(spark, sf_dir)
    p = plans.executed_plan(df)
    assert plans.count_exchanges(df) == 1, p
    assert "Join" not in p and "Window" not in p, p
    plans.assert_no_cartesian(df)
    _assert_no_full_text_in_exchange("q140_url_canonical_dedup", p)
    # column pruning: the parquet scan must not read the text column
    m = re.search(r"ReadSchema: (\S+)", p)
    assert m and "text" not in m.group(1), p


def test_q141_affinity_broadcast_buckets_token_stream_never_shuffles(spark, sf_dir):
    """DSIR-style selection: the <=4096-row bucket table and the 1-row
    totals broadcast (bounded by design), so the token stream joins
    map-side — hash exchanges exist only for the bounded bucket agg and
    the per-doc rollup, never on the raw token rows, and document text
    never enters an Exchange."""
    df = SPECS["q141_target_affinity_select"].fn(spark, sf_dir)
    p = plans.executed_plan(df)
    plans.assert_no_cartesian(df)
    assert re.search(r"BroadcastHashJoin \[bucket#\d+L?\]", p), p
    for ln in p.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert re.search(r"hashpartitioning\((bucket|doc_id)#", ln), ln
    _assert_no_full_text_in_exchange("q141_target_affinity_select", p)


def test_q142_html_strip_zero_shuffle(spark, sf_dir):
    """HTML boilerplate stripping is a single codegen projection — no
    exchange anywhere (the extraction stage must stay embarrassingly
    parallel; any shuffle here taxes every downstream operator)."""
    df = SPECS["q142_html_boilerplate_strip"].fn(spark, sf_dir)
    assert plans.count_exchanges(df) == 0, plans.executed_plan(df)


def test_q143_pipeline_signals_computed_before_any_exchange(spark, sf_dir):
    """Crawl front-half: every per-document signal (canonical URL, content
    hash, word stats) is projected map-side BEFORE any exchange — hash
    exchanges carry only the canonical string / md5 / doc_id keys, never
    the text column, and there is no cartesian and no join (round 13:
    the keep-first stages are analytic windows over those same short
    keys, replacing the agg+join form that re-derived the extraction
    projection per consumer)."""
    df = SPECS["q143_crawl_front_pipeline"].fn(spark, sf_dir)
    p = plans.executed_plan(df)
    plans.assert_no_cartesian(df)
    assert "Join" not in p, p
    # the keep-first windows partition only on the short keys
    for ln in p.splitlines():
        if "Window" in ln and "windowspecdefinition" in ln:
            assert re.search(r"windowspecdefinition\((canonical_url|h)#", ln), ln
    for ln in p.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert re.search(r"hashpartitioning\((canonical_url|h|doc_id)#", ln), ln
    _assert_no_full_text_in_exchange("q143_crawl_front_pipeline", p)


def test_ann_topk_windows_push_partial_group_limit(spark, sf_dir):
    """q85/q86/q97 per-query top-k: the row_number + rnk <= k filter must
    plan a PARTIAL WindowGroupLimit below the exchange — each map task
    pre-prunes to k rows per query, so the per-query window partition
    receives <= k x #tasks rows instead of the query's whole candidate
    set (the corpus, for q85). This is what makes the bare query_id
    window scale-safe; an explicit two-stage shard was A/B-measured 2x
    slower for zero added safety. If a refactor breaks the filter
    pattern Catalyst matches on, this test catches the silent fallback
    to a full per-query sort."""
    for name in (
        "q85_ann_bruteforce_topk",
        "q86_ivf_ann_topk",
        "q97_ann_pandas_topk",
    ):
        df = SPECS[name].fn(spark, sf_dir)
        p = plans.executed_plan(df)
        assert re.search(r"WindowGroupLimit \[query_id#\d+L?\].*Partial", p), (
            name,
            p,
        )


def test_q20_topk_window_is_group_limited_one_exchange(spark, sf_dir):
    """The per-partition top-3 rank filter must plan Spark's
    WindowGroupLimit below the exchange (map-side pruning: each task ships
    at most k rows per key, not the whole partition), with exactly ONE
    hash exchange on the partition key."""
    df = SPECS["q20_window_rank"].fn(spark, sf_dir)
    p = plans.executed_plan(df)
    assert "WindowGroupLimit" in p, p
    assert "Partial" in p.split("WindowGroupLimit", 1)[1][:200] or re.search(
        r"WindowGroupLimit.*Partial", p
    ), p
    assert plans.count_exchanges(df) == 1, p


def test_q61_tumbling_window_is_plain_two_phase_agg(spark, sf_dir):
    """The batch tumbling-window agg: date_trunc is a map-side projection
    feeding a hash aggregate — no join, no global sort; the COUNT(DISTINCT
    user_id) costs at most one extra keyed exchange (Spark's two-level
    distinct-agg expansion), so <= 2 exchanges total."""
    df = SPECS["q61_tumbling_window"].fn(spark, sf_dir)
    p = plans.executed_plan(df)
    assert "Join" not in p, p
    assert plans.count_exchanges(df) <= 2, p


def test_q82_inverted_index_joins_are_key_equi(spark, sf_dir):
    """Exact-Jaccard's pair generation must be the inverted-index equi-join
    on the shingle key (cost = sum of posting-list squares), never any
    nested-loop pairing of documents."""
    df = SPECS["q82_ngram_jaccard_pairs"].fn(spark, sf_dir)
    p = plans.executed_plan(df)
    plans.assert_no_cartesian(df)
    assert "BroadcastNestedLoopJoin" not in p, p
    assert re.search(
        r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \[shingle#", p
    ), p


def test_q91_quality_score_zero_shuffle(spark, sf_dir):
    """Quality scoring is a pure codegen projection: no exchange anywhere
    (the 100 TB shape — embarrassingly parallel over the scan)."""
    df = SPECS["q91_quality_score"].fn(spark, sf_dir)
    assert plans.count_exchanges(df) == 0


def test_q95_multimodal_is_one_arrow_pass_zero_shuffle(spark, sf_dir):
    """Multimodal feature extraction must be ONE Arrow-batched mapInPandas
    pass directly over the pruned scan: a MapInPandas node, zero
    exchanges, and the scan reading only the payload/meta source columns
    (never lang/source)."""
    df = SPECS["q95_multimodal_features"].fn(spark, sf_dir)
    p = plans.executed_plan(df)
    assert "MapInPandas" in p, p
    assert plans.count_exchanges(df) == 0, p
    scans = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert scans, p
    for ln in scans:
        schema = ln.split("ReadSchema:")[1]
        assert "lang" not in schema and "source" not in schema, ln


def test_q144_quarantine_split_aggregates_before_exchange(spark, sf_dir):
    """The quarantine-split ingest's 100 TB shape: each side of the split
    is scan → parse-forcing filter → PARTIAL aggregate, so the two
    exchanges carry only (returnflag, count, sum) / two longs — never
    rows; no join anywhere; the quarantine scan pushes its
    corrupt-IS-NOT-NULL filter into the CSV reader."""
    df = SPECS["q144_quarantine_ingest"].fn(spark, sf_dir)
    plan = plans.executed_plan(df)
    assert plans.count_exchanges(df) == 2
    plans.assert_no_cartesian(df)
    assert "Join" not in plan, plan
    assert "PushedFilters: [IsNotNull(_corrupt_record)]" in plan, plan
    # map-side combine on both branches: a partial_ aggregate appears
    # BELOW each exchange (string order: partial aggregates are printed
    # after their exchange lines in each branch)
    assert plan.count("partial_count") == 2, plan


def test_q146_width_fold_is_pure_codegen_hash_exchange(spark, sf_dir):
    """The width-fold dedup key must stay JVM-side: no Python evaluation
    node of any kind (translate folds inside whole-stage codegen), one
    exchange carrying only the 16-byte hash (partial agg below it), and
    the scan pruned to (doc_id, text)."""
    df = SPECS["q146_width_fold_dedup"].fn(spark, sf_dir)
    p = plans.executed_plan(df)
    assert "EvalPython" not in p and "MapInPandas" not in p, p
    assert plans.count_exchanges(df) == 1, p
    assert "partial_count" in p, p
    for ln in p.splitlines():
        if "ReadSchema" in ln:
            schema = ln.split("ReadSchema:")[1]
            assert "lang" not in schema and "source" not in schema, ln


def test_q145_nfc_is_one_arrow_pass_then_hash_exchange(spark, sf_dir):
    """The opt-in NFC recipe pays exactly ONE Arrow round-trip (a single
    ArrowEvalPython projection for the normalize) before the same
    16-byte-hash single exchange as q80 — the text column reaches the
    Python worker but never an exchange (the registry-wide
    no-text-in-exchange invariant still covers this plan). Measured at
    sf0.1: ~+12% wall over byte-exact q80 (0.493 vs 0.441 s min-of-3) —
    the posture's cost number, docs/VERIFICATION.md 'NFC/NFD'."""
    df = SPECS["q145_nfc_exact_dedup"].fn(spark, sf_dir)
    p = plans.executed_plan(df)
    assert p.count("ArrowEvalPython") == 1, p
    assert plans.count_exchanges(df) == 1, p
    assert "partial_count" in p, p


def test_dump_plan_masks_expression_ids_and_checkout_root():
    """scripts/dump_plan.py writes plans two checkouts can `diff -r`:
    expression ids, exchange plan ids, lambda variable suffixes and the
    checkout root are masked, nothing else."""
    import importlib.util

    path = os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts", "dump_plan.py")
    spec = importlib.util.spec_from_file_location("dump_plan", path)
    dump_plan = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(dump_plan)
    plan = (
        "(1) Scan parquet \nOutput [2]: [k#12L, v#345]\n"
        f"Location: InMemoryFileIndex [file:{dump_plan.REPO}/spark-warehouse/t]\n"
        "Condition : (k#12L > 5)\n"
        "Output [1]: [transform(v#345, lambdafunction((lambda x_15#346 * 2), lambda x_15#346, false))]\n"
        "Arguments: RoundRobinPartitioning(4), REPARTITION_BY_NUM, [plan_id=370]"
    )
    assert dump_plan.comparable(plan) == (
        "(1) Scan parquet \nOutput [2]: [k#NL, v#N]\n"
        "Location: InMemoryFileIndex [file:<repo>/spark-warehouse/t]\n"
        "Condition : (k#NL > 5)\n"
        "Output [1]: [transform(v#N, lambdafunction((lambda x_N#N * 2), lambda x_N#N, false))]\n"
        "Arguments: RoundRobinPartitioning(4), REPARTITION_BY_NUM, [plan_id=N]"
    )
