"""Unit tests for bench.py's measurement harness plumbing (no Spark, no
timing): the one timing loop keeps each leg's warm/draw/quiesce protocol,
and the one child-JVM runner falls back gracefully on every failure mode
(timeout, nonzero exit, no JSON line) — a hung or broken child must never
block the bench or silently drop a headline, and its leg group is then
measured in-session AFTER the m33 headlines, never before."""

from __future__ import annotations

import collections
import json
import os
import subprocess
import sys
import types

import pytest

import bench


def _fake_run(stdout="", returncode=0, raises=None, seen=None):
    def run(argv, **kw):
        if seen is not None:
            seen["argv"] = argv
            seen["timeout"] = kw.get("timeout")
        if raises is not None:
            raise raises
        return types.SimpleNamespace(
            stdout=stdout, stderr="boom", returncode=returncode
        )

    return run


@pytest.fixture
def no_settle(monkeypatch):
    """The runner drains and settles the parent JVM before spawning; these
    tests have no JVM."""
    monkeypatch.setattr(bench, "_quiesce", lambda spark: None)
    monkeypatch.setattr(bench.time, "sleep", lambda s: None)


def test_run_bench_child_parses_last_json_line(monkeypatch, no_settle):
    payload = {"leg_a": 1.5, "leg_b": 2.5}
    seen = {}
    monkeypatch.setattr(
        subprocess,
        "run",
        _fake_run(
            stdout="noise\n[Stage 1]\n" + json.dumps(payload) + "\n", seen=seen
        ),
    )
    out = bench._run_bench_child(None, "registry:q01_pricing_summary", timeout=7)
    assert out == payload
    assert seen["argv"][0] == sys.executable
    assert seen["argv"][-2:] == ["--legs", "registry:q01_pricing_summary"]
    assert seen["timeout"] == 7


def test_run_bench_child_none_on_timeout(monkeypatch, capsys, no_settle):
    monkeypatch.setattr(
        subprocess,
        "run",
        _fake_run(raises=subprocess.TimeoutExpired(cmd="x", timeout=5)),
    )
    assert bench._run_bench_child(None, "m33_trend", timeout=5) is None
    err = capsys.readouterr().err
    assert "exceeded" in err and "deferring" in err


def test_run_bench_child_none_on_bad_exit_or_no_json(monkeypatch, capsys, no_settle):
    monkeypatch.setattr(subprocess, "run", _fake_run(stdout="{}", returncode=3))
    assert bench._run_bench_child(None, "q124_trend", timeout=5) is None
    monkeypatch.setattr(subprocess, "run", _fake_run(stdout="no json here"))
    assert bench._run_bench_child(None, "q124_trend", timeout=5) is None
    err = capsys.readouterr().err
    assert "failed" in err and "deferring" in err


def _measure(monkeypatch, children, specs=None):
    """Run bench._measure with every Spark section replaced by a recorder.
    ``children`` maps a leg group to the dict its child JVM returns (a
    missing group: the child died); ``children=None`` keeps the real
    runner. Returns (event order, timings)."""
    events: list[str] = []

    def recorder(group):
        def run(spark, sf_dir, timings, *names):
            events.append(f"in-session {group}")

        return run

    for group, (_, timeout, names) in list(bench.LEG_GROUPS.items()):
        monkeypatch.setitem(
            bench.LEG_GROUPS, group, (recorder(group), timeout, names)
        )

    def child(spark, legs, timeout):
        events.append(f"child {legs}")
        out = children.get(legs)
        return None if out is None else dict(out)

    def headlines(spark, timings):
        events.append("headlines")
        timings["m33_jdbc_export_2800k"] = 10.0

    if children is not None:
        monkeypatch.setattr(bench, "_run_bench_child", child)
    monkeypatch.setattr(bench, "_quiesce", lambda spark: None)
    monkeypatch.setattr(bench, "_bench_m33", headlines)
    monkeypatch.setattr(bench, "_noop", lambda df: None)
    monkeypatch.setattr(
        bench, "_bench_doc_trend", lambda s, d, t: events.append("doc trend")
    )
    monkeypatch.setattr(
        bench, "_bench_doc_skew_trend", lambda s, d, t: events.append("skew trend")
    )
    timings: dict[str, float] = {}
    bench._measure(None, "/sf", specs or {}, timings)
    return events, timings


def _never(spark, sf_dir):
    # the sf0.001 codegen warm pass covers every bench query; the timed
    # loop at the bench SF must skip the child group's legs
    if sf_dir == "/sf":
        raise AssertionError("a child-group leg must not run in the in-session loop")


def test_registry_legs_subprocess_reports_measured_set(monkeypatch):
    specs = {
        "q99_curation_pipeline": types.SimpleNamespace(fn=_never),
        "q01_pricing_summary": types.SimpleNamespace(fn=lambda spark, sf: None),
    }
    events, timings = _measure(
        monkeypatch,
        {"registry": {"q99_curation_pipeline": 1.2}, "m33_trend": {}, "q124_trend": {}},
        specs,
    )
    assert timings["q99_curation_pipeline"] == 1.2
    assert "q01_pricing_summary" in timings  # the in-session loop's leg
    assert not any(e.startswith("in-session") for e in events)


def test_registry_legs_subprocess_empty_set_on_child_failure(monkeypatch):
    # a dead registry child: its legs are measured in-session by the group
    # runner after the headlines — never dropped, never in the 2-draw loop
    specs = {"q99_curation_pipeline": types.SimpleNamespace(fn=_never)}
    events, timings = _measure(
        monkeypatch, {"m33_trend": {}, "q124_trend": {}}, specs
    )
    assert "q99_curation_pipeline" not in timings
    assert events.index("headlines") < events.index("in-session registry")


def test_subprocess_registry_legs_default():
    assert "q99_curation_pipeline" in bench.LEG_GROUPS["registry"][2]


def test_q124_trend_subprocess_merges_child_dict(monkeypatch):
    child = {
        "trend_q124_semdedup_prune_x1": 1.5,
        "trend_q124_semdedup_prune_x8": 6.0,
        "trend_q124_semdedup_prune_x8_over_x1_ratio": 4.0,
        "trend_q124_cells_scaled_x8": 3.0,
        "trend_q124_cells_scaled_x8_over_x1_ratio": 2.0,
    }
    events, timings = _measure(
        monkeypatch, {"registry": {}, "m33_trend": {}, "q124_trend": child}
    )
    assert {k: timings[k] for k in child} == child
    assert "in-session q124_trend" not in events


def test_q124_trend_subprocess_defers_fallback_on_dead_child(monkeypatch):
    """A dead child must not silently drop the q124 watch — but the
    in-session re-measure is DEFERRED until after _bench_m33 (running it
    before would load the heap the BASELINE-comparable headlines are
    timed in)."""
    events, _ = _measure(monkeypatch, {"registry": {}, "m33_trend": {}})
    assert events.index("child q124_trend") < events.index("headlines")
    assert events.index("headlines") < events.index("in-session q124_trend")
    assert events.count("in-session q124_trend") == 1


def test_q124_trend_subprocess_honors_skip_subprocess_legs(monkeypatch):
    """SPARK_GRAFT_SKIP_SUBPROCESS_LEGS=1 caps the run at ONE JVM: no
    child is spawned for any group, and every group is measured in-session
    after the headlines."""
    monkeypatch.setenv("SPARK_GRAFT_SKIP_SUBPROCESS_LEGS", "1")
    monkeypatch.setattr(
        subprocess,
        "run",
        lambda *a, **k: (_ for _ in ()).throw(
            AssertionError("no child may be spawned under SKIP_SUBPROCESS_LEGS")
        ),
    )
    for group in bench.LEG_GROUPS:
        assert bench._run_bench_child(None, group, timeout=5) is None
    events, _ = _measure(monkeypatch, None)
    assert events == [
        "headlines",
        "in-session registry",
        "in-session m33_trend",
        "in-session q124_trend",
        "doc trend",
        "skew trend",
    ]


def test_m33_trend_subprocess_defers_like_q124(monkeypatch):
    events, _ = _measure(monkeypatch, {"registry": {}, "q124_trend": {}})
    assert events.index("headlines") < events.index("in-session m33_trend")
    # deferred groups run before the in-session trend sections, in order
    assert events[-3:] == ["in-session m33_trend", "doc trend", "skew trend"]

    child = {"trend_m33_ctas_x1": 3.2}
    events, timings = _measure(
        monkeypatch, {"registry": {}, "m33_trend": child, "q124_trend": {}}
    )
    assert timings["trend_m33_ctas_x1"] == 3.2
    assert "in-session m33_trend" not in events


def test_export_ratio_is_trend_x2_over_headline_x1(monkeypatch):
    """The export x2 ratio is derived once, after the headlines: the x2
    trend export (child JVM) over the x1 headline export (parent)."""
    _, timings = _measure(
        monkeypatch,
        {"registry": {}, "m33_trend": {"trend_m33_export_x2": 22.0}, "q124_trend": {}},
    )
    assert timings["trend_export_x2_over_x1_ratio"] == round(22.0 / 10.0, 3)
    _, timings = _measure(monkeypatch, {"registry": {}, "q124_trend": {}})
    assert "trend_export_x2_over_x1_ratio" not in timings


def test_measure_group_passes_registry_names(monkeypatch):
    seen = []
    monkeypatch.setitem(
        bench.LEG_GROUPS,
        "registry",
        (lambda s, d, t, *names: seen.append(names), 900, ("q99_curation_pipeline",)),
    )
    bench._measure_group(None, "/sf", "registry", {})
    bench._measure_group(None, "/sf", "registry:q01_pricing_summary,q10_x", {})
    assert seen == [("q99_curation_pipeline",), ("q01_pricing_summary", "q10_x")]


def test_min_wall_protocol(monkeypatch):
    """Warm passes are untimed and never quiesced; every draw is quiesced
    unless disabled; the untimed hook and the cache release follow every
    pass; the result is the rounded minimum of the draws only."""
    events = []
    walls = iter([100.0, 5.0, 3.00004, 4.0])
    clock = [0.0]

    def run():
        events.append("run")
        clock[0] += next(walls)

    monkeypatch.setattr(bench.time, "perf_counter", lambda: clock[0])
    monkeypatch.setattr(bench, "_quiesce", lambda spark: events.append("gc"))
    monkeypatch.setattr(
        bench, "release_tracked_caches", lambda: events.append("release") or 0
    )
    wall = bench._min_wall(None, run, 3, warm=1, after=lambda: events.append("after"))
    assert wall == 3.0
    assert events == ["run", "after", "release"] + ["gc", "run", "after", "release"] * 3
    events.clear()
    walls = iter([1.0, 2.0])
    assert bench._min_wall(None, run, 2, quiesce=False) == 1.0
    assert events == ["run", "release"] * 2


def test_bench_queries_are_registered():
    """Every query the bench names resolves in the registry — a renamed
    query fails here instead of as a KeyError deep inside a bench run."""
    from hdfs_hive_sql_playground_spark.queries import all_queries

    named = {n for _, _, names in bench.LEG_GROUPS.values() for n in names}
    named |= set(bench.DOC_TREND_QUERIES) | set(bench.SKEW_TREND_QUERIES)
    assert named - set(all_queries()) == set()


def test_emit_records_two_lines_headlines_last_and_watches():
    """The stdout contract: full record FIRST, compact headline record
    LAST (with any trend-norm records between); the full record keys the
    m33 headlines LAST; the compact headline record carries the
    headlines, the watched trend bands, and the calibration metrics — so
    the driver's 2000-char tail always recovers them whole."""
    timings = {
        "calibration_x1_first": 0.50,
        "q01_pricing_summary": 1.0,
        "m33_ctas_2800k": 3.8,
        "trend_m33_ctas_x1": 0.32,
        "trend_m33_ctas_x10": 3.0,
        "trend_ctas_x10_over_x1_ratio": 3.0,
        "m33_jdbc_export_2800k": 39.0,
        "m33_limit100_raw_view": 1.2,
        "m33_limit100_warehouse": 0.07,
        "calibration_x1_last": 0.43,
        "calibration_io_x1_first": 0.9,
        "calibration_io_x1_last": 0.6,
        "trend_m33_export_x2_scan_control": 0.8,
        "trend_export_x2_over_x1_ratio": 2.2,
    }
    lines = bench._emit_records(timings, "0.1")
    full, headline = json.loads(lines[0]), json.loads(lines[-1])
    for mid in lines[1:-1]:
        assert json.loads(mid)["metric"] == "bench_trend_norms"
    assert full["metric"] == "bench_queries_total_wall"
    # headlines are the last four keys of the full record's queries dict
    assert list(full["queries"])[-4:] == [
        "m33_ctas_2800k",
        "m33_jdbc_export_2800k",
        "m33_limit100_raw_view",
        "m33_limit100_warehouse",
    ]
    # trend/calibration markers excluded from the wall-clock total
    assert full["value"] == round(1.0 + 3.8 + 39.0 + 1.2 + 0.07, 4)
    assert headline["metric"] == "bench_m33_headlines"
    # Round 14 (driver-visibility fix): the headline record's queries dict
    # carries the registry bench legs ADDITIVELY after the four m33 keys —
    # the m33 keys keep their exact values and leading order, so prior
    # parsers and the round-over-round comparison are unbroken.
    assert set(headline["queries"]) == {
        "m33_ctas_2800k",
        "m33_jdbc_export_2800k",
        "m33_limit100_raw_view",
        "m33_limit100_warehouse",
        "q01_pricing_summary",
    }
    assert list(headline["queries"])[:4] == [
        "m33_ctas_2800k",
        "m33_jdbc_export_2800k",
        "m33_limit100_raw_view",
        "m33_limit100_warehouse",
    ]
    assert headline["queries"]["m33_ctas_2800k"] == 3.8
    assert headline["queries"]["q01_pricing_summary"] == 1.0
    # calibration: min of first/last, factor vs the pinned reference
    assert headline["watches"]["calibration_x1"] == 0.43
    factor = round(0.43 / bench.CALIBRATION_REF_SEC, 3)
    assert headline["watches"]["calibration_factor"] == factor
    assert headline["calibration_ref"] == bench.CALIBRATION_REF_SEC
    # watched CTAS x10 band rides in the headline record, raw AND
    # calibration-normalized; ratios get no _norm twin (scale-invariant)
    assert headline["watches"]["trend_m33_ctas_x10"] == 3.0
    # round-12 addition: the x1 ratio base ships as a watch key — it is
    # the primary plan-vs-host evidence for the bimodal x10 leg (README
    # 'Measured scaling'), so out-of-band draws adjudicate from the
    # artifact alone
    assert headline["watches"]["trend_m33_ctas_x1"] == 0.32
    assert headline["watches"]["trend_m33_ctas_x10_norm"] == round(3.0 / factor, 4)
    assert full["queries"]["trend_m33_ctas_x10_norm"] == round(3.0 / factor, 4)
    assert "trend_ctas_x10_over_x1_ratio_norm" not in full["queries"]
    # round-11 additions to the watch record: the export scan-only control
    # wall (rides next to the x2 ratio for artifact-only adjudication) and
    # the I/O-shaped calibration pair (min of first/last, factor vs the
    # pinned I/O reference; no _norm machinery — it adjudicates, it
    # doesn't normalize)
    assert headline["watches"]["trend_m33_export_x2_scan_control"] == 0.8
    assert headline["watches"]["trend_export_x2_over_x1_ratio"] == 2.2
    assert headline["watches"]["calibration_io_x1"] == 0.6
    assert headline["watches"]["calibration_io_factor"] == round(
        0.6 / bench.CALIBRATION_IO_REF_SEC, 3
    )
    assert "calibration_io_x1_norm" not in full["queries"]
    # excluded from the wall-clock total like every calibration_/trend_ key
    assert full["value"] == round(1.0 + 3.8 + 39.0 + 1.2 + 0.07, 4)


def test_emit_records_without_calibration_is_graceful():
    """SKIP paths that never time the calibration leg must still emit
    valid records (no calibration keys, no _norm twins)."""
    full, headline = (
        json.loads(s) for s in bench._emit_records({"q01_pricing_summary": 1.0}, "0.01")
    )
    assert full["value"] == 1.0
    assert "calibration_x1" not in full["queries"]
    assert headline["watches"] == {}


def test_emit_records_tail_priority_ordering():
    """The full record's key order is tail-priority: registry legs, raw
    trend walls, calibration markers, normalized walls, ratios, m33
    headlines — so the driver's 2000-char stdout tail always carries the
    ratios (primary slope evidence) and headlines even when the front of
    the line truncates away."""
    timings = {
        "m33_ctas_2800k": 3.8,
        "trend_m33_ctas_x10": 3.0,
        "trend_ctas_x10_over_x1_ratio": 3.0,
        "q01_pricing_summary": 1.0,
        "calibration_x1_first": 0.43,
        "calibration_x1_last": 0.43,
    }
    full = json.loads(bench._emit_records(timings, "0.1")[0])
    keys = list(full["queries"])
    order = {k: i for i, k in enumerate(keys)}
    assert order["q01_pricing_summary"] < order["trend_m33_ctas_x10"]
    assert order["trend_m33_ctas_x10"] < order["calibration_x1"]
    assert order["calibration_x1"] < order["trend_m33_ctas_x10_norm"]
    assert order["trend_m33_ctas_x10_norm"] < order["trend_ctas_x10_over_x1_ratio"]
    assert keys[-1] == "m33_ctas_2800k"


def _registry_legs() -> list[str]:
    from hdfs_hive_sql_playground_spark.queries import all_queries

    return [n for n, spec in all_queries().items() if spec.bench]


def _full_inventory() -> dict[str, float]:
    """Every key a full bench run produces, with fixed walls: the
    calibration pairs, the m33 headlines, every registry leg, and the
    m33, q124, doc and skew trend legs."""
    timings = {
        "calibration_x1_first": 0.46,
        "calibration_x1_last": 0.47,
        "calibration_io_x1_first": 0.55,
        "calibration_io_x1_last": 0.56,
        "m33_ctas_2800k": 3.333,
        "m33_jdbc_export_2800k": 37.056,
        "m33_limit100_raw_view": 1.089,
        "m33_limit100_warehouse": 0.047,
        "trend_m33_ctas_x1": 4.2294,
        f"trend_m33_ctas_x{bench.CTAS_TREND_SCALE}": 12.8585,
        f"trend_ctas_x{bench.CTAS_TREND_SCALE}_over_x1_ratio": 3.04,
        f"trend_ctas_x{bench.CTAS_TREND_SCALE}_redraws": 0,
        f"trend_m33_export_x{bench.EXPORT_TREND_SCALE}": 82.5684,
        f"trend_m33_export_x{bench.EXPORT_TREND_SCALE}_scan_control": 0.5696,
        f"trend_export_x{bench.EXPORT_TREND_SCALE}_over_x1_ratio": 2.228,
        "trend_q124_semdedup_prune_x1": 2.1234,
        f"trend_q124_semdedup_prune_x{bench.DOC_TREND_SCALE}": 8.5678,
        # unrounded on purpose: the compact record must re-round, not
        # trust the producer (round-13 review finding)
        f"trend_q124_semdedup_prune_x{bench.DOC_TREND_SCALE}_over_x1_ratio": 4.0351234567890123,
        f"trend_q124_cells_scaled_x{bench.DOC_TREND_SCALE}": 4.2501,
        f"trend_q124_cells_scaled_x{bench.DOC_TREND_SCALE}_over_x1_ratio": 2.002,
    }
    for name in _registry_legs():
        timings[name] = 12.3456  # 2-decimal rounding asserted below
    for name in bench.DOC_TREND_QUERIES:
        timings[f"trend_{name}_x1"] = 1.2345
        timings[f"trend_{name}_x{bench.DOC_TREND_SCALE}"] = 12.3456
        timings[f"trend_{name}_x{bench.DOC_TREND_SCALE}_over_x1_ratio"] = 10.001
    for name in bench.SKEW_TREND_QUERIES:
        timings[f"trend_{name}_x{bench.DOC_TREND_SCALE}_skew"] = 12.3456
        timings[f"trend_{name}_skew_over_balanced_ratio"] = 1.0123456789012345
    return timings


def test_emit_records_tail_budget():
    """Artifact-durability contract, restated round 14 (VERDICT r13 item
    1): EVERY adjudication key — the registry bench walls (NEW: inside
    the headline record's queries dict, so the driver's PERF/scaling
    per-query surface finally covers parallelizable legs), every banded
    ratio (doc-trend x8/x1, q124 fixed-cells, skew-over-balanced — now
    explicit in the compact records instead of derivable from norm
    twins), the watches, and the m33 headlines — must ride in complete
    JSONL lines that together fit the driver's 2000-char stdout tail.
    Per-leg _norm twins stay in the FULL record (line 1) only; the tail
    cannot hold them AND the registry walls, and the banded evidence is
    the ratios. Built with the FULL current inventory (every bench=True
    registry leg, read from the registry; every doc-trend query x1/x8,
    skew legs, m33 legs, q124 legs) so adding a leg that overflows the
    budget fails HERE, not in the round's clipped artifact."""
    registry_legs = _registry_legs()
    timings = _full_inventory()
    lines = bench._emit_records(timings, "0.1")
    norm_lines, headline_line = lines[1:-1], lines[-1]
    assert norm_lines, "full inventory must produce trend-ratio records"
    merged: dict[str, float] = {}
    for s in norm_lines:
        rec = json.loads(s)
        assert rec["metric"] == "bench_trend_norms"
        assert len(s) <= bench.TREND_NORM_CHUNK_CHARS + 120  # one key overshoot max
        merged.update(rec["queries"])
    full = json.loads(lines[0])
    # norm twins stay in the full record (recoverable when stdout is kept)
    assert any(k.endswith("_norm") for k in full["queries"])
    # every registry wall rides in the headline queries dict, 2-decimal
    headline = json.loads(headline_line)
    for name in registry_legs:
        assert headline["queries"][name] == 12.35, name
    # m33 keys first and unrounded — byte-compatible prefix
    assert list(headline["queries"])[:4] == [
        "m33_ctas_2800k", "m33_jdbc_export_2800k",
        "m33_limit100_raw_view", "m33_limit100_warehouse",
    ]
    assert headline["queries"]["m33_jdbc_export_2800k"] == 37.056
    # every banded ratio NOT in the watches rides in the compact records
    # under the tail-budget key encoding (_x8r / _skewr)
    for name in bench.DOC_TREND_QUERIES:
        assert merged[f"{name}_x{bench.DOC_TREND_SCALE}r"] == 10.001
    assert (
        merged[f"q124_semdedup_prune_x{bench.DOC_TREND_SCALE}r"] == 4.035
    )
    for name in bench.SKEW_TREND_QUERIES:
        assert merged[f"{name}_skewr"] == 1.012
    # ratios already inside the headline watches are NOT duplicated here
    assert f"ctas_x{bench.CTAS_TREND_SCALE}r" not in merged
    assert f"q124_cells_scaled_x{bench.DOC_TREND_SCALE}r" not in merged
    # the combined tail (all ratio records + headline, newline-joined) must
    # fit the driver's 2000-char capture with headroom for line breaks
    tail = "\n".join([*norm_lines, headline_line])
    assert len(tail) < 1900, f"tail budget exceeded: {len(tail)} chars"


def test_emit_records_golden():
    """The output contract, byte for byte: the full inventory renders to
    exactly the lines in tests/golden/bench_emit_records.jsonl.
    Regenerating that file is a deliberate change to what the driver
    parses: a new bench query, key or rounding."""
    path = os.path.join(os.path.dirname(__file__), "golden", "bench_emit_records.jsonl")
    with open(path) as fh:
        want = fh.read().splitlines()
    assert bench._emit_records(_full_inventory(), "0.1") == want


def test_ratio_legs_keep_each_legs_protocol(monkeypatch, tmp_path):
    """The one scale-trend runner keeps every leg's protocol (README
    "Bench protocol"): doc trend x1 min-of-3 then x8 min-of-2 per query;
    q124 one warm x1 pass, x1 min-of-3, x8 min-of-2, then x8 min-of-2
    with N_CELLS x8; skew one sf0.001 pass, then balanced and skewed
    min-of-2, all under CUMSUM_BUCKET_WIDTH 2048. Every draw is
    quiesced, the patched constants are restored, and the keys land in
    the order the records depend on."""
    from hdfs_hive_sql_playground_spark.queries import similarity, text

    events: list[tuple] = []
    walls = {"x1": 2.0, "x8": 6.0, "skew": 7.0}

    def noop(d):
        events.append(("pass", d))

    def min_wall(spark, run, draws, warm=0, quiesce=True, after=None):
        run()
        d = events.pop()[1]
        events.append((d, draws, warm, quiesce, similarity.N_CELLS,
                       text.CUMSUM_BUCKET_WIDTH))
        return walls[d]

    def doc_fixture(spark, sf_dir, scale=bench.DOC_TREND_SCALE, skew=False):
        return "skew" if skew else f"x{scale}"

    monkeypatch.setattr(bench, "_noop", noop)
    monkeypatch.setattr(bench, "_min_wall", min_wall)
    monkeypatch.setattr(bench, "_doc_fixture", doc_fixture)
    monkeypatch.setattr(bench, "release_tracked_caches", lambda: 0)
    monkeypatch.setattr(bench, "_warm_dir", lambda sf_dir: str(tmp_path))
    monkeypatch.setattr(
        bench, "all_queries",
        lambda: collections.defaultdict(
            lambda: types.SimpleNamespace(fn=lambda spark, d: d)),
    )
    cells, width = similarity.N_CELLS, text.CUMSUM_BUCKET_WIDTH

    timings: dict[str, float] = {}
    bench._bench_doc_trend(None, "/sf", timings)
    assert events == [("x1", 3, 0, True, cells, width),
                      ("x8", 2, 0, True, cells, width)] * len(bench.DOC_TREND_QUERIES)
    q = bench.DOC_TREND_QUERIES[0]
    assert list(timings)[:3] == [f"trend_{q}_x1", f"trend_{q}_x8",
                                 f"trend_{q}_x8_over_x1_ratio"]
    assert timings[f"trend_{q}_x8_over_x1_ratio"] == 3.0

    events.clear()
    timings = {}
    bench._bench_q124_trend(None, "/sf", timings, "q124_semdedup_prune")
    assert events == [
        ("pass", "x1"),
        ("x1", 3, 0, True, cells, width),
        ("x8", 2, 0, True, cells, width),
        ("x8", 2, 0, True, cells * bench.DOC_TREND_SCALE, width),
    ]
    assert list(timings) == [
        "trend_q124_semdedup_prune_x1",
        "trend_q124_semdedup_prune_x8",
        "trend_q124_semdedup_prune_x8_over_x1_ratio",
        "trend_q124_cells_scaled_x8",
        "trend_q124_cells_scaled_x8_over_x1_ratio",
    ]

    events.clear()
    timings = {}
    bench._bench_doc_skew_trend(None, "/sf", timings)
    assert events == [("pass", str(tmp_path)),
                      ("x8", 2, 0, True, cells, 2048),
                      ("skew", 2, 0, True, cells, 2048)] * len(bench.SKEW_TREND_QUERIES)
    q = bench.SKEW_TREND_QUERIES[0]
    assert list(timings)[:2] == [f"trend_{q}_x8_skew",
                                 f"trend_{q}_skew_over_balanced_ratio"]
    assert timings[f"trend_{q}_skew_over_balanced_ratio"] == round(7.0 / 6.0, 3)
    assert (similarity.N_CELLS, text.CUMSUM_BUCKET_WIDTH) == (cells, width)


def test_derby_table_lock_export_roundtrips_exactly(spark):
    """Table-level locks on the export target (``sources.jdbc`` boots an
    embedded Derby database with derby.storage.rowLocking=false) must not
    change WHAT the export writes: concurrent writers appending to one
    fresh table under the export defaults round-trip every row and every
    value exactly."""
    from pyspark.sql import functions as F

    from hdfs_hive_sql_playground_spark.sources.jdbc import (
        EXPORT_WRITERS,
        export_jdbc,
        read_jdbc,
    )

    df = spark.range(0, 100_000, 1, 4 * EXPORT_WRITERS).select(
        F.col("id").alias("k"),
        (F.col("id") * 3 % 997).alias("v"),
    )
    url = "jdbc:derby:memory:tablelock_rt;create=true"
    export_jdbc(df, url, "t", mode="overwrite")
    back = read_jdbc(spark, url, "t")
    assert back.count() == 100_000
    got = back.agg(
        F.sum("k").alias("sk"), F.sum("v").alias("sv"), F.count(F.lit(1))
    ).first()
    want = df.agg(
        F.sum("k").alias("sk"), F.sum("v").alias("sv"), F.count(F.lit(1))
    ).first()
    assert tuple(got) == tuple(want)
    bench._drop_derby_memory(spark, "tablelock_rt")


def test_drop_derby_memory_accepts_only_the_drop_signal(spark):
    """Dropping an existing in-memory database returns quietly (Derby's
    08006 is the success signal); dropping one that was never created is
    a real error and raises."""
    from hdfs_hive_sql_playground_spark.sources.jdbc import jdbc_ddl

    jdbc_ddl(spark, "jdbc:derby:memory:drop_probe;create=true", "CREATE TABLE t (k INT)")
    bench._drop_derby_memory(spark, "drop_probe")
    with pytest.raises(Exception, match="drop_probe"):
        bench._drop_derby_memory(spark, "drop_probe")
