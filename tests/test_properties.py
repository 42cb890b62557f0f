"""Property-based tests (hypothesis) for the pure-Python pieces: the
dialect rewriter must preserve SQL outside its rewrite targets, and the
oracle canonicalizer must render numerically-equal decimals identically."""

from __future__ import annotations

import decimal

from hypothesis import given, settings
from hypothesis import strategies as st

from hdfs_hive_sql_playground_spark import dialect
from hdfs_hive_sql_playground_spark.oracle import _canon_cell

idents = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyz_", min_size=1, max_size=8
).filter(lambda s: s not in ("field", "top", "select"))


@given(idents, st.lists(idents, min_size=1, max_size=4))
@settings(max_examples=200, deadline=None)
def test_field_rewrite_always_balances_parens(x, vals):
    args = ", ".join([x] + [f"'{v}'" for v in vals])
    sql = f"SELECT field({args}) FROM t"
    out = dialect.rewrite(sql)
    assert out.count("(") == out.count(")")
    assert "array_position" in out and "field(" not in out


@given(st.text(alphabet="abcdefghijklmnopqrstuvwxyz '()_,=<>*.0123456789", max_size=120))
@settings(max_examples=300, deadline=None)
def test_rewrite_is_identity_without_targets(sql):
    """SQL containing none of the rewrite targets passes through verbatim."""
    lowered = sql.lower()
    if "field" in lowered or "input__file__name" in lowered or "top" in lowered:
        return
    assert dialect.rewrite(sql) == sql


@given(
    st.decimals(
        min_value=-(10**12), max_value=10**12, allow_nan=False, allow_infinity=False, places=6
    ),
    st.integers(min_value=0, max_value=6),
)
@settings(max_examples=300, deadline=None)
def test_decimal_canonicalization_scale_invariant(d, extra_zeros):
    """Decimal('910.00') and Decimal('910') and Decimal('9.1E+2') must all
    render identically (this exact asymmetry caused round-1 FAILs)."""
    widened = d.quantize(decimal.Decimal(1).scaleb(-(abs(d.as_tuple().exponent) + extra_zeros)))
    assert _canon_cell(d) == _canon_cell(widened) == _canon_cell(d.normalize())
    assert "E" not in _canon_cell(d.normalize()).upper()


@given(st.floats(allow_nan=False, allow_infinity=False))
@settings(max_examples=200, deadline=None)
def test_float_canonicalization_roundtrips(f):
    assert float(_canon_cell(f)) == f


def test_cluster_conf_sizing():
    from hdfs_hive_sql_playground_spark.session import cluster_conf

    c = cluster_conf(data_tb=100)
    # 100 TB / 256 MB ≈ 400k partitions, well above the 8k core floor
    assert int(c["spark.sql.shuffle.partitions"]) == (100 * 1024 * 1024) // 256
    assert int(c["spark.sql.files.maxPartitionBytes"]) == 256 * 1024 * 1024
    # tiny data floors at 2x total cores
    small = cluster_conf(data_tb=0.001, executors=10, cores_per_executor=4)
    assert int(small["spark.sql.shuffle.partitions"]) == 80


# ---------------------------------------------------------------------------
# Misra-Gries kernel (queries/sketches.py): the candidate set must contain
# EVERY token with frequency > N/capacity, for any stream content and any
# batch split — the guarantee the exact-recount pass builds on.

token_streams = st.lists(
    st.text(alphabet="abcde", min_size=1, max_size=2), min_size=1, max_size=300
)


@given(token_streams, st.integers(min_value=1, max_value=5))
@settings(max_examples=200, deadline=None)
def test_mg_candidates_never_miss_a_heavy_hitter(toks, n_batches):
    import collections

    import pandas as pd

    from hdfs_hive_sql_playground_spark.queries.sketches import (
        MG_CAPACITY,
        _mg_candidates_and_total,
    )

    # Split the stream into documents (one token each keeps it simple),
    # then into arbitrary Arrow-batch boundaries.
    docs = pd.DataFrame({"text": toks})
    bounds = [len(toks) * i // n_batches for i in range(n_batches + 1)]
    batches = [docs.iloc[a:b] for a, b in zip(bounds, bounds[1:]) if b > a]
    (cand,) = list(_mg_candidates_and_total(iter(batches)))
    # the partition's token-total marker row (tok NULL) is not a candidate
    got = set(cand["tok"].dropna())
    counts = collections.Counter(toks)
    for tok, c in counts.items():
        if c * MG_CAPACITY > len(toks):
            assert tok in got, (tok, c, len(toks))


# ---------------------------------------------------------------------------
# Frame-sampling kernel (queries/multimodal.py): the vectorized index
# algebra must agree with a naive per-row reference for any payloads.


@given(st.lists(st.binary(min_size=0, max_size=130), min_size=1, max_size=20))
@settings(max_examples=100, deadline=None)
def test_sample_frames_matches_naive_reference(blobs):
    import pandas as pd

    from hdfs_hive_sql_playground_spark.queries.multimodal import (
        FRAME_BYTES,
        SAMPLE_EVERY,
        sample_frames,
    )

    pdf = pd.DataFrame({"doc_id": range(len(blobs)), "blob": blobs})
    (out,) = list(sample_frames(iter([pdf])))
    got = {
        (r.doc_id, r.frame_idx): (r.frame_len, r.frame_sum)
        for r in out.itertuples()
    }
    expect = {}
    for doc_id, blob in enumerate(blobs):
        for fi in range(0, -(-len(blob) // FRAME_BYTES), SAMPLE_EVERY):
            chunk = blob[fi * FRAME_BYTES : (fi + 1) * FRAME_BYTES]
            expect[(doc_id, fi)] = (len(chunk), sum(chunk))
    assert got == expect


# ---------------------------------------------------------------------------
# q128's exact-moment statistics: the integer-moment formulas must agree
# with the textbook float definitions for any integer inputs (the registry
# fixture only covers one data distribution; this covers them all).


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=-(10**6), max_value=10**6),
            st.integers(min_value=0, max_value=10**5),
        ),
        min_size=2,
        max_size=50,
    )
)
@settings(max_examples=200, deadline=None)
def test_moment_formulas_match_textbook_definitions(pairs):
    import math
    import statistics

    xs = [p[0] for p in pairs]
    ys = [p[1] for p in pairs]
    n = len(pairs)
    sx, sxx = sum(xs), sum(x * x for x in xs)
    sy, syy = sum(ys), sum(y * y for y in ys)
    sxy = sum(x * y for x, y in pairs)

    var_pop = (n * sxx - sx * sx) / (n * n)
    assert math.isclose(var_pop, statistics.pvariance(xs), rel_tol=1e-9, abs_tol=1e-6)

    var_samp = (n * sxx - sx * sx) / (n * (n - 1))
    assert math.isclose(var_samp, statistics.variance(xs), rel_tol=1e-9, abs_tol=1e-6)

    mx, my = sx / n, sy / n
    cov_pop = (n * sxy - sx * sy) / (n * n)
    cov_ref = sum((x - mx) * (y - my) for x, y in pairs) / n
    assert math.isclose(cov_pop, cov_ref, rel_tol=1e-9, abs_tol=1e-6)

    vx, vy = n * sxx - sx * sx, n * syy - sy * sy
    if vx > 0 and vy > 0:
        corr = (n * sxy - sx * sy) / math.sqrt(vx * vy)
        corr_ref = cov_ref / math.sqrt(
            statistics.pvariance(xs) * statistics.pvariance(ys)
        )
        assert math.isclose(corr, corr_ref, rel_tol=1e-9, abs_tol=1e-9)
        assert -1.0000001 <= corr <= 1.0000001
