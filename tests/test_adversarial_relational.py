"""Adversarial relational-core gate (round 11): float-edge semantics.

The one divergence class no earlier gate touched (rounds 8-10 covered
corpus strings, sinks, text sources, wire contracts, file formats): IEEE
special values AS RELATIONAL KEYS, and numeric overflow at aggregation
boundaries. These are the semantics where engines genuinely differ and
where a silent divergence would poison every downstream oracle compare:

- NaN as a GROUP BY / join / window-partition key: IEEE says NaN != NaN,
  so a naive hash/compare key treatment would give every NaN row its own
  group and match no join rows. Spark's NormalizeFloatingNumbers rewrites
  keys so NaN = NaN and -0.0 = 0.0 (SPARK-26021); DuckDB defines a total
  float order with the same effect. MEASURED AGREEMENT (Spark 4.1.2 /
  DuckDB): single NaN group, single zero group keyed +0.0, NaN joins NaN.
- Raw comparisons: BOTH engines deviate from IEEE the same way
  (NaN = NaN is TRUE, NaN > any finite, -0.0 = 0.0) — so the agreement
  extends from keys to predicates.
- Overflow: double SUM saturates to Infinity in both engines (IEEE); and
  Inf + -Inf = NaN in both. DECIMAL(38,0) SUM overflow is REFUSED by both
  (Spark under ANSI — the engine session's default — DuckDB always).
- TWO real measured divergences: (1) BIGINT SUM overflow — DuckDB
  silently auto-widens sum(BIGINT) to HUGEINT and returns 2^63; Spark
  keeps BIGINT and throws ARITHMETIC_OVERFLOW under ANSI (silently WRAPS
  with ANSI off). (2) DOUBLE division by zero — DuckDB silently
  null-fills (not IEEE Inf!); Spark ANSI loudly refuses, and Spark's
  try_divide null-fills, exactly matching DuckDB's `/`. Pinned on both
  sides so an upgrade that changes either behavior — or an engine-session
  config drift to ansi=false, which would turn the loud refusals into
  silent wrap/NULL — fails here first.

Every pin is cross-engine over THE SAME parquet bytes (bit patterns
travel through the file, not through two independent literal parsers),
matching the oracle harness's strict float rendering
(oracle.py::_canon_cell: floats must be bit-identical, NaN canonicalized).

Reference surface: SURVEY §2 Tier B joins/aggregation rows; the reference
inherits Hive/Java semantics (NaN==NaN in Java compareTo) — the Spark
behavior pinned here is the parity behavior.
"""

from __future__ import annotations

import math

import duckdb
import pytest
from pyspark.sql import functions as F

NAN = float("nan")
INF = float("inf")

# (id, x double) — two NaNs, a -0.0/+0.0 pair, a NULL, finite values.
FLOAT_ROWS = [
    (1, NAN),
    (2, NAN),
    (3, 0.0),
    (4, -0.0),
    (5, 1.0),
    (6, None),
    (7, 1.0),
]


@pytest.fixture(scope="module")
def float_parquet(spark, tmp_path_factory):
    """One parquet file read by BOTH engines, so every pin compares the
    same stored bit patterns (-0.0's sign bit, NaN payloads) rather than
    two engines' literal parsers."""
    p = str(tmp_path_factory.mktemp("advrel") / "floats.parquet")
    spark.createDataFrame(FLOAT_ROWS, "id int, x double").coalesce(1).write.parquet(p)
    return p


def _duck(path: str):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW t AS SELECT * FROM read_parquet('{path}/*.parquet')")
    return con


def test_nan_and_signed_zero_group_as_single_keys_cross_engine(spark, float_parquet):
    """GROUP BY on a double key: both engines put ALL NaNs in one group
    and merge -0.0 with +0.0 into one group (Spark: NormalizeFloatingNumbers;
    DuckDB: total float order) — NULL keeps its own group per SQL. A
    Spark upgrade that dropped the normalization rule would give each
    NaN row its own group and fail here."""
    sdf = spark.read.parquet(float_parquet)
    got = {
        ("NaN" if r.x is not None and math.isnan(r.x) else r.x): r.n
        for r in sdf.groupBy("x").agg(F.count("*").alias("n")).collect()
    }
    assert got == {"NaN": 2, 0.0: 2, 1.0: 2, None: 1}

    con = _duck(float_parquet)
    want = {
        ("NaN" if x is not None and math.isnan(x) else x): n
        for x, n in con.execute("SELECT x, count(*) FROM t GROUP BY x").fetchall()
    }
    assert want == got

    # DISTINCT is the same key machinery: 4 distinct keys on both sides
    assert sdf.select("x").distinct().count() == 4
    assert con.execute("SELECT count(*) FROM (SELECT DISTINCT x FROM t)").fetchone()[0] == 4


def test_merged_zero_group_key_is_positive_zero(spark, float_parquet):
    """The -0.0/+0.0 group's REPRESENTATIVE key is normalized +0.0 (sign
    bit clear) in both engines — checked on the collected bit pattern via
    copysign, which survives Arrow transfer. This is what makes the
    oracle harness's bit-strict float rendering (repr(-0.0) != repr(0.0))
    safe on grouped keys — pinned so that stays true. The raw -0.0 VALUE,
    by contrast, keeps its sign bit through the parquet round-trip on
    both sides (values are not normalized, only keys)."""
    sdf = spark.read.parquet(float_parquet)
    keys = [r.x for r in sdf.filter("x = 0.0").groupBy("x").count().collect()]
    assert len(keys) == 1 and math.copysign(1.0, keys[0]) == 1.0

    con = _duck(float_parquet)
    (dkey,) = con.execute("SELECT x FROM t WHERE x = 0.0 GROUP BY x").fetchone()
    assert math.copysign(1.0, dkey) == 1.0

    s_vals = sorted(
        math.copysign(1.0, r.x) for r in sdf.filter("x = 0.0").select("x").collect()
    )
    d_vals = sorted(
        math.copysign(1.0, v)
        for (v,) in con.execute("SELECT x FROM t WHERE x = 0.0").fetchall()
    )
    assert s_vals == d_vals == [-1.0, 1.0]


def test_double_division_by_zero_diverges_spark_ansi_refuses(spark):
    """Second measured divergence: DOUBLE division by zero. NEITHER
    engine is IEEE (no ±Infinity): DuckDB silently null-fills even
    double/double; Spark under ANSI loudly refuses (DIVIDE_BY_ZERO).
    Spark's try_divide null-fills — i.e. try_divide IS DuckDB's `/`,
    which is the alignment recipe for any oracle with a possibly-zero
    denominator. Pinned on both engines."""
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        spark.sql("SELECT 1.0 / double('0.0') AS v").collect()
    assert spark.sql("SELECT try_divide(1.0, double('0.0')) AS v").collect()[0].v is None

    con = duckdb.connect()
    assert con.execute("SELECT 1.0::double / 0.0::double").fetchone()[0] is None
    assert con.execute("SELECT typeof(1.0::double / 0.0::double)").fetchone()[0] == "DOUBLE"


def test_nan_join_keys_match_cross_engine(spark, float_parquet):
    """Equi-join on the double key: NaN matches NaN, -0.0 matches +0.0,
    NULL matches nothing — identical pair sets in both engines. (IEEE-
    strict key equality would return NO NaN pairs and break as-of/range
    composition over sensor-style data where NaN gaps are routine.)"""
    sdf = spark.read.parquet(float_parquet)
    pairs = sorted(
        (r[0], r[1])
        for r in sdf.alias("a")
        .join(sdf.alias("b"), F.col("a.x") == F.col("b.x"))
        .select("a.id", "b.id")
        .collect()
    )
    con = _duck(float_parquet)
    want = sorted(
        con.execute("SELECT a.id, b.id FROM t a JOIN t b ON a.x = b.x").fetchall()
    )
    assert pairs == want
    ids = {1, 2}
    assert {(i, j) for i, j in pairs if i in ids} == {(1, 1), (1, 2), (2, 1), (2, 2)}
    assert {(i, j) for i, j in pairs if i in (3, 4)} == {(3, 3), (3, 4), (4, 3), (4, 4)}
    assert all(6 not in p for p in pairs)  # NULL never equi-joins


def test_window_partition_by_float_key_cross_engine(spark, float_parquet):
    """PARTITION BY on the double column uses the same normalized keys:
    both NaN rows share one partition (size 2), the signed zeros share
    one, NULL partitions alone — identical per-row partition sizes in
    both engines."""
    sdf = spark.read.parquet(float_parquet)
    got = {
        r.id: r.psize
        for r in sdf.selectExpr(
            "id", "count(*) OVER (PARTITION BY x) AS psize"
        ).collect()
    }
    con = _duck(float_parquet)
    want = dict(
        con.execute("SELECT id, count(*) OVER (PARTITION BY x) FROM t").fetchall()
    )
    assert got == want == {1: 2, 2: 2, 3: 2, 4: 2, 5: 2, 6: 1, 7: 2}


def test_nan_comparisons_ordering_minmax_cross_engine(spark, float_parquet):
    """Both engines deviate from IEEE identically: NaN = NaN is TRUE,
    NaN > any finite, -0.0 = 0.0; ORDER BY puts NaN last (greatest),
    MAX returns NaN, MIN ignores it in favor of finite values."""
    for expr, want in [
        ("double('NaN') = double('NaN')", True),
        ("double('NaN') > double('1e308')", True),
        ("double('-0.0') = double('0.0')", True),
        ("double('-0.0') < double('0.0')", False),
    ]:
        assert spark.sql(f"SELECT {expr} AS v").collect()[0].v is want, expr
    con = _duck(float_parquet)
    for expr, want in [
        ("'NaN'::double = 'NaN'::double", True),
        ("'NaN'::double > 1e308", True),
        ("-0.0::double = 0.0::double", True),
        ("-0.0::double < 0.0::double", False),
    ]:
        assert con.execute(f"SELECT {expr}").fetchone()[0] is want, expr

    sdf = spark.read.parquet(float_parquet)
    s_order = [r.id for r in sdf.filter("x IS NOT NULL").orderBy("x", "id").collect()]
    d_order = [
        i
        for (i,) in con.execute(
            "SELECT id FROM t WHERE x IS NOT NULL ORDER BY x, id"
        ).fetchall()
    ]
    assert s_order == d_order
    assert s_order[-2:] == [1, 2]  # NaNs sort last on both

    s_max, s_min = sdf.agg(F.max("x"), F.min("x")).collect()[0]
    d_max, d_min = con.execute("SELECT max(x), min(x) FROM t").fetchone()
    assert math.isnan(s_max) and math.isnan(d_max)
    assert s_min == d_min == 0.0


def test_null_safe_equality_join_cross_engine(spark):
    """Spark `<=>` is DuckDB `IS NOT DISTINCT FROM`: NULL matches NULL
    (exactly once per NULL pair), everything else joins as `=`. The plain
    `=` join drops NULL keys on both sides in both engines. This is the
    dimension-with-unknown-key join shape (SCD bridges)."""
    rows = [(1, 10), (2, None), (3, 20), (4, None)]
    sdf = spark.createDataFrame(rows, "id int, k int")
    nullsafe = sorted(
        (r[0], r[1])
        for r in sdf.alias("a")
        .join(sdf.alias("b"), F.col("a.k").eqNullSafe(F.col("b.k")))
        .select("a.id", "b.id")
        .collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE u AS SELECT * FROM (VALUES (1, 10), (2, NULL), (3, 20), (4, NULL)) v(id, k)")
    want = sorted(
        con.execute(
            "SELECT a.id, b.id FROM u a JOIN u b ON a.k IS NOT DISTINCT FROM b.k"
        ).fetchall()
    )
    assert nullsafe == want
    assert {(i, j) for i, j in nullsafe if i in (2, 4)} == {
        (2, 2), (2, 4), (4, 2), (4, 4),
    }
    plain = sorted(
        (r[0], r[1])
        for r in sdf.alias("a")
        .join(sdf.alias("b"), F.col("a.k") == F.col("b.k"))
        .select("a.id", "b.id")
        .collect()
    )
    assert plain == sorted(
        con.execute("SELECT a.id, b.id FROM u a JOIN u b ON a.k = b.k").fetchall()
    )
    assert plain == [(1, 1), (3, 3)]


def test_double_sum_overflow_saturates_to_infinity_cross_engine(spark):
    """SUM over doubles is IEEE in both engines: overflow saturates to
    +Infinity (silently — the documented trade of float aggregation;
    exact money math is why the repo's aggregates use integer cents),
    and Inf + -Inf folds to NaN in both."""
    s = spark.createDataFrame([(1.6e308,), (1.6e308,)], "v double")
    assert s.agg(F.sum("v")).collect()[0][0] == INF
    s2 = spark.createDataFrame([(INF,), (-INF,)], "v double")
    assert math.isnan(s2.agg(F.sum("v")).collect()[0][0])

    con = duckdb.connect()
    assert con.execute("SELECT sum(v) FROM (VALUES (1.6e308), (1.6e308)) t(v)").fetchone()[0] == INF
    assert math.isnan(
        con.execute("SELECT sum(v) FROM (VALUES ('inf'::double), ('-inf'::double)) t(v)").fetchone()[0]
    )


def test_decimal38_sum_overflow_refused_both_engines(spark):
    """DECIMAL(38,0) SUM has no wider type to widen into; overflow MUST
    refuse, not null-fill: Spark under ANSI (the session default —
    asserted below) raises NUMERIC_VALUE_OUT_OF_RANGE; DuckDB raises Out
    of Range. Also pins the TRAP the engine session's ANSI default
    protects against: ansi=false silently returns NULL — a 100 TB revenue
    sum that quietly vanishes."""
    dec_sql = (
        "SELECT sum(d) AS s FROM ("
        "SELECT cast(repeat('9', 38) AS decimal(38,0)) AS d "
        "UNION ALL SELECT cast(repeat('9', 38) AS decimal(38,0)))"
    )
    with pytest.raises(Exception, match="NUMERIC_VALUE_OUT_OF_RANGE"):
        spark.sql(dec_sql).collect()

    con = duckdb.connect()
    with pytest.raises(duckdb.OutOfRangeException):
        con.execute(
            "SELECT sum(d) FROM (VALUES "
            f"({'9' * 38}::decimal(38,0)), ({'9' * 38}::decimal(38,0))) t(d)"
        ).fetchone()

    # the ansi=false trap, pinned so the silent-NULL mode stays documented
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        assert spark.sql(dec_sql).collect()[0].s is None
    finally:
        spark.conf.set("spark.sql.ansi.enabled", "true")


def test_bigint_sum_overflow_diverges_and_spark_refuses(spark):
    """THE measured cross-engine divergence of this gate: sum(BIGINT) at
    2^63. DuckDB silently auto-widens to HUGEINT and returns
    9223372036854775808; Spark keeps BIGINT and (under ANSI) raises
    ARITHMETIC_OVERFLOW — with ANSI off it would silently WRAP NEGATIVE.
    Consequence pinned for oracle authors: an oracle that sums near-max
    bigints can never hash-match Spark; cast to DECIMAL/HUGEINT
    explicitly on both sides. Spark's refusal is the correct engine
    behavior at 100 TB (loud beats wrapped); both sides pinned so either
    engine changing this fails here first."""
    sum_sql = "SELECT sum(v) AS s FROM (SELECT 9223372036854775807 AS v UNION ALL SELECT 1)"
    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
        spark.sql(sum_sql).collect()
    # the explicit-widening escape hatch agrees cross-engine
    widened = spark.sql(
        "SELECT cast(sum(cast(v AS decimal(38,0))) AS string) AS s "
        "FROM (SELECT 9223372036854775807 AS v UNION ALL SELECT 1)"
    ).collect()[0].s

    con = duckdb.connect()
    assert con.execute(
        "SELECT sum(v)::varchar FROM (VALUES (9223372036854775807), (1)) t(v)"
    ).fetchone()[0] == "9223372036854775808"
    assert widened == "9223372036854775808"


def test_engine_session_runs_ansi_enabled(spark):
    """Load-bearing config pin: the overflow refusals above exist only
    under spark.sql.ansi.enabled=true (Spark 4's default, which
    session.py deliberately does not override). A drift to ansi=false
    would turn decimal overflow into silent NULL and bigint overflow
    into silent wraparound — this test makes that drift loud."""
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"


def test_rollup_null_key_grouping_disambiguation_agrees(spark):
    """ROLLUP/CUBE over a NULL-bearing key, round-13 agreement pin: a
    data-NULL group row and the rollup-indicator NULL are rendered
    identically in both engines (same k=NULL, disambiguated ONLY by
    GROUPING()), GROUPING() numbering matches bit-for-bit, and Spark's
    GROUPING_ID() is the same (ga,gb) bit pack as composing DuckDB's
    per-column GROUPING bits — the basis on which the q03/q04/q05
    oracles stay safe if the fixture ever grows NULL group keys. (The
    oracle harness compares hashes column-wise, so the indicator column
    must ride along whenever a grouped key is nullable.)"""
    import duckdb as _duck

    sql = (
        "SELECT k, GROUPING(k) AS g, count(*) AS n "
        "FROM {src} GROUP BY ROLLUP(k) ORDER BY g, k NULLS FIRST"
    )
    s = [
        tuple(r)
        for r in spark.sql(
            sql.format(src="VALUES ('a'), (NULL), (NULL) t(k)")
        ).collect()
    ]
    d = _duck.connect().execute(
        sql.format(src="(VALUES ('a'), (NULL), (NULL)) t(k)")
    ).fetchall()
    assert s == d == [(None, 0, 2), ("a", 0, 1), (None, 1, 3)]

    cube = (
        "SELECT a, b, GROUPING(a) AS ga, GROUPING(b) AS gb "
        "FROM {src} GROUP BY CUBE(a, b) "
        "ORDER BY ga, gb, a NULLS FIRST, b NULLS FIRST"
    )
    s2 = [
        tuple(r)
        for r in spark.sql(
            cube.format(src="VALUES (1, CAST(NULL AS INT)) t(a, b)")
        ).collect()
    ]
    d2 = _duck.connect().execute(
        cube.format(src="(VALUES (1, NULL::INT)) t(a, b)")
    ).fetchall()
    assert s2 == d2 == [
        (1, None, 0, 0), (1, None, 0, 1), (None, None, 1, 0), (None, None, 1, 1)
    ]
    # Spark's GROUPING_ID() == (ga << 1) | gb on the same rows
    gids = [
        r.gid
        for r in spark.sql(
            "SELECT GROUPING_ID() AS gid, GROUPING(a) AS ga, GROUPING(b) AS gb"
            " FROM VALUES (1, CAST(NULL AS INT)) t(a, b) GROUP BY CUBE(a, b)"
            " ORDER BY ga, gb"
        ).collect()
    ]
    assert gids == [0, 1, 2, 3]


def test_q127_single_parse_matches_scalar_xpath_calls(spark, sf_dir):
    """Round-14 q127 optimization gate: the single-parse node-set form
    (one xpath() call into a named column, per-field array accesses) must
    be value-identical to the previous three-call form (xpath_int +
    xpath_string + xpath), which re-parsed the XML three times per row.
    Pins the equivalence on the real part table on top of the oracle
    hash, so a Spark upgrade that changes XPath number()/text() coercion
    semantics for either form fails loudly here."""
    from pyspark.sql import functions as F

    from hdfs_hive_sql_playground_spark.queries import all_queries
    from hdfs_hive_sql_playground_spark.tables import load

    new = all_queries()["q127_xpath_funcs"].fn(spark, sf_dir)
    p = load(spark, sf_dir, "part")
    xml = F.concat(
        F.lit("<part><key>"), F.col("p_partkey").cast("string"),
        F.lit("</key><size>"), F.col("p_size").cast("string"),
        F.lit("</size><brand>"), F.col("p_brand"), F.lit("</brand></part>"),
    )
    old = p.select(
        "p_partkey",
        F.xpath_int(xml, F.lit("part/key")).alias("xkey"),
        F.xpath_string(xml, F.lit("part/brand")).alias("xbrand"),
        F.size(F.xpath(xml, F.lit("part/*/text()"))).alias("n_leaves"),
    )
    assert new.schema == old.schema
    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0


def test_q127_refuses_a_missing_xml_leaf(spark, tmp_path):
    """An empty p_brand leaves its <brand> element without a text node, so
    the node-set holds two leaves and a positional read would silently
    shift xbrand to NULL (xpath_string gives ''). q127 must fail loudly
    instead, naming the row; a non-empty brand still reads back exactly."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hdfs_hive_sql_playground_spark.queries import all_queries

    fn = all_queries()["q127_xpath_funcs"].fn
    for sub, brand in (("ok", "Brand#13"), ("empty", "")):
        d = tmp_path / sub
        d.mkdir()
        pq.write_table(
            pa.table(
                {
                    "p_partkey": pa.array([7], pa.int64()),
                    "p_name": ["n"],
                    "p_brand": [brand],
                    "p_type": ["t"],
                    "p_size": pa.array([3], pa.int32()),
                    "p_retailprice": [1.5],
                }
            ),
            str(d / "part.parquet"),
        )
    row = fn(spark, str(tmp_path / "ok")).first()
    assert (row.xkey, row.xbrand, row.n_leaves) == (7, "Brand#13", 3)
    with pytest.raises(Exception, match="expected 3 non-empty XML leaves, got 2 for p_partkey 7"):
        fn(spark, str(tmp_path / "empty")).collect()
