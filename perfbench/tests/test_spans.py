"""Tests of the benchmark's own tracing: spans, job groups and the
status-store reader. Run from the checkout root:

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, spans  # noqa: E402
from perfbench.workloads import STATEMENT_CLASSES, dir_bytes, statement_sequence  # noqa: E402


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from hdfs_hive_sql_playground_spark.session import get_spark

    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    session = get_spark(
        app_name="perfbench-tests",
        master="local[2]",
        shuffle_partitions=4,
        conf={"spark.driver.memory": "2g", "spark.ui.showConsoleProgress": "false"},
    )
    yield session
    session.stop()


@pytest.fixture(scope="module")
def sf_dir(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("sf0.001"))
    gen.gen_registry(out, seed=3, sf=0.001)
    return out


def test_known_query_reports_tasks_and_executor_time(spark, sf_dir):
    from hdfs_hive_sql_playground_spark.queries import all_queries

    spec = all_queries()["q01_pricing_summary"]
    tracer = spans.Tracer(jobs=True)
    tracer.bind(spark)
    with tracer.span("pass"):
        with tracer.span("queries.q01") as q:
            spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    by_span = tracer.attribute(spans.read_jobs(spark))
    own = spans.job_totals(by_span.get(q.id, []))
    assert own["jobs"] >= 1
    assert own["tasks"] > 0
    assert own["executor_run_s"] > 0
    assert own["input_bytes"] > 0
    # the parent span sees its child's jobs, and none of its own
    assert spans.job_totals(tracer.jobs_under(tracer.spans[0], by_span)) == own
    assert by_span.get(tracer.spans[0].id) is None


def test_small_ctas_output_bytes_equal_warehouse_bytes(spark, tmp_path):
    from hdfs_hive_sql_playground_spark.sinks import ctas_text

    tracer = spans.Tracer(jobs=True)
    tracer.bind(spark)
    df = spark.range(5000).selectExpr("id", "id * 3 AS x", "cast(id AS string) AS s")
    with tracer.span("sinks.ctas") as s:
        path = ctas_text(df.repartition(3), "small", str(tmp_path))
    jobs = tracer.attribute(spans.read_jobs(spark)).get(s.id, [])
    stored, files = dir_bytes(path)
    assert files == 3
    assert spans.job_totals(jobs)["output_bytes"] == stored


def test_untagged_jobs_are_attributed_by_time(spark):
    tracer = spans.Tracer(jobs=False)  # no job groups: attribution by interval
    tracer.bind(spark)
    with tracer.span("outer"):
        with tracer.span("inner") as inner:
            spark.range(100).count()
    by_span = tracer.attribute(spans.read_jobs(spark))
    assert len(by_span.get(inner.id, [])) >= 1


def test_self_time_and_busy_time():
    t = spans.Tracer()
    parent = spans.Span(0, "p", None, 0.0, 100.0, 10.0, 110.0)
    t.spans = [parent, spans.Span(1, "a", 0, 1.0, 101.0, 4.0, 104.0), spans.Span(2, "b", 0, 5.0, 105.0, 6.0, 106.0)]
    assert t.self_seconds(parent) == pytest.approx(6.0)
    jobs = [spans.JobStat(0, None, 101.0, 103.0), spans.JobStat(1, None, 102.0, 104.0), spans.JobStat(2, None, 108.0, 120.0)]
    assert spans.busy_seconds(jobs, 100.0, 110.0) == pytest.approx(5.0)


def test_m33_generator_keeps_byte_counts_and_checksums_values(tmp_path):
    a = gen.gen_m33(str(tmp_path / "a"), seed=1, rows_per_file=1000)
    b = gen.gen_m33(str(tmp_path / "b"), seed=2, rows_per_file=1000)
    assert a.rows == b.rows == 4000
    assert a.raw_bytes == b.raw_bytes
    assert a.checksum != b.checksum
    again = gen.gen_m33(str(tmp_path / "a"), seed=1, rows_per_file=1000)
    assert again.checksum == a.checksum


def test_statement_sequence_fixes_the_mix_and_seeds_the_order():
    import random
    import re

    a = statement_sequence(random.Random(1), 120, orders=1500)
    b = statement_sequence(random.Random(2), 120, orders=1500)
    assert len(a) == 120
    assert a == statement_sequence(random.Random(1), 120, orders=1500)
    assert a != b
    # the same number of statements of each template on every seed
    templates = lambda seq: sorted(re.sub(r"\d+", "#", sql) for _, _, sql, _ in seq)  # noqa: E731
    assert templates(a) == templates(b)
    for c, (share, route, _) in STATEMENT_CLASSES.items():
        assert sum(1 for k, r, *_ in a if k == c and r == route) == round(share * 120)


def test_m33_checksum_sql_matches_generator(spark, tmp_path):
    from hdfs_hive_sql_playground_spark.m33 import m33_schem

    tree = gen.gen_m33(str(tmp_path / "m33"), seed=5, rows_per_file=500)
    m33_schem(spark, tree.base_dir).createOrReplaceTempView("m33_check")
    r = spark.sql(gen.M33_CHECK_SQL.format(table="m33_check")).collect()[0]
    assert (r.n, (r.weighted, r.residue)) == (tree.rows, tree.checksum)
