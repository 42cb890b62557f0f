"""``tables.register_all``: the present tables are resolved concurrently,
each task under the caller's JVM local properties, the first failure is
raised, and a warm table costs a pinned number of py4j round trips."""

from __future__ import annotations

import collections
import itertools
import sys
import threading

import py4j.clientserver
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from hdfs_hive_sql_playground_spark.tables import TABLES, load, register_all

# py4j round trips per table for a warm register_all over the ten testdata
# tables: 22 measured (listing 12, read 5, view 1, local properties 2, and
# the once-per-registration confs and pool set-up spread over the ten).
ROUND_TRIPS_PER_TABLE = 24

_labels = itertools.count()


def temp_views(session) -> set[str]:
    return {t.name for t in session.catalog.listTables() if t.isTemporary}


def write(tmp_path, name, **cols):
    pq.write_table(pa.table(cols), str(tmp_path / f"{name}.parquet"))


def test_views_match_one_load_per_table(spark, sf_dir):
    session = spark.newSession()
    register_all(session, sf_dir)
    assert set(TABLES) <= temp_views(session)
    for name in TABLES:
        want = load(session, sf_dir, name)
        got = session.table(name)
        assert got.schema == want.schema, name
        assert got.columns == want.columns, name


def test_missing_tables_are_skipped(spark, tmp_path):
    write(tmp_path, "region", r_regionkey=pa.array([0, 1], pa.int64()))
    session = spark.newSession()
    register_all(session, str(tmp_path))
    assert temp_views(session) == {"region"}
    assert sorted(r.r_regionkey for r in session.table("region").collect()) == [0, 1]


def test_cold_cache_inference_runs_under_the_callers_job_group(spark, tmp_path):
    """A cold schema cache infers each table's schema with one Spark job,
    on a pool thread: the job must carry the caller's job group, as it
    did when the tables were loaded on the caller's thread."""
    for name in ("region", "nation", "part"):
        write(tmp_path, name, k=pa.array([1, 2, 3], pa.int64()))
    session = spark.newSession()
    sc = spark.sparkContext
    label = f"register-{next(_labels)}"
    sc.setJobGroup(label, label)
    try:
        register_all(session, str(tmp_path))
    finally:
        sc.setJobGroup(None, None)
    assert len(list(sc.statusTracker().getJobIdsForGroup(label) or [])) == 3
    assert temp_views(session) == {"region", "nation", "part"}


def test_corrupt_table_is_raised(spark, tmp_path):
    write(tmp_path, "region", r_regionkey=pa.array([0], pa.int64()))
    (tmp_path / "nation.parquet").write_bytes(b"PAR1 this is not a parquet file PAR1")
    session = spark.newSession()
    with pytest.raises(Exception, match="nation.parquet"):
        register_all(session, str(tmp_path))
    # every task ended before the error surfaced: the good table is there
    assert "region" in temp_views(session)
    assert "nation" not in temp_views(session)


def test_warm_registration_round_trip_budget(spark, sf_dir, monkeypatch):
    session = spark.newSession()
    register_all(session, sf_dir)  # warm the schema cache
    calls = []
    send = py4j.clientserver.ClientServerConnection.send_command

    def counting(self, command):
        calls.append((threading.current_thread().name, command.split("\n", 1)[0]))
        return send(self, command)

    monkeypatch.setattr(py4j.clientserver.ClientServerConnection, "send_command", counting)
    register_all(session, sf_dir)
    monkeypatch.undo()
    # Only the caller's and the pool's calls: py4j's finalizer thread, for
    # one, releases proxies of earlier tests in batches at any time.
    caller = threading.current_thread().name
    mine = [c for c in calls if c[0] == caller or c[0].startswith("ThreadPoolExecutor")]
    assert mine, "no py4j call was counted: is the gateway in pinned-thread mode?"
    assert len(mine) <= ROUND_TRIPS_PER_TABLE * len(TABLES), collections.Counter(calls)


def test_concurrent_registrations_each_get_every_view(spark, sf_dir):
    """Six callers registering at once, each into its own session (24 pool
    threads under the tests' local[4] session), with a short switch
    interval: every session ends with every view, each with the schema one
    load gives."""
    want = {n: load(spark, sf_dir, n).schema for n in TABLES}
    sessions = [spark.newSession() for _ in range(6)]
    errors = []

    def run(session):
        try:
            register_all(session, sf_dir)
        except Exception as exc:  # noqa: BLE001 — asserted below
            errors.append(exc)

    threads = [threading.Thread(target=run, args=(s,)) for s in sessions]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    for s in sessions:
        assert {n: s.table(n).schema for n in TABLES} == want
