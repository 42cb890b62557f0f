"""The benchmark's workloads, each run as one closed-loop client.

Each workload generates its inputs from the seed (untimed), sets the engine
up several times (``setup_s`` is the median), warms up (untimed), repeats
its timed pass until ``--seconds`` is spent, checks the outputs (untimed;
any mismatch is a failed operation) and returns its metrics: ``setup_s``
and ``pass_s``, the median pass wall. With tracing on, the spans tag Spark
job groups and, after the timed passes, a few untimed probes split the last
pass into layers.

See README.md beside this file for what each workload is for and how the
per-layer numbers map onto the end-to-end ones.
"""

from __future__ import annotations

import os
import random
import statistics
import sys
import time
from dataclasses import dataclass, field

from perfbench import gen, spans

SETUP_ROUNDS = 3  # setup_s is their median; the first also starts the JVM
# 4 files: 1.4 M rows, half the reference's 2.8 M: at full scale one pass
# took 23-25 s and its wall spread 9-12 % from run to run.
M33_ROWS_PER_FILE = 350_000
M33_WARMUP_ROWS_PER_FILE = 12_500
REGISTRY_SF = 0.01
JDBC_BATCH = 100_000
M33_DERBY_DDL = "CREATE TABLE m33 (age_mil BIGINT, wavelength DOUBLE, flam DOUBLE, is_peculiar INT)"


@dataclass
class Context:
    work: str  # scratch area inside the checkout
    seed: int
    seconds: float
    traced: bool
    cpus: int
    max_writers: int
    conf: dict[str, str]


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    e2e: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def percentile(values: list[float], q: int) -> float:
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def median_of(fn, n: int = 3) -> float:
    walls = []
    for _ in range(n):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


class Workload:
    name = ""
    min_passes = 1

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.tracer = spans.Tracer(jobs=ctx.traced)
        self.engine = None
        self.out = Outcome()

    # -- hooks -----------------------------------------------------------
    def generate(self) -> None:
        """Write the seeded inputs (untimed, outside setup_s)."""

    def register(self) -> None:
        """View and table registration, timed as part of setup_s."""

    def warm_up(self) -> None:
        """Untimed work that lets codegen and the JIT settle."""

    def run_pass(self) -> None:
        raise NotImplementedError

    def verify(self) -> None:
        raise NotImplementedError

    def probe_layers(self) -> None:
        """Traced runs only: untimed probes that split the pass by layer."""

    def probe_counters(self, jobs_of) -> None:
        """Traced runs only: Spark counters of the probes' spans;
        ``jobs_of(span_name)`` gives the jobs a named span caused."""

    # -- driver ----------------------------------------------------------
    def setup(self) -> None:
        from hdfs_hive_sql_playground_spark.engine import Engine

        starts, setups, regs = [], [], []
        for _ in range(SETUP_ROUNDS):
            if self.engine is not None:
                self.engine.stop()
            t0 = time.perf_counter()
            self.engine = Engine(
                app_name=f"perfbench-{self.name}",
                warehouse_dir=os.path.join(self.ctx.work, "warehouse"),
                conf=dict(self.ctx.conf),
            ).start()
            t1 = time.perf_counter()
            self.register()
            t2 = time.perf_counter()
            starts.append(t1 - t0)
            regs.append(t2 - t1)
            setups.append(t2 - t0)
        self.spark = self.engine.spark
        self.tracer.bind(self.spark)
        self.out.e2e["setup_s"] = statistics.median(setups)
        self.out.layers["session.start_s"] = statistics.median(starts)
        self.out.layers["session.first_start_s"] = starts[0]
        self.out.layers["tables.register_s"] = statistics.median(regs)

    def phase(self, what: str, fn) -> float:
        t0 = time.perf_counter()
        fn()
        wall = time.perf_counter() - t0
        print(f"perfbench: {self.name} {what} {wall:.2f}s", file=sys.stderr, flush=True)
        return wall

    def execute(self) -> Outcome:
        self.phase("generate", self.generate)
        self.phase("setup", self.setup)
        self.out.layers["spark.warmup_s"] = self.phase("warm-up", self.warm_up)
        self.passes = []
        t_end = time.perf_counter() + self.ctx.seconds
        while len(self.passes) < self.min_passes or time.perf_counter() < t_end:
            # Start each pass from a drained heap, not the last one's garbage.
            self.spark._jvm.System.gc()
            with self.tracer.span(f"pass:{len(self.passes)}") as p:
                self.phase("pass", self.run_pass)
            self.passes.append(p)
        self.out.e2e["pass_s"] = statistics.median(p.seconds for p in self.passes)
        self.phase("verify", self.verify)
        self.out.layers["jvm.peak_rss_mb"] = jvm_peak_rss_mb(self.spark)
        if self.ctx.traced:
            self.phase("trace", self._trace_layers)
        return self.out

    def _trace_layers(self) -> None:
        import json

        self.probe_layers()
        t, L = self.tracer, self.out.layers
        jobs = spans.read_jobs(self.spark)
        by_span = t.attribute(jobs)
        last = self.passes[-1]
        pass_jobs = t.jobs_under(last, by_span)
        tot = spans.job_totals(pass_jobs)
        for k, v in tot.items():
            L[f"spark.{k}"] = v
        busy = spans.busy_seconds(pass_jobs, last.epoch0, last.epoch1)
        L["spark.driver_s"] = last.seconds - busy
        L["spark.core_util"] = tot["executor_run_s"] / (last.seconds * self.ctx.cpus)
        L["trace.pass_s"] = last.seconds
        self.probe_counters(lambda name: [j for s in t.named(name) for j in t.jobs_under(s, by_span)])
        for s in t.spans:
            s.counts.update({f"spark.{k}": v for k, v in spans.job_totals(by_span.get(s.id, [])).items()})
        path = os.path.join(self.ctx.work, f"trace-{self.name}-{self.ctx.seed}.json")
        with open(path, "w") as f:
            json.dump({"spans": t.to_json(), "jobs": [j.__dict__ for j in jobs]}, f)

    def close(self) -> None:
        if self.engine is not None:
            self.engine.stop()
            self.engine = None


# ---------------------------------------------------------------------------


def m33_statements(base_dir: str) -> list[str]:
    """The reference HQL's DDL (external table, partitions, typed view),
    with the fixture directory substituted; its final CTAS is left to
    Engine.m33_ctas."""
    from hdfs_hive_sql_playground_spark.engine import Engine
    from hdfs_hive_sql_playground_spark.m33 import REPO_ROOT

    with open(os.path.join(REPO_ROOT, "examples", "hive", "m33_pipeline.hql")) as f:
        text = f.read().replace("${M33_DIR}", base_dir)
    ddl = [s for s in Engine.split_statements(text) if not s.upper().startswith("CREATE TABLE M33")]
    # The view statement is a plain CREATE VIEW: drop the previous run's.
    return ["DROP VIEW IF EXISTS m33_schem", *ddl]


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of the data files under a table directory."""
    n = files = 0
    for root, _, names in os.walk(path):
        for fn in names:
            if not fn.startswith(("_", ".")):
                n += os.path.getsize(os.path.join(root, fn))
                files += 1
    return n, files


class M33Elt(Workload):
    """The reference pipeline at the reference's scale: HQL DDL through
    Engine.exec_sql, Engine.m33_ctas, Engine.m33_export into in-memory
    Derby, and the export's verification count. Its traced run also
    probes the interactive layers over the pipeline's tables."""

    name = "m33_elt"
    # The median of three passes, so that a host stall in one pass does not
    # decide the run's figure.
    min_passes = 3

    def generate(self) -> None:
        self.tree = gen.gen_m33(os.path.join(self.ctx.work, "m33"), self.ctx.seed, M33_ROWS_PER_FILE)
        self.warm_tree = gen.gen_m33(
            os.path.join(self.ctx.work, "m33_warm"), self.ctx.seed + 1, M33_WARMUP_ROWS_PER_FILE
        )

    def register(self) -> None:
        # Table-level locks for the bulk append into the embedded target
        # (a JVM system property read when Derby boots); the reference's
        # SQL Server bulk path locks the same way.
        self.engine.spark._jvm.System.setProperty("derby.storage.rowLocking", "false")

    def pipeline(self, base_dir: str, db: str) -> tuple[int, dict[str, float]]:
        eng, t = self.engine, self.tracer
        walls = {}
        with t.span("engine.ddl") as s:
            for stmt in m33_statements(base_dir):
                eng.exec_sql(stmt)
        walls["ddl"] = s.seconds
        with t.span("sinks.ctas") as s:
            eng.m33_ctas("m33")
        walls["ctas"] = s.seconds
        url = f"jdbc:derby:memory:{db};create=true"
        with t.span("sources.jdbc.export") as s:
            n = eng.m33_export(
                url, "m33", num_partitions=self.ctx.max_writers, batchsize=JDBC_BATCH, create_ddl=M33_DERBY_DDL
            )
        walls["export"] = s.seconds
        self.url = url
        return n, walls

    def drop_db(self, db: str) -> None:
        try:  # Derby reports a successful drop by raising SQLState 08006
            self.spark._jvm.java.sql.DriverManager.getConnection(f"jdbc:derby:memory:{db};drop=true")
        except Exception as exc:
            if "08006" not in str(exc):
                raise

    def warm_up(self) -> None:
        self.pipeline(self.warm_tree.base_dir, "perfbench_warm")
        self.drop_db("perfbench_warm")
        self.db = None

    def run_pass(self) -> None:
        if self.db is not None:
            self.drop_db(self.db)
        self.db = f"perfbench_{len(self.tracer.named('pass'))}"
        self.derby_rows, self.walls = self.pipeline(self.tree.base_dir, self.db)

    def verify(self) -> None:
        o, tree = self.out, self.tree
        o.check(self.derby_rows == tree.rows, f"derby rows {self.derby_rows} != {tree.rows}")
        r = self.spark.sql(gen.M33_CHECK_SQL.format(table="m33")).collect()[0]
        o.check(r.n == tree.rows, f"ctas rows {r.n} != {tree.rows}")
        o.check((r.weighted, r.residue) == tree.checksum, f"ctas checksum {(r.weighted, r.residue)} != {tree.checksum}")

    def probe_counters(self, jobs_of) -> None:
        scan = spans.job_totals(jobs_of("probe:sources.text.scan"))
        self.out.layers["sources.text.input_bytes"] = scan["input_bytes"]
        self.out.layers["sources.text.tasks"] = scan["tasks"]

    def probe_layers(self) -> None:
        from hdfs_hive_sql_playground_spark.m33 import m33_raw
        from hdfs_hive_sql_playground_spark.sources.jdbc import read_jdbc

        spark, t, L, tree = self.spark, self.tracer, self.out.layers, self.tree
        L["engine.ddl_s"] = self.walls["ddl"]
        L["sinks.ctas_s"] = self.walls["ctas"]
        L["sources.jdbc.export_s"] = self.walls["export"]
        L["sinks.ctas_rows_per_s"] = tree.rows / self.walls["ctas"]
        L["sources.jdbc.export_rows_per_s"] = tree.rows / self.walls["export"]
        stored, files = dir_bytes(os.path.join(self.ctx.work, "warehouse", "m33"))
        L["sinks.bytes_written"] = stored
        L["sinks.files_written"] = files
        L["sinks.stored_bytes_ratio"] = stored / tree.raw_bytes
        L["sources.text.plan_s"] = median_of(lambda: m33_raw(spark, tree.base_dir))
        with t.span("probe:sources.text.scan") as s:
            noop(spark.table("m33_raw"))
        L["sources.text.scan_s"] = s.seconds
        L["sources.text.fetch_s"] = median_of(lambda: spark.table("m33_raw").limit(100).collect())
        with t.span("probe:m33.schem") as s:
            noop(spark.table("m33_schem"))
        L["m33.project_s"] = s.seconds - L["sources.text.scan_s"]
        L["sinks.write_self_s"] = L["sinks.ctas_s"] - s.seconds
        with t.span("probe:sinks.read") as s:
            noop(spark.table("m33"))
        L["sinks.read_s"] = s.seconds
        L["sinks.fetch_s"] = median_of(lambda: spark.table("m33").limit(100).collect())
        with t.span("probe:sources.jdbc.verify") as s:
            read_jdbc(spark, self.url, "m33").count()
        L["sources.jdbc.verify_s"] = s.seconds
        L["sources.jdbc.sink_self_s"] = L["sources.jdbc.export_s"] - L["sinks.read_s"] - s.seconds
        blocking = ("engine.ddl", "sinks.ctas", "sources.jdbc.export")
        L["trace.blocking_self_s"] = sum(
            t.self_seconds(sp) for sp in t.spans if sp.name in blocking and sp.parent == self.passes[-1].id
        )
        self.probe_interactive()

    def probe_interactive(self) -> None:
        """What a beeline user sends once the pipeline has run: the
        statement mix below, after a warm-up of another 40, most over one
        persistent HiveServer2 wire session, the Hive-dialect ones through
        Engine.exec_sql. Every row count is checked."""
        from hdfs_hive_sql_playground_spark import dialect
        from hdfs_hive_sql_playground_spark.thrift import WireClient

        L, eng = self.out.layers, self.engine
        sf_dir = os.path.join(self.ctx.work, "registry")
        rows = gen.gen_registry(sf_dir, self.ctx.seed, REGISTRY_SF, INTERACTIVE_TABLES)
        eng.register_testdata(sf_dir)
        rng = random.Random(self.ctx.seed)
        warm = statement_sequence(rng, INTERACTIVE_WARMUP_STATEMENTS, rows["orders"])
        statements = statement_sequence(rng, INTERACTIVE_STATEMENTS, rows["orders"])
        with self.tracer.span("probe:thrift.start") as s:
            self.server = eng.serve_thrift()
        L["thrift.start_s"] = s.seconds
        client = WireClient(self.spark, self.server.url)

        def run(route: str, sql: str) -> list:
            return client.sql(sql) if route == "wire" else eng.exec_sql(sql).collect()

        for _, route, sql, _ in warm:
            run(route, sql)
        walls = {c: [] for c in STATEMENT_CLASSES}
        for c, route, sql, want in statements:
            with self.tracer.span(f"stmt:{c}") as s:
                got = len(run(route, sql))
            walls[c].append(s.seconds)
            self.out.check(got == want, f"{sql!r}: {got} rows, expected {want}")
        every = [w for ws in walls.values() for w in ws]
        L["stmt.p50_s"] = statistics.median(every)
        L["stmt.p90_s"] = percentile(every, 90)
        for c in ("raw_fetch", "ctas_fetch", "lookup", "aggregate"):
            L[f"stmt.{c}_s"] = statistics.median(walls[c])
        L["engine.exec_sql_p50_s"] = statistics.median(walls["hive"])
        hive = [sql for c, _, sql, _ in statements if c == "hive"]
        t0 = time.perf_counter()
        L["dialect.rewrites"] = sum(dialect.rewrite(sql) != sql for sql in hive)
        L["dialect.rewrite_s"] = time.perf_counter() - t0
        sql = "SELECT * FROM m33 LIMIT 100"
        wire = median_of(lambda: client.sql(sql), 5)
        local = median_of(lambda: eng.exec_sql(sql).collect(), 5)
        L["thrift.overhead_s"] = wire - local

    def close(self) -> None:
        # The wire session is left to the JVM's exit: closing it makes the
        # server open a Hive metastore client, which fails against the
        # session's in-memory metastore and retries for ~20 s.
        if getattr(self, "server", None) is not None:
            self.server.stop()
        super().close()


# ---------------------------------------------------------------------------


def registry_specs() -> list:
    from hdfs_hive_sql_playground_spark.queries import all_queries

    return [s for s in all_queries().values() if s.bench]


def module_of(spec) -> str:
    return spec.fn.__module__.rsplit(".", 1)[-1]


class RegistryMix(Workload):
    """The bench=True registry queries in seed-shuffled order, each
    collected to the client through Arrow, on a fresh session: the first
    execution of each query, code generation included."""

    name = "registry_mix"

    def generate(self) -> None:
        self.sf_dir = os.path.join(self.ctx.work, "registry")
        gen.gen_registry(self.sf_dir, self.ctx.seed, REGISTRY_SF)
        self.specs = registry_specs()
        random.Random(self.ctx.seed).shuffle(self.specs)

    def register(self) -> None:
        self.engine.register_testdata(self.sf_dir)

    def warm_up(self) -> None:
        # Start the Python workers and the Arrow path once, so the first
        # shuffled query does not carry them.
        self.spark.range(64).mapInArrow(lambda it: it, "id long").collect()

    def run_pass(self) -> None:
        from hdfs_hive_sql_playground_spark.caching import release_tracked_caches

        results, walls, released = {}, {}, 0
        for spec in self.specs:
            with self.tracer.span(f"queries.{spec.name}") as s:
                results[spec.name] = spec.fn(self.spark, self.sf_dir).toPandas()
                released += release_tracked_caches()
            walls[spec.name] = s.seconds
        self.results, self.walls, self.released = results, walls, released

    def verify(self) -> None:
        """The last pass's results against each query's DuckDB oracle, or a
        row count where it has none."""
        from hdfs_hive_sql_playground_spark import oracle

        con = oracle.duckdb_connection(self.sf_dir)
        try:
            for spec in self.specs:
                got = self.results[spec.name]
                if spec.oracle is None:
                    self.out.check(len(got) > 0, f"{spec.name}: no rows")
                    continue
                want = con.execute(spec.oracle).fetch_df()
                ok = oracle.canonicalize(got) == oracle.canonicalize(want)
                self.out.check(ok, f"{spec.name}: differs from its oracle ({len(got)} vs {len(want)} rows)")
        finally:
            con.close()

    def probe_layers(self) -> None:
        L = self.out.layers
        L["caching.released"] = self.released
        for spec in self.specs:
            L[f"queries.{spec.name}_s"] = self.walls[spec.name]
            key = f"queries.{module_of(spec)}_s"
            L[key] = L.get(key, 0.0) + self.walls[spec.name]
        L["queries.geomean_s"] = statistics.geometric_mean(self.walls.values())


# ---------------------------------------------------------------------------


# Statement classes of the interactive probe: class -> (share of the sequence,
# route, templates as (sql, expected rows; None: the TOP count)). A class's
# statements cycle through its templates, so every seed runs the same number
# of each; the seed sets their order and values. Raw-view fetches decode
# whole text files and are the slow class: their share puts p90 well inside
# them and p50 inside the fast classes.
STATEMENT_CLASSES = {
    "raw_fetch": (0.25, "wire", (("SELECT * FROM m33_schem LIMIT 100", 100),)),
    "ctas_fetch": (0.20, "wire", (("SELECT * FROM m33 LIMIT 100", 100),)),
    "lookup": (0.20, "wire", (("SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey = {key}", 1),)),
    "aggregate": (
        0.15,
        "wire",
        (
            (
                "SELECT l_returnflag, COUNT(*) AS n, SUM(l_quantity) AS q FROM lineitem "
                "WHERE l_linenumber = {line} GROUP BY l_returnflag",
                3,
            ),
            ("SELECT n_regionkey, COUNT(*) AS n FROM nation WHERE n_nationkey < {nations} GROUP BY n_regionkey", 5),
        ),
    ),
    "hive": (
        0.20,
        "exec_sql",
        (
            ("SELECT TOP {top} * FROM m33", None),
            ("SELECT TOP {top} INPUT__FILE__NAME AS f, age_mil FROM m33", None),
            ("SELECT TOP {top} field(is_peculiar, 0, 1) AS f, flam FROM m33", None),
        ),
    ),
}
INTERACTIVE_STATEMENTS = 120  # p90 has 12 samples beyond it
INTERACTIVE_WARMUP_STATEMENTS = 40
INTERACTIVE_TABLES = ("orders", "lineitem", "nation")


def statement_sequence(rng: random.Random, n: int, orders: int) -> list[tuple[str, str, str, int]]:
    """``n`` statements as (class, route, sql, expected row count)."""
    kinds = []
    for c, (share, route, templates) in STATEMENT_CLASSES.items():
        kinds += [(c, route, templates[i % len(templates)]) for i in range(round(share * n))]
    rng.shuffle(kinds)
    out = []
    for c, route, (sql, want) in kinds:
        v = {"key": rng.randrange(orders), "line": rng.randint(1, 7), "nations": rng.randint(5, 25), "top": rng.randint(50, 100)}
        out.append((c, route, sql.format(**v), v["top"] if want is None else want))
    return out


WORKLOADS = {w.name: w for w in (M33Elt, RegistryMix)}
