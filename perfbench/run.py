"""Benchmark entry point: runs one workload and prints its metrics.

    python3 perfbench/run.py --workload m33_elt --seed 1 --seconds 10 --trace 0

Run from the checkout root. Every input is generated from ``--seed`` into
``.perfbench_work/`` (removed and rebuilt on each run), so the same seed
gives the same inputs. Any output mismatch is printed to stderr. The last
line of stdout is the result record: ``{"correct", "attempted", "failed",
"metrics"}``, where ``metrics`` holds every ``end_to_end`` metric of
BENCHMARK.json with ``--trace 0`` and every ``per_layer`` metric with
``--trace 1`` (0 where the workload does not use the layer). A traced run
also writes its spans and Spark jobs to
``.perfbench_work/trace-<workload>-<seed>.json``.

The box settings (driver heap, JDBC writer cap) are flags so
BENCHMARK.json's command records them.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "hdfs_hive_sql_playground_spark"
WORKLOAD_NAMES = ("m33_elt", "registry_mix")


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0, help="minimum measured time; passes repeat until it is spent")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--driver-memory", default="6g", help="driver heap (the one JVM of local mode)")
    ap.add_argument("--max-writers", type=int, default=4, help="JDBC export writers, capped at the core count")
    return ap.parse_args(argv)


def spark_conf(args: argparse.Namespace, work: str) -> dict[str, str]:
    """Session settings: the heap, and every scratch path Spark, Hive's
    Thrift service and Derby would otherwise put in /tmp or the cwd."""
    tmp = os.path.join(work, "tmp")
    return {
        "spark.driver.memory": args.driver_memory,
        "spark.driver.extraJavaOptions": (
            f"-XX:ReservedCodeCacheSize=480m -Djava.io.tmpdir={tmp} "
            f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}"
        ),
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "10000",
        "spark.ui.retainedStages": "20000",
        "spark.hadoop.hive.exec.scratchdir": os.path.join(work, "hive-scratch"),
        "spark.hadoop.hive.exec.local.scratchdir": os.path.join(work, "hive-local"),
        "spark.hadoop.hive.downloaded.resources.dir": os.path.join(work, "hive-resources"),
        "spark.hadoop.hive.querylog.location": os.path.join(work, "hive-querylog"),
        "spark.hadoop.hive.server2.logging.operation.enabled": "false",
    }


def stop_jvm() -> None:
    """Shut the py4j gateway down and wait for the JVM (and with it the
    Python workers it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        proc.wait(timeout=60)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: {PACKAGE}/ not found under {ROOT}; run from a checkout", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    work = os.path.join(ROOT, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub))
    cpus = len(os.sched_getaffinity(0))
    # Before the JVM starts: local dirs, the package on the Python workers'
    # path (pandas/Arrow UDFs import it), and the core count the engine sizes
    # shuffles by.
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # Every JVM the run starts (the spark-submit launcher too): no
    # hsperfdata files in the system temp directory.
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    sys.path.insert(0, ROOT)

    from perfbench.workloads import WORKLOADS, Context

    ctx = Context(
        work=work,
        seed=args.seed,
        seconds=args.seconds,
        traced=bool(args.trace),
        cpus=cpus,
        max_writers=max(1, min(args.max_writers, cpus)),
        conf=spark_conf(args, work),
    )
    workload = WORKLOADS[args.workload](ctx)
    try:
        out = workload.execute()
    finally:
        workload.phase("stop", lambda: (workload.close(), stop_jvm()))

    for problem in out.problems:
        print(f"perfbench: FAILED {problem}", file=sys.stderr)
    if args.trace:
        metrics = {m["name"]: {"value": float(out.layers.get(m["name"], 0.0)), "unit": m["unit"]} for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": float(out.e2e[m["name"]]), "unit": m["unit"]} for m in spec["end_to_end"]}
    print(
        json.dumps(
            {"correct": out.failed == 0, "attempted": out.attempted, "failed": out.failed, "metrics": metrics}
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
