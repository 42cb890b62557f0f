"""The configuration surface read from the environment, pinned.

Tuning values are module constants that tests and the bench patch as
attributes; only deployment settings come from the environment. Adding a
``SPARK_GRAFT_*`` environment read is a deliberate edit to this test.
The JDBC export policy (writer count, batch rows, Derby's table locks)
is spelled out only in ``sources/jdbc.py``. No Spark session is needed.
"""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(REPO, "hdfs_hive_sql_playground_spark")


def _is_environ(node: ast.AST) -> bool:
    return (
        isinstance(node, ast.Attribute)
        and node.attr == "environ"
        and isinstance(node.value, ast.Name)
        and node.value.id == "os"
    )


def _env_names(path: str) -> set[str]:
    """Every SPARK_GRAFT_* name ``path`` reads through ``os.environ[...]``,
    ``os.environ.<method>(...)`` or ``os.getenv(...)``."""
    with open(path) as fh:
        tree = ast.parse(fh.read(), path)
    names = set()
    for node in ast.walk(tree):
        key = None
        if isinstance(node, ast.Subscript) and _is_environ(node.value):
            key = node.slice
        elif isinstance(node, ast.Call) and node.args and isinstance(node.func, ast.Attribute):
            func = node.func
            if _is_environ(func.value) or (
                func.attr == "getenv"
                and isinstance(func.value, ast.Name)
                and func.value.id == "os"
            ):
                key = node.args[0]
        if isinstance(key, ast.Constant) and str(key.value).startswith("SPARK_GRAFT_"):
            names.add(key.value.removeprefix("SPARK_GRAFT_"))
    return names


# Export writer-count and batch parameters, as keywords, parameters,
# ``.option`` keys and CLI flags.
EXPORT_PARAMS = {"num_partitions", "batchsize", "numPartitions", "--num-partitions", "--batchsize"}


def _is_int(node: ast.AST) -> bool:
    return isinstance(node, ast.Constant) and type(node.value) is int


def _export_policy(path: str) -> list[str]:
    """Where ``path`` spells out the export policy itself: the Derby
    row-locking property, or an int literal given to an export writer or
    batch parameter as a keyword argument, a parameter default, an
    ``.option`` value or a CLI flag default."""
    with open(path) as fh:
        tree = ast.parse(fh.read(), path)
    hits = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Constant) and "derby.storage.rowLocking" in str(node.value):
            hits.append("derby.storage.rowLocking")
        elif isinstance(node, ast.keyword) and node.arg in EXPORT_PARAMS and _is_int(node.value):
            hits.append(node.arg)
        elif isinstance(node, ast.arguments):
            params = node.posonlyargs + node.args
            pairs = list(zip(params[len(params) - len(node.defaults):], node.defaults))
            pairs += list(zip(node.kwonlyargs, node.kw_defaults))
            hits += [a.arg for a, d in pairs if a.arg in EXPORT_PARAMS and _is_int(d)]
        elif (
            isinstance(node, ast.Call)
            and node.args
            and isinstance(node.args[0], ast.Constant)
            and node.args[0].value in EXPORT_PARAMS
        ):
            values = node.args[1:] + [k.value for k in node.keywords if k.arg == "default"]
            hits += [node.args[0].value for v in values if _is_int(v)]
    return hits


def test_export_policy_lives_in_sources_jdbc():
    """One owner of the export policy: no other module of the package, and
    not bench.py, sets the Derby lock property or its own writer or batch
    value, so what the bench times is what a user gets."""
    paths = [os.path.join(REPO, "bench.py")]
    for root, _dirs, files in os.walk(PACKAGE):
        paths += [os.path.join(root, name) for name in files if name.endswith(".py")]
    found = {os.path.relpath(p, REPO): set(hits) for p in paths if (hits := _export_policy(p))}
    assert found == {
        "hdfs_hive_sql_playground_spark/sources/jdbc.py": {"derby.storage.rowLocking"}
    }, found


def test_export_scanner_sees_every_form(tmp_path):
    src = tmp_path / "probe.py"
    src.write_text(
        "def f(df, num_partitions=16, *, batchsize=500, other=3):\n"
        "    export(df, num_partitions=8, batchsize=n, mode=1)\n"
        "    df.write.option('numPartitions', 2).option('batchsize', n)\n"
        "    p.add_argument('--batchsize', type=int, default=1000)\n"
        "    p.add_argument('--num-partitions', type=int, default=WRITERS)\n"
        "    set('derby.storage.rowLocking', 'false')\n"
    )
    assert sorted(_export_policy(str(src))) == sorted(
        ["num_partitions", "batchsize", "num_partitions", "numPartitions",
         "--batchsize", "derby.storage.rowLocking"]
    )


def test_package_reads_only_deployment_settings():
    found: dict[str, set[str]] = {}
    for root, _dirs, files in os.walk(PACKAGE):
        for name in files:
            if name.endswith(".py"):
                path = os.path.join(root, name)
                for var in _env_names(path):
                    found.setdefault(var, set()).add(os.path.relpath(path, REPO))
    assert set(found) == {"CPUS", "DRIVER_MEM"}, found


def test_bench_reads_only_its_documented_knobs():
    assert _env_names(os.path.join(REPO, "bench.py")) == {
        "SF_DIR",
        "WARM_SF_DIR",
        "SKIP_SUBPROCESS_LEGS",
        "DRIVER_MEM",
    }


def test_examples_read_no_settings():
    """Examples run the package as a user would: any knob they need is a
    CLI verb or an argument, not an environment variable of their own."""
    examples = os.path.join(REPO, "examples")
    found = {
        name: _env_names(os.path.join(examples, name))
        for name in os.listdir(examples)
        if name.endswith(".py")
    }
    assert not any(found.values()), found


def test_scanner_sees_every_read_form(tmp_path):
    src = tmp_path / "probe.py"
    src.write_text(
        "import os\n"
        "a = os.environ.get('SPARK_GRAFT_A', '1')\n"
        "b = os.environ['SPARK_GRAFT_B']\n"
        "c = os.getenv('SPARK_GRAFT_C')\n"
        "os.environ.setdefault('SPARK_GRAFT_D', 'x')\n"
        "e = os.environ.get('OTHER')\n"
    )
    assert _env_names(str(src)) == {"A", "B", "C", "D"}
