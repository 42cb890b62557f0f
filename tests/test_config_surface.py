"""The configuration surface read from the environment, pinned.

Tuning values are module constants that tests and the bench patch as
attributes; only deployment settings come from the environment. Adding a
``SPARK_GRAFT_*`` environment read is a deliberate edit to this test.
No Spark session is needed.
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
