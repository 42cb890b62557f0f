"""Each bit-exact numeric rule of the query layer is written once, pinned.

The registry's cross-engine hashes rest on a few rules: the dot product's
sequential fold, the cosine's try_divide (zero norm -> NULL) over
precomputed norms, and the Mersenne prime of the MinHash and positional
fingerprints. An AST scan of ``queries/`` and ``streaming.py`` finds
every spelling of those rules; each may sit only in its owning function.
No Spark session is needed.
"""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(REPO, "hdfs_hive_sql_playground_spark")

# rule -> the one function allowed to spell it
OWNERS = {
    "aggregate(zip_with)": "_dot",
    "try_divide(_dot)": "_normed_cos",
    "sqrt(_dot(x, x))": "_norm",
}


def _name(func: ast.AST) -> str | None:
    if isinstance(func, ast.Attribute):
        return func.attr
    if isinstance(func, ast.Name):
        return func.id
    return None


def _call_of(node: ast.AST, name: str) -> bool:
    return isinstance(node, ast.Call) and _name(node.func) == name


def _kernel_spellings(source: str) -> list[tuple[str, str]]:
    """``(rule, enclosing function)`` for every spelling of a numeric
    kernel rule in ``source``; module-level code reports ``<module>``."""
    hits = []

    def visit(node: ast.AST, owner: str) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            owner = node.name
        if isinstance(node, ast.Call) and node.args:
            first = node.args[0]
            name = _name(node.func)
            if name == "aggregate" and _call_of(first, "zip_with"):
                hits.append(("aggregate(zip_with)", owner))
            elif name == "try_divide" and _call_of(first, "_dot"):
                hits.append(("try_divide(_dot)", owner))
            elif (
                name == "sqrt"
                and _call_of(first, "_dot")
                and len(first.args) == 2
                and ast.dump(first.args[0]) == ast.dump(first.args[1])
            ):
                hits.append(("sqrt(_dot(x, x))", owner))
        for child in ast.iter_child_nodes(node):
            visit(child, owner)

    visit(ast.parse(source), "<module>")
    return hits


def _assigned_names(source: str) -> list[str]:
    names = []
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, ast.Assign):
            names += [t.id for t in node.targets if isinstance(t, ast.Name)]
        elif isinstance(node, (ast.AnnAssign, ast.AugAssign)) and isinstance(node.target, ast.Name):
            names.append(node.target.id)
    return names


def _read(path: str) -> str:
    with open(path) as fh:
        return fh.read()


def _package_files() -> list[str]:
    return [
        os.path.join(root, name)
        for root, _dirs, files in os.walk(PACKAGE)
        for name in files
        if name.endswith(".py")
    ]


def test_numeric_kernels_live_in_their_owners():
    paths = [p for p in _package_files() if os.sep + "queries" + os.sep in p]
    paths.append(os.path.join(PACKAGE, "streaming.py"))
    found = {}
    for path in paths:
        for rule, owner in _kernel_spellings(_read(path)):
            found.setdefault(rule, []).append((os.path.relpath(path, REPO), owner))
    similarity = "hdfs_hive_sql_playground_spark/queries/similarity.py"
    assert found == {rule: [(similarity, fn)] for rule, fn in OWNERS.items()}, found


def test_mersenne_prime_assigned_once():
    where = [
        os.path.relpath(p, REPO)
        for p in _package_files()
        for name in _assigned_names(_read(p))
        if name == "MERSENNE_P"
    ]
    assert where == ["hdfs_hive_sql_playground_spark/queries/dedup.py"], where


def test_kernel_scanner_sees_every_form():
    src = (
        "def q(a, b, w):\n"
        "    d = F.aggregate(F.zip_with(a, w, lambda x, y: x * y), F.lit(0.0), f)\n"
        "    c = F.try_divide(_dot(a, b), F.col('na') * F.col('nb'))\n"
        "    n = F.sqrt(_dot(F.col('v'), F.col('v')))\n"
        "    ok = F.sqrt(_dot(a, b))\n"
        "    return F.try_divide(F.col('i'), _dot(a, b))\n"
        "top = aggregate(zip_with(a, b, f), z, g)\n"
    )
    assert _kernel_spellings(src) == [
        ("aggregate(zip_with)", "q"),
        ("try_divide(_dot)", "q"),
        ("sqrt(_dot(x, x))", "q"),
        ("aggregate(zip_with)", "<module>"),
    ]
    assert _assigned_names("MERSENNE_P = 7\nMERSENNE_P: int = 7\nP = 3\n") == [
        "MERSENNE_P",
        "MERSENNE_P",
        "P",
    ]
