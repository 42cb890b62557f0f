"""SQL dialect shims: Hive/MySQL ``field()`` and T-SQL ``TOP n``.

The reference forwards raw HiveQL to Hive 3.1.2 and raw T-SQL to MSSQL
(``playground.py:745-750``, ``:695-708``); Spark SQL covers almost all of
that surface natively. The two gaps its example workload actually uses:

- ``field(x, v1, v2, ...)`` (``create_m33_schem_view.hql:12``) — the
  1-based index of ``x`` in the value list, 0 if absent or if ``x`` is
  NULL, as an INT (Hive's return type). Rewritten here to
  ``CAST(coalesce(array_position(array(v1, ...), x), 0) AS INT)``, which
  stays JVM-side inside whole-stage codegen (no Python UDF in the path).
  The coalesce matters because ``array_position(arr, NULL)`` is NULL while
  ``field(NULL, ...)`` is 0; the cast because ``array_position`` returns
  BIGINT. :func:`field` builds the same expression as a Column.
- ``SELECT TOP n ...`` (``examples/runall.py:73``) — rewritten to a
  trailing ``LIMIT n``.

Plus Hive's ``INPUT__FILE__NAME`` virtual column
(``create_m33_schem_view.hql:10``) — Spark's spelling is the
``input_file_name()`` function.

The rewriter is a quote- and paren-aware scanner, not a regex over the
whole statement, so string literals containing ``field(`` survive.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

_FIELD_RE = re.compile(r"\bfield\s*\(", re.IGNORECASE)
_TOP_RE = re.compile(r"^(\s*select)\s+top\s+(\d+)\s+", re.IGNORECASE)
_IFN_RE = re.compile(r"\bINPUT__FILE__NAME\b", re.IGNORECASE)


def _scan_literal_spans(sql: str) -> list[tuple[int, int]]:
    """Half-open spans of single-quoted literals (with '' escapes)."""
    spans = []
    i = 0
    while i < len(sql):
        if sql[i] == "'":
            j = i + 1
            while j < len(sql):
                if sql[j] == "'":
                    if j + 1 < len(sql) and sql[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            spans.append((i, min(j + 1, len(sql))))
            i = j + 1
        else:
            i += 1
    return spans


def _in_literal(pos: int, spans: list[tuple[int, int]]) -> bool:
    return any(a <= pos < b for a, b in spans)


def _split_top_level_args(argstr: str) -> list[str]:
    args, depth, start = [], 0, 0
    spans = _scan_literal_spans(argstr)
    for i, ch in enumerate(argstr):
        if _in_literal(i, spans):
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            args.append(argstr[start:i].strip())
            start = i + 1
    args.append(argstr[start:].strip())
    return args


def field(x: Column | str, *values) -> Column:
    """Hive ``field()`` as a Column: 1-based index of ``x`` in ``values``,
    else 0, as INT — the expression :func:`rewrite_field` emits."""
    col = F.col(x) if isinstance(x, str) else x
    arr = F.array(*[v if isinstance(v, Column) else F.lit(v) for v in values])
    return F.coalesce(F.array_position(arr, col), F.lit(0)).cast("int")


def rewrite_field(sql: str) -> str:
    """Replace every top-level ``field(x, v...)`` call with the JVM-side
    form of :func:`field` (processed innermost-first so nested field()
    calls also rewrite)."""
    while True:
        spans = _scan_literal_spans(sql)
        m = None
        for cand in _FIELD_RE.finditer(sql):
            if not _in_literal(cand.start(), spans):
                m = cand
                break
        if m is None:
            return sql
        open_paren = m.end() - 1
        depth, j = 0, open_paren
        while j < len(sql):
            if _in_literal(j, spans):
                j += 1
                continue
            if sql[j] == "(":
                depth += 1
            elif sql[j] == ")":
                depth -= 1
                if depth == 0:
                    break
            j += 1
        if depth != 0:
            return sql  # unbalanced; leave untouched
        inner = rewrite_field(sql[open_paren + 1 : j])
        args = _split_top_level_args(inner)
        if len(args) < 2:
            return sql
        x, values = args[0], args[1:]
        repl = f"CAST(coalesce(array_position(array({', '.join(values)}), {x}), 0) AS INT)"
        sql = sql[: m.start()] + repl + sql[j + 1 :]


def rewrite_top(sql: str) -> str:
    """``SELECT TOP n <rest>`` → ``SELECT <rest> LIMIT n`` (T-SQL A26)."""
    m = _TOP_RE.match(sql)
    if not m:
        return sql
    rest = sql[m.end() :].rstrip().rstrip(";")
    return f"{m.group(1)} {rest} LIMIT {m.group(2)}"


def rewrite_input_file_name(sql: str) -> str:
    """Hive ``INPUT__FILE__NAME`` virtual column → ``input_file_name()``
    (skipping occurrences inside string literals)."""
    spans = _scan_literal_spans(sql)
    out, last = [], 0
    for m in _IFN_RE.finditer(sql):
        if _in_literal(m.start(), spans):
            continue
        out.append(sql[last : m.start()])
        out.append("input_file_name()")
        last = m.end()
    out.append(sql[last:])
    return "".join(out)


def rewrite(sql: str) -> str:
    """All dialect shims, in order."""
    return rewrite_field(rewrite_input_file_name(rewrite_top(sql)))
