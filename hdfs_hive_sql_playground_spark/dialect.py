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

Every shim, statement splitting (:func:`split`) and the engine's DDL shim
read SQL text through one lexer, :func:`lex`, which follows Spark 4.1's
lexical rules for the forms that hide code:

- ``'...'`` and ``"..."`` strings, with backslash escapes and doubled quotes;
- raw ``r'...'`` / ``R"..."`` strings, where a backslash is not an escape;
- backtick-quoted identifiers (a doubled backtick escapes one);
- ``--`` line comments (a backslash before the newline continues one);
- ``/* ... */`` block comments, nested, and ``/*+ ... */`` hints.

A literal, identifier or comment left open runs to the end of the text.
``--`` comments are cut from the code; block comments and hints stay
verbatim. A ``field(``, ``INPUT__FILE__NAME`` or ``;`` inside any of these
forms is text, not code: it is never rewritten and never ends a statement.
"""

from __future__ import annotations

import re
from typing import NamedTuple

from pyspark.sql import Column
from pyspark.sql import functions as F

_FIELD_RE = re.compile(r"\bfield\s*\(", re.IGNORECASE)
_TOP_RE = re.compile(r"^(\s*select)\s+top\s+(\d+)\s+", re.IGNORECASE)
_IFN_RE = re.compile(r"\bINPUT__FILE__NAME\b", re.IGNORECASE)

# One alternative per form that hides code. Each always matches once it
# starts (an open form runs to \Z), so a search never backtracks.
_LEX_RE = re.compile(
    r"""--(?:\\\n|[^\n])*
    |/\*
    |\b[rR](?:'[^']*(?:'|\Z)|"[^"]*(?:"|\Z))
    |'(?:[^'\\]+|\\.?|'')*(?:'|\Z)
    |"(?:[^"\\]+|\\.?|"")*(?:"|\Z)
    |`(?:[^`]+|``)*(?:`|\Z)
    """,
    re.VERBOSE | re.DOTALL,
)
_BLOCK_RE = re.compile(r"/\*|\*/")
_PUNCT_RE = re.compile(r"[(),]")


class Lexed(NamedTuple):
    code: str  # the text with its ``--`` comments cut out
    mask: str  # ``code`` with every literal, identifier and block-comment character blanked


def lex(sql: str) -> Lexed:
    """One pass over ``sql``. ``mask`` has the length of ``code``, so a
    regex or ``;`` search on the mask indexes ``code``."""
    code, mask, pos = [], [], 0
    while m := _LEX_RE.search(sql, pos):
        a, b = m.span()
        code.append(sql[pos:a])
        mask.append(sql[pos:a])
        pos = b
        if m.group().startswith("--"):
            continue
        if m.group() == "/*":
            pos = _block_end(sql, a)
        code.append(sql[a:pos])
        mask.append(" " * (pos - a))
    code.append(sql[pos:])
    mask.append(sql[pos:])
    return Lexed("".join(code), "".join(mask))


def _block_end(sql: str, start: int) -> int:
    depth = 0
    for m in _BLOCK_RE.finditer(sql, start):
        depth += 1 if m.group() == "/*" else -1
        if depth == 0:
            return m.end()
    return len(sql)


def split(sql: str) -> tuple[list[str], str]:
    """Split ``sql`` at every top-level ``;``. Returns the statements it
    ends (stripped, ``--`` comments cut, empty ones dropped) and the tail
    after the last one: the code of a statement still open, unstripped so
    an open literal keeps its newlines, or ``""`` if only blanks remain."""
    code, mask = lex(sql)
    stmts, start = [], 0
    for m in re.finditer(";", mask):
        stmt = code[start : m.start()].strip()
        if stmt:
            stmts.append(stmt)
        start = m.end()
    tail = code[start:]
    return stmts, tail if tail.strip() else ""


def field(x: Column | str, *values) -> Column:
    """Hive ``field()`` as a Column: 1-based index of ``x`` in ``values``,
    else 0, as INT — the expression :func:`rewrite_field` emits."""
    col = F.col(x) if isinstance(x, str) else x
    arr = F.array(*[v if isinstance(v, Column) else F.lit(v) for v in values])
    return F.coalesce(F.array_position(arr, col), F.lit(0)).cast("int")


def _sub(sql: str, pattern: re.Pattern, repl) -> str:
    """Replace the matches of ``pattern`` in the code of ``sql`` (never in a
    literal, identifier or comment). ``repl(code, mask, m)`` gives the
    replacement text and the index where the replaced code ends, or None to
    stop there. ``sql`` itself comes back when nothing is replaced."""
    if not pattern.search(sql):
        return sql
    code, mask = lex(sql)
    out, last = [], 0
    for m in pattern.finditer(mask):
        if m.start() < last:
            continue  # inside code already replaced
        r = repl(code, mask, m)
        if r is None:
            break
        out += (code[last : m.start()], r[0])
        last = r[1]
    return "".join(out) + code[last:] if out else sql


def _field_call(code: str, mask: str, m: re.Match):
    """The rewrite of the ``field(`` call at ``m`` and the index after its
    ``)``; None if it never closes or has no value list."""
    depth, start, args = 0, m.end(), []
    for p in _PUNCT_RE.finditer(mask, m.end() - 1):
        depth += {"(": 1, ")": -1}.get(p.group(), 0)
        if depth == 0 or (depth == 1 and p.group() == ","):
            args.append(rewrite_field(code[start : p.start()]).strip())
            start = p.end()
        if depth == 0:
            if len(args) < 2:
                return None
            x, *values = args
            repl = f"CAST(coalesce(array_position(array({', '.join(values)}), {x}), 0) AS INT)"
            return repl, p.end()
    return None


def rewrite_field(sql: str) -> str:
    """Replace every ``field(x, v...)`` call with the JVM-side form of
    :func:`field` (arguments first, so nested field() calls also rewrite)."""
    return _sub(sql, _FIELD_RE, _field_call)


def rewrite_top(sql: str) -> str:
    """``SELECT TOP n <rest>`` → ``SELECT <rest> LIMIT n`` (T-SQL A26)."""
    m = _TOP_RE.match(sql)
    if not m:
        return sql
    rest = lex(sql[m.end() :]).code.rstrip().rstrip(";")
    return f"{m.group(1)} {rest} LIMIT {m.group(2)}"


def rewrite_input_file_name(sql: str) -> str:
    """Hive ``INPUT__FILE__NAME`` virtual column → ``input_file_name()``."""
    return _sub(sql, _IFN_RE, lambda code, mask, m: ("input_file_name()", m.end()))


def rewrite(sql: str) -> str:
    """All dialect shims, in order."""
    return rewrite_field(rewrite_input_file_name(rewrite_top(sql)))
