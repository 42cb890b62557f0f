"""DuckDB-oracle comparison harness.

Replicates the driver's correctness gate locally: run the Spark query and
the oracle SQL over the same parquet tables, then compare row count, column
names, and an order-insensitive canonical rendering of every value. Exact
string equality of canonical values is a strict predictor of the driver's
value-hash match — floats must be bit-identical, which is why query outputs
use DECIMAL for sums and explicit rounding elsewhere.

:func:`check` is the one registry check (CLI ``validate``, the window
preflight and the pytest gate all call it); :func:`compare` stays for
ad-hoc SQL.
"""

from __future__ import annotations

import decimal
import math
import os
from dataclasses import dataclass, field

import duckdb
import pandas as pd

from hdfs_hive_sql_playground_spark.caching import release_tracked_caches
from hdfs_hive_sql_playground_spark.tables import TABLES


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def _canon_cell(v) -> str:
    if v is None or v is pd.NaT:
        return "<NULL>"
    if isinstance(v, float):
        if math.isnan(v):
            return "<NaN>"
        return repr(v)
    if isinstance(v, decimal.Decimal):
        # Fixed-point rendering, never scientific notation (Decimal('9.1E+2')
        # round-trips as '910'); strip trailing fractional zeros so scale
        # metadata differences don't produce spurious mismatches.
        s = f"{v:f}"
        if "." in s:
            s = s.rstrip("0").rstrip(".")
        return s if s not in ("", "-0") else "0"
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return "[" + ",".join(_canon_cell(x) for x in v) + "]"
    if isinstance(v, bytes):
        return "0x" + v.hex()
    return str(v)


def canonicalize(df: pd.DataFrame) -> tuple[list[str], list[tuple[str, ...]]]:
    """Column-sorted, order-insensitive canonical rows.

    Iterates per-column ``.tolist()`` (never ``iterrows``, which upcasts
    all-numeric frames to float64 and would render DuckDB's 1015 as
    '1015.0' while Spark's object-dtype 1015 stays '1015').
    """
    cols = sorted(df.columns)
    columns = []
    for c in cols:
        s = df[c]
        # NaN in a float column means NULL for int-typed results that pandas
        # upcast; keep NaN rendering for true float columns only.
        columns.append([None if x is pd.NaT else x for x in s.tolist()])
    out = [tuple(_canon_cell(v) for v in row) for row in zip(*columns)] if cols else []
    out.sort()
    return cols, out


@dataclass
class CompareResult:
    name: str
    ok: bool
    spark_rows: int
    # None: a rows-only check, the query has no oracle.
    oracle_rows: int | None
    mismatches: list[str] = field(default_factory=list)

    @property
    def rows_only(self) -> bool:
        return self.oracle_rows is None

    def report(self) -> str:
        status = "OK" if self.ok else "FAIL"
        msg = f"{self.name}: {status} (spark={self.spark_rows} oracle={self.oracle_rows})"
        for m in self.mismatches[:10]:
            msg += f"\n  {m}"
        return msg


def compare(name: str, spark_df, oracle_sql: str, sf_dir: str) -> CompareResult:
    spark_pdf = spark_df.toPandas()
    con = duckdb_connection(sf_dir)
    try:
        oracle_pdf = con.execute(oracle_sql).fetch_df()
    finally:
        con.close()

    mismatches: list[str] = []
    s_cols, s_rows = canonicalize(spark_pdf)
    o_cols, o_rows = canonicalize(oracle_pdf)
    if s_cols != o_cols:
        mismatches.append(f"columns differ: spark={s_cols} oracle={o_cols}")
    if len(s_rows) != len(o_rows):
        mismatches.append(f"row count differs: spark={len(s_rows)} oracle={len(o_rows)}")
    if not mismatches:
        for i, (sr, orow) in enumerate(zip(s_rows, o_rows)):
            if sr != orow:
                mismatches.append(f"row {i} differs:\n    spark : {sr}\n    oracle: {orow}")
                if len(mismatches) >= 5:
                    break
    return CompareResult(
        name=name,
        ok=not mismatches,
        spark_rows=len(s_rows),
        oracle_rows=len(o_rows),
        mismatches=mismatches,
    )


def check(spark, spec, sf_dir: str) -> CompareResult:
    """Run registry query ``spec`` and check it against its DuckDB oracle;
    a query without one gets the driver's rows-only check (it must run;
    the result is ``rows_only``). The caches the query tracked are released
    whether it passes, fails or raises."""
    try:
        df = spec.fn(spark, sf_dir)
        if spec.oracle is None:
            return CompareResult(spec.name, ok=True, spark_rows=df.count(), oracle_rows=None)
        return compare(spec.name, df, spec.oracle, sf_dir)
    finally:
        release_tracked_caches()
