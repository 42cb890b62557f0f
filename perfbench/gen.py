"""Seeded input generators for the benchmark.

Two data sets, both written under the benchmark's work directory and never
committed:

- the m33 tree: the reference's raw layout (``{cp,nocp}/hmix.a<AGE>z0790``,
  3 header lines per file, one `` <wavelength>  <flam>`` record per line).
  The seed perturbs values, never byte counts: wavelengths are a seeded
  permutation of one fixed-width range and flux values are drawn from a
  fixed-width range, so every seed writes files of identical size.
- the registry tables: the ten parquet tables the registry queries read
  (``tables.TABLES``), with the schemas and value domains of the repository's
  synthetic TPC-H-style data, at a stated scale factor.

Both return what the correctness checks need (row counts, checksums).
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

import numpy as np

M33_AGES = (11, 12)
M33_PARTS = ("cp", "nocp")
M33_HEADER = (
    b"# m33 synthetic spectral data (benchmark generator)\n"
    b"# columns: wavelength(angstrom)  flam\n"
    b"# first three lines are header junk skipped by skip.header.line.count=3\n"
)
WL_MIN_C = 300_000  # 3000.00 A; 700k consecutive centi-angstroms stay 4+2 digits
FLAM_MIN_C, FLAM_MAX_C = 10_000_000, 99_999_999  # 100000.00 .. 999999.99
LINE_BYTES = 20  # " dddd.dd  dddddd.dd\n"
CHECK_MOD = 1_000_003


@dataclass(frozen=True)
class M33Tree:
    base_dir: str
    rows: int
    raw_bytes: int
    checksum: tuple[int, int]  # (weighted value sum, pairwise residue sum)


def _digits(values: np.ndarray, width: int) -> np.ndarray:
    """ASCII digits of non-negative ints, zero-padded to ``width`` columns."""
    out = np.empty((values.size, width), np.uint8)
    v = values.copy()
    for k in range(width - 1, -1, -1):
        out[:, k] = 48 + v % 10
        v //= 10
    return out


def m33_checksum(wl_c: np.ndarray, flam_c: np.ndarray, age: int, pec: int) -> tuple[int, int]:
    """The value checksum :data:`M33_CHECK_SQL` computes over the table."""
    weighted = int((wl_c * 7 + flam_c * 3).sum()) + wl_c.size * (age * 1009 + pec * 9176)
    residue = int(((wl_c * flam_c) % CHECK_MOD).sum())
    return weighted, residue


# Spark SQL twin of m33_checksum over any relation with the m33 schema.
M33_CHECK_SQL = (
    "SELECT COUNT(*) AS n, "
    "SUM(CAST(ROUND(wavelength * 100) AS BIGINT) * 7 "
    "+ CAST(ROUND(flam * 100) AS BIGINT) * 3 + age_mil * 1009 + is_peculiar * 9176) AS weighted, "
    "SUM(pmod(CAST(ROUND(wavelength * 100) AS BIGINT) * CAST(ROUND(flam * 100) AS BIGINT), "
    f"{CHECK_MOD})) AS residue FROM {{table}}"
)


def gen_m33(base_dir: str, seed: int, rows_per_file: int = 700_000) -> M33Tree:
    """Write the 2 partitions x 2 ages tree (4 files) and return its
    expected row count, raw byte count and value checksum."""
    if rows_per_file > 700_000:
        raise ValueError("wavelengths must stay 4+2 digits: at most 700k rows per file")
    shutil.rmtree(base_dir, ignore_errors=True)
    rng = np.random.default_rng(seed)
    weighted = residue = raw = 0
    for part in M33_PARTS:
        pec = 1 if part == "cp" else 0
        os.makedirs(os.path.join(base_dir, part))
        for age in M33_AGES:
            wl_c = WL_MIN_C + rng.permutation(rows_per_file).astype(np.int64)
            flam_c = rng.integers(FLAM_MIN_C, FLAM_MAX_C + 1, rows_per_file, dtype=np.int64)
            lines = np.empty((rows_per_file, LINE_BYTES), np.uint8)
            lines[:, 0] = ord(" ")
            lines[:, 1:5] = _digits(wl_c // 100, 4)
            lines[:, 5] = ord(".")
            lines[:, 6:8] = _digits(wl_c % 100, 2)
            lines[:, 8:10] = ord(" ")
            lines[:, 10:16] = _digits(flam_c // 100, 6)
            lines[:, 16] = ord(".")
            lines[:, 17:19] = _digits(flam_c % 100, 2)
            lines[:, 19] = ord("\n")
            path = os.path.join(base_dir, part, f"hmix.a{age:06d}z0790")
            with open(path, "wb") as f:
                f.write(M33_HEADER)
                f.write(lines.tobytes())
            raw += os.path.getsize(path)
            w, r = m33_checksum(wl_c, flam_c, age, pec)
            weighted += w
            residue += r
    rows = len(M33_PARTS) * len(M33_AGES) * rows_per_file
    return M33Tree(base_dir, rows, raw, (weighted, residue))


# -- registry tables -----------------------------------------------------------

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS, LANG_P = ("de", "en", "es", "fr", "zh"), (0.15, 0.4, 0.15, 0.15, 0.15)
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
EMBED_DIM = 64
DAY_US = 86_400_000_000
EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01T00:00:00
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00


def _cents(rng, lo_c: int, hi_c: int, n: int) -> np.ndarray:
    return rng.integers(lo_c, hi_c + 1, n) / 100.0


def _pick(rng, values, n: int, p=None):
    import pyarrow as pa

    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)], pa.string())


def _break_half_cent_ties(cents: np.ndarray, group: np.ndarray) -> None:
    """Nudge event values so that no (hour, event_type) mean, in dollars,
    ends in an exact 5 at the 7th decimal. q61 rounds that mean to 6
    decimals, and Spark (half-up on the shortest decimal form) and DuckDB
    (on the binary double) disagree on exactly those ties; the benchmark
    needs inputs on which every registry query passes its oracle."""
    keys, inv = np.unique(group, return_inverse=True)
    first = np.full(keys.size, -1)
    first[inv[::-1]] = np.arange(inv.size)[::-1]
    while True:
        sums = np.bincount(inv, weights=cents, minlength=keys.size).astype(np.int64)
        cnts = np.bincount(inv, minlength=keys.size)
        num = 2 * sums * 10_000
        tie = (num % cnts == 0) & ((num // cnts) % 2 == 1)
        if not tie.any():
            return
        cents[first[tie]] += 1


def registry_tables(seed: int, sf: float) -> dict:
    """The registry's ten tables as pyarrow Tables. Row counts follow the
    repository's test data at the same scale factor (lineitem 6 M x sf, orders
    1.5 M x sf, ...); values are uniform draws over the same domains, so
    only the seed, never the sizes, changes between runs."""
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb, n_users = max(500, int(50_000 * sf)), max(500, int(20_000 * sf)), max(150, int(15_000 * sf))
    i32, i64 = pa.int32(), pa.int64()
    ts = pa.timestamp("us")

    def days(lo_day: int, span: int, n: int):
        return pa.array(EPOCH_1995_US + (lo_day + rng.integers(0, span + 1, n)) * DAY_US, ts)

    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), i32), "r_name": list(REGIONS)})
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _cents(rng, -99_999, 999_999, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _cents(rng, -99_999, 999_999, n_supp),
        }
    )
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    keys = np.arange(n_part)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(keys, i64),
            "p_name": _pick(rng, names, n_part),
            "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": 900.0 + (keys % 1000) / 10.0,
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
            "o_totalprice": _cents(rng, 100_000, 50_000_000, n_ord),
            "o_orderdate": days(0, 2404, n_ord),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _cents(rng, 90_000, 10_500_000, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": _pick(rng, ("A", "N", "R"), n_li),
            "l_linestatus": _pick(rng, ("F", "O"), n_li),
            "l_shipdate": days(1, 2498, n_li),
        }
    )
    gaps = rng.exponential(1.0, n_ev)
    offs = (np.cumsum(gaps) / gaps.sum() * 30 * DAY_US * 0.9999).astype(np.int64)
    etype = rng.integers(0, len(EVENT_TYPES), n_ev)
    cents = np.round(rng.exponential(5000.0, n_ev)).astype(np.int64)
    _break_half_cent_ties(cents, offs // 3_600_000_000 * len(EVENT_TYPES) + etype)
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), i64),
            "ts": pa.array(EPOCH_2024_US + offs, ts),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
            "event_type": pa.array(np.asarray(EVENT_TYPES, dtype=object)[etype], pa.string()),
            "value": cents / 100.0,
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    vocab = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(vocab[rng.integers(0, len(VOCAB), rng.integers(10, 101))]) for _ in range(n_doc)]
    for i in rng.choice(np.arange(n_doc // 2, n_doc), max(1, n_doc // 625), replace=False):
        texts[i] = texts[int(rng.integers(0, n_doc // 2))]  # a few exact duplicates
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc), i64),
            "text": texts,
            "lang": _pick(rng, LANGS, n_doc, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": pa.array([len(s) for s in texts], i64),
        }
    )
    vec = rng.standard_normal((n_emb, EMBED_DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), i64),
            "embedding": pa.FixedSizeListArray.from_arrays(vec.ravel(), EMBED_DIM).cast(pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), i32),
        }
    )
    return t


def gen_registry(out_dir: str, seed: int, sf: float, names: tuple[str, ...] | None = None) -> dict[str, int]:
    """Write every registry table (or those in ``names``) as
    ``<out_dir>/<name>.parquet``; returns the row count of each."""
    import pyarrow.parquet as pq

    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    rows = {}
    for name, table in registry_tables(seed, sf).items():
        if names is not None and name not in names:
            continue
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
