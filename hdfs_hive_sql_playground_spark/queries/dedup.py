"""Deduplication operators over the ``documents`` table: exact (hash
groupBy), MinHash-LSH near-dup (banded bucket join — no all-pairs),
exact n-gram Jaccard (inverted-index join), and SimHash fingerprints.

These are the operators a 100 TB training-data pipeline runs first; none
of them exists in the reference (its surface stops at relational SQL —
SURVEY §2 Tier B), so they are built as first-class DataFrame plans:

- Exact dedup shuffles once on a 128-bit content hash — the grouping key
  is the hash, never the document text, so shuffle volume is O(rows·16 B).
- MinHash-LSH: shingle explode → k minhashes per doc (shuffle on doc_id)
  → bucket self-join on (band, signature) → exact-Jaccard verification of
  candidates only. Worst case is bucket skew (a degenerate band value),
  which AQE skew-join splitting handles; there is NO cartesian product at
  any stage (cf. VERDICT.md requirement).
- Exact Jaccard uses the inverted-index pattern (self-join on shingle),
  the standard scalable exact method — cost is Σ posting-list², not n².
- SimHash is embarrassingly parallel per token; the 32 bit-counters ride
  one groupBy(doc_id) shuffle.

The test corpus is synthetic word salad (max 3-shingle Jaccard ≈ 0.03),
so thresholds here are tuned low to exercise the machinery with non-empty
outputs; production corpora would use j ≥ 0.8 with r·b chosen for that
operating point.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from hdfs_hive_sql_playground_spark.queries import register
from hdfs_hive_sql_playground_spark.tables import load, parquet_row_count

# ---------------------------------------------------------------------------
# shared shingle machinery
# ---------------------------------------------------------------------------

SHINGLE_N = 3


def _words(col: Column) -> Column:
    return F.split(F.lower(F.trim(col)), r"\s+")


def _ngrams_of(w: Column, n: int) -> Column:
    """Non-distinct n-word grams of a words-array column; empty (typed)
    when the document has fewer than n words — the `when` guard also keeps
    `sequence` from descending on short docs (see q106's note).

    ``w`` MUST be a materialized NAMED COLUMN, never the split expression
    itself: higher-order functions run interpreted (CodegenFallback), and
    the interpreted lambda re-evaluates captured EXPRESSIONS once per
    element per reference — a captured ``split(lower(trim(text)))`` here
    re-tokenizes the whole document n times per gram, turning the builder
    O(words²). Measured on the q81 shingle stage at sf0.1: 7.0 s as a
    captured expression vs 0.26 s as a named column (27x), bit-identical
    output. A named column binds to a BoundReference, which the lambda
    reads in O(1)."""
    idx = F.sequence(F.lit(1), F.size(w) - n + 1)
    return F.when(
        F.size(w) >= n,
        F.transform(
            idx,
            lambda i: F.concat_ws(" ", *[F.element_at(w, i + j) for j in range(n)]),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _doc_shingles(spark: SparkSession, sf_dir: str, max_doc: int | None = None) -> DataFrame:
    """Distinct n-word shingles, one row per (doc, shingle). The words
    array materializes as a named column first — see _ngrams_of."""
    d = load(spark, sf_dir, "documents")
    if max_doc is not None:
        d = d.filter(F.col("doc_id") < max_doc)
    return d.select("doc_id", _words(F.col("text")).alias("__w")).select(
        "doc_id",
        F.explode(F.array_distinct(_ngrams_of(F.col("__w"), SHINGLE_N))).alias(
            "shingle"
        ),
    )


# ---------------------------------------------------------------------------
# q80 exact dedup
# ---------------------------------------------------------------------------


# Shared dedup-group contract for the exact-dedup family (q80 default
# byte-exact, q145 NFC opt-in, q146 width fold): one row per distinct
# content key with the canonical (min) doc_id and removable count. The
# key expression is the ONLY thing that varies — keeping the group/agg
# body and the oracle scaffold here means a contract change (as the
# round-12 trim-class alignment was) edits one place, not three.
_DEDUP_ORACLE_TEMPLATE = """
    SELECT
      {key_sql} AS content_hash,
      COUNT(*) AS n_docs,
      CAST(MIN(doc_id) AS BIGINT) AS canonical_doc,
      CAST(COUNT(*) - 1 AS BIGINT) AS n_removable
    FROM documents
    GROUP BY 1
    """


def _dedup_groups(d: DataFrame, key: Column) -> DataFrame:
    return (
        d.select("doc_id", key.alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("canonical_doc"),
            (F.count(F.lit(1)) - 1).alias("n_removable"),
        )
    )


# The dedup-KEY recipes are exported as named helpers for the same
# one-place-edit reason as _dedup_groups above: the batch queries
# (q80/q109/q145/q146), the streaming ingest's default/opt-in
# content_key, and any corpus_hashes builder must all spell the SAME
# key, or history dedup silently misses (the content_key docstring's
# own warning). A recipe change (as the round-12 trim-class alignment
# was) edits these three definitions, not every call site.


def content_norm(col: Column) -> Column:
    """The shared pre-hash normalization: lowercase + ASCII-space trim
    (= DuckDB ``lower(trim(x, ' '))``, the round-12 aligned class)."""
    return F.lower(F.trim(col))


def default_content_key(col: Column) -> Column:
    """The byte-exact content key (q80/q109 and the streaming default):
    md5 over :func:`content_norm`. NFC/NFD twins stay distinct by
    pinned posture (docs/VERIFICATION.md "NFC/NFD")."""
    return F.md5(content_norm(col))


def nfc_content_key(col: Column) -> Column:
    """The q145 opt-in: NFC normalize-before-hash (one Arrow pass)."""
    return F.md5(content_norm(nfc_normalize_col(col)))


def width_fold_key(col: Column) -> Column:
    """The q146 opt-in: width/confusable fold before the hash (pure
    JVM translate; the 1:1 SQL-expressible subset of NFKC)."""
    return F.md5(
        content_norm(F.translate(col, WIDTH_FOLD_FROM, WIDTH_FOLD_TO))
    )


@register(
    "q80_exact_dedup",
    oracle=_DEDUP_ORACLE_TEMPLATE.format(
        key_sql="md5(lower(trim(text, ' ')))"
    ),
    doc="Exact deduplication: group by md5 of normalized content; one row per "
    "distinct content with the canonical (min) doc_id and removable count. "
    "Shuffles 16-byte hashes, never text — the plan that survives 100 TB. "
    "BYTE-EXACT by design: canonically-equivalent NFC/NFD twins stay "
    "distinct (recall cost only; posture pinned in docs/VERIFICATION.md, "
    "opt-in normalize-before-hash variant = q145).",
    bench=True,
)
def q80_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return _dedup_groups(d, default_content_key(F.col("text")))


# ---------------------------------------------------------------------------
# q145 NFC-normalized exact dedup (the opt-in unicode-normalization recipe)
# ---------------------------------------------------------------------------
#
# POSTURE (decided round 13, pinned in docs/VERIFICATION.md "NFC/NFD"):
# the DEFAULT content-hash recipe (q80/q109/q140/q143 above and in
# curation2.py / text.py) is BYTE-EXACT — NFC and NFD spellings of the
# same text hash differently on BOTH engines, consistently, so the
# oracle can never see it; the cost is dedup recall only (a missed
# canonically-equivalent twin stays in the corpus; nothing is corrupted).
# Normalize-before-hash is the OPT-IN variant below, because Spark has
# no JVM-side NFC: java.text.Normalizer.normalize takes a Form enum, so
# SQL `reflect()` can't reach it, and an Arrow pandas-UDF pass over the
# full text column is the only route — a real per-byte cost on the
# flagship "text never shuffles" path, and ExtractPythonUDFs evaluates
# Python UDFs eagerly (pulled out of CASE WHEN into their own plan
# node), so it cannot be gated per-row on an is-ASCII fast path either.
# A production deployment that wants NFC-by-default ships a 10-line
# Scala UDF jar and swaps it into `nfc_normalize_col`; the plan shape
# (normalize -> hash -> 16-byte exchange) is identical.


def nfc_normalize_col(col: Column) -> Column:
    """NFC-normalize a string column (Arrow-vectorized pandas UDF).

    Cross-engine contract: CPython's unicodedata NFC must agree with
    DuckDB's utf8proc ``nfc_normalize`` — pinned on the NFC/NFD twin
    corpus docs by tests/test_adversarial_corpus.py (q145 rides the full
    corpus gate). Null propagates as null on both sides.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _nfc(s):  # pandas Series[str] -> Series[str]
        return s.str.normalize("NFC")

    return _nfc(col)


@register(
    "q145_nfc_exact_dedup",
    oracle=_DEDUP_ORACLE_TEMPLATE.format(
        key_sql="md5(lower(trim(nfc_normalize(text), ' ')))"
    ),
    doc="Exact dedup with NFC normalize-before-hash: canonically-equivalent "
    "NFC/NFD twins (e.g. precomposed vs combining-mark accents) collapse to "
    "one group. Same 16-byte-hash single exchange as q80; adds one Arrow "
    "pandas-UDF projection pass (the only route — Spark has no JVM NFC).",
)
def q145_nfc_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return _dedup_groups(d, nfc_content_key(F.col("text")))


# ---------------------------------------------------------------------------
# q146 width-fold dedup (confusable-width spam/evasion resistance)
# ---------------------------------------------------------------------------
#
# Fullwidth ASCII (Ｈｅｌｌｏ, U+FF01-FF5E), ideographic space (U+3000)
# and NBSP (U+00A0) are the classic duplicate-evasion spellings in CJK
# crawl corpora. Full NFKC would fold them, but DuckDB has no NFKC and
# Spark no JVM normalizer (the q145 story) — so this recipe folds the
# DETERMINISTIC 1:1 SUBSET of NFKC that a per-codepoint translate can
# express on BOTH engines: each mapped char's image equals its NFKC
# image (asserted by tests/test_adversarial_corpus.py::
# test_width_fold_is_the_nfkc_image_on_its_domain), the fold is pure
# JVM whole-stage-codegen on the Spark side (no Python, text never
# shuffles), and the oracle is byte-identical DuckDB translate().
WIDTH_FOLD_FROM = "".join(chr(0xFF01 + i) for i in range(94)) + "　 "
WIDTH_FOLD_TO = "".join(chr(0x21 + i) for i in range(94)) + "  "
_WIDTH_FOLD_TO_SQL = WIDTH_FOLD_TO.replace("'", "''")


@register(
    "q146_width_fold_dedup",
    oracle=_DEDUP_ORACLE_TEMPLATE.format(
        key_sql=(
            f"md5(lower(trim(translate(text, '{WIDTH_FOLD_FROM}', "
            f"'{_WIDTH_FOLD_TO_SQL}'), ' ')))"
        )
    ),
    doc="Exact dedup under a width/confusable fold: fullwidth ASCII "
    "(U+FF01-FF5E), ideographic space and NBSP fold to their ASCII "
    "images (the 1:1 SQL-expressible subset of NFKC) before the "
    "content hash, so width-spoofed duplicate twins collapse. Pure "
    "JVM translate projection + the same 16-byte-hash single exchange "
    "as q80 — zero Python, text never shuffles.",
)
def q146_width_fold_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return _dedup_groups(d, width_fold_key(F.col("text")))


# ---------------------------------------------------------------------------
# q81 MinHash-LSH near-dup (oracle-checked: the shingle hash is the
# engine-portable md5-nibble construction, so DuckDB replicates the whole
# minhash → band → verify pipeline)
# ---------------------------------------------------------------------------

MINHASH_K = 16  # 16 bands of r=1 row: P(candidate) = 1-(1-j)^16
MERSENNE_P = (1 << 31) - 1
_SEEDS = [(i, 2 * i + 1, 7919 * (i + 1)) for i in range(MINHASH_K)]
JACCARD_MIN = 0.02  # tuned to the synthetic corpus; 0.8 in production
SHINGLE_HASH_NIBBLES = 12  # 48-bit shingle hash (fits BIGINT math on both engines)


def _shingle_hash48(col: Column) -> Column:
    """First 12 md5 nibbles of the shingle as a 48-bit int — the wide
    sibling of :func:`_token_hash32`, portable to any engine with
    md5 + substr + strpos. A production deployment swaps in xxhash64 (same
    plan, one expression); this construction exists so the ENTIRE LSH
    pipeline is value-hash-checkable against DuckDB.

    Spark side evaluates it as one base-16 ``conv`` (A/B-measured 2.4x
    faster per row than the 12-op nibble fold and bit-identical over 2M
    values — both are just the integer value of the first 12 hex chars;
    48 bits can't hit conv's unsigned-64 wrap). The SQL fragment keeps
    the explicit nibble sum, which any engine can run."""
    return F.conv(F.substring(F.md5(col), 1, SHINGLE_HASH_NIBBLES), 16, 10).cast(
        "bigint"
    )


def _shingle_hash48_sql(expr: str) -> str:
    return " + ".join(
        f"(strpos('0123456789abcdef', substr(md5({expr}), {k + 1}, 1)) - 1)"
        f" * {16 ** (SHINGLE_HASH_NIBBLES - 1 - k)}"
        for k in range(SHINGLE_HASH_NIBBLES)
    )


@register(
    "q81_minhash_lsh_neardup",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, string_split_regex(lower(trim(text, ' ')), '[ \\t\\n\\x0b\\f\\r]+') w FROM documents
    ),
    sh0 AS (
      SELECT DISTINCT doc_id,
             UNNEST(list_transform(range(1, len(w) - 1),
                                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
      FROM words WHERE len(w) >= 3
    ),
    sh AS (SELECT doc_id, {_shingle_hash48_sql('shingle')} AS h FROM sh0),
    seeds(band, a, b) AS (VALUES {', '.join(f'({i}, {a}, {b})' for i, a, b in _SEEDS)}),
    minh AS (
      SELECT doc_id, band,
             MIN((a * (h % {MERSENNE_P}) + b) % {MERSENNE_P}) AS sig
      FROM sh CROSS JOIN seeds GROUP BY 1, 2
    ),
    cand AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM minh x JOIN minh y
        ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    inter AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS i
      FROM cand c
      JOIN sh a ON a.doc_id = c.doc_a
      JOIN sh b ON b.doc_id = c.doc_b AND b.h = a.h
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, jaccard FROM (
      SELECT doc_a, doc_b,
             ROUND(i * 1.0 / (sa.n + sb.n - i), 6) AS jaccard
      FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
    )
    WHERE jaccard >= {JACCARD_MIN}
    """,
    doc="MinHash-LSH near-duplicate pairs: shingle→k minhashes→band bucket "
    "join→exact-Jaccard verification of candidates only (over 48-bit "
    "portable shingle hashes; the shingle relation is persisted so "
    "documents is scanned once, not 6×). No all-pairs stage; every join is "
    "key-equi. The md5-nibble hash makes the ENTIRE pipeline "
    "value-hash-checked against DuckDB (previously rows-only under "
    "xxhash64); production swaps xxhash64 back in with one expression.",
)
def q81_minhash_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Hashed shingle relation (doc_id, h): persisted because FOUR branches
    # consume it (minhash, sizes, and both sides of the verification join)
    # and exchange reuse cannot kick in across their differing projections —
    # without this, documents is scanned and re-shingled 6×. Everything
    # downstream of here shuffles 8-byte hashes, never shingle strings.
    # At 100 TB the persist becomes a checkpoint to parquet; the relation is
    # ~shingles-per-doc × 16 B, not the corpus text.
    from hdfs_hive_sql_playground_spark.caching import track_persist

    sh = track_persist(
        _doc_shingles(spark, sf_dir)
        .select("doc_id", _shingle_hash48(F.col("shingle")).alias("h"))
    )
    # minhash m(band, doc) = min over shingles of (a*h31 + b) mod p, with h
    # first reduced mod p so the product stays well inside int64 (ANSI mode
    # rejects silent overflow). All MINHASH_K minima are computed in ONE
    # groupBy(doc_id) aggregate over the shingle relation and exploded to
    # (doc_id, band, sig) afterward: the previous crossJoin-with-seeds form
    # fanned every shingle row out k× through the generate and keyed the
    # hash aggregate on (doc_id, band) — k× the rows and k× the key
    # cardinality for the same exchanged bytes.
    h31 = F.pmod(F.col("h"), F.lit(MERSENNE_P))
    minw = sh.groupBy("doc_id").agg(
        *[
            F.min(F.pmod(F.lit(a) * h31 + F.lit(b), F.lit(MERSENNE_P))).alias(f"_m{band}")
            for band, a, b in _SEEDS
        ]
    )
    minh = minw.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(band).cast("int").alias("band"),
                        F.col(f"_m{band}").alias("sig"),
                    )
                    for band, _, _ in _SEEDS
                ]
            )
        ).alias("e"),
    ).select("doc_id", F.col("e.band").alias("band"), F.col("e.sig").alias("sig"))
    minh = track_persist(minh)  # self-joined below: k rows/doc, tiny
    # bucket join: docs sharing any (band, sig) are candidates
    a, b = minh.alias("a"), minh.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # cand persisted (round 14): THREE downstream evaluations consume it —
    # the two verification joins' shared subtree and the final orderBy's
    # range-sampling job, which re-executes the whole un-materialized
    # pipeline to sample partition bounds (profiled: the sort alone was
    # +1.4 s of the 3.7 s wall because of that re-run). Narrow
    # (doc_a, doc_b) pairs, the same O(candidates) class as minh;
    # interleaved A/B favored it in every round-pair (min 3.32 -> 3.25,
    # worst draw 4.03 -> 3.80 on a loaded box). Real stats on cand also
    # let the planner size the verification joins from the actual
    # candidate count instead of a self-join estimate.
    cand = track_persist(cand)
    # Exact-Jaccard verification restricted to candidates, computed over the
    # 64-bit shingle hashes (collision odds ~n²/2⁶⁴ — negligible): the
    # intersection join shuffles longs, not shingle strings.
    # sizes is persisted (round 14): its TWO consumers (the na and nb
    # joins below) carry different pushed filters, so exchange reuse
    # cannot unify them and the plan aggregated the full shingle relation
    # TWICE (plans/r14/q81_*_before.txt: two HashAgg+Exchange subtrees
    # over the persisted sh). One narrow (doc_id, n) row per document —
    # at 100 TB this persist is the same O(n_docs) class as minh's.
    sizes = track_persist(sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")))
    # Strategies stay stats-picked (DEPLOYMENT_100TB §7): one-shot lookups
    # get broadcast while sh/sizes fit and flip to SMJ from REAL sizes as
    # the corpus grows — pinning shuffle_hash here was interleaved-A/B
    # measured ~30% slower at sf0.1 (5.41 s vs 3.88 s warm min).
    inter = (
        cand.join(sh.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .join(sh.withColumnRenamed("doc_id", "doc_b"), ["doc_b", "h"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    return (
        _jaccard(inter, sizes)
        .filter(F.col("jaccard") >= JACCARD_MIN)
        .orderBy("doc_a", "doc_b")
    )


def _jaccard(inter: DataFrame, sizes: DataFrame, *extra: Column) -> DataFrame:
    """``(doc_a, doc_b, *extra, jaccard)`` from the pairs' shingle
    intersection count ``inter.i`` and each document's shingle count
    ``sizes.n``: |A n B| / (|A| + |B| - |A n B|), rounded to 6 places."""
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "na"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "nb"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            *extra,
            F.round(F.col("i") / (F.col("na") + F.col("nb") - F.col("i")), 6).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# q82 exact n-gram Jaccard pairs (oracle-checked)
# ---------------------------------------------------------------------------


@register(
    "q82_ngram_jaccard_pairs",
    bench=True,
    oracle="""
    WITH words AS (
      SELECT doc_id, string_split_regex(lower(trim(text, ' ')), '[ \\t\\n\\x0b\\f\\r]+') w
      FROM documents WHERE doc_id < 100
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             UNNEST(list_transform(range(1, len(w) - 1),
                                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
      FROM words WHERE len(w) >= 3
    ),
    sizes AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           CAST(i AS BIGINT) AS n_common,
           ROUND(i * 1.0 / (sa.n + sb.n - i), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    """,
    doc="Exact 3-gram Jaccard for every overlapping pair (doc_id<100) via the "
    "inverted-index self-join — the scalable exact-dedup verifier (no n² scan; "
    "cost is sum of posting-list squares).",
)
def q82_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _doc_shingles(spark, sf_dir, max_doc=100)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.withColumnRenamed("doc_id", "doc_a")
    b = sh.withColumnRenamed("doc_id", "doc_b")
    # Name-join, not a.shingle == b.shingle: both sides rename the same
    # plan, so attribute equality would be a trivially-true predicate.
    # Strategies stay stats-picked: shuffle_hash pins were interleaved-A/B
    # measured ~15% slower at sf0.1 (0.95 s vs 0.83 s warm min-of-6) and
    # buy nothing — stats flip broadcast to SMJ from real sizes at scale
    # (DEPLOYMENT_100TB §7).
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    return _jaccard(inter, sizes, F.col("i").alias("n_common"))


# ---------------------------------------------------------------------------
# q83 SimHash fingerprints (oracle-checked via md5-nibble bit extraction)
# ---------------------------------------------------------------------------

SIMHASH_BITS = 32


def _token_hash32(tok: Column) -> Column:
    """First 8 md5 nibbles of the token as a 32-bit int — portable to any
    engine with md5 + substr + strpos (DuckDB oracle uses the same
    formula). Evaluated as one base-16 ``conv`` like
    :func:`_shingle_hash48` (bit-identical; 32 bits can't wrap)."""
    return F.conv(F.substring(F.md5(tok), 1, 8), 16, 10).cast("bigint")


# q83 (and so q98) fingerprints the documents with doc_id below this; the
# Spark query and the oracle CTEs both read it.
SIMHASH_MAX_DOC = 200


def _simhash_oracle_ctes() -> str:
    """CTE chain ending in ``sim(doc_id, simhash)`` — shared by the q83
    fingerprint oracle and the q98 banded-near-dup oracle so the two can
    never drift apart."""
    return f"""
    WITH toks AS (
      SELECT DISTINCT doc_id, UNNEST(string_split_regex(lower(trim(text, ' ')), '[ \\t\\n\\x0b\\f\\r]+')) AS tok
      FROM documents WHERE doc_id < {SIMHASH_MAX_DOC}
    ),
    th AS (
      SELECT doc_id, {' + '.join(
        f"(strpos('0123456789abcdef', substr(md5(tok), {k + 1}, 1)) - 1) * {16 ** (7 - k)}"
        for k in range(8)
      )} AS h
      FROM toks
    ),
    bits AS (
      SELECT doc_id,
             {', '.join(
        f"SUM(CASE WHEN (h // {1 << (31 - j)}) % 2 = 1 THEN 1 ELSE -1 END) AS s{j}"
        for j in range(SIMHASH_BITS)
      )}
      FROM th GROUP BY doc_id
    ),
    sim AS (
      SELECT doc_id,
             CAST({' + '.join(f"(CASE WHEN s{j} > 0 THEN {1 << (31 - j)} ELSE 0 END)"
                              for j in range(SIMHASH_BITS))} AS BIGINT) AS simhash
      FROM bits
    )"""


@register(
    "q83_simhash",
    oracle=_simhash_oracle_ctes() + "\n    SELECT doc_id, simhash FROM sim",
    doc="32-bit SimHash per document from md5-derived token hashes: per-token "
    "bit votes, one groupBy(doc_id) shuffle, sign-threshold assembly. The md5 "
    "nibble formula is engine-portable, so even this is oracle-checked.",
)
def q83_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < SIMHASH_MAX_DOC)
    toks = d.select(
        "doc_id", F.explode(F.array_distinct(_words(F.col("text")))).alias("tok")
    )
    th = toks.select("doc_id", _token_hash32(F.col("tok")).alias("h"))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), 31 - j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s{j}")
        for j in range(SIMHASH_BITS)
    ]
    bits = th.groupBy("doc_id").agg(*votes)
    fingerprint = None
    for j in range(SIMHASH_BITS):
        term = F.when(F.col(f"s{j}") > 0, F.lit(1 << (31 - j))).otherwise(F.lit(0))
        fingerprint = term if fingerprint is None else fingerprint + term
    return bits.select("doc_id", fingerprint.cast("bigint").alias("simhash"))


# ---------------------------------------------------------------------------
# q87 near-dup connected components (iterative label propagation)
# ---------------------------------------------------------------------------


MAX_SHINGLE_DF = 8  # shingles in more docs than this are stopword noise


# Shared oracle fragment: the capped share-a-shingle graph and its
# connected components via a recursive CTE (q87's reference semantics).
# Used verbatim by q87, q116 and q139 so the three oracles can never
# drift apart. The doc_id < 100 cap keeps the recursive closure feasible
# at oracle scale; the Spark side mirrors it via _doc_shingles(max_doc).
_COMPONENTS_CTE_SQL = f"""words AS (
      SELECT doc_id, string_split_regex(lower(trim(text, ' ')), '[ \\t\\n\\x0b\\f\\r]+') w
      FROM documents WHERE doc_id < 100
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             UNNEST(list_transform(range(1, len(w) - 1),
                                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
      FROM words WHERE len(w) >= 3
    ),
    rare AS (
      SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= {MAX_SHINGLE_DF}
    ),
    shc AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
    edges AS (
      SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
      FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
    ),
    nodes AS (SELECT DISTINCT u AS doc_id FROM edges),
    reach(src, dst) AS (
      SELECT doc_id, doc_id FROM nodes
      UNION
      SELECT r.src, e.v FROM reach r JOIN edges e ON r.dst = e.u
    ),
    comp AS (
      SELECT src AS doc_id, CAST(MIN(dst) AS BIGINT) AS component
      FROM reach GROUP BY src
    )"""


@register(
    "q87_neardup_components",
    oracle=f"""
    WITH RECURSIVE {_COMPONENTS_CTE_SQL}
    SELECT doc_id, component FROM comp
    """,
    doc="Near-duplicate clustering: connected components over the "
    "share-a-shingle graph via iterative min-label propagation — the "
    "dedup-group assignment step that follows pair generation. The edge "
    "join is bounded per key: shingles shared by > MAX_SHINGLE_DF docs are "
    "dropped first (a k-doc shingle emits k² edges, so one stopword-heavy "
    "shingle at corpus scale is a quadratic hot key; capping document "
    "frequency is the standard fix and loses only non-discriminative "
    "edges). Each iteration is ONE shuffle on doc_id; the driver loop only "
    "checks a scalar convergence count (no row data ever reaches the "
    "driver), and iteration count is O(graph diameter). The DuckDB oracle "
    "computes the same capped graph with a recursive CTE — feasible at "
    "oracle scale, which is exactly why the Spark side must NOT use "
    "transitive closure (quadratic blowup at 100 TB) and uses label "
    "propagation instead.",
)
def q87_neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_hive_sql_playground_spark.caching import track_persist

    sh = track_persist(_doc_shingles(spark, sf_dir, max_doc=100))
    # Cap shingle document frequency BEFORE the self-join: a shingle shared
    # by k docs contributes k² edge candidates, so the join's per-key cost
    # is now ≤ MAX_SHINGLE_DF² regardless of corpus size.
    rare = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= MAX_SHINGLE_DF)
        .select("shingle")
    )
    shc = sh.join(rare, "shingle", "left_semi")
    a = shc.withColumnRenamed("doc_id", "u")
    b = shc.withColumnRenamed("doc_id", "v")
    # Undirected edge list, both orientations (u≠v): docs sharing a shingle.
    # Join by column NAME, not a.shingle == b.shingle: both sides rename the
    # same plan, so attribute-equality would be a trivially-true predicate
    # that only works via Spark's self-join disambiguation heuristic.
    edges = track_persist(
        a.join(b, "shingle")
        .filter(F.col("u") != F.col("v"))
        .select("u", "v")
        .distinct()
    )
    labels = edges.select(F.col("u").alias("doc_id")).distinct().withColumn(
        "label", F.col("doc_id")
    )
    # Loop strategies stay stats-picked (DEPLOYMENT_100TB §7): while labels
    # fits, broadcasting it keeps the persisted edges relation from
    # re-exchanging every iteration; past the threshold stats flip to SMJ
    # from REAL sizes. Pinning shuffle_hash was interleaved-A/B measured
    # ~60% slower at sf0.1 (6.86 s vs 4.34 s warm min) for zero safety.
    for _ in range(50):
        neigh = (
            edges.join(labels, edges.u == labels.doc_id)
            .groupBy(F.col("v").alias("doc_id"))
            .agg(F.min("label").alias("nlabel"))
        )
        relabeled = (
            labels.join(neigh, "doc_id", "left")
            .select(
                "doc_id",
                F.least(F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))).alias(
                    "label"
                ),
                (F.col("nlabel") < F.col("label")).alias("chg"),
            )
        )
        # Pointer-jumping step (round 14, VERDICT item 3 — guide §5: the
        # driver-coordinated loop costs one scheduler round-trip AND one
        # full per-iteration shuffle, so shrink the ITERATION COUNT):
        # after the neighbor-min, follow the new label one hop through
        # LAST round's label map — label <- min(label, label_prev(label)).
        # One-hop min-propagation needs O(diameter) iterations (labels
        # crawl one edge per round); composing each round's pointers with
        # the previous round's makes the covered label distance compound
        # (Fibonacci-like growth ⇒ O(log diameter) rounds — the
        # Shiloach-Vishkin / MapReduce-CC [Kiveris et al. 2014] family).
        # The jump reads the CHECKPOINTED `labels` frame, not `relabeled`:
        # joining relabeled against itself would evaluate the whole
        # neighbor-join subtree twice per job (measured: that variant was
        # wall-neutral at sf0.1 — 3 iterations but 2x per-job work),
        # while `labels` is materialized blocks, so the jump adds one
        # narrow hash-join probe and nothing else. Invariants unchanged:
        # labels only decrease and label(v) is always a doc_id of v's own
        # component (the jump reads another component member's label), so
        # the fixpoint — label constant per component, equal to the
        # component min — is the same frame the one-hop loop converges
        # to; only the round count changes. Measured at sf0.1: 5 -> 4
        # iterations, wall neutral (the local graph's diameter is ~4 and
        # each round is scheduling-bound); the asymptotic claim — and the
        # removal of the latent 50-iteration-cap blowup on a
        # diameter > 50 corpus, where the one-hop loop RAISED — is pinned
        # by test_q87_converges_on_long_chain_corpus on a 60-doc chain
        # (measured: one-hop needs 59 rounds, this converges in 7). At 100 TB each
        # avoided round is a full edges-shuffle plus a scheduler
        # round-trip, and crawl-corpus shingle graphs carry long chains.
        # The jump join keys on label==doc_id over the same bounded label
        # frame the neighbor join uses — broadcast while labels fits,
        # stats-flipped beyond, with the min label a hot key only for the
        # giant-component side that AQE skew splitting already covers.
        lmap = labels.select(
            F.col("doc_id").alias("__pid"), F.col("label").alias("__plab")
        )
        jumped = (
            relabeled.join(lmap, relabeled.label == lmap.__pid, "left")
            .select(
                "doc_id",
                F.least(
                    F.col("label"), F.coalesce(F.col("__plab"), F.col("label"))
                ).alias("label"),
                # NULL-safe like chg: false OR NULL counts 0 under the
                # summed int cast, true wins either way
                (F.col("chg") | (F.col("__plab") < F.col("label"))).alias("chg"),
            )
        )
        # ONE job per iteration: the convergence scalar rides the eager
        # localCheckpoint itself as an observed metric (CollectMetrics),
        # so the join pipeline is materialized exactly once and no second
        # count job runs at all. (History: the original loop ran the join
        # twice per iteration — count action + eager checkpoint as separate
        # jobs over the un-materialized frame; an intermediate version
        # checkpointed first and counted over the cached blocks — still a
        # second job.) localCheckpoint also truncates the per-iteration
        # lineage so plan size stays constant across iterations.
        obs = Observation()
        ck = jumped.observe(
            obs, F.sum(F.col("chg").cast("int")).alias("changed")
        ).localCheckpoint()
        # obs.get blocks until the checkpoint action has processed the
        # observed plan; one scalar to the driver per iteration.
        changed = obs.get["changed"] or 0
        labels = ck.select("doc_id", "label")
        if changed == 0:
            break
    else:
        raise RuntimeError("label propagation did not converge in 50 iterations")
    return labels.select("doc_id", F.col("label").alias("component"))


@register(
    "q116_canonical_per_cluster",
    oracle=f"""
    WITH RECURSIVE {_COMPONENTS_CTE_SQL},
    tokc AS (
      SELECT doc_id,
             CAST(len(string_split_regex(lower(trim(text, ' ')), '[ \\t\\n\\x0b\\f\\r]+')) AS BIGINT) AS n_tok
      FROM documents WHERE doc_id < 100
    ),
    full_assign AS (
      SELECT t.doc_id, COALESCE(c.component, t.doc_id) AS component, t.n_tok
      FROM tokc t LEFT JOIN comp c USING (doc_id)
    )
    SELECT doc_id, component, n_tok,
           CAST(CASE WHEN ROW_NUMBER() OVER (PARTITION BY component
                                             ORDER BY n_tok DESC, doc_id) = 1
                THEN 1 ELSE 0 END AS INTEGER) AS is_canonical
    FROM full_assign
    """,
    doc="Canonical-document selection — the dedup DECISION step that "
    "follows clustering: every doc (singletons included, as their own "
    "component) is assigned to its near-dup cluster (q87's capped-graph "
    "label propagation) and each cluster keeps its longest document (ties "
    "broken by doc_id) — the keep-longest retention policy common in "
    "production dedup. Integer-only ranking keys, so the choice is "
    "cross-engine deterministic. Adds ONE window exchange on component on "
    "top of q87's per-iteration doc_id shuffles.",
)
def q116_canonical_per_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    comp = q87_neardup_components(spark, sf_dir)
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    tokc = d.select("doc_id", F.size(_words(F.col("text"))).cast("bigint").alias("n_tok"))
    assigned = tokc.join(comp, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("component"), F.col("doc_id")).alias("component"),
        "n_tok",
    )
    w = Window.partitionBy("component").orderBy(F.desc("n_tok"), F.asc("doc_id"))
    return assigned.select(
        "doc_id",
        "component",
        "n_tok",
        F.when(F.row_number().over(w) == 1, 1).otherwise(0).cast("int").alias("is_canonical"),
    )


# ---------------------------------------------------------------------------
# q98 banded SimHash near-dup (Hamming-LSH, fully oracle-checked)
# ---------------------------------------------------------------------------

SIMHASH_BANDS = 4  # 4 bands x 8 bits over the 32-bit fingerprint
HAMMING_MAX = 10


@register(
    "q98_simhash_banded_neardup",
    oracle=_simhash_oracle_ctes()
    + f""",
    bands AS (
      {' UNION ALL '.join(
        f"SELECT doc_id, {b} AS band, (simhash // {1 << (8 * b)}) & 255 AS bv FROM sim"
        for b in range(SIMHASH_BANDS)
      )}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(sa.simhash, sb.simhash)) AS INTEGER) AS hamming
    FROM cand
    JOIN sim sa ON sa.doc_id = doc_a
    JOIN sim sb ON sb.doc_id = doc_b
    WHERE bit_count(xor(sa.simhash, sb.simhash)) <= {HAMMING_MAX}
    """,
    doc="SimHash near-duplicate pairs via Hamming-LSH banding: the 32-bit "
    "fingerprint splits into 4 bands of 8 bits; docs sharing any band value "
    "become candidates (key-equi join on (band, byte) — never all-pairs), "
    "then candidates are verified with an exact popcount(xor) Hamming "
    "distance. Pigeonhole guarantees recall 1.0 for distance < 4 and "
    "probabilistic recall above; this is the q81 MinHash-LSH shape with an "
    "engine-portable hash, so unlike q81 the WHOLE banded pipeline is "
    "value-hash-checked against DuckDB. The fingerprint relation (one row "
    "per doc) is persisted: three branches consume it and exchange reuse "
    "does not fire across differing projections.",
)
def q98_simhash_banded_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_hive_sql_playground_spark.caching import track_persist

    sim = track_persist(q83_simhash(spark, sf_dir))
    bands = sim.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("simhash", 8 * b).bitwiseAND(F.lit(255)).alias("bv"),
                    )
                    for b in range(SIMHASH_BANDS)
                ]
            )
        ).alias("e"),
    ).select("doc_id", F.col("e.band").alias("band"), F.col("e.bv").alias("bv"))
    a = bands.select(F.col("doc_id").alias("doc_a"), "band", "bv")
    b = bands.select(F.col("doc_id").alias("doc_b"), "band", "bv")
    cand = (
        a.join(b, ["band", "bv"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    # Fingerprint lookups stay stats-picked (DEPLOYMENT_100TB §7): pinning
    # shuffle_hash was interleaved-A/B measured ~45% slower at sf0.1
    # (2.02 s vs 1.37 s warm min) — stats flip broadcast to SMJ from real
    # sizes once sim outgrows the threshold.
    pairs = cand.join(
        sim.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sha")), "doc_a"
    ).join(sim.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("shb")), "doc_b")
    hamming = F.bit_count(F.expr("sha ^ shb")).cast("int")
    return pairs.filter(hamming <= HAMMING_MAX).select(
        "doc_a", "doc_b", hamming.alias("hamming")
    )


# Exact duplicated-span detection (the "exact-substring dedup" family from
# Lee et al., "Deduplicating Training Data Makes Language Models Better"):
# instead of whole-doc or near-dup similarity, find the VERBATIM n-gram
# spans that repeat across documents — the spans a substring-dedup pass
# would cut. 8 words ≈ the paper's 50-token granularity shrunk to the
# synthetic corpus' short documents.
SPAN_N = 8
SPAN_TOPK = 100


@register(
    "q105_dup_ngram_spans",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, string_split_regex(lower(trim(text, ' ')), '[ \\t\\n\\x0b\\f\\r]+') AS ws FROM documents
    ),
    g AS (
      SELECT doc_id, array_to_string(ws[t.i : t.i + {SPAN_N - 1}], ' ') AS gram
      FROM w, UNNEST(range(1, len(ws) - {SPAN_N} + 2)) AS t(i)
      WHERE len(ws) >= {SPAN_N}
    )
    SELECT gram,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_occ
    FROM g
    GROUP BY gram
    HAVING COUNT(DISTINCT doc_id) >= 2
    ORDER BY n_occ DESC, n_docs DESC, gram
    LIMIT {SPAN_TOPK}
    """,
    doc=f"Cross-document duplicated {SPAN_N}-gram spans (exact-substring-dedup "
    "shape, Lee et al. 2022): positioned n-gram explode, one groupBy(gram) "
    "with map-side partial aggregation, HAVING distinct-docs >= 2, "
    "deterministic top-k. At 100 TB the groupBy key becomes the 48-bit gram "
    "hash (q81's portable hash) with the text joined back for the survivors; "
    "the plan shape — one explode + one bounded-output aggregation — is "
    "identical.",
)
def q105_dup_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    # words as a named column, grams via _ngrams_of — the captured-split
    # transform was O(words²) per doc (see _ngrams_of)
    g = (
        d.select("doc_id", _words(F.col("text")).alias("__w"))
        .filter(F.size("__w") >= SPAN_N)
        .select("doc_id", F.explode(_ngrams_of(F.col("__w"), SPAN_N)).alias("gram"))
    )
    return (
        g.groupBy("gram")
        .agg(
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.count("*").cast("bigint").alias("n_occ"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.desc("n_occ"), F.desc("n_docs"), "gram")
        .limit(SPAN_TOPK)
    )


# ---------------------------------------------------------------------------
# q117 per-document n-gram novelty (memorization / contamination estimate)
# ---------------------------------------------------------------------------

NOVELTY_N = 3


@register(
    "q117_ngram_novelty",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, string_split_regex(lower(trim(text, ' ')), '[ \\t\\n\\x0b\\f\\r]+') AS ws FROM documents
    ),
    g AS (
      SELECT DISTINCT doc_id,
             array_to_string(ws[t.i : t.i + {NOVELTY_N - 1}], ' ') AS gram
      FROM w, UNNEST(range(1, len(ws) - {NOVELTY_N} + 2)) AS t(i)
      WHERE len(ws) >= {NOVELTY_N}
    ),
    f AS (SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY gram)
    SELECT g.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
                AS DOUBLE) / count(*) AS novelty
    FROM g JOIN f USING (gram)
    GROUP BY g.doc_id
    """,
    doc=f"Per-document {NOVELTY_N}-gram novelty: the fraction of a doc's "
    "DISTINCT n-grams whose corpus-wide first occurrence (min doc_id, i.e. "
    "earliest in ingestion order) is this doc — the standard cheap estimate "
    "of how much of a document is recycled from earlier crawl content "
    "(near-zero novelty = boilerplate/mirror; used to prioritize what enters "
    "a training mix). Distinctness is map-side (array_distinct BEFORE "
    "explode, no pre-shuffle), the shuffle key is xxhash64(gram) — the full "
    "gram string never enters an Exchange. At test scale AQE broadcasts the "
    "first-occurrence table so the corpus side joins map-side with zero "
    "shuffle; past the broadcast threshold it degrades to a sort-merge join "
    "on gh that hash-partitions the probe on the SAME key as the aggregate "
    "(one reusable gram-hash exchange). Final per-doc agg is one bounded "
    "doc_id shuffle. No stage holds more than one doc's grams in memory.",
)
def q117_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    # words as a named column, grams via _ngrams_of — the captured-split
    # transform was O(words²) per doc (see _ngrams_of)
    g = (
        d.select("doc_id", _words(F.col("text")).alias("__w"))
        .filter(F.size("__w") >= NOVELTY_N)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(_ngrams_of(F.col("__w"), NOVELTY_N))
            ).alias("gram"),
        )
        .select("doc_id", F.xxhash64("gram").alias("gh"))
    )
    first = g.groupBy("gh").agg(F.min("doc_id").alias("first_doc"))
    return (
        g.join(first, "gh")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_grams"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_novel"),
        )
        .withColumn(
            "novelty", F.col("n_novel").cast("double") / F.col("n_grams")
        )
    )


# ---------------------------------------------------------------------------
# q123 cross-source duplicated-span overlap matrix (mixture diagnostics)
# ---------------------------------------------------------------------------


@register(
    "q123_source_overlap",
    oracle=f"""
    WITH w AS (
      SELECT source, string_split_regex(lower(trim(text, ' ')), '[ \\t\\n\\x0b\\f\\r]+') AS ws FROM documents
    ),
    g AS (
      SELECT DISTINCT source,
             array_to_string(ws[t.i : t.i + {SPAN_N - 1}], ' ') AS gram
      FROM w, UNNEST(range(1, len(ws) - {SPAN_N} + 2)) AS t(i)
      WHERE len(ws) >= {SPAN_N}
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(count(*) AS BIGINT) AS n_shared_grams
    FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source
    GROUP BY a.source, b.source
    """,
    doc=f"Cross-source content-overlap matrix: for every pair of source "
    f"domains, how many distinct {SPAN_N}-word spans they share — the "
    "mixture diagnostic that tells you two 'independent' sources are "
    "mirrors of each other BEFORE you assign them separate sampling "
    "weights (double-counted content silently doubles its effective "
    "epoch count). Scale shape: the corpus reduces to DISTINCT (source, "
    "gram-hash) pairs first — per-gram fan-out is bounded by |sources|, "
    "so the self-join on gram hash can't quadratically explode however "
    "many documents share a span — both join sides hash-partition on the "
    "same gram-hash key (one reusable exchange), and the final pair "
    "aggregation is |sources|^2-bounded. Only 64-bit xxhash64 gram keys "
    "shuffle, never text. The oracle joins the raw gram strings, so the "
    "comparison is collision-sensitive in principle: an xxhash64 collision "
    "between distinct grams would over-count one shared pair relative to "
    "the oracle (P ~ n_grams^2 / 2^64 — negligible at test scale, and at "
    "100 TB the overlap matrix is a diagnostic, not an exact contract).",
)
def q123_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    # words as a named column, grams via _ngrams_of — the captured-split
    # transform was O(words²) per doc (see _ngrams_of)
    g = (
        d.select("source", _words(F.col("text")).alias("__w"))
        .filter(F.size("__w") >= SPAN_N)
        .select(
            "source",
            F.explode(F.array_distinct(_ngrams_of(F.col("__w"), SPAN_N))).alias(
                "gram"
            ),
        )
        .select("source", F.xxhash64("gram").alias("gh"))
        .distinct()
    )
    a, b = g.alias("a"), g.alias("b")
    return (
        a.join(
            b,
            (F.col("a.gh") == F.col("b.gh"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count("*").cast("bigint").alias("n_shared_grams"))
    )


# ---------------------------------------------------------------------------
# q136 cross-document segment dedup WITH text rewrite (RefinedWeb / Lee et
# al. 2022 exact-substring REMOVAL — q105 flags duplicated spans, this one
# actually rewrites the corpus)
# ---------------------------------------------------------------------------

SEG_WORDS = 8  # fixed-width word segments (the chunked exact-substring unit)

# q136: the per-affected-document removal list is broadcast to the rewrite
# join only while the CORPUS document count stays under this cap — the
# removal list has at most one row per document, so the corpus count is a
# driver-side upper bound on its ROW count that costs one parquet-FOOTER
# metadata read (tables.parquet_row_count — no Spark job, no extra
# pipeline pass, no persist). Caveat the cap does NOT bound: each row
# carries that document's removed-positions array, so broadcast BYTES
# still scale with the duplicated-segment count — a boilerplate-heavy
# corpus of long documents can blow the broadcast budget while under the
# 1M-row default. The row cap removes the corpus-proportional HashedRelation
# failure mode (one row per DISTINCT doc, not per segment); for
# segment-heavy corpora lower dedup.REWRITE_BCAST_CAP toward
# driver_mem / (avg_segments_removed_per_doc * 4 bytes), or rely on the
# fallback: past the cap the rewrite is a doc_id shuffle-hash equi-join
# whose one text exchange is the same corpus-bytes cost Lee et al.'s
# rewrite pays.
REWRITE_BCAST_CAP = 1_000_000


@register(
    "q136_segment_dedup_rewrite",
    oracle=f"""
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    segs AS (
      SELECT doc_id, CAST(t.i AS INTEGER) AS pos,
             array_to_string(
               ws[CAST(t.i AS INTEGER) * {SEG_WORDS} + 1 :
                  CAST(t.i AS INTEGER) * {SEG_WORDS} + {SEG_WORDS}], ' ') AS seg
      FROM d, UNNEST(range(0, (len(ws) + {SEG_WORDS} - 1) // {SEG_WORDS}))
               AS t(i)
    ),
    hashed AS (
      SELECT doc_id, pos, {_shingle_hash48_sql('seg')} AS h FROM segs
    ),
    ranked AS (
      SELECT doc_id, pos,
             ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
      FROM hashed
    ),
    removals AS (SELECT doc_id, pos FROM ranked WHERE rn > 1),
    kept AS (
      SELECT s.doc_id, s.pos, s.seg
      FROM segs s
      WHERE NOT EXISTS (
        SELECT 1 FROM removals r
        WHERE r.doc_id = s.doc_id AND r.pos = s.pos
      )
    ),
    rebuilt AS (
      SELECT doc_id, string_agg(seg, ' ' ORDER BY pos) AS cleaned_text,
             COUNT(*) AS n_kept
      FROM kept GROUP BY doc_id
    )
    SELECT d0.doc_id,
           CAST((len(d.ws) + {SEG_WORDS} - 1) // {SEG_WORDS} AS BIGINT)
             AS n_segments,
           CAST((len(d.ws) + {SEG_WORDS} - 1) // {SEG_WORDS}
                - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed,
           COALESCE(r.cleaned_text, '') AS cleaned_text
    FROM documents d0
    JOIN d ON d.doc_id = d0.doc_id
    LEFT JOIN rebuilt r ON r.doc_id = d0.doc_id
    """,
    doc=f"Cross-document exact-substring dedup with corpus REWRITE "
    f"(RefinedWeb / Lee et al. 2022 removal semantics, chunked): each "
    f"document splits into fixed {SEG_WORDS}-word segments; a segment "
    "whose content appeared earlier in the corpus (first occurrence = "
    "lexicographic min (doc_id, pos) over the portable 48-bit md5 segment "
    "hash, q81's construction, so the WHOLE pipeline value-hash-checks "
    "against DuckDB) is REMOVED from the later document, and the "
    "surviving segments are re-joined in order — q105 measures duplicated "
    "spans, this operator actually edits the corpus the way production "
    "exact-substring dedup does. Plan shape at 100 TB: segment text never "
    "shuffles — segments hash map-side, the first-occurrence aggregation "
    "exchanges (hash, doc_id, pos) rows, the removal list aggregates to "
    "one (doc_id, sorted positions) row per AFFECTED document, and the "
    "rewrite joins it back to the documents scan by doc_id (array filter "
    "by position index, no second explode). The rewrite-join strategy is "
    "picked IN CODE from one driver-side bounded statistic (q124's "
    "pattern): the corpus document count — read from parquet FOOTER "
    "metadata only (tables.parquet_row_count, cached; no Spark job, so "
    "building the plan stays lazy — machine-asserted by "
    "test_plans.py::test_q136_build_schedules_no_job) — upper-bounds the "
    "removal list at one ROW per document; broadcast while under "
    "REWRITE_BCAST_CAP, shuffle_hash doc_id equi-join past it, whose one "
    "text exchange is the same corpus-bytes cost Lee et al.'s rewrite "
    "pays. The row cap means the driver is never asked to hold a "
    "corpus-proportional HashedRelation; it does NOT bound broadcast "
    "BYTES (each row carries its removed-positions array — see the "
    "REWRITE_BCAST_CAP note for the tuning rule on boilerplate-heavy "
    "corpora). Both shapes are plan-asserted AND value-compared "
    "(test_plans.py), and both are measured: at the x8 fixture the "
    "fallback walls 3.05 s vs 2.60 s broadcast (min-of-2, warm) — the "
    "text exchange costs ~17%, the price of never OOMing the driver.",
    bench=True,
)
def q136_segment_dedup_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    # words as a named column (see _ngrams_of): the captured-split slice
    # re-tokenized the document once per SEGMENT — O(words²/SEG_WORDS)
    ws = F.col("__ws")
    nseg = F.expr(f"(size(__ws) + {SEG_WORDS - 1}) div {SEG_WORDS}")
    seg_arr = F.transform(
        F.sequence(F.lit(0), nseg.cast("int") - 1),
        lambda i: F.array_join(
            F.slice(ws, i * SEG_WORDS + 1, SEG_WORDS), " "
        ),
    )
    segs = d.select("doc_id", F.split(F.col("text"), " ").alias("__ws")).select(
        "doc_id", F.posexplode(seg_arr).alias("pos", "seg")
    )
    hashed = segs.select(
        "doc_id", "pos", _shingle_hash48(F.col("seg")).alias("h")
    )
    # First-occurrence resolution as ONE rank over the h exchange (the
    # oracle's own formulation): every non-first segment occurrence is
    # rn > 1 under row_number ordered by (doc_id, pos) within h. The
    # round-3..12 shape — min(struct(doc_id, pos)) per h, then a
    # shuffle_hash join of the raw hashed stream back against it —
    # computed the segment explode + 48-bit hash over the whole corpus
    # TWICE (both join subtrees re-derived `hashed`; exchange reuse
    # can't unify a partial-aggregate exchange with a raw-row exchange)
    # and paid a SortAggregate pair on top. The window form explodes and
    # hashes once, exchanges the same narrow (h, doc_id, pos) rows once,
    # and sorts once. A/B at the x8 doc fixture (min-of-4, interleaved,
    # two rounds): 4.87/2.07 s -> 2.55/1.49 s; sf0.1 within noise; rows
    # bit-identical both scales. Skew profile is unchanged — a
    # mega-duplicated segment lands its h on one task under either
    # shape, and rows entering the exchange are identical.
    from pyspark.sql.window import Window

    w_first = Window.partitionBy("h").orderBy("doc_id", "pos")
    removals = (
        hashed.withColumn("rn", F.row_number().over(w_first))
        .filter(F.col("rn") > 1)
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("pos")).alias("__rm"))
    )
    kept = F.filter(seg_arr, lambda s, i: ~F.array_contains(F.col("__rm"), i))
    # Strategy pick (see REWRITE_BCAST_CAP above): the corpus doc count is
    # a metadata-cheap upper bound on |removals| rows — broadcast only
    # while the WHOLE corpus would fit, never trusting the
    # duplicated-segment rate. parquet_row_count reads footers only (no
    # Spark action), so constructing this DataFrame schedules no job.
    # The join itself still carries (doc_id, text) — the rewrite side's
    # words column materializes AFTER the join, so the fallback branch
    # shuffles exactly what it always shuffled.
    if parquet_row_count(spark, os.path.join(sf_dir, "documents.parquet")) <= REWRITE_BCAST_CAP:
        rewrite = d.join(F.broadcast(removals), "doc_id", "left")
    else:
        rewrite = d.join(removals.hint("shuffle_hash"), "doc_id", "left")
    return (
        rewrite
        .select(
            "doc_id",
            F.split(F.col("text"), " ").alias("__ws"),
            F.coalesce(F.col("__rm"), F.array().cast("array<int>")).alias("__rm"),
        )
        .select(
            "doc_id",
            nseg.cast("bigint").alias("n_segments"),
            F.size("__rm").cast("bigint").alias("n_removed"),
            F.array_join(kept, " ").alias("cleaned_text"),
        )
    )


@register(
    "q139_leakage_safe_split",
    oracle=f"""
    WITH RECURSIVE {{_COMPONENTS_CTE_SQL}},
    g AS (
      SELECT d.doc_id, d.lang,
             COALESCE(c.component, d.doc_id) AS group_id
      FROM documents d LEFT JOIN comp c USING (doc_id)
    )
    SELECT doc_id, lang, group_id,
           CAST(({{_GROUP_HASH_SQL}}) % 100 AS BIGINT) AS bucket,
           CASE WHEN ({{_GROUP_HASH_SQL}}) % 100 < 98 THEN 'train'
                WHEN ({{_GROUP_HASH_SQL}}) % 100 = 98 THEN 'val'
                ELSE 'test' END AS split
    FROM g
    """.format(
        _COMPONENTS_CTE_SQL=_COMPONENTS_CTE_SQL,
        _GROUP_HASH_SQL=_shingle_hash48_sql("CAST(group_id AS VARCHAR)"),
    ),
    doc="Leakage-safe 98/1/1 train/val/test split: q119 hash-splits single "
    "DOCUMENTS, which lets two near-duplicates straddle train and test — "
    "the classic eval-contamination path that survives document-level "
    "dedup thresholds. Here the split unit is the q87 near-dup COMPONENT: "
    "every document inherits its component's canonical label (its own "
    "doc_id when it has no near-dup), and the 48-bit portable hash of "
    "that GROUP id decides the split — so a near-dup cluster lands whole "
    "in exactly one split, by construction. Plan: q87's label propagation "
    "(bounded edges, scalar-only driver traffic) + one doc_id equi-join "
    "of the component table onto the corpus + a pure projection; the "
    "join strategy stays stats-picked — broadcast while the component "
    "table fits, SMJ from real sizes past the threshold "
    "(DEPLOYMENT_100TB §7). The doc_id < 100 component cap is q87's "
    "oracle-scale bound; production runs the same plan uncapped.",
)
def q139_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    comp = q87_neardup_components(spark, sf_dir)
    d = load(spark, sf_dir, "documents").select("doc_id", "lang")
    g = d.join(comp, "doc_id", "left").withColumn(
        "group_id", F.coalesce(F.col("component"), F.col("doc_id"))
    )
    bucket = (_shingle_hash48(F.col("group_id").cast("string")) % 100).alias(
        "bucket"
    )
    return g.select("doc_id", "lang", "group_id", bucket).withColumn(
        "split",
        F.when(F.col("bucket") < 98, "train")
        .when(F.col("bucket") == 98, "val")
        .otherwise("test"),
    )


# ---------------------------------------------------------------------------
# q140 canonical-URL dedup (the crawl-frontier dedup pass that runs BEFORE
# any content hashing: most crawl duplicates are the same page re-fetched
# under tracking params / host-case / fragment / trailing-slash noise)
# ---------------------------------------------------------------------------

# Host stops at '/', '?' AND '#': a path-less URL (https://host?id=1)
# must not swallow the query string into the host. Path is then optional
# (extract yields '' when the URL has no path segment at all).
_URL_HOST_RE = "://([^/?#]+)"
_URL_PATH_RE = "://[^/?#]+(/[^?#]*)"
_URL_ID_RE = "[?&]id=([^&#]*)"

# Synthesized noisy URL + its canonical form, shared by q140 and q143's
# URL-dedup stage (SQL fragment and Column builder kept side by side so
# the two engines — and the two queries — can never drift).
_SYNTH_URL_SQL = """'https://'
               || CASE WHEN doc_id % 2 = 0 THEN upper(source) ELSE source END
               || '.Example.COM/p/' || CAST(doc_id % 7 AS VARCHAR)
               || CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END
               || '?utm_source=u' || CAST(doc_id % 4 AS VARCHAR)
               || '&id=' || CAST(doc_id % 7 AS VARCHAR)
               || '&utm_campaign=c'
               || '#s' || CAST(doc_id % 6 AS VARCHAR)"""

_CANONICAL_URL_SQL = f"""'https://' || lower(regexp_extract(url, '{_URL_HOST_RE}', 1))
               || regexp_replace(
                    regexp_extract(url, '{_URL_PATH_RE}', 1), '/$', '')
               || '?id=' || regexp_extract(url, '{_URL_ID_RE}', 1)"""


def _synth_url() -> Column:
    return F.concat(
        F.lit("https://"),
        F.when(F.col("doc_id") % 2 == 0, F.upper(F.col("source"))).otherwise(
            F.col("source")
        ),
        F.lit(".Example.COM/p/"),
        (F.col("doc_id") % 7).cast("string"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("/")).otherwise(F.lit("")),
        F.lit("?utm_source=u"),
        (F.col("doc_id") % 4).cast("string"),
        F.lit("&id="),
        (F.col("doc_id") % 7).cast("string"),
        F.lit("&utm_campaign=c"),
        F.lit("#s"),
        (F.col("doc_id") % 6).cast("string"),
    )


def _canonical_url(url: Column, keep_params: tuple[str, ...] = ("id",)) -> Column:
    """Rebuild a canonical URL from parsed parts: lowered host (anchored to
    stop at '/', '?' and '#', so path-less URLs parse), slash-trimmed path,
    and ONLY the whitelisted query params, re-emitted in whitelist order.

    ``keep_params`` is the content-bearing whitelist: any param NOT listed
    (tracking noise) is dropped, and two fetches differing only in a
    MEANINGFUL param must have that param whitelisted or they collapse to
    one page — e.g. a paginated listing needs ("id", "page"). The default
    matches the synthesized fixture (one content param, ``id``) and the
    ``_CANONICAL_URL_SQL`` oracle fragment; a param absent from a URL
    contributes an empty value (``?page=``), keeping the form total. Param
    names are regex-escaped, so any literal name is safe."""
    import re as _re

    parts = [
        F.lit("https://"),
        F.lower(F.regexp_extract(url, _URL_HOST_RE, 1)),
        F.regexp_replace(F.regexp_extract(url, _URL_PATH_RE, 1), "/$", ""),
    ]
    for i, p in enumerate(keep_params):
        parts.append(F.lit(("?" if i == 0 else "&") + p + "="))
        parts.append(
            F.regexp_extract(url, f"[?&]{_re.escape(p)}=([^&#]*)", 1)
        )
    return F.concat(*parts)


@register(
    "q140_url_canonical_dedup",
    oracle=f"""
    WITH raw AS (
      SELECT doc_id, {_SYNTH_URL_SQL} AS url
      FROM documents
    ),
    canon AS (
      SELECT doc_id, {_CANONICAL_URL_SQL} AS canonical_url
      FROM raw
    )
    SELECT canonical_url,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS canonical_doc,
           CAST(COUNT(*) - 1 AS BIGINT) AS n_removable
    FROM canon
    GROUP BY 1
    """,
    doc="Canonical-URL deduplication — the crawl-frontier pass that "
    "collapses re-fetches of one page under URL noise (tracking params, "
    "host case, fragments, trailing slashes) BEFORE any content hash is "
    "computed. URLs are synthesized deterministically from the documents "
    "table (as in q125) with all four noise classes injected by doc_id "
    "residues, so distinct raw URLs genuinely collide after "
    "canonicalization (~N/140 docs per canonical page). Canonical form is "
    "REBUILT from parsed parts (lowered host + slash-trimmed path + the "
    "one non-tracking param) rather than patched with in-place regex "
    "surgery — same extraction both engines, exact oracle. Plan shape is "
    "q80's: a pure zero-shuffle codegen projection (JVM regex), then ONE "
    "hash exchange on the short canonical string for the keep-first "
    "aggregation; document text is never read. At 100 TB this is the "
    "cheapest dedup stage in the pipeline and the plan holds as-is.",
)
def q140_url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    canonical = _canonical_url(_synth_url())
    return (
        d.select("doc_id", canonical.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("canonical_doc"),
            (F.count(F.lit(1)) - 1).alias("n_removable"),
        )
    )
