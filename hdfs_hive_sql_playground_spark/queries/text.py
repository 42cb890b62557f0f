"""Text-analysis operators over ``documents``: language-ID heuristic,
quality scoring, token counting, and document fingerprinting.

All four are pure column-expression plans (no UDFs): tokenization is
``split``/``regexp_extract_all``, scoring is integer counts + one exact
division, fingerprints are md5-nibble arithmetic. Each is a narrow
map-side pass over the corpus plus at most one groupBy(doc_id) — the
shape that streams at 100 TB (no shuffle wider than the output).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from hdfs_hive_sql_playground_spark.queries import register
from hdfs_hive_sql_playground_spark.queries.dedup import (
    MERSENNE_P,
    _CANONICAL_URL_SQL,
    _SYNTH_URL_SQL,
    _canonical_url,
    _ngrams_of,
    _shingle_hash48,
    _shingle_hash48_sql,
    _synth_url,
    _token_hash32,
    _words,
    content_norm,
)
from hdfs_hive_sql_playground_spark.tables import load

# Tiny per-language function-word lexicons (the standard n-gram/stopword
# LID heuristic, shrunk to a deterministic demo lexicon).
LEXICON: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to"),
    "de": ("der", "die", "das", "und", "ein"),
    "fr": ("le", "la", "des", "et", "un"),
    "es": ("el", "los", "de", "y", "una"),
}

STOPWORDS = LEXICON["en"]


def _lex_values_sql() -> str:
    rows = ", ".join(
        f"('{lang}', '{w}')" for lang, ws in sorted(LEXICON.items()) for w in ws
    )
    return f"(VALUES {rows}) AS lex(lang, word)"


def _lid_best(words: Column) -> Column:
    """Map-side lexicon-vote argmax: ``struct(n, lang)`` of the language
    with the most lexicon-word hits in ``words`` (hits counted with
    multiplicity), ties to the lexicographically FIRST language; ``n = 0``
    (lang ``''``) when no lexicon word occurs.

    Exactly the explode → broadcast-lexicon equi-join → count →
    ``row_number() OVER (PARTITION BY doc_id ORDER BY n_hits DESC, lang)``
    pipeline, evaluated as one projection: per-lang hit counts are
    ``size(filter(words, w -> w IN lexicon[lang]))`` (same string-equality
    semantics as the join; the lexicon is a 20-word constant, so the IN
    compiles to a hash-set probe just like the join's build side), and the
    fold keeps the earlier (sorted-asc) language on strict-greater only —
    the window's ``n_hits DESC, lang ASC`` tie-break. A NULL ``words``
    (NULL text) yields NULL per-lang counts, the fold keeps the (0, '')
    seed, and the caller's ``n > 0`` test maps it to 'und' — identical to
    the join form, where explode(NULL) emits no token row at all."""
    cands = F.array(
        *[
            F.struct(
                F.size(
                    F.filter(words, lambda w: w.isin(*LEXICON[lang]))
                ).alias("n"),
                F.lit(lang).alias("lang"),
            )
            for lang in sorted(LEXICON)
        ]
    )
    return F.aggregate(
        cands,
        F.struct(F.lit(0).alias("n"), F.lit("").alias("lang")),
        lambda acc, x: F.when(x["n"] > acc["n"], x).otherwise(acc),
    )


# ---------------------------------------------------------------------------
# Two-pass bucketed prefix machinery
#
# A running sum / row_number over ``PARTITION BY <stratum>`` is the classic
# 100 TB scale-killer when the stratum key is low-cardinality (languages,
# source domains: tens of values): one executor ends up sorting an entire
# language.  The scale-safe shape is the textbook parallel prefix scan,
# done as TWO bounded passes:
#
#   1. bucket each row by an order-preserving split of the ORDER BY key
#      (doc_id ranges, or an md5-prefix for hash-order sampling), window
#      over the COMPOSITE key (stratum, bucket) — every partition is
#      bounded by the bucket width, never by the stratum's share of the
#      corpus;
#   2. aggregate one total per (stratum, bucket) — this table is bounded
#      by (#strata x #buckets) rows of three longs, NOT by the corpus —
#      prefix-sum it with a window over the tiny table, and join the
#      per-bucket offsets back on (stratum, bucket).
#
# local + offset is bit-identical to the single-window result (integer
# arithmetic, same total order), so the DuckDB oracles are unchanged.
#
# Plan notes: the per-bucket totals aggregate GROUPs BY the same composite
# key the window partitioned on, so it reuses that partitioning with no
# new exchange; the only bare-stratum exchange left in the plan carries
# the bounded totals table.  The offsets join back is key-equi on the
# composite key — the corpus side is already partitioned on it.
# ---------------------------------------------------------------------------

# doc_id-range bucket width for running sums.  Rows carried into these
# windows are narrow (key + stratum + one int64), so 1 Mi rows per bucket
# is ~30-40 MB per partition at 100 TB; the totals table is corpus_rows /
# width entries per stratum.  The skew bench and the multi-bucket tests
# patch text.CUMSUM_BUCKET_WIDTH to exercise many buckets at small SF.
CUMSUM_BUCKET_WIDTH = 1 << 20

# Hex-prefix length for hash-order (md5) bucketing: 4 chars = 65 536
# buckets, so even a 40%-of-corpus language splits into partitions of
# stratum_rows / 65 536 narrow rows.
MD5_BUCKET_PREFIX = 4


def _with_bucket_offsets(
    df: DataFrame,
    local: DataFrame,
    stratum: str,
    bucket: Column,
    total: Column,
    alias: str,
) -> DataFrame:
    """Second pass of the bucketed prefix scan: ``local`` (``df`` with
    ``__bucket`` and its within-bucket window value ``__local``) joined on
    (stratum, bucket) to the sum of ``total`` over the stratum's earlier
    buckets, giving ``alias = __off + __local``.

    The totals aggregate the INPUT ``df``, not the window output: this
    plan branch then costs one re-scan plus a map-side partial aggregation
    whose shuffle carries <= (#strata x #buckets) rows — never a second
    full corpus exchange (window branches don't qualify for runtime
    exchange reuse when column pruning differs)."""
    from pyspark.sql.window import Window

    totals = (
        df.withColumn("__bucket", bucket)
        .groupBy(stratum, "__bucket")
        .agg(total.alias("__tot"))
    )
    off_w = (
        Window.partitionBy(stratum)
        .orderBy("__bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        stratum,
        "__bucket",
        F.coalesce(F.sum("__tot").over(off_w), F.lit(0).cast("bigint")).alias("__off"),
    )
    return (
        local.join(offsets, [stratum, "__bucket"])
        .withColumn(alias, (F.col("__off") + F.col("__local")).cast("bigint"))
        .drop("__bucket", "__local", "__off")
    )


def _bucketed_running_sum(
    df: DataFrame,
    stratum: str,
    order_col: str,
    value: str,
    alias: str,
) -> DataFrame:
    """Exact running sum of ``value`` over ``PARTITION BY stratum ORDER BY
    order_col ROWS UNBOUNDED PRECEDING`` computed as a two-pass bucketed
    prefix scan (see module comment).  ``order_col`` must be a unique
    non-negative integer key (doc_id)."""
    from pyspark.sql.window import Window

    bucket = F.expr(f"{order_col} div {CUMSUM_BUCKET_WIDTH}")
    local_w = (
        Window.partitionBy(stratum, "__bucket")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = df.withColumn("__bucket", bucket).withColumn(
        "__local", F.sum(value).over(local_w)
    )
    return _with_bucket_offsets(df, local, stratum, bucket, F.sum(value), alias)


def _bucketed_rank(
    df: DataFrame,
    stratum: str,
    bucket_col,
    order_cols,
    alias: str,
    keep_at_most: int | None = None,
) -> DataFrame:
    """Shared core of the two-pass bucketed ``ROW_NUMBER() OVER (PARTITION
    BY stratum ORDER BY ...)``: ``bucket_col`` must be an order-preserving
    prefix of the ``order_cols`` sort, so global rank = rows-in-earlier-
    buckets + local rank.  With ``keep_at_most=N`` the per-row side is
    pre-filtered to the per-bucket top-N before the offsets join (global
    rank <= N implies local rank <= N), so the join output is bounded by
    N x #buckets per stratum instead of the corpus."""
    from pyspark.sql.window import Window

    local_w = Window.partitionBy(stratum, "__bucket").orderBy(*order_cols)
    local = df.withColumn("__bucket", bucket_col).withColumn(
        "__local", F.row_number().over(local_w)
    )
    if keep_at_most is not None:
        local = local.filter(F.col("__local") <= keep_at_most)
    return _with_bucket_offsets(
        df, local, stratum, bucket_col, F.count(F.lit(1)), alias
    )


def _bucketed_hash_order_rank(
    df: DataFrame,
    stratum: str,
    key: str,
    alias: str,
    keep_at_most: int | None = None,
) -> DataFrame:
    """Rank by ``ORDER BY md5(key), key`` via md5-prefix bucketing (the
    hex prefix is order-preserving for the full hash string)."""
    md5 = F.md5(F.col(key).cast("string"))
    return _bucketed_rank(
        df,
        stratum,
        F.substring(md5, 1, MD5_BUCKET_PREFIX),
        [md5, F.col(key)],
        alias,
        keep_at_most,
    )


@register(
    "q90_language_id",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, UNNEST(string_split_regex(lower(trim(text, ' ')), '[ \\t\\n\\x0b\\f\\r]+')) AS tok
      FROM documents
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_tokens FROM toks GROUP BY doc_id),
    hits AS (
      SELECT t.doc_id, lex.lang, COUNT(*) AS n_hits
      FROM toks t JOIN {_lex_values_sql()} ON t.tok = lex.word
      GROUP BY 1, 2
    ),
    best AS (
      SELECT doc_id, lang, n_hits FROM (
        SELECT doc_id, lang, n_hits,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY n_hits DESC, lang) AS rn
        FROM hits
      ) WHERE rn = 1
    )
    SELECT s.doc_id,
           COALESCE(b.lang, 'und') AS pred_lang,
           CAST(COALESCE(b.n_hits, 0) AS BIGINT) AS n_hits,
           ROUND(COALESCE(b.n_hits, 0) * 1.0 / s.n_tokens, 6) AS hit_ratio
    FROM sizes s LEFT JOIN best b ON s.doc_id = b.doc_id
    """,
    doc="Language ID via function-word lexicon voting (n-gram-heuristic LID): "
    "token explode, broadcast lexicon join, argmax per doc. 'und' when no "
    "lexicon word occurs.",
)
def q90_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    # One pure projection, zero exchanges (round 13): the 20-word constant
    # lexicon never needed a distributed join — the explode → broadcast
    # join → per-(doc,lang) count exchange → argmax-window exchange →
    # doc_id left-join pipeline IS the per-row expression
    # _lid_best(words), and n_tokens is the array size the scan row
    # already knows (split() always returns >= 1 element, so
    # count-over-explode == size(_words) for every document). Equivalence
    # argued per-clause on _lid_best; value-verified bit-identical vs the
    # join form at sf0.1 and oracle-green over the hostile corpus gate.
    # Tokenize ONCE into a named column: _lid_best references its input
    # array four times (once per language) and n_tokens a fifth, and the
    # aggregate HOF is CodegenFallback — no common-subexpression
    # elimination — so inlining the split would re-tokenize every row
    # five times. CollapseProject keeps the two projections separate
    # because the alias is non-cheap and multiply-referenced.
    words = F.col("__ws")
    best = _lid_best(words)
    return d.select(
        "doc_id", _words(F.col("text")).alias("__ws")
    ).select(
        "doc_id",
        F.size(words).cast("long").alias("n_tokens"),
        best.alias("_best"),
    ).select(
        "doc_id",
        F.when(F.col("_best.n") > 0, F.col("_best.lang"))
        .otherwise("und")
        .alias("pred_lang"),
        F.col("_best.n").cast("bigint").alias("n_hits"),
        F.round(F.col("_best.n") / F.col("n_tokens"), 6).alias("hit_ratio"),
    )


@register(
    "q91_quality_score",
    oracle=f"""
    WITH base AS (
      SELECT
        doc_id,
        lower(trim(text, ' ')) AS t,
        len(string_split(lower(trim(text, ' ')), ' ')) AS n_tokens,
        length(lower(trim(text, ' '))) AS n_chars,
        length(regexp_replace(lower(trim(text, ' ')), '[a-z0-9 ]', '', 'g')) AS n_punct,
        len(list_filter(string_split(lower(trim(text, ' ')), ' '),
                        w -> list_contains({list(STOPWORDS)!r}, w))) AS n_stop
      FROM documents
    )
    SELECT
      doc_id,
      CAST(n_tokens AS BIGINT) AS n_tokens,
      ROUND((n_chars - n_punct) * 1.0 / n_chars, 6) AS alnum_ratio,
      ROUND(n_stop * 1.0 / n_tokens, 6) AS stopword_ratio,
      ROUND(n_chars * 1.0 / n_tokens, 6) AS mean_token_span,
      CAST(CASE WHEN n_tokens BETWEEN 20 AND 1000
                 AND n_stop * 1.0 / n_tokens >= 0.01 THEN 1 ELSE 0 END AS INTEGER) AS keep_flag
    FROM base
    """,
    doc="Document quality scoring: length, punctuation ratio, stopword ratio, "
    "mean token span, and a boolean keep gate — the classic pre-training "
    "corpus filter, as exact integer ratios.",
    bench=True,
)
def q91_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    # Signals stage through named columns (round 13): the stopword-filter
    # HOF keeps this projection on the interpreted path (CodegenFallback,
    # no common-subexpression elimination), so the one-projection form
    # re-derived lower+trim+split per REFERENCE — n_tokens alone is
    # referenced five times below. Values are reference-identical: same
    # expressions, staged once each.
    n_tokens = F.col("__ntok")
    n_chars = F.col("__nchars")
    n_punct = F.col("__npunct")
    n_stop = F.col("__nstop")
    stop_ratio = n_stop / n_tokens
    staged = (
        d.select("doc_id", F.lower(F.trim(F.col("text"))).alias("__t"))
        .select("doc_id", "__t", F.split(F.col("__t"), " ").alias("__toks"))
        .select(
            "doc_id",
            F.size("__toks").alias("__ntok"),
            F.length("__t").alias("__nchars"),
            F.length(F.regexp_replace(F.col("__t"), "[a-z0-9 ]", "")).alias(
                "__npunct"
            ),
            F.size(
                F.filter(F.col("__toks"), lambda w: w.isin(list(STOPWORDS)))
            ).alias("__nstop"),
        )
    )
    return staged.select(
        "doc_id",
        n_tokens.cast("bigint").alias("n_tokens"),
        # try_divide, not /: an EMPTY document has n_chars = 0, and under
        # ANSI mode a plain divide kills the whole 100 TB job on one such
        # row; NULL matches the oracle's divide-by-zero result (found by
        # tests/test_adversarial_corpus.py). n_tokens is never 0 (split of
        # '' is ['']), so the other ratios keep the plain divide.
        F.round(F.try_divide(n_chars - n_punct, n_chars), 6).alias("alnum_ratio"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(n_chars / n_tokens, 6).alias("mean_token_span"),
        F.when((n_tokens >= 20) & (n_tokens <= 1000) & (stop_ratio >= 0.01), 1)
        .otherwise(0)
        .cast("int")
        .alias("keep_flag"),
    )


@register(
    "q92_token_count",
    oracle=r"""
    SELECT
      doc_id,
      CAST(len(string_split_regex(trim(text, ' '), '[ \t\n\x0b\f\r]+')) AS BIGINT) AS ws_tokens,
      CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \t\n\x0b\f\r]')) AS BIGINT) AS bpe_ish_tokens,
      CAST(length(text) AS BIGINT) AS n_chars
    FROM documents
    """,
    doc="Token counting: whitespace tokens and a BPE-ish regex token count "
    "(letter runs / digit runs / single punctuation) — the cost estimator "
    "for training-token budgets.",
)
def q92_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("bigint").alias("ws_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"), 0))
        .cast("bigint")
        .alias("bpe_ish_tokens"),
        F.length("text").cast("bigint").alias("n_chars"),
    )


@register(
    "q93_fingerprint",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, string_split_regex(lower(trim(text, ' ')), '[ \\t\\n\\x0b\\f\\r]+') AS w FROM documents
    )
    SELECT
      doc_id,
      md5(array_to_string(w, ' ')) AS content_md5,
      CAST(list_sum(list_transform(range(1, len(w) + 1),
            i -> (i * (({' + '.join(
                f"(strpos('0123456789abcdef', substr(md5(w[i]), {k + 1}, 1)) - 1) * {16 ** (7 - k)}"
                for k in range(8))}) % {MERSENNE_P})) % {MERSENNE_P}))
           % {MERSENNE_P} AS BIGINT) AS positional_fp
    FROM words
    """,
    doc="Document fingerprinting: content md5 + an order-sensitive positional "
    "hash (sum of position-weighted token hashes mod 2^31-1) — catches "
    "reordered-content near-dups that set-based Jaccard misses.",
)
def q93_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    words = _words(F.col("text"))
    toks = d.select("doc_id", words.alias("w"), F.posexplode(words).alias("pos", "tok"))
    term = F.pmod(
        (F.col("pos") + 1) * F.pmod(_token_hash32(F.col("tok")), F.lit(MERSENNE_P)),
        F.lit(MERSENNE_P),
    )
    fp = toks.groupBy("doc_id").agg(
        F.pmod(F.sum(term), F.lit(MERSENNE_P)).cast("bigint").alias("positional_fp")
    )
    md = d.select("doc_id", F.md5(F.concat_ws(" ", words)).alias("content_md5"))
    return md.join(fp, "doc_id").select("doc_id", "content_md5", "positional_fp")


# ---------------------------------------------------------------------------
# q88 TF-IDF top terms (exact integer scoring)
# ---------------------------------------------------------------------------


@register(
    "q88_tfidf_top_terms",
    oracle="""
    WITH toks AS (
      SELECT doc_id, UNNEST(string_split_regex(lower(trim(text, ' ')), '[ \\t\\n\\x0b\\f\\r]+')) AS word
      FROM documents WHERE doc_id < 200
    ),
    tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
    dfreq AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY 1),
    nd AS (SELECT COUNT(DISTINCT doc_id) AS n FROM toks)
    SELECT doc_id, word, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
           CAST(rnk AS BIGINT) AS rnk
    FROM (
      SELECT t.doc_id, t.word, t.tf, d.df,
             ROW_NUMBER() OVER (
               PARTITION BY t.doc_id
               ORDER BY (t.tf * nd.n * 1000) // d.df DESC, t.word
             ) AS rnk
      FROM tf t JOIN dfreq d USING (word) CROSS JOIN nd
    )
    WHERE rnk <= 5
    """,
    doc="TF-IDF top-5 terms per document, scored in exact integer arithmetic "
    "(tf·N·1000 div df) so ranking is engine-independent — no float idf "
    "logs. Shape: token explode → (doc,word) agg → word-keyed df agg "
    "(broadcast back) → per-doc top-k window. At 100 TB the df relation is "
    "vocabulary-sized (small) and broadcastable; the only big shuffle is "
    "the (doc_id, word) aggregation.",
)
def q88_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    toks = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", F.explode(_words(F.col("text"))).alias("word"))
    )
    tf = toks.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    # N as a broadcast one-row relation keeps the whole operator lazy (no
    # driver-side action while building the plan). Counted on the
    # UN-exploded scan (round 13): split() always returns >= 1 element,
    # so every filtered doc contributes >= 1 token row and
    # countDistinct(doc_id) over the token stream equals the same count
    # over the scan — the third full token explode this branch paid was
    # pure waste.
    nd = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .agg(F.countDistinct("doc_id").alias("n"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.expr("(tf * n * 1000) DIV df").desc(), F.col("word")
    )
    return (
        tf.join(F.broadcast(dfreq), "word")
        .crossJoin(F.broadcast(nd))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("doc_id", "word", "tf", "df", F.col("rnk").cast("long").alias("rnk"))
    )


# ---------------------------------------------------------------------------
# q94 stratified quota sampling (training-mix rebalancing)
# ---------------------------------------------------------------------------

QUOTA_PER_LANG = 25


@register(
    "q94_stratified_quota",
    oracle=f"""
    SELECT lang, doc_id, CAST(rn AS BIGINT) AS rn
    FROM (
      SELECT lang, doc_id,
             ROW_NUMBER() OVER (
               PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS rn
      FROM documents
    )
    WHERE rn <= {QUOTA_PER_LANG}
    """,
    doc="Stratified quota sampling: at most N documents per language, chosen "
    "by hash order (md5 of the key) so the 'random' subset is deterministic, "
    "resumable, and identical on every engine/run — how a training-mix "
    "rebalance (N docs per language/source) is done reproducibly at 100 TB. "
    "The rank is a two-pass bucketed prefix scan over (lang, md5-prefix "
    "bucket) — never a bare-stratum window, so a language holding 40% of "
    "the corpus still splits into 65 536 bounded partitions — with a "
    "per-bucket top-N pre-filter so the offsets join is quota-bounded.",
)
def q94_stratified_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    ranked = _bucketed_hash_order_rank(
        d.select("lang", "doc_id"), "lang", "doc_id", "rn",
        keep_at_most=QUOTA_PER_LANG,
    )
    return ranked.filter(F.col("rn") <= QUOTA_PER_LANG).select(
        "lang", "doc_id", "rn"
    )


# ---------------------------------------------------------------------------
# q99 end-to-end curation pipeline (quality gate → exact dedup → LID → quota)
# ---------------------------------------------------------------------------

CURATION_QUOTA = 15


@register(
    "q99_curation_pipeline",
    bench=True,
    oracle=f"""
    WITH base AS (
      SELECT doc_id, lower(trim(text, ' ')) AS t FROM documents
    ),
    quality AS (
      SELECT doc_id, t FROM (
        SELECT doc_id, t,
               len(string_split(t, ' ')) AS n_tokens,
               len(list_filter(string_split(t, ' '),
                               w -> list_contains({list(STOPWORDS)!r}, w))) AS n_stop
        FROM base
      )
      WHERE n_tokens BETWEEN 20 AND 1000 AND n_stop * 1.0 / n_tokens >= 0.01
    ),
    canon AS (
      SELECT doc_id FROM (
        SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY md5(t) ORDER BY doc_id) AS rn
        FROM quality
      )
      WHERE rn = 1
    ),
    toks AS (
      SELECT doc_id, UNNEST(string_split_regex(lower(trim(text, ' ')), '[ \\t\\n\\x0b\\f\\r]+')) AS tok
      FROM documents
    ),
    hits AS (
      SELECT t.doc_id, lex.lang, COUNT(*) AS n_hits
      FROM toks t JOIN {_lex_values_sql()} ON t.tok = lex.word
      GROUP BY 1, 2
    ),
    best AS (
      SELECT doc_id, lang FROM (
        SELECT doc_id, lang,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY n_hits DESC, lang) AS rn
        FROM hits
      ) WHERE rn = 1
    ),
    langed AS (
      SELECT c.doc_id, COALESCE(b.lang, 'und') AS pred_lang
      FROM canon c LEFT JOIN best b ON c.doc_id = b.doc_id
    )
    SELECT pred_lang, doc_id, CAST(rn AS BIGINT) AS rn
    FROM (
      SELECT pred_lang, doc_id,
             ROW_NUMBER() OVER (
               PARTITION BY pred_lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS rn
      FROM langed
    )
    WHERE rn <= {CURATION_QUOTA}
    """,
    doc="The full training-data curation pipeline as ONE composed DataFrame "
    "plan: quality gate (q91's keep rule) → exact dedup keep-canonical "
    "(q80's min-doc_id rule) → language ID (q90's lexicon argmax) → "
    "deterministic per-language quota (q94's hash-order sampling). Each "
    "stage reuses the proven operator's exact semantics, so the composite "
    "is oracle-checked end to end. Shape at 100 TB: five key-narrow "
    "exchanges (content-hash window, per-doc token agg, per-doc argmax "
    "window, doc_id equi-join, stratum window) — every shuffle carries "
    "keys and small payloads, never widened rows; the lexicon join is a "
    "broadcast; the quota stage's two consumers share the upstream work "
    "through runtime exchange reuse (a persist was A/B-measured slower — "
    "see the in-function comment). Round-9 per-stage attribution at "
    "sf0.1 (cumulative noop-write walls of each stage prefix, min-of-5, "
    "quiet fresh JVM, final stage asserted row-identical to this "
    "function): quality gate 0.13 s; +content-hash dedup window "
    "0.21 s; the independent LID branch (token explode + broadcast "
    "lexicon join + per-doc argmax) 0.67 s; +canon-best join 0.69 s; "
    "full pipeline with quota rank 0.87 s. The token-explode LID branch "
    "is the cost center (as it should be — it reads every token once). "
    "The bench headline runs in a FRESH child JVM (the registry group "
    "of bench.LEG_GROUPS). Headline-vs-profile reconciliation, MEASURED "
    "(same plan, one fresh JVM, 12 sequential draws): the wall is a function "
    "of JIT tiering depth alone — draws 3-5, the depth the bench "
    "child's min-of-3-after-2-full-warms samples, min 1.45 s; draws "
    "8-12 plateau 1.21 s; the stage profile's final row (depth ~21-25 "
    "because the prefix stages re-execute its shared subplans, plus "
    "inter-draw System.gc) 0.87 s. The profile's absolute seconds are "
    "therefore comparable only WITHIN the profile (relative shares); "
    "the headline's ~1.2-1.6 s band is the depth-3-5 sample of the "
    "same plan, not unattributed overhead.",
)
def q99_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = load(spark, sf_dir, "documents")
    # Gate signals stage through named columns (round 13, same
    # interpreted-projection-no-CSE reason as q91): the filter referenced
    # n_tokens three times and n_stop once, each re-deriving
    # lower+trim+split from text per reference.
    n_tokens = F.size(F.col("__toks"))
    n_stop = F.size(
        F.filter(F.col("__toks"), lambda w: w.isin(list(STOPWORDS)))
    )
    quality = (
        d.select("doc_id", F.lower(F.trim(F.col("text"))).alias("t"))
        .select("doc_id", "t", F.split(F.col("t"), " ").alias("__toks"))
        .select(
            "doc_id", "t", n_tokens.alias("__ntok"), n_stop.alias("__nstop")
        )
        .filter(
            (F.col("__ntok") >= 20)
            & (F.col("__ntok") <= 1000)
            & (F.col("__nstop") / F.col("__ntok") >= 0.01)
        )
        .select("doc_id", "t")
    )
    # LID as a map-side expression on the quality rows (round 13): the
    # explode → broadcast-lexicon join → (doc,lang) count exchange →
    # argmax-window exchange branch — plus the doc_id left-join that
    # attached it to canon — is _lid_best(split(t)), one projection.
    # Computed BEFORE the dedup-window exchange so the exchange still
    # carries only (doc_id, md5, pred_lang) — never the document text —
    # and only for QUALITY survivors (the old branch scored every
    # document, then the join dropped all non-canon rows anyway; a doc's
    # pred_lang is a pure function of t, so where it is computed cannot
    # change its value). split(t, '\\s+') == _words(text) exactly:
    # _words is split(lower(trim(text))) and t IS lower(trim(text)).
    # tokenized ONCE into a named column (same CodegenFallback-CSE reason
    # as q90 — _lid_best references its input array once per language)
    best = _lid_best(F.col("__ws"))
    langed = (
        quality.select(
            "doc_id", F.md5(F.col("t")).alias("_h"), F.split(F.col("t"), r"\s+").alias("__ws")
        )
        .select(
            "doc_id",
            "_h",
            F.when(best["n"] > 0, best["lang"]).otherwise("und").alias("pred_lang"),
        )
        .withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("_h").orderBy("doc_id")),
        )
        .filter(F.col("rn") == 1)
        .select("doc_id", "pred_lang")
    )
    # The quota stage consumes its input twice (per-row ranks + per-bucket
    # counts), and here that input is the entire upstream pipeline — but
    # do NOT persist it: at runtime ReusedExchange already collapses the
    # duplicated upstream (both branches shuffle on the same keys), so a
    # MEMORY_AND_DISK cache of the narrow (doc_id, pred_lang) projection
    # only adds columnar encode/decode on top (measured at sf0.1: ~1.10 s
    # uncached vs ~1.48 s cached, 3-run A/B). The round-6 directive to
    # try the persist was executed and rejected on measurement.
    ranked = _bucketed_hash_order_rank(
        langed, "pred_lang", "doc_id", "rn", keep_at_most=CURATION_QUOTA
    )
    return ranked.filter(F.col("rn") <= CURATION_QUOTA).select(
        "pred_lang", "doc_id", "rn"
    )


# ---------------------------------------------------------------------------
# q100 corpus bigram statistics (top-k n-grams)
# ---------------------------------------------------------------------------

TOPK_BIGRAMS = 50


@register(
    "q100_bigram_topk",
    oracle=f"""
    WITH words AS (
      SELECT string_split_regex(lower(trim(text, ' ')), '[ \\t\\n\\x0b\\f\\r]+') AS w FROM documents
    ),
    bi AS (
      SELECT UNNEST(list_transform(range(1, len(w)),
                                   i -> w[i] || ' ' || w[i+1])) AS bigram
      FROM words WHERE len(w) >= 2
    )
    SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n
    FROM bi GROUP BY bigram
    ORDER BY n DESC, bigram
    LIMIT {TOPK_BIGRAMS}
    """,
    doc="Corpus-level bigram frequency top-k (vocabulary/collocation stats "
    "for tokenizer training and contamination checks). Non-distinct bigram "
    "explode → map-side partial count → single shuffle on the bigram key → "
    "TakeOrdered top-k (no global sort materialized); ties broken by the "
    "bigram string so the k-boundary is engine-deterministic.",
)
def q100_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    # words as a named column, bigrams via _ngrams_of — the captured-split
    # transform was O(words²) per doc (see _ngrams_of in dedup.py)
    return (
        d.select(_words(F.col("text")).alias("__w"))
        .select(F.explode(_ngrams_of(F.col("__w"), 2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(TOPK_BIGRAMS)
    )


@register(
    "q106_repetition_signals",
    oracle="""
    WITH w AS (
      SELECT doc_id, string_split_regex(lower(trim(text, ' ')), '[ \\t\\n\\x0b\\f\\r]+') AS ws FROM documents
    ),
    g AS (
      SELECT doc_id, ws,
             list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i + 1]) AS bg,
             list_transform(range(1, len(ws) - 1),
                            i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2]) AS tg
      FROM w
    )
    SELECT doc_id,
           CAST(len(ws) AS BIGINT) AS n_words,
           ROUND((len(ws) - len(list_distinct(ws))) * 1.0 / len(ws), 6) AS dup_word_frac,
           ROUND(CASE WHEN len(bg) = 0 THEN 0.0
                 ELSE (len(bg) - len(list_distinct(bg))) * 1.0 / len(bg) END, 6)
             AS dup_bigram_frac,
           ROUND(CASE WHEN len(tg) = 0 THEN 0.0
                 ELSE (len(tg) - len(list_distinct(tg))) * 1.0 / len(tg) END, 6)
             AS dup_trigram_frac,
           CASE WHEN ROUND((len(ws) - len(list_distinct(ws))) * 1.0 / len(ws), 6) <= 0.9
                 AND ROUND(CASE WHEN len(bg) = 0 THEN 0.0
                      ELSE (len(bg) - len(list_distinct(bg))) * 1.0 / len(bg) END, 6) <= 0.75
                THEN 1 ELSE 0 END AS keep_flag
    FROM g
    """,
    doc="Gopher-style repetition quality signals (Rae et al. 2021 §A1.1: "
    "duplicate n-gram fractions as low-quality indicators): per-document "
    "duplicate word / bigram / trigram fractions and a keep flag. Computed "
    "ENTIRELY as array expressions inside the projection — zero shuffles, "
    "zero explodes, zero UDFs; the 100 TB plan is a pure map-side pass.",
)
def q106_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    # Words AND each gram array materialize as named columns (round 13):
    # the captured-split transform was O(words²) per doc (see _ngrams_of
    # in dedup.py — its `when` guard also covers the descending-sequence
    # ANSI crash this function's old inline builder guarded against), and
    # dup_frac references its array 3x, so a named column evaluates each
    # gram build once per row instead of 3x.
    w = F.col("__w")

    def dup_frac(arr):
        total = F.size(arr)
        return F.when(total == 0, F.lit(0.0)).otherwise(
            F.round((total - F.size(F.array_distinct(arr))) / total, 6)
        )

    dup_w = dup_frac(w)
    dup_b = dup_frac(F.col("__bg"))
    return (
        d.select("doc_id", _words(F.col("text")).alias("__w"))
        .select(
            "doc_id",
            "__w",
            _ngrams_of(w, 2).alias("__bg"),
            _ngrams_of(w, 3).alias("__tg"),
        )
        .select(
            "doc_id",
            F.size(w).cast("bigint").alias("n_words"),
            dup_w.alias("dup_word_frac"),
            dup_b.alias("dup_bigram_frac"),
            dup_frac(F.col("__tg")).alias("dup_trigram_frac"),
            F.when((dup_w <= 0.9) & (dup_b <= 0.75), F.lit(1))
            .otherwise(F.lit(0))
            .alias("keep_flag"),
        )
    )


# Token budget per packed training sequence (greedy sequential packing).
PACK_BUDGET = 256


@register(
    "q112_sequence_packing",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang,
             CAST(len(string_split_regex(lower(trim(text, ' ')), '[ \\t\\n\\x0b\\f\\r]+')) AS BIGINT) AS n_tok
      FROM documents
    )
    SELECT doc_id, lang, n_tok,
           CAST(floor((SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                                        ROWS UNBOUNDED PRECEDING) - n_tok)
                      / {PACK_BUDGET}) AS BIGINT) AS pack_id
    FROM t
    """,
    doc="Sequence packing for training batches: greedy running-token-sum "
    f"assignment of documents to ≤{PACK_BUDGET}-token packs, sharded by "
    "language. The running sum is a two-pass bucketed prefix scan over "
    "(lang, doc_id-range bucket): every window partition is bounded by "
    "the bucket width regardless of how skewed the language mix is, and "
    "local-sum + broadcast bucket offsets is bit-identical to the single "
    "window. Deterministic doc_id order makes the pack assignment exactly "
    "reproducible; all arithmetic is int64.",
)
def q112_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    n_tok = F.size(_words(F.col("text"))).cast("bigint")
    t = d.select("doc_id", "lang", n_tok.alias("n_tok"))
    cum = _bucketed_running_sum(t, "lang", "doc_id", "n_tok", "cum_tok")
    return cum.select(
        "doc_id",
        "lang",
        "n_tok",
        F.floor((F.col("cum_tok") - F.col("n_tok")) / PACK_BUDGET)
        .cast("bigint")
        .alias("pack_id"),
    )


@register(
    "q113_collapse_repeats",
    oracle="""
    WITH w AS (
      SELECT doc_id, string_split_regex(lower(trim(text, ' ')), '[ \\t\\n\\x0b\\f\\r]+') AS ws FROM documents
    ),
    kept AS (
      SELECT doc_id, ws,
             list_filter(
               list_transform(range(1, len(ws) + 1),
                              i -> CASE WHEN i = 1 OR ws[i] <> ws[i - 1]
                                   THEN ws[i] END),
               x -> x IS NOT NULL) AS kw
      FROM w
    )
    SELECT doc_id,
           array_to_string(kw, ' ') AS cleaned_text,
           CAST(len(ws) - len(kw) AS BIGINT) AS n_removed
    FROM kept
    """,
    doc="Repetition REMOVAL (not just flagging): collapse consecutive "
    "duplicate words and emit the cleaned text plus the removed count — "
    "the cheap stutter-cleanup pass crawl pipelines run before token "
    "counting. Pure array expressions in one projection: zero shuffles, "
    "zero UDFs, text never leaves the map side.",
)
def q113_collapse_repeats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    # words AND the kept array materialize as named columns (round 13):
    # the transform lambda indexes the words array 3x per element, and a
    # captured split EXPRESSION re-tokenizes per element under the
    # interpreted HOF path (O(words²) — see _ngrams_of in dedup.py);
    # `kept` is itself referenced twice by the final projection.
    w = F.col("__w")
    idx = F.sequence(F.lit(1), F.size(w))
    kept = F.filter(
        F.transform(
            idx,
            # guard: index the predecessor with greatest(i-1, 1) so the
            # i=1 disjunct never risks an ANSI element_at(_, 0) error if
            # the OR doesn't short-circuit in codegen
            lambda i: F.when(
                (i == 1)
                | (
                    F.element_at(w, i)
                    != F.element_at(w, F.greatest(i - 1, F.lit(1)))
                ),
                F.element_at(w, i),
            ),
        ),
        lambda x: x.isNotNull(),
    )
    return (
        d.select("doc_id", _words(F.col("text")).alias("__w"))
        .select("doc_id", "__w", kept.alias("__kept"))
        .select(
            "doc_id",
            F.array_join("__kept", " ").alias("cleaned_text"),
            (F.size(w) - F.size("__kept")).cast("bigint").alias("n_removed"),
        )
    )


# PII redaction (the C4/RefinedWeb-style scrub pass that runs before any
# text ships to training): emails, NANP-style phone numbers, and IPv4
# addresses replaced with typed placeholders. Patterns are deliberately
# RE2-compatible (no backrefs/lookarounds) so Spark's Java regex and the
# DuckDB oracle's RE2 produce byte-identical output.
PII_EMAIL = r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\b\d{3}[-. ]\d{3}[-. ]\d{4}\b"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


@register(
    "q114_pii_redact",
    oracle=f"""
    WITH salted AS (
      SELECT doc_id,
             text || ' contact u' || CAST(doc_id AS VARCHAR)
                  || '@example.com tel 555-123-4567 host 10.0.0.'
                  || CAST(doc_id % 250 AS VARCHAR) AS t
      FROM documents
    )
    SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(t, '{PII_EMAIL}', '<EMAIL>', 'g'),
               '{PII_PHONE}', '<PHONE>', 'g'),
             '{PII_IPV4}', '<IP>', 'g') AS redacted,
           CAST(len(regexp_extract_all(t, '{PII_EMAIL}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(t, '{PII_IPV4}')) AS BIGINT) AS n_ips
    FROM salted
    """,
    doc="PII redaction: emails / phone numbers / IPv4 replaced with typed "
    "placeholders, plus per-doc hit counts. Deterministic synthetic PII is "
    "appended per doc_id so the redaction paths are exercised on every row "
    "and cross-engine hash equality proves byte-identical rewrites. Pure "
    "zero-shuffle projection (regexp_replace chain in one map-side pass) — "
    "the 100 TB scrub is embarrassingly parallel and the redacted text "
    "never enters an exchange.",
)
def q114_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    t = F.concat(
        F.col("text"),
        F.lit(" contact u"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com tel 555-123-4567 host 10.0.0."),
        (F.col("doc_id") % 250).cast("string"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, PII_EMAIL, "<EMAIL>"), PII_PHONE, "<PHONE>"
        ),
        PII_IPV4,
        "<IP>",
    )
    return d.select(
        "doc_id",
        redacted.alias("redacted"),
        F.size(F.regexp_extract_all(t, F.lit(PII_EMAIL), 0)).cast("bigint").alias("n_emails"),
        F.size(F.regexp_extract_all(t, F.lit(PII_IPV4), 0)).cast("bigint").alias("n_ips"),
    )


# Domain mixing (the data-mixing stage of a training pipeline, cf. the
# temperature-weighted sampling of GPT-3 / DoReMi): per-source token masses
# are re-weighted with temperature alpha=0.5 — weight_s = sqrt(tokens_s) —
# flattening the natural distribution so small domains are over-sampled,
# then each source keeps its docs (in deterministic doc_id order) until its
# token quota is spent. ALL arithmetic is integer-exact across engines:
# isqrt via floor(sqrt(double)) (sqrt is correctly rounded IEEE in both),
# quotas via bigint multiply/divide, cutoffs via bigint running sums — no
# float accumulation anywhere, so the oracle hash is exact.
MIX_TOKEN_BUDGET = 20_000


@register(
    "q115_domain_mix_sample",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, source,
             CAST(len(string_split_regex(lower(trim(text, ' ')), '[ \\t\\n\\x0b\\f\\r]+')) AS BIGINT) AS n_tok
      FROM documents
    ),
    w AS (
      SELECT source,
             CAST(floor(sqrt(CAST(SUM(n_tok) AS DOUBLE))) AS BIGINT) AS wt
      FROM tok GROUP BY source
    ),
    q AS (
      SELECT source,
             CAST(({MIX_TOKEN_BUDGET} * wt) // (SELECT SUM(wt) FROM w) AS BIGINT)
               AS quota_tok
      FROM w
    )
    SELECT t.doc_id, t.source, t.n_tok, q.quota_tok,
           CAST(CASE WHEN SUM(t.n_tok) OVER (PARTITION BY t.source
                                             ORDER BY t.doc_id
                                             ROWS UNBOUNDED PRECEDING)
                          <= q.quota_tok
                THEN 1 ELSE 0 END AS INTEGER) AS kept
    FROM tok t JOIN q ON t.source = q.source
    """,
    doc="Temperature-weighted domain mixing (alpha=0.5): per-source token "
    "masses re-weighted by integer sqrt, token quotas assigned by exact "
    "bigint arithmetic, and each source keeps docs in deterministic doc_id "
    "order until its quota is spent. Plan: one tiny per-source aggregate "
    "broadcast back onto the corpus, and the running token sum is a "
    "two-pass bucketed prefix scan over (source, doc_id-range bucket) — "
    "a domain holding half the corpus still windows in bounded partitions. "
    "Completes the pipeline family: quality -> dedup -> LID -> pack -> MIX.",
)
def q115_domain_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        "source",
        F.size(_words(F.col("text"))).cast("bigint").alias("n_tok"),
    )
    w = tok.groupBy("source").agg(
        F.floor(F.sqrt(F.sum("n_tok").cast("double"))).cast("bigint").alias("wt")
    )
    total = w.agg(F.sum("wt").alias("wt_total"))
    quotas = F.broadcast(
        w.crossJoin(F.broadcast(total)).select(
            "source",
            # integer `div`, NOT `/`: float-divide-then-cast truncates on
            # Spark but rounds on DuckDB — off-by-one quotas cross-engine
            F.expr(f"({MIX_TOKEN_BUDGET}L * wt) div wt_total").alias("quota_tok"),
        )
    )
    cum = _bucketed_running_sum(tok, "source", "doc_id", "n_tok", "cum_tok")
    return cum.join(quotas, "source").select(
        "doc_id",
        "source",
        "n_tok",
        "quota_tok",
        F.when(F.col("cum_tok") <= F.col("quota_tok"), 1)
        .otherwise(0)
        .cast("int")
        .alias("kept"),
    )




# ---------------------------------------------------------------------------
# q118 per-source length-window trimming (histogram-CDF exact percentiles)
# ---------------------------------------------------------------------------


@register(
    "q118_length_trim",
    oracle="""
    WITH tok AS (
      SELECT doc_id, source,
             CAST(len(string_split_regex(lower(trim(text, ' ')), '[ \\t\\n\\x0b\\f\\r]+')) AS BIGINT) AS n_tok
      FROM documents
    ),
    hist AS (
      SELECT source, n_tok, CAST(count(*) AS BIGINT) AS cnt
      FROM tok GROUP BY source, n_tok
    ),
    cum AS (
      SELECT source, n_tok,
             CAST(sum(cnt) OVER (PARTITION BY source ORDER BY n_tok)
                  AS BIGINT) AS c,
             CAST(sum(cnt) OVER (PARTITION BY source) AS BIGINT) AS n
      FROM hist
    ),
    th AS (
      SELECT source,
             min(CASE WHEN c >= (n + 19) // 20 THEN n_tok END) AS lo,
             min(CASE WHEN c >= (19 * n + 19) // 20 THEN n_tok END) AS hi
      FROM cum GROUP BY source
    )
    SELECT t.doc_id, t.source, t.n_tok, th.lo, th.hi,
           CAST(CASE WHEN t.n_tok BETWEEN th.lo AND th.hi
                THEN 1 ELSE 0 END AS INT) AS kept
    FROM tok t JOIN th USING (source)
    """,
    doc="Per-source length-window trimming: drop documents outside the "
    "[p5, p95] token-length band of their source — the standard "
    "too-short/too-long curation filter, with EXACT rank-based percentiles "
    "(threshold = smallest length whose cumulative count reaches "
    "ceil(n/20) / ceil(19n/20); pure integer arithmetic, so the oracle is "
    "bit-identical — no interpolated-quantile float drift). Scale design: "
    "the corpus is reduced FIRST to a (source, n_tok) histogram — one "
    "shuffle whose output is bounded by |sources| x |distinct lengths|, "
    "thousands of rows however big the corpus — and the CDF windows run on "
    "that tiny aggregated table only (the same bounded-table-window pattern "
    "as _bucketed_running_sum's offset stage; never a window over corpus "
    "rows). Thresholds broadcast back; the corpus itself sees one "
    "broadcast-join pass, no window, no sort.",
)
def q118_length_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        "source",
        F.size(_words(F.col("text"))).cast("bigint").alias("n_tok"),
    )
    hist = tok.groupBy("source", "n_tok").agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    cum = hist.withColumn(
        "c",
        F.sum("cnt").over(
            Window.partitionBy("source")
            .orderBy("n_tok")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    ).withColumn(
        "n",
        F.sum("cnt").over(Window.partitionBy("source")),
    )
    th = cum.groupBy("source").agg(
        F.min(
            F.when(F.col("c") >= F.expr("(n + 19) div 20"), F.col("n_tok"))
        ).alias("lo"),
        F.min(
            F.when(F.col("c") >= F.expr("(19 * n + 19) div 20"), F.col("n_tok"))
        ).alias("hi"),
    )
    return tok.join(F.broadcast(th), "source").select(
        "doc_id",
        "source",
        "n_tok",
        "lo",
        "hi",
        F.when(F.col("n_tok").between(F.col("lo"), F.col("hi")), 1)
        .otherwise(0)
        .cast("int")
        .alias("kept"),
    )


# ---------------------------------------------------------------------------
# q119 deterministic train/val/test split assignment
# ---------------------------------------------------------------------------


def _q119_oracle() -> str:
    from hdfs_hive_sql_playground_spark.queries.dedup import _shingle_hash48_sql

    h = _shingle_hash48_sql("CAST(doc_id AS VARCHAR)")
    return f"""
    WITH b AS (
      SELECT doc_id, lang, CAST(({h}) % 100 AS BIGINT) AS bucket
      FROM documents
    )
    SELECT doc_id, lang, bucket,
           CASE WHEN bucket < 98 THEN 'train'
                WHEN bucket = 98 THEN 'val'
                ELSE 'test' END AS split
    FROM b
    """


@register(
    "q119_hash_split",
    oracle=_q119_oracle(),
    doc="Deterministic 98/1/1 train/val/test split assignment: bucket = "
    "portable-md5-48bit(doc_id) mod 100, so membership is a pure projection "
    "— stable under reruns, re-partitioning, and incremental ingest (a doc "
    "keeps its split forever; no sampling state, no RNG seed to version). "
    "Zero shuffles: the split column is computed map-side and any "
    "downstream per-split materialization is a partitioned write, not a "
    "repartition. The md5-nibble construction (q81's portable hash) exists "
    "for oracle parity; production swaps xxhash64 with the same one-"
    "projection plan.",
)
def q119_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_hive_sql_playground_spark.queries.dedup import _shingle_hash48

    d = load(spark, sf_dir, "documents")
    bucket = (_shingle_hash48(F.col("doc_id").cast("string")) % 100).alias(
        "bucket"
    )
    return d.select("doc_id", "lang", bucket).withColumn(
        "split",
        F.when(F.col("bucket") < 98, "train")
        .when(F.col("bucket") == 98, "val")
        .otherwise("test"),
    )


# ---------------------------------------------------------------------------
# q120 global priority-ordered token-budget selection
# ---------------------------------------------------------------------------

SELECT_TOKEN_BUDGET = 10_000


@register(
    "q120_budget_select",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             CAST(len(string_split(lower(trim(text, ' ')), ' ')) AS BIGINT) AS n_tok,
             CAST((len(list_filter(string_split(lower(trim(text, ' ')), ' '),
                                   w -> list_contains({list(STOPWORDS)!r}, w)))
                   * 10000)
                  // len(string_split(lower(trim(text, ' ')), ' ')) AS BIGINT) AS q_e4
      FROM documents
    ),
    c AS (
      SELECT doc_id, q_e4, n_tok,
             CAST(SUM(n_tok) OVER (ORDER BY q_e4 DESC, doc_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS BIGINT) AS cum_tok
      FROM t
    )
    SELECT doc_id, q_e4, n_tok, cum_tok,
           CAST(CASE WHEN cum_tok <= {SELECT_TOKEN_BUDGET}
                THEN 1 ELSE 0 END AS INT) AS kept
    FROM c
    """,
    doc="Global priority-ordered budget selection: keep the highest-quality "
    "documents (integer e4 stopword-ratio score, q91's prose signal) until "
    "a corpus-wide token budget is exhausted — the final cut every "
    "training-mix build makes. The naive plan is a GLOBAL ORDER BY with a "
    "running sum (one executor sorts the corpus); this one never sorts "
    "globally: the score q_e4 is an integer in [0, 10000], so it IS the "
    "coarse bucket — the within-score running sum reuses the bucketed "
    "two-pass prefix scan (_bucketed_running_sum, skew-safe even if one "
    "score value holds half the corpus), the cross-score offsets come from "
    "a <= 10001-row per-score totals table windowed in one tiny partition, "
    "and global cum_tok = broadcast score offset + within-score cumsum — "
    "bit-identical to the single ORDER BY window the oracle runs.",
)
def q120_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = load(spark, sf_dir, "documents")
    t_ = F.lower(F.trim(F.col("text")))
    toks = F.split(t_, " ")
    n_tok = F.size(toks).cast("bigint")
    n_stop = F.size(F.filter(toks, lambda w: w.isin(list(STOPWORDS))))
    # integer `div`, not float-divide-then-cast: same rationale as q115's
    # quota arithmetic (truncate vs round drift cross-engine)
    t = d.select(
        "doc_id",
        n_tok.alias("n_tok"),
        n_stop.cast("bigint").alias("n_stop"),
    ).selectExpr("doc_id", "n_tok", "(n_stop * 10000L) div n_tok AS q_e4")
    cum_in = _bucketed_running_sum(t, "q_e4", "doc_id", "n_tok", "cum_in")
    tot = t.groupBy("q_e4").agg(F.sum("n_tok").cast("bigint").alias("tot"))
    w_off = Window.orderBy(F.desc("q_e4")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    offs = tot.select(
        "q_e4",
        F.coalesce(F.sum("tot").over(w_off), F.lit(0))
        .cast("bigint")
        .alias("off"),
    )
    return cum_in.join(F.broadcast(offs), "q_e4").select(
        "doc_id",
        "q_e4",
        "n_tok",
        (F.col("off") + F.col("cum_in")).cast("bigint").alias("cum_tok"),
        F.when(
            (F.col("off") + F.col("cum_in")) <= SELECT_TOKEN_BUDGET, 1
        )
        .otherwise(0)
        .cast("int")
        .alias("kept"),
    )


# ---------------------------------------------------------------------------
# q121 per-pack statistics (padding-waste measurement for sequence packing)
# ---------------------------------------------------------------------------


def _q121_oracle() -> str:
    from hdfs_hive_sql_playground_spark.queries import REGISTRY

    return f"""
    WITH pack AS ({REGISTRY["q112_sequence_packing"].oracle})
    SELECT lang, pack_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS pack_tokens,
           CAST({PACK_BUDGET} - sum(n_tok) AS BIGINT) AS slack_tokens
    FROM pack GROUP BY lang, pack_id
    """


@register(
    "q121_pack_stats",
    oracle=_q121_oracle(),
    doc=f"Per-pack statistics over q112's greedy packing: documents per "
    f"pack, token fill, and slack against the {PACK_BUDGET}-token budget "
    "(negative slack marks boundary-crossing docs) — the padding-waste "
    "report every packed-batch pipeline watches, since slack tokens are "
    "paid-for-but-untrained compute. Pure composition: q112's bucketed "
    "prefix-scan plan plus ONE (lang, pack_id) aggregation; pack_id is "
    "derived from the same composite-key windows, so the skew-safety "
    "story is inherited unchanged.",
)
def q121_pack_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = q112_sequence_packing(spark, sf_dir)
    return p.groupBy("lang", "pack_id").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("pack_tokens"),
        (F.lit(PACK_BUDGET) - F.sum("n_tok")).cast("bigint").alias("slack_tokens"),
    )


# ---------------------------------------------------------------------------
# q122 unigram corpus-frequency scoring (count-based perplexity-filter proxy)
# ---------------------------------------------------------------------------


@register(
    "q122_unigram_surprisal",
    oracle="""
    WITH tok AS (
      SELECT doc_id, u.w AS token
      FROM (SELECT doc_id, string_split(lower(trim(text, ' ')), ' ') AS ws
            FROM documents), UNNEST(ws) AS u(w)
    ),
    cnt AS (SELECT token, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY token)
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_tok,
           CAST(sum(c) AS BIGINT) AS freq_mass,
           CAST(sum(c) // count(*) AS BIGINT) AS mean_freq
    FROM tok t JOIN cnt USING (token)
    GROUP BY t.doc_id
    """,
    doc="Unigram corpus-frequency scoring: each document's mean corpus "
    "frequency over its tokens — the integer-exact proxy for the n-gram-LM "
    "perplexity filter (KenLM-style) curation pipelines run; documents "
    "with very LOW mean frequency are gibberish/rare-token noise, very "
    "HIGH are boilerplate. Two shuffles, both on single tokens (never "
    "documents): the vocabulary count aggregates on token, and the "
    "token-count join probe hash-partitions on the SAME key — Catalyst "
    "reuses the exchange (or broadcasts the vocab when it fits); the "
    "per-doc rollup is one bounded doc_id aggregation. Token keys are "
    "Zipfian — the probe partition holding 'the' is the hot spot — which "
    "is exactly what AQE's skew-join split handles (session pins "
    "spark.sql.adaptive.skewJoin.enabled, session.py:54: the oversized "
    "probe partition splits, the one-row build side replicates); the "
    "degenerate-free alternative at extreme scale is q104's sketch: "
    "broadcast the top-K counts and shuffle-join only the long tail. All "
    "arithmetic int64 (`div`), bit-identical cross-engine.",
)
def q122_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), " ")).alias("token"),
    )
    cnt = tok.groupBy("token").agg(F.count("*").cast("bigint").alias("c"))
    return (
        tok.join(cnt, "token")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tok"),
            F.sum("c").cast("bigint").alias("freq_mass"),
            F.expr("sum(c) div count(*)").cast("bigint").alias("mean_freq"),
        )
    )


TOPK_BPE_PAIRS = 60


@register(
    "q130_bpe_pair_counts",
    oracle=f"""
    WITH words AS (
      SELECT UNNEST(string_split_regex(lower(trim(text, ' ')), '[ \\t\\n\\x0b\\f\\r]+')) AS w FROM documents
    ),
    pairs AS (
      SELECT UNNEST(list_transform(range(1, length(w)), i -> substr(w, i, 2))) AS pair
      FROM words WHERE length(w) >= 2
    )
    SELECT pair, CAST(COUNT(*) AS BIGINT) AS n
    FROM pairs GROUP BY pair
    ORDER BY n DESC, pair
    LIMIT {TOPK_BPE_PAIRS}
    """,
    doc="BPE tokenizer training, first merge iteration: corpus-frequency "
    "counts of adjacent character pairs within words (Sennrich et al. 2016)"
    " — the top pair IS the first merge rule, and iterating this query "
    "with a symbol-remap between rounds is exactly the BPE training loop. "
    "Complements q100 (word-level bigrams): this one is sub-word. Scale "
    "shape: per-word pair explode is map-side; the only exchange "
    "aggregates 2-char keys (bounded alphabet^2 cardinality, so the final "
    "agg is tiny no matter the corpus size); top-k via TakeOrdered with a "
    "pair tie-break, never a global sort. At 100 TB the pair-count table "
    "fits in one executor by construction.",
)
def q130_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    w = d.select(F.explode(_words(F.col("text"))).alias("w"))
    pairs = w.filter(F.length("w") >= 2).select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(TOPK_BPE_PAIRS)
    )


@register(
    "q132_gopher_rules",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, lang,
             string_split(lower(trim(text, ' ')), ' ') AS ws,
             length(lower(trim(text, ' '))) AS n_chars
      FROM documents
    ),
    r AS (
      SELECT doc_id, lang,
             len(ws) AS n_words,
             CASE WHEN len(ws) BETWEEN 10 AND 100000 THEN TRUE ELSE FALSE END
               AS ok_word_count,
             CASE WHEN (n_chars - len(ws) + 1) * 10 BETWEEN 30 * len(ws)
                                                       AND 100 * len(ws)
                  THEN TRUE ELSE FALSE END AS ok_mean_word_len,
             CASE WHEN len(list_filter(ws, x -> regexp_matches(x, '[a-z]')))
                       * 10 >= 8 * len(ws)
                  THEN TRUE ELSE FALSE END AS ok_alpha_words,
             CASE WHEN len(list_filter({list(STOPWORDS)!r}::VARCHAR[],
                                       s -> list_contains(ws, s))) >= 2
                  THEN TRUE ELSE FALSE END AS ok_stopwords
      FROM w
    )
    SELECT doc_id, lang, CAST(n_words AS BIGINT) AS n_words,
           ok_word_count, ok_mean_word_len, ok_alpha_words, ok_stopwords,
           (ok_word_count AND ok_mean_word_len AND ok_alpha_words
            AND ok_stopwords) AS keep
    FROM r
    """,
    doc="Gopher quality rules (Rae et al. 2021, §A1.1), the named rule "
    "bundle most curation stacks start from — per-rule diagnostic booleans "
    "plus the conjunctive keep gate: word count in [10, 1e5] (lower bound "
    "adapted to the synthetic corpus' doc lengths), mean word length in "
    "[3, 10] (computed integer-exact: total-word-chars*10 vs 30n..100n, no "
    "float division anywhere), >=80% of words contain an alphabetic "
    "character, and >=2 distinct required stopwords present. The "
    "line-level Gopher rules (bullet/ellipsis line fractions) are omitted "
    "honestly: the synthetic corpus is single-line, so they would be "
    "vacuously true and untested. Zero-shuffle pure projection; at 100 TB "
    "this runs entirely map-side in one scan, the cheapest filter stage "
    "in any pipeline.",
)
def q132_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    t = F.lower(F.trim(F.col("text")))
    ws = F.split(t, " ")
    n_words = F.size(ws)
    n_chars = F.length(t)
    # total characters across words = n_chars - (n_words - 1) separators
    word_chars = n_chars - n_words + 1
    n_alpha_words = F.size(F.filter(ws, lambda x: x.rlike("[a-z]")))
    n_stop_present = F.size(
        F.filter(
            F.array(*[F.lit(s) for s in STOPWORDS]),
            lambda s: F.array_contains(ws, s),
        )
    )
    ok_wc = (n_words >= 10) & (n_words <= 100000)
    ok_mwl = (word_chars * 10 >= 30 * n_words) & (word_chars * 10 <= 100 * n_words)
    ok_alpha = n_alpha_words * 10 >= 8 * n_words
    ok_stop = n_stop_present >= 2
    return d.select(
        "doc_id",
        "lang",
        n_words.cast("bigint").alias("n_words"),
        ok_wc.alias("ok_word_count"),
        ok_mwl.alias("ok_mean_word_len"),
        ok_alpha.alias("ok_alpha_words"),
        ok_stop.alias("ok_stopwords"),
        (ok_wc & ok_mwl & ok_alpha & ok_stop).alias("keep"),
    )


# q138: weighted sample size per stratum, and the bucket width (in key
# space) for the bucketed rank over the 48-bit sample key. 2^36 splits
# the [0, 2^48) key range into 4096 order-preserving buckets, so even a
# stratum holding half the corpus ranks in partitions of stratum_rows /
# 4096 narrow rows (same contract as MD5_BUCKET_PREFIX above).
WSAMPLE_K = 20
WSAMPLE_KEY_BUCKET_WIDTH = 1 << 36
_WSAMPLE_HASH_SQL = _shingle_hash48_sql(
    "CAST(doc_id AS VARCHAR) || ':' || CAST(r AS VARCHAR)"
)


def _bucketed_key_order_rank(
    df: DataFrame,
    stratum: str,
    key: str,
    tiebreak: str,
    alias: str,
    keep_at_most: int | None = None,
) -> DataFrame:
    """Rank by ``ORDER BY key, tiebreak`` for a uniform non-negative
    integer ``key``, bucketing on ``key div WSAMPLE_KEY_BUCKET_WIDTH`` —
    the integer-key sibling of :func:`_bucketed_hash_order_rank` (which
    buckets on an md5 prefix and therefore re-hashes; here the key is
    ALREADY hash-uniform, and the oracle orders by the key itself)."""
    return _bucketed_rank(
        df,
        stratum,
        F.expr(f"{key} div {WSAMPLE_KEY_BUCKET_WIDTH}"),
        [F.col(key), F.col(tiebreak)],
        alias,
        keep_at_most,
    )


@register(
    "q138_weighted_sample",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, lang,
             CAST(1 + least(n_chars // 100, 7) AS BIGINT) AS wt
      FROM documents
    ),
    keyed AS (
      SELECT doc_id, lang, wt,
             list_aggregate(
               list_transform(range(1, wt + 1), r -> {_WSAMPLE_HASH_SQL}),
               'min') AS skey
      FROM d
    )
    SELECT doc_id, lang, wt, skey, CAST(rn AS BIGINT) AS rnk FROM (
      SELECT doc_id, lang, wt, skey,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY skey, doc_id) AS rn
      FROM keyed
    ) WHERE rn <= {WSAMPLE_K}
    """,
    doc="Weighted sampling WITHOUT replacement, k docs per language, "
    "P(i in sample) increasing in weight — the data-mixing primitive for "
    "up-sampling high-quality strata. Exponential-race (Efraimidis-"
    "Spirakis) selection with ZERO floating point: item i's race key is "
    "min of wt_i iid uniforms, realized as the MIN of wt_i portable "
    "48-bit hashes of (doc_id, replica) — min-of-w uniforms orders "
    "identically to Exp(w) clocks (P(i beats j) = w_i/(w_i+w_j)), so "
    "ordering BIGINTs replaces the u^(1/w) transcendental that no two "
    "libms evaluate bit-identically. Per-row cost is a bounded (<= 8) "
    "array fold, no explode; the per-stratum top-k is a two-pass bucketed "
    "prefix scan over (lang, key-range bucket) with per-bucket top-k "
    "pre-filtering, so no single-language window partition ever holds a "
    "stratum (the q94/q112/q115 scale rule).",
    bench=True,
)
def q138_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        (1 + F.least(F.expr("n_chars div 100"), F.lit(7))).cast("bigint").alias("wt"),
    )
    def replica_hash(r):
        # per-replica portable 48-bit hash — the SAME helper the oracle
        # fragment derives its width from, so the nibble count can never
        # drift between the Spark keys and the SQL keys
        return _shingle_hash48(
            F.concat(F.col("doc_id").cast("string"), F.lit(":"), r.cast("string"))
        )
    keyed = d.withColumn(
        "skey",
        F.array_min(F.transform(F.sequence(F.lit(1), F.col("wt")), replica_hash)),
    )
    ranked = _bucketed_key_order_rank(
        keyed, "lang", "skey", "doc_id", "rnk", keep_at_most=WSAMPLE_K
    )
    return ranked.filter(F.col("rnk") <= WSAMPLE_K).select(
        "doc_id", "lang", "wt", "skey", "rnk"
    )


# ---------------------------------------------------------------------------
# q141 DSIR-style target-affinity selection (hashed unigram importance)
# ---------------------------------------------------------------------------

DSIR_BUCKETS = 4096  # hashed feature space (DSIR hashes n-grams the same way)
DSIR_TARGET_LANG = "en"  # the target domain: English docs stand in for it


@register(
    "q141_target_affinity_select",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang,
             ({_shingle_hash48_sql('u.w')}) % {DSIR_BUCKETS} AS bucket
      FROM (SELECT doc_id, lang, string_split(lower(trim(text, ' ')), ' ') AS ws
            FROM documents), UNNEST(ws) AS u(w)
    ),
    bcnt AS (
      SELECT bucket,
             CAST(count(*) AS BIGINT) AS c,
             CAST(sum(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1 ELSE 0 END)
                  AS BIGINT) AS t
      FROM tok GROUP BY bucket
    ),
    tot AS (
      SELECT CAST(SUM(c) AS HUGEINT) AS nc, CAST(SUM(t) AS HUGEINT) AS nt
      FROM bcnt
    ),
    doc AS (
      SELECT tok.doc_id,
             CAST(count(*) AS BIGINT) AS n_tok,
             CAST(sum(b.t) AS BIGINT) AS t_mass,
             CAST(sum(b.c) AS BIGINT) AS c_mass
      FROM tok JOIN bcnt b USING (bucket)
      GROUP BY tok.doc_id
    )
    SELECT doc_id, n_tok, t_mass, c_mass,
           CAST(CASE WHEN CAST(t_mass AS HUGEINT) * nc
                          > CAST(c_mass AS HUGEINT) * nt
                THEN 1 ELSE 0 END AS INTEGER) AS selected
    FROM doc, tot
    """,
    doc="Importance-based data selection in the DSIR family (Xie et al. "
    "2023, 'Data Selection for Language Models via Importance "
    f"Resampling'): tokens hash into {DSIR_BUCKETS} feature buckets, a "
    "target-domain distribution (here: the '"
    + DSIR_TARGET_LANG
    + "' documents) and the full-corpus distribution are estimated over "
    "those buckets, and each document is scored by how much more typical "
    "of the target its token mass is than of the corpus. This variant is "
    "INTEGER-EXACT for the cross-engine hash gate: per-doc target mass "
    "t_mass = SUM(bucket target counts) and corpus mass c_mass likewise, "
    "selected = t_mass/n_target > c_mass/n_corpus compared by exact "
    "cross-multiplication (DECIMAL(38,0) on Spark, HUGEINT in DuckDB — no "
    "int64 wrap at any corpus size); the paper's float log-ratio "
    "estimator is a one-expression swap on each side. Scale shape: the "
    f"bucket table is BOUNDED BY DESIGN (<= {DSIR_BUCKETS} rows) so it "
    "and the 1-row totals broadcast explicitly (DEPLOYMENT_100TB §7); "
    "the token stream never shuffles for the lookup — exchanges are the "
    "bounded bucket agg and ONE per-doc rollup. Zipfian bucket skew "
    "affects only the tiny bucket agg, which partial-aggregates "
    "map-side.",
    bench=True,
)
def q141_target_affinity_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        "lang",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), " ")).alias("w"),
    ).select(
        "doc_id",
        "lang",
        F.pmod(_shingle_hash48(F.col("w")), F.lit(DSIR_BUCKETS)).alias("bucket"),
    )
    from hdfs_hive_sql_playground_spark.caching import track_persist

    # BOUNDED persist (<= DSIR_BUCKETS rows, round 13): bcnt has three
    # consumers — the broadcast lookup, and the nc/nt totals — and Spark's
    # exchange reuse cannot unify them because column pruning gives each
    # consumer a differently-projected aggregation subtree, so the plan
    # re-derived the ENTIRE token stream (explode + hash + bucket agg)
    # once per consumer: 3 full token passes where 2 are fundamental
    # (guide §2.4 — the bucket distribution must exist before per-doc
    # scoring can use it). Persisting the 4096-row bucket table caps it
    # at 2 passes at ANY corpus size; measured at sf0.1: 1.42/1.43 ->
    # 1.31/1.37 s (min-of-4, interleaved A/B), values bit-identical.
    bcnt = track_persist(
        tok.groupBy("bucket").agg(
            F.count(F.lit(1)).alias("c"),
            F.sum(
                F.when(F.col("lang") == DSIR_TARGET_LANG, 1).otherwise(0)
            ).alias("t"),
        )
    )
    tot = bcnt.agg(
        F.sum("c").cast("decimal(38,0)").alias("nc"),
        F.sum("t").cast("decimal(38,0)").alias("nt"),
    )
    doc = (
        tok.join(F.broadcast(bcnt), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tok"),
            F.sum("t").cast("bigint").alias("t_mass"),
            F.sum("c").cast("bigint").alias("c_mass"),
        )
    )
    # decimal(19,0) x decimal(38,0) -> decimal(38,0): exact while the
    # product fits 38 digits (~1e25 at 100 TB, far inside the bound).
    # Past 38 digits Spark's decimal multiply raises
    # NUMERIC_VALUE_OUT_OF_RANGE (engine sessions run with ANSI on, the
    # Spark 4.1 default), so the query fails loudly instead of answering
    # — while DuckDB's HUGEINT stays exact to ~1.7e38. The failure window
    # is theoretical at 13 orders of magnitude beyond the design point,
    # but if the bound ever tightens, compare via the overflow-safe cross
    # ratio (t_mass/c_mass vs nt/nc in two decimal divisions) instead of
    # widening the product.
    return doc.crossJoin(F.broadcast(tot)).select(
        "doc_id",
        "n_tok",
        "t_mass",
        "c_mass",
        F.when(
            F.col("t_mass").cast("decimal(19,0)") * F.col("nc")
            > F.col("c_mass").cast("decimal(19,0)") * F.col("nt"),
            1,
        )
        .otherwise(0)
        .cast("int")
        .alias("selected"),
    )


# ---------------------------------------------------------------------------
# q142 HTML boilerplate stripping (the extraction stage before any text op)
# ---------------------------------------------------------------------------

# Synthesized page markup + the visible-text extraction, shared by q142 and
# q143's extract stage (SQL fragment and Column builder side by side so the
# two engines — and the two queries — can never drift).
_SYNTH_HTML_SQL = """'<html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
               || '</title><style>p{margin:0}</style></head><body>'
               || '<nav><a href="/home">Home</a><a href="/about">About</a>'
               || CASE WHEN doc_id % 2 = 0
                       THEN '<a href="/more">More</a>' ELSE '' END
               || '</nav><p>' || text || '</p>'
               || CASE WHEN doc_id % 3 = 0
                       THEN '<script>var trk=1;</script>' ELSE '' END
               || '<footer><a href="/terms">Terms</a></footer></body></html>'"""

_VISIBLE_SQL = """trim(regexp_replace(regexp_replace(regexp_replace(
                    regexp_replace(html,
                      '<script[^>]*>(?s:.*?)</script>', '', 'g'),
                      '<style[^>]*>(?s:.*?)</style>', '', 'g'),
                      '<[^>]*>', ' ', 'g'),
                      ' +', ' ', 'g'), ' ')"""


def _synth_html() -> Column:
    return F.concat(
        F.lit("<html><head><title>Doc "),
        F.col("doc_id").cast("string"),
        F.lit("</title><style>p{margin:0}</style></head><body>"),
        F.lit('<nav><a href="/home">Home</a><a href="/about">About</a>'),
        F.when(F.col("doc_id") % 2 == 0, F.lit('<a href="/more">More</a>')).otherwise(
            F.lit("")
        ),
        F.lit("</nav><p>"),
        F.col("text"),
        F.lit("</p>"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("<script>var trk=1;</script>")).otherwise(
            F.lit("")
        ),
        F.lit('<footer><a href="/terms">Terms</a></footer></body></html>'),
    )


def _visible_text(html: Column) -> Column:
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(
                    F.regexp_replace(html, "<script[^>]*>(?s:.*?)</script>", ""),
                    "<style[^>]*>(?s:.*?)</style>",
                    "",
                ),
                "<[^>]*>",
                " ",
            ),
            " +",
            " ",
        )
    )


@register(
    "q142_html_boilerplate_strip",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, {_SYNTH_HTML_SQL} AS html
      FROM documents
    ),
    v AS (
      SELECT doc_id, html, {_VISIBLE_SQL} AS visible
      FROM h
    )
    SELECT doc_id,
           CAST(length(html) AS BIGINT) AS raw_chars,
           CAST(length(visible) AS BIGINT) AS visible_chars,
           CAST((length(html) - length(replace(html, '<a href', '')))
                // length('<a href') AS BIGINT) AS n_links,
           CAST(len(string_split(visible, ' ')) AS BIGINT) AS n_words,
           CAST((length(html) - length(visible)) * 10000 // length(html)
                AS BIGINT) AS markup_ratio_e4
    FROM v
    """,
    doc="HTML boilerplate stripping — the extraction stage (trafilatura / "
    "jusText family) that runs BEFORE every other text operator in a "
    "crawl pipeline: drop script/style blocks, strip tags to visible "
    "text, and emit the quality signals extraction produces (anchor "
    "count, visible-vs-raw char ratio as integer basis points, visible "
    "word count). Markup is synthesized deterministically around the "
    "documents text (title/nav/script/footer injected by doc_id "
    "residues — the q125/q140 fixture pattern), so the oracle is exact "
    "by construction; all outputs are integers (`div`), bit-identical "
    "cross-engine. Scale shape: a single zero-shuffle codegen projection "
    "— JVM regex per row, no exchange anywhere, embarrassingly parallel "
    "at any corpus size; the real-pipeline swap-in replaces the "
    "synthesized column with a raw-HTML scan and keeps the identical "
    "plan.",
)
def q142_html_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    h = d.select("doc_id", _synth_html().alias("html"))
    v = h.select("doc_id", "html", _visible_text(F.col("html")).alias("visible"))
    return v.select(
        "doc_id",
        F.length("html").cast("bigint").alias("raw_chars"),
        F.length("visible").cast("bigint").alias("visible_chars"),
        # 7 == length('<a href'); the oracle spells it as length('<a href')
        F.expr(
            "(length(html) - length(replace(html, '<a href', ''))) div 7"
        )
        .cast("bigint")
        .alias("n_links"),
        F.size(F.split(F.col("visible"), " ")).cast("bigint").alias("n_words"),
        F.expr("(length(html) - length(visible)) * 10000 div length(html)")
        .cast("bigint")
        .alias("markup_ratio_e4"),
    )


# ---------------------------------------------------------------------------
# q143 crawl front-half pipeline (extract -> URL dedup -> exact dedup ->
# quality gate) with per-document stage attribution
# ---------------------------------------------------------------------------

CRAWL_MIN_WORDS = 25  # quality gate: main-content word floor
CRAWL_MIN_WCHARS = 4  # quality gate: mean word length floor (chars)


@register(
    "q143_crawl_front_pipeline",
    oracle=f"""
    WITH raw AS (
      SELECT doc_id, {_SYNTH_URL_SQL} AS url, {_SYNTH_HTML_SQL} AS html
      FROM documents
    ),
    ex AS (
      SELECT doc_id, url,
             regexp_extract(html, '<p>((?s:.*))</p>', 1) AS content
      FROM raw
    ),
    base AS (
      SELECT doc_id,
             {_CANONICAL_URL_SQL} AS canonical_url,
             md5(lower(trim(content, ' '))) AS h,
             CAST(len(string_split(lower(trim(content, ' ')), ' ')) AS BIGINT)
               AS n_words,
             CAST((length(lower(trim(content, ' ')))
                   - (len(string_split(lower(trim(content, ' ')), ' ')) - 1))
                  // len(string_split(lower(trim(content, ' ')), ' ')) AS BIGINT)
               AS mw_chars
      FROM ex
    ),
    u AS (SELECT canonical_url, MIN(doc_id) AS keeper FROM base GROUP BY 1),
    surv AS (
      SELECT b.* FROM base b JOIN u USING (canonical_url)
      WHERE b.doc_id = u.keeper
    ),
    e AS (SELECT h, MIN(doc_id) AS first_doc FROM surv GROUP BY 1)
    SELECT b.doc_id,
           CASE WHEN b.doc_id <> u.keeper THEN 'url_dup'
                WHEN b.doc_id <> e.first_doc THEN 'exact_dup'
                WHEN b.n_words < {CRAWL_MIN_WORDS}
                     OR b.mw_chars < {CRAWL_MIN_WCHARS} THEN 'low_quality'
                ELSE 'kept' END AS stage,
           b.n_words, b.mw_chars
    FROM base b JOIN u USING (canonical_url) LEFT JOIN e USING (h)
    """,
    doc="The crawl front half as ONE oracle-checked operator — extract "
    "(EXECUTED in-plan on both engines: q142's shared synthesized-markup "
    "builder, main content recovered from the <p> payload by one JVM "
    "regex, and every downstream signal computed from the extraction "
    "output), canonical-URL keep-first (q140's construction), exact "
    "content dedup "
    "among URL survivors (q80's hash), then a Gopher-lite quality gate "
    f"(>= {CRAWL_MIN_WORDS} words, mean word length >= "
    f"{CRAWL_MIN_WCHARS}) — emitting a per-document STAGE ATTRIBUTION "
    "('url_dup' / 'exact_dup' / 'low_quality' / 'kept'), the audit "
    "artifact a production pipeline keeps for every removal decision. "
    "Composition order follows DEPLOYMENT_100TB §8: each stage sees only "
    "the prior stage's survivors, so the expensive stages read the "
    "smallest possible input. Scale shape: ALL per-document signals "
    "(canonical URL, content hash, word stats) are computed in one "
    "map-side projection before any exchange — exchanges carry only "
    "(doc_id, short-key, two ints); the keep-first stages are analytic "
    "windows over the canonical string and the 16-byte hash (round 13: "
    "replacing agg+join, which re-derived the extraction projection per "
    "consumer), so the plan has no join at all. Document text never "
    "enters an Exchange. On this "
    "all-unique synthetic corpus the exact_dup stage is honestly empty — "
    "the URL stage (~3.5x collapse) and the quality gate do the cutting.",
    bench=True,
)
def q143_crawl_front_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    # Stage 1, EXECUTED in-plan: main-content extraction from the page
    # markup (q142's shared synthesized-HTML builder; main content is the
    # <p> payload, recovered by one JVM regex). Every downstream signal —
    # content hash, word stats — is computed from the EXTRACTED content,
    # so the composed pipeline genuinely starts from markup on both
    # engines. The two projections stay uncollapsed (the extracted column
    # is referenced by several consumers), so the regex runs once per row;
    # __content never survives past this map-side stage, so no full-text
    # attribute can reach an Exchange (plan-asserted).
    ex = d.select(
        "doc_id",
        _canonical_url(_synth_url()).alias("canonical_url"),
        F.regexp_extract(_synth_html(), "<p>((?s:.*))</p>", 1).alias("__content"),
    )
    norm = content_norm(F.col("__content"))
    nw = F.size(F.split(norm, " ")).cast("bigint")
    base = ex.select(
        "doc_id",
        "canonical_url",
        F.md5(norm).alias("h"),
        nw.alias("n_words"),
        F.expr(
            "(length(lower(trim(__content)))"
            " - (size(split(lower(trim(__content)), ' ')) - 1))"
            " div size(split(lower(trim(__content)), ' '))"
        )
        .cast("bigint")
        .alias("mw_chars"),
    )
    # Keep-first stages as ANALYTIC WINDOWS, not agg+join (round 13):
    # the agg+join form consumed `base` — the expensive markup-regex
    # extraction + signal projection — from four differently-shaped
    # subtrees (each keep-first agg AND each join probe side), and
    # exchange reuse cannot unify a partial-aggregate exchange with a
    # raw-row exchange, so the corpus was extracted up to four times per
    # run. min(doc_id) OVER (PARTITION BY canonical_url) is the same
    # keeper; min(CASE WHEN survivor THEN doc_id END) OVER (PARTITION BY
    # h) is exactly the old left-join semantics (NULL when no survivor
    # shares the hash). One extraction pass, two short-key exchanges of
    # the same narrow rows, zero joins. A/B min-of-4, interleaved:
    # sf0.1 0.82 -> 0.49 s, x8 fixture 1.00 -> 0.78 s, output
    # bit-identical at both scales.
    from pyspark.sql.window import Window

    b2 = base.withColumn(
        "keeper", F.min("doc_id").over(Window.partitionBy("canonical_url"))
    )
    b3 = b2.withColumn(
        "first_doc",
        F.min(
            F.when(F.col("doc_id") == F.col("keeper"), F.col("doc_id"))
        ).over(Window.partitionBy("h")),
    )
    stage = (
        F.when(F.col("doc_id") != F.col("keeper"), "url_dup")
        .when(F.col("doc_id") != F.col("first_doc"), "exact_dup")
        .when(
            (F.col("n_words") < CRAWL_MIN_WORDS)
            | (F.col("mw_chars") < CRAWL_MIN_WCHARS),
            "low_quality",
        )
        .otherwise("kept")
    )
    return b3.select("doc_id", stage.alias("stage"), "n_words", "mw_chars")
