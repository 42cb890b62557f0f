"""Schema-on-read external text tables with partitions and per-file header
skip — the reference's core data model, Spark-first.

Reference basis:
- ``create_m33_raw_ext_tbl.hql:1-6`` — ``CREATE EXTERNAL TABLE m33_raw
  (row_str STRING) ... STORED AS TEXTFILE`` with
  ``TBLPROPERTIES("skip.header.line.count"="3")`` (A2, A3),
- ``create_m33_raw_ext_tbl.hql:8-14`` — ``ALTER TABLE ... ADD PARTITION
  (peculiarity='cp') LOCATION '/data/m33_0.01/cp'`` (A4): the partition
  value comes from the catalog, not from file contents or paths.

Design for scale:
- The partition map (value → directory) is catalog metadata — tiny,
  driver-side by definition, exactly like Hive's metastore partition list.
- Each partition becomes a scan branch with the partition value as a
  literal column; a filter ``partition_col = 'x'`` constant-folds every
  other branch to an empty LocalRelation, so static partition pruning
  works without a metastore (verified in tests by checking the plan).
- Per-file header skip uses ``wholetext`` + ``slice`` + ``explode``: the
  FILE is the unit of parallelism, which is exactly Hive's behavior for
  header-skipping text tables (LineRecordReader only skips on split 0, so
  Hive too must treat header-skipped files as one logical unit). At 100 TB
  this holds as long as the dataset is many-files (the reference's layout
  is ~18 MB per file); a single multi-GB file would need splitting
  upstream — same constraint the reference had.
"""

from __future__ import annotations

from py4j.java_gateway import JavaClass
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

ROW_COL = "row_str"
FILE_COL = "input_file"

# The wholetext header-skip path materializes each FILE as one row; a single
# multi-GB file would OOM an executor. Refuse loudly instead (the caller
# splits the file upstream or drops the header requirement) — same layout
# constraint Hive's split-0-only header skip imposes, made explicit.
MAX_WHOLETEXT_FILE_BYTES = 256 * 1024 * 1024


def data_files(spark: SparkSession, path: str) -> tuple[tuple[str, int, int], ...]:
    """(path, size, mtime ms) of every data file at ``path`` (a file, a
    directory tree or a glob), sorted. Listed through the Hadoop
    FileSystem API, so EVERY scheme Spark can read (file:, hdfs://,
    s3a://) works, not just local paths. Metadata-only: globStatus +
    listStatus, the same listing a scan itself performs. Hidden files
    (``_``/``.`` prefixes) are skipped exactly as FileInputFormat skips
    them.

    Every py4j call is a round trip, and this runs once per table
    registration: the Path class is named directly instead of walked
    package by package through ``spark._jvm`` (one reflection call per
    name), a Java array is read by index, not iterated (iterating sizes
    it again at every step), and each entry's path is fetched once (its
    name is the last component of its string form). A single file costs
    12 calls."""
    hpath = JavaClass("org.apache.hadoop.fs.Path", spark._sc._gateway._gateway_client)(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    stack = _elements(fs.globStatus(hpath))
    files = []
    while stack:
        st = stack.pop()
        p = st.getPath()
        uri = p.toString()
        if uri.rsplit("/", 1)[-1].startswith(("_", ".")):
            continue
        if st.isDirectory():
            stack.extend(_elements(fs.listStatus(p)))
        else:
            files.append((uri, st.getLen(), st.getModificationTime()))
    return tuple(sorted(files))


def _elements(array) -> list:
    """The elements of a py4j Java array (``None`` for a null one): one
    length call, then two per element (the index call checks the bound)."""
    return [] if array is None else [array[i] for i in range(len(array))]


def _check_wholetext_sizes(spark: SparkSession, path: str, limit: int) -> None:
    """Driver-side size guard for the wholetext path, over
    :func:`data_files` so every scheme Spark reads is guarded. It lists
    the files on every build (metadata only, ~5 ms for an m33 partition
    directory), so a file rewritten past the limit is refused."""
    for f, size, _mtime in data_files(spark, path):
        if size > limit:
            raise ValueError(
                f"header-skip text scan reads whole files into memory; "
                f"{f!r} is {size} bytes (> {limit}). "
                "Split the file upstream or read it without "
                "skip_header_lines."
            )


def read_text_files(
    spark: SparkSession,
    path: str,
    skip_header_lines: int = 0,
    max_file_bytes: int = MAX_WHOLETEXT_FILE_BYTES,
    per_file_cols: dict | None = None,
) -> DataFrame:
    """One STRING row per line of every text file under ``path``, minus the
    first ``skip_header_lines`` lines of EACH file.

    Columns: ``row_str`` (the raw line), ``input_file`` (full file URI —
    the Spark analog of Hive's INPUT__FILE__NAME virtual column, A9).

    ``per_file_cols`` maps extra column names to ``fn(file_col) -> Column``
    deriving metadata from the file path (the reference encodes data in
    filenames, ``create_m33_schem_view.hql:10``). On the wholetext path
    these are evaluated ONCE PER FILE — hoisted above the line explode —
    instead of once per line: a filename regexp over 2.8 M lines costs
    ~1 s per million rows when computed per-row, and exactly 4 regexp
    calls when computed per file.
    """
    per_file_cols = per_file_cols or {}
    if skip_header_lines == 0:
        # Line-mode scan: there is no pre-explode row to hoist onto, so
        # derived columns evaluate per line (same as Hive's virtual-column
        # semantics).
        return spark.read.text(path).select(
            F.col("value").alias(ROW_COL),
            F.input_file_name().alias(FILE_COL),
            *[fn(F.input_file_name()).alias(n) for n, fn in per_file_cols.items()],
        )
    _check_wholetext_sizes(spark, path, max_file_bytes)
    # Line-terminator contract: Hadoop's LineRecordReader (the line-mode
    # path above, and Hive TEXTFILE — the reference semantics) terminates
    # lines on CR, LF, or CRLF and never includes the terminator in the
    # record. The split below mirrors that exactly (ordered alternation:
    # CRLF must match before its two halves) — splitting on '\n' alone
    # left a trailing '\r' on every row of a CRLF file, a silent
    # divergence between the two scan paths found by the round-10
    # adversarial text-source gate.
    # Drop ONLY the phantom empty record a trailing final terminator would
    # produce (Hive's text reader emits no record for it) — interior blank
    # lines remain data rows, exactly like the skip_header_lines=0 path.
    # The RAW file string is split and the one phantom "" is dropped by
    # shortening the body slice (split keeps trailing empties at limit -1,
    # so `last element == ""` ⟺ `file ends with a terminator`; a file
    # ending in two terminators keeps exactly one "" under both readings).
    # This is exactly equivalent to stripping the ONE trailing terminator
    # from the string before splitting — the round-3..12 formulation —
    # but skips that formulation's whole-file substring copy: a 14 MB
    # file paid a 14 MB copy per scan just to shorten the string by one
    # character (round-13 A/B: 0.35 s -> 0.20 s per file full-scan,
    # 0.30 s -> 0.17 s on the LIMIT-100 leg, output bit-identical over
    # the 1.4 M-row fixture).
    v = F.col("value")
    # Per-file split-strategy branch: the alternation regex is ~40% slower
    # than the single-char split on this hot path (measured on the
    # LIMIT-100 raw-view bench leg), and LF-only files — the overwhelming
    # case — don't need it. One contains() scan of the whole file string
    # picks the split; Spark's If evaluates only the taken branch per row.
    lines = F.when(
        v.contains("\r"), F.split(v, "\r\n|\r|\n")
    ).otherwise(F.split(v, "\n"))
    whole = spark.read.text(path, wholetext=True).select(
        F.input_file_name().alias(FILE_COL),
        lines.alias("_lines"),
        # once-per-file evaluation: the explode below only replicates the
        # already-computed value into each output row
        *[fn(F.input_file_name()).alias(n) for n, fn in per_file_cols.items()],
    )
    _l = F.col("_lines")
    # one phantom "" iff the file ends with a terminator — see above
    tail_adj = F.when(F.element_at(_l, -1) == "", 1).otherwise(0)
    body = F.slice(
        _l,
        skip_header_lines + 1,
        F.greatest(F.size(_l) - skip_header_lines - tail_adj, F.lit(0)),
    )
    return whole.select(
        FILE_COL, *per_file_cols.keys(), F.explode(body).alias(ROW_COL)
    )


def external_text_table(
    spark: SparkSession,
    partitions: dict[str, str],
    partition_col: str,
    skip_header_lines: int = 0,
    per_file_cols: dict | None = None,
) -> DataFrame:
    """Partitioned external text table: ``{partition_value: directory}``.

    Mirrors ``ADD PARTITION (col='value') LOCATION 'dir'`` — the value is
    bound by this mapping (catalog semantics), never parsed from paths.
    ``per_file_cols`` passes through to :func:`read_text_files` (per-file
    filename-derived metadata, hoisted above the explode).
    """
    return union_partitions({
        value: text_partition(spark, path, partition_col, value, skip_header_lines, per_file_cols)
        for value, path in partitions.items()
    })


def text_partition(
    spark: SparkSession,
    path: str,
    partition_col: str,
    value: str,
    skip_header_lines: int = 0,
    per_file_cols: dict | None = None,
) -> DataFrame:
    """One partition's scan branch of :func:`external_text_table`: the
    files under ``path`` with ``partition_col`` the literal ``value``.
    Building it lists the files once (the wholetext size guard); a caller
    that adds partitions one at a time keeps the branches and unions them
    with :func:`union_partitions`, so no directory is listed twice."""
    return read_text_files(
        spark, path, skip_header_lines, per_file_cols=per_file_cols
    ).withColumn(partition_col, F.lit(value))


def union_partitions(branches: dict[str, DataFrame]) -> DataFrame:
    """The :func:`text_partition` branches, keyed by partition value,
    unioned by name in value order."""
    if not branches:
        raise ValueError("external_text_table needs at least one partition")
    parts = [df for _value, df in sorted(branches.items())]
    df = parts[0]
    for b in parts[1:]:
        df = df.unionByName(b)
    return df
