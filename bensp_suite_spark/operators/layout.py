"""Data-layout management: partitioned writes for partition pruning.

The complement of :mod:`bucketing` (which pre-pays JOIN shuffles): Hive-
style directory partitioning pre-pays SCAN selectivity. A 100 TB events
table partitioned by a low-cardinality predicate column (event date,
event_type, language, source) turns every query that filters on that
column into a directory listing — Spark's `PartitionFilters` prune whole
directories before a single row is read, independent of (and earlier
than) parquet row-group min/max skipping.

Rules encoded here that matter at scale:

- Partition columns must be LOW cardinality (≤ ~10⁴ values). A high-
  cardinality partition column (user_id) creates millions of tiny files —
  the small-file problem — and kills the driver's listing phase.
- Each partition's data should land in FEW files: repartition on the
  partition columns first (one shuffle at write time), or every upstream
  task writes one file into every partition directory (tasks × partitions
  files).
- Within a partition, sort by the secondary predicate/range column so
  parquet row-group stats prune *within* the partition too
  (`sortWithinPartitions` — no extra exchange, sort is task-local).
"""

from __future__ import annotations

import glob
import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as Hive-partitioned parquet under ``path``.

    One hash exchange on the partition columns co-locates each partition's
    rows into one task (bounded file counts); an optional task-local sort
    lays rows out for row-group skipping on ``sort_cols``."""
    out = df.repartition(*partition_cols)
    if sort_cols:
        out = out.sortWithinPartitions(*sort_cols)
    out.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def read_partitioned(spark: SparkSession, path: str) -> DataFrame:
    """Read a partitioned layout back. Partition columns come from the
    directory structure; filters on them become PartitionFilters (pruned
    at planning time, visible in `.explain("formatted")`)."""
    return spark.read.parquet(path)


def swap_dir(path: str, rewrite: Callable[[str], list[str] | None]) -> None:
    """Replace the directory ``path`` with what ``rewrite(tmp)`` writes at a
    sibling ``tmp``. ``rewrite`` returns the entries of ``path`` to carry
    into the new directory unchanged (uncommitted partials that a replay
    will overwrite), or None to leave ``path`` as it is.

    The protocol is re-runnable after a crash at any point: restore
    ``path`` from the backup when a crash between the two renames left
    only the backup; clear stale tmp and backup dirs; write; carry; rename
    ``path`` to the backup and ``tmp`` to ``path``; delete the backup.
    Healing comes first, so ``rewrite`` always lists the live directory.
    LOCAL FILESYSTEM ONLY: the swap uses ``os.rename``; on an object store
    use a table format with transactional compaction instead."""
    path = path.rstrip("/")
    tmp = path + "._compact_tmp"
    bak = path + "._compact_old"
    if os.path.exists(bak) and not os.path.exists(path):
        os.rename(bak, path)
    for stale in (tmp, bak):
        if os.path.exists(stale):
            shutil.rmtree(stale)
    carry = rewrite(tmp)
    if carry is None:
        return
    for entry in carry:
        shutil.move(entry, os.path.join(tmp, os.path.basename(entry)))
    os.rename(path, bak)
    os.rename(tmp, path)
    shutil.rmtree(bak)


def compact_small_files(
    spark: SparkSession,
    path: str,
    target_file_mb: int = 128,
    sort_cols: list[str] | None = None,
) -> tuple[int, int]:
    """Small-file compaction: rewrite a parquet directory so each file is
    ~``target_file_mb``. Returns (files_before, files_after).

    The operational fix for the small-file problem streaming sinks and
    over-parallel writers create: a 100 TB table written by thousands of
    micro-batches accumulates millions of KB-scale files, and scan cost
    becomes dominated by open/footer overhead and driver listing instead
    of bytes. Compaction is one read + one write: partition count is
    computed from the directory's actual byte size (not row counts, which
    mispredict after compression), an optional task-local sort restores
    row-group skipping, and the rewrite goes through :func:`swap_dir`, so
    a crash mid-compact never leaves the table truncated and a rerun
    recovers from it. Hive-partitioned layouts are preserved: partition
    columns are detected from the ``key=value`` directory segments and the
    rewrite re-issues ``partitionBy`` on them, so `PartitionFilters`
    pruning survives compaction. LOCAL-FILESYSTEM ONLY, like
    :func:`swap_dir` — this is the plain-parquet equivalent of OPTIMIZE
    with the same sizing rule."""
    path = path.rstrip("/")
    files_before = 0

    def rewrite(tmp: str) -> list[str]:
        nonlocal files_before
        data_files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        files_before = len(data_files)
        total_bytes = sum(os.path.getsize(f) for f in data_files)
        n_out = max(1, round(total_bytes / (target_file_mb << 20)))

        # Detect Hive partitioning from the key=value directory segments so
        # the rewrite preserves it (a flat rewrite would demote partition
        # columns to data columns and silently lose PartitionFilters pruning).
        partition_cols: list[str] = []
        if data_files:
            rel = os.path.relpath(data_files[0], path)
            for seg in rel.split(os.sep)[:-1]:
                if "=" in seg:
                    partition_cols.append(seg.split("=", 1)[0])

        df = spark.read.parquet(path)
        if partition_cols:
            # Hash on the partition columns: each task holds whole
            # partitions, so file count stays ~n_out instead of
            # tasks × partitions.
            out = df.repartition(n_out, *partition_cols)
        else:
            out = df.repartition(n_out)
        if sort_cols:
            out = out.sortWithinPartitions(*sort_cols)
        writer = out.write.mode("overwrite")
        if partition_cols:
            writer = writer.partitionBy(*partition_cols)
        writer.parquet(tmp)
        return []

    swap_dir(path, rewrite)
    files_after = len(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
    return files_before, files_after


def zorder_key(
    cols: list, ranges: list[tuple[int, int]], bits: int = 16
):
    """Z-order (Morton) key over integer columns as a pure JVM expression.

    Each column is scaled into [0, 2^bits) with exact integer math —
    ((col − lo) · (2^bits − 1)) div (hi − lo), floor division on
    non-negative ints, so any engine computes the identical key — then the
    bit planes interleave: bit j of column ci lands at position
    j·n_cols + ci. Rows sorted by this key cluster *jointly* in every
    participating dimension, which is what makes multi-column range
    predicates prune parquet row groups/files (min/max stats are tight in
    ALL dimensions at once — a single-column sort gives tight stats in one
    dimension and useless stats in the rest).

    ``ranges`` are the (lo, hi) bounds per column — computed once at write
    time (one bounded aggregate); pinning them keeps the key a pure
    deterministic expression with an exact SQL oracle.
    """
    from pyspark.sql import functions as F

    n = len(cols)
    assert n == len(ranges) and n >= 1
    assert bits * n <= 62, "interleaved key must fit a signed 64-bit long"
    key = F.lit(0).cast("long")
    m = (1 << bits) - 1
    for ci, (col, (lo, hi)) in enumerate(zip(cols, ranges)):
        span, shift = _span_shift(int(lo), int(hi), bits)
        # exact integer floor division for non-negative ints: subtract the
        # remainder first so the double division is of an exactly-divisible
        # pair. _span_shift guarantees numerator ≤ span·m < 2^53, so the
        # double round-trip is bit-exact in any engine; wider columns
        # (epoch-microsecond spans etc.) are pre-shifted down rather than
        # silently rounding wrong.
        v = F.shiftright((col.cast("long") - F.lit(int(lo))), shift)
        num = (v * F.lit(m)).cast("long")
        scaled = ((num - F.pmod(num, F.lit(span))) / F.lit(span)).cast("long")
        for j in range(bits):
            bit = F.shiftright(scaled, j).bitwiseAND(F.lit(1))
            key = key.bitwiseOR(F.shiftleft(bit, j * n + ci))
    return key


def _span_shift(lo: int, hi: int, bits: int) -> tuple[int, int]:
    """Quantization denominator for one z-order dimension.

    Returns ``(span, shift)`` such that the input is right-shifted by
    ``shift`` before scaling and ``span * (2^bits - 1) < 2^53`` — the
    bound under which the remainder-subtracted double division in
    :func:`zorder_key` is bit-exact. For narrow columns shift is 0 and
    span = hi - lo (the original behavior); for wide columns (span beyond
    ~1.4e11 at bits=16) the pre-shift drops low-order bits that the
    ``bits``-bit quantization would discard anyway, so clustering quality
    is unchanged while every engine computes the identical key."""
    raw = max(hi - lo, 1)
    m = (1 << bits) - 1
    shift = 0
    while (raw >> shift) * m >= (1 << 53):
        shift += 1
    return max(raw >> shift, 1), shift


def zorder_key_sql(cols: list[str], ranges: list[tuple[int, int]], bits: int = 16) -> str:
    """The DuckDB-runnable mirror of :func:`zorder_key` (same integer
    scaling and interleave — `//` is DuckDB's floor division on ints)."""
    n = len(cols)
    m = (1 << bits) - 1
    terms = []
    for ci, (col, (lo, hi)) in enumerate(zip(cols, ranges)):
        span, shift = _span_shift(int(lo), int(hi), bits)
        scaled = f"(((({col} - {int(lo)}) >> {shift}) * {m}) // {span})"
        for j in range(bits):
            terms.append(f"((({scaled} >> {j}) & 1) << {j * n + ci})")
    return " | ".join(terms)


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = 16,
    n_files: int | None = None,
    mode: str = "overwrite",
) -> list[tuple[int, int]]:
    """Cluster ``df`` by the Morton key of ``cols`` and write parquet —
    the lakehouse OPTIMIZE ZORDER BY analog. One bounded min/max aggregate
    fixes the ranges, one range exchange on the key lays rows out, and
    every file's parquet min/max stats end up tight in all ``cols`` at
    once. Returns the ranges so readers/tests can recompute keys.

    At 100 TB: ``n_files`` ≈ total_bytes / 1 GB; the range exchange is the
    only shuffle, and it replaces the full-sort cost a naive ORDER BY over
    all columns would pay with a single synthetic sort key."""
    from pyspark.sql import functions as F

    bounds = df.agg(
        *[f(c).alias(f"{tag}_{c}") for c in cols for tag, f in (("lo", F.min), ("hi", F.max))]
    ).collect()[0]
    ranges = [(int(bounds[f"lo_{c}"]), int(bounds[f"hi_{c}"])) for c in cols]
    key = zorder_key([F.col(c) for c in cols], ranges, bits)
    out = df.withColumn("_zkey", key)
    n_files = n_files or df.sparkSession.sparkContext.defaultParallelism
    (
        out.repartitionByRange(n_files, "_zkey")
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
        .write.mode(mode)
        .parquet(path)
    )
    return ranges


def write_with_bloom(
    df: DataFrame,
    path: str,
    bloom_cols: list[str],
    ndv: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Parquet write with per-column BLOOM FILTERS (parquet-mr split-block
    blooms in the footer) on ``bloom_cols`` — the layout for point-lookup
    workloads on high-cardinality keys where min/max envelopes can't
    prune: content hashes, digests, canonical URLs. A reader pushing an
    equality predicate skips whole row groups whose filter rejects the
    value (one-sided: no false skips), which is what makes
    "look up this digest in a 100 TB winners table" an I/O-light
    operation without maintaining a sorted layout.

    ``ndv`` sizes the filter (expected distinct values per row group;
    default lets parquet-mr size at its 1% fpp target). Complements the
    layout family: partitioning prunes on low-cardinality columns,
    z-order/min-max on range-correlated ones, blooms on hash-random
    point keys."""
    w = df.write.mode(mode)
    for c in bloom_cols:
        w = w.option(f"parquet.bloom.filter.enabled#{c}", "true")
        if ndv is not None:
            w = w.option(f"parquet.bloom.filter.expected.ndv#{c}", str(ndv))
    w.parquet(path)


def bloom_filter_offsets(spark: SparkSession, file_path: str) -> dict[str, int]:
    """→ {column dot-path: bloom filter offset} for one parquet file's
    first row group (-1 = no filter) — the footer-level proof a write
    actually carried the filters, read through parquet-mr."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(file_path)
    ifile = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf)
    rdr = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(ifile)
    try:
        rg = rdr.getRowGroups().get(0)
        return {
            c.getPath().toDotString(): c.getBloomFilterOffset()
            for c in rg.getColumns()
        }
    finally:
        rdr.close()
