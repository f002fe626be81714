"""Batch dedup/compress pipeline (reference: apps/dedup/src/encoder.c Encode).

Stage map (reference → here):

  Fragment+FragmentRefine (encoder.c:1035-1207, 825-979)
      → ``chunk_files``: mapInPandas per-file CDC chunker (parallel across
        files, sequential within — the reference's own scaling insight,
        encoder.c:989-996)
  Deduplicate (encoder.c:666-703, SHA1 hashtable J1)
      → built-in ``sha1`` + first-wins rank window, one hash exchange on the
        digest; no locks, no driver state
  Compress (encoder.c:499-576, K6)
      → Arrow pandas UDF over unique chunks only (dup bypass routing P4,
        encoder.c:770-786, is a lazy ``when`` — no physical routing)
  Reorder + write (encoder.c:1345-1496, O1/S5)
      → ``ORDER BY (file_id, l1, l2)`` range exchange, then the ``ddp``
        Parquet table (record types dedupdef.h:257-259)

At 100 TB: files parallelize across executors; the only all-to-all
exchanges are the sha1 hash shuffle (AQE-skew-safe: digests are uniform)
and the final range sort. Compression stays Arrow-batched in the JVM→Python
fast path.
"""

from __future__ import annotations

import bz2
import hashlib
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..session import ensure_worker_imports
from .rabin import chunk_offsets

# Archive record types (reference: apps/dedup/src/dedupdef.h:257-259).
TYPE_FINGERPRINT = 0
TYPE_COMPRESS = 1
TYPE_ORIGINAL = 2

CHUNK_SCHEMA = StructType(
    [
        StructField("file_id", LongType()),
        StructField("l1", LongType()),
        StructField("l2", LongType()),
        StructField("is_last_l2", BooleanType()),
        StructField("size", LongType()),
        StructField("data", BinaryType()),
    ]
)

DDP_SCHEMA = StructType(
    [
        StructField("file_id", LongType()),
        StructField("l1", LongType()),
        StructField("l2", LongType()),
        StructField("is_last_l2", BooleanType()),
        StructField("rtype", IntegerType()),
        StructField("sha1", StringType()),
        StructField("payload", BinaryType()),
    ]
)


def chunk_files(files: DataFrame) -> DataFrame:
    """CDC-chunk a (file_id, content) DataFrame → CHUNK_SCHEMA rows.

    One Python task per partition; each file is chunked independently
    (coarse ANCHOR_JUMP pass then fine refine pass, both from one
    vectorized match scan — see rabin.py).
    """
    ensure_worker_imports(files.sparkSession)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: dict[str, list] = {k: [] for k in ("file_id", "l1", "l2", "is_last_l2", "size", "data")}
            for fid, content in zip(pdf["file_id"], pdf["content"]):
                content = bytes(content)
                for l1, l2, s, e, last in chunk_offsets(content):
                    rows["file_id"].append(fid)
                    rows["l1"].append(l1)
                    rows["l2"].append(l2)
                    rows["is_last_l2"].append(last)
                    rows["size"].append(e - s)
                    rows["data"].append(content[s:e])
            yield pd.DataFrame(rows)

    return files.select("file_id", "content").mapInPandas(gen, CHUNK_SCHEMA)


FUSED_SCHEMA = StructType(
    [
        StructField("file_id", LongType()),
        StructField("l1", LongType()),
        StructField("l2", LongType()),
        StructField("is_last_l2", BooleanType()),
        StructField("size", LongType()),
        StructField("sha1", StringType()),
        StructField("payload", BinaryType()),  # compressed; null for file-local dups
        StructField("c_len", LongType()),
    ]
)


def chunk_hash_compress(
    files: DataFrame, compress_type: str = "gzip", with_payload: bool = True
) -> DataFrame:
    """Fused Fragment+Refine+SHA1+local-Compress stage (K2-K6 in one map).

    Performance-critical restructuring: the naive staged plan ships every
    chunk's bytes JVM→Python→JVM three times (chunk, hash, compress) and
    shuffles full payloads on sha1. Here sha1 and compression happen inside
    the chunker over zero-copy memoryview slices, and FILE-LOCAL duplicate
    chunks (the vast majority in dedup-friendly data) carry NULL payloads —
    a file-local dup is by definition a global dup, so its payload is never
    needed. Only locally-unique compressed payloads + small metadata rows
    leave Python, and the sha1 exchange shuffles mostly metadata.
    ~4× wall-clock over the staged plan at 256 MB / 32 cores.
    """
    ensure_worker_imports(files.sparkSession)
    import hashlib
    import zlib
    import bz2 as _bz2

    if compress_type == "zstd":
        # no zstd module in the Python stdlib — the codec lives in the JVM
        # kernel (Spark bundles zstd-jni); callers route there via
        # has_jvm_kernel, so reaching this path means the jar is missing
        raise ValueError(
            "compress_type='zstd' requires the JVM kernel "
            "(bensp-kernels.jar on the driver classpath)"
        )
    ctype = compress_type
    emit_payload = with_payload

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: dict[str, list] = {k: [] for k in (
                "file_id", "l1", "l2", "is_last_l2", "size", "sha1", "payload", "c_len")}
            for fid, content in zip(pdf["file_id"], pdf["content"]):
                content = bytes(content)
                view = memoryview(content)
                local_seen: set[str] = set()
                for l1, l2, s, e, last in chunk_offsets(content):
                    piece = view[s:e]
                    digest = hashlib.sha1(piece).hexdigest()
                    if digest in local_seen:
                        payload = None
                        c_len = 0
                    else:
                        local_seen.add(digest)
                        if ctype == "gzip":
                            payload = zlib.compress(piece, 1)
                        elif ctype == "bzip2":
                            payload = _bz2.compress(bytes(piece), 9)
                        else:
                            payload = bytes(piece)
                        c_len = len(payload)
                        if not emit_payload:
                            # stats path: lengths only — no Arrow transfer
                            payload = None
                    rows["file_id"].append(fid)
                    rows["l1"].append(l1)
                    rows["l2"].append(l2)
                    rows["is_last_l2"].append(last)
                    rows["size"].append(e - s)
                    rows["sha1"].append(digest)
                    rows["payload"].append(payload)
                    rows["c_len"].append(c_len)
            yield pd.DataFrame(rows)

    return files.select("file_id", "content").mapInPandas(gen, FUSED_SCHEMA)


def _compress_series(data: pd.Series, compress_type: str) -> pd.Series:
    if compress_type == "gzip":
        return data.map(lambda b: None if b is None else zlib.compress(bytes(b), 1))
    if compress_type == "bzip2":
        # level 9, mirroring BZ2_bzBuffToBuffCompress(..., 9, ...) encoder.c:523
        return data.map(lambda b: None if b is None else bz2.compress(bytes(b), 9))
    if compress_type == "none":
        return data.map(lambda b: None if b is None else bytes(b))
    raise ValueError(f"unknown compress_type {compress_type!r}")


def _first_wins_flags_skew_safe(fused: DataFrame, keys: list[str]) -> DataFrame:
    """Skew-safe first-wins flagging: two-phase min-reduce + re-join,
    replacing the per-digest window sort.

    The window form (`Window.partitionBy(sha1)` + row_number) ships EVERY
    occurrence of a digest to one reducer for the sort — on duplicate-
    saturated inputs (the reference's own h-class inputs are duplication-
    controlled, tools/create_txt_files.c:37-41) one dominant digest
    serializes the stage, and window sorts cannot be skew-split. Here the
    winner identity is ``min(struct(file_id, l1, l2))`` per digest:
    Spark's native partial aggregation collapses a hot digest map-side to
    one partial per task (the same two-level shape as `salted_agg` /
    `_stats_from_fused`, with the salt implicit in the map partitioning),
    so the agg exchange carries ~|distinct digests| rows. The re-join on
    the digest IS AQE-skew-splittable (the winner side is one row per
    digest and replicates freely). Result-identical to the window form —
    tests/test_dedup_pipeline.py parity tests, including a saturated
    input."""
    ident = F.struct(F.col("file_id"), F.col("l1"), F.col("l2"))
    winners = fused.groupBy(*keys).agg(F.min(ident).alias("__w"))
    flagged = fused.join(winners, on=keys)
    return flagged.withColumn(
        "is_dup",
        ~(
            (F.col("file_id") == F.col("__w.file_id"))
            & (F.col("l1") == F.col("__w.l1"))
            & (F.col("l2") == F.col("__w.l2"))
        ),
    ).drop("__w")


def deduplicate(
    chunks: DataFrame, scope_per_file: bool = False, skew_safe: bool = False
) -> DataFrame:
    """J1 (global) or J2 (per-file scope): flag duplicates and attach the
    canonical chunk's identity — one hash exchange on the digest.

    ``skew_safe=True`` swaps the first-wins window for the min-reduce +
    join formulation (`_first_wins_flags_skew_safe`) — same results, safe
    on inputs where one digest dominates."""
    keys = ["file_id", "sha1"] if scope_per_file else ["sha1"]
    hashed = chunks.withColumn("sha1", F.sha1(F.col("data")))
    if skew_safe:
        return _first_wins_flags_skew_safe(hashed, keys)
    w = Window.partitionBy(*keys).orderBy("file_id", "l1", "l2")
    return hashed.withColumn("__rn", F.row_number().over(w)).withColumn(
        "is_dup", F.col("__rn") > 1
    ).drop("__rn")


def encode(
    files: DataFrame,
    compress_type: str = "gzip",
    scope_per_file: bool = False,
    skew_safe: bool = False,
) -> DataFrame:
    """Full encode pipeline → ordered ``ddp`` DataFrame (write with
    .write.parquet to materialize the archive table).

    Uses the fused chunk+hash+compress stage (JVM kernel when its jar is
    loaded — identical chunk stream, no Python stage); the global
    first-wins window then only selects among payload-carrying
    (file-local-winner) rows — the global winner is always its file's
    first occurrence, so it always has a payload. Duplicates emit
    fingerprint records (bypass routing P4, encoder.c:770-786 — here a
    ``when`` column, no physical routing)."""
    from ..session import has_jvm_kernel

    if compress_type in ("gzip", "none", "bzip2", "zstd") and has_jvm_kernel(
        files.sparkSession
    ):
        fused = chunk_hash_compress_jvm(files, compress_type=compress_type, with_payload=True)
    else:
        fused = chunk_hash_compress(files, compress_type=compress_type)
    keys = ["file_id", "sha1"] if scope_per_file else ["sha1"]
    if skew_safe:
        # min-reduce + join instead of the window sort: the window ships
        # every occurrence of a digest to one reducer, which serializes on
        # duplicate-saturated inputs; see _first_wins_flags_skew_safe.
        flagged = _first_wins_flags_skew_safe(fused, keys)
    else:
        w = Window.partitionBy(*keys).orderBy("file_id", "l1", "l2")
        flagged = fused.withColumn("is_dup", F.row_number().over(w) > 1)

    unique_type = TYPE_ORIGINAL if compress_type == "none" else TYPE_COMPRESS
    ddp = flagged.select(
        "file_id",
        "l1",
        "l2",
        "is_last_l2",
        F.when(F.col("is_dup"), F.lit(TYPE_FINGERPRINT))
        .otherwise(F.lit(unique_type))
        .cast("int")
        .alias("rtype"),
        "sha1",
        F.when(F.col("is_dup"), F.lit(None).cast("binary")).otherwise(F.col("payload")).alias(
            "payload"
        ),
    )
    return ddp.orderBy("file_id", "l1", "l2")


def decode(ddp: DataFrame, compress_type: str = "gzip") -> DataFrame:
    """Decode pipeline (reference: apps/dedup/src/decoder.c:173-264) —
    fingerprint records resolve against unique chunks by sha1 (J4), chunks
    reassemble in (l1, l2) order per file. Round-trip oracle:
    decode(encode(files)) must equal files byte-for-byte.

    Payloads stay COMPRESSED through both shuffles (the sha1 resolution join
    and the per-file regroup) and only inflate inside the final reassembly —
    at scale the exchanges move archive-sized bytes, not original-sized.
    The regroup is an explicit fixed-width repartition: AQE sizes shuffles
    by their (compressed, tiny) byte count and would otherwise coalesce the
    decompression stage down to a couple of tasks."""
    ensure_worker_imports(ddp.sparkSession)
    ctype = compress_type

    uniques = (
        ddp.filter(F.col("rtype") != TYPE_FINGERPRINT)
        .select("sha1", "payload")
        # one canonical payload per digest (first-occurrence semantics)
        .dropDuplicates(["sha1"])
    )
    resolved = ddp.select("file_id", "l1", "l2", "sha1").join(uniques, on="sha1", how="left")
    n_parts = max(
        ddp.sparkSession.sparkContext.defaultParallelism,
        int(ddp.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")),
    )
    resolved = resolved.repartition(n_parts, "file_id")

    from ..session import has_jvm_kernel

    if ctype in ("gzip", "none", "zstd") and has_jvm_kernel(ddp.sparkSession):
        # JVM reassembly: per-file ordered payload array (array_sort on the
        # (l1, l2, payload) struct sorts lexicographically by field order),
        # then one inflate+concat kernel call per file
        _register_jvm_fuse(ddp.sparkSession)
        arr = resolved.groupBy("file_id").agg(
            F.array_sort(F.collect_list(F.struct("l1", "l2", "payload"))).alias("cs")
        )
        return arr.select(
            "file_id",
            F.expr(f"bensp_inflate_concat(transform(cs, x -> x.payload), '{ctype}')").alias(
                "content"
            ),
        )

    out_schema = StructType([StructField("file_id", LongType()), StructField("content", BinaryType())])

    if ctype == "gzip":
        inflate = lambda b: zlib.decompress(bytes(b))  # noqa: E731
    elif ctype == "bzip2":
        inflate = lambda b: bz2.decompress(bytes(b))  # noqa: E731
    elif ctype == "zstd":
        raise ValueError(
            "compress_type='zstd' decode requires the JVM kernel "
            "(bensp-kernels.jar on the driver classpath)"
        )
    else:
        inflate = bytes

    def reassemble(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["l1", "l2"])
        content = b"".join(inflate(b) for b in pdf["payload"])
        return pd.DataFrame({"file_id": [pdf["file_id"].iloc[0]], "content": [content]})

    return resolved.groupBy("file_id").applyInPandas(reassemble, out_schema)


def dedup_stats(
    files: DataFrame, compress_type: str = "gzip", scope_per_file: bool = False
) -> DataFrame:
    """A1-A4 statistics (print_stats, encoder.c:225-388): totals, duplicate
    ratio, mean/stddev chunk size, compression factor. One row out.

    Metadata-only after the fused stage: payloads are dropped before the
    sha1 exchange, so the shuffle carries ~40 B/chunk regardless of data
    size."""
    fused = chunk_hash_compress(files, compress_type=compress_type, with_payload=False).drop(
        "payload"
    )
    return _stats_from_fused(fused, scope_per_file)


FUSE_UDF_RETURN = (
    "struct<l1:array<bigint>,l2:array<bigint>,start:array<bigint>,size:array<bigint>,"
    "is_last_l2:array<boolean>,sha1:array<string>,c_len:array<bigint>,payload:array<binary>>"
)


def _register_jvm_fuse(spark) -> None:
    if not getattr(spark, "_bensp_cdc_fuse_registered", False):
        spark.udf.registerJavaFunction("bensp_cdc_fuse", "bensp.kernels.CdcFuseUdf", FUSE_UDF_RETURN)
        spark.udf.registerJavaFunction(
            "bensp_inflate_concat", "bensp.kernels.InflateConcatUdf", "binary"
        )
        spark.udf.registerJavaFunction(
            "bensp_payload_sha1", "bensp.kernels.PayloadSha1Udf", "string"
        )
        spark._bensp_cdc_fuse_registered = True


def chunk_hash_compress_jvm(
    files: DataFrame, compress_type: str = "gzip", with_payload: bool = False
) -> DataFrame:
    """JVM-side fused stage (metadata-only): same rows as
    ``chunk_hash_compress(..., with_payload=False)`` minus the payload
    column, produced by the Java kernel (jvm/src/bensp/kernels/
    CdcFuseUdf.java) with no Python worker in the plan.

    The per-file struct-of-arrays return explodes through ``arrays_zip`` --
    all codegen. ~10x the per-core rate of the numpy kernel: a JIT-compiled
    per-byte rolling-hash loop beats vectorized gathers, and the input bytes
    never cross the executor->Python Arrow channel. Falls back unavailable
    (raises) if the kernel jar was not on the session's driver classpath;
    callers gate on ``session.has_jvm_kernel``."""
    spark = files.sparkSession
    _register_jvm_fuse(spark)
    emit = "true" if with_payload else "false"
    fused = files.select(
        "file_id", F.expr(f"bensp_cdc_fuse(content, '{compress_type}', {emit})").alias("r")
    )
    cols = [
        F.col("r.l1").alias("l1"),
        F.col("r.l2").alias("l2"),
        F.col("r.is_last_l2").alias("is_last_l2"),
        F.col("r.size").alias("size"),
        F.col("r.sha1").alias("sha1"),
        F.col("r.c_len").alias("c_len"),
    ]
    out = ["file_id", "c.l1", "c.l2", "c.is_last_l2", "c.size", "c.sha1", "c.c_len"]
    if with_payload:
        cols.append(F.col("r.payload").alias("payload"))
        out.append("c.payload")
    z = fused.select("file_id", F.explode(F.arrays_zip(*cols)).alias("c"))
    return z.select(*out)


def _stats_from_fused(fused: DataFrame, scope_per_file: bool) -> DataFrame:
    """Two-level aggregation replacing the first-wins window for STATS.

    Chunks with equal sha1 have equal content, hence equal ``size`` and (for
    locally-unique copies) equal ``c_len`` — so per-digest ``count/max``
    recovers every number the row_number window produced, with map-side
    partial aggregation instead of a full sort exchange (~1.4 s saved on a
    1 GB input). ``max(c_len)`` picks the one non-zero c_len among copies
    (file-local dups carry 0)."""
    keys = ["file_id", "sha1"] if scope_per_file else ["sha1"]
    per = fused.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.max("size").alias("size"),
        F.max("c_len").alias("c_len"),
    )
    n = F.sum("cnt")
    return per.agg(
        n.alias("n_chunks"),
        F.sum(F.col("cnt") - 1).alias("n_dup"),
        F.sum(F.col("size") * F.col("cnt")).alias("total_input_bytes"),
        F.sum("size").alias("total_dedup_bytes"),
        F.sum("c_len").alias("total_compressed_bytes"),
        F.round(F.sum(F.col("size") * F.col("cnt")) / n, 2).alias("mean_chunk_b"),
        F.round(F.sum(F.col("cnt") - 1) / n, 6).alias("dup_ratio"),
    )


def dedup_stats_jvm(
    files: DataFrame, compress_type: str = "gzip", scope_per_file: bool = False
) -> DataFrame:
    """``dedup_stats`` on the JVM kernel — identical output row, no Python
    stage anywhere in the plan."""
    fused = chunk_hash_compress_jvm(files, compress_type=compress_type)
    return _stats_from_fused(fused, scope_per_file)


def chunk_size_histogram(files: DataFrame) -> DataFrame:
    """A2 — 256 buckets of 128 B, top bucket open-ended
    (CHUNK_SIZE_TO_SLOT, encoder.c:133-141). Sizes come from the JVM kernel
    when its jar is loaded (identical boundaries, no Python stage)."""
    from ..session import has_jvm_kernel

    if has_jvm_kernel(files.sparkSession):
        chunks = chunk_hash_compress_jvm(files, "none").select("size")
    else:
        chunks = chunk_files(files).select("size")
    slot = F.least(F.floor(F.col("size") / 128), F.lit(255)).cast("long")
    return chunks.groupBy(slot.alias("slot")).agg(F.count(F.lit(1)).alias("cnt"))


def reference_encode_py(contents: dict[int, bytes]) -> list[tuple]:
    """Pure-Python reference encoder for tests: same (file_id, l1, l2,
    sha1, is_dup) stream the Spark pipeline must produce."""
    seen: set[str] = set()
    out = []
    for fid in sorted(contents):
        for l1, l2, s, e, last in chunk_offsets(contents[fid]):
            digest = hashlib.sha1(contents[fid][s:e]).hexdigest()
            dup = digest in seen
            seen.add(digest)
            out.append((fid, l1, l2, last, digest, dup))
    return out
