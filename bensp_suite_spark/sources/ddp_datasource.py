"""``spark.read.format("ddp")`` — the .ddp archive as a first-class Spark
connector (S6, SURVEY §2.1; reference reader: apps/dedup/src/decoder.c:60-98).

Built on the PySpark 4 Python DataSource API. One input partition per
archive file: records inside an archive are strictly sequential (the byte
stream IS the order the decoder depends on, decoder.c:173-264), so the
parallel unit is the archive, exactly like the reference's one-decoder-per-
file batch tool (tools/all_Dedup_udecoder.c:46-96). A directory of N
archives scans N-wide; at 100 TB this is the same files-parallel scan
pattern as ``binaryFile``, with no shuffle introduced by the source.

Schema:
  path string          — archive the record came from
  seq bigint           — record index within its archive (total order key)
  rtype int            — 0 fingerprint / 1 compressed / 2 original
  sha1 string          — hex SHA1 (fingerprint records, else null)
  payload binary       — chunk bytes (data records, else null)
  compress_type string — archive-level compression (gzip/bzip2/none)

Usage::

    register_ddp_source(spark)                     # once per session
    df = spark.read.format("ddp").load("/archives/dir-or-file")
"""

from __future__ import annotations

import os

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..session import ensure_worker_imports

DDP_SCHEMA = StructType(
    [
        StructField("path", StringType()),
        StructField("seq", LongType()),
        StructField("rtype", IntegerType()),
        StructField("sha1", StringType()),
        StructField("payload", BinaryType()),
        StructField("compress_type", StringType()),
    ]
)


class _DdpPartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class DdpReader(DataSourceReader):
    def __init__(self, options: dict):
        path = options.get("path")
        if not path:
            raise ValueError("ddp source requires a path: .load('<file-or-dir>')")
        self.root = path

    def partitions(self):
        if os.path.isdir(self.root):
            files = sorted(
                os.path.join(self.root, f)
                for f in os.listdir(self.root)
                if not f.startswith(".") and os.path.isfile(os.path.join(self.root, f))
            )
        else:
            files = [self.root]
        if not files:
            raise ValueError(f"no archive files under {self.root}")
        return [_DdpPartition(p) for p in files]

    def read(self, partition: _DdpPartition):
        # local import: runs on executors
        from bensp_suite_spark.sources.ddp import iter_ddp_records_from

        # Stream record-at-a-time from the handle (decoder.c:60-98): peak
        # executor memory is one record + the Arrow batch under
        # construction, never the whole archive — a multi-GB archive at
        # 100 TB scale must not need a multi-GB task heap.
        with open(partition.path, "rb") as fh:
            it = iter_ddp_records_from(fh)
            _, ctype = next(it)
            for seq, rtype, sha1, payload in it:
                yield (partition.path, seq, rtype, sha1, payload, ctype)


class DdpDataSource(DataSource):
    """Register with :func:`register_ddp_source`; then
    ``spark.read.format("ddp").load(path)``."""

    @classmethod
    def name(cls) -> str:
        return "ddp"

    def schema(self):
        return DDP_SCHEMA

    def reader(self, schema):
        return DdpReader(self.options)


def register_ddp_source(spark) -> None:
    """Idempotently register the ``ddp`` format on this session."""
    ensure_worker_imports(spark)
    spark.dataSource.register(DdpDataSource)


def stream_ddp_records(spark, path: str, max_files_per_trigger: int | None = None):
    """Streaming archive reader: watch ``path`` for .ddp files and emit
    their records as they arrive (same schema as the batch source).

    Built on the binaryFile file stream — Spark's file-source tracking
    (exactly-once per file, T1 backpressure via ``maxFilesPerTrigger``)
    plus the shared record parser in a narrow Arrow stage. The archive is
    again the parallel unit; no shuffle is introduced by the source."""
    ensure_worker_imports(spark)
    reader = spark.readStream.format("binaryFile").schema(
        "path string, modificationTime timestamp, length long, content binary"
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", int(max_files_per_trigger))
    raw = reader.load(path).select("path", "content")

    def parse(batches):
        from bensp_suite_spark.sources.ddp import iter_ddp_records

        import pandas as pd

        for pdf in batches:
            for path_, blob in zip(pdf["path"], pdf["content"]):
                # The binaryFile source already delivered the whole blob
                # into this task (that is its contract); the incremental
                # parser at least avoids a second copy of the payloads.
                it = iter_ddp_records(bytes(blob))
                _, ctype = next(it)
                rows = [(path_, seq, rtype, sha1, payload, ctype)
                        for seq, rtype, sha1, payload in it]
                if rows:
                    yield pd.DataFrame(rows, columns=DDP_SCHEMA.fieldNames())

    return raw.mapInPandas(parse, DDP_SCHEMA)
