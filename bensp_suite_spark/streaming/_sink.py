"""The one sink layer of the streaming modules: each stream starts through
:func:`drain` (availableNow: drain what the source holds, then stop — T5),
and each ``foreachBatch`` output overwrites its own ``batch_id=<id>``
directory (:func:`write_batch`). Exactly-once needs an idempotent sink
(Structured Streaming, SIGMOD 2018): a driver that dies after the sink
wrote but before Spark logged the commit replays the batch with the same
id, and an appending sink would hold it twice. Sinks that write several
directories per batch also keep :class:`Markers`, checked first and
written last.
"""

from __future__ import annotations

import posixpath
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def drain(writer, checkpoint_dir: str, wait: bool = True):
    """Start the DataStreamWriter ``writer`` with an availableNow trigger;
    with ``wait``, block until it has drained. → the StreamingQuery."""
    q = (
        writer.option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if wait:
        q.awaitTermination()
    return q


def run_to_parquet(joined: DataFrame, out_dir: str, checkpoint_dir: str) -> None:
    """Drain an append-mode streaming DataFrame to parquet (Spark's file
    sink logs its files per batch, so a replay does not duplicate them)."""
    drain(
        joined.writeStream.format("parquet")
        .option("path", out_dir)
        .outputMode("append"),
        checkpoint_dir,
    )


def write_batch(df: DataFrame, out_dir: str, batch_id: int) -> str:
    """Overwrite ``out_dir/batch_id=<batch_id>`` with ``df``; → that path.
    Readers see ``batch_id`` as a discovered int partition column, last."""
    path = posixpath.join(out_dir, f"batch_id={batch_id}")
    df.write.mode("overwrite").parquet(path)
    return path


def foreach_batch(
    stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    per_batch: Callable[[DataFrame, int], DataFrame | None],
    wait: bool = True,
):
    """Drain ``stream`` through ``per_batch(batch_df, batch_id)``; each
    frame it returns is written with :func:`write_batch`, and ``None``
    writes nothing for that batch. → the StreamingQuery."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        out = per_batch(batch_df, batch_id)
        if out is not None:
            write_batch(out, out_dir, batch_id)

    return drain(stream.writeStream.foreachBatch(sink), checkpoint_dir, wait)


def read_batches(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read a :func:`write_batch` sink back without the batch_id partition
    column (arrival batching is an execution detail, not a result)."""
    return spark.read.parquet(out_dir).drop("batch_id")


class Markers:
    """Per-batch entries ``<dir>/<prefix><batch_id>`` through the Hadoop
    FileSystem, so they honour the directory's scheme (an os.path probe of
    an HDFS checkpoint would report every batch as new): commit marker
    files, or with ``prefix="batch_id="`` :func:`write_batch` directories.
    Keys are batch ids or any other names (``daily_cli``'s step ids)."""

    def __init__(self, spark: SparkSession, dir: str, prefix: str = "") -> None:
        self._path = spark._jvm.org.apache.hadoop.fs.Path
        self._fs = self._path(dir).getFileSystem(spark._jsc.hadoopConfiguration())
        self.dir = dir
        self.prefix = prefix

    def _at(self, batch_id: int | str):
        return self._path(posixpath.join(self.dir, f"{self.prefix}{batch_id}"))

    def done(self, batch_id: int | str) -> bool:
        return self._fs.exists(self._at(batch_id))

    def mark(self, batch_id: int | str) -> None:
        out = self._fs.create(self._at(batch_id), True)
        try:
            out.write(bytearray(b"committed"))
        finally:
            out.close()

    def ids(self) -> set[int]:
        """Batch ids present under the directory (empty if it is missing);
        checksum side files and other names are ignored."""
        root = self._path(self.dir)
        if not self._fs.exists(root):
            return set()
        n = len(self.prefix)
        names = [st.getPath().getName() for st in self._fs.listStatus(root)]
        return {
            int(name[n:])
            for name in names
            if name.startswith(self.prefix) and name[n:].lstrip("-").isdigit()
        }
