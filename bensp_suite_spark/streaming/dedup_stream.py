"""Streaming dedup pipeline (SURVEY §7 phase 2).

Reference semantics → Spark Structured Streaming:

- bounded queues + backpressure (T1, queue.c:84-112) → micro-batch triggers
  with ``maxFilesPerTrigger`` / ``maxBytesPerTrigger``;
- the unbounded SHA1 hashtable (T8, encoder.c:1520) → keyed state in
  ``applyInPandasWithState`` partitioned on the digest (RocksDB-backed at
  scale: set ``spark.sql.streaming.stateStore.providerClass`` to the
  RocksDB provider so 100 TB of fingerprints never lives on the heap);
- first-wins + canonical reference across micro-batches (J1+J3): the state
  stores the canonical chunk identity per digest, so a duplicate arriving
  three batches later still resolves its reference — the hard part flagged
  in SURVEY §7;
- ordered emission (T6/O1): ``foreachBatch`` sorts each batch by
  (file_id, l1, l2) before writing it; batch ids are monotonic so the
  (batch_id, l1, l2) order is total for a file-ordered source;
- termination (T5, queue_terminate) → ``Trigger.AvailableNow``.

Parameter mapping from ``bin/parsec_stream`` knobs (no sed/rebuild —
runtime conf only):

  chunk window (NWINDOW sed, parsec_stream:254-269) → rabin.NWINDOW const
  fr/dd/comp/rr buffer sizes (:428-472) → arrow maxRecordsPerBatch
  -t stage threads (:350)               → spark.sql.shuffle.partitions
  queue sizes                           → maxFilesPerTrigger
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..dedup.pipeline import chunk_files
from ..session import ensure_worker_imports
from ._sink import Markers, foreach_batch, write_batch

DEDUP_STATE_SCHEMA = StructType(
    [
        StructField("c_file_id", LongType()),
        StructField("c_l1", LongType()),
        StructField("c_l2", LongType()),
    ]
)

DEDUP_OUT_SCHEMA = StructType(
    [
        StructField("sha1", StringType()),
        StructField("file_id", LongType()),
        StructField("l1", LongType()),
        StructField("l2", LongType()),
        StructField("is_last_l2", BooleanType()),
        StructField("size", LongType()),
        StructField("data", BinaryType()),
        StructField("is_dup", BooleanType()),
        StructField("canonical_file_id", LongType()),
        StructField("canonical_l1", LongType()),
        StructField("canonical_l2", LongType()),
    ]
)


def _dedup_state_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """First-wins dedup with canonical reference, keyed on sha1.

    The reference's hashtable_search-or-insert (encoder.c:666-703) with the
    per-bucket mutex replaced by shuffle partitioning: all chunks with one
    digest land in this group, in any order WITHIN a batch — so rows are
    sorted by (file_id, l1, l2) to keep the winner deterministic; across
    batches, the state's canonical entry wins (arrival order, exactly like
    the C pipeline)."""
    sha = key[0]
    if state.exists:
        c_file, c_l1, c_l2 = state.get
        have_canonical = True
    else:
        have_canonical = False
        c_file = c_l1 = c_l2 = None
    for pdf in pdfs:
        pdf = pdf.sort_values(["file_id", "l1", "l2"]).reset_index(drop=True)
        is_dup = []
        canon = []
        for _i, row in pdf.iterrows():
            if not have_canonical:
                c_file, c_l1, c_l2 = int(row.file_id), int(row.l1), int(row.l2)
                have_canonical = True
                is_dup.append(False)
            else:
                is_dup.append(True)
            canon.append((c_file, c_l1, c_l2))
        out = pdf[["file_id", "l1", "l2", "is_last_l2", "size", "data"]].copy()
        out.insert(0, "sha1", sha)
        out["is_dup"] = is_dup
        out["canonical_file_id"] = [c[0] for c in canon]
        out["canonical_l1"] = [c[1] for c in canon]
        out["canonical_l2"] = [c[2] for c in canon]
        yield out
    state.update((c_file, c_l1, c_l2))


def streaming_deduplicate(chunks: DataFrame) -> DataFrame:
    """Apply cross-batch first-wins dedup state to a streaming chunk frame."""
    ensure_worker_imports(chunks.sparkSession)
    hashed = chunks.withColumn("sha1", F.sha1(F.col("data")))
    return hashed.groupBy("sha1").applyInPandasWithState(
        _dedup_state_fn,
        outputStructType=DEDUP_OUT_SCHEMA,
        stateStructType=DEDUP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


#: default micro-batch size for file-stream sources: the KNEE of the
#: measured trigger sweep (bench `streaming_trigger_sweep`, 256 MB input:
#: 22.7 MB/s at 32 MB triggers → 41.6 at 64 MB → 124.8 at 256 MB). The
#: per-trigger fixed cost (planning + state-merge commit) divides by
#: trigger bytes, so throughput is near-linear in trigger size until the
#: batch stops fitting executor memory; 256 MB is where the curve meets
#: this host's memory comfort. Raise it on bigger executors; shrink it
#: only when latency SLOs demand sub-minute batches. (Plain byte count:
#: the vanilla file source rejects suffixed forms like "256m".)
DEFAULT_MAX_BYTES_PER_TRIGGER = 256 * 1024 * 1024


def files_source(
    spark: SparkSession,
    src_dir: str,
    schema: str = "file_id long, content binary",
    max_bytes_per_trigger: int = DEFAULT_MAX_BYTES_PER_TRIGGER,
) -> DataFrame:
    """The (file_id, content) parquet stream source sized to the measured
    trigger knee — the construction every stream_encode/stream_encode_merge
    caller should start from unless it has a latency reason not to. See
    DEFAULT_MAX_BYTES_PER_TRIGGER for the measured curve behind the
    default."""
    return (
        spark.readStream.schema(schema)
        .option("maxBytesPerTrigger", max_bytes_per_trigger)
        .parquet(src_dir)
    )


def stream_encode(
    spark: SparkSession,
    files_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    await_termination: bool = True,
    chunk_parallelism: int | None = None,
):
    """Run the streaming encode: chunk → stateful dedup → ordered
    per-batch write (each batch overwrites ``out_dir/batch_id=<id>``).

    ``files_stream`` is a streaming DataFrame with (file_id, content) — e.g.
    a parquet readStream with maxFilesPerTrigger, or binaryFile readStream
    mapped to this schema.

    ``chunk_parallelism`` repartitions each micro-batch before the Python
    chunker. Without it a batch's task count equals its SOURCE FILE count
    (a 2-file trigger chunks on 2 cores no matter how many rows those
    files hold), so the CPU-bound chunk stage underuses the executor —
    measured 2.3× end-to-end on local[32] with 32-row source files. The
    repartition shuffles raw file bytes once; that cost is small against
    the chunk+hash+compress work it parallelizes. Defaults to the
    cluster's default parallelism."""
    if chunk_parallelism is None:
        chunk_parallelism = spark.sparkContext.defaultParallelism
    chunks = chunk_files(files_stream.repartition(chunk_parallelism))
    flagged = streaming_deduplicate(chunks).observe(
        # T9/A8 — per-trigger counters (the cnt_enqueue/cnt_dequeue and
        # per-item tracing surface, ferret-pthreads.c:325-326,
        # new_dedup.c:1382-1418): observed metrics land in each
        # StreamingQueryProgress for the listener to collect.
        "dedup_metrics",
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.when(F.col("is_dup"), 1).otherwise(0)).alias("n_dup"),
        F.sum("size").alias("bytes"),
    )

    # T6/O1: intra-batch total order restore before the sink; the batch's
    # directory carries its micro-batch id, so (batch_id, file_id, l1, l2)
    # is a total order across the run.
    def per_batch(batch_df: DataFrame, batch_id: int) -> None:
        # pinned: the sort's range-sampling job would otherwise run the
        # stateful operator a second time (one extra Python call per group)
        batch_df = batch_df.persist()
        try:
            write_batch(batch_df.orderBy("file_id", "l1", "l2"), out_dir, batch_id)
        finally:
            batch_df.unpersist()

    return foreach_batch(flagged, out_dir, checkpoint_dir, per_batch, await_termination)


def windowed_event_metrics(
    events_stream: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """A5/A6 streaming variant: event-time tumbling-window throughput with
    a watermark for late data (T7 — the capability the reference lacks;
    its windows are processing-time only, new_dedup.c:1480-1496)."""
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(F.window(F.col("ts"), window).alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


class ThroughputListener:
    """StreamingQueryListener capturing per-trigger rows/s and JVM heap —
    the throughput.dat + memory-tracking analog (S9/UPL,
    new_dedup.c:97-242). Collected rows land in a plain list;
    ``to_df(spark)`` turns them into a metrics DataFrame.

    Memory capture: heap-used from the JVM's MemoryMXBean at each trigger,
    with the running peak on ``peak_heap_bytes``. In local mode the driver
    JVM IS the executor, so this is the per-executor number the reference's
    UPL tracker reports (BASELINE.md's 1.55 GB point); on a multi-executor
    cluster read the same figure per executor from the ExecutorMetrics
    ("JVMHeapMemory") stream or the /api/v1 executors endpoint — the
    column and protocol stay the same."""

    def __init__(self) -> None:
        self.progress: list[dict[str, Any]] = []
        self.peak_heap_bytes: int = 0

    def attach(self, spark: SparkSession):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self
        mem_bean = (
            spark.sparkContext._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        )

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                entry = {
                    "batch_id": p.batchId,
                    "num_input_rows": p.numInputRows,
                    "input_rows_per_second": p.inputRowsPerSecond,
                    "processed_rows_per_second": p.processedRowsPerSecond,
                    "duration_ms": p.durationMs.get("triggerExecution"),
                }
                try:
                    heap = int(mem_bean.getHeapMemoryUsage().getUsed())
                except Exception:
                    heap = None
                entry["heap_used_bytes"] = heap
                if heap is not None and heap > outer.peak_heap_bytes:
                    outer.peak_heap_bytes = heap
                try:
                    entry["observed"] = dict(p.observedMetrics.get("dedup_metrics").asDict())
                except Exception:
                    entry["observed"] = None
                outer.progress.append(entry)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        listener = _L()
        spark.streams.addListener(listener)
        return listener

    def to_df(self, spark: SparkSession) -> DataFrame:
        """Metrics table: one row per trigger (batch_id, rows, rates,
        duration, heap) — the S9 metrics sink as a queryable DataFrame."""
        rows = [
            (
                int(p["batch_id"]),
                int(p["num_input_rows"]),
                float(p["input_rows_per_second"] or 0.0),
                float(p["processed_rows_per_second"] or 0.0),
                int(p["duration_ms"] or 0),
                int(p["heap_used_bytes"]) if p.get("heap_used_bytes") is not None else None,
            )
            for p in self.progress
        ]
        from ..session import local_rows_df as _ldf

        return _ldf(
            spark,
            rows,
            "batch_id long, num_input_rows long, input_rows_per_second double, "
            "processed_rows_per_second double, duration_ms long, heap_used_bytes long",
        )


def stream_encode_merge(
    spark: SparkSession,
    files_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    compress_type: str = "gzip",
    chunk_parallelism: int | None = None,
) -> None:
    """Streaming encode built for THROUGHPUT: no Python stateful operator.

    The applyInPandasWithState path (``stream_encode``) pays one Python
    call + Arrow round trip PER DIGEST GROUP per batch — correct, but at
    ~4 KB mean chunk size that is ~64k group invocations per 256 MB batch
    and it dominates wall clock (measured ~5× slower than the batch
    encoder end-to-end). This variant keeps the reference semantics with
    an all-JVM plan:

    - each micro-batch runs the same FUSED chunk+sha1+compress stage as
      the batch encoder (JVM kernel when the jar is loaded — the raw
      bytes never enter Python);
    - cross-batch state is an explicit parquet WINNERS table (sha1 →
      canonical (file_id, l1, l2), ~50 B per unique chunk): the batch's
      chunks join against it (AQE-broadcast at typical sizes), in-batch
      first-wins is a narrow min(struct) agg over a payload-free kernel
      branch — chunk payloads never shuffle — and newly-won digests
      append to the table via a narrow read-back of the batch output;
    - exactly-once: every write is a per-batch-directory overwrite plus a
      commit marker written LAST — a retried batch recomputes against the
      same `batch_id < N` winners prefix and overwrites its own
      directories, so replays are byte-identical and never double-apply
      (the managed-state analog of a lakehouse MERGE sink).

    Scale trade vs the state-store path: winners live in plain parquet
    (readable, compactable, shared with batch jobs) but each batch
    re-reads the table — at very large unique-chunk counts, bucket it by
    sha1 prefix or move to the state-store path, which reads only the
    touched partitions. Use this form when throughput matters and the
    unique-chunk metadata fits comfortably in a scan; use
    ``stream_encode`` when per-key state locality matters more.

    Trigger sizing: build the source with :func:`files_source` (defaults
    to the measured 256 MB knee — see DEFAULT_MAX_BYTES_PER_TRIGGER);
    per-trigger fixed cost makes small triggers the dominant throughput
    tax (22.7 → 124.8 MB/s from 32 MB to 256 MB triggers on the bench
    workload)."""
    import posixpath as _pp

    from ..dedup.pipeline import chunk_hash_compress, chunk_hash_compress_jvm
    from ..session import has_jvm_kernel

    # Probes and markers go through Markers (the Hadoop FileSystem), so an
    # HDFS checkpoint never reports "no prior winners" and re-elects
    # canonical winners — the first-wins breakage have_prev below guards.
    winners_dir = _pp.join(checkpoint_dir, "winners")
    winners = Markers(spark, winners_dir, prefix="batch_id=")
    commits = Markers(spark, _pp.join(checkpoint_dir, "merge_commits"))
    use_jvm = compress_type in ("gzip", "none", "bzip2", "zstd") and has_jvm_kernel(spark)
    if chunk_parallelism is None:
        chunk_parallelism = spark.sparkContext.defaultParallelism

    def per_batch(batch_df: DataFrame, batch_id: int) -> None:
        if commits.done(batch_id):
            return
        # Same fix as stream_encode's chunk_parallelism: a micro-batch's
        # task count equals its SOURCE FILE count, so a 2-file trigger
        # would run the CPU-bound fused kernel on 2 cores. One raw-byte
        # shuffle fans the batch across the executor before the kernel —
        # only when the source is actually under-parallel (measured a
        # wash when the batch already splits near the target, so don't
        # pay the shuffle then).
        if batch_df.rdd.getNumPartitions() < max(2, chunk_parallelism // 2):
            batch_df = batch_df.repartition(chunk_parallelism)
        if use_jvm:
            fused = chunk_hash_compress_jvm(
                batch_df, compress_type=compress_type, with_payload=True
            )
        else:
            fused = chunk_hash_compress(batch_df, compress_type=compress_type)
        # Persist WITHOUT a separate count job: the output write's
        # range-sampling pass is the first scan, so it computes the
        # kernel once and caches it; the partition+sort pass and the
        # winner agg then read the cache. (Uncached, the global sort
        # alone would run the kernel+join chain twice per batch —
        # measured 43 → 28 MB/s when the persist was dropped.)
        fused = fused.persist()
        # First batch only: no winners table yet. Probe the directory
        # explicitly rather than catching read errors — a corrupt or
        # transiently unreadable winners table must FAIL the batch, not
        # silently re-elect canonical winners and re-emit payloads for
        # digests already deduplicated (first-wins would be broken with
        # no error surfaced).
        have_prev = bool(winners.ids())
        if have_prev:
            prev = (
                spark.read.parquet(winners_dir)
                .filter(F.col("batch_id") < batch_id)
                .drop("batch_id")
            )

        # In-batch first-wins WITHOUT a payload shuffle (r10 lesson: the
        # row_number window hash-partitioned every chunk payload by sha1
        # — the batch's dominant shuffle). The winner per digest is
        # min(struct(file_id,l1,l2)) over the payload-free branch — a
        # NARROW two-phase agg (map-side partial over ~50 B rows) — and
        # both join-backs key ~50 B-per-unique-digest tables against the
        # batch, so AQE converts them to broadcast joins at bench scale
        # and they degrade to a metadata-sized build-side shuffle (never
        # a payload shuffle) when the winners outgrow the threshold.
        bwin = fused.groupBy("sha1").agg(
            F.min(F.struct("file_id", "l1", "l2")).alias("__w")
        )
        flagged = fused.join(bwin, "sha1")
        if have_prev:
            flagged = flagged.join(prev, on="sha1", how="left")
        else:
            flagged = (
                flagged.withColumn("c_file_id", F.lit(None).cast("long"))
                .withColumn("c_l1", F.lit(None).cast("long"))
                .withColumn("c_l2", F.lit(None).cast("long"))
            )
        is_prev_dup = F.col("c_file_id").isNotNull()
        is_batch_winner = (
            F.struct("file_id", "l1", "l2") == F.col("__w")
        )
        is_dup = is_prev_dup | ~is_batch_winner
        out = flagged.select(
            "sha1",
            "file_id",
            "l1",
            "l2",
            "is_last_l2",
            "size",
            F.when(is_dup, F.lit(None).cast("binary"))
            .otherwise(F.col("payload"))
            .alias("data"),
            is_dup.alias("is_dup"),
            F.coalesce("c_file_id", F.col("__w.file_id")).alias(
                "canonical_file_id"
            ),
            F.coalesce("c_l1", F.col("__w.l1")).alias("canonical_l1"),
            F.coalesce("c_l2", F.col("__w.l2")).alias("canonical_l2"),
            F.lit(batch_id).alias("batch_id"),
        )
        out_batch_dir = write_batch(
            out.orderBy("file_id", "l1", "l2"), out_dir, batch_id
        )
        # Newly-won digests are exactly the output's non-dup rows (a batch
        # winner already in the history is flagged dup), so the winners
        # append is a NARROW read-back of the parquet just written —
        # payload column pruned at the scan, no agg, no anti-join, no
        # second kernel pass. One cheap job instead of the r10 form's
        # cache-materialize + agg + anti-join chain.
        new_winners = (
            spark.read.parquet(out_batch_dir)
            .filter(~F.col("is_dup"))
            .select(
                "sha1",
                F.col("file_id").alias("c_file_id"),
                F.col("l1").alias("c_l1"),
                F.col("l2").alias("c_l2"),
                F.lit(batch_id).alias("batch_id"),
            )
        )
        write_batch(new_winners, winners_dir, batch_id)
        fused.unpersist()
        commits.mark(batch_id)

    # per_batch writes its own directories and returns None
    foreach_batch(files_stream, out_dir, checkpoint_dir, per_batch)
