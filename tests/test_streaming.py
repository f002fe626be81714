"""Streaming pipeline tests: cross-batch dedup state equals the batch
pipeline; windowed event-time metrics equal the batch aggregation; ordered
emission per batch (SURVEY §2.8 T1/T5/T6/T7/T8); every sink writes a
replayed micro-batch once."""

from __future__ import annotations

import ast
import glob
import os
import pathlib
import shutil
import subprocess
import sys
import tempfile

import pytest
from pyspark import StorageLevel
from pyspark.sql import Window
from pyspark.sql import functions as F

from bensp_suite_spark.dedup import fixtures, pipeline
from bensp_suite_spark.ferret import fixtures as FF
from bensp_suite_spark.streaming import _sink, dedup_stream

from .conftest import REPO, SF_CORRECT


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="bensp_stream_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


@pytest.fixture(params=["default", "rocksdb"])
def state_provider(request, spark):
    """Runs the decorated stateful-streaming test under both state store
    providers. RocksDB is the 100 TB contract (SURVEY T8: the reference's
    unbounded in-heap hashtable, encoder.c:1520, becomes off-heap disk-
    backed keyed state) — semantics must be provider-independent."""
    key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(key, None)
    if request.param == "rocksdb":
        spark.conf.set(key, ROCKSDB_PROVIDER)
    yield request.param
    if old is None:
        spark.conf.unset(key)
    else:
        spark.conf.set(key, old)


def _write_files_as_stream_source(spark, files_df, src_dir, n_splits=6):
    files_df.repartition(n_splits).write.mode("overwrite").parquet(src_dir)


def test_streaming_dedup_equals_batch(spark, tmpdir):
    files = fixtures.synthetic_docs(spark, n_files=24, file_bytes=16384, seed=31)
    src, out, ckpt = (os.path.join(tmpdir, d) for d in ("src", "out", "ckpt"))
    _write_files_as_stream_source(spark, files, src)

    schema = "file_id long, content binary"
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 2).parquet(src)
    )
    dedup_stream.stream_encode(spark, stream, out, ckpt)

    got_df = spark.read.parquet(out)
    # multiple micro-batches actually ran (cross-batch state exercised)
    assert got_df.select("batch_id").distinct().count() > 1

    # stream vs batch: same chunk stream, same total dup count; dup FLAGS can
    # legitimately differ in which occurrence won (arrival order vs global
    # (file,l1,l2) order), so compare at the digest-multiset level.
    batch = pipeline.deduplicate(pipeline.chunk_files(spark.read.parquet(src)))
    got_chunks = got_df.groupBy("sha1").agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.when(F.col("is_dup"), 1).otherwise(0)).alias("dups")
    )
    want_chunks = batch.groupBy("sha1").agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.when(F.col("is_dup"), 1).otherwise(0)).alias("dups")
    )
    assert got_chunks.exceptAll(want_chunks).count() == 0
    assert want_chunks.exceptAll(got_chunks).count() == 0

    # every duplicate must reference a canonical chunk with the same sha1
    # that is itself not a duplicate (J3 across micro-batches)
    dups = got_df.filter("is_dup").alias("d")
    canon = got_df.filter("NOT is_dup").alias("c")
    resolved = dups.join(
        canon,
        (F.col("d.canonical_file_id") == F.col("c.file_id"))
        & (F.col("d.canonical_l1") == F.col("c.l1"))
        & (F.col("d.canonical_l2") == F.col("c.l2"))
        & (F.col("d.sha1") == F.col("c.sha1")),
        "left_semi",
    )
    assert resolved.count() == dups.count()


def test_streaming_round_trip(spark, tmpdir):
    """Decode of the streaming output reproduces the original bytes."""
    files = fixtures.synthetic_docs(spark, n_files=12, file_bytes=8192, seed=77)
    src, out, ckpt = (os.path.join(tmpdir, d) for d in ("src", "out", "ckpt"))
    _write_files_as_stream_source(spark, files, src, n_splits=4)
    stream = (
        spark.readStream.schema("file_id long, content binary")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    dedup_stream.stream_encode(spark, stream, out, ckpt)

    got = spark.read.parquet(out)
    # reassemble: resolve dup payloads from their canonical chunk
    canon = got.filter("NOT is_dup").select("sha1", F.col("data").alias("cdata"))
    resolved = got.select("file_id", "l1", "l2", "sha1").join(canon, "sha1")
    rebuilt = {
        r.file_id: bytes(r.content)
        for r in (
            resolved.groupBy("file_id")
            .agg(F.sort_array(F.collect_list(F.struct("l1", "l2", "cdata"))).alias("cs"))
            .select(
                "file_id",
                F.aggregate(
                    "cs", F.lit(b""), lambda acc, s: F.concat(acc, s["cdata"])
                ).alias("content"),
            )
            .collect()
        )
    }
    orig = {r.file_id: bytes(r.content) for r in spark.read.parquet(src).collect()}
    assert rebuilt == orig


def test_streaming_windowed_metrics_match_batch(spark, tmpdir):
    src = os.path.join(tmpdir, "events")
    from bensp_suite_spark.tables import load_table

    ev = load_table(spark, SF_CORRECT, "events").select("ts", "event_type", "value")
    ev.repartition(5).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema("ts timestamp, event_type string, value double").option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    agg = dedup_stream.windowed_event_metrics(stream, window="1 day", watermark="2 days")
    q = (
        agg.writeStream.format("memory")
        .queryName("winmetrics")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.window_start, r.event_type): r.n_events
        for r in spark.sql("select * from winmetrics").collect()
    }
    want = {
        (r.window_start, r.event_type): r.n
        for r in ev.groupBy(
            F.date_trunc("day", F.col("ts")).alias("window_start"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_throughput_listener_captures_progress(spark, tmpdir):
    files = fixtures.synthetic_docs(spark, n_files=8, file_bytes=4096, seed=9)
    src, out, ckpt = (os.path.join(tmpdir, d) for d in ("src", "out", "ckpt"))
    _write_files_as_stream_source(spark, files, src, n_splits=4)
    listener = dedup_stream.ThroughputListener()
    handle = listener.attach(spark)
    try:
        stream = (
            spark.readStream.schema("file_id long, content binary")
            .option("maxFilesPerTrigger", 2)
            .parquet(src)
        )
        dedup_stream.stream_encode(spark, stream, out, ckpt)
        import time

        deadline = time.time() + 20
        while not listener.progress and time.time() < deadline:
            time.sleep(0.5)
        assert listener.progress, "listener captured no progress events"
        # snapshot: listener events arrive asynchronously even after the
        # availableNow drain returns
        snap = list(listener.progress)
        assert sum(p["num_input_rows"] for p in snap) > 0
        # UPL memory analog: per-trigger heap samples + running peak
        heaps = [p["heap_used_bytes"] for p in snap]
        assert all(h is not None and h > 0 for h in heaps)
        assert listener.peak_heap_bytes >= max(heaps)
        mdf = listener.to_df(spark)
        assert "heap_used_bytes" in mdf.columns
        assert mdf.count() >= len(snap)
    finally:
        spark.streams.removeListener(handle)


def test_streaming_ferret_matches_batch(spark, tmpdir):
    """Streaming query images (2 per trigger) against a static corpus must
    produce the same top-K as the batch pipeline."""
    from bensp_suite_spark.ferret import fixtures as FF
    from bensp_suite_spark.ferret import pipeline as FP
    from bensp_suite_spark.streaming import ferret_stream

    corpus = FF.synthetic_corpus(spark, m=60, n_clusters=8).cache()
    queries = FF.synthetic_queries(spark, corpus, q=6, jitter=0.02)

    src, out, ckpt = (os.path.join(tmpdir, d) for d in ("src", "out", "ckpt"))
    queries.repartition(3).write.mode("overwrite").parquet(src)
    qstream = (
        spark.readStream.schema(queries.schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    ferret_stream.stream_similarity_search(
        spark, qstream, corpus, out, ckpt, top_k=3, mode="exhaustive"
    )

    got = {
        (r.q_image_id, r.rank): (r.name, r.emd)
        for r in spark.read.parquet(out).collect()
    }
    want = {
        (r.q_image_id, r.rank): (r.name, r.emd)
        for r in FP.ferret_topk(queries, corpus, top_k=3, mode="exhaustive").collect()
    }
    assert got == want
    # multiple triggers actually ran
    assert spark.read.parquet(out).select("batch_id").distinct().count() > 1


def test_streaming_dedup_state_survives_restart(spark, tmpdir):
    """T8 durability: fingerprint state must recover from the checkpoint
    when the query restarts. Files added between two runs whose chunks
    duplicate run-1 content must come out flagged dup, referencing RUN-1
    canonicals (the reference's unbounded hashtable has no such durability
    — process death loses it; the engine's state store upgrade is exactly
    this)."""
    src, out, ckpt = (os.path.join(tmpdir, d) for d in ("src", "out", "ckpt"))

    run1 = fixtures.synthetic_docs(spark, n_files=8, file_bytes=16384, seed=77)
    run1.repartition(3).write.mode("overwrite").parquet(src)
    schema = "file_id long, content binary"
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 2).parquet(src)
    dedup_stream.stream_encode(spark, stream, out, ckpt)
    first = spark.read.parquet(out)
    first_rows = first.count()
    run1_file_ids = {r.file_id for r in first.select("file_id").distinct().collect()}

    # second run, same checkpoint: new file_ids, same content pool (same
    # seed) → every chunk digest already lives in run-1 state
    run2 = fixtures.synthetic_docs(spark, n_files=4, file_bytes=16384, seed=77).select(
        (F.col("file_id") + 1000).alias("file_id"), "content"
    )
    run2.repartition(2).write.mode("append").parquet(src)
    stream2 = spark.readStream.schema(schema).option("maxFilesPerTrigger", 2).parquet(src)
    dedup_stream.stream_encode(spark, stream2, out, ckpt)

    all_rows = spark.read.parquet(out)
    second = all_rows.filter(F.col("file_id") >= 1000)
    assert second.count() > 0
    # exactly-once on the source side: run-1 rows were not re-emitted
    assert all_rows.filter(F.col("file_id") < 1000).count() == first_rows
    # every run-2 chunk is a duplicate of recovered run-1 state...
    assert second.filter(~F.col("is_dup")).count() == 0
    # ...and references a canonical chunk from run 1 with the same digest
    canon = all_rows.filter(~F.col("is_dup")).alias("c")
    dups2 = second.alias("d")
    resolved = dups2.join(
        canon,
        (F.col("d.canonical_file_id") == F.col("c.file_id"))
        & (F.col("d.canonical_l1") == F.col("c.l1"))
        & (F.col("d.canonical_l2") == F.col("c.l2"))
        & (F.col("d.sha1") == F.col("c.sha1")),
        "left_semi",
    )
    assert resolved.count() == second.count()
    assert {r.canonical_file_id for r in second.select("canonical_file_id").collect()} <= run1_file_ids


def test_streaming_dedup_on_rocksdb_state_store(spark, tmpdir):
    """The 100 TB state path (SCALING.md): the same stateful dedup runs on
    the RocksDB state store provider (off-heap, disk-backed) with identical
    semantics to the default HDFS-backed provider."""
    provider = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(key, None)
    spark.conf.set(key, provider)
    try:
        src, out, ckpt = (os.path.join(tmpdir, d) for d in ("src", "out", "ckpt"))
        files = fixtures.synthetic_docs(spark, n_files=10, file_bytes=16384, seed=55)
        files.repartition(4).write.mode("overwrite").parquet(src)
        stream = (
            spark.readStream.schema("file_id long, content binary")
            .option("maxFilesPerTrigger", 3)
            .parquet(src)
        )
        dedup_stream.stream_encode(spark, stream, out, ckpt)
        got = spark.read.parquet(out)
        assert got.select("batch_id").distinct().count() > 1  # state crossed batches
        batch = pipeline.deduplicate(pipeline.chunk_files(spark.read.parquet(src)))
        got_g = got.groupBy("sha1").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("is_dup"), 1).otherwise(0)).alias("dups"),
        )
        want_g = batch.groupBy("sha1").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("is_dup"), 1).otherwise(0)).alias("dups"),
        )
        assert got_g.exceptAll(want_g).count() == 0
        assert want_g.exceptAll(got_g).count() == 0
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def test_streaming_exact_text_dedup_first_wins_across_batches(spark, tmpdir):
    """Document-level streaming dedup: one winner per content hash across
    micro-batches; winner sets match the batch operator's hash domain."""
    from bensp_suite_spark.operators import dedup_text as DT
    from bensp_suite_spark.streaming import text_dedup_stream as TDS

    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet").limit(400)
    # plant exact duplicates with later doc_ids
    dups = docs.limit(120).select((F.col("doc_id") + 500_000).alias("doc_id"), "text")
    corpus = docs.select("doc_id", "text").unionByName(dups)
    src, out, ckpt = (os.path.join(tmpdir, d) for d in ("src", "out", "ckpt"))
    corpus.repartition(5).write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    TDS.stream_exact_dedup(spark, stream, out, ckpt)

    got = spark.read.parquet(out)
    # exactly one winner per hash
    assert got.groupBy("content_hash").count().filter("count > 1").count() == 0
    # hash domain identical to the batch operator's
    batch_hashes = {
        r.content_hash for r in DT.exact_dedup(corpus).select("content_hash").collect()
    }
    got_hashes = {r.content_hash for r in got.select("content_hash").collect()}
    assert got_hashes == batch_hashes
    # nothing survived twice: planted duplicate hashes have ONE winner
    n_distinct_texts = corpus.select(
        F.md5(F.lower(F.regexp_replace(F.trim("text"), r"\s+", " ")))
    ).distinct().count()
    assert got.count() == n_distinct_texts


def test_streaming_ann_matches_batch(spark, tmpdir):
    """Queries arriving over multiple micro-batches rank identically to
    the batch ANN operator."""
    from bensp_suite_spark.operators import similarity as SIM
    from bensp_suite_spark.streaming import ann_stream

    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet")
    queries = emb.filter("vec_id < 12")
    src, out, ckpt = (os.path.join(tmpdir, d) for d in ("src", "out", "ckpt"))
    queries.repartition(4).write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    ann_stream.stream_ann_topk(spark, stream, emb, out, ckpt, k=5)

    got = spark.read.parquet(out)
    want = SIM.cosine_topk_bruteforce(queries, emb, k=5)
    key = ["query_id", "neighbor_id", "rank", "cosine"]
    assert got.select(*key).exceptAll(want.select(*key)).count() == 0
    assert want.select(*key).exceptAll(got.select(*key)).count() == 0


def test_stream_ann_sink_idempotent_on_retry(spark, tmpdir):
    """A micro-batch retried after a sink-side failure must REPLACE its
    own prior (possibly partial) output, not append a second copy — each
    batch owns its batch_id partition directory (ADVICE r8)."""
    from bensp_suite_spark.operators import similarity as SIM
    from bensp_suite_spark.streaming import _sink, ann_stream

    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet")
    res = SIM.cosine_topk_bruteforce(emb.filter("vec_id < 4"), emb, k=5)
    out = os.path.join(tmpdir, "out")
    _sink.write_batch(res, out, 3)
    _sink.write_batch(res, out, 3)  # simulated micro-batch retry
    got = ann_stream.read_sink(spark, out)
    assert "batch_id" not in got.columns
    assert got.count() == res.count()
    key = ["query_id", "neighbor_id", "rank", "cosine"]
    assert got.select(*key).exceptAll(res.select(*key)).count() == 0


# ---------------------------------------------------------------------------
# Stream-stream interval join + streaming session windows
# (streaming/event_streams.py)
# ---------------------------------------------------------------------------

_EV_SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double"


def _events(spark):
    from bensp_suite_spark.tables import load_table

    return load_table(spark, SF_CORRECT, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )


def test_stream_stream_interval_join_matches_batch(spark, tmpdir):
    """Clicks and views arriving as two independent streams over several
    micro-batches pair exactly like the batch interval join."""
    from bensp_suite_spark.streaming import event_streams as ES

    ev = _events(spark)
    clicks_b = ev.filter(F.col("event_type") == "click")
    views_b = ev.filter(F.col("event_type") == "view")

    c_src, v_src, out, ckpt = (os.path.join(tmpdir, d) for d in ("c", "v", "out", "ck"))
    # each micro-batch must be a time slice (range-partitioned on ts, file
    # order == part order == time order): a file source replaying events
    # out of time order would drop them as late once the watermark passed —
    # exactly what the watermark contract says, but not what a live,
    # roughly-ordered event stream looks like
    clicks_b.repartitionByRange(4, "ts").write.parquet(c_src)
    views_b.repartitionByRange(4, "ts").write.parquet(v_src)
    # the file source replays in MODIFICATION-TIME order, and parallel part
    # writes finish in arbitrary order — pin mtimes to part order (which IS
    # ts order under repartitionByRange) so the replay is the time order
    for src in (c_src, v_src):
        parts = sorted(glob.glob(os.path.join(src, "part-*.parquet")))
        for i, p in enumerate(parts):
            os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))

    c_s = spark.readStream.schema(_EV_SCHEMA).option("maxFilesPerTrigger", 1).parquet(c_src)
    v_s = spark.readStream.schema(_EV_SCHEMA).option("maxFilesPerTrigger", 1).parquet(v_src)
    ES.run_to_parquet(ES.interval_join(c_s, v_s), out, ckpt)

    got = {
        (r.click_id, r.view_id)
        for r in spark.read.parquet(out).select("click_id", "view_id").collect()
    }
    want = {
        (r.click_id, r.view_id)
        for r in ES.interval_join(clicks_b, views_b).select("click_id", "view_id").collect()
    }
    assert got == want and len(want) > 0


def test_streaming_session_windows_match_batch(spark, tmpdir):
    """Append-mode session_window: every session whose close the final
    watermark passed is emitted exactly once and equals the batch
    sessionization. A far-future sentinel event advances the watermark so
    all real sessions finalize under availableNow."""
    from bensp_suite_spark.streaming import event_streams as ES

    ev = _events(spark)
    sentinel = ev.limit(1).select(
        F.lit(999_999_999).alias("event_id"),
        (F.col("ts") + F.expr("INTERVAL 3650 DAYS")).alias("ts"),
        F.lit(-1).cast("long").alias("user_id"),
        F.lit("sentinel").alias("event_type"),
        F.lit(0.0).alias("value"),
    )
    src, out, ckpt = (os.path.join(tmpdir, d) for d in ("src", "out", "ck"))
    # sentinel rides in the same source; watermark is computed per batch
    # from the max event time seen, so by the final batch all real
    # sessions are closed
    ev.unionByName(sentinel).repartition(5).write.parquet(src)

    stream = spark.readStream.schema(_EV_SCHEMA).parquet(src)
    ES.run_to_parquet(ES.session_counts(stream), out, ckpt)

    got = {
        (r.user_id, r.session_start, r.n_events)
        for r in spark.read.parquet(out).filter("user_id >= 0").collect()
    }
    want = {
        (r.user_id, r.session_start, r.n_events)
        for r in ES.session_counts(ev).collect()
    }
    assert got == want and len(want) > 0


def test_interval_join_drops_late_rows_past_watermark(spark, tmpdir):
    """The other half of the watermark contract: rows replayed AFTER the
    watermark passed them are dropped (bounded state, not unbounded
    buffering). Clicks feed in time order except the earliest time-slice
    arrives LAST — those clicks must be late-dropped, and every join row
    that does emit must come from on-time slices."""
    from bensp_suite_spark.streaming import event_streams as ES

    ev = _events(spark)
    clicks_b = ev.filter(F.col("event_type") == "click")
    views_b = ev.filter(F.col("event_type") == "view")
    c_src, v_src, out, ckpt = (os.path.join(tmpdir, d) for d in ("c", "v", "out", "ck"))
    clicks_b.repartitionByRange(4, "ts").write.parquet(c_src)
    views_b.repartitionByRange(4, "ts").write.parquet(v_src)
    c_parts = sorted(glob.glob(os.path.join(c_src, "part-*.parquet")))
    v_parts = sorted(glob.glob(os.path.join(v_src, "part-*.parquet")))
    # views in time order; clicks: slices 2,3,4 first, slice 1 LAST
    for i, p in enumerate(v_parts):
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))
    late_first = c_parts[1:] + [c_parts[0]]
    for i, p in enumerate(late_first):
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))

    c_s = spark.readStream.schema(_EV_SCHEMA).option("maxFilesPerTrigger", 1).parquet(c_src)
    v_s = spark.readStream.schema(_EV_SCHEMA).option("maxFilesPerTrigger", 1).parquet(v_src)
    ES.run_to_parquet(ES.interval_join(c_s, v_s), out, ckpt)

    got_click_ids = {r.click_id for r in spark.read.parquet(out).collect()}
    late_click_ids = {r.event_id for r in spark.read.parquet(c_parts[0]).collect()}
    on_time_with_matches = {
        r.click_id
        for r in ES.interval_join(clicks_b, views_b).collect()
        if r.click_id not in late_click_ids
    }
    # late slice contributed nothing; on-time slices all joined
    assert not (got_click_ids & late_click_ids)
    assert got_click_ids == on_time_with_matches


def test_interval_join_restart_is_exactly_once(spark, tmpdir):
    """Restart semantics: re-running the drained query on the same
    checkpoint emits nothing new; NEWER source files appended after
    restart emit exactly their matches once (file-source offsets + sink
    commit log + retained join state across the restart)."""
    from bensp_suite_spark.streaming import event_streams as ES

    ev = _events(spark)
    clicks_b = ev.filter(F.col("event_type") == "click").persist()
    views_b = ev.filter(F.col("event_type") == "view").persist()
    epoch = F.unix_seconds(F.col("ts").cast("timestamp"))
    med = clicks_b.select(F.percentile(epoch, F.lit(0.5)).alias("m")).collect()[0]["m"]
    early = clicks_b.filter(epoch <= med).persist()
    late = clicks_b.filter(epoch > med).persist()
    c_src, v_src, out, ckpt = (os.path.join(tmpdir, d) for d in ("c", "v", "out", "ck"))
    early.repartitionByRange(2, "ts").write.parquet(c_src)
    views_b.repartitionByRange(2, "ts").write.parquet(v_src)

    # wide interval for a dense match set; watermark >> half the time range
    # so the first drain's watermark can't late-drop the appended newer half
    join_args = dict(interval="12 hours", watermark="10 days")

    def drain():
        c_s = spark.readStream.schema(_EV_SCHEMA).parquet(c_src)
        v_s = spark.readStream.schema(_EV_SCHEMA).parquet(v_src)
        ES.run_to_parquet(ES.interval_join(c_s, v_s, **join_args), out, ckpt)

    drain()
    n1 = spark.read.parquet(out).count()
    assert n1 > 0
    drain()  # restart, no new data -> no new rows (sink commit log)
    assert spark.read.parquet(out).count() == n1
    # append the NEWER half of the clicks, restart again
    late.repartitionByRange(2, "ts").write.mode("append").parquet(c_src)
    drain()
    got = spark.read.parquet(out)
    # exactly-once: no pair duplicated across the three runs, and the
    # total equals the batch join over all clicks
    assert got.groupBy("click_id", "view_id").count().filter("count > 1").count() == 0
    want = ES.interval_join(clicks_b, views_b, **join_args).count()
    assert got.count() == want > n1
    for df in (clicks_b, views_b, early, late):
        df.unpersist()


@pytest.mark.slow
def test_streaming_dedup_ttl_evicts_state_after_horizon(spark, tmpdir):
    """Bounded-state dedup (dropDuplicatesWithinWatermark): a duplicate
    inside the event-time horizon is dropped; once the watermark passes
    the key, its state is evicted and a later re-arrival is admitted as a
    fresh document — state is O(horizon arrival rate), not O(corpus)."""
    import time as _time

    from bensp_suite_spark.streaming import text_dedup_stream as TDS

    src, out, ckpt = (os.path.join(tmpdir, d) for d in ("src", "out", "ckpt"))
    t0 = "2024-01-01 00:00:00"
    batches = [
        [(1, "alpha body", t0)],                      # first occurrence: wins
        [(2, "alpha body", "2024-01-01 00:01:00")],   # dup inside horizon: dropped
        [(3, "other body", "2024-01-01 02:00:00")],   # advances watermark past key
        # eviction applies the advanced watermark at the END of this batch
        [(4, "filler body", "2024-01-01 02:00:10")],
        [(5, "alpha body", "2024-01-01 02:00:30")],   # state evicted: admitted again
    ]
    for rows in batches:
        df = spark.createDataFrame(rows, "doc_id long, text string, ts string").select(
            "doc_id", "text", F.col("ts").cast("timestamp").alias("ts")
        )
        df.coalesce(1).write.mode("append").parquet(src)
        _time.sleep(1.1)  # distinct mtimes → deterministic 1-file-per-trigger order

    stream = (
        spark.readStream.schema("doc_id long, text string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    TDS.stream_exact_dedup_ttl(spark, stream, out, ckpt, horizon="10 minutes")

    got = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert got == {1, 3, 4, 5}, got


def test_streaming_per_key_quota_caps_across_batches(spark, tmpdir, state_provider):
    """transformWithStateInPandas domain balancing: at most `quota` docs
    per source survive the stream, with the counter carried across
    micro-batches in keyed state (both state store providers)."""
    import time as _time

    from bensp_suite_spark.streaming import quota_stream as QS

    src, out, ckpt = (os.path.join(tmpdir, d) for d in ("src", "out", "ckpt"))
    # batch 1: 6 rows each for srcA/srcB; batch 2: 6 more for srcA, 2 for srcC
    b1 = [(i, "srcA") for i in range(6)] + [(100 + i, "srcB") for i in range(6)]
    b2 = [(10 + i, "srcA") for i in range(6)] + [(200 + i, "srcC") for i in range(2)]
    for rows in (b1, b2):
        spark.createDataFrame(rows, "doc_id long, source string").coalesce(1).write.mode(
            "append"
        ).parquet(src)
        _time.sleep(1.1)

    stream = (
        spark.readStream.schema("doc_id long, source string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    QS.stream_per_key_quota(spark, stream, out, ckpt, key="source", quota=10)

    got = spark.read.parquet(out)
    counts = {r.source: r.n for r in got.groupBy("source").agg(F.count("*").alias("n")).collect()}
    # srcA arrived 12 times → capped at 10; srcB/srcC under quota → all kept
    assert counts == {"srcA": 10, "srcB": 6, "srcC": 2}, counts
    # admitted rows are a subset of the input (no duplication/fabrication)
    all_ids = {r.doc_id for r in spark.read.parquet(src).collect()}
    got_ids = [r.doc_id for r in got.collect()]
    assert len(got_ids) == len(set(got_ids)) and set(got_ids) <= all_ids


def test_quota_tws_variant_gated_on_protobuf(spark):
    """The transformWithStateInPandas form is a clearly-marked stub when
    protobuf is absent (this container); on clusters with protobuf it is
    the preferred API and shares the processor logic."""
    from bensp_suite_spark.streaming import quota_stream as QS

    stream = spark.readStream.format("rate").load()
    if QS.tws_available():
        df = QS.per_key_quota_tws(stream.selectExpr("value as doc_id", "'s' as source"),
                                  "source", 5, "doc_id long, source string")
        assert df.isStreaming
    else:
        with pytest.raises(NotImplementedError, match="STUB"):
            QS.per_key_quota_tws(stream, "source", 5, "doc_id long, source string")


def test_streaming_curation_matches_batch_front_half(spark, tmpdir):
    """Streaming quality-filter + dedup admits exactly the docs the batch
    pipeline's quality ∩ dedup-winner stages admit (decontamination and
    packing are batch-side by design — see curation_stream docstring)."""
    from bensp_suite_spark.pipelines import curation as CUR
    from bensp_suite_spark.streaming import curation_stream as CS
    from bensp_suite_spark.tables import load_table

    docs = load_table(spark, SF_CORRECT, "documents").select("doc_id", "source", "text")
    src, out, ckpt = (os.path.join(tmpdir, d) for d in ("src", "out", "ckpt"))
    docs.repartition(5).write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema("doc_id long, source string, text string")
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    CS.stream_curate(spark, stream, out, ckpt)

    got = spark.read.parquet(out)
    kept = {r.doc_id for r in CUR.quality_keep(docs).collect()}
    # arrival order differs from doc_id order, so compare the HASH domain
    # (one winner per hash among quality-kept docs), like the batch test
    import pyspark.sql.functions as SF

    want_hashes = {
        r.h
        for r in docs.join(CUR.quality_keep(docs), "doc_id", "left_semi")
        .select(SF.md5(SF.lower(SF.regexp_replace(SF.trim("text"), r"\s+", " "))).alias("h"))
        .distinct()
        .collect()
    }
    got_rows = got.collect()
    assert {r.content_hash for r in got_rows} == want_hashes
    assert len(got_rows) == len(want_hashes)  # one winner per hash
    assert {r.doc_id for r in got_rows} <= kept  # every winner passed quality
    # per-row JVM quality metrics agree with the batch aggregation path
    batch_stats = {r.doc_id: r.n_tokens for r in CUR.quality_keep(docs).collect()}
    for r in got_rows:
        assert batch_stats[r.doc_id] == r.n_tokens


def test_stream_encode_merge_matches_batch_and_is_idempotent(spark, tmpdir):
    """The throughput-oriented merge sink (all-JVM, parquet winners table)
    produces the same digest multiset + dup counts as the batch pipeline,
    resolves every dup to a live canonical chunk, and writes a commit
    marker per batch."""
    import os as _os

    files = fixtures.synthetic_docs(spark, n_files=24, file_bytes=16384, seed=31)
    src, out, ckpt = (os.path.join(tmpdir, d) for d in ("src", "out", "ckpt"))
    files.repartition(5).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema("file_id long, content binary")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    dedup_stream.stream_encode_merge(spark, stream, out, ckpt)

    got = spark.read.parquet(out)
    assert got.select("batch_id").distinct().count() > 1
    batch = pipeline.deduplicate(pipeline.chunk_files(spark.read.parquet(src)))
    gg = got.groupBy("sha1").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("is_dup"), 1).otherwise(0)).alias("dups"),
    )
    wg = batch.groupBy("sha1").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("is_dup"), 1).otherwise(0)).alias("dups"),
    )
    assert gg.exceptAll(wg).count() == 0 and wg.exceptAll(gg).count() == 0

    dups = got.filter("is_dup").alias("d")
    canon = got.filter("NOT is_dup").alias("c")
    resolved = dups.join(
        canon,
        (F.col("d.canonical_file_id") == F.col("c.file_id"))
        & (F.col("d.canonical_l1") == F.col("c.l1"))
        & (F.col("d.canonical_l2") == F.col("c.l2"))
        & (F.col("d.sha1") == F.col("c.sha1")),
        "left_semi",
    )
    assert resolved.count() == dups.count()
    # test_sink_replay_after_a_lost_commit_writes_the_batch_once replays a batch
    assert _os.listdir(os.path.join(ckpt, "merge_commits")), "no commit markers written"


def test_files_source_default_and_resume_on_append(spark, tmpdir):
    """files_source defaults to the measured trigger knee (256m — the
    whole small fixture drains in ONE batch), and restarting on the same
    checkpoint after appending source files processes exactly the new
    files: the combined output equals the batch encode of everything,
    first-wins preserved across the restart (a pre-restart digest's
    canonical never changes)."""
    files = fixtures.synthetic_docs(spark, n_files=12, file_bytes=16384, seed=33)
    src, out, ckpt = (os.path.join(tmpdir, d) for d in ("src", "out", "ckpt"))
    files.repartition(3).write.mode("overwrite").parquet(src)
    dedup_stream.stream_encode_merge(
        spark, dedup_stream.files_source(spark, src), out, ckpt
    )
    first = spark.read.parquet(out)
    assert first.select("batch_id").distinct().count() == 1  # one 256m trigger
    pre_canon = {
        r["sha1"]: (r["file_id"], r["l1"], r["l2"])
        for r in first.filter("NOT is_dup").collect()
    }
    # append new files, restart on the SAME checkpoint
    fixtures.synthetic_docs(spark, n_files=6, file_bytes=16384, seed=34).repartition(
        2
    ).write.mode("append").parquet(src)
    dedup_stream.stream_encode_merge(
        spark, dedup_stream.files_source(spark, src), out, ckpt
    )
    got = spark.read.parquet(out)
    batch = pipeline.deduplicate(pipeline.chunk_files(spark.read.parquet(src)))
    gg = got.groupBy("sha1").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("is_dup"), 1).otherwise(0)).alias("dups"),
    )
    wg = batch.groupBy("sha1").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("is_dup"), 1).otherwise(0)).alias("dups"),
    )
    assert gg.exceptAll(wg).count() == 0 and wg.exceptAll(gg).count() == 0
    # first-wins durability: canonicals chosen before the restart held
    post_canon = {
        r["sha1"]: (r["file_id"], r["l1"], r["l2"])
        for r in got.filter("NOT is_dup").collect()
    }
    for sha, canon in pre_canon.items():
        assert post_canon[sha] == canon


def test_streaming_quality_reports_per_batch(spark, tmpdir):
    """Per-micro-batch expectation reports: planted violations land in
    the right batch's rows, and every batch reports every check."""
    import time as _time

    from bensp_suite_spark.operators import quality_checks as QC
    from bensp_suite_spark.streaming import quality_stream as QS

    src, out, ckpt = (os.path.join(tmpdir, d) for d in ("src", "out", "ckpt"))
    batches = [
        [(1, 5.0), (2, 5.0)],            # clean
        [(3, -1.0), (4, None), (5, 2.0)],  # one range + one null violation
    ]
    for rows in batches:
        spark.createDataFrame(rows, "id long, score double").coalesce(1).write.mode(
            "append"
        ).parquet(src)
        _time.sleep(1.1)

    stream = (
        spark.readStream.schema("id long, score double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    QS.stream_quality_reports(
        spark, stream,
        [QC.not_null("score"), QC.in_range("score", 0, 10)],
        out, ckpt,
    )
    rep = {
        (r.batch_id, r.check): (r.violations, r.total, r.passed)
        for r in spark.read.parquet(out).collect()
    }
    assert rep[(0, "not_null(score)")] == (0, 2, True)
    assert rep[(0, "in_range(score,0,10)")] == (0, 2, True)
    assert rep[(1, "not_null(score)")] == (1, 3, False)
    assert rep[(1, "in_range(score,0,10)")] == (2, 3, False)  # null counts too


def test_streaming_topk_per_key_matches_batch(spark, tmpdir, state_provider):
    """The bounded top-K heap as keyed state (O2 streaming analog): after
    draining, each key's latest-batch rows equal the batch top-K over all
    data, ranks and tiebreaks included (both state store providers)."""
    from bensp_suite_spark.streaming import topk_stream as TS
    from bensp_suite_spark.tables import load_table

    ev = load_table(spark, SF_CORRECT, "events").select(
        "event_type", "event_id", "value"
    )
    src, out, ckpt = (os.path.join(tmpdir, d) for d in ("src", "out", "ckpt"))
    ev.repartition(5).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema("event_type string, event_id long, value double")
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    TS.stream_topk_per_key(
        spark, stream, out, ckpt, key="event_type", item_col="event_id",
        order_col="value", k=5,
    )

    got_all = spark.read.parquet(out)
    assert got_all.select("batch_id").distinct().count() > 1
    # latest refresh per key = current standings
    latest = got_all.join(
        got_all.groupBy("key").agg(F.max("batch_id").alias("batch_id")),
        ["key", "batch_id"],
    )
    got = {(r.key, r.rank): (r.item_id, r.order_value) for r in latest.collect()}

    w = Window.partitionBy("event_type").orderBy(F.col("value").desc(), "event_id")
    want = {
        (r.event_type, r.rn): (r.event_id, r.value)
        for r in ev.withColumn("rn", F.row_number().over(w)).filter("rn <= 5").collect()
    }
    assert got == want


def test_streaming_passage_dedup_matches_batch_domain(spark, tmpdir, state_provider):
    """Passage-level streaming dedup: exactly one winner per passage
    digest across micro-batches, and the surviving digest set equals the
    batch operator's (winner identity is arrival-order by design). Runs
    under both state store providers."""
    from bensp_suite_spark.operators import dedup_text as DT
    from bensp_suite_spark.streaming import text_dedup_stream as TDS

    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet").limit(300)
    dups = docs.limit(80).select((F.col("doc_id") + 500_000).alias("doc_id"), "text")
    corpus = docs.select("doc_id", "text").unionByName(dups)
    src, out, ckpt = (os.path.join(tmpdir, d) for d in ("src", "out", "ckpt"))
    corpus.repartition(4).write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    TDS.stream_passage_dedup(spark, stream, out, ckpt)

    got = spark.read.parquet(out)
    assert got.groupBy("passage_md5").count().filter("count > 1").count() == 0
    stream_set = {r.passage_md5 for r in got.select("passage_md5").collect()}
    batch_set = {
        r.passage_md5
        for r in DT.passage_dedup(corpus).select("passage_md5").collect()
    }
    assert stream_set == batch_set


def test_quota_processor_logic_matches_contract(spark):
    """The transformWithState quota processor's LOGIC, driven without the
    protobuf worker protocol: a fake ValueState carries the admitted
    counter across simulated micro-batches; admissions cap at the quota
    with the same semantics per_key_quota proves end-to-end."""
    import pandas as pd

    from bensp_suite_spark.streaming import quota_stream as QS

    class FakeState:
        def __init__(self):
            self._v = None

        def exists(self):
            return self._v is not None

        def get(self):
            return self._v

        def update(self, v):
            self._v = tuple(v)

    proc = QS.make_quota_processor(quota=10)
    # init() needs a real handle; wire the state directly
    proc.count_state = FakeState()

    def feed(ids):
        pdf = pd.DataFrame({"doc_id": ids, "source": ["srcA"] * len(ids)})
        return list(proc.handleInputRows(("srcA",), iter([pdf]), None))

    b1 = feed(list(range(6)))          # 6 admitted (0..5)
    b2 = feed(list(range(10, 16)))     # only 4 more fit (10..13)
    b3 = feed(list(range(20, 23)))     # quota exhausted → nothing
    admitted = [int(x) for out in (b1, b2, b3) for pdf in out for x in pdf["doc_id"]]
    assert admitted == [0, 1, 2, 3, 4, 5, 10, 11, 12, 13]
    assert proc.count_state.get() == (10,)


def test_stream_stream_left_outer_interval_join_matches_batch(spark, tmpdir):
    """left_outer interval join: matches emit like the inner join, and
    every unmatched click emits exactly once with NULL view columns
    after the watermark passes its join window. A far-future sentinel
    row in BOTH streams advances the final watermark so availableNow
    flushes the outer results; the set must equal the batch LEFT JOIN."""
    from bensp_suite_spark.streaming import event_streams as ES

    ev = _events(spark)
    clicks_b = ev.filter(F.col("event_type") == "click")
    views_b = ev.filter(F.col("event_type") == "view")

    def sentinel(df):
        return df.limit(1).select(
            F.lit(999_999_999).alias("event_id"),
            (F.col("ts") + F.expr("INTERVAL 3650 DAYS")).alias("ts"),
            F.lit(-1).cast("long").alias("user_id"),
            F.lit("sentinel").alias("event_type"),
            F.lit(0.0).alias("value"),
        )

    c_src, v_src, out, ckpt = (os.path.join(tmpdir, d) for d in ("c", "v", "out", "ck"))
    for src, df in ((c_src, clicks_b), (v_src, views_b)):
        df.repartitionByRange(3, "ts").write.parquet(src)
        parts = sorted(glob.glob(os.path.join(src, "part-*.parquet")))
        # sentinel as the LAST file so the final trigger advances the
        # watermark past every real click's join window
        sent = os.path.join(src, "part-zz-sentinel.parquet")
        sentinel(df).coalesce(1).write.mode("append").parquet(src)
        newest = max(glob.glob(os.path.join(src, "part-*.parquet")),
                     key=os.path.getmtime)
        for i, p in enumerate(parts):
            os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))
        os.utime(newest, (1_700_000_100, 1_700_000_100))

    c_s = spark.readStream.schema(_EV_SCHEMA).option("maxFilesPerTrigger", 1).parquet(c_src)
    v_s = spark.readStream.schema(_EV_SCHEMA).option("maxFilesPerTrigger", 1).parquet(v_src)
    ES.run_to_parquet(ES.interval_join(c_s, v_s, how="left_outer"), out, ckpt)

    got = {
        (r.click_id, r.view_id)
        for r in spark.read.parquet(out).filter("user_id >= 0").collect()
    }
    want = {
        (r.click_id, r.view_id)
        for r in ES.interval_join(clicks_b, views_b, how="left_outer").collect()
    }
    assert got == want
    assert any(v is None for _c, v in want)  # outer rows really exist

    # full_outer on batch: superset of left_outer, adds unmatched views
    fo = {
        (r.click_id, r.view_id)
        for r in ES.interval_join(clicks_b, views_b, how="full_outer").collect()
    }
    assert want <= fo and any(c is None for c, _v in fo)
    # right_outer on batch: matches plus unmatched views only
    ro = {
        (r.click_id, r.view_id)
        for r in ES.interval_join(clicks_b, views_b, how="right_outer").collect()
    }
    inner = {p for p in want if p[1] is not None}
    assert inner <= ro and all(c is not None or v is not None for c, v in ro)
    # key recoverability: unmatched-VIEW rows must still carry the view's
    # user_id (coalesced from the view side) — the output key is never NULL
    for how in ("full_outer", "right_outer"):
        res = ES.interval_join(clicks_b, views_b, how=how)
        assert res.filter(F.col("user_id").isNull()).count() == 0
        unmatched_views = res.filter(F.col("click_id").isNull())
        assert unmatched_views.count() > 0
        view_keys = {r.user_id for r in unmatched_views.collect()}
        assert view_keys <= {r.user_id for r in views_b.collect()}
    import pytest as _pytest
    with _pytest.raises(ValueError, match="unsupported join type"):
        ES.interval_join(clicks_b, views_b, how="left_semi")


def test_stream_kmv_state_is_bounded_and_matches_batch(spark, tmp_path):
    """Per-key KMV streaming state: seq grows per batch, n_hashes is
    capped at k, and the final snapshot equals the batch sketch no
    matter how rows were split across batches."""
    import pyspark.sql.functions as F
    from pyspark.sql.window import Window

    from bensp_suite_spark.operators.sampling import hash_bucket
    from bensp_suite_spark.streaming.event_streams import run_to_parquet
    from bensp_suite_spark.streaming.kmv_stream import stream_kmv_per_key

    k = 8
    rows = [(f"s{i % 2}", f"value-{i}") for i in range(200)]
    df = spark.createDataFrame(rows, "source string, text string")
    hashed = df.select("source", hash_bucket(F.col("text")).alias("h"))
    src = str(tmp_path / "src")
    hashed.repartition(4).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema("source string, h long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    run_to_parquet(
        stream_kmv_per_key(stream, k=k), str(tmp_path / "out"), str(tmp_path / "ck")
    )
    out = spark.read.parquet(str(tmp_path / "out")).collect()
    # one emit per key per batch, 4 single-file batches
    assert sorted({r["seq"] for r in out}) == [1, 2, 3, 4]
    assert all(r["n_hashes"] <= k for r in out)  # state bounded at k
    final = {
        r["source"]: (r["n_hashes"], r["kth_min"])
        for r in out
        if r["seq"] == 4
    }
    batch = {
        r["source"]: (r["n_hashes"], r["kth_min"])
        for r in (
            hashed.distinct()
            .withColumn(
                "rn",
                F.row_number().over(Window.partitionBy("source").orderBy("h")),
            )
            .filter(F.col("rn") <= k)
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_hashes"), F.max("h").alias("kth_min"))
            .collect()
        )
    }
    assert final == batch


def test_stream_restart_resumes_dedup_state_exactly_once(spark, tmp_path):
    """Exactly-once ACROSS RESTARTS: two separate availableNow runs share
    one checkpoint. Run 2 must (a) skip run 1's already-processed source
    files (source tracking) and (b) suppress duplicates of content whose
    winner was emitted in run 1 (STATE continuation) — the restart
    semantics a daily-batch streaming deployment actually depends on."""
    import pyspark.sql.functions as F

    from bensp_suite_spark.streaming.text_dedup_stream import stream_exact_dedup

    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")

    day1 = spark.createDataFrame(
        [(i, f"text-{i % 5}") for i in range(20)], "doc_id long, text string"
    )
    day1.coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    stream_exact_dedup(spark, stream, out, ckpt)
    run1 = spark.read.parquet(out)
    assert run1.count() == 5  # one winner per distinct text

    # day 2: 3 duplicate contents + 2 genuinely new ones
    day2 = spark.createDataFrame(
        [(100 + i, f"text-{i % 8}") for i in range(16)], "doc_id long, text string"
    )
    day2.coalesce(1).write.mode("append").parquet(src)
    stream2 = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    stream_exact_dedup(spark, stream2, out, ckpt)  # SAME checkpoint + sink

    final = spark.read.parquet(out)
    assert final.count() == 8  # 5 from day 1 + exactly the 3 new texts
    # day-1 winners keep their original doc ids: no reprocessing happened
    hashes = {
        r["content_hash"]: r["doc_id"]
        for r in final.select("content_hash", "doc_id").collect()
    }
    day1_ids = {r["doc_id"] for r in run1.collect()}
    assert all(
        hashes[h] in day1_ids
        for h in {r["content_hash"] for r in run1.collect()}
    )
    # every emitted winner's content is distinct exactly once
    assert final.select("content_hash").distinct().count() == 8


@pytest.mark.slow
def test_stream_incremental_dedup_compaction_and_bloom_preserve_flags(spark, tmp_path):
    """The streaming incremental-dedup loop with the packed-bloom prefilter
    AND a mid-stream state roll-up (compact_every=2) produces flags
    byte-identical to the plain uncompacted/bloomless run, while keeping
    the per-table partition count bounded — the O(#batches) listing fix.
    Also: a full replay over the same checkpoint is a no-op."""
    import glob
    import os
    import shutil

    from pyspark.sql import functions as F

    from bensp_suite_spark.streaming.incremental_dedup_stream import (
        seed_signatures,
        stream_incremental_dedup,
    )

    hist = spark.createDataFrame(
        [(i, f"seed corpus doc {i} alpha beta") for i in range(30)],
        "doc_id long, text string",
    )
    slices = [
        spark.createDataFrame(
            [(100, "a fresh stream doc about rivers"),
             (101, "seed corpus doc 3 alpha beta")],       # exact dup of history
            "doc_id long, text string",
        ),
        spark.createDataFrame(
            [(200, "a fresh stream doc about rivers"),      # = slice-0 survivor
             (201, "another fresh doc about glaciers")],
            "doc_id long, text string",
        ),
        spark.createDataFrame(
            [(300, "another fresh doc about glaciers"),     # = slice-1 survivor
             (301, "a genuinely novel third doc")],
            "doc_id long, text string",
        ),
    ]

    def run(base, compact_every, use_bloom):
        src = os.path.join(base, "src")
        os.makedirs(src)
        for i, sl in enumerate(slices):
            tmp = os.path.join(base, f"w{i}")
            sl.coalesce(1).write.mode("overwrite").parquet(tmp)
            part = glob.glob(f"{tmp}/part-*.parquet")[0]
            dst = os.path.join(src, f"s{i}.parquet")
            shutil.move(part, dst)
            os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
        sig = os.path.join(base, "sig")
        seed_signatures(hist, sig, use_bloom=use_bloom)
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        stream_incremental_dedup(
            spark, stream, sig, os.path.join(base, "out"),
            os.path.join(base, "ckpt"), compact_every=compact_every,
        )
        flags = {
            tuple(r)
            for r in spark.read.parquet(os.path.join(base, "out"))
            .drop("batch_id").collect()
        }
        n_parts = len(glob.glob(os.path.join(sig, "hashes", "batch_id=*")))
        return flags, n_parts

    base_a = str(tmp_path / "plain")
    base_b = str(tmp_path / "rolled")
    os.makedirs(base_a); os.makedirs(base_b)
    plain, plain_parts = run(base_a, compact_every=None, use_bloom=False)
    rolled, rolled_parts = run(base_b, compact_every=2, use_bloom=True)
    assert rolled == plain
    got = {r[0]: (r[2], r[4]) for r in plain}  # doc_id -> (exact_dup, is_kept)
    assert got[101] == (True, False)   # history dup
    assert got[200] == (True, False)   # slice-0 survivor copy
    assert got[300] == (True, False)   # slice-1 survivor copy
    assert got[100][1] and got[201][1] and got[301][1]
    assert plain_parts == 4            # seed + 3 batches, unbounded
    assert rolled_parts <= 3           # roll-up fired mid-stream
    assert os.path.exists(os.path.join(base_b, "sig", "bloom.bin"))
    # the per-batch band-bloom advance must PRESERVE the max_hamming meta:
    # the sink's geometry guard drops any band bloom without it, which
    # would silently disable the NEAR prefilter for every later batch
    # (the r7 ADVICE medium finding — flags identical either way, so only
    # this meta assertion can catch it)
    import json as _json
    with open(os.path.join(base_b, "sig", "band_bloom.json")) as fh:
        bb_meta = _json.load(fh)
    assert bb_meta.get("max_hamming") == 3
    # ... and the floor_m geometry (r10 ADVICE): a custom bloom_floor_m
    # set at seed time must survive every per-batch OR-advance rewrite,
    # or the next expiry rebuild falls back to BLOOM_M and the bitset
    # shrinks below the configured floor
    from bensp_suite_spark.operators.dedup_text import BLOOM_M as _BM
    assert bb_meta.get("floor_m") == _BM
    with open(os.path.join(base_b, "sig", "bloom.json")) as fh:
        assert _json.load(fh).get("floor_m") == _BM

    # replay the whole stream over the SAME checkpoint: commit markers make
    # it a no-op — state partition count and flags unchanged
    stream2 = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(base_b, "src"))
    )
    stream_incremental_dedup(
        spark, stream2, os.path.join(base_b, "sig"), os.path.join(base_b, "out"),
        os.path.join(base_b, "ckpt"), compact_every=2,
    )
    replay = {
        tuple(r)
        for r in spark.read.parquet(os.path.join(base_b, "out"))
        .drop("batch_id").collect()
    }
    assert replay == plain


def _write_slices(spark, base, slices):
    """mtime-pinned single-file slices — the established time-ordered
    replay fixture shape."""
    import glob
    import os
    import shutil

    src = os.path.join(base, "src")
    os.makedirs(src)
    for i, rows in enumerate(slices):
        sl = spark.createDataFrame(rows, "doc_id long, text string")
        tmp = os.path.join(base, f"w{i}")
        sl.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = glob.glob(f"{tmp}/part-*.parquet")[0]
        dst = os.path.join(src, f"s{i}.parquet")
        shutil.move(part, dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
    return src


@pytest.mark.slow
def test_stream_incremental_dedup_retention_bounds_state_and_forgets(
    spark, tmp_path
):
    """Streaming retention (retention_window=W): state stays bounded by
    the rolling window over many batches; content re-sighted inside the
    window (exactly OR near) dedupes exactly as full history would;
    content whose newest sighting fell out of the window is FORGOTTEN —
    its later re-crawl flags neither exact_dup nor near_dup (genuinely
    new) and re-enters the state with the new batch. Blooms are rebuilt
    after each expiring roll-up, so the prefilter tracks the surviving
    state. A full replay over the same checkpoint is a no-op."""
    import glob
    import os

    from pyspark.sql import functions as F

    from bensp_suite_spark.streaming.incremental_dedup_stream import (
        SEED_BATCH_ID,
        seed_signatures,
        stream_incremental_dedup,
    )

    hist = spark.createDataFrame(
        [(1, "stale seed doc never seen again words"),
         (2, "evergreen doc recrawled every batch words")],
        "doc_id long, text string",
    )
    evergreen = "evergreen doc recrawled every batch words"
    fresh = "batch zero doc about comets"
    slices = [
        # batch 0: re-sights the evergreen seed doc + one fresh doc
        [(100, evergreen), (101, fresh)],
        # batch 1: re-sights evergreen + a NEAR variant of batch 0's
        # fresh doc (keeps its FINGERPRINT alive via matched_history_sims
        # even though its hash is never exactly re-sighted)
        [(200, evergreen), (201, fresh + " xx")],
        # batch 2 — its roll-up cutoff is 0, expiring the never-re-sighted
        # seed rows (stamped −1): the stale doc re-crawled is genuinely
        # NEW and re-enters the state @2; evergreen stays exact_dup
        [(300, "stale seed doc never seen again words"),
         (301, evergreen)],
        # batch 3 — roll-up cutoff 1: fresh's HASH (last exact sighting
        # batch 0) expires, but its FINGERPRINT (near-matched at batch 1)
        # lives → an exact re-crawl flags near_dup, not exact_dup (the
        # documented conservative edge, now streaming)
        [(400, fresh), (401, evergreen)],
    ]
    base = str(tmp_path / "ret")
    os.makedirs(base)
    src = _write_slices(spark, base, slices)
    sig = os.path.join(base, "sig")
    seed_signatures(hist, sig, use_bloom=True)

    def run():
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        stream_incremental_dedup(
            spark, stream, sig, os.path.join(base, "out"),
            os.path.join(base, "ckpt"), compact_every=2, retention_window=2,
        )
        return {
            r["doc_id"]: (r["exact_dup"], r["near_dup"], r["is_kept"])
            for r in spark.read.parquet(os.path.join(base, "out")).collect()
        }

    flags = run()
    # in-window semantics = full history (batches 0 and 1 see everything);
    # an exact copy is also a near-dup at hamming 0, so only exact_dup
    # and is_kept pin identity
    assert (flags[100][0], flags[100][2]) == (True, False)
    assert flags[101][2]                       # fresh → kept
    assert (flags[200][0], flags[200][2]) == (True, False)
    assert flags[201] == (False, True, False)  # near variant of in-state doc
    # forget semantics at batch 2 (cutoff 0: seed rows stamped −1 expire
    # unless re-sighted):
    assert flags[300] == (False, False, True)  # stale seed doc: forgotten
    assert (flags[301][0], flags[301][2]) == (True, False)
    # batch 3 (cutoff 1): fresh's hash forgot, its fingerprint remembers
    assert flags[400] == (False, True, False)
    assert (flags[401][0], flags[401][2]) == (True, False)

    # boundedness: the rolled partition no longer carries fresh's hash
    # (expired at the batch-3 roll-up; its near-dup re-crawl was rejected,
    # so it never re-entered), and the partition count is bounded
    fresh_hash = spark.createDataFrame([(0, fresh)], "doc_id long, text string").select(
        F.md5(F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")))
        .alias("h")
    ).collect()[0]["h"]
    hashes_all = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(sig, "hashes")
    )
    assert (
        hashes_all.filter(F.col("content_hash") == fresh_hash).count() == 0
    )
    # the forgotten-then-recrawled stale doc re-entered stamped @2
    stale_hash = hist.filter("doc_id = 1").select(
        F.md5(F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")))
        .alias("h")
    ).collect()[0]["h"]
    stale_rows = hashes_all.filter(
        F.col("content_hash") == stale_hash
    ).collect()
    assert stale_rows and all(r["last_seen"] >= 2 for r in stale_rows)
    n_parts = len(glob.glob(os.path.join(sig, "hashes", "batch_id=*")))
    assert n_parts <= 3

    # replay over the same checkpoint: commit markers make it a no-op
    assert run() == flags


@pytest.mark.slow
def test_stream_retention_state_bounded_under_rolling_window(spark, tmp_path):
    """Boundedness proper: N batches of fully-novel content through a
    retention window W — the surviving hash state after the run carries
    only the last ~W batches' content, not the stream's lifetime (the
    unbounded-keyed-state fix for a continuously-running crawl dedup)."""
    import glob
    import os

    from bensp_suite_spark.streaming.incremental_dedup_stream import (
        seed_signatures,
        stream_incremental_dedup,
    )

    n_batches, per_batch, window = 8, 5, 2
    slices = [
        [(b * 100 + i, f"unique doc {b}-{i} " + " ".join(
            f"w{b}{i}{j}" for j in range(6)))
         for i in range(per_batch)]
        for b in range(n_batches)
    ]
    base = str(tmp_path / "bound")
    os.makedirs(base)
    src = _write_slices(spark, base, slices)
    sig = os.path.join(base, "sig")
    seed_signatures(
        spark.createDataFrame([], "doc_id long, text string"), sig,
        use_bloom=False,
    )
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    stream_incremental_dedup(
        spark, stream, sig, os.path.join(base, "out"),
        os.path.join(base, "ckpt"), compact_every=2, retention_window=window,
    )
    total_ever = n_batches * per_batch
    state_rows = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(sig, "hashes")
    ).count()
    # without retention the state would hold all 40 hashes; with W=2 and
    # roll-ups every 2 batches it holds at most the batches since the
    # last cutoff (cutoff advances with batch_id, so ≤ W + compact_every
    # batches' worth survive)
    assert state_rows <= (window + 2) * per_batch
    assert state_rows < total_ever
    # every doc was novel → all kept
    out = spark.read.parquet(os.path.join(base, "out"))
    assert out.filter("is_kept").count() == total_ever


@pytest.mark.slow
def test_compaction_rollup_writes_hash_bucketed_multifile_seed(spark, tmp_path):
    """The roll-up's merged seed is a hash-bucketed MULTI-FILE partition,
    never a coalesce(1) single-writer funnel (the r9 verdict's one scale-
    killer): under a forced-small ``maxRecordsPerFile`` the seed directory
    holds >1 parquet file after a roll-up, and flags stay byte-identical
    to the unsplit run — for both the plain and the retention loop. The
    groupBy inside the roll-up already hash-partitions the state by value,
    so the multi-file write costs zero extra shuffle; readers glob the
    directory and the rename-swap protocol moves it atomically."""
    import glob
    import os

    from bensp_suite_spark.streaming.incremental_dedup_stream import (
        SEED_BATCH_ID,
        seed_signatures,
        stream_incremental_dedup,
    )

    hist = spark.createDataFrame(
        [(i, f"bucketed seed doc {i} " + " ".join(f"t{i}{j}" for j in range(5)))
         for i in range(24)],
        "doc_id long, text string",
    )
    slices = [
        [(100, "bucketed seed doc 3 t30 t31 t32 t33 t34"),   # exact history dup
         (101, "a novel batch zero doc about canyons")],
        [(200, "a novel batch zero doc about canyons"),       # batch-0 survivor
         (201, "a second novel doc about fjords")],
        [(300, "a third novel doc about steppes"),
         (301, "a novel batch zero doc about canyons")],
    ]

    def run(tag, split_files, retention):
        base = str(tmp_path / tag)
        os.makedirs(base)
        src = _write_slices(spark, base, slices)
        sig = os.path.join(base, "sig")
        old = spark.conf.get("spark.sql.files.maxRecordsPerFile", "0")
        try:
            if split_files:
                spark.conf.set("spark.sql.files.maxRecordsPerFile", "4")
            seed_signatures(hist, sig, use_bloom=True)
            stream = (
                spark.readStream.schema("doc_id long, text string")
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
            # retention_window=10 over 3 batches: the retention code path
            # runs in full (stamps, re-sighting rows, expiring roll-up +
            # bloom rebuild) but the cutoff stays negative, so the seed
            # KEEPS its 24+ rows — a tight window would expire the seed
            # down to a handful of hashes and the multi-file assertion
            # below would be vacuous
            stream_incremental_dedup(
                spark, stream, sig, os.path.join(base, "out"),
                os.path.join(base, "ckpt"), compact_every=2,
                retention_window=10 if retention else None,
            )
        finally:
            spark.conf.set("spark.sql.files.maxRecordsPerFile", old)
        flags = {
            tuple(r)
            for r in spark.read.parquet(os.path.join(base, "out"))
            .drop("batch_id").collect()
        }
        seed_files = glob.glob(
            os.path.join(sig, "hashes", f"batch_id={SEED_BATCH_ID}", "*.parquet")
        )
        return flags, len(seed_files)

    for retention in (False, True):
        sfx = "ret" if retention else "plain"
        one_file, _ = run(f"unsplit_{sfx}", split_files=False, retention=retention)
        split, n_seed = run(f"split_{sfx}", split_files=True, retention=retention)
        assert split == one_file  # layout never changes flags
        # the roll-up fired (compact_every=2 over 3 batches) and its
        # merged seed came out multi-file — 24+ seed hashes at 4 rows/file
        assert n_seed > 1


@pytest.mark.slow
def test_stream_maintained_index_equals_batch_upserts_and_replays(spark, tmp_path):
    """Streaming index maintenance (the r9 verdict's #2): per-batch
    dedup SURVIVORS upsert a routed-PQ index from inside the stream's
    ``on_survivors`` hook. The final streamed index must be BIT-IDENTICAL
    to sequential batch upserts over the same survivor sets, and the
    upsert must be replay-idempotent — re-applying a batch (the crashed-
    sink case) changes nothing. Dup docs planted in batch 1 must keep
    their vectors OUT of the index."""
    import hashlib

    from bensp_suite_spark.operators import graph_ann as GA
    from bensp_suite_spark.streaming.incremental_dedup_stream import (
        seed_signatures,
        stream_incremental_dedup,
    )

    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    base_emb = emb.filter("vec_id < 400")

    def txt(tag, i):
        return " ".join(
            hashlib.md5(f"{tag}-{i}-{j}".encode()).hexdigest() for j in (1, 2, 3)
        )

    slices = [
        [(400 + i, txt("sx", 400 + i)) for i in range(25)],
        # first 5 docs of batch 1 duplicate batch-0 docs → rejected
        [(425 + i, txt("sx", 400 + i) if i < 5 else txt("sx", 425 + i))
         for i in range(25)],
    ]
    base = str(tmp_path / "maint")
    os.makedirs(base)
    src = _write_slices(spark, base, slices)
    stream_idx = os.path.join(base, "stream_idx")
    batch_idx = os.path.join(base, "batch_idx")
    for p in (stream_idx, batch_idx):
        GA.save_nsw_routed_pq_index(
            base_emb, p, n_cells=8, m=8, ef_build=24, n_subspaces=8,
            n_centroids=16,
        )
    seed_signatures(
        spark.createDataFrame([], "doc_id long, text string"),
        os.path.join(base, "sig"), use_bloom=False,
    )
    upserted_batches = []

    def maintain(survivors, batch_id):
        add = emb.join(
            survivors.select(F.col("doc_id").alias("vec_id")), "vec_id",
            "left_semi",
        )
        upserted_batches.append(sorted(r["vec_id"] for r in add.select("vec_id").collect()))
        GA.upsert_nsw_routed_pq_index(add, emb, stream_idx)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    stream_incremental_dedup(
        spark, stream, os.path.join(base, "sig"), os.path.join(base, "flags"),
        os.path.join(base, "ckpt"), compact_every=None,
        on_survivors=maintain,
    )
    assert upserted_batches[0] == list(range(400, 425))
    assert upserted_batches[1] == list(range(430, 450))  # 425-429 rejected

    def graph_rows(path):
        return {
            (r["shard"], r["pos"]): (r["vec_id"], tuple(r["codes"]), tuple(r["nbrs"]))
            for r in spark.read.parquet(path + "/graph").collect()
        }

    # batch path: same survivor sets, sequential upserts → bit-identical
    for ids in upserted_batches:
        GA.upsert_nsw_routed_pq_index(
            emb.filter(F.col("vec_id").isin(ids)), emb, batch_idx
        )
    want = graph_rows(batch_idx)
    assert graph_rows(stream_idx) == want
    # rejected duplicates' vectors are NOT in the index
    indexed = {v for v, _, _ in want.values()}
    assert indexed.isdisjoint(set(range(425, 430)))
    # replay idempotency: re-applying the last batch changes nothing
    GA.upsert_nsw_routed_pq_index(
        emb.filter(F.col("vec_id").isin(upserted_batches[1])), emb, batch_idx
    )
    assert graph_rows(batch_idx) == want
    # and the routed (raw) variant shares the contract
    raw_idx = os.path.join(base, "raw_idx")
    GA.save_nsw_routed_index(base_emb, raw_idx, n_cells=8, m=8, ef_build=24)
    add = emb.filter("vec_id >= 400 and vec_id < 420")
    GA.upsert_nsw_routed_index(add, raw_idx)
    raw_once = {
        (r["shard"], r["pos"]): (r["vec_id"], tuple(r["nbrs"]))
        for r in spark.read.parquet(raw_idx + "/graph").collect()
    }
    GA.upsert_nsw_routed_index(add, raw_idx)
    raw_twice = {
        (r["shard"], r["pos"]): (r["vec_id"], tuple(r["nbrs"]))
        for r in spark.read.parquet(raw_idx + "/graph").collect()
    }
    assert raw_twice == raw_once


def test_bloom_geometry_scales_with_history_cardinality(spark, tmp_path):
    """Cardinality-scaled blooms (r9 verdict #2): a fixed-capacity bitset
    saturates as history grows — fill → 1 and the prefilter degrades into
    a correct-but-useless scan tax. ``sized_bloom_m`` sizes ``m`` from
    the state's own cardinality at SEED and at every expiry REBUILD:
    (a) the sizing math keeps fill < 0.5 at 10× a floor's comfort zone,
    (b) a seeded history 10× the floor's comfort gets a measured fill
    well under 0.5 with the sized m in the sidecar meta, and (c) a
    rebuild over grown state re-sizes upward from the floor."""
    import glob
    import json
    import math
    import os

    from pyspark.sql import functions as F

    from bensp_suite_spark.operators.dedup_text import (
        BLOOM_K,
        BLOOM_TARGET_FILL,
        sized_bloom_m,
    )
    from bensp_suite_spark.operators.sketches import bloom_fill_ratio_packed
    from bensp_suite_spark.signature_state import read_bloom, rebuild_blooms
    from bensp_suite_spark.streaming.incremental_dedup_stream import seed_signatures

    # (a) pure sizing rule, at the default floor and a small one: 10× the
    # comfort-zone cardinality still lands under the design fill
    for floor in (1 << 10, 1 << 20):
        comfort = int(floor * -math.log1p(-BLOOM_TARGET_FILL) / BLOOM_K)
        n = 10 * comfort
        m = sized_bloom_m(n, BLOOM_K, floor=floor)
        fill = 1.0 - math.exp(-BLOOM_K * n / m)
        assert m > floor
        assert fill <= BLOOM_TARGET_FILL + 1e-9 < 0.5
    # small histories keep the floor geometry; the cap clamps the top
    assert sized_bloom_m(10, BLOOM_K, floor=1 << 20) == 1 << 20
    assert sized_bloom_m(10**12, BLOOM_K, floor=1 << 20) == 1 << 30

    # (b) seed integration: a history 10× the (test-small) floor's
    # comfort zone — the seeded bitset must be sized, not saturated
    floor = 1 << 10
    n_docs = 10 * int(floor * -math.log1p(-BLOOM_TARGET_FILL) / BLOOM_K)
    hist = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("scaled doc "), F.md5(F.col("id").cast("string"))).alias(
            "text"
        ),
    )
    sig = str(tmp_path / "sig")
    seed_signatures(hist, sig, use_bloom=True, bloom_floor_m=floor)
    packed, m_h, k = read_bloom(sig)
    assert m_h > floor
    measured = bloom_fill_ratio_packed(packed, m_h)
    assert 0.0 < measured < 0.5
    with open(os.path.join(sig, "bloom.json")) as fh:
        meta = json.load(fh)
    assert meta["m"] == m_h and meta["floor_m"] == floor
    bb_packed, m_b, _ = read_bloom(sig, "band_bloom")
    assert m_b > floor
    assert bloom_fill_ratio_packed(bb_packed, m_b) < 0.5

    # (c) rebuild-time resize: seed TINY (floor geometry), grow the state
    # by a fake committed batch partition, rebuild → m grows; the sink's
    # in-memory cache follows
    sig2 = str(tmp_path / "sig2")
    seed_signatures(hist.limit(5), sig2, use_bloom=True, bloom_floor_m=floor)
    assert read_bloom(sig2)[1] == floor
    grown_h = spark.range(n_docs).select(
        F.md5(F.concat(F.lit("grown"), F.col("id").cast("string"))).alias(
            "content_hash"
        ),
        F.lit(0).cast("long").alias("last_seen"),
    )
    grown_h.write.mode("overwrite").parquet(
        os.path.join(sig2, "hashes", "batch_id=0")
    )
    spark.read.parquet(os.path.join(sig2, "sims", "batch_id=-1")).write.mode(
        "overwrite"
    ).parquet(os.path.join(sig2, "sims", "batch_id=0"))
    cache: dict = {}
    rebuild_blooms(spark, sig2, cache, max_hamming=3)
    packed2, m2, _ = read_bloom(sig2)
    assert m2 > floor
    assert bloom_fill_ratio_packed(packed2, m2) < 0.5
    assert cache["bloom"][1] == m2


def test_compact_signature_state_self_heals_interrupted_swap(spark, tmp_path):
    """compact_signature_state's swap is two renames (root→bak, tmp→root);
    a crash between them leaves the table root MISSING. On the next entry
    the function must restore the leftover bak as the root and re-run the
    merge — without the self-heal, the state read fails and manual
    recovery is needed (the r7 ADVICE finding)."""
    import os
    import shutil

    from bensp_suite_spark.streaming.incremental_dedup_stream import (
        SEED_BATCH_ID,
        compact_signature_state,
        seed_signatures,
    )

    hist = spark.createDataFrame(
        [(i, f"doc {i} text body") for i in range(10)],
        "doc_id long, text string",
    )
    sig = str(tmp_path / "sig")
    seed_signatures(hist, sig, use_bloom=False)
    # fabricate two committed batch partitions by copying the seed
    for table in ("hashes", "sims"):
        seed_part = os.path.join(sig, table, f"batch_id={SEED_BATCH_ID}")
        for b in (0, 1):
            shutil.copytree(seed_part, os.path.join(sig, table, f"batch_id={b}"))
    want = {
        r["content_hash"]
        for r in spark.read.parquet(os.path.join(sig, "hashes")).collect()
    }
    # simulate the crash window: root renamed to bak, tmp never promoted
    hashes_root = os.path.join(sig, "hashes")
    os.rename(hashes_root, hashes_root + "._compact_old")
    assert not os.path.exists(hashes_root)
    merged = compact_signature_state(spark, sig, {0, 1})
    assert merged >= 3  # seed + 2 batches merged after the heal
    got_df = spark.read.parquet(hashes_root)  # root exists again
    assert {r["content_hash"] for r in got_df.collect()} == want
    n_parts = len(
        [p for p in os.listdir(hashes_root) if p.startswith("batch_id=")]
    )
    assert n_parts == 1


# ---------------------------------------------------------------------------
# The shared sink layer (streaming/_sink.py)
# ---------------------------------------------------------------------------


def _replay_case(spark, case, src):
    """Writes a two-file source at ``src``; → (schema, run(stream, out, ckpt))."""
    from bensp_suite_spark.operators import quality_checks as QC
    from bensp_suite_spark.streaming import ann_stream, ferret_stream
    from bensp_suite_spark.streaming import quality_stream, topk_stream

    if case.startswith("stream_encode"):
        df, key = fixtures.synthetic_docs(spark, n_files=2, file_bytes=4096, seed=5), "file_id"
        run = lambda s, o, c: getattr(dedup_stream, case)(spark, s, o, c)
    elif case == "ferret":
        corpus = FF.synthetic_corpus(spark, m=8, n_clusters=2)
        df, key = FF.synthetic_queries(spark, corpus, q=2), "image_id"
        run = lambda s, o, c: ferret_stream.stream_similarity_search(
            spark, s, corpus, o, c, top_k=2
        )
    elif case == "topk":
        df = spark.read.parquet(f"{SF_CORRECT}/events.parquet")
        df, key = df.select("event_type", "event_id", "value"), "event_id"
        run = lambda s, o, c: topk_stream.stream_topk_per_key(
            spark, s, o, c, key="event_type", item_col="event_id", order_col="value", k=3
        )
    elif case == "quality":
        df, key = spark.range(6).selectExpr("id", "CAST(id - 1 AS double) AS score"), "id"
        checks = [QC.not_null("score"), QC.in_range("score", 0, 10)]
        run = lambda s, o, c: quality_stream.stream_quality_reports(
            spark, s, checks, o, c
        )
    else:
        emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet")
        df, key = emb.filter("vec_id < 4"), "vec_id"
        run = lambda s, o, c: ann_stream.stream_ann_topk(spark, s, emb, o, c, k=3)
    df.repartitionByRange(2, key).write.parquet(src)
    return df.schema, run


@pytest.mark.parametrize(
    "case", ["stream_encode", "ferret", "topk", "quality", "ann_bruteforce", "stream_encode_merge"]
)
def test_sink_replay_after_a_lost_commit_writes_the_batch_once(spark, tmpdir, case):
    """A crash after the sink wrote its last batch but before Spark logged
    that batch's commit: deleting ``commits/N`` makes the rerun replay
    batch N with the same id, and the sink must end with the same rows."""
    from bensp_suite_spark.queries import _stateful_stream_parts

    src, out, ckpt = (os.path.join(tmpdir, d) for d in ("src", "out", "ckpt"))
    schema, run = _replay_case(spark, case, src)

    def drain():
        stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
        with _stateful_stream_parts(spark, src):  # 2 shuffle partitions for a tiny source
            run(stream, out, ckpt)
        return sorted(tuple(map(repr, r)) for r in spark.read.parquet(out).collect())

    first = drain()
    commits = os.path.join(ckpt, "commits")
    last = max(int(n) for n in os.listdir(commits) if n.isdigit())
    assert first and last >= 1, "the source should drain in two triggers"
    for name in (str(last), f".{last}.crc"):
        os.remove(os.path.join(commits, name))
    assert drain() == first


@pytest.mark.parametrize("scheme", ["", "file://"])
def test_markers_list_what_they_mark(spark, tmpdir, scheme):
    commits = _sink.Markers(spark, scheme + os.path.join(tmpdir, "commits"))
    assert commits.ids() == set() and not commits.done(0)
    for batch_id in (2, 0, -1):
        commits.mark(batch_id)
    assert commits.ids() == {-1, 0, 2} and commits.done(2) and not commits.done(1)
    # the checksum side files Hadoop's local FS writes are not markers
    assert any(n.endswith(".crc") for n in os.listdir(os.path.join(tmpdir, "commits")))
    parts = _sink.Markers(spark, scheme + os.path.join(tmpdir, "t"), prefix="batch_id=")
    _sink.write_batch(spark.range(1), parts.dir, 3)
    assert parts.ids() == {3} and parts.done(3)


def test_stream_ferret_releases_only_the_corpus_cache_it_made(spark, tmpdir):
    """The corpus cache belongs to the call, not to its batches: an empty
    source drains in no trigger and still shows it."""
    from bensp_suite_spark.streaming import ferret_stream

    corpus = FF.synthetic_corpus(spark, m=4, n_clusters=2)
    os.makedirs(os.path.join(tmpdir, "src"))

    def search(run):
        stream = spark.readStream.schema(corpus.schema).parquet(os.path.join(tmpdir, "src"))
        out, ckpt = (os.path.join(tmpdir, f"{d}{run}") for d in ("out", "ckpt"))
        ferret_stream.stream_similarity_search(spark, stream, corpus, out, ckpt)

    search(1)
    assert corpus.storageLevel == StorageLevel.NONE
    corpus.cache()
    try:
        search(2)
        assert corpus.storageLevel != StorageLevel.NONE
    finally:
        corpus.unpersist()


def test_streams_sink_only_through_the_sink_module():
    """foreachBatch, availableNow triggers, mode("append") writes and
    Hadoop fs.Path constructions appear in streaming/ only in _sink.py."""
    banned = ("foreachBatch(", "availableNow=", ".mode('append')", "fs.Path(")
    found = [
        f"{path.name}:{node.lineno}"
        for path in pathlib.Path(_sink.__file__).parent.glob("*.py")
        if path.name != "_sink.py"
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Call) and any(b in ast.unparse(node) for b in banned)
    ]
    assert found == []


def test_stream_encode_runs_the_state_function_once_per_group(spark, tmpdir, monkeypatch):
    """stream_encode's ordered write plans a range-sampling job before the
    write job; the batch is pinned, so the stateful operator's Python
    function still runs once per (batch, digest) group."""
    from bensp_suite_spark.queries import _stateful_stream_parts

    calls = spark.sparkContext.accumulator(0)
    state_fn = dedup_stream._dedup_state_fn

    def counted(key, pdfs, state):
        calls.add(1)
        yield from state_fn(key, pdfs, state)

    monkeypatch.setattr(dedup_stream, "_dedup_state_fn", counted)
    src, out, ckpt = (os.path.join(tmpdir, d) for d in ("src", "out", "ckpt"))
    docs = fixtures.synthetic_docs(spark, n_files=2, file_bytes=4096, seed=5)
    docs.repartitionByRange(2, "file_id").write.parquet(src)
    stream = spark.readStream.schema(docs.schema).option("maxFilesPerTrigger", 1).parquet(src)
    with _stateful_stream_parts(spark, src):
        dedup_stream.stream_encode(spark, stream, out, ckpt)
    groups = spark.read.parquet(out).select("batch_id", "sha1").distinct().count()
    assert groups > 0 and calls.value == groups


def test_signature_state_has_one_home():
    """daily_cli and the incremental stream drive signature_state.py and
    touch no state file themselves; the directory swap is written once
    (operators/layout.swap_dir), and the bloom OR-advance and the banded
    history join each have one caller outside their defining modules."""
    pkg = pathlib.Path(_sink.__file__).parents[1]
    for rel in ("daily_cli.py", "streaming/incremental_dedup_stream.py"):
        text = (pkg / rel).read_text()
        for banned in ("os.rename", "os.replace", "shutil", "open(", "_compact_"):
            assert banned not in text, (rel, banned)
    sources = {p.relative_to(pkg).as_posix(): p.read_text() for p in pkg.rglob("*.py")}
    assert sum(t.count("._compact_old") for t in sources.values()) == 1

    def callers(fn):
        return [
            f"{rel}:{node.lineno}"
            for rel, text in sources.items()
            for node in ast.walk(ast.parse(text))
            if isinstance(node, ast.Call)
            and getattr(node.func, "id", getattr(node.func, "attr", None)) == fn
        ]

    for fn, home in (
        ("bloom_merge_packed", "operators/sketches.py"),
        ("matched_history_pairs", "operators/dedup_text.py"),
    ):
        assert len([c for c in callers(fn) if not c.startswith(home + ":")]) == 1, fn


def test_daily_cli_no_bloom_step_still_advances_the_bloom(spark, tmp_path):
    """``daily_cli step --no-bloom`` skips only the bloom probe: the day's
    survivors still enter ``bloom.bin``, so a later step that probes it
    cannot miss a copy of them."""
    from bensp_suite_spark.operators.sketches import bloom_maybe_contains_packed
    from bensp_suite_spark.signature_state import read_bloom

    paths = {n: str(tmp_path / n) for n in ("hist", "day1", "sig", "flags")}
    spark.createDataFrame(
        [(i, f"history document {i}") for i in range(4)], "doc_id long, text string"
    ).write.parquet(paths["hist"])
    spark.createDataFrame(
        [(100, "a fresh document the step keeps")], "doc_id long, text string"
    ).write.parquet(paths["day1"])
    # both commands in one interpreter, so the test starts one JVM
    script = (
        "from bensp_suite_spark.daily_cli import main\n"
        f"assert main(['init', {paths['hist']!r}, {paths['sig']!r}]) == 0\n"
        f"assert main(['step', {paths['day1']!r}, {paths['sig']!r}, "
        f"{paths['flags']!r}, '--no-bloom']) == 0\n"
    )
    r = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, cwd=tmp_path,
        env=dict(os.environ, PYTHONPATH=REPO, SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g"),
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert [row.is_kept for row in spark.read.parquet(paths["flags"]).collect()] == [True]
    survivor = spark.read.parquet(os.path.join(paths["sig"], "hashes", "step=day1"))
    packed, m, k = read_bloom(paths["sig"])
    probed = bloom_maybe_contains_packed(survivor, "content_hash", packed, m=m, k=k)
    assert [row.bloom_maybe for row in probed.collect()] == [True]
