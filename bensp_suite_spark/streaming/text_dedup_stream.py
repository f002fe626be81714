"""Streaming document dedup — the LLM-data generalization of the streaming
chunk dedup (T8): documents arrive as a stream, first occurrence of each
normalized content hash wins, duplicates are dropped across micro-batches.

`dropDuplicates` on a streaming DataFrame is exactly the reference's
unbounded fingerprint hashtable (encoder.c:1520) as managed keyed state:
partitioned on the digest, RocksDB-backed at scale, checkpoint-durable
(the same recovery semantics tests/test_streaming.py proves for chunks).
Without a watermark the state is unbounded — correct for dedup, where a
duplicate must be caught no matter how late it arrives."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ._sink import run_to_parquet


def hashed_docs(docs: DataFrame, normalized: bool = True) -> DataFrame:
    """(doc_id, content_hash) with the same normalization as the batch
    exact_dedup (operators/dedup_text.py) — works on batch or streaming
    DataFrames."""
    t = F.col("text")
    if normalized:
        t = F.lower(F.regexp_replace(F.trim(t), r"\s+", " "))
    return docs.select("doc_id", F.md5(t).alias("content_hash"))


def stream_exact_dedup(
    spark: SparkSession,
    docs_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
) -> None:
    """Run the streaming first-wins document dedup to a parquet sink
    (availableNow: drains whatever is in the source, T5)."""
    winners = hashed_docs(docs_stream).dropDuplicates(["content_hash"])
    run_to_parquet(winners, out_dir, checkpoint_dir)


def stream_exact_dedup_ttl(
    spark: SparkSession,
    docs_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    *,
    event_time_col: str = "ts",
    horizon: str = "10 minutes",
) -> None:
    """Bounded-state streaming dedup: first occurrence wins while the key
    is inside the event-time ``horizon``; state for keys older than the
    watermark is evicted, so a duplicate arriving after the horizon is
    admitted again as a fresh document.

    This is the 100 TB knob the unbounded variant lacks: exact-forever
    dedup state grows with the distinct-key count (every fingerprint ever
    seen — the reference's hashtable, encoder.c:1520, which only survives
    because its corpus fits one machine). ``dropDuplicatesWithinWatermark``
    keeps the per-key state RocksDB-resident only until the watermark
    passes it, making state size proportional to the horizon's key arrival
    rate, not corpus lifetime. Use the unbounded form when global
    exactness is required and the key space is budgeted; use this form
    for continuous ingestion where near-in-time duplicates dominate
    (crawl re-fetches, retry storms, mirror bursts)."""
    hashed = docs_stream.select(
        "doc_id",
        F.col(event_time_col).alias("event_ts"),
        F.md5(F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))).alias(
            "content_hash"
        ),
    )
    winners = hashed.withWatermark("event_ts", horizon).dropDuplicatesWithinWatermark(
        ["content_hash"]
    )
    run_to_parquet(winners, out_dir, checkpoint_dir)


def stream_passage_dedup(
    spark: SparkSession,
    docs_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    words_per_passage: int = 20,
) -> None:
    """Streaming sub-document (passage-level) dedup: documents arrive as a
    stream, explode into fixed-width md5-addressed passages (the batch
    operator's exact passage table — operators/dedup_text.passages is
    pure expressions, so it runs unchanged on a streaming DataFrame), and
    the first arrival of each passage digest wins across micro-batches.

    Winner IDENTITY is arrival-order (the streaming analog of first-wins;
    batch first-wins is (doc_id, passage_idx)-order), but the surviving
    passage-digest SET is identical to the batch operator's — the parity
    the test pins. State: one entry per distinct passage digest, keyed on
    the digest, RocksDB-backed at scale, unbounded by design (a duplicate
    passage must be caught however late it arrives; use a
    dropDuplicatesWithinWatermark variant like stream_exact_dedup_ttl
    when continuous ingestion needs bounded state)."""
    from ..operators.dedup_text import passages

    winners = passages(docs_stream, words_per_passage).dropDuplicates(
        ["passage_md5"]
    )
    run_to_parquet(winners, out_dir, checkpoint_dir)
