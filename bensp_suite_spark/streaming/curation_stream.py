"""Streaming corpus curation: the quality-filter → exact-dedup front half
of the batch curation pipeline (pipelines/curation.py), run continuously
over arriving documents.

Stage placement follows what each rule needs:

- The Gopher-style quality rule is per-document and therefore STATELESS —
  it evaluates as pure JVM expressions (higher-order array functions on
  the token split) inside the micro-batch, no keyed state, no Python.
- Exact dedup is the only stateful stage: `dropDuplicates` on the
  normalized content hash (the reference's fingerprint hashtable as
  managed keyed state, RocksDB-backed at scale).

Decontamination and packing stay batch-side by design: the benchmark gram
set is a static broadcast (join it stream-static if needed), while packing
assigns offsets from a TOTAL order over the corpus — a property a
continuous stream cannot finalize until a shard closes, so packing runs as
the batch step over each completed shard (the standard bulk-then-pack
layout of training-data builds).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..pipelines.curation import MAX_TOP_TOKEN_FRAC, MIN_UNIQUE_RATIO, MIN_WORDS
from ._sink import run_to_parquet


def quality_expr_columns(docs: DataFrame) -> DataFrame:
    """Per-row quality metrics as JVM expressions (no aggregation, no
    Python): n_tokens, unique_ratio, top_token_frac, keep."""
    toks = F.split(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "), " ")
    with_t = docs.withColumn("_toks", toks)
    n = F.size("_toks")
    uniq = F.size(F.array_distinct("_toks"))
    # most frequent token count: for each distinct token, count its
    # occurrences via filter — O(u·n) per row, bounded by doc length
    top_cnt = F.array_max(
        F.transform(
            F.array_distinct("_toks"),
            lambda t: F.size(F.filter("_toks", lambda x: x == t)),
        )
    )
    out = with_t.select(
        *docs.columns,
        n.cast("long").alias("n_tokens"),
        (uniq.cast("double") / n).alias("unique_ratio"),
        (top_cnt.cast("double") / n).alias("top_token_frac"),
    )
    keep = (
        (F.col("n_tokens") >= MIN_WORDS)
        & (F.col("unique_ratio") >= MIN_UNIQUE_RATIO)
        & (F.col("top_token_frac") <= MAX_TOP_TOKEN_FRAC)
    )
    return out.withColumn("keep", keep)


def curated_stream(docs_stream: DataFrame) -> DataFrame:
    """quality-keep filter + cross-batch first-wins exact dedup."""
    scored = quality_expr_columns(docs_stream).filter("keep")
    hashed = scored.withColumn(
        "content_hash",
        F.md5(F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))),
    )
    return hashed.dropDuplicates(["content_hash"]).select(
        "doc_id", "source", "n_tokens", "content_hash"
    )


def stream_curate(
    spark: SparkSession,
    docs_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
) -> None:
    """Drain the curated stream to parquet (availableNow, T5)."""
    run_to_parquet(curated_stream(docs_stream), out_dir, checkpoint_dir)
