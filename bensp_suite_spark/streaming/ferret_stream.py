"""Streaming ferret: a continuous stream of query images ranked against a
static corpus (the reference's actual operating mode — images flow through
load→seg→extract→vec→rank→out thread stages, ferret-pthreads.c:894-948).

Spark mapping: the corpus (and its LSH index) is the STATIC side, loaded
once; query images arrive on a stream (binaryFile or parquet readStream
with maxFilesPerTrigger = the load-stage queue depth T1); each micro-batch
runs the batch query path via ``foreachBatch`` — stream-static joins with a
per-batch top-K, the standard Spark pattern for "probe a fixed index with
a stream".
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

from ..ferret.pipeline import ferret_topk
from ._sink import foreach_batch, write_batch


def stream_similarity_search(
    spark: SparkSession,
    query_stream: DataFrame,
    corpus: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    top_k: int = 10,
    dim: int = 14,
    mode: str = "exhaustive",
    await_termination: bool = True,
):
    """query_stream: streaming DataFrame of vecsets (image_id, name,
    regions) — e.g. images_to_vecsets over a binaryFile readStream.
    Each batch's ranked results overwrite its own
    ``out_dir/batch_id=<id>`` directory. A corpus that was not cached on
    entry is cached for the drain and released after an awaited one."""
    cached_before = corpus.storageLevel != StorageLevel.NONE
    corpus = corpus.cache()  # static side: scan once, reuse per trigger

    def per_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # pinned: the sort's range-sampling job would otherwise rerun the
        # EMD rerank
        result = ferret_topk(batch_df, corpus, top_k=top_k, dim=dim, mode=mode).persist()
        try:
            # T6 ordered emission
            write_batch(result.orderBy("q_image_id", "rank"), out_dir, batch_id)
        finally:
            result.unpersist()

    q = foreach_batch(query_stream, out_dir, checkpoint_dir, per_batch, await_termination)
    if await_termination and not cached_before:
        corpus.unpersist()
    return q
