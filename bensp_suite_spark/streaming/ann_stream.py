"""Streaming similarity search over embedding columns: query vectors
arrive on a stream and rank against a static corpus — the generic
(non-ferret) version of streaming vector search, for the ANN family in
operators/similarity.py.

Pattern: static side loaded once (corpus + its LSH index, S8); each
micro-batch runs the batch ANN path via ``foreachBatch`` (stream-static
join + per-batch top-K — window ranks are not allowed in streaming append
mode, so the rank runs inside the batch function, which is exactly the
reference's per-query rank stage granularity)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..multimodal.audio_landmarks import snippet_match
from ..operators import similarity as SIM
from ..operators.graph_ann import nsw_ann_topk, nsw_routed_pq_ann_topk
from ._sink import foreach_batch
from ._sink import read_batches as read_sink  # noqa: F401  (callers import it from here)


def _probe(stream: DataFrame, out_dir: str, checkpoint_dir: str, topk, wait: bool):
    """Drain ``stream`` with ``topk(batch_df)`` per non-empty micro-batch,
    each batch's result in its own ``out_dir/batch_id=<id>`` directory."""
    return foreach_batch(
        stream,
        out_dir,
        checkpoint_dir,
        lambda batch_df, _batch_id: None if batch_df.isEmpty() else topk(batch_df),
        wait,
    )


def stream_ann_topk(
    spark: SparkSession,
    query_stream: DataFrame,
    corpus: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    k: int = 5,
    mode: str = "bruteforce",
    await_termination: bool = True,
):
    """Rank each arriving query vector against ``corpus``; each batch's
    (query_id, neighbor_id, rank, cosine) rows overwrite its own
    ``out_dir/batch_id=<id>`` directory. ``mode``:
    "bruteforce" (exact) or "lsh" (bucketed candidates)."""
    fn = SIM.cosine_topk_bruteforce if mode == "bruteforce" else SIM.lsh_ann_topk

    return _probe(
        query_stream, out_dir, checkpoint_dir,
        lambda b: fn(b, corpus, k=k), await_termination,
    )


def stream_snippet_match(
    spark: SparkSession,
    snippet_stream: DataFrame,
    corpus_landmarks: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    k: int = 1,
    min_votes: int = 2,
    await_termination: bool = True,
):
    """Query-by-audio-snippet over a STREAM of snippets against a static
    landmark index (multimodal/audio_landmarks.snippet_match per
    micro-batch — the live "what is playing" service shape): landmark
    extraction is stateless per snippet, the hash join + offset vote +
    top-k need only that snippet's landmarks, so per-batch results are
    exact regardless of trigger sizing. Each batch's
    (query_id, media_id, offset_frames, votes, rank) rows overwrite its
    own ``out_dir/batch_id=<id>`` directory."""
    return _probe(
        snippet_stream, out_dir, checkpoint_dir,
        lambda b: snippet_match(b, corpus_landmarks, k=k, min_votes=min_votes),
        await_termination,
    )


def stream_routed_pq_topk(
    spark: SparkSession,
    query_stream: DataFrame,
    corpus: DataFrame,
    index,
    out_dir: str,
    checkpoint_dir: str,
    k: int = 5,
    n_probe: int = 2,
    ef_search: int = 32,
    await_termination: bool = True,
):
    """Streaming probe of a PREBUILT PQ-compressed routed index
    (graph_ann.load_nsw_routed_pq_index) — the live-query shape of the
    DiskANN rung: each micro-batch routes its query vectors to n_probe
    cells, ADC-beams the code-only shards, and exact-reranks from the
    static raw corpus; per-batch results are exact regardless of trigger
    sizing, so the drained set equals the batch probe."""
    return _probe(
        query_stream, out_dir, checkpoint_dir,
        lambda b: nsw_routed_pq_ann_topk(
            b, corpus, index, k=k, n_probe=n_probe, ef_search=ef_search
        ),
        await_termination,
    )


def stream_nsw_topk(
    spark: SparkSession,
    query_stream: DataFrame,
    corpus: DataFrame,
    index,
    out_dir: str,
    checkpoint_dir: str,
    k: int = 5,
    ef_search: int = 16,
    await_termination: bool = True,
):
    """Streaming graph-ANN probe: query vectors arrive on a stream and
    beam-search a PREBUILT sharded-NSW index (graph_ann.load_nsw_index)
    per micro-batch — the build was paid offline, each batch pays only
    the beams + the exact re-rank, so the drained result set equals the
    batch probe regardless of trigger sizing."""
    return _probe(
        query_stream, out_dir, checkpoint_dir,
        lambda b: nsw_ann_topk(b, corpus, k=k, ef_search=ef_search, index=index),
        await_termination,
    )
