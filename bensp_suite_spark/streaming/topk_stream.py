"""Streaming per-key top-K — the reference's bounded top-K heap
(TOPK_INSERT_MIN, include/cass_topk.h, O2) as keyed streaming state: each
key maintains its K best rows ACROSS micro-batches, exactly like the
per-thread heaps maintain theirs across items.

State per key is the bounded (order_value, item_id) list itself — K small
tuples, independent of stream length — and each trigger emits the key's
refreshed top-K stamped with the batch id, so the sink holds a leaderboard
time series and the rows of the final batch id are the current standings.

Scale shape: one exchange on the key; state size = K·|keys| tuples
(RocksDB-backed like all keyed state); per-batch work per key is
merge-and-truncate of two K-bounded lists. The emitted time series grows
with batch count — compact it downstream or read `max(batch_id)` only.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ._sink import foreach_batch


def _topk_fn(k: int):
    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        # state: parallel arrays of the current top-K (values desc, ids asc tiebreak)
        if state.exists:
            vals, ids = list(state.get[0]), list(state.get[1])
        else:
            vals, ids = [], []
        entries = list(zip(vals, ids))
        changed = False
        for pdf in pdfs:
            for v, i in zip(pdf["order_value"], pdf["item_id"]):
                entries.append((float(v), int(i)))
                changed = True
        if changed:
            entries.sort(key=lambda e: (-e[0], e[1]))
            entries = entries[:k]
            out = pd.DataFrame(
                {
                    "key": [key[0]] * len(entries),
                    "rank": list(range(1, len(entries) + 1)),
                    "item_id": [e[1] for e in entries],
                    "order_value": [e[0] for e in entries],
                }
            )
            yield out
        state.update(([e[0] for e in entries], [e[1] for e in entries]))

    return fn


def topk_per_key(stream: DataFrame, key: str, item_col: str, order_col: str, k: int) -> DataFrame:
    """(key, rank, item_id, order_value) — refreshed top-K per key for
    every batch in which the key received rows."""
    prepared = stream.select(
        stream[key].alias("key"),
        stream[item_col].alias("item_id"),
        stream[order_col].alias("order_value"),
    )
    return prepared.groupBy("key").applyInPandasWithState(
        _topk_fn(k),
        outputStructType="key string, rank int, item_id long, order_value double",
        stateStructType="vals array<double>, ids array<long>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_topk_per_key(
    spark: SparkSession,
    stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    *,
    key: str,
    item_col: str,
    order_col: str,
    k: int = 5,
) -> None:
    """Drain, each trigger's refreshed top-K overwriting its own
    ``out_dir/batch_id=<id>`` directory; rows at max(batch_id) per key are
    the current top-K."""
    foreach_batch(
        topk_per_key(stream, key, item_col, order_col, k),
        out_dir,
        checkpoint_dir,
        lambda batch_df, _id: batch_df,
    )
