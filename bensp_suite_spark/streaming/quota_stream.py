"""Streaming per-key admission quota (domain balancing).

The training-data use case: a crawl stream is dominated by a few hot
domains; the pipeline admits at most ``quota`` documents per key (domain /
source / license bucket) and drops the rest, so no key can claim more than
its budget of the training mix. The reference's analog is the dedup
hashtable's keyed-state pattern (encoder.c:1520) — here the state is one
counter per key instead of one entry per fingerprint.

Two implementations of the same processor:

- ``per_key_quota`` — ``applyInPandasWithState`` (runs everywhere,
  including this container). State = one long per key.
- ``per_key_quota_tws`` — Spark 4's ``transformWithStateInPandas``, the
  successor API (ValueState, RocksDB-only). Its Python protocol needs
  ``protobuf``, which this container lacks, so the function gates on the
  import and the test skips without it; on a real cluster it is the
  preferred form (state schema evolution, multiple state variables,
  timers).

Scale shape: state is a single long per key (RocksDB-backed at scale,
checkpointed, exactly-once across restarts like every state-store op), the
stream shuffles once on the key, and admission is deterministic in the
arrival order each micro-batch presents. AQE cannot split a stateful-op
key, so extremely hot single keys are pre-sampled upstream if needed.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ._sink import run_to_parquet


def _quota_fn(quota: int):
    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        admitted = state.get[0] if state.exists else 0
        for pdf in pdfs:
            if admitted >= quota:
                continue
            take = pdf.iloc[: quota - admitted]
            admitted += len(take)
            if len(take):
                yield take
        state.update((admitted,))

    return fn


def per_key_quota(
    docs_stream: DataFrame, key: str, quota: int, output_schema: str
) -> DataFrame:
    """Streaming transformation: at most ``quota`` rows per ``key`` survive
    across the lifetime of the stream (state-backed, restart-durable)."""
    return docs_stream.groupBy(key).applyInPandasWithState(
        _quota_fn(quota),
        outputStructType=output_schema,
        stateStructType="n long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def tws_available() -> bool:
    """transformWithStateInPandas needs protobuf for its Python protocol."""
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        return False


def make_quota_processor(quota: int):
    """The transformWithStateInPandas processor, built at module level so
    its LOGIC is testable in this container: StatefulProcessor itself
    imports fine without protobuf (only the worker protocol needs it), so
    tests drive handleInputRows against a fake ValueState and pin the
    same cap-across-batches semantics per_key_quota proves end-to-end
    (tests/test_streaming.py::test_quota_processor_logic_matches_contract)."""
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle
    from pyspark.sql.types import LongType, StructField, StructType

    quota_n = quota

    class QuotaProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self.count_state = handle.getValueState(
                "admitted", StructType([StructField("n", LongType())])
            )

        def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
            admitted = self.count_state.get()[0] if self.count_state.exists() else 0
            for pdf in rows:
                if admitted >= quota_n:
                    continue
                take = pdf.iloc[: quota_n - admitted]
                admitted += len(take)
                if len(take):
                    yield take
            self.count_state.update((admitted,))

        def close(self) -> None:
            pass

    return QuotaProcessor()


def per_key_quota_tws(
    docs_stream: DataFrame, key: str, quota: int, output_schema: str
) -> DataFrame:
    """Same semantics on the Spark 4 ``transformWithStateInPandas`` API
    (requires the RocksDB state store provider AND protobuf on workers)."""
    if not tws_available():
        raise NotImplementedError(
            "STUB here: transformWithStateInPandas requires the protobuf "
            "package, not available in this container; per_key_quota "
            "(applyInPandasWithState) is the executable equivalent "
            "(the processor logic itself is built by make_quota_processor "
            "and unit-tested without the protocol)"
        )
    return docs_stream.groupBy(key).transformWithStateInPandas(
        statefulProcessor=make_quota_processor(quota),
        outputStructType=output_schema,
        outputMode="append",
        timeMode="none",
    )


def stream_per_key_quota(
    spark: SparkSession,
    docs_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    *,
    key: str = "source",
    quota: int = 10,
    output_schema: str = "doc_id long, source string",
) -> None:
    """Drain the quota-limited stream to parquet (availableNow, T5)."""
    cols = [f.strip().split(" ")[0] for f in output_schema.split(",")]
    limited = per_key_quota(docs_stream.select(*cols), key, quota, output_schema)
    run_to_parquet(limited, out_dir, checkpoint_dir)
