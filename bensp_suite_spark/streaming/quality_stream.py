"""Continuous data-quality monitoring: the expectations engine
(operators/quality_checks) applied per micro-batch — the DLT-expectations
analog for streams.

Each trigger evaluates every row-level check in one pass over the batch
(same single-aggregation compilation as batch mode) and writes one report
row per check, stamped with the batch id and evaluated at ingestion time —
the quality time series a corpus build monitors/alerts on. Uniqueness is
deliberately absent here: per-key uniqueness across an unbounded stream is
the dedup problem (stream_exact_dedup's state), not a per-batch assertion.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.quality_checks import Check, run_checks
from ._sink import foreach_batch


def stream_quality_reports(
    spark: SparkSession,
    stream: DataFrame,
    checks: list[Check],
    out_dir: str,
    checkpoint_dir: str,
) -> None:
    """Drain the stream, each batch's check reports
    (check, violations, total, passed, batch_id) overwriting its own
    ``out_dir/batch_id=<id>`` directory."""
    foreach_batch(
        stream, out_dir, checkpoint_dir, lambda batch_df, _id: run_checks(batch_df, checks)
    )
