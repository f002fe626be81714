"""Stream-stream joins and streaming sessionization over event streams.

The reference's streaming surface is a single pipeline per process —
correlating two live streams is outside what its bounded-queue model can
express (SURVEY §2.8: its windows are fixed 1-second processing-time
buckets, new_dedup.c:117-269). Structured Streaming gives both forms with
event-time semantics and bounded state:

- **Stream-stream interval join**: each side is watermarked; the join
  condition pairs an equi-key with an event-time interval, so Spark keeps
  only the interval's worth of per-key state on each side and expires it
  as the watermark advances. State is partitioned by the join key —
  horizontally scalable, RocksDB-backed at 100 TB like the dedup state.
- **Streaming session windows**: ``session_window`` with a watermark in
  append mode — a session row is emitted exactly once, when the watermark
  passes its close (gap elapsed). The same gap semantics as the batch
  ``a5_session_windows`` query; parity is tested in
  tests/test_streaming.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ._sink import run_to_parquet  # noqa: F401  (callers import it from here)


def interval_join(
    clicks: DataFrame,
    views: DataFrame,
    key: str = "user_id",
    interval: str = "15 minutes",
    watermark: str = "30 minutes",
    how: str = "inner",
) -> DataFrame:
    """Join each click with the same user's views in the preceding
    ``interval``. Works identically on batch DataFrames (the watermark
    calls are streaming-only no-ops in batch) — the parity tests exploit
    exactly that.

    ``how="inner"`` emits a match as soon as both rows are present (the
    watermark only bounds state expiry). ``how="left_outer"`` also emits
    every unmatched click with NULL view columns — but only once the
    watermark passes the click's join window (the row could otherwise
    still match a late view), so outer results trail the watermark by
    design; under availableNow a final watermark-advancing event flushes
    them. ``how="full_outer"`` additionally emits unmatched views with
    NULL click columns under the same trailing rule, and
    ``how="right_outer"`` emits ONLY matches plus unmatched views. State bound per
    side ≈ rate × (interval + watermark) per key."""
    if how not in ("inner", "left_outer", "right_outer", "full_outer"):
        raise ValueError(f"unsupported join type {how!r}")
    c = clicks.withWatermark("ts", watermark).alias("c")
    v = views.withWatermark("ts", watermark).alias("v")
    return c.join(
        v,
        (F.col("c." + key) == F.col("v." + key))
        & (F.col("v.ts") <= F.col("c.ts"))
        & (F.col("v.ts") >= F.col("c.ts") - F.expr(f"INTERVAL {interval}")),
        how,
    ).select(
        # coalesce: under right/full outer an unmatched-view row has a NULL
        # click side, so the key must come from whichever side is present —
        # otherwise the view's key would be unrecoverable from the output
        F.coalesce(F.col("c." + key), F.col("v." + key)).alias(key),
        F.col("c.event_id").alias("click_id"),
        F.col("v.event_id").alias("view_id"),
        F.col("c.ts").alias("click_ts"),
        F.col("v.ts").alias("view_ts"),
    )


def session_counts(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Per-user gap-based sessions: (user_id, session_start, n_events).
    On a stream (append mode) each session emits once, after the
    watermark passes session_end + gap; on a batch DataFrame this is the
    a5_session_windows shape."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window(F.col("ts"), gap).alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"), "n_events")
    )
