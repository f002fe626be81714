"""Streaming incremental document dedup — the daily loop at micro-batch
cadence.

Each micro-batch of (doc_id, text) flags against the CURRENT signature
state (distinct normalized content hashes + SimHash fingerprints — the
same tables ``pipelines/daily.py`` and ``daily_cli`` maintain daily),
then appends its survivors' signatures. This is the merge-sink shape of
``dedup_stream.stream_encode_merge`` applied to document dedup: state is
plain partitioned parquet (readable, compactable, shared with the batch
jobs), one directory per committed batch.

Exactly-once: every batch writes its flags and its signature partitions
to ``…/batch_id=N`` directories (self-overwriting on retry), reads ONLY
``batch_id < N`` state partitions, and writes a commit marker LAST — a
replayed batch recomputes against the identical state prefix and
overwrites its own output, so replays are byte-identical and its own
half-appended signatures are never visible to itself.

Cross-batch semantics are the daily loop's: a batch-N doc that exactly
matches a batch-M (M < N) SURVIVOR flags exact_dup — first arrival wins
across the whole stream, exactly as if the batches were days.

Two scale features beyond the r6 shape:

- **Packed-Bloom prefilter** (``use_bloom=True``): a bitset over the
  history's content hashes rides beside the state (``sig_dir/bloom.bin``,
  advanced per batch by bitwise OR — replay-idempotent by algebra); each
  batch probes it scan-locally and only bloom-maybe rows enter the exact
  history join. Flags are identical (zero false negatives; a stale bloom
  from a crashed advance only yields extra MAYBEs, which the exact join
  — reading only ``batch_id < N`` — resolves correctly).
- **State roll-up** (``compact_every=K``): when the per-batch partition
  count reaches K, committed partitions merge into the seed partition
  BEFORE the next batch runs — bounding the O(#batches) directory
  listing ADVICE/VERDICT r6 flagged. Only committed batches (marker
  present) are merged; flags are invariant because merged rows keep
  ``batch_id=-1 < N`` visibility and the exact check is a duplicate-
  tolerant semi join. LOCAL-FS protocol: the rename swap of
  ``operators/layout.swap_dir``, shared with ``daily_cli compact`` and
  ``compact_small_files``.
- **Retention** (``retention_window=W``, requires ``compact_every``) —
  ``daily_cli``'s forget semantics at micro-batch cadence, where the
  batch id IS the day number: every batch stamps its appended rows with
  ``last_seen = batch_id`` and ALSO appends re-sighting rows — (hash,
  batch) per exact-dup match and (fingerprint, batch) per history
  fingerprint the batch near-matches (``matched_history_sims``) — so
  content stays alive while copies of it keep arriving. The expiry
  filter lives INSIDE the compaction roll-up (sharing its crash
  protocol): each roll-up keeps a value iff ``max(last_seen) >=
  batch_id − W`` in BOTH tables, then REBUILDS both packed blooms from
  the surviving state (OR can't unset bits). A continuously-running
  crawl-dedup stream is therefore bounded by the rolling window instead
  of growing state forever; content whose newest sighting fell out of
  the window is FORGOTTEN — a later re-crawl flags neither exact_dup
  nor near_dup (genuinely new, re-enters the state with the new batch),
  while in-window content dedupes exactly as a full-history run would.
  Legacy un-stamped rows count as ``last_seen = -1`` (the seed batch),
  so enabling retention over pre-retention state expires un-re-sighted
  legacy content at the first roll-up — same rule as daily_cli's
  "legacy rows count as day 0". Replays stay byte-identical: the stamp
  is the deterministic batch id and re-sightings are a function of the
  same ``batch_id < N`` state prefix the flags are.

The state itself (seed, step, bloom sidecars, roll-up, expiry rebuild) is
``bensp_suite_spark/signature_state.py``, shared with ``daily_cli``; this
module keys it by ``batch_id`` and drives it from ``foreachBatch``.
"""

from __future__ import annotations

import posixpath as _pp

from pyspark.sql import DataFrame, SparkSession

from ..operators.dedup_text import BLOOM_M
from ..signature_state import (
    Layout,
    load_blooms,
    rebuild_blooms,
    roll_up,
    seed,
    step,
)
from ._sink import Markers, foreach_batch, write_batch

#: partition value for the caller-seeded day-0 signatures
SEED_BATCH_ID = -1

#: batch ids are ordered: batch N reads only ``batch_id < N``, so a replay
#: sees the same prefix; the seed stamp is the seed's own batch id
LAYOUT = Layout(
    col="batch_id", col_type="long", seed_key=SEED_BATCH_ID,
    seed_stamp=SEED_BATCH_ID, ordered=True,
)


def seed_signatures(
    history: DataFrame, sig_dir: str, use_bloom: bool = True,
    max_hamming: int = 3, bloom_floor_m: int = BLOOM_M,
) -> None:
    """Write the day-0 signature state (the stream's only raw-history
    scan) as the ``batch_id=-1`` partitions the stream builds on, plus
    the packed history bloom when ``use_bloom``. An empty history frame
    seeds an empty-but-schema'd state. Rows are stamped ``last_seen =
    -1`` (the seed batch id) — the retention clock starts here; without
    ``retention_window`` the column is carried but never consulted.

    Bloom geometry is CARDINALITY-SCALED (``sized_bloom_m``): each bitset
    is sized from the seed state's own row counts (band keys ≈ rows ×
    (max_hamming+1)) so a 100 TB history gets a filter that isn't
    saturated on day one; the chosen ``m`` (and the ``floor_m`` it grew
    from) rides the sidecar meta so per-batch OR-advances and expiry
    rebuilds keep/resize the same geometry. ``bloom_floor_m`` is the
    smallest bitset ever used (default ``BLOOM_M``)."""
    seed(history, sig_dir, LAYOUT, use_bloom, max_hamming, bloom_floor_m)


def compact_signature_state(
    spark: SparkSession, sig_dir: str, committed_ids: set[int],
    expire_before: int | None = None,
) -> int:
    """Merge the committed per-batch partitions (plus the old seed) into
    ONE seed partition per table; → number of partitions merged. Crashed
    uncommitted partials stay where they are (their replay overwrites
    them). Sightings collapse to the NEWEST per value (legacy rows
    without ``last_seen`` count as the seed batch, −1), restoring the
    tables' set semantics after any crash-window double-appends; flags
    were already safe in the interim because the exact check is a semi
    join. ``expire_before`` applies the retention cutoff inside the same
    swap: values whose newest sighting is ``< expire_before`` are
    dropped from BOTH tables (the caller rebuilds the packed blooms —
    OR can't unset bits)."""
    return roll_up(
        spark, sig_dir, LAYOUT, lambda key: int(key) in committed_ids, expire_before
    )


def stream_incremental_dedup(
    spark: SparkSession,
    docs_stream: DataFrame,
    sig_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_hamming: int = 3,
    compact_every: int | None = 64,
    retention_window: int | None = None,
    on_survivors=None,
) -> None:
    """Run the stream to completion (availableNow): flags land under
    ``out_dir/batch_id=N``; the signature state under ``sig_dir`` ends
    equal to what sequential :func:`pipelines.daily.daily_step` calls over
    the same batches would produce. ``seed_signatures`` must have run
    first (the probe below fails loudly otherwise — silently starting
    from empty state would mark historical duplicates as kept).
    ``compact_every`` bounds the state partition count (see module doc);
    ``None`` disables the roll-up. ``retention_window=W`` enables the
    forget semantics (module doc: last_seen stamps + re-sighting rows
    per batch; expiry cutoff ``batch_id − W`` applied inside each
    roll-up, blooms rebuilt after) — state is then bounded by the
    rolling window instead of growing with the stream's lifetime.

    ``on_survivors(survivors_df, batch_id)`` is the DOWNSTREAM
    composition hook — the place a production loop maintains whatever
    derived state the day's KEPT documents feed (e.g. upserting their
    embeddings into a routed-PQ ANN index, the dedup → index-maintain →
    search loop). It runs AFTER the batch's signature append and BEFORE
    the commit marker, so a crash replays it against the identical
    survivor set; the callback MUST therefore be idempotent under replay
    (partition-overwrite sinks, idempotent upserts). A committed batch
    never re-runs it."""
    if retention_window is not None and compact_every is None:
        raise ValueError(
            "retention_window requires compact_every — the expiry filter "
            "lives inside the compaction roll-up (daily_cli's protocol)"
        )
    commits = Markers(spark, _pp.join(checkpoint_dir, "incr_commits"))
    state_parts = Markers(spark, _pp.join(sig_dir, "hashes"), prefix="batch_id=")
    if not state_parts.done(SEED_BATCH_ID):
        raise ValueError(
            f"no seeded signature state at {sig_dir} — call seed_signatures "
            "first (an unseeded stream would silently keep historical dups)"
        )
    # the sidecars are read once per run and carried in memory: this sink is
    # their only writer, so the copy is always the newest state (one ahead
    # of the disk after a crashed batch only adds maybe-bits)
    blooms = load_blooms(sig_dir, max_hamming)

    def per_batch(batch_df: DataFrame, batch_id: int) -> None:
        if commits.done(batch_id):
            return
        if compact_every is not None and len(state_parts.ids()) >= compact_every:
            expire = (
                batch_id - retention_window if retention_window is not None else None
            )
            compact_signature_state(spark, sig_dir, commits.ids(), expire_before=expire)
            if expire is not None:
                rebuild_blooms(spark, sig_dir, blooms, max_hamming)
        step(
            spark, sig_dir, LAYOUT, batch_df, batch_id,
            stamp=batch_id,
            resight=retention_window is not None,
            max_hamming=max_hamming,
            blooms=blooms,
            write_flags=lambda flags: write_batch(flags, out_dir, batch_id),
            on_survivors=on_survivors,
        )
        commits.mark(batch_id)

    # per_batch writes its own directories and returns None
    foreach_batch(docs_stream, out_dir, checkpoint_dir, per_batch)
