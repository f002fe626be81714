"""The persisted signature state of the daily dedup loop, shared by its two
drivers: ``daily_cli`` (one step per scheduled day) and
``streaming/incremental_dedup_stream`` (one step per micro-batch).

The state is the loop's cross-batch memory, the counterpart of the one
global SHA1 table the reference's Dedup stage checks every chunk against:

  hashes/<col>=<key>/   distinct normalized content md5s (``content_hash``)
                        + ``last_seen`` (the stamp of the newest sighting)
  sims/<col>=<key>/     per-doc SimHash fingerprints (``hist_sim``)
                        + ``last_seen``
  bloom.bin+.json       packed Bloom bitset over the hashes (the exact
                        check's probe-before-join prefilter)
  band_bloom.bin+.json  the same over the fingerprints' SimHash bands
                        (the near check's prefilter; its geometry follows
                        ``max_hamming``, which its meta records)

Exactly-once (Structured Streaming's replayable source + idempotent sink):
a step reads only the partitions its key may see, overwrites its own
partitions, and OR-advances the blooms (idempotent by algebra); the
driver writes its commit marker last. A replayed step therefore
recomputes against the same state and rewrites the same bytes.

A roll-up folds the seed and every committed partition into one seed
partition through ``operators/layout.swap_dir``, collapsing sightings to
the newest per value and optionally expiring values last seen before a
cutoff. OR cannot unset bits, so an expiring roll-up is followed by
:func:`rebuild_blooms`. The state lives on the local filesystem.

The two drivers differ only in how they key partitions: each sets one
:class:`Layout` constant.
"""

from __future__ import annotations

import glob
import json
import os
import posixpath
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.dedup_text import (
    BLOOM_K,
    BLOOM_M,
    batch_signatures,
    history_band_bloom,
    history_bloom,
    history_signatures,
    incremental_dedup,
    matched_history_pairs,
    sized_bloom_m,
)
from .operators.layout import swap_dir
from .operators.sketches import bloom_merge_packed

#: (table directory, signature column, its SQL type)
TABLES = (("hashes", "content_hash", "string"), ("sims", "hist_sim", "long"))

#: (bloom sidecar name, the table it summarizes, that table's column)
BLOOMS = (("bloom", "hashes", "content_hash"), ("band_bloom", "sims", "hist_sim"))


@dataclass(frozen=True)
class Layout:
    """How one driver keys the state's partitions."""

    col: str  # partition column
    col_type: str  # its SQL type
    seed_key: int | str  # the seed's partition, which every roll-up rewrites
    seed_stamp: int  # last_seen of seed rows, and of legacy rows without one
    # ordered keys see only smaller keys (a replay sees the same prefix);
    # unordered keys see every key but their own
    ordered: bool

    def part(self, root: str, key: int | str) -> str:
        return posixpath.join(root, f"{self.col}={key}")


def _concurrently(*fns) -> list:
    """Run independent callables on their own driver threads, so the caller
    waits one Spark job latency instead of one per call; → their results,
    in order."""
    if len(fns) < 2:
        return [fn() for fn in fns]
    with ThreadPoolExecutor(max_workers=len(fns)) as pool:
        futs = [pool.submit(fn) for fn in fns]
        return [f.result() for f in futs]


# --- bloom sidecars ------------------------------------------------------


def _meta(sig_dir: str, name: str) -> dict | None:
    """The sidecar's meta, or None unless both of its files exist."""
    bin_p, meta_p = (os.path.join(sig_dir, f"{name}.{ext}") for ext in ("bin", "json"))
    if not (os.path.exists(bin_p) and os.path.exists(meta_p)):
        return None
    with open(meta_p) as fh:
        return json.load(fh)


def read_bloom(sig_dir: str, name: str = "bloom") -> tuple[bytes, int, int] | None:
    """→ (packed bitset, m, k) of a sidecar, or None if it is missing."""
    meta = _meta(sig_dir, name)
    if meta is None:
        return None
    with open(os.path.join(sig_dir, f"{name}.bin"), "rb") as fh:
        return fh.read(), int(meta["m"]), int(meta["k"])


def write_bloom(sig_dir: str, name: str, packed: bytes, meta: dict | None = None) -> None:
    """Replace a sidecar's bitset through tmp + rename, so a torn write never
    corrupts it, and, when given, its meta. An OR-advance keeps m, k and
    the geometry the meta records, so it passes no meta."""
    tmp = os.path.join(sig_dir, f"{name}.bin.tmp")
    with open(tmp, "wb") as fh:
        fh.write(packed)
    os.replace(tmp, os.path.join(sig_dir, f"{name}.bin"))
    if meta is not None:
        with open(os.path.join(sig_dir, f"{name}.json"), "w") as fh:
            json.dump(meta, fh)


def load_blooms(sig_dir: str, max_hamming: int) -> dict:
    """→ {sidecar name: (packed, m, k) or None} for a step to probe and
    advance. The band bloom's bands are a function of max_hamming: one
    built for another banding would have false negatives, so it is left
    out (flags stay correct, the near check runs unfiltered)."""
    blooms = {name: read_bloom(sig_dir, name) for name, _, _ in BLOOMS}
    if (_meta(sig_dir, "band_bloom") or {}).get("max_hamming") != max_hamming:
        blooms["band_bloom"] = None
    return blooms


def _bits(name: str, table: DataFrame, max_hamming: int, m: int, k: int) -> bytes:
    if name == "bloom":
        return history_bloom(table, m=m, k=k)
    return history_band_bloom(table, max_hamming=max_hamming, m=m, k=k)


def _sized_bloom(
    sig_dir: str, name: str, table: DataFrame, floor_m: int, max_hamming: int
) -> tuple[bytes, int, int]:
    """Build sidecar ``name`` from scratch over ``table``, sized from its key
    count (``sized_bloom_m``: a band bloom holds max_hamming+1 keys per
    row), and write it; → (packed, m, k). The floor and the banding ride
    the meta, so OR-advances keep the geometry and the next rebuild
    resizes from the same floor."""
    n_keys = table.count() * (1 if name == "bloom" else max_hamming + 1)
    m = sized_bloom_m(n_keys, BLOOM_K, floor=floor_m)
    packed = _bits(name, table, max_hamming, m, BLOOM_K)
    meta = {"m": m, "k": BLOOM_K, "floor_m": floor_m}
    if name == "band_bloom":
        meta["max_hamming"] = max_hamming
    write_bloom(sig_dir, name, packed, meta)
    return packed, m, BLOOM_K


def rebuild_blooms(
    spark: SparkSession, sig_dir: str, blooms: dict, max_hamming: int | None = None
) -> None:
    """Rebuild each existing sidecar from the whole surviving state, after an
    expiring roll-up (OR cannot unset the expired bits; a stale bloom stays
    correct, just progressively useless). Each rebuild resizes from the
    surviving cardinality, so a bitset grows with a swelling window and
    shrinks back to its floor when the window drains. The band bloom is
    rebuilt for ``max_hamming`` when given (the probe's banding), else
    for the banding its meta records. ``blooms`` (a step's in-memory
    copy) takes the rebuilt bitsets."""

    def rebuild(name: str, table: str, col: str) -> None:
        meta = _meta(sig_dir, name)
        if meta is None:
            return
        blooms[name] = _sized_bloom(
            sig_dir,
            name,
            spark.read.parquet(posixpath.join(sig_dir, table)).select(col),
            int(meta.get("floor_m", BLOOM_M)),
            max_hamming if max_hamming is not None else meta.get("max_hamming", 3),
        )

    _concurrently(*(partial(rebuild, *spec) for spec in BLOOMS))


# --- seed, step, roll-up -------------------------------------------------


def seed(
    history: DataFrame, sig_dir: str, layout: Layout, use_bloom: bool,
    max_hamming: int, floor_m: int,
) -> None:
    """Write the day-0 state from a raw corpus (the loop's only raw-history
    scan) as the seed partitions, stamped ``layout.seed_stamp``, plus both
    blooms sized from the seed's cardinality when ``use_bloom``."""
    stamp = F.lit(layout.seed_stamp).cast("long").alias("last_seen")
    for (table, col, _), sig in zip(TABLES, history_signatures(history)):
        sig.select(col, stamp).write.mode("overwrite").parquet(
            layout.part(posixpath.join(sig_dir, table), layout.seed_key)
        )
    if use_bloom:
        spark = history.sparkSession
        for name, table, _ in BLOOMS:
            seeded = spark.read.parquet(
                layout.part(posixpath.join(sig_dir, table), layout.seed_key)
            )
            _sized_bloom(sig_dir, name, seeded, floor_m, max_hamming)


def _probe(bloom: tuple[bytes, int, int] | None, arg: str) -> dict:
    packed, m, k = bloom or (None, BLOOM_M, BLOOM_K)
    return {arg: packed, "bloom_m": m, "bloom_k": k}


def step(
    spark: SparkSession,
    sig_dir: str,
    layout: Layout,
    batch: DataFrame,
    key: int | str,
    *,
    stamp: int,
    resight: bool,
    max_hamming: int,
    blooms: dict,
    write_flags: Callable[[DataFrame], object],
    advance: bool = True,
    probe: bool = True,
    on_survivors: Callable[[DataFrame, int | str], object] | None = None,
) -> None:
    """Flag ``batch`` (doc_id, text) against the state visible to ``key``
    and hand the flags to ``write_flags``; with ``advance``, overwrite the
    key's own partitions with the survivors' signatures stamped
    ``stamp`` and OR their bits into ``blooms`` (memory and sidecars).
    Without ``probe`` the flags skip the bloom prefilter (they are
    identical either way), but the blooms still advance, so they keep
    covering the state.

    ``resight`` also appends the retention re-sightings: (hash, stamp) per
    exact-dup match and (fingerprint, stamp) per history fingerprint the
    batch near-matches, so content stays alive while copies of it keep
    arriving. Near-dup rejects add nothing: their novel hashes must not
    enter the state. ``on_survivors(survivors, key)`` runs after the state
    writes, before the caller's commit marker, so a crash replays it
    against the same survivors.

    One SimHash aggregation and one banded join serve every consumer (the
    near flag, the re-sightings and the survivor fingerprints); the
    survivors' signatures are projections of the batch's signature
    frames, bit-identical to re-deriving them from the survivors' text."""
    visible = (
        (F.col(layout.col) < key) if layout.ordered else (F.col(layout.col) != key)
    )
    hist_h, hist_s = (
        spark.read.schema(f"{col} {typ}, last_seen long, {layout.col} {layout.col_type}")
        .parquet(posixpath.join(sig_dir, table))
        .filter(visible)
        .select(col)
        for table, col, typ in TABLES
    )
    batch = batch.persist()
    new_h, new_s = batch_signatures(batch)
    new_s = new_s.persist()
    pairs = matched_history_pairs(
        new_s, hist_s, max_hamming=max_hamming,
        **_probe(blooms["band_bloom"] if probe else None, "history_band_bloom_packed"),
    )
    if resight and advance:
        pairs = pairs.persist()  # two consumers: the near flag, the re-sightings
    try:
        flags = incremental_dedup(
            batch,
            max_hamming=max_hamming,
            history_sig=(hist_h, hist_s),
            new_sig=(new_h, new_s),
            near_pairs=pairs,
            **_probe(blooms["bloom"] if probe else None, "history_bloom_packed"),
        ).persist()
        try:
            write_flags(flags)
            if advance:
                _advance(
                    spark, sig_dir, layout, key, flags, new_h, new_s,
                    pairs if resight else None, stamp, max_hamming, blooms,
                )
                if on_survivors is not None:
                    kept = flags.filter(F.col("is_kept")).select("doc_id")
                    on_survivors(batch.join(kept, "doc_id", "left_semi"), key)
        finally:
            flags.unpersist()
    finally:
        for df in (batch, new_s, pairs):
            df.unpersist()


def _advance(
    spark: SparkSession, sig_dir: str, layout: Layout, key: int | str,
    flags: DataFrame, new_h: DataFrame, new_s: DataFrame,
    pairs: DataFrame | None, stamp: int, max_hamming: int, blooms: dict,
) -> None:
    last_seen = F.lit(stamp).cast("long").alias("last_seen")
    kept = flags.filter(F.col("is_kept")).select("doc_id")
    day = {
        "hashes": new_h.join(kept, "doc_id", "left_semi")
        .select("content_hash").distinct().select("content_hash", last_seen),
        "sims": new_s.join(kept, "doc_id", "left_semi")
        .select(F.col("simhash").alias("hist_sim"), last_seen),
    }
    if pairs is not None:
        # a re-sighting is disjoint from the survivors (an exact dup is
        # never kept), and the state tolerates duplicates: the exact check
        # is a semi join and a roll-up keeps the newest sighting per value
        seen = {
            "hashes": flags.filter(F.col("exact_dup")).select("content_hash"),
            "sims": pairs.select("hist_sim"),
        }
        day = {t: day[t].unionByName(seen[t].distinct().select("*", last_seen)) for t in day}

    def write(table: str) -> str:
        path = layout.part(posixpath.join(sig_dir, table), key)
        day[table].write.mode("overwrite").parquet(path)
        return path

    written = dict(zip(day, _concurrently(*(partial(write, t) for t in day))))

    def or_advance(name: str, table: str) -> None:
        packed, m, k = blooms[name]
        add = _bits(name, spark.read.parquet(written[table]), max_hamming, m, k)
        merged = bloom_merge_packed(packed, add)
        write_bloom(sig_dir, name, merged)
        blooms[name] = (merged, m, k)

    _concurrently(
        *(partial(or_advance, name, table) for name, table, _ in BLOOMS if blooms[name])
    )


def roll_up(
    spark: SparkSession,
    sig_dir: str,
    layout: Layout,
    committed: Callable[[str], bool],
    expire_before: int | None = None,
) -> int:
    """Fold the seed and every partition whose key (as its directory spells
    it) is ``committed`` into one seed partition per table; → the most
    partitions one table folded (0: nothing to fold). Uncommitted partials
    stay where they are; their replay overwrites them. Sightings collapse
    to the newest per value (rows without ``last_seen`` count as
    ``layout.seed_stamp``); ``expire_before`` drops values whose newest
    sighting is older, from both tables (then call
    :func:`rebuild_blooms`). The merged seed is written hash-bucketed,
    several files wide: the groupBy already partitioned it by value, and
    one writer would serialize a window-bounded state of 10⁸-10⁹ rows."""
    seed_key = str(layout.seed_key)

    def fold(table: str, col: str) -> int:
        root = posixpath.join(sig_dir, table)
        folded = 0

        def rewrite(tmp: str) -> list[str] | None:
            nonlocal folded
            found = glob.glob(layout.part(root, "*"))
            keys = {p: os.path.basename(p).split("=", 1)[1] for p in found}
            parts = [p for p in found if keys[p] == seed_key or committed(keys[p])]
            if len(parts) <= 1:
                return None
            raw = spark.read.option("mergeSchema", "true").parquet(*parts)
            ls = F.lit(layout.seed_stamp)
            if "last_seen" in raw.columns:
                ls = F.coalesce(F.col("last_seen"), ls)
            out = raw.groupBy(col).agg(F.max(ls).cast("long").alias("last_seen"))
            if expire_before is not None:
                out = out.filter(F.col("last_seen") >= expire_before)
            out.write.mode("overwrite").parquet(layout.part(tmp, layout.seed_key))
            folded = len(parts)
            return [p for p in found if p not in parts]

        swap_dir(root, rewrite)
        return folded

    return max(_concurrently(*(partial(fold, table, col) for table, col, _ in TABLES)))
