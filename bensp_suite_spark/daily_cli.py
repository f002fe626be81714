"""CLI for the day-N incremental-dedup loop (pipelines/daily.py) with
PARQUET-persisted signature state — the artifact a real daily pipeline
schedules:

  # day 0: derive the signature tables from the existing corpus (the only
  # raw-history scan the loop ever performs)
  python -m bensp_suite_spark.daily_cli init HISTORY_PARQUET SIG_DIR

  # each day: flag the batch against the state, write flags, APPEND the
  # survivors' signatures (O(batch) rows — history is never rescanned)
  python -m bensp_suite_spark.daily_cli step BATCH_PARQUET SIG_DIR FLAGS_OUT \
      [--step-id ID] [--max-hamming N] [--no-advance] [--no-bloom] [-t N] [-v]

  # occasionally: merge the per-step state partitions (the small-file /
  # listing bound for a loop that has run many days), optionally expiring
  # hashes whose newest sighting is older than a cutoff day
  python -m bensp_suite_spark.daily_cli compact SIG_DIR [--expire-before D]

RETENTION (``step --day N`` + ``compact --expire-before D``): each step
stamps its appended rows with ``last_seen = N`` and ALSO appends
re-sighting rows — (hash, N) per exact-dup match, and (fingerprint, N)
per history fingerprint the batch near-matches (a distinct projection
of the step's ONE shared banded-pair frame,
``dedup_text.matched_history_pairs`` — not a second banded pass) — so
content stays alive while copies of it keep arriving, exactly or near. Compaction keeps a value iff
``max(last_seen) >= D`` in BOTH tables. Semantics, stated exactly: a
doc whose content was last sighted before the cutoff is FORGOTTEN — a
later re-crawl flags neither exact_dup nor near_dup (genuinely new; its
signatures re-enter the state with the new day); for content sighted
inside the window, flags equal a full-history run. One conservative
edge: a case-variant exact dup whose raw-text simhash drifted past
max_hamming re-sights only the hash, so its FINGERPRINT can expire
while the hash lives (a later near-variant then flags new — never a
wrong dup). Both packed blooms are rebuilt from the surviving state at
expiry (OR can't unset bits).

SIG_DIR holds the signature state:
  hashes/step=<id>/   distinct normalized content md5s (``content_hash``)
                      + ``last_seen`` (day of newest sighting; 0 when
                      ``--day`` is not used)
  sims/step=<id>/     per-doc SimHash fingerprints (``hist_sim``)
  bloom.bin+.json     packed Bloom bitset over the hashes — the probe-
                      before-join prefilter (dedup_text.history_bloom),
                      advanced per step by bitwise OR
  band_bloom.bin+.json  the NEAR check's counterpart: a bitset over the
                      history's SimHash band values (history_band_bloom)
                      pre-filters the banded join; dropped automatically
                      if --max-hamming differs from the build's
  _steps/<id>         commit markers (streaming/_sink.Markers), written LAST

Each ``step`` is IDEMPOTENT: state appends go to the step's OWN
``step=<id>`` partitions (self-overwriting on retry), flags are computed
against state EXCLUDING the step's own partitions (so a crashed half-
advanced step recomputes identical flags on replay), the bloom advance is
a bitwise OR (replay-idempotent by algebra), and the marker is written
last — a scheduler retry of a committed step is a no-op instead of the
silent double-append ADVICE.md flagged. Growth proof unchanged: state row
counts track survivors, not history size. Inputs need (doc_id, text).

The state protocol (seed, step, bloom sidecars, roll-up and its
directory swap, expiry rebuild) lives in ``signature_state.py``, shared
with the streaming form (``streaming/incremental_dedup_stream``); this
CLI keys it by string step ids. ``compact`` folds the partitions whose
``_steps`` marker exists and swaps each table through
``operators/layout.swap_dir``, which first heals a swap a crash
interrupted.
"""

from __future__ import annotations

import argparse
import os
import re
import sys
import time

from .signature_state import Layout

#: step ids are unordered names: a step sees every partition but its own,
#: so a replay never sees its own half-written rows; the seed is ``init``,
#: stamped day 0
LAYOUT = Layout(
    col="step", col_type="string", seed_key="init", seed_stamp=0, ordered=False,
)


def _step_id_from(batch_path: str) -> str:
    base = os.path.basename(batch_path.rstrip("/"))
    return re.sub(r"[^A-Za-z0-9_.\-]", "_", base) or "step"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="bensp-daily", description=__doc__)
    sub = ap.add_subparsers(dest="cmd", required=True)

    ini = sub.add_parser("init", help="derive day-0 signature tables")
    ini.add_argument("history", help="historical corpus parquet (doc_id, text)")
    ini.add_argument("sig_dir", help="signature-state output directory")
    ini.add_argument("-t", "--threads", type=int, default=None)
    ini.add_argument("-v", "--verbose", action="store_true")

    st = sub.add_parser("step", help="run one day of the loop")
    st.add_argument("batch", help="the day's new-documents parquet (doc_id, text)")
    st.add_argument("sig_dir", help="signature-state directory (from init)")
    st.add_argument("flags_out", help="output parquet for the day's flags")
    st.add_argument("--step-id", default=None,
                    help="idempotency key (default: batch file basename); a "
                         "committed step-id is a no-op on replay")
    st.add_argument("--max-hamming", type=int, default=3)
    st.add_argument("--no-advance", action="store_true",
                    help="flag only; leave the signature tables untouched")
    st.add_argument("--no-bloom", action="store_true",
                    help="skip the packed-bloom prefilter entirely (flags "
                         "identical). Rarely needed since r8: the probe is "
                         "SIZE-GATED — below ~250k estimated history keys "
                         "incremental_dedup skips it automatically because "
                         "the exact join broadcasts anyway "
                         "(dedup_text.BLOOM_GATE_MIN_HISTORY)")
    st.add_argument("--day", type=int, default=None,
                    help="the step's day number, stamped as last_seen on "
                         "the appended rows AND on re-sighting rows "
                         "(exact-dup hashes; near-matched fingerprints) — "
                         "enables retention: content stays alive while "
                         "copies of it keep arriving. Replays must pass "
                         "the SAME day (step-id idempotency already "
                         "enforces this). Omit to keep the legacy "
                         "survivors-only append")
    st.add_argument("-t", "--threads", type=int, default=None)
    st.add_argument("-v", "--verbose", action="store_true")

    cp = sub.add_parser(
        "compact",
        help="merge committed step partitions into one (file-count bound), "
             "optionally expiring hashes not seen since a cutoff day",
    )
    cp.add_argument("sig_dir", help="signature-state directory")
    cp.add_argument("--expire-before", type=int, default=None, metavar="DAY",
                    help="retention cutoff: drop hashes AND fingerprints "
                         "whose newest sighting (max last_seen across rows; "
                         "legacy rows count as day 0) is < DAY. Forgotten "
                         "content re-crawled later is genuinely NEW (flags "
                         "neither exact_dup nor near_dup, re-enters the "
                         "state with the new day); in-window content "
                         "dedupes exactly as full history would (see "
                         "module doc). Both packed blooms are REBUILT from "
                         "the surviving state (bits can't be unset by OR)")
    cp.add_argument("-t", "--threads", type=int, default=None)
    cp.add_argument("-v", "--verbose", action="store_true")

    args = ap.parse_args(argv)
    inputs = {
        "init": [args.history] if args.cmd == "init" else [],
        "step": [args.batch, args.sig_dir] if args.cmd == "step" else [],
        "compact": [args.sig_dir] if args.cmd == "compact" else [],
    }[args.cmd]
    for p in inputs:
        if not os.path.exists(p):
            print(f"error: input not found: {p}", file=sys.stderr)
            return 2

    from . import signature_state as S
    from .operators.dedup_text import BLOOM_M
    from .session import get_spark
    from .streaming._sink import Markers

    spark = get_spark("bensp-daily-cli", shuffle_partitions=args.threads)
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.perf_counter()
    markers = Markers(spark, os.path.join(args.sig_dir, "_steps"))

    if args.cmd == "init":
        S.seed(
            spark.read.parquet(args.history), args.sig_dir, LAYOUT,
            use_bloom=True, max_hamming=3, floor_m=BLOOM_M,
        )
        markers.mark(LAYOUT.seed_key)
        if args.verbose:
            print(
                f"init: {spark.read.parquet(os.path.join(args.sig_dir, 'hashes')).count()} "
                f"hashes, {spark.read.parquet(os.path.join(args.sig_dir, 'sims')).count()} "
                f"fingerprints in {time.perf_counter() - t0:.2f}s -> {args.sig_dir}"
            )
    elif args.cmd == "compact":
        # Old markers stay, so replays of already-committed steps remain
        # no-ops after compaction.
        folded = S.roll_up(spark, args.sig_dir, LAYOUT, markers.done, args.expire_before)
        if args.expire_before is not None:
            S.rebuild_blooms(spark, args.sig_dir, {})
        if args.verbose:
            print(
                f"compact: {folded} partitions per table folded"
                + (
                    f", hashes expired before day {args.expire_before}"
                    if args.expire_before is not None
                    else ""
                )
                + f" in {time.perf_counter() - t0:.2f}s"
            )
    else:
        step_id = args.step_id or _step_id_from(args.batch)
        if markers.done(step_id):
            if args.verbose:
                print(f"step {step_id}: already committed — no-op replay")
            spark.stop()
            return 0
        blooms = (
            dict.fromkeys(name for name, _, _ in S.BLOOMS)
            if args.no_bloom
            else S.load_blooms(args.sig_dir, args.max_hamming)
        )
        S.step(
            spark, args.sig_dir, LAYOUT, spark.read.parquet(args.batch), step_id,
            stamp=args.day if args.day is not None else LAYOUT.seed_stamp,
            resight=args.day is not None,
            max_hamming=args.max_hamming,
            blooms=blooms,
            write_flags=lambda flags: flags.write.mode("overwrite").parquet(args.flags_out),
            advance=not args.no_advance,
        )
        if not args.no_advance:
            markers.mark(step_id)
        if args.verbose:
            out = spark.read.parquet(args.flags_out)
            n = out.count()
            kept = out.filter("is_kept").count()
            print(
                f"step {step_id}: {n} docs, {kept} kept, {n - kept} flagged "
                f"({'state advanced' if not args.no_advance else 'no advance'}"
                f"{', bloom prefilter' if blooms['bloom'] else ''}) "
                f"in {time.perf_counter() - t0:.2f}s -> {args.flags_out}"
            )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
