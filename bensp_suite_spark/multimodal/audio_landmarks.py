"""Audio landmark fingerprinting — query-by-snippet (Wang 2003, the
"Shazam" algorithm): constellation of spectrogram peaks → landmark pair
hashes → inverted index → offset-consistency voting.

The audio analog of the ferret image search (reference: the CASS
toolkit's content-based retrieval answers "which corpus item contains
something like this query" for images; this answers it for audio with
the published landmark method): a snippet cut from ANYWHERE inside a
track — even amplitude-scaled — votes overwhelmingly for its source
track at the correct time offset, because landmark hashes are local in
time and the true (track, offset) pair accumulates matches linearly
while collisions scatter.

Spark shape: landmark EXTRACTION is the only Python stage (one
``mapInPandas`` pass over the audio blobs, Arrow-batched, no shuffle —
same frame as every other multimodal decode here); the MATCH is pure
DataFrame algebra — an equi-join on the landmark hash, a groupBy vote
on (query, track, offset), a window top-k. At 100 TB the corpus
landmark table IS the index: persist it as parquet bucketed by
``lm_hash`` and the probe join is shuffle-free on the corpus side;
landmarks are ~dozens per second of audio regardless of corpus size.

DETERMINISM: float64 spectrogram via ``np.fft.rfft`` (bit-stable on a
host), peak rule = strictly greater than every neighbor in the
(2·DT+1)×(2·DF+1) window AND ≥ THRESH × the clip's mean magnitude
(relative threshold ⇒ amplitude-scale invariant), landmark enumeration
in ascending (t, f) order with a fixed fan-out. The golden oracle pins
the full pipeline output via the independent pure-Python vote mirror in
tools/golden_reference.py over this module's scalar kernel (the same
codec-independent framing as the other multimodal pins).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import ensure_worker_imports

FRAME = 512
HOP = 256
PEAK_DT = 3
PEAK_DF = 3
PEAK_THRESH = 1.5
FANOUT = 8
PAIR_WINDOW = 32

__all__ = [
    "spectrogram",
    "spectrogram_peaks",
    "landmark_kernel",
    "extract_landmarks",
    "snippet_match",
]


def spectrogram(samples: np.ndarray) -> np.ndarray:
    """(T, F) float64 magnitude spectrogram: Hann-windowed FRAME-point
    rFFT every HOP samples. Trailing partial frame dropped."""
    x = np.asarray(samples, dtype=np.float64)
    n = (len(x) - FRAME) // HOP + 1
    if n <= 0:
        return np.zeros((0, FRAME // 2 + 1))
    frames = np.stack([x[i * HOP : i * HOP + FRAME] for i in range(n)])
    win = np.hanning(FRAME)
    return np.abs(np.fft.rfft(frames * win, axis=1))


def spectrogram_peaks(mag: np.ndarray) -> list[tuple[int, int]]:
    """Constellation points: (t, f) bins strictly greater than every
    neighbor within ±PEAK_DT frames / ±PEAK_DF bins and at least
    PEAK_THRESH × the clip mean (relative ⇒ gain-invariant). Vectorized
    as 48 shifted comparisons — no Python inner loop over bins."""
    if mag.size == 0:
        return []
    T, Fb = mag.shape
    ok = mag >= PEAK_THRESH * mag.mean()
    pad = np.full(
        (T + 2 * PEAK_DT, Fb + 2 * PEAK_DF), -np.inf, dtype=np.float64
    )
    pad[PEAK_DT : PEAK_DT + T, PEAK_DF : PEAK_DF + Fb] = mag
    for ddt in range(-PEAK_DT, PEAK_DT + 1):
        for ddf in range(-PEAK_DF, PEAK_DF + 1):
            if ddt == 0 and ddf == 0:
                continue
            nb = pad[
                PEAK_DT + ddt : PEAK_DT + ddt + T,
                PEAK_DF + ddf : PEAK_DF + ddf + Fb,
            ]
            ok &= mag > nb
    ts, fs = np.nonzero(ok)
    return list(zip(ts.tolist(), fs.tolist()))


def landmark_kernel(samples: np.ndarray) -> list[tuple[int, int]]:
    """→ [(lm_hash, t1)]: each peak pairs with its next ≤FANOUT peaks
    within PAIR_WINDOW frames (ascending (t, f) order), hash packs
    (f1, f2, dt) as f1·2¹⁵ + f2·2⁶ + dt (f < 512, dt < 64 — lossless)."""
    peaks = spectrogram_peaks(spectrogram(samples))
    out: list[tuple[int, int]] = []
    for i, (t1, f1) in enumerate(peaks):
        taken = 0
        for t2, f2 in peaks[i + 1 :]:
            dt = t2 - t1
            if dt == 0:
                continue
            if dt > PAIR_WINDOW:
                break
            out.append(((f1 << 15) | (f2 << 6) | dt, t1))
            taken += 1
            if taken >= FANOUT:
                break
    return out


def extract_landmarks(
    audio: DataFrame, id_col: str = "media_id"
) -> DataFrame:
    """(media_id, lm_hash, t) — one narrow Arrow pass over the audio
    blobs (decode + landmark kernel), no shuffle. This table IS the
    inverted index; persist it bucketed by lm_hash at scale."""
    ensure_worker_imports(audio.sparkSession)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .audio_video import decode_audio

        for pdf in batches:
            ids, hs, ts = [], [], []
            for mid, fmt, payload in zip(
                pdf[id_col], pdf["format"], pdf["audio"]
            ):
                for h, t in landmark_kernel(
                    decode_audio(bytes(payload), str(fmt))
                ):
                    ids.append(int(mid))
                    hs.append(int(h))
                    ts.append(int(t))
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "lm_hash": pd.Series(hs, dtype="int64"),
                    "t": pd.Series(ts, dtype="int64"),
                }
            )

    return audio.mapInPandas(gen, "media_id long, lm_hash long, t long")


def snippet_match(
    snippets: DataFrame,
    corpus_landmarks: DataFrame,
    k: int = 1,
    min_votes: int = 2,
) -> DataFrame:
    """Query-by-snippet: extract the snippets' landmarks, equi-join the
    corpus landmark index on lm_hash, vote on (query, track,
    frame-offset), return the top-k (votes desc, media_id, offset)
    matches per query with ≥ min_votes. All JVM after extraction: one
    hash join (query side broadcast — snippets are seconds of audio),
    one aggregation, one window."""
    q_lm = extract_landmarks(snippets, id_col="media_id").select(
        F.col("media_id").alias("query_id"),
        "lm_hash",
        F.col("t").alias("qt"),
    )
    j = corpus_landmarks.join(F.broadcast(q_lm), "lm_hash")
    votes = j.groupBy(
        "query_id", "media_id", (F.col("t") - F.col("qt")).alias("offset_frames")
    ).agg(F.count(F.lit(1)).alias("votes"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("votes").desc(), F.col("media_id"), F.col("offset_frames")
    )
    return (
        votes.filter(F.col("votes") >= min_votes)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "media_id", "offset_frames", "votes", "rank")
    )
