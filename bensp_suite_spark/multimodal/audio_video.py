"""Audio / video multimodal columns (north-star spec: treat media as opaque
``binary`` columns with typed metadata; decode / feature-extract / resize /
frame-sample as Pandas UDFs over mapInPandas).

Codec layer: real codecs for PCM s16le + WAV (stdlib ``wave``) audio and
packed raw-rgb + uncompressed RIFF/AVI video — all lossless, so the
container-format paths fingerprint identically to the raw paths (parity
tested). FLAC is a real pure-Python decoder in ``flac.py`` (lossless,
bit-deterministic), and MP4 is a real pure-Python ISO BMFF muxer/demuxer
in ``mp4.py`` whose 'jpeg' (MJPEG) sample entries decode through the pure
JPEG codec. Only mp3 and non-MJPEG mp4 codecs (avc1/hev1) remain
environment-gated STUBS behind NotImplementedError — swap in ffmpeg on a
real cluster, the plumbing (schema, batch shape, partitioning) is
format-agnostic.

Feature kernels are REAL numpy: framed RMS energy + zero-crossing rate
(audio), per-frame mean color + frame sampling (video).
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F  # noqa: F401 (callers compose)
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..session import ensure_worker_imports

AUDIO_TABLE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_channels", IntegerType()),
        StructField("audio", BinaryType()),
    ]
)

AUDIO_FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("n_samples", LongType()),
        StructField("duration_s", DoubleType()),
        StructField("frame_rms", ArrayType(DoubleType())),
        StructField("frame_zcr", ArrayType(DoubleType())),
    ]
)

VIDEO_TABLE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("video", BinaryType()),
    ]
)

VIDEO_FRAMES_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("mean_rgb", ArrayType(DoubleType())),
        StructField("frame", BinaryType()),
    ]
)


# --- codecs -----------------------------------------------------------------

def encode_pcm_s16le(samples: np.ndarray) -> bytes:
    return samples.astype("<i2").tobytes()


def encode_wav(samples: np.ndarray, rate: int = 16000, channels: int = 1) -> bytes:
    """int16 samples → RIFF/WAVE bytes (stdlib ``wave`` — pure Python, no
    codec library). Multi-channel input is interleaved (N, channels)."""
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(samples.astype("<i2").tobytes())
    return buf.getvalue()


def decode_wav(payload: bytes) -> np.ndarray:
    """RIFF/WAVE bytes → float64 mono samples, pure stdlib (the audio
    analog of the pure-Python PNG codec: one REAL container format is
    decodable in this container). 8/16/32-bit PCM; channels downmix by
    mean, matching the soundfile path's normalization (int16 / 32768)."""
    import io
    import wave

    try:
        with wave.open(io.BytesIO(payload), "rb") as w:
            nch, sw, _rate, nframes = (
                w.getnchannels(), w.getsampwidth(), w.getframerate(), w.getnframes()
            )
            raw = w.readframes(nframes)
    except (wave.Error, struct.error, EOFError, OSError, RuntimeError,
            OverflowError, MemoryError) as e:
        # stdlib wave/chunk surface bare RuntimeError/OSError on corrupted
        # headers (seek on truncated chunks, closed-file rewinds) — all of
        # it is "malformed input" at this boundary
        raise ValueError(f"malformed WAV: {e}") from e
    if nch < 1 or len(raw) % max(sw * nch, 1):
        raise ValueError("malformed WAV: frame payload does not tile channels")
    if sw == 2:
        x = np.frombuffer(raw, dtype="<i2").astype(np.float64) / 32768.0
    elif sw == 4:
        x = np.frombuffer(raw, dtype="<i4").astype(np.float64) / 2147483648.0
    elif sw == 1:  # WAV 8-bit is unsigned
        x = (np.frombuffer(raw, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
    else:
        raise ValueError(f"unsupported WAV sample width {sw}")
    if nch > 1:
        x = x.reshape(-1, nch).mean(axis=1)
    return x


def decode_audio(payload: bytes, fmt: str) -> np.ndarray:
    """→ float64 mono samples in [-1, 1). WAV decodes through the pure
    stdlib path (soundfile preferred when importable — identical values
    for PCM, both divide by the type range); other compressed formats
    need soundfile (libsndfile) — a real cluster gets them for free; in
    this container the library is absent and those paths are honest
    STUBs."""
    if fmt == "pcm-s16le":
        return np.frombuffer(payload, dtype="<i2").astype(np.float64) / 32768.0
    if fmt == "wav":
        try:
            import io

            import soundfile as sf
        except ImportError:
            return decode_wav(payload)
        data, _rate = sf.read(io.BytesIO(payload), dtype="float64", always_2d=True)
        return data.mean(axis=1)
    if fmt == "flac":
        # Prefer libsndfile when importable; the pure-Python decoder in
        # flac.py is the always-available exact path (FLAC is lossless,
        # so both yield identical sample values for integer PCM).
        try:
            import io

            import soundfile as sf
        except ImportError:
            from .flac import decode_flac

            samples, _rate, bps = decode_flac(payload)
            x = samples.astype(np.float64) / float(1 << (bps - 1))
            return x.mean(axis=1) if x.shape[1] > 1 else x[:, 0]
        data, _rate = sf.read(io.BytesIO(payload), dtype="float64", always_2d=True)
        return data.mean(axis=1)
    if fmt in ("mp3", "ogg"):
        try:
            import io

            import soundfile as sf
        except ImportError:
            raise NotImplementedError(
                f"STUB: {fmt} decode requires an audio codec library "
                "(soundfile/ffmpeg), not available in this container; use "
                "format='pcm-s16le', 'wav' or 'flac' for tests"
            ) from None
        data, _rate = sf.read(io.BytesIO(payload), dtype="float64", always_2d=True)
        return data.mean(axis=1)  # downmix to mono, matching the PCM path
    raise ValueError(f"unknown audio format {fmt!r}")


def encode_raw_video(frames: np.ndarray) -> bytes:
    n, h, w, _ = frames.shape
    return struct.pack("<III", w, h, n) + frames.astype(np.uint8).tobytes()


def _avi_chunk(tag: bytes, body: bytes) -> bytes:
    pad = b"\x00" if len(body) % 2 else b""
    return tag + struct.pack("<I", len(body)) + body + pad


def _avi_list(kind: bytes, body: bytes) -> bytes:
    return _avi_chunk(b"LIST", kind + body)


def encode_avi_rgb(frames: np.ndarray, fps: int = 25) -> bytes:
    """(N, H, W, 3) uint8 RGB → uncompressed RIFF/AVI bytes (pure
    Python). Frames are stored the way every AVI consumer expects raw
    video: '00db' chunks of bottom-up BGR DIB rows, stride padded to 4
    bytes, BITMAPINFOHEADER biCompression=0 (BI_RGB)."""
    n, h, w, _ = frames.shape
    stride = (w * 3 + 3) & ~3
    frame_bytes = stride * h

    # per-frame DIB: rows bottom-up, channels BGR, rows padded
    movi_chunks = []
    pad = np.zeros((h, stride - w * 3), dtype=np.uint8)
    for f in range(n):
        bgr = frames[f][:, :, ::-1]           # RGB → BGR
        rows = np.concatenate([bgr.reshape(h, -1), pad], axis=1)  # pad stride
        movi_chunks.append(_avi_chunk(b"00db", rows[::-1].tobytes()))  # bottom-up
    movi = _avi_list(b"movi", b"".join(movi_chunks))

    # headers (fields the decoder needs; index omitted — players tolerate
    # index-less AVIs, and our decoder walks the movi list directly)
    avih = _avi_chunk(
        b"avih",
        struct.pack(
            "<IIIIIIIIIIIIII",
            1_000_000 // fps,  # dwMicroSecPerFrame
            frame_bytes * fps,  # dwMaxBytesPerSec
            0, 0x10, n, 0, 1, frame_bytes, w, h, 0, 0, 0, 0,
        ),
    )
    strh = _avi_chunk(
        b"strh",
        b"vids" + b"DIB " + struct.pack("<IHHIIIIIIIIhhhh",
            0, 0, 0, 0, 1, fps, 0, n, frame_bytes, 0, 0, 0, 0, w, h),
    )
    strf = _avi_chunk(
        b"strf",
        struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, frame_bytes, 0, 0, 0, 0),
    )
    hdrl = _avi_list(b"hdrl", avih + _avi_list(b"strl", strh + strf))
    riff_body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


def decode_avi_rgb(payload: bytes) -> np.ndarray:
    """Uncompressed RIFF/AVI bytes → (N, H, W, 3) uint8 RGB, pure Python:
    RIFF chunk walk, BITMAPINFOHEADER (BI_RGB 24-bit only), '00db' DIB
    frames un-flipped/un-padded/BGR→RGB. Compressed codecs raise — they
    are PyAV/ffmpeg territory."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not an AVI: bad RIFF header")

    w = h = None
    bitcount = compression = None
    frames: list[np.ndarray] = []

    def walk(buf: bytes, pos: int, end: int) -> None:
        nonlocal w, h, bitcount, compression
        while pos + 8 <= end:
            tag = buf[pos : pos + 4]
            (ln,) = struct.unpack_from("<I", buf, pos + 4)
            body_start = pos + 8
            if tag == b"LIST":
                walk(buf, body_start + 4, body_start + ln)
            elif tag == b"strf" and w is None:
                (_sz, bw, bh, _planes, bc, comp) = struct.unpack_from(
                    "<IiiHHI", buf, body_start
                )
                w, h, bitcount, compression = bw, abs(bh), bc, comp
            elif tag[2:4] in (b"db", b"dc") and tag[:2].isdigit():
                if w is None:
                    # malformed/reordered AVI: a frame chunk before the
                    # strf header would otherwise die in the stride
                    # arithmetic with an opaque TypeError
                    raise ValueError("AVI frame chunk before strf header")
                if compression not in (0, None) or bitcount != 24:
                    raise ValueError(
                        "compressed/paletted AVI streams need an ffmpeg-backed "
                        "decoder (PyAV); this pure decoder handles BI_RGB 24-bit"
                    )
                stride = (w * 3 + 3) & ~3
                dib = np.frombuffer(buf, np.uint8, stride * h, body_start)
                rows = dib.reshape(h, stride)[::-1, : w * 3]  # un-flip, un-pad
                frames.append(rows.reshape(h, w, 3)[:, :, ::-1].copy())  # BGR→RGB
            pos = body_start + ln + (ln & 1)

    try:
        # clamp the declared RIFF size to the actual buffer: truncated or
        # size-corrupted files must reject typed, not via raw struct reads
        end = min(8 + struct.unpack_from("<I", payload, 4)[0], len(payload))
        walk(payload, 12, end)
    except (struct.error, IndexError, OverflowError, MemoryError) as e:
        raise ValueError(f"malformed AVI: {e}") from e
    if w is None:
        raise ValueError("AVI missing strf header")
    if frames and any(f.shape != frames[0].shape for f in frames):
        raise ValueError("malformed AVI: frames decode to differing shapes")
    return (
        np.stack(frames) if frames else np.zeros((0, h or 0, w or 0, 3), np.uint8)
    )


def decode_video(payload: bytes, fmt: str) -> np.ndarray:
    """→ (N, H, W, 3) uint8 RGB frames. Container formats decode via PyAV
    (ffmpeg bindings) when importable — a real cluster gets them for
    free; in this container the library is absent and the path is an
    honest STUB."""
    if fmt == "raw-frames":
        w, h, n = struct.unpack_from("<III", payload, 0)
        arr = np.frombuffer(payload, dtype=np.uint8, offset=12)
        return arr.reshape(n, h, w, 3)
    if fmt == "avi":
        # Prefer ffmpeg via PyAV when importable (handles every codec an
        # AVI can carry); the pure decoder is the always-available exact
        # path for uncompressed BI_RGB streams.
        try:
            import io

            import av
        except ImportError:
            return decode_avi_rgb(payload)
        with av.open(io.BytesIO(payload)) as container:
            frames = [
                f.to_ndarray(format="rgb24") for f in container.decode(video=0)
            ]
        return np.stack(frames) if frames else np.zeros((0, 0, 0, 3), np.uint8)
    if fmt in ("mp4", "webm"):
        try:
            import io

            import av
        except ImportError:
            if fmt == "mp4":
                # pure ISO BMFF demuxer + the pure JPEG codec: real for
                # 'jpeg' (MJPEG) sample entries; avc1/hev1 raise the
                # typed environment gate inside
                from .mp4 import decode_mp4_mjpeg

                return decode_mp4_mjpeg(payload)
            raise NotImplementedError(
                f"STUB: {fmt} decode requires ffmpeg (PyAV), not available "
                "in this container; use format='raw-frames', an "
                "uncompressed 'avi', or an MJPEG 'mp4' for tests"
            ) from None
        with av.open(io.BytesIO(payload)) as container:
            frames = [
                f.to_ndarray(format="rgb24")
                for f in container.decode(video=0)
            ]
        return np.stack(frames) if frames else np.zeros((0, 0, 0, 3), np.uint8)
    raise ValueError(f"unknown video format {fmt!r}")


# --- kernels ----------------------------------------------------------------

def audio_frame_features(samples: np.ndarray, frame: int = 1024) -> tuple[np.ndarray, np.ndarray]:
    """Per-frame RMS energy and zero-crossing rate (vectorized)."""
    n = len(samples) - (len(samples) % frame)
    if n == 0:
        return np.zeros(0), np.zeros(0)
    x = samples[:n].reshape(-1, frame)
    rms = np.sqrt((x**2).mean(axis=1))
    zcr = (np.abs(np.diff(np.signbit(x), axis=1)).sum(axis=1)) / frame
    return rms, zcr.astype(np.float64)


def extract_audio_features(audio: DataFrame, frame: int = 1024) -> DataFrame:
    ensure_worker_imports(audio.sparkSession)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in ("media_id", "n_samples", "duration_s", "frame_rms", "frame_zcr")}
            for mid, fmt, sr, payload in zip(
                pdf["media_id"], pdf["format"], pdf["sample_rate"], pdf["audio"]
            ):
                samples = decode_audio(bytes(payload), fmt)
                rms, zcr = audio_frame_features(samples, frame)
                rows["media_id"].append(mid)
                rows["n_samples"].append(len(samples))
                rows["duration_s"].append(len(samples) / sr)
                rows["frame_rms"].append([round(float(v), 8) for v in rms])
                rows["frame_zcr"].append([round(float(v), 8) for v in zcr])
            yield pd.DataFrame(rows)

    return audio.mapInPandas(gen, AUDIO_FEATURES_SCHEMA)


def sample_video_frames(video: DataFrame, every_n: int = 5) -> DataFrame:
    """Frame-sample + per-frame feature extraction: keep every Nth frame
    with its mean color — the 1→N UDTF shape (explode inside mapInPandas)."""
    ensure_worker_imports(video.sparkSession)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in ("media_id", "frame_idx", "mean_rgb", "frame")}
            for mid, fmt, payload in zip(pdf["media_id"], pdf["format"], pdf["video"]):
                frames = decode_video(bytes(payload), fmt)
                for idx in range(0, frames.shape[0], every_n):
                    f = frames[idx]
                    rows["media_id"].append(mid)
                    rows["frame_idx"].append(idx)
                    rows["mean_rgb"].append([round(float(v), 6) for v in f.reshape(-1, 3).mean(0)])
                    rows["frame"].append(f.tobytes())
            yield pd.DataFrame(rows)

    return video.mapInPandas(gen, VIDEO_FRAMES_SCHEMA)


# --- audio fingerprint dedup ------------------------------------------------

def audio_fingerprint_kernel(samples: np.ndarray, nbits: int = 64) -> int:
    """64-bit energy-envelope difference hash: split |samples| into
    nbits+1 equal segments, integer-sum each, bit i = seg[i] > seg[i+1].
    All-integer (int64 sums of int16 magnitudes), so bit-identical on any
    host; invariant to exact gain scaling (monotone integer transforms
    preserve the comparisons); sensitive to content. The audio analog of
    the image dHash — a cheap envelope fingerprint, not a spectral
    landmark scheme (that needs an FFT pipeline and a codec layer).

    Accepts raw int16 samples or decode_audio's float output — the
    normalization divides by 32768 (a power of two, exact in IEEE), so
    multiplying back restores the original integers losslessly."""
    if np.issubdtype(samples.dtype, np.floating):
        samples = np.floor(samples * 32768.0)
    mag = np.abs(samples.astype(np.int64))
    nseg = nbits + 1
    n = len(mag) - (len(mag) % nseg)
    if n == 0:
        return 0
    seg = mag[:n].reshape(nseg, -1).sum(axis=1)
    h = np.uint64(0)
    for i in range(nbits):
        h = (h << np.uint64(1)) | np.uint64(1 if seg[i] > seg[i + 1] else 0)
    return int(h.astype(np.int64))


def audio_fingerprints(audio: DataFrame) -> DataFrame:
    """(media_id, fingerprint) — narrow mapInPandas, no shuffle."""
    ensure_worker_imports(audio.sparkSession)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, fps = [], []
            for mid, fmt, payload in zip(pdf["media_id"], pdf["format"], pdf["audio"]):
                ids.append(mid)
                fps.append(audio_fingerprint_kernel(decode_audio(bytes(payload), fmt)))
            yield pd.DataFrame({"media_id": ids, "fingerprint": fps})

    return audio.mapInPandas(gen, "media_id long, fingerprint long")


def audio_near_dup_pairs(audio: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-duplicate audio pairs via the shared 64-bit banded hamming
    join — same scale shape as image/text: 8 bytes shuffle per clip."""
    from ..operators.similarity import banded_hamming_pairs

    return banded_hamming_pairs(
        audio_fingerprints(audio), "media_id", "fingerprint", max_hamming=max_hamming
    )


# --- video frame-level near-dup ---------------------------------------------

def video_frame_dhashes(video: DataFrame, every_n: int = 5) -> DataFrame:
    """(media_id, frame_idx, dhash) — dHash of every Nth frame, one
    narrow mapInPandas pass (decode + sample + hash fused, frames never
    leave the task)."""
    ensure_worker_imports(video.sparkSession)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .images import dhash_kernel

        for pdf in batches:
            rows = {k: [] for k in ("media_id", "frame_idx", "dhash")}
            for mid, fmt, payload in zip(pdf["media_id"], pdf["format"], pdf["video"]):
                frames = decode_video(bytes(payload), fmt)
                for idx in range(0, frames.shape[0], every_n):
                    rows["media_id"].append(mid)
                    rows["frame_idx"].append(idx)
                    rows["dhash"].append(dhash_kernel(frames[idx]))
            yield pd.DataFrame(rows)

    return video.mapInPandas(gen, "media_id long, frame_idx int, dhash long")


def video_near_dup_pairs(
    video: DataFrame,
    every_n: int = 5,
    max_hamming: int = 3,
    min_matching_frames: int = 3,
) -> DataFrame:
    """Near-duplicate VIDEO pairs by frame-level evidence: dHash the
    sampled frames, find near-identical frame pairs across videos with
    the shared banded hamming join, then keep video pairs supported by at
    least ``min_matching_frames`` distinct matching sampled frames (the
    re-encoded / re-rendered copy case; a single coincidental frame match
    does not pair two videos). Scale shape: the per-frame hash stream is
    8 bytes × sampled frames; the band join and the per-pair count are
    both metadata-sized — pixels never shuffle."""
    from ..operators.similarity import banded_hamming_pairs

    hashes = video_frame_dhashes(video, every_n=every_n)
    # unique surrogate id per sampled frame: media_id ⊗ frame_idx
    frames = hashes.select(
        (F.col("media_id") * F.lit(1_000_000) + F.col("frame_idx")).alias("fid"),
        "dhash",
    )
    pairs = banded_hamming_pairs(frames, "fid", "dhash", max_hamming=max_hamming)
    # map frame-pair evidence back to video pairs (exclude same-video hits)
    with_vids = pairs.select(
        (F.col("id_a") / 1_000_000).cast("long").alias("vid_a"),
        (F.col("id_b") / 1_000_000).cast("long").alias("vid_b"),
        "id_a",
        "id_b",
    ).filter(F.col("vid_a") != F.col("vid_b"))
    # canonical order after dropping frame ids
    lo = F.least("vid_a", "vid_b")
    hi = F.greatest("vid_a", "vid_b")
    return (
        with_vids.select(lo.alias("vid_a"), hi.alias("vid_b"), "id_a", "id_b")
        .groupBy("vid_a", "vid_b")
        .agg(F.count_distinct("id_a", "id_b").alias("n_matching_frames"))
        .filter(F.col("n_matching_frames") >= min_matching_frames)
    )


def clip_match(
    clips: DataFrame,
    corpus_hashes: DataFrame,
    k: int = 1,
    min_votes: int = 2,
    max_hamming: int | None = None,
) -> DataFrame:
    """Video clip localization — the video analog of the audio landmark
    snippet search: dHash every clip frame, join the corpus frame-hash
    index (``video_frame_dhashes(corpus, every_n=1)``), vote on
    (query, video, frame-offset), top-k by (votes desc, media_id,
    offset). A clip of n frames cut from a corpus video lands n votes at
    its true offset while hash collisions scatter — the same
    offset-consistency argument as the audio landmarks, with the 64-bit
    frame dHash as the local feature.

    ``max_hamming=None`` is the exact-copy path (hash equi-join).
    ``max_hamming=h`` handles RE-ENCODED / transcoded clips — the common
    case in web video dedup, where lossy re-compression perturbs pixel
    values and flips a few dHash bits per frame: both sides band their
    64-bit hashes into ``h+1`` slices (pigeonhole: ≤h flipped bits leave
    one band intact, so the banded equi-join has PERFECT recall at ≤h),
    candidates refine with an exact JVM ``bit_count(xor)``, and a frame
    pair matching in several bands collapses to ONE vote. Everything
    after the one decode pass stays JVM join + aggregation + window; the
    banded shuffle carries 8-byte hashes + band keys, never pixels."""
    q = video_frame_dhashes(clips, every_n=1).select(
        F.col("media_id").alias("query_id"),
        F.col("frame_idx").alias("qidx"),
        "dhash",
    )
    if max_hamming is None:
        j = corpus_hashes.join(F.broadcast(q), "dhash").select(
            "query_id", "qidx", "media_id", "frame_idx"
        )
    else:
        if not 0 <= max_hamming < 64:
            raise ValueError(
                f"max_hamming must be in [0, 64) — the pigeonhole banding "
                f"needs at least max_hamming+1 bands of a 64-bit hash "
                f"(got {max_hamming})"
            )
        # smallest band count dividing 64 that still pigeonholes h flips
        n_bands = next(nb for nb in (1, 2, 4, 8, 16, 32, 64) if nb > max_hamming)
        width = 64 // n_bands
        mask = (1 << width) - 1

        def banded(df, hcol):
            return df.select(
                *df.columns,
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(i).alias("band_idx"),
                                F.shiftrightunsigned(F.col(hcol), width * i)
                                .bitwiseAND(F.lit(mask))
                                .alias("band_val"),
                            )
                            for i in range(n_bands)
                        ]
                    )
                ).alias("b"),
            ).select(*df.columns, "b.band_idx", "b.band_val")

        cq = banded(q.withColumnRenamed("dhash", "qhash"), "qhash")
        j = (
            banded(corpus_hashes, "dhash")
            .join(F.broadcast(cq), ["band_idx", "band_val"])
            .filter(
                F.bit_count(F.col("dhash").bitwiseXOR(F.col("qhash")))
                <= max_hamming
            )
            # a pair sharing several intact bands must vote ONCE
            .select("query_id", "qidx", "media_id", "frame_idx")
            .distinct()
        )
    votes = j.groupBy(
        "query_id",
        "media_id",
        (F.col("frame_idx") - F.col("qidx")).cast("long").alias("offset_frames"),
    ).agg(F.count(F.lit(1)).alias("votes"))
    from pyspark.sql import Window as _W

    w = _W.partitionBy("query_id").orderBy(
        F.col("votes").desc(), F.col("media_id"), F.col("offset_frames")
    )
    return (
        votes.filter(F.col("votes") >= min_votes)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "media_id", "offset_frames", "votes", "rank")
    )
