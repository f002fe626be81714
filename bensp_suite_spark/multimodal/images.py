"""Image kernels + multimodal-column plumbing.

Treats images as opaque ``binary`` columns with typed metadata (format,
width, height). The compute kernels — RGB→HSV (K13, image.c:198-236), SRM
segmentation (K8, srm.c:251-533) and 14-dim region feature extraction (K9,
extract.c:261-357) — are REAL numpy re-derivations of the reference
algorithms, unit-tested on synthetic images. The codec layer is real too:
``decode_image`` routes ``"png"`` through the pure-Python PNG codec in this
module (all five row filters; Pillow preferred when importable) and
``"jpeg"`` through the pure-Python baseline T.81 codec in ``jpeg.py``
(always — bit-deterministic, goldens depend on it; ``"jpeg-libjpeg"`` opts
into Pillow), alongside the deterministic ``raw-rgb`` codec (width/height
header + raw bytes).
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..session import ensure_worker_imports

# reference constants
NUM_GRAY = 256  # srm.c:107
Q_VALUE = 125.0  # srm.c:532 default precision knob (parsec_stream:274-280)
SIZE_FACTOR = 0.005  # srm.c:533
IMAGE_DIM = 14  # extract.c:27
MAXR = 256  # extract.c:23
# static feature weights dw (extract.c:28)
DW = np.array([6.0, 3.0, 1.5, 4.0, 2.0, 1.0, 4.0, 2.0, 1.0, 0.2, 0.4, 0.04, 0.007, 0.007])

IMAGE_TABLE_SCHEMA = StructType(
    [
        StructField("image_id", LongType()),
        StructField("name", StringType()),
        StructField("format", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("image", BinaryType()),
    ]
)

EXTRACT_SCHEMA = StructType(
    [
        StructField("image_id", LongType()),
        StructField("name", StringType()),
        StructField(
            "regions",
            ArrayType(
                StructType(
                    [
                        StructField("weight", FloatType()),
                        StructField("features", ArrayType(FloatType())),
                    ]
                )
            ),
        ),
    ]
)


# ---------------------------------------------------------------------------
# codecs (S4 ingestion; raw-rgb REAL, jpeg STUBBED)
# ---------------------------------------------------------------------------

def encode_raw_rgb(rgb: np.ndarray) -> bytes:
    """Deterministic uncompressed codec: u32 width, u32 height, H*W*3 bytes."""
    h, w, _ = rgb.shape
    return struct.pack("<II", w, h) + rgb.astype(np.uint8).tobytes()


def decode_image(payload: bytes, fmt: str) -> np.ndarray:
    """→ (H, W, 3) uint8 RGB. PNG decodes through the pure-Python codec
    below (zlib + the five per-row filters); JPEG through the pure
    baseline-DCT codec in multimodal/jpeg.py — both real in this
    container, no Pillow required (the reference ingests compressed
    images through libjpeg, apps/ferret/src/image/image.c:314-358). The
    surrounding pipeline is format-agnostic."""
    if fmt == "raw-rgb":
        w, h = struct.unpack_from("<II", payload, 0)
        arr = np.frombuffer(payload, dtype=np.uint8, offset=8)
        return arr.reshape(h, w, 3)
    if fmt == "png":
        # Prefer libpng via Pillow when importable (C-speed unfiltering);
        # the pure-Python codec is the always-available exact fallback —
        # both produce identical pixels (PNG is lossless).
        try:
            import io

            from PIL import Image
        except ImportError:
            return decode_png(payload)
        with Image.open(io.BytesIO(payload)) as img:
            return np.asarray(img.convert("RGB"), dtype=np.uint8)
    if fmt == "jpeg":
        # Always the pure decoder: its float64 IDCT is bit-deterministic
        # on every platform, unlike libjpeg whose integer IDCT variants
        # differ across builds — JPEG is lossy, so a library swap would
        # silently shift pixels (and with them dedup keys and goldens).
        from .jpeg import decode_jpeg

        return decode_jpeg(payload)
    if fmt == "jpeg-libjpeg":
        # opt-in C-speed path for deployments that prefer throughput over
        # bit reproducibility; falls back to the pure decoder
        try:
            import io

            from PIL import Image
        except ImportError:
            from .jpeg import decode_jpeg

            return decode_jpeg(payload)
        with Image.open(io.BytesIO(payload)) as img:
            return np.asarray(img.convert("RGB"), dtype=np.uint8)
    raise ValueError(f"unknown image format {fmt!r}")


# ---------------------------------------------------------------------------
# PNG — pure-Python/numpy codec (RFC 2083): zlib DEFLATE + the five
# per-row filters. 8-bit gray / RGB / RGBA, non-interlaced — the shapes a
# crawl's thumbnails actually use; anything fancier belongs to a codec
# library. Makes one REAL compressed image format exercisable end-to-end
# in this container (the reference ingests compressed images,
# image.c:314-358).
# ---------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(tag: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def _paeth(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Paeth predictor (RFC 2083 §6.6) vectorized over a row."""
    a16 = a.astype(np.int16)
    b16 = b.astype(np.int16)
    c16 = c.astype(np.int16)
    p = a16 + b16 - c16
    pa, pb, pc = np.abs(p - a16), np.abs(p - b16), np.abs(p - c16)
    out = np.where((pa <= pb) & (pa <= pc), a16, np.where(pb <= pc, b16, c16))
    return out.astype(np.uint8)


def encode_png(rgb: np.ndarray, row_filters: list[int] | None = None) -> bytes:
    """RGB uint8 → PNG bytes (color type 2, bit depth 8). ``row_filters``
    pins the per-row filter byte (0-4) so tests can exercise every decode
    filter path; default is filter 0 everywhere (the encoder's job here is
    correctness + determinism, not ratio)."""
    h, w, ch = rgb.shape
    assert ch == 3
    img = rgb.astype(np.uint8)
    raw = bytearray()
    prev = np.zeros((w, 3), dtype=np.uint8)
    for y in range(h):
        row = img[y]
        f = row_filters[y % len(row_filters)] if row_filters else 0
        left = np.zeros_like(row)
        left[1:] = row[:-1]
        up = prev
        ul = np.zeros_like(row)
        ul[1:] = prev[:-1]
        if f == 0:
            enc = row
        elif f == 1:
            enc = row - left
        elif f == 2:
            enc = row - up
        elif f == 3:
            enc = row - ((left.astype(np.uint16) + up.astype(np.uint16)) // 2).astype(np.uint8)
        elif f == 4:
            enc = row - _paeth(left, up, ul)
        else:
            raise ValueError(f"bad filter {f}")
        raw.append(f)
        raw += enc.astype(np.uint8).tobytes()
        prev = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + _png_chunk(b"IEND", b"")
    )


def decode_png(payload: bytes) -> np.ndarray:
    """PNG bytes → (H, W, 3) uint8 RGB. Pure Python/numpy: chunk walk,
    zlib inflate of the concatenated IDATs, then per-row unfiltering
    (None/Sub/Up/Average/Paeth, RFC 2083 §6). 8-bit gray (0), RGB (2) and
    RGBA (6, alpha dropped — PIL.convert('RGB') semantics); interlaced or
    16-bit images raise (codec-library territory). Malformed bytes raise
    typed ValueError (hostile-input contract, fuzz-tested)."""
    import zlib as _zlib

    try:
        return _decode_png(payload)
    except (_zlib.error, struct.error, IndexError, KeyError, OverflowError,
            MemoryError) as e:
        raise ValueError(f"malformed PNG: {e}") from e


def _decode_png(payload: bytes) -> np.ndarray:
    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG: bad signature")
    pos = 8
    idat = bytearray()
    w = h = None
    bitdepth = colortype = interlace = None
    while pos < len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        tag = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            w, h, bitdepth, colortype, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
    if w is None:
        raise ValueError("PNG missing IHDR")
    if bitdepth != 8:
        raise ValueError(f"unsupported PNG bit depth {bitdepth} (8 only)")
    if interlace:
        raise ValueError("interlaced PNG unsupported")
    channels = {0: 1, 2: 3, 6: 4}.get(colortype)
    if channels is None:
        raise ValueError(f"unsupported PNG color type {colortype}")
    data = zlib.decompress(bytes(idat))
    stride = w * channels
    if len(data) != h * (stride + 1):
        raise ValueError("PNG data length mismatch")
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    bpp = channels
    for y in range(h):
        f = data[y * (stride + 1)]
        off = y * (stride + 1) + 1
        if f == 0:
            row = np.frombuffer(data, np.uint8, stride, off).copy()
        elif f == 1:
            # Sub: row[i] = raw[i] + row[i−bpp]. Addition mod 256 is
            # associative, so each lane (byte position mod bpp) is an
            # exact per-lane cumulative sum — fully vectorized.
            raw = np.frombuffer(data, np.uint8, stride, off)
            row = np.empty(stride, dtype=np.uint8)
            for lane in range(bpp):
                row[lane::bpp] = np.cumsum(raw[lane::bpp], dtype=np.int64) & 0xFF
        elif f == 2:  # Up — vectorized wrap-add against the decoded row above
            row = np.frombuffer(data, np.uint8, stride, off) + prev
        elif f in (3, 4):
            # Average/Paeth carry a true sequential dependency on the
            # decoded LEFT byte (floor-half / predictor selection are not
            # associative), so a scan is unavoidable in pure Python —
            # bytearray indexing keeps it ~5× cheaper than numpy scalar
            # indexing. Real clusters take the libpng path via Pillow
            # (decode_image prefers it when importable).
            rb = bytearray(data[off : off + stride])
            pb_row = bytes(prev)
            if f == 3:
                for i in range(stride):
                    left = rb[i - bpp] if i >= bpp else 0
                    rb[i] = (rb[i] + ((left + pb_row[i]) >> 1)) & 0xFF
            else:
                for i in range(stride):
                    a = rb[i - bpp] if i >= bpp else 0
                    c = pb_row[i - bpp] if i >= bpp else 0
                    b_ = pb_row[i]
                    p = a + b_ - c
                    pa = p - a if p >= a else a - p
                    pcb = p - b_ if p >= b_ else b_ - p
                    pc = p - c if p >= c else c - p
                    pred = a if (pa <= pcb and pa <= pc) else (b_ if pcb <= pc else c)
                    rb[i] = (rb[i] + pred) & 0xFF
            row = np.frombuffer(bytes(rb), dtype=np.uint8)
        else:
            raise ValueError(f"bad PNG filter {f}")
        out[y] = row
        prev = row
    px = out.reshape(h, w, channels)
    if channels == 1:
        return np.repeat(px, 3, axis=2)
    if channels == 4:
        return px[..., :3].copy()
    return px


# ---------------------------------------------------------------------------
# K13 — RGB→HSV, byte semantics of pixel_rgb2hsv (image.c:198-236)
# ---------------------------------------------------------------------------

def rgb_to_hsv(rgb: np.ndarray) -> np.ndarray:
    r = rgb[..., 0].astype(np.float32)
    g = rgb[..., 1].astype(np.float32)
    b = rgb[..., 2].astype(np.float32)
    mx = np.maximum(np.maximum(r, g), b)
    mn = np.minimum(np.minimum(r, g), b)
    delta = mx - mn
    v = mx
    with np.errstate(divide="ignore", invalid="ignore"):
        s = np.where(mx > 0, np.floor(delta * 255.0 / np.maximum(mx, 1)), 0.0)
        hue = np.where(
            mx == r,
            (g - b) / np.maximum(delta, 1e-30),
            np.where(mx == g, 2.0 + (b - r) / np.maximum(delta, 1e-30), 4.0 + (r - g) / np.maximum(delta, 1e-30)),
        )
    hue = np.where(hue < 0, hue + 6.0, hue)
    h = np.where((mx > 0) & (delta > 0), 255.0 * hue / 6.0, 0.0)
    s = np.where(delta > 0, s, np.where(mx > 0, 0.0, 0.0))
    out = np.stack([h, s, v], axis=-1)
    return out.astype(np.uint8)


# ---------------------------------------------------------------------------
# K8 — SRM segmentation (srm.c:251-533)
# ---------------------------------------------------------------------------

def srm_segment(
    rgb: np.ndarray, q_value: float = Q_VALUE, size_factor: float = SIZE_FACTOR
) -> tuple[np.ndarray, int]:
    """Statistical Region Merging → (mask uint8 H×W of region ids, nrgn).

    Union-find over 4-neighbor pixel pairs processed in ascending order of
    max-channel delta (stable 256-bucket order, srm.c:159-199); merge when
    all three channel-mean gaps clear the statistical threshold
    (srm.c:302-303, 414-424); then the small-region sweep (srm.c:451-489).
    """
    h, w, _ = rgb.shape
    n = h * w
    flat = rgb.reshape(n, 3).astype(np.float64)

    log_delta = 2.0 * np.log(6.0 * n)
    thresh_factor = (NUM_GRAY * NUM_GRAY) / (2.0 * q_value)
    min_reg_size = size_factor * n

    means = flat.copy()
    size = np.ones(n, dtype=np.int64)
    parent = np.arange(n, dtype=np.int64)
    rank = np.zeros(n, dtype=np.int64)

    img = rgb.astype(np.int16)
    # edge lists in the reference's construction order: interior E,S pairs
    # row-major, then last-column S pairs, then last-row E pairs
    e1, e2, delta = [], [], []

    def add(p, q, d):
        e1.append(p)
        e2.append(q)
        delta.append(d)

    ids = np.arange(n).reshape(h, w)
    if w > 1 and h > 1:
        base = ids[: h - 1, : w - 1]
        de = np.abs(img[: h - 1, 1:w] - img[: h - 1, : w - 1]).max(-1)
        ds = np.abs(img[1:h, : w - 1] - img[: h - 1, : w - 1]).max(-1)
        # interleave E,S per pixel in row-major order
        pe = np.stack([base, base], axis=-1).reshape(-1)
        qe = np.stack([base + 1, base + w], axis=-1).reshape(-1)
        dd = np.stack([de, ds], axis=-1).reshape(-1)
        e1, e2, delta = [pe], [qe], [dd]
    if h > 1:
        col = ids[: h - 1, w - 1]
        e1.append(col)
        e2.append(col + w)
        delta.append(np.abs(img[1:h, w - 1] - img[: h - 1, w - 1]).max(-1))
    if w > 1:
        row = ids[h - 1, : w - 1]
        e1.append(row)
        e2.append(row + 1)
        delta.append(np.abs(img[h - 1, 1:w] - img[h - 1, : w - 1]).max(-1))
    E1 = np.concatenate(e1)
    E2 = np.concatenate(e2)
    D = np.concatenate(delta)
    order = np.argsort(D, kind="stable")

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    def union(a: int, b: int) -> int:
        if rank[a] > rank[b]:
            parent[b] = a
            return a
        if rank[a] < rank[b]:
            parent[a] = b
            return b
        parent[b] = a
        rank[a] += 1
        return a

    ln1p = np.log1p
    for idx in order:
        r1, r2 = find(E1[idx]), find(E2[idx])
        if r1 == r2:
            continue
        s1, s2 = size[r1], size[r2]
        thr = np.sqrt(
            thresh_factor
            * (
                (min(NUM_GRAY, s1) * ln1p(s1) + log_delta) / s1
                + (min(NUM_GRAY, s2) * ln1p(s2) + log_delta) / s2
            )
        )
        if (
            abs(means[r1, 0] - means[r2, 0]) < thr
            and abs(means[r1, 1] - means[r2, 1]) < thr
            and abs(means[r1, 2] - means[r2, 2]) < thr
        ):
            root = union(r1, r2)
            tot = s1 + s2
            means[root] = (s1 * means[r1] + s2 * means[r2]) / tot
            size[root] = tot

    # small-region sweep: horizontal neighbors, row-major (srm.c:451-489)
    for i in range(h):
        for j in range(1, w):
            p = i * w + j
            r1, r2 = find(p), find(p - 1)
            if r1 != r2 and (size[r1] < min_reg_size or size[r2] < min_reg_size):
                root = union(r1, r2)
                tot = size[r1] + size[r2]
                means[root] = (size[r1] * means[r1] + size[r2] * means[r2]) / tot
                size[root] = tot

    roots = np.fromiter((find(i) for i in range(n)), dtype=np.int64, count=n)
    uniq, mask = np.unique(roots, return_inverse=True)  # first-occurrence relabel
    nrgn = len(uniq)
    if nrgn > MAXR:
        # cap at MAXR like the reference's fixed region arrays (extract.c:23):
        # overflow regions collapse into the last id
        mask = np.minimum(mask, MAXR - 1)
        nrgn = MAXR
    return mask.reshape(h, w).astype(np.uint16), int(nrgn)


# ---------------------------------------------------------------------------
# K9 — region feature extraction (extract.c:261-357)
# ---------------------------------------------------------------------------

class _Box:
    """Adaptive bounding-box tracker (box_new/box_insert_pxl/box_combine,
    extract.c:44-120): keeps a 'current' tight box; when a new pixel would
    dilute density below 0.15, folds it into the union box and restarts."""

    __slots__ = ("a1", "a2", "b1", "b2", "cx", "cy", "p1", "p2", "u1", "u2", "v1", "v2")

    def __init__(self, x: int, y: int):
        self.a1, self.b1, self.a2, self.b2 = x, y, x + 1, y + 1
        self.cx, self.cy = float(x), float(y)
        self.p1, self.p2 = 1, 0
        self.u1 = self.u2 = self.v1 = self.v2 = 0

    def combine(self) -> None:
        if self.p2:
            self.u1 = min(self.u1, self.a1)
            self.v1 = min(self.v1, self.b1)
            self.u2 = max(self.u2, self.a2)
            self.v2 = max(self.v2, self.b2)
            self.p2 += self.p1
        else:
            self.u1, self.v1, self.u2, self.v2 = self.a1, self.b1, self.a2, self.b2
            self.p2 = self.p1
        self.p1 = 0

    def insert(self, x: int, y: int) -> None:
        sz = (self.a2 - self.a1) * (self.b2 - self.b1)
        az = self.p1 / sz
        self.cx += x
        self.cy += y
        if az > 0.15:
            if x < self.a1:
                self.a1 = x
            elif x >= self.a2:
                self.a2 = x + 1
            if y < self.b1:
                self.b1 = y
            elif y >= self.b2:
                self.b2 = y + 1
            self.p1 += 1
        else:
            self.combine()
            self.a1, self.b1, self.a2, self.b2 = x, y, x + 1, y + 1
            self.p1 = 1

    def to_vec(self) -> list[float]:
        np_ = self.p1 + self.p2
        lr = self.p2 / np_
        cx, cy = self.cx / np_, self.cy / np_
        if lr < 0.1:
            dx, dy, rp = self.a2 - self.a1, self.b2 - self.b1, self.p1
        else:
            self.combine()
            dx, dy, rp = self.u2 - self.u1, self.v2 - self.v1, np_
        sz = dx * dy
        return [float(np.log(dy / dx)), rp / sz, float(np.log(sz)), cx, cy]


def extract_features(hsv: np.ndarray, mask: np.ndarray, nrgn: int) -> list[tuple[float, list[float]]]:
    """14-dim weighted region vectors: 9 color moments (3 HSV chans ×
    mean, stddev, cbrt-skew, each /255) + 5 shape features, scaled by the
    static dw weights; region weight = √size normalized
    (img_map_to_seg, extract.c:204-259)."""
    h, w, _ = hsv.shape
    flat = hsv.reshape(-1, 3).astype(np.float64)
    m = mask.reshape(-1).astype(np.int64)
    sizes = np.bincount(m, minlength=nrgn).astype(np.float64)

    mean = np.zeros((nrgn, 3))
    for c in range(3):
        mean[:, c] = np.bincount(m, weights=flat[:, c], minlength=nrgn) / sizes
    dev = flat - mean[m]
    m2 = np.zeros((nrgn, 3))
    m3 = np.zeros((nrgn, 3))
    for c in range(3):
        m2[:, c] = np.bincount(m, weights=dev[:, c] ** 2, minlength=nrgn)
        m3[:, c] = np.bincount(m, weights=dev[:, c] ** 3, minlength=nrgn)
    mom0 = mean / 255.0
    mom1 = np.sqrt(m2 / sizes[:, None]) / 255.0
    mom2 = np.cbrt(m3 / sizes[:, None]) / 255.0

    # boxes in scan order (extract.c:281-285)
    boxes: list[_Box | None] = [None] * nrgn
    mm = mask
    for i in range(h):
        for j in range(w):
            r = int(mm[i, j])
            if boxes[r] is None:
                boxes[r] = _Box(i, j)
            else:
                boxes[r].insert(i, j)

    wsum = np.sqrt(sizes).sum()
    out = []
    for r in range(nrgn):
        feats = []
        for c in range(3):  # channel-major, moment-minor (extract.c:230-234)
            feats += [mom0[r, c], mom1[r, c], mom2[r, c]]
        feats += boxes[r].to_vec()
        feats = (np.array(feats) * DW).astype(np.float32)
        out.append((float(np.sqrt(sizes[r]) / wsum), feats.tolist()))
    return out


# ---------------------------------------------------------------------------
# Spark plumbing: binary column → region vecsets (S4+K8+K9+K13 fused map)
# ---------------------------------------------------------------------------

def images_to_vecsets(images: DataFrame, q_value: float = Q_VALUE, size_factor: float = SIZE_FACTOR) -> DataFrame:
    """mapInPandas: decode → HSV → segment → extract, one fused Python stage
    (no shuffle; the reference's load/seg/extract thread stages collapse
    into one narrow map, SURVEY §3.3)."""
    ensure_worker_imports(images.sparkSession)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"image_id": [], "name": [], "regions": []}
            for iid, name, fmt, payload in zip(
                pdf["image_id"], pdf["name"], pdf["format"], pdf["image"]
            ):
                rgb = decode_image(bytes(payload), fmt)
                hsv = rgb_to_hsv(rgb)
                mask, nrgn = srm_segment(rgb, q_value, size_factor)
                regions = [
                    {"weight": wgt, "features": feats}
                    for wgt, feats in extract_features(hsv, mask, nrgn)
                ]
                rows["image_id"].append(iid)
                rows["name"].append(name)
                rows["regions"].append(regions)
            yield pd.DataFrame(rows)

    return images.mapInPandas(gen, EXTRACT_SCHEMA)


def resize_kernel(rgb: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Deterministic nearest-neighbor resize (pure numpy index maps — the
    pixel chosen for output (y, x) is in[floor(y*H/out_h), floor(x*W/out_w)]).
    Bilinear/Lanczos belong to a real codec library; the kernel is the
    placeholder with exactly reproducible output."""
    h, w, _ = rgb.shape
    ys = (np.arange(out_h) * h) // out_h
    xs = (np.arange(out_w) * w) // out_w
    return rgb[np.ix_(ys, xs)]


def resize_images(images: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Multimodal resize operator: (image_id, name, format, width, height,
    image) → same schema at (out_w, out_h). A narrow mapInPandas stage —
    rows are independent, no shuffle; at 100 TB this is scan-bound exactly
    like decode/extract (SURVEY §3.3 one-fused-map design)."""
    ensure_worker_imports(images.sparkSession)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("image_id", "name", "format", "width", "height", "image")}
            for iid, name, fmt, payload in zip(
                pdf["image_id"], pdf["name"], pdf["format"], pdf["image"]
            ):
                rgb = decode_image(bytes(payload), fmt)
                small = resize_kernel(rgb, out_w, out_h)
                out["image_id"].append(iid)
                out["name"].append(name)
                out["format"].append("raw-rgb")
                out["width"].append(out_w)
                out["height"].append(out_h)
                out["image"].append(encode_raw_rgb(small))
            yield pd.DataFrame(out)

    return images.mapInPandas(
        gen,
        "image_id long, name string, format string, width int, height int, image binary",
    )


# ---------------------------------------------------------------------------
# Perceptual-hash image dedup (training-data generalization of ferret's
# image-similarity pipeline: find near-duplicate IMAGES, not top-K lookups)
# ---------------------------------------------------------------------------

def dhash_kernel(rgb: np.ndarray) -> int:
    """64-bit difference hash: grayscale → nearest-neighbor 9×8 → bit i =
    gray[y, x] > gray[y, x+1]. All-integer (no float DCT, no BLAS), so the
    hash is bit-identical on any host — the property a distributed dedup
    key must have. Robust to uniform brightness/contrast shifts (gradients
    preserved); sensitive to content edits."""
    # integer luma (ITU-R 601-ish, scaled by 1024 to stay integral)
    r = rgb[..., 0].astype(np.int64)
    g = rgb[..., 1].astype(np.int64)
    b = rgb[..., 2].astype(np.int64)
    gray = (306 * r + 601 * g + 117 * b) >> 10
    small = resize_kernel(np.stack([gray, gray, gray], axis=-1).astype(np.uint8), 9, 8)[..., 0]
    bits = (small[:, :-1] > small[:, 1:]).astype(np.uint64).ravel()
    h = np.uint64(0)
    for bit in bits:
        h = (h << np.uint64(1)) | bit
    return int(h.astype(np.int64))  # two's-complement into a Spark LongType


def image_dhash(images: DataFrame) -> DataFrame:
    """(image_id, name, dhash) — narrow mapInPandas stage, no shuffle."""
    ensure_worker_imports(images.sparkSession)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, names, hashes = [], [], []
            for iid, name, fmt, payload in zip(
                pdf["image_id"], pdf["name"], pdf["format"], pdf["image"]
            ):
                ids.append(iid)
                names.append(name)
                hashes.append(dhash_kernel(decode_image(bytes(payload), fmt)))
            yield pd.DataFrame({"image_id": ids, "name": names, "dhash": hashes})

    return images.mapInPandas(gen, "image_id long, name string, dhash long")


def image_near_dup_pairs(images: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-duplicate image pairs by dHash, via the shared 64-bit banded
    hamming join (operators/similarity.banded_hamming_pairs — exact
    recall at hamming ≤ 3 with 4 bands; the shuffle carries 8 bytes per
    image regardless of pixel count)."""
    from ..operators.similarity import banded_hamming_pairs

    return banded_hamming_pairs(
        image_dhash(images), "image_id", "dhash", max_hamming=max_hamming
    )


def synthetic_textured_images(spark, n: int = 12, size: int = 32, seed: int = 17,
                              dup_of: dict[int, int] | None = None):
    """Per-pixel noise images in [0, 200) — mutually far apart in dHash
    space (the rectangle fixtures are not: they share block structure).
    ``dup_of`` plants near-duplicates: {new_id: source_index} rows are the
    source image with +10 brightness (dHash-invariant because no pixel
    saturates), modeling re-encoded/re-exposed copies in a crawl."""
    rows = []
    imgs = []
    for i in range(n):
        rng = np.random.default_rng(seed + i)
        img = rng.integers(0, 200, (size, size, 3)).astype(np.uint8)
        imgs.append(img)
        rows.append((i, f"img_{i:05d}.raw", "raw-rgb", size, size, encode_raw_rgb(img)))
    for new_id, src in (dup_of or {}).items():
        dup = np.clip(imgs[src].astype(np.int32) + 10, 0, 255).astype(np.uint8)
        rows.append((new_id, f"dup_{new_id:05d}.raw", "raw-rgb", size, size,
                     encode_raw_rgb(dup)))
    from ..session import local_rows_df as _ldf

    return _ldf(spark, rows, IMAGE_TABLE_SCHEMA, min(len(rows), 32))


def synthetic_png_images(spark, n: int = 12, size: int = 32, seed: int = 31):
    """The ``synthetic_images`` pixel content, PNG-encoded through the
    pure-Python codec with a rotating per-row filter (0..4) so a scan
    exercises every unfilter path. Same image_ids and pixels as the
    raw-rgb fixture — only the codec differs, which is exactly what the
    PNG-variant golden pins."""
    rows = []
    for i in range(n):
        rng = np.random.default_rng(seed + i)
        img = np.full((size, size, 3), rng.integers(0, 80, 3), dtype=np.uint8)
        for _ in range(int(rng.integers(1, 4))):
            x0, y0 = rng.integers(0, size // 2, 2)
            dx, dy = rng.integers(size // 4, size // 2, 2)
            img[x0 : x0 + dx, y0 : y0 + dy] = rng.integers(100, 255, 3)
        rows.append(
            (i, f"img_{i:05d}.png", "png", size, size,
             encode_png(img, row_filters=[0, 1, 2, 3, 4]))
        )
    from ..session import local_rows_df as _ldf

    return _ldf(spark, rows, IMAGE_TABLE_SCHEMA, min(max(1, n), 32))


def synthetic_jpeg_images(
    spark, n: int = 12, size: int = 32, seed: int = 31, quality: int = 90
):
    """The ``synthetic_images`` pixel content, JPEG-encoded through the
    pure-Python baseline codec (multimodal/jpeg.py) with 4:2:0 chroma
    subsampling and a restart interval — the dominant crawl-JPEG shape,
    exercising the full marker/RST/Huffman decode surface. JPEG is lossy,
    so the matching golden pins the decode of these exact bytes (the
    codec's own round-trip accuracy is unit-tested separately)."""
    from .jpeg import encode_jpeg

    rows = []
    for i in range(n):
        rng = np.random.default_rng(seed + i)
        img = np.full((size, size, 3), rng.integers(0, 80, 3), dtype=np.uint8)
        for _ in range(int(rng.integers(1, 4))):
            x0, y0 = rng.integers(0, size // 2, 2)
            dx, dy = rng.integers(size // 4, size // 2, 2)
            img[x0 : x0 + dx, y0 : y0 + dy] = rng.integers(100, 255, 3)
        rows.append(
            (i, f"img_{i:05d}.jpg", "jpeg", size, size,
             encode_jpeg(img, quality=quality, subsample=True, restart_interval=2))
        )
    from ..session import local_rows_df as _ldf

    return _ldf(spark, rows, IMAGE_TABLE_SCHEMA, min(max(1, n), 32))


def synthetic_images(spark, n: int = 16, size: int = 48, seed: int = 31):
    """Deterministic synthetic raw-rgb images (colored rectangles on a
    background — FIXTURES.md §4) as a multimodal image table."""
    rows = []
    for i in range(n):
        rng = np.random.default_rng(seed + i)
        img = np.full((size, size, 3), rng.integers(0, 80, 3), dtype=np.uint8)
        for _ in range(int(rng.integers(1, 4))):
            x0, y0 = rng.integers(0, size // 2, 2)
            dx, dy = rng.integers(size // 4, size // 2, 2)
            img[x0 : x0 + dx, y0 : y0 + dy] = rng.integers(100, 255, 3)
        rows.append((i, f"img_{i:05d}.raw", "raw-rgb", size, size, encode_raw_rgb(img)))
    # one partition per image, not one per core: the downstream stages are
    # all Python UDFs, and n tiny rows spread over 32 partitions would spin
    # up 32 Python workers to process 12 images
    from ..session import local_rows_df as _ldf

    return _ldf(spark, rows, IMAGE_TABLE_SCHEMA, min(max(1, n), 32))


# ---------------------------------------------------------------------------
# pHash — DCT-based perceptual hash (the second fingerprint family next to
# dHash: frequency-domain, so it survives small spatial perturbations and
# re-scaling better, and is EXACTLY invariant to uniform brightness shifts
# because only the DC coefficient moves and the hash uses AC terms only)
# ---------------------------------------------------------------------------

PHASH_N = 32  # DCT input side
PHASH_K = 8   # low-frequency block side
_DCT_SCALE = 1 << 14


def _dct_matrix_int(n: int = PHASH_N) -> np.ndarray:
    """Fixed-point DCT-II basis, round(cos(π(2j+1)i / 2n) · 2¹⁴) as int64.
    Integer matmuls are EXACT (associative — no float reduction-order or
    BLAS variability), so the hash is bit-identical on any host, the same
    distributed-dedup-key property the all-integer dHash has."""
    j = np.arange(n)
    i = np.arange(n)[:, None]
    return np.round(np.cos(np.pi * (2 * j + 1) * i / (2 * n)) * _DCT_SCALE).astype(
        np.int64
    )


_DCT_M = _dct_matrix_int()


def phash_kernel(rgb: np.ndarray) -> int:
    """63-bit perceptual hash: integer luma → nearest-neighbor 32×32 →
    fixed-point 2-D DCT (int64 exact) → top-left 8×8 block → bit i =
    AC coefficient i > integer median of the 63 AC terms. The DC term is
    excluded, making the hash exactly invariant under uniform brightness
    shifts (no clipping) — the same robustness class pHash is used for in
    crawl dedup. Top bit always 0 (63 data bits in a signed long)."""
    r = rgb[..., 0].astype(np.int64)
    g = rgb[..., 1].astype(np.int64)
    b = rgb[..., 2].astype(np.int64)
    gray = (306 * r + 601 * g + 117 * b) >> 10
    small = resize_kernel(
        np.stack([gray, gray, gray], axis=-1).astype(np.uint8), PHASH_N, PHASH_N
    )[..., 0].astype(np.int64)
    coeffs = _DCT_M @ small @ _DCT_M.T  # exact int64
    block = coeffs[:PHASH_K, :PHASH_K].ravel()
    ac = block[1:]  # drop DC
    s = np.sort(ac)
    median = int(s[31])  # exact median of the 63 AC terms
    bits = (ac > median).astype(np.uint64)
    h = np.uint64(0)
    for bit in bits:
        h = (h << np.uint64(1)) | bit
    return int(h.astype(np.int64))


def image_phash(images: DataFrame) -> DataFrame:
    """(image_id, name, phash) — narrow mapInPandas stage, no shuffle."""
    ensure_worker_imports(images.sparkSession)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, names, hashes = [], [], []
            for iid, name, fmt, payload in zip(
                pdf["image_id"], pdf["name"], pdf["format"], pdf["image"]
            ):
                ids.append(iid)
                names.append(name)
                hashes.append(phash_kernel(decode_image(bytes(payload), fmt)))
            yield pd.DataFrame({"image_id": ids, "name": names, "phash": hashes})

    return images.mapInPandas(gen, "image_id long, name string, phash long")


def image_near_dup_pairs_phash(images: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-duplicate image pairs by pHash through the shared banded
    hamming join — 8 bytes per image on the wire, same as dHash."""
    from ..operators.similarity import banded_hamming_pairs

    return banded_hamming_pairs(
        image_phash(images), "image_id", "phash", max_hamming=max_hamming
    )
