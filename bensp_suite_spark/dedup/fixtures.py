"""Deterministic dedup-pipeline inputs (FIXTURES.md §2).

Two generators:

- ``docs_from_documents``: derives per-file binary content from the
  driver's ``documents`` table (deterministic, sf-scaled) — used by the
  declared query so the correctness input is driver data, not ours.
- ``synthetic_docs``: block-pool generator mirroring the reference's
  duplication-controlled text inputs (tools/create_txt_files.c:37-56):
  each file concatenates blocks drawn from a small seeded pool, so the
  expected duplicate-chunk ratio is controllable.
"""

from __future__ import annotations

from collections.abc import Iterator
from functools import lru_cache

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, LongType, StructField, StructType

from ..session import ensure_worker_imports

FILES_SCHEMA = StructType(
    [StructField("file_id", LongType()), StructField("content", BinaryType())]
)


# One persisted fixture per (session, sf_dir, size): the three cdc_* declared
# queries all start from the same 80 MB generated input — sharing one
# materialization instead of three is worth ~2-3 s each in any run that
# executes the family (bench, driver correctness pass).
_FIXTURE_CACHE: dict[tuple[str, str, int], DataFrame] = {}


def docs_from_documents(spark: SparkSession, sf_dir: str, target_bytes: int = 16384) -> DataFrame:
    """One binary file per document row: the text tiled to ~target_bytes.

    Tiling creates genuine intra/inter-file duplicate chunks (documents
    share vocabulary), exercising the dedup path on driver-owned data.
    Cached + persisted per (session, sf_dir): deterministic content, so
    reuse is safe.
    """
    key = (spark.sparkContext.applicationId, sf_dir, target_bytes)
    cached = _FIXTURE_CACHE.get(key)
    if cached is not None:
        return cached
    ensure_worker_imports(spark)
    from ..tables import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("file_id"), "text"
    )
    # The documents table is often a single parquet file → 1 input split, and
    # mapInPandas preserves partitioning — without an explicit spread the whole
    # tile+chunk+hash pipeline would run on ONE core. Shuffling the tiny text
    # rows is ~free; the generated binary content is what's expensive.
    docs = docs.repartition(spark.sparkContext.defaultParallelism)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            contents = []
            for text in pdf["text"]:
                blob = (text + " ").encode("utf-8")
                reps = max(1, -(-target_bytes // max(1, len(blob))))
                contents.append((blob * reps)[:target_bytes])
            yield pd.DataFrame({"file_id": pdf["file_id"], "content": contents})

    out = docs.mapInPandas(gen, FILES_SCHEMA).persist()
    out.count()
    _FIXTURE_CACHE[key] = out
    return out


@lru_cache(maxsize=4)
def _block_pool(seed: int, pool_size: int, block_min: int, block_max: int) -> list[bytes]:
    rng = np.random.default_rng(seed)
    return [
        rng.integers(0, 256, size=int(rng.integers(block_min, block_max + 1)), dtype=np.uint8).tobytes()
        for _ in range(pool_size)
    ]


def synthetic_docs(
    spark: SparkSession,
    n_files: int = 64,
    file_bytes: int = 65536,
    pool_size: int = 48,
    seed: int = 42,
    block_min: int = 2048,
    block_max: int = 8192,
) -> DataFrame:
    """Distributed generation: pool built once per executor (cached),
    per-file RNG seeded by (seed, file_id) — pure function of its args."""
    ensure_worker_imports(spark)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pool = _block_pool(seed, pool_size, block_min, block_max)
        for pdf in batches:
            contents = []
            for fid in pdf["id"]:
                rng = np.random.default_rng((seed << 20) ^ int(fid))
                parts: list[bytes] = []
                total = 0
                while total < file_bytes:
                    # zipf-ish reuse: low-index blocks picked far more often
                    idx = min(int(rng.zipf(1.3)) - 1, pool_size - 1)
                    parts.append(pool[idx])
                    total += len(pool[idx])
                contents.append(b"".join(parts)[:file_bytes])
            yield pd.DataFrame({"file_id": pdf["id"], "content": contents})

    return spark.range(n_files).repartition(max(1, n_files // 8)).mapInPandas(gen, FILES_SCHEMA)


#: content classes of the reference's duplication-controlled text
#: generator (tools/create_txt_files.c:37-41,70-84: 60-byte lines built
#: from fixed 20-byte runs and/or random tails, one class per compile
#: flag RAND/AAR/ABC/FFF/FFR/RFF)
INPUT_CONTENT_CLASSES = ("rand", "aar", "abc", "fff", "ffr", "rff")

#: size classes of the testbed's input taxonomy
#: (bin/parsec_stream:30-39: light_duty l1-l3 / heavy_duty h1-h3, plus
#: t = test and f = free class). The reference's concrete inputs are
#: media tarballs of those magnitudes; here the same scheme maps to
#: (n_files, file_bytes) so the sweep reproduces the paper's
#: input-parameterization axis on the text generator.
INPUT_SIZE_CLASSES = {
    "t": (2, 1 << 16),
    "l1": (8, 1 << 18),
    "l2": (16, 1 << 18),
    "l3": (32, 1 << 18),
    "h1": (32, 1 << 20),
    "h2": (64, 1 << 20),
    "h3": (128, 1 << 20),
    "f": (16, 1 << 20),
}

_LINE_CHARSET = (
    b"abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
    b",.-#'?!@$%&*()-+={}^~;:/?|"
)


def class_files(
    spark: SparkSession,
    input_class: str,
    n_files: int | None = None,
    file_bytes: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """The reference's input-class generator, distributed: ``input_class``
    is ``"<size>:<content>"`` (e.g. ``"h1:abc"``) or just a content class
    (size defaults to ``l1``). Files are 61-byte lines (60 chars + \\n)
    laid out per the content class:

      rand  60 random chars                  → ~0 duplicate chunks
      aar   20+20 'a' run + 20 random        → compressible, low dup
      abc   fixed a20 b20 c20 line           → ~100% duplicate chunks
      fff   fixed 'f'*60 line                → ~100% duplicate chunks
      ffr   40 'f' run + 20 random           → compressible, low dup
      rff   20 random + 40 'f' run           → compressible, low dup

    Per-file RNG seeded by (seed, file_id) — pure function of its args,
    layout-independent like ``synthetic_docs``."""
    size_cls, _, content_cls = input_class.partition(":")
    if not content_cls:
        size_cls, content_cls = "l1", size_cls
    if content_cls not in INPUT_CONTENT_CLASSES:
        raise ValueError(
            f"unknown content class {content_cls!r}; have {INPUT_CONTENT_CLASSES}"
        )
    if size_cls not in INPUT_SIZE_CLASSES:
        raise ValueError(
            f"unknown size class {size_cls!r}; have {sorted(INPUT_SIZE_CLASSES)}"
        )
    d_files, d_bytes = INPUT_SIZE_CLASSES[size_cls]
    n_files = d_files if n_files is None else n_files
    file_bytes = d_bytes if file_bytes is None else file_bytes
    ensure_worker_imports(spark)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        charset = np.frombuffer(_LINE_CHARSET, dtype=np.uint8)
        n_lines = -(-file_bytes // 61)
        for pdf in batches:
            contents = []
            for fid in pdf["id"]:
                rng = np.random.default_rng((seed << 21) ^ int(fid))

                def rnd(width):
                    return charset[
                        rng.integers(0, len(charset), size=(n_lines, width))
                    ]

                fixed = {
                    "a": np.full((n_lines, 20), ord("a"), dtype=np.uint8),
                    "b": np.full((n_lines, 20), ord("b"), dtype=np.uint8),
                    "c": np.full((n_lines, 20), ord("c"), dtype=np.uint8),
                    "f": np.full((n_lines, 20), ord("f"), dtype=np.uint8),
                }
                if content_cls == "rand":
                    body = rnd(60)
                elif content_cls == "aar":
                    body = np.concatenate(
                        [fixed["a"], fixed["a"], rnd(20)], axis=1
                    )
                elif content_cls == "abc":
                    body = np.concatenate(
                        [fixed["a"], fixed["b"], fixed["c"]], axis=1
                    )
                elif content_cls == "fff":
                    body = np.concatenate(
                        [fixed["f"], fixed["f"], fixed["f"]], axis=1
                    )
                elif content_cls == "ffr":
                    body = np.concatenate(
                        [fixed["f"], fixed["f"], rnd(20)], axis=1
                    )
                else:  # rff
                    body = np.concatenate(
                        [rnd(20), fixed["f"], fixed["f"]], axis=1
                    )
                lines = np.concatenate(
                    [body, np.full((n_lines, 1), 0x0A, dtype=np.uint8)], axis=1
                )
                contents.append(lines.tobytes()[:file_bytes])
            yield pd.DataFrame({"file_id": pdf["id"], "content": contents})

    return (
        spark.range(n_files)
        .repartition(max(1, n_files // 8))
        .mapInPandas(gen, FILES_SCHEMA)
    )
