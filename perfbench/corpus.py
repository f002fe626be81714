"""Seeded input corpus of the dedup round trip, with a shape that does not
depend on the seed.

Every file is a run of fixed-size blocks from a pool; each pool block is
used the same number of times, in an order fixed once for all seeds. The
seed only chooses the blocks' random (incompressible) bytes, so every
seed gives the same duplicate structure: the same number of repeated
blocks, each repeated as often, with no hot block whose size or chunking
the seed decides.
"""

from __future__ import annotations

import numpy as np

BLOCK_BYTES = 1 << 14
#: seeds the block order, which is part of the corpus' shape
SHAPE_SEED = 20240601


def files(seed: int, n_files: int, file_bytes: int, reuse: int) -> list[bytes]:
    """The contents of ``n_files`` files of ``file_bytes`` each, in which
    every block occurs ``reuse`` times."""
    if file_bytes % BLOCK_BYTES:
        raise ValueError(f"file_bytes must be a multiple of {BLOCK_BYTES}")
    slots = n_files * file_bytes // BLOCK_BYTES
    if slots % reuse:
        raise ValueError(f"{slots} blocks cannot each be used {reuse} times")
    n_unique = slots // reuse
    pool = np.random.default_rng(seed).integers(
        0, 256, size=(n_unique, BLOCK_BYTES), dtype=np.uint8)
    order = np.random.default_rng(SHAPE_SEED).permutation(np.arange(slots) % n_unique)
    data = pool[order].reshape(n_files, file_bytes)
    return [row.tobytes() for row in data]
