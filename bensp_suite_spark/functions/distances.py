"""Distance-function family (K10, reference apps/ferret/src/src/cass_dist.c:30-134).

The reference macro-generates {L2, L1, cosine} × {float,int32} plus
weighted (``_W``) and early-exit-threshold (``_T``) variants and a popcount
Hamming. Here each is a JVM column expression over ``array`` columns —
sequential folds, so every one of them has an exact DuckDB ``list_reduce``
mirror for oracle checking. The ``_T`` early-exit variant is a physical
optimization with no semantic effect; Spark's codegen handles
short-circuiting differently, so it is intentionally not reproduced.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _fold(col: Column) -> Column:
    return F.aggregate(col, F.lit(0.0), lambda acc, v: acc + v)


def dist_l1(a: Column, b: Column) -> Column:
    """L1 / Manhattan (dist_L1_*, cass_dist.c:92-105)."""
    return _fold(F.zip_with(a, b, lambda x, y: F.abs(x - y)))


def dot(a: Column, b: Column) -> Column:
    return _fold(F.zip_with(a, b, lambda x, y: x * y))


def dist_hamming(a: Column, b: Column) -> Column:
    """Popcount-over-XOR on integer fingerprints (dist_hamming,
    cass_dist.c:123-134)."""
    return F.bit_count(a.bitwiseXOR(b))


# DuckDB mirrors (sequential left folds; 0.0+x == x exactly in IEEE)
def _sql_fold(products: str) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), {products}), (x, y) -> x + y)"
    )


def sql_dist_l1(a: str, b: str) -> str:
    return _sql_fold(f"list_transform(range(1, len({a}) + 1), i -> abs({a}[i] - {b}[i]))")
