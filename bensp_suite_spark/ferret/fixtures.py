"""Ferret corpus/query fixtures (FIXTURES.md §3).

Feature-level vecsets — no JPEGs needed for correctness:
- ``synthetic_corpus``/``synthetic_queries``: gaussian-mixture region
  vectors around C cluster centers, dim 14 (mkdb:20); queries are jittered
  copies of known corpus images (true top-1 known by construction) plus
  pure-noise negatives.
- ``vecsets_from_embeddings``: driver-owned data path — groups consecutive
  ``embeddings`` rows into multi-region vecsets, or one-region vecsets
  (where EMD degenerates to the vec distance, giving a SQL oracle).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..session import ensure_worker_imports

VEC_DIM = 14  # reference db config: float dim 14 (benchmark/mkdb:20)

CORPUS_SCHEMA = StructType(
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


def _gen_image(rng: np.random.Generator, centers: np.ndarray) -> list[dict]:
    n_regions = int(rng.integers(1, 13))
    sizes = rng.random(n_regions) + 0.05
    weights = np.sqrt(sizes)
    weights /= weights.sum()  # mirrors extract.c:217-228 √size normalization
    out = []
    for r in range(n_regions):
        c = centers[int(rng.integers(0, len(centers)))]
        feat = c + rng.standard_normal(VEC_DIM) * 0.15
        out.append({"weight": float(weights[r]), "features": feat.astype(np.float32).tolist()})
    return out


def _centers(n_clusters: int, seed: int) -> np.ndarray:
    return np.random.default_rng(seed).standard_normal((n_clusters, VEC_DIM))


def synthetic_corpus(
    spark: SparkSession, m: int = 200, n_clusters: int = 64, seed: int = 4242
) -> DataFrame:
    ensure_worker_imports(spark)
    centers = _centers(n_clusters, seed)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"image_id": [], "name": [], "regions": []}
            for i in pdf["id"]:
                rng = np.random.default_rng(seed * 1000003 + int(i))
                rows["image_id"].append(int(i))
                rows["name"].append(f"img_{int(i):05d}.jpg")
                rows["regions"].append(_gen_image(rng, centers))
            yield pd.DataFrame(rows)

    return spark.range(m).repartition(8).mapInPandas(gen, CORPUS_SCHEMA)


def synthetic_queries(
    spark: SparkSession,
    corpus: DataFrame,
    q: int = 10,
    jitter: float = 0.02,
    seed: int = 999,
) -> DataFrame:
    """Queries = jittered copies of corpus images 0..q-1 (query_id = source
    image_id) — the engine's top-1 should be the source image."""
    ensure_worker_imports(corpus.sparkSession)
    src = corpus.filter(F.col("image_id") < q)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"image_id": [], "name": [], "regions": []}
            for iid, name, regions in zip(pdf["image_id"], pdf["name"], pdf["regions"]):
                rng = np.random.default_rng(seed + int(iid))
                jittered = [
                    {
                        "weight": float(r["weight"]),
                        "features": (
                            np.asarray(r["features"], dtype=np.float64)
                            + rng.standard_normal(VEC_DIM) * jitter
                        ).astype(np.float32).tolist(),
                    }
                    for r in regions
                ]
                rows["image_id"].append(int(iid))
                rows["name"].append(f"query_{int(iid):05d}.jpg")
                rows["regions"].append(jittered)
            yield pd.DataFrame(rows)

    return src.mapInPandas(gen, CORPUS_SCHEMA)


def vecsets_from_embeddings(
    spark: SparkSession, sf_dir: str, regions_per_image: int = 1
) -> DataFrame:
    """Driver-data vecsets: group consecutive embeddings rows into images.
    regions_per_image=1 → EMD(q,c) == squared-L2(q,c) (SQL-oracle-able)."""
    from ..tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    g = (F.col("vec_id") / regions_per_image).cast("long")
    w = float(1.0 / regions_per_image)
    return (
        emb.groupBy(g.alias("image_id"))
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("vec_id"), F.col("embedding")))
            ).alias("vs")
        )
        .select(
            "image_id",
            F.format_string("img_%05d.jpg", F.col("image_id")).alias("name"),
            F.transform(
                F.col("vs"),
                lambda s: F.struct(
                    F.lit(w).cast("float").alias("weight"),
                    s["embedding"].alias("features"),
                ),
            ).alias("regions"),
        )
    )
