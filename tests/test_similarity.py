"""Similarity-family contracts the oracle queries do not reach: the
public API surface and the IVF-PQ index's encoding-convention meta."""

from __future__ import annotations

import glob
import inspect
import os
import shutil

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from bensp_suite_spark.operators import similarity as SIM

from .conftest import SF_CORRECT

#: every public function of ``similarity`` with its ``inspect.signature``.
#: The query registry, the ANN CLI, the bench, the ANN stream and the
#: IVF-PQ recall probe call these by keyword.
_API = {
    "augmented_embeddings": "(emb: 'DataFrame') -> 'DataFrame'",
    "banded_hamming_pairs": "(hashes: 'DataFrame', id_col: 'str', hash_col: 'str', max_hamming: 'int' = 3, n_bands: 'int' = 4) -> 'DataFrame'",
    "binary_quant_ann_topk": "(queries: 'DataFrame', corpus: 'DataFrame', k: 'int' = 5, dims: 'int' = 64, refine: 'int' = 4, id_col: 'str' = 'vec_id', vec_col: 'str' = 'embedding') -> 'DataFrame'",
    "binary_quant_topk_oracle_sql": "(k: 'int' = 5, dims: 'int' = 64, refine: 'int' = 4, max_query_id: 'int' = 8) -> 'str'",
    "cosine_topk_bruteforce": "(queries: 'DataFrame', corpus: 'DataFrame', k: 'int' = 5, id_col: 'str' = 'vec_id', vec_col: 'str' = 'embedding') -> 'DataFrame'",
    "cosine_topk_oracle_sql": "(k: 'int' = 5, max_query_id: 'int' = 8) -> 'str'",
    "embedding_near_dup_oracle_sql": "(threshold: 'float' = 0.99) -> 'str'",
    "embedding_near_dup_pairs": "(emb_aug: 'DataFrame', threshold: 'float' = 0.99) -> 'DataFrame'",
    "ivf_ann_topk": "(queries: 'DataFrame', corpus: 'DataFrame', k: 'int' = 5, n_cells: 'int | None' = 16, n_probe: 'int | None' = 2, id_col: 'str' = 'vec_id', vec_col: 'str' = 'embedding', index: 'tuple[DataFrame, DataFrame] | None' = None) -> 'DataFrame'",
    "ivf_assign": "(df: 'DataFrame', centroids: 'DataFrame', n_keep: 'int', id_col: 'str', vec_col: 'str') -> 'DataFrame'",
    "ivf_assign_spill": "(df: 'DataFrame', centroids: 'DataFrame', eps: 'float', id_col: 'str', vec_col: 'str') -> 'DataFrame'",
    "ivf_centroids": "(corpus: 'DataFrame', n_cells: 'int' = 16, id_col: 'str' = 'vec_id', vec_col: 'str' = 'embedding') -> 'DataFrame'",
    "ivf_centroids_trained": "(corpus: 'DataFrame', n_cells: 'int' = 16, id_col: 'str' = 'vec_id', vec_col: 'str' = 'embedding', sample_cap: 'int' = 65536, seed: 'int' = 77) -> 'DataFrame'",
    "ivf_defaults": "(n_vectors: 'int', cell_budget: 'int' = 65536) -> 'tuple[int, int]'",
    "ivf_topk_oracle_sql": "(k: 'int' = 5, max_query_id: 'int' = 8, n_cells: 'int' = 16, n_probe: 'int' = 2, corpus_sql: 'str' = 'SELECT vec_id, embedding FROM embeddings') -> 'str'",
    "ivfpq_ann_topk": "(queries: 'DataFrame', corpus: 'DataFrame', k: 'int' = 5, n_cells: 'int | None' = 16, n_probe: 'int | None' = 2, n_subspaces: 'int' = 8, n_centroids: 'int' = 256, refine: 'int | None' = None, id_col: 'str' = 'vec_id', vec_col: 'str' = 'embedding', index: 'tuple | None' = None, residual: 'bool' = False) -> 'DataFrame'",
    "kcenter_sample": "(corpus: 'DataFrame', k: 'int', id_col: 'str' = 'vec_id', vec_col: 'str' = 'embedding') -> 'DataFrame'",
    "kcenter_sample_cells": "(corpus: 'DataFrame', k: 'int', n_cells: 'int' = 16, id_col: 'str' = 'vec_id', vec_col: 'str' = 'embedding') -> 'DataFrame'",
    "load_ivf_index": "(spark, path: 'str') -> 'tuple[DataFrame, DataFrame]'",
    "load_ivfpq_index": "(spark, path: 'str') -> 'tuple[DataFrame, np.ndarray, DataFrame, dict]'",
    "load_lsh_index": "(spark, path: 'str') -> 'DataFrame'",
    "load_pq_index": "(spark, path: 'str') -> 'tuple[np.ndarray, DataFrame]'",
    "lsh_ann_topk": "(queries: 'DataFrame', corpus: 'DataFrame', k: 'int' = 5, dim: 'int' = 64, n_planes: 'int' = 6, n_tables: 'int' = 8, n_probes: 'int' = 6, id_col: 'str' = 'vec_id', vec_col: 'str' = 'embedding', index: 'DataFrame | None' = None) -> 'DataFrame'",
    "lsh_index": "(df: 'DataFrame', vec_col: 'str', dim: 'int', n_planes: 'int', n_tables: 'int') -> 'DataFrame'",
    "matryoshka_ann_topk": "(queries: 'DataFrame', corpus: 'DataFrame', k: 'int' = 5, dims: 'int' = 16, refine: 'int' = 4, id_col: 'str' = 'vec_id', vec_col: 'str' = 'embedding') -> 'DataFrame'",
    "matryoshka_topk_oracle_sql": "(k: 'int' = 5, dims: 'int' = 16, refine: 'int' = 4, max_query_id: 'int' = 8) -> 'str'",
    "opq_rotation": "(corpus: 'DataFrame', n_subspaces: 'int' = 8, n_centroids: 'int' = 16, id_col: 'str' = 'vec_id', vec_col: 'str' = 'embedding', train_iters: 'int' = 8, train_sample: 'int' = 2048, opq_iters: 'int' = 8) -> 'np.ndarray'",
    "pca_ann_topk": "(queries: 'DataFrame', corpus: 'DataFrame', k: 'int' = 5, dims: 'int' = 16, refine: 'int' = 4, id_col: 'str' = 'vec_id', vec_col: 'str' = 'embedding') -> 'DataFrame'",
    "pca_components": "(corpus: 'DataFrame', dims: 'int' = 16, id_col: 'str' = 'vec_id', vec_col: 'str' = 'embedding', train_sample: 'int' = 2048) -> 'np.ndarray'",
    "pq_ann_topk": "(queries: 'DataFrame', corpus: 'DataFrame', k: 'int' = 5, n_subspaces: 'int' = 8, n_centroids: 'int' = 16, refine: 'int' = 4, id_col: 'str' = 'vec_id', vec_col: 'str' = 'embedding', index: 'tuple[np.ndarray, DataFrame] | None' = None, rotation: 'np.ndarray | None' = None) -> 'DataFrame'",
    "pq_codebooks": "(corpus: 'DataFrame', n_subspaces: 'int' = 8, n_centroids: 'int' = 16, id_col: 'str' = 'vec_id', vec_col: 'str' = 'embedding', train_iters: 'int' = 8, train_sample: 'int' = 2048, rotation: 'np.ndarray | None' = None) -> 'np.ndarray'",
    "pq_codebooks_residual": "(corpus: 'DataFrame', cent: 'DataFrame', n_subspaces: 'int' = 8, n_centroids: 'int' = 16, id_col: 'str' = 'vec_id', vec_col: 'str' = 'embedding', train_iters: 'int' = 8, train_sample: 'int' = 2048) -> 'np.ndarray'",
    "pq_codebooks_trained": "(corpus: 'DataFrame', n_subspaces: 'int' = 8, n_centroids: 'int' = 16, id_col: 'str' = 'vec_id', vec_col: 'str' = 'embedding', train_iters: 'int' = 12, train_sample: 'int' = 2048, seed: 'int' = 77) -> 'np.ndarray'",
    "pq_encode": "(corpus: 'DataFrame', books: 'np.ndarray', id_col: 'str' = 'vec_id', vec_col: 'str' = 'embedding', rotation: 'np.ndarray | None' = None) -> 'DataFrame'",
    "rrf_fuse": "(rankings: 'list[DataFrame]', k: 'int' = 5, k0: 'int' = 60) -> 'DataFrame'",
    "rrf_fusion_oracle_sql": "(list_sqls: 'list[str]', k: 'int' = 5, k0: 'int' = 60) -> 'str'",
    "save_ivf_index": "(corpus: 'DataFrame', path: 'str', n_cells: 'int | None' = 16, id_col: 'str' = 'vec_id', vec_col: 'str' = 'embedding', trained: 'bool' = False) -> 'None'",
    "save_ivfpq_index": "(corpus: 'DataFrame', path: 'str', n_cells: 'int | None' = 16, n_subspaces: 'int' = 8, n_centroids: 'int' = 256, id_col: 'str' = 'vec_id', vec_col: 'str' = 'embedding', residual: 'bool' = False) -> 'None'",
    "save_lsh_index": "(corpus: 'DataFrame', path: 'str', dim: 'int' = 64, n_planes: 'int' = 6, n_tables: 'int' = 8, id_col: 'str' = 'vec_id', vec_col: 'str' = 'embedding') -> 'None'",
    "save_pq_index": "(corpus: 'DataFrame', path: 'str', n_subspaces: 'int' = 8, n_centroids: 'int' = 16, id_col: 'str' = 'vec_id', vec_col: 'str' = 'embedding', trained: 'bool' = False) -> 'None'",
    "semantic_dedup": "(emb: 'DataFrame', n_cells: 'int | None' = 16, threshold: 'float' = 0.99, id_col: 'str' = 'vec_id', vec_col: 'str' = 'embedding') -> 'DataFrame'",
    "semantic_dedup_oracle_sql": "(n_cells: 'int' = 16, threshold: 'float' = 0.99) -> 'str'",
    "sq8_ann_topk": "(queries: 'DataFrame', corpus: 'DataFrame', k: 'int' = 5, dims: 'int' = 64, refine: 'int' = 4, id_col: 'str' = 'vec_id', vec_col: 'str' = 'embedding') -> 'DataFrame'",
    "sq8_topk_oracle_sql": "(k: 'int' = 5, dims: 'int' = 64, refine: 'int' = 4, max_query_id: 'int' = 8) -> 'str'",
    "upsert_ivf_index": "(spark, path: 'str', new_vectors: 'DataFrame', id_col: 'str' = 'vec_id', vec_col: 'str' = 'embedding') -> 'None'",
    "upsert_ivfpq_index": "(spark, path: 'str', new_vectors: 'DataFrame', id_col: 'str' = 'vec_id', vec_col: 'str' = 'embedding') -> 'None'",
    "upsert_lsh_index": "(spark, path: 'str', new_vectors: 'DataFrame', dim: 'int' = 64, n_planes: 'int' = 6, n_tables: 'int' = 8, id_col: 'str' = 'vec_id', vec_col: 'str' = 'embedding') -> 'None'",
    "upsert_pq_index": "(spark, path: 'str', new_vectors: 'DataFrame', id_col: 'str' = 'vec_id', vec_col: 'str' = 'embedding') -> 'None'",
}


def test_similarity_api_surface_is_pinned():
    """The public functions and their signatures are a fixed surface. No
    SparkSession."""
    got = {
        name: str(inspect.signature(fn))
        for name, fn in sorted(vars(SIM).items())
        if inspect.isfunction(fn) and not name.startswith("_") and fn.__module__ == SIM.__name__
    }
    assert got == _API


def test_ivfpq_load_raises_on_a_damaged_meta(spark, tmp_path):
    """Only a MISSING meta/ means a pre-meta (raw-coded) index. A meta/
    whose data files are gone must raise: read as raw, a residual index
    would be probed with raw ADC tables and return wrong neighbors with
    no error."""
    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet").filter(F.col("vec_id") < 200)
    path = str(tmp_path / "ivfpq")
    SIM.save_ivfpq_index(emb, path, n_cells=4, n_centroids=16, residual=True)
    for part in glob.glob(os.path.join(path, "meta", "*.parquet")):
        os.remove(part)
    with pytest.raises(AnalysisException, match="UNABLE_TO_INFER_SCHEMA"):
        SIM.load_ivfpq_index(spark, path)
    shutil.rmtree(os.path.join(path, "meta"))
    assert SIM.load_ivfpq_index(spark, path)[3] == {"residual": False}


def test_pq_families_answer_an_empty_query_set(spark):
    """Zero queries give zero rows with the ranked schema from both ADC
    probes; the waves' empty candidate frame keeps the adist column."""
    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet").filter(F.col("vec_id") < 200)
    none = emb.filter(F.col("vec_id") < 0)
    for df in (
        SIM.pq_ann_topk(none, emb, k=3),
        SIM.ivfpq_ann_topk(none, emb, k=3, n_cells=4, n_centroids=16),
    ):
        assert df.columns == ["query_id", "neighbor_id", "rank", "cosine"]
        assert df.collect() == []
