"""NSW graph-ANN family contracts the oracle queries do not reach: the
public API surface, empty query sets, the upsert write protocol and the
frozen-meta memo's lifetime."""

from __future__ import annotations

import inspect

from pyspark.sql import functions as F

from bensp_suite_spark.operators import graph_ann as GA

from .conftest import SF_CORRECT

#: ``graph_ann.__all__`` with each name's ``inspect.signature``. The CLIs,
#: the bench, the query registry and the ANN stream call these by keyword.
_API = {
    "nsw_build": "(V: 'np.ndarray', m: 'int' = 8, ef_build: 'int' = 24) -> 'list[list[int]]'",
    "nsw_beam_search": "(V: 'np.ndarray', nbrs: 'list[list[int]]', qv: 'np.ndarray', ef: 'int') -> 'list[tuple[float, int]]'",
    "nsw_beam_search_adc": "(codes: 'np.ndarray', nbrs: 'list[list[int]]', table: 'np.ndarray', ef: 'int') -> 'list[tuple[float, int]]'",
    "nsw_ann_topk": "(queries: 'DataFrame', corpus: 'DataFrame', k: 'int' = 5, n_shards: 'int' = 4, m: 'int' = 8, ef_build: 'int' = 24, ef_search: 'int' = 16, id_col: 'str' = 'vec_id', vec_col: 'str' = 'embedding', index: 'tuple[DataFrame, dict] | None' = None) -> 'DataFrame'",
    "nsw_routed_ann_topk": "(queries: 'DataFrame', corpus: 'DataFrame', k: 'int' = 5, n_cells: 'int' = 8, n_probe: 'int' = 2, m: 'int' = 8, ef_build: 'int' = 24, ef_search: 'int' = 16, id_col: 'str' = 'vec_id', vec_col: 'str' = 'embedding', index: 'tuple[DataFrame, DataFrame, dict] | None' = None, spill_eps: 'float' = 0.0, probe_mode: 'str' = 'waves') -> 'DataFrame'",
    "nsw_routed_pq_ann_topk": "(queries: 'DataFrame', corpus: 'DataFrame', index: 'tuple[DataFrame, DataFrame, np.ndarray, dict]', k: 'int' = 5, n_probe: 'int' = 2, ef_search: 'int' = 16, id_col: 'str' = 'vec_id', vec_col: 'str' = 'embedding', probe_mode: 'str' = 'waves') -> 'DataFrame'",
    "build_nsw_index": "(corpus: 'DataFrame', n_shards: 'int' = 4, m: 'int' = 8, ef_build: 'int' = 24, id_col: 'str' = 'vec_id', vec_col: 'str' = 'embedding') -> 'DataFrame'",
    "save_nsw_index": "(corpus: 'DataFrame', path: 'str', n_shards: 'int' = 4, m: 'int' = 8, ef_build: 'int' = 24, id_col: 'str' = 'vec_id', vec_col: 'str' = 'embedding') -> 'None'",
    "load_nsw_index": "(spark, path: 'str') -> 'tuple[DataFrame, dict]'",
    "upsert_nsw_index": "(new: 'DataFrame', path: 'str', id_col: 'str' = 'vec_id', vec_col: 'str' = 'embedding') -> 'None'",
    "save_nsw_routed_index": "(corpus: 'DataFrame', path: 'str', n_cells: 'int' = 8, m: 'int' = 8, ef_build: 'int' = 24, id_col: 'str' = 'vec_id', vec_col: 'str' = 'embedding', spill_eps: 'float' = 0.0) -> 'None'",
    "load_nsw_routed_index": "(spark, path: 'str') -> 'tuple[DataFrame, DataFrame, dict]'",
    "upsert_nsw_routed_index": "(new: 'DataFrame', path: 'str', id_col: 'str' = 'vec_id', vec_col: 'str' = 'embedding') -> 'None'",
    "save_nsw_routed_pq_index": "(corpus: 'DataFrame', path: 'str', n_cells: 'int' = 8, m: 'int' = 8, ef_build: 'int' = 24, n_subspaces: 'int' = 8, n_centroids: 'int' = 16, id_col: 'str' = 'vec_id', vec_col: 'str' = 'embedding', spill_eps: 'float' = 0.0) -> 'None'",
    "load_nsw_routed_pq_index": "(spark, path: 'str') -> 'tuple[DataFrame, DataFrame, np.ndarray, dict]'",
    "upsert_nsw_routed_pq_index": "(new: 'DataFrame', corpus: 'DataFrame', path: 'str', id_col: 'str' = 'vec_id', vec_col: 'str' = 'embedding') -> 'None'",
}


def test_graph_ann_api_surface_is_pinned():
    """The exported names and their signatures are a fixed surface. No
    SparkSession."""
    assert GA.__all__ == list(_API)
    got = {name: str(inspect.signature(getattr(GA, name))) for name in GA.__all__}
    assert got == _API


def test_nsw_family_answers_an_empty_query_set(spark, tmp_path):
    """Zero queries give zero rows with the ranked schema, in every probe
    of the family and in both transports."""
    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet").filter(
        F.col("vec_id") < 120
    )
    none = emb.filter(F.col("vec_id") < 0)
    path = str(tmp_path / "pq")
    GA.save_nsw_routed_pq_index(emb, path, n_cells=4, m=6, ef_build=16)
    idx = GA.load_nsw_routed_pq_index(spark, path)
    kw = dict(k=3, m=6, ef_build=16, ef_search=12)
    results = [
        GA.nsw_ann_topk(none, emb, n_shards=3, **kw),
        GA.nsw_routed_ann_topk(none, emb, n_cells=4, **kw),
        GA.nsw_routed_ann_topk(none, emb, n_cells=4, probe_mode="cogroup", **kw),
        GA.nsw_routed_pq_ann_topk(none, emb, idx, k=3),
        GA.nsw_routed_pq_ann_topk(none, emb, idx, k=3, probe_mode="cogroup"),
    ]
    for df in results:
        assert df.columns == ["query_id", "neighbor_id", "rank", "cosine"]
        assert df.collect() == []


def test_nsw_upsert_leaves_the_session_conf_alone(spark, tmp_path, monkeypatch):
    """The upsert's dynamic partition overwrite is a per-write option: a
    query sharing the session never sees partitionOverwriteMode change."""
    from pyspark.sql.conf import RuntimeConfig

    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet").filter(
        F.col("vec_id") < 80
    )
    path = str(tmp_path / "nsw")
    GA.save_nsw_index(emb.filter(F.col("vec_id") < 60), path, n_shards=3, m=6, ef_build=16)
    seen = []
    real_set = RuntimeConfig.set

    def recording_set(self, key, value):
        seen.append(key)
        return real_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", recording_set)
    GA.upsert_nsw_index(emb.filter(F.col("vec_id") >= 60), path)
    monkeypatch.undo()
    assert "spark.sql.sources.partitionOverwriteMode" not in seen
    graph, _ = GA.load_nsw_index(spark, path)
    assert sorted(r["vec_id"] for r in graph.collect()) == list(range(80))


def test_frozen_meta_memo_drops_entries_of_stopped_sessions(spark, tmp_path):
    """A memo entry keyed by another applicationId belongs to a stopped
    SparkContext (a process has one live context) and goes on the next
    miss."""
    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet").filter(
        F.col("vec_id") < 40
    )
    path = str(tmp_path / "nsw")
    GA.save_nsw_index(emb, path, n_shards=2, m=4, ef_build=8)
    dead = ("dead-app", path, 1)
    GA._FROZEN_META_CACHE[dead] = ({"n_shards": 2, "m": 4, "ef_build": 8},)
    try:
        _graph, params = GA.load_nsw_index(spark, path)
        assert params == {"n_shards": 2, "m": 4, "ef_build": 8}
        assert dead not in GA._FROZEN_META_CACHE
    finally:
        GA._FROZEN_META_CACHE.pop(dead, None)
