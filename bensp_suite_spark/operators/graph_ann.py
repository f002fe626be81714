"""Sharded NSW (navigable-small-world) graph ANN.

The one ANN family the engine was missing: proximity-GRAPH search —
what HNSW-era vector databases (FAISS ``IndexHNSW``, Milvus, Vespa,
pgvector) use as their default index. Graphs answer a query in
O(ef·log n) distance evaluations without any quantization loss, at the
price of a build step and a memory-resident adjacency.

Spark realization (how every distributed vector store shards HNSW):

- the corpus is hash-sharded (``vec_id % n_shards`` here — synthetic
  ids are already uniform; production would use ``pmod(xxhash64(id))``);
- each shard builds an INDEPENDENT in-memory NSW graph inside ONE
  ``applyInPandas`` group — the graph never crosses executor
  boundaries, so shard size (corpus/n_shards) is the only memory
  knob, and build parallelism is free (one task per shard);
- every query beam-searches every shard (queries are broadcast into
  the UDF closure — bounded by the family's QUERY_BATCH_LIMIT wave
  loop) and the per-shard top-ef candidates are unioned;
- the FINAL ranking is exact JVM-side cosine over the candidate
  union (same `_dot`/`_norm` column math + rounded-cosine + id
  tiebreaks as every other family member) — the Python graph only
  nominates candidates, it never scores the output.

At 10¹¹ vectors: S = corpus/shard_budget shards, each an independent
~1 GB graph; queries fan out to all shards (or compose with IVF
routing to probe a subset), per-shard search cost is O(ef·log n_shard)
REGARDLESS of corpus size, and throughput scales linearly with
executors. The build is embarrassingly parallel, incremental (a new
shard per ingest batch), and crash-safe (rebuild one shard, not the
index).

Reference analog: the suite's CASS/ferret engine answers the same
"top-k nearest" question with LSH probing (`reference
src/cass/lsh*.c`); the NSW graph is the modern (Malkov et al. 2014 /
HNSW 2016) answer to the identical query shape.

DETERMINISM SPEC — mirrored verbatim by the independent numpy
reference in ``tools/golden_reference.py::ann_nsw_topk`` (the golden
oracle pins its output, so the two implementations must stay in
lock-step; change one, change both):

- unit vectors: ``v / np.linalg.norm(v)`` in float64;
- graph distance: ``-float(np.dot(a_unit, b_unit))`` (smaller=nearer);
- shard(vec_id) = vec_id % n_shards; within a shard, nodes take
  positions 0..n-1 in ASCENDING vec_id order; insert order = position
  order; the entry point is position 0;
- insert(i): beam-search V[i] with ef_build over the graph of
  positions < i; connect i to the min(m, |W|) nearest results (by
  (dist, pos)); edges are undirected; any endpoint whose degree
  exceeds 2·m keeps its 2·m nearest neighbors (by (dist, pos));
- adjacency lists are ALWAYS kept sorted ascending by position and
  traversed in that order (heap ties are impossible — (dist, pos)
  keys are unique — but admission to a full result set depends on
  traversal order, so the order is pinned);
- beam_search(q, ef): best-first with a candidate min-heap keyed
  (dist, pos) and a bounded result set W holding the ef smallest
  (dist, pos); expansion stops when the nearest open candidate is
  farther than the worst of a full W (lexicographic on (dist, pos)).
"""

from __future__ import annotations

import heapq

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import state
from ..session import local_rows_df
from .similarity import (
    _CAND_SCHEMA,
    _load_codebooks,
    _pq_lloyd,
    _rerank,
    _save_codebooks,
    _train_sample,
    _vectors,
    _waves,
    ivf_assign,
    ivf_assign_spill,
    ivf_centroids,
)

__all__ = [
    "nsw_build",
    "nsw_beam_search",
    "nsw_beam_search_adc",
    "nsw_ann_topk",
    "nsw_routed_ann_topk",
    "nsw_routed_pq_ann_topk",
    "build_nsw_index",
    "save_nsw_index",
    "load_nsw_index",
    "upsert_nsw_index",
    "save_nsw_routed_index",
    "load_nsw_routed_index",
    "upsert_nsw_routed_index",
    "save_nsw_routed_pq_index",
    "load_nsw_routed_pq_index",
    "upsert_nsw_routed_pq_index",
]


def nsw_beam_search(
    V: np.ndarray,
    nbrs: list[list[int]],
    qv: np.ndarray,
    ef: int,
) -> list[tuple[float, int]]:
    """Deterministic best-first beam search over a built NSW graph.

    ``V`` is the (n, d) unit-vector matrix, ``nbrs`` the adjacency
    (sorted ascending), ``qv`` the unit query. Returns the ≤ef nearest
    (dist, pos) pairs sorted ascending by (dist, pos). See the module
    docstring for the exact admission/termination rules — this function
    IS the spec the golden reference mirrors.
    """
    d0 = -float(np.dot(V[0], qv))
    visited = {0}
    cand: list[tuple[float, int]] = [(d0, 0)]
    # W as a max-heap over (dist, pos): entries are (-dist, -pos), so
    # w[0] is exactly the lexicographic worst — well-defined even when
    # two distances tie bit-for-bit (duplicate vectors in the corpus).
    w: list[tuple[float, int]] = [(-d0, 0)]
    while cand:
        d_c, c = heapq.heappop(cand)
        d_worst, p_worst = -w[0][0], -w[0][1]
        if len(w) >= ef and (d_c, c) > (d_worst, p_worst):
            break
        for nb in nbrs[c]:
            if nb in visited:
                continue
            visited.add(nb)
            d_nb = -float(np.dot(V[nb], qv))
            if len(w) < ef:
                heapq.heappush(w, (-d_nb, -nb))
                heapq.heappush(cand, (d_nb, nb))
            else:
                d_worst, p_worst = -w[0][0], -w[0][1]
                if (d_nb, nb) < (d_worst, p_worst):
                    heapq.heapreplace(w, (-d_nb, -nb))
                    heapq.heappush(cand, (d_nb, nb))
    return sorted((-nd, -np_) for nd, np_ in w)


def nsw_beam_search_adc(
    codes: np.ndarray,
    nbrs: list[list[int]],
    table: np.ndarray,
    ef: int,
) -> list[tuple[float, int]]:
    """:func:`nsw_beam_search` with ADC distances — the DiskANN search
    model: node distance is the PQ approximation
    ``-Σ_s table[s, codes[node, s]]`` (``table`` is the query's (S, C)
    inner-product table against the codebooks), so the beam touches only
    8-byte codes instead of raw vectors. Traversal/admission/termination
    rules are IDENTICAL to the raw beam (this function is part of the
    determinism spec the golden reference mirrors); the raw vectors are
    only needed afterwards, by the exact re-rank of the survivors."""
    srange = np.arange(table.shape[0])

    def d(p: int) -> float:
        return -float(table[srange, codes[p]].sum())

    d0 = d(0)
    visited = {0}
    cand: list[tuple[float, int]] = [(d0, 0)]
    w: list[tuple[float, int]] = [(-d0, 0)]
    while cand:
        d_c, c = heapq.heappop(cand)
        d_worst, p_worst = -w[0][0], -w[0][1]
        if len(w) >= ef and (d_c, c) > (d_worst, p_worst):
            break
        for nb in nbrs[c]:
            if nb in visited:
                continue
            visited.add(nb)
            d_nb = d(nb)
            if len(w) < ef:
                heapq.heappush(w, (-d_nb, -nb))
                heapq.heappush(cand, (d_nb, nb))
            else:
                d_worst, p_worst = -w[0][0], -w[0][1]
                if (d_nb, nb) < (d_worst, p_worst):
                    heapq.heapreplace(w, (-d_nb, -nb))
                    heapq.heappush(cand, (d_nb, nb))
    return sorted((-nd, -np_) for nd, np_ in w)


def nsw_build(V: np.ndarray, m: int = 8, ef_build: int = 24) -> list[list[int]]:
    """Build the deterministic NSW adjacency for unit-vector matrix V.

    Insert positions in order; each new node links to its m nearest
    beam results; undirected edges; degree capped at 2·m by keeping the
    nearest. Adjacency lists are returned (and maintained) sorted
    ascending — traversal order is part of the determinism spec.
    """
    n = len(V)
    m_max = 2 * m
    nbrs: list[list[int]] = [[] for _ in range(n)]
    for i in range(1, n):
        res = nsw_beam_search(V, nbrs, V[i], ef_build)
        chosen = [p for _, p in res[: min(m, len(res))]]
        for p in chosen:
            nbrs[i].append(p)
            nbrs[p].append(i)
            if len(nbrs[p]) > m_max:
                ds = sorted((-float(np.dot(V[p], V[x])), x) for x in nbrs[p])
                nbrs[p] = sorted(x for _, x in ds[:m_max])
            else:
                nbrs[p].sort()
        nbrs[i].sort()
    return nbrs


# ---------------------------------------------------------------------------
# Per-shard kernels. Every probe, build and upsert below is a thin
# adapter over these; each keeps the spec's op order (row-wise unit
# vectors in float64, position order = ascending id at build time, ADC
# tables as elementwise-mul + sum), so nominations are bit-identical
# whichever transport carries them.
# ---------------------------------------------------------------------------

def _graph_schema(books: np.ndarray | None) -> str:
    """Saved graph rows: raw vectors, or PQ codes when ``books`` is set."""
    vec = "cv array<double>" if books is None else "codes array<int>"
    return f"shard long, pos long, vec_id long, {vec}, nbrs array<long>"


def _unit_rows(vecs) -> np.ndarray:
    """Row-wise ``v / np.linalg.norm(v)`` in float64 — the spec's unit vectors."""
    V = np.array([np.asarray(v, dtype=np.float64) for v in vecs])
    return V / np.linalg.norm(V, axis=1, keepdims=True)


def _adc_tables(Q: np.ndarray, books: np.ndarray) -> np.ndarray:
    """Per-query ADC tables against the unit-space codebooks:
    tab[q, s, c] = dot(q_s, books[s, c]) — elementwise-mul + sum, the
    exact op the golden mirror uses (row-independent, so a table does not
    depend on which other queries share its batch)."""
    S, _C, ds = books.shape
    qsub = Q.reshape(Q.shape[0], S, ds)
    return (books[None, :, :, :] * qsub[:, :, None, :]).sum(-1)


def _pq_codes(U: np.ndarray, books: np.ndarray) -> np.ndarray:
    """(n, S) PQ codes of unit vectors; ties -> lowest centroid id."""
    S, _C, ds = books.shape
    sub = U.reshape(U.shape[0], S, ds)
    d2 = ((sub[:, :, None, :] - books[None, :, :, :]) ** 2).sum(-1)
    return d2.argmin(-1)


def _shard_graph(pdf: pd.DataFrame, build: tuple[int, int] | None = None):
    """One shard's graph → (ids, V | codes, nbrs) in position order.
    With ``build=(m, ef_build)`` the rows are raw (neighbor_id, cv) and
    the graph is built here (positions = ascending id); otherwise they
    are saved (pos, vec_id, cv | codes, nbrs) rows."""
    if build is not None:
        pdf = pdf.sort_values("neighbor_id")
        V = _unit_rows(pdf["cv"])
        ids = pdf["neighbor_id"].to_numpy(dtype=np.int64)
        return ids, V, nsw_build(V, m=build[0], ef_build=build[1])
    pdf = pdf.sort_values("pos")
    ids = pdf["vec_id"].to_numpy(dtype=np.int64)
    nbrs = [list(map(int, x)) for x in pdf["nbrs"]]
    if "codes" in pdf:
        codes = np.array([np.asarray(c, dtype=np.int64) for c in pdf["codes"]])
        return ids, codes, nbrs
    return ids, _unit_rows(pdf["cv"]), nbrs


def _nominate(qids, beams) -> pd.DataFrame:
    """Per-query beams of neighbor ids → the (query_id, neighbor_id)
    candidate frame, typed int64 also when there is nothing to nominate."""
    out_q, out_n = [], []
    for q, beam in zip(qids, beams):
        for n in beam:
            out_q.append(int(q))
            out_n.append(int(n))
    return pd.DataFrame(
        {
            "query_id": pd.Series(out_q, dtype="int64"),
            "neighbor_id": pd.Series(out_n, dtype="int64"),
        }
    )


def _search_shard(pdf: pd.DataFrame, qids, Q, ef_search: int, build=None) -> pd.DataFrame:
    """Beam every query over one shard's graph and nominate what the
    beams reach. ``Q`` holds unit query vectors, or the queries' ADC
    tables when the shard stores PQ codes."""
    ids, X, nbrs = _shard_graph(pdf, build)
    beam = nsw_beam_search_adc if "codes" in pdf else nsw_beam_search
    return _nominate(qids, ([ids[p] for _, p in beam(X, nbrs, q, ef_search)] for q in Q))


def _wave_worker(qids, Q, ef_search: int, build=None, probes=None):
    """applyInPandas worker over ``groupBy("shard")`` for one driver wave:
    the wave's queries ride in the closure. ``probes`` (cell → rows of
    ``Q``) restricts each cell to the queries routed to it; a cell that
    no query probes is skipped without building or reading its graph."""

    def worker(pdf: pd.DataFrame) -> pd.DataFrame:
        if probes is None:
            return _search_shard(pdf, qids, Q, ef_search, build)
        rows = sorted(probes.get(int(pdf["shard"].iloc[0]), []))
        if not rows:
            return _nominate((), ())
        return _search_shard(pdf, qids[rows], Q[rows], ef_search, build)

    return worker


def _cogroup_worker(ef_search: int, build=None, books=None):
    """``cogroup().applyInPandas`` worker: one cell's routed queries meet
    its graph rows, with zero driver staging. ADC tables are computed per
    cell from the closure's ``books``."""

    def worker(qpdf: pd.DataFrame, gpdf: pd.DataFrame) -> pd.DataFrame:
        if qpdf.empty or gpdf.empty:
            return _nominate((), ())
        qpdf = qpdf.sort_values("query_id")
        Q = _unit_rows(qpdf["qv"])
        if books is not None:
            Q = _adc_tables(Q, books)
        qids = qpdf["query_id"].to_numpy(dtype=np.int64)
        return _search_shard(gpdf, qids, Q, ef_search, build)

    return worker


def _exact_rerank(cand: DataFrame, q_sel: DataFrame, c_sel: DataFrame, k: int) -> DataFrame:
    """The family tail: exact JVM rounded-cosine over the nomination
    union, top-k by (cos desc, id) — Python nominates, Catalyst scores."""
    return _rerank(
        cand.filter(F.col("query_id") != F.col("neighbor_id"))
        .join(F.broadcast(q_sel), "query_id")
        .join(c_sel.select("neighbor_id", "cv"), "neighbor_id"),
        k,
    )


def _route(sel: DataFrame, cent: DataFrame, eps: float, id_col: str) -> DataFrame:
    """``sel`` (id_col, cv) rows tagged with their cell as ``shard``: the
    nearest cell, or with ``eps`` > 0 the SPANN closure (every cell
    within (1+eps) of the nearest)."""
    assign = (
        ivf_assign_spill(sel, cent, eps, id_col, "cv")
        if eps > 0.0
        else ivf_assign(sel, cent, 1, id_col, "cv")
    )
    return sel.join(assign.select(id_col, "cell"), id_col).withColumnRenamed(
        "cell", "shard"
    )


def _routed_topk(
    q_sel: DataFrame,
    c_sel: DataFrame,
    cent: DataFrame,
    src: DataFrame,
    k: int,
    n_probe: int,
    ef_search: int,
    spilled: bool,
    probe_mode: str,
    build: tuple[int, int] | None = None,
    books: np.ndarray | None = None,
) -> DataFrame:
    """The routed probe: each query beams only its ``n_probe`` nearest
    cells' graphs (``src`` rows, grouped by ``shard``), staged on the
    driver in waves or shuffled to the cells by one cogroup."""
    qassign = ivf_assign(q_sel, cent, n_probe, "query_id", "qv").select(
        "query_id", "cell"
    )
    if probe_mode == "cogroup":
        cand = (
            qassign.join(q_sel, "query_id")
            .select("cell", "query_id", "qv")
            .groupBy("cell")
            .cogroup(src.groupBy("shard"))
            .applyInPandas(_cogroup_worker(ef_search, build, books), _CAND_SCHEMA)
        )
    else:

        def probe(qids, qmat, chunk):
            qidx = {int(q): i for i, q in enumerate(qids)}
            probes: dict[int, list[int]] = {}
            qa = qassign if chunk is None else qassign.filter(chunk)
            for r in qa.collect():
                probes.setdefault(int(r["cell"]), []).append(qidx[int(r["query_id"])])
            Q = _unit_rows(qmat)
            if books is not None:
                Q = _adc_tables(Q, books)
            return src.groupBy("shard").applyInPandas(
                _wave_worker(qids, Q, ef_search, build, probes), _CAND_SCHEMA
            )

        cand, _ = _waves(q_sel, probe)
    if spilled:
        # closure assignment puts boundary vectors in several probed
        # cells — collapse duplicate nominations before the rank window
        # (a duplicate surviving to row_number would occupy two ranks)
        cand = cand.distinct()
    return _exact_rerank(cand, q_sel, c_sel, k)


def _graph_rows(shard: int, ids, U, cvs, nbrs, books=None) -> pd.DataFrame:
    """One shard's saved rows in position order: the raw ``cvs``, or
    with ``books`` the PQ codes of the unit vectors ``U`` instead."""
    if books is None:
        vec = {"cv": cvs}
    else:
        vec = {"codes": [list(map(int, c)) for c in _pq_codes(U, books)]}
    return pd.DataFrame(
        {
            "shard": np.full(len(ids), shard, dtype=np.int64),
            "pos": np.arange(len(ids), dtype=np.int64),
            "vec_id": ids,
            **vec,
            "nbrs": [list(map(int, x)) for x in nbrs],
        }
    )


def _build_graphs(sharded: DataFrame, m: int, ef_build: int, books=None) -> DataFrame:
    """The saves' build: one ``applyInPandas`` group per shard of raw
    (shard, neighbor_id, cv) rows, the inline probe's own build, so
    probing a saved index is bit-identical to the inline path. The graph
    is always built at full precision; ``books`` only changes what is
    stored per node."""

    def worker(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("neighbor_id")  # raw cv is stored in position order
        ids, U, nbrs = _shard_graph(pdf, build=(m, ef_build))
        return _graph_rows(int(pdf["shard"].iloc[0]), ids, U, list(pdf["cv"]), nbrs, books)

    return sharded.groupBy("shard").applyInPandas(worker, _graph_schema(books))


def _write_meta(spark, path: str, row: tuple, schema: str) -> None:
    """Every save writes its meta file LAST (see _frozen_memo)."""
    local_rows_df(spark, [row], schema).write.mode("overwrite").parquet(path + "/meta")


def _read_meta(spark, path: str) -> dict:
    return spark.read.parquet(path + "/meta").collect()[0].asDict()


def _routed_params(meta: dict) -> dict:
    return {
        "n_cells": int(meta["n_cells"]),
        "m": int(meta["m"]),
        "ef_build": int(meta["ef_build"]),
        # pre-r9 indexes have no spill column — they were built with the
        # plain nearest-cell assignment
        "spill_eps": float(meta.get("spill_eps", 0.0) or 0.0),
    }


def _save_routed(corpus, path, cent, m, ef_build, id_col, vec_col, spill_eps, books=None):
    """The routed saves' shared body: route the corpus to its cells,
    build one graph per cell, write graph/ then centroids/ (the caller
    writes meta/ last)."""
    c_sel = _vectors(corpus, id_col, vec_col, "neighbor_id", "cv")
    sharded = _route(c_sel, cent, spill_eps, "neighbor_id")
    graphs = _build_graphs(sharded, m, ef_build, books)
    graphs.write.mode("overwrite").partitionBy("shard").parquet(path + "/graph")
    cent.coalesce(1).write.mode("overwrite").parquet(path + "/centroids")


def nsw_ann_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_shards: int = 4,
    m: int = 8,
    ef_build: int = 24,
    ef_search: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    index: tuple[DataFrame, dict] | None = None,
) -> DataFrame:
    """Sharded-NSW graph ANN top-k (see module docstring for the spec
    and the 100 TB sharding story).

    The Python graph only NOMINATES candidates (≤ n_shards·ef_search
    per query); the returned ranking is exact JVM-side cosine over the
    nomination union with the family's rounded-cosine + id tiebreaks —
    so recall is the only approximation, never the scores. Query
    batches above QUERY_BATCH_LIMIT run in hash-chunked waves.
    ``index=(graph_df, params)`` from :func:`load_nsw_index` skips the
    per-call graph build (the mkdb-offline frame) — probing a saved
    index is bit-identical to the inline path over the same corpus.
    """
    q_sel = _vectors(queries, id_col, vec_col, "query_id", "qv")
    c_sel = _vectors(corpus, id_col, vec_col, "neighbor_id", "cv")
    if index is None:
        src = c_sel.withColumn("shard", F.col("neighbor_id") % F.lit(n_shards))
        build = (m, ef_build)
    else:
        src, build = index[0], None

    def probe(qids, qmat, _chunk):
        return src.groupBy("shard").applyInPandas(
            _wave_worker(qids, _unit_rows(qmat), ef_search, build), _CAND_SCHEMA
        )

    return _exact_rerank(_waves(q_sel, probe)[0], q_sel, c_sel, k)


def build_nsw_index(
    corpus: DataFrame,
    n_shards: int = 4,
    m: int = 8,
    ef_build: int = 24,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Materialize the per-shard NSW adjacency as a DataFrame:
    (shard, pos, vec_id, cv, nbrs) where ``pos`` is the node's insertion
    position (ascending vec_id within the shard — the determinism spec)
    and ``nbrs`` holds shard-local neighbor positions. One
    ``applyInPandas`` group per shard, exactly the inline build's
    worker, so probing a saved index is bit-identical to the inline
    path."""
    c_sel = _vectors(corpus, id_col, vec_col, "neighbor_id", "cv")
    sharded = c_sel.withColumn("shard", F.col("neighbor_id") % F.lit(n_shards))
    return _build_graphs(sharded, m, ef_build)


def save_nsw_index(
    corpus: DataFrame,
    path: str,
    n_shards: int = 4,
    m: int = 8,
    ef_build: int = 24,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Build + persist the sharded NSW graph (parquet partitioned by
    shard, parameters alongside) — the mkdb-offline frame every other
    index family here has: the build is paid once, probes pay only the
    beam search. Rebuilding one shard after a lost ingest batch rewrites
    one partition, never the index."""
    idx = build_nsw_index(corpus, n_shards, m, ef_build, id_col, vec_col)
    idx.write.mode("overwrite").partitionBy("shard").parquet(path + "/graph")
    _write_meta(
        corpus.sparkSession, path, (int(n_shards), int(m), int(ef_build)),
        "n_shards int, m int, ef_build int",
    )


def load_nsw_index(spark, path: str) -> tuple[DataFrame, dict]:
    """→ (graph DataFrame, params) for ``nsw_ann_topk(index=…)``. The
    params collect is a state-registry entry (state.py) of the session,
    fresh while the meta mtime stands — meta is frozen post-save; the
    graph read stays fresh (see _frozen_memo)."""

    def _load_frozen():
        meta = _read_meta(spark, path)
        return ({k: int(meta[k]) for k in ("n_shards", "m", "ef_build")},)

    (params,) = _frozen_memo(spark, path, _load_frozen)
    return (spark.read.parquet(path + "/graph"), params)


def upsert_nsw_index(
    new: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Append new vectors to a saved NSW index by CONTINUING each
    shard's deterministic insertion sequence (new nodes take positions
    after the existing ones, ascending id; the degree-cap prune may
    rewire existing nodes, so touched shard partitions are rewritten).

    Append-only id discipline ⇒ exact rebuild equivalence: if every new
    id is greater than every indexed id, the continued insertion order
    IS the full rebuild's order, so the upserted graph is bit-identical
    to ``save_nsw_index`` over the union (tested). Interleaved ids still
    yield a valid NSW graph — insertion order is part of the graph's
    identity, as in every incremental HNSW deployment — but not the
    rebuild's; keep ingest batches id-monotone if you need replayable
    parity."""
    graph, params = load_nsw_index(new.sparkSession, path)
    add = _vectors(new, id_col, vec_col, "vec_id", "cv").withColumn(
        "shard", F.col("vec_id") % F.lit(params["n_shards"])
    )
    _continue_shards(add, graph, path, params["m"], params["ef_build"])


def nsw_routed_ann_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_cells: int = 8,
    n_probe: int = 2,
    m: int = 8,
    ef_build: int = 24,
    ef_search: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    index: tuple[DataFrame, DataFrame, dict] | None = None,
    spill_eps: float = 0.0,
    probe_mode: str = "waves",
) -> DataFrame:
    """IVF-ROUTED sharded NSW — the candidate cut composed with the
    graph cut: shards are the coarse quantizer's cells (deterministic
    lowest-id centroids, the IVF family's assignment — identical
    fold-order math), and each query beam-searches ONLY its ``n_probe``
    nearest cells' graphs instead of every shard. At 10¹¹ vectors this
    is the production topology: S = corpus/shard_budget cell-shards,
    per-query work = n_probe beams — independent of S — so adding
    corpus adds shards without adding per-query cost (the plain
    ``nsw_ann_topk`` fan-out grows with S; this one doesn't). Recall is
    bounded by cell recall exactly like IVF, recovered with n_probe —
    or, at a FIXED probe budget, with ``spill_eps`` (SPANN closure
    assignment, ``similarity.ivf_assign_spill``): boundary vectors join
    every cell within (1+eps) of their nearest, so cell-boundary
    neighbors stop costing recall for the price of a bounded state
    blow-up (the spill factor — measured by the bench each round).
    Same contract as the family: graphs nominate, exact JVM cosine
    scores; golden-pinned by the independent numpy mirror. A prebuilt
    ``index`` carries its own spill factor in meta (the graphs were
    built over the spilled membership); ``spill_eps`` here only affects
    the inline build.

    ``probe_mode``: ``"waves"`` stages query batches on the driver in
    bounded hash chunks (the family's documented contract — fine while
    queries ≪ corpus); ``"cogroup"`` is the FULLY-DISTRIBUTED probe —
    queries shuffle to their probe cells and each (cell-queries,
    cell-graph) pair beams inside one ``cogroup().applyInPandas``
    worker, zero ``collect()`` anywhere in the probe path, so millions
    of streamed queries never serialize through the driver. Nomination
    sets are bit-identical (same per-row normalization, same per-query
    beam): tests pin parity."""
    q_sel = _vectors(queries, id_col, vec_col, "query_id", "qv")
    c_sel = _vectors(corpus, id_col, vec_col, "neighbor_id", "cv")
    if index is not None:
        # prebuilt routed index (save_nsw_routed_index): centroids route
        # the queries, per-cell graphs were built at save time
        cent, src, params = index
        spilled, build = float(params.get("spill_eps", 0.0)) > 0.0, None
    else:
        cent = ivf_centroids(corpus, n_cells, id_col, vec_col)
        src = _route(c_sel, cent, spill_eps, "neighbor_id")
        spilled, build = spill_eps > 0.0, (m, ef_build)
    return _routed_topk(
        q_sel, c_sel, cent, src, k, n_probe, ef_search,
        spilled=spilled, probe_mode=probe_mode, build=build,
    )


def save_nsw_routed_index(
    corpus: DataFrame,
    path: str,
    n_cells: int = 8,
    m: int = 8,
    ef_build: int = 24,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    spill_eps: float = 0.0,
) -> None:
    """Build + persist the IVF-ROUTED NSW index: the coarse centroids
    (for query routing at probe time) plus one NSW graph per CELL, as
    shard-partitioned parquet — the mkdb-offline frame for
    :func:`nsw_routed_ann_topk`. Probing a saved routed index is
    bit-identical to the inline routed build (same deterministic cell
    assignment, same per-cell insertion order). ``spill_eps`` builds the
    cell graphs over the SPANN closure assignment (boundary vectors join
    every cell within (1+eps) of their nearest) and is persisted in the
    meta so the probe knows to collapse duplicate nominations."""
    cent = ivf_centroids(corpus, n_cells, id_col, vec_col)
    _save_routed(corpus, path, cent, m, ef_build, id_col, vec_col, spill_eps)
    _write_meta(
        corpus.sparkSession, path,
        (int(n_cells), int(m), int(ef_build), float(spill_eps)),
        "n_cells int, m int, ef_build int, spill_eps double",
    )


def load_nsw_routed_index(spark, path: str) -> tuple[DataFrame, DataFrame, dict]:
    """→ (centroids, graph, params) for ``nsw_routed_ann_topk(index=…)``.
    Centroids/params are frozen post-save and kept as a state-registry
    entry (state.py) of the session, fresh while the meta mtime stands;
    the graph read stays fresh (see _frozen_memo)."""

    def _load_frozen():
        params = _routed_params(_read_meta(spark, path))
        return (spark.read.parquet(path + "/centroids"), params)

    cent, params = _frozen_memo(spark, path, _load_frozen)
    return (cent, spark.read.parquet(path + "/graph"), params)


def upsert_nsw_routed_index(
    new: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Append new vectors to a saved ROUTED index: assignment against the
    PERSISTED centroids (spill-aware — the index's own spill_eps rides
    its meta), then each touched cell CONTINUES its deterministic
    insertion sequence; only touched cell partitions rewrite.

    Rebuild equivalence: ``ivf_centroids`` is the deterministic
    lowest-id rule, so if every new id is GREATER than every indexed id a
    full ``save_nsw_routed_index`` over the union picks the SAME
    centroids, the same cell membership, and the same per-cell insertion
    order — the upserted index is bit-identical to the rebuild (tested).
    Interleaved ids still yield a valid index against the frozen
    centroids; keep ingest id-monotone for replayable parity.

    REPLAY-IDEMPOTENT: (shard, vec_id) pairs already present are dropped
    before insertion, so retrying the same upsert (a crashed streaming
    batch, a double-scheduled job) converges to the once-applied index
    instead of duplicating nodes — the contract the streaming
    index-maintenance loop relies on."""
    cent, graph, params = load_nsw_routed_index(new.sparkSession, path)
    n_sel = _vectors(new, id_col, vec_col, "vec_id", "cv")
    add = _route(n_sel, cent, params.get("spill_eps", 0.0), "vec_id")
    # REPLAY-IDEMPOTENT: drop (shard, vec_id) pairs the graph already
    # holds — assignment is deterministic against frozen centroids, so a
    # retried upsert (a crashed streaming batch, a double-scheduled job)
    # re-derives the same pairs and every already-written shard drops out
    # of `touched` instead of receiving duplicate nodes; a second full
    # replay is a no-op. Fresh ingest is unaffected (nothing matches).
    # Persisted: feeds both the touched-shard collect and the rebuild
    # plan — one assignment-UDF pass instead of one per action.
    add = add.join(
        graph.select("shard", "vec_id"), ["shard", "vec_id"], "left_anti"
    ).persist()
    try:
        _continue_shards(add, graph, path, params["m"], params["ef_build"])
    finally:
        add.unpersist()


#: column names of the routed-PQ index's books/ table
_NSW_BOOK_COLS = ("s", "c", "vec")


def _unit_pq_codebooks(
    corpus: DataFrame,
    n_subspaces: int,
    n_centroids: int,
    id_col: str,
    vec_col: str,
    train_sample: int = 2048,
) -> np.ndarray:
    """PQ codebooks trained on UNIT-normalized vectors — the coding space
    of the graph beams (NSW distances are dots of unit vectors, so the
    ADC approximation must quantize the same space). Normalization
    happens DRIVER-SIDE in numpy (``np.linalg.norm``) so the codebooks,
    the per-cell encode and the independent golden mirror share one IEEE
    op sequence end to end. Bounded driver sample, same contract as
    ``similarity.pq_codebooks``."""
    mat = _train_sample(corpus, id_col, vec_col, train_sample)
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    return _pq_lloyd(mat, n_subspaces, n_centroids, 8)



def save_nsw_routed_pq_index(
    corpus: DataFrame,
    path: str,
    n_cells: int = 8,
    m: int = 8,
    ef_build: int = 24,
    n_subspaces: int = 8,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    spill_eps: float = 0.0,
) -> None:
    """Build + persist the PQ-COMPRESSED routed NSW index — the DiskANN
    composition (Subramanya et al. 2019): the graph is built OFFLINE at
    full precision (build quality costs nothing at probe time), but the
    persisted cell shards store each node as (8-byte PQ codes, adjacency)
    instead of raw float64 vectors — at 10¹¹ vectors the vector payload,
    not the adjacency, dominates shard memory, and the codes cut it ~64×
    (64 dims × 8 B → S bytes). Probes beam with ADC over the codes and
    exact-rerank survivors from the RAW corpus table (which lives in the
    lake anyway), so compression costs candidate QUALITY only — recall is
    recovered by ef_search, never wrong answers. Codebooks train on unit
    vectors (the beams' coding space) and persist beside the graph;
    ``spill_eps`` composes the SPANN closure assignment."""
    cent = ivf_centroids(corpus, n_cells, id_col, vec_col)
    books = _unit_pq_codebooks(corpus, n_subspaces, n_centroids, id_col, vec_col)
    _save_routed(corpus, path, cent, m, ef_build, id_col, vec_col, spill_eps, books)
    spark = corpus.sparkSession
    _save_codebooks(spark, books, path + "/books", _NSW_BOOK_COLS)
    S, C, _ds = books.shape
    _write_meta(
        spark, path,
        (int(n_cells), int(m), int(ef_build), int(S), int(C), float(spill_eps)),
        "n_cells int, m int, ef_build int, n_subspaces int, "
        "n_centroids int, spill_eps double",
    )


def load_nsw_routed_pq_index(
    spark, path: str
) -> tuple[DataFrame, DataFrame, np.ndarray, dict]:
    """→ (centroids, graph, codebooks, params) for
    ``nsw_routed_pq_ann_topk``. The codebook fetch is bounded (S·C
    rows). Meta/books/centroids are frozen post-save (upserts rewrite
    only graph shards), so their collects are a state-registry entry
    (state.py) of the session, fresh while the meta mtime stands; the
    graph read is always fresh (see _frozen_memo)."""

    def _load_frozen():
        params = _routed_params(_read_meta(spark, path))
        books = _load_codebooks(spark, path + "/books", _NSW_BOOK_COLS)
        return (spark.read.parquet(path + "/centroids"), books, params)

    cent, books, params = _frozen_memo(spark, path, _load_frozen)
    return (cent, spark.read.parquet(path + "/graph"), books, params)


def nsw_routed_pq_ann_topk(
    queries: DataFrame,
    corpus: DataFrame,
    index: tuple[DataFrame, DataFrame, np.ndarray, dict],
    k: int = 5,
    n_probe: int = 2,
    ef_search: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_mode: str = "waves",
) -> DataFrame:
    """Probe a :func:`save_nsw_routed_pq_index` index: queries route to
    their ``n_probe`` nearest cells (the routed family's assignment),
    each probed cell beams with ADC over its nodes' PQ CODES
    (:func:`nsw_beam_search_adc` — the shard holds no raw vectors), and
    the nomination union exact-reranks against the raw corpus table.
    Per-query cost: n_probe beams over 8-byte codes + refine-sized exact
    cosine — the memory-bound rung of the routed ladder. Wave-chunked
    above QUERY_BATCH_LIMIT like the whole family; ``probe_mode=
    "cogroup"`` runs the fully-distributed probe instead (zero driver
    collect — see nsw_routed_ann_topk)."""
    cent, graph_df, books, params = index
    return _routed_topk(
        _vectors(queries, id_col, vec_col, "query_id", "qv"),
        _vectors(corpus, id_col, vec_col, "neighbor_id", "cv"),
        cent, graph_df, k, n_probe, ef_search,
        spilled=params.get("spill_eps", 0.0) > 0.0, probe_mode=probe_mode,
        books=books,
    )


def upsert_nsw_routed_pq_index(
    new: DataFrame,
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Append new vectors to a saved routed-PQ index — DiskANN-style
    maintenance: the shards hold only codes + adjacency, so the touched
    cells' RAW vectors are recovered from ``corpus`` (the lake-resident
    table the exact re-rank already reads; it must contain the indexed
    vectors), insertion continues at FULL precision, and every node
    re-encodes against the FROZEN persisted codebooks (deterministic
    encode ⇒ old nodes' codes are reproduced bit-for-bit; new codes use
    the frozen books — the add-vs-retrain contract of ``upsert_pq_index``:
    codes stay cell-independent and valid, retraining is an explicit
    rebuild). With id-monotone ingest above the codebook train-sample
    window the upserted index equals a full rebuild over the union
    bit-for-bit (same centroids, same train slice, same insertion order —
    tested); below it, rebuild would retrain the books, which is exactly
    the retrain decision this function refuses to make silently.
    Replay-idempotent like :func:`upsert_nsw_routed_index` — retried
    upserts drop their already-indexed (shard, vec_id) pairs."""
    cent, graph, books, params = load_nsw_routed_pq_index(new.sparkSession, path)
    n_sel = _vectors(new, id_col, vec_col, "vec_id", "cv")
    add = _route(n_sel, cent, params.get("spill_eps", 0.0), "vec_id")
    # replay-idempotent, same argument as upsert_nsw_routed_index: a
    # retried batch's already-written (shard, vec_id) pairs drop out.
    # Persisted: the anti-joined assignment feeds BOTH the bounded
    # touched-shard collect and the rebuild plan — without the pin the
    # per-row assignment UDF pass runs once per action (r11 verdict
    # item: batch the shard-touch discovery instead of re-deriving it).
    add = add.join(
        graph.select("shard", "vec_id"), ["shard", "vec_id"], "left_anti"
    ).persist()
    # fail LOUDLY if the corpus is missing any indexed vector: an inner
    # join would silently drop those nodes, _continue_insertion would
    # renumber positions, and surviving nbrs arrays would point at the
    # old positions — a quietly corrupted graph (r9 ADVICE). The check
    # rides the rebuild pass itself (LEFT join; a null cv on an indexed
    # row raises inside the worker, before any shard write) instead of
    # paying a separate per-batch anti-join job.
    raw = _vectors(corpus, id_col, vec_col, "vec_id", "cv")
    recovered = graph.select("shard", "pos", "vec_id", "nbrs").join(raw, "vec_id", "left")
    try:
        _continue_shards(add, recovered, path, params["m"], params["ef_build"], books)
    except Exception as exc:
        # surface the worker-side guard as the API's documented
        # ValueError (the raise happens during the pre-write
        # materialization, so no shard partition was rewritten)
        msg = str(exc)
        tag = "corpus is missing raw vectors"
        if tag in msg:
            raise ValueError(msg[msg.index(tag):].split("\n")[0]) from exc
        raise
    finally:
        add.unpersist()


def _frozen_memo(spark, path: str, loader):
    """The FROZEN parts of a saved index (meta params, codebooks ndarray,
    centroid DataFrame handle) as ``loader()`` returns them: a
    state-registry entry (state.py) per session and path, fresh while the
    newest meta part file keeps its mtime. Every save_* writes its meta
    file LAST, and upserts rewrite only graph shard partitions — so for a
    given meta mtime these parts are immutable and their per-load
    collects (2 driver jobs each) are pure fixed cost in a per-batch
    maintenance loop. Off local FS there is no memo. The GRAPH read is
    never memoized: callers must see post-upsert shards (the stream
    query's documented contract)."""
    import glob
    import os

    try:
        stamp = max(
            os.stat(p).st_mtime_ns
            for p in glob.glob(os.path.join(path, "meta", "part-*.parquet"))
        )
    except (ValueError, OSError):
        return loader()
    return state.get(
        spark, "frozen_meta", path, lambda: (stamp, loader()),
        fresh=lambda got: got[0] == stamp,
    )[1]


def _continue_shards(
    add: DataFrame, graph: DataFrame, path: str, m: int, ef_build: int, books=None
) -> None:
    """The upsert family's tail: every shard that the (shard, vec_id, cv)
    rows of ``add`` touch continues its insertion sequence from its saved
    ``graph`` rows (which must carry cv), and only those shard partitions
    are rewritten. ``books`` re-encodes every node of a touched shard."""
    touched = [r["shard"] for r in add.select("shard").distinct().collect()]
    if not touched:
        return
    old = graph.filter(F.col("shard").isin(touched)).select(
        "shard", "pos", "vec_id", "cv", "nbrs"
    )
    merged = old.unionByName(
        add.select(
            "shard",
            F.lit(None).cast("long").alias("pos"),
            "vec_id",
            "cv",
            F.lit(None).cast("array<long>").alias("nbrs"),
        )
    )

    def worker(pdf: pd.DataFrame) -> pd.DataFrame:
        # an indexed row without cv can only come from a corpus recovery
        # (the routed-PQ upsert's left join); stored graphs always carry cv
        missing = sorted(
            int(v)
            for v in pdf.loc[pdf["pos"].notna() & pdf["cv"].isna(), "vec_id"].head(5)
        )
        if missing:
            raise ValueError(
                f"corpus is missing raw vectors for indexed vec_ids "
                f"{missing} (touched shards must recover EVERY indexed "
                "node's full-precision vector to continue insertion; "
                "pass the same lake table the index was built from)"
            )
        ids, U, cvs, nbrs = _continue_insertion(pdf, m, ef_build)
        return _graph_rows(int(pdf["shard"].iloc[0]), ids, U, cvs, nbrs, books)

    # materialize first (the plan reads the path it overwrites), then
    # overwrite ONLY the touched shard partitions: dynamic overwrite is a
    # per-write option, so the session conf is never touched
    rebuilt = merged.groupBy("shard").applyInPandas(worker, _graph_schema(books))
    rebuilt.localCheckpoint(eager=True).write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("shard").parquet(path + "/graph")


def _continue_insertion(pdf: pd.DataFrame, m: int, ef_build: int):
    """Shared continue-the-sequence kernel for the upsert family: rows
    with a pos are the existing graph (sorted by pos), null-pos rows are
    fresh (sorted ascending vec_id, appended after). → (ids, U, nbrs).
    A previously-empty shard seeds exactly like nsw_build (first node
    gets no edges — the r9 self-loop fix)."""
    has_pos = pdf[pdf["pos"].notna()].sort_values("pos")
    fresh = pdf[pdf["pos"].isna()].sort_values("vec_id")
    ordered = pd.concat([has_pos, fresh])
    V = np.array([np.asarray(v, dtype=np.float64) for v in ordered["cv"]])
    U = V / np.linalg.norm(V, axis=1, keepdims=True)
    nbrs = [list(map(int, x)) for x in has_pos["nbrs"]]
    n_old = len(nbrs)
    nbrs += [[] for _ in range(len(fresh))]
    m_max = 2 * m
    for i in range(max(n_old, 1), len(U)):
        res = nsw_beam_search(U, nbrs, U[i], ef_build)
        chosen = [p for _, p in res[: min(m, len(res))]]
        for p in chosen:
            nbrs[i].append(p)
            nbrs[p].append(i)
            if len(nbrs[p]) > m_max:
                ds = sorted((-float(np.dot(U[p], U[x])), x) for x in nbrs[p])
                nbrs[p] = sorted(x for _, x in ds[:m_max])
            else:
                nbrs[p].sort()
        nbrs[i].sort()
    ids = ordered["vec_id"].to_numpy(dtype=np.int64)
    return ids, U, list(ordered["cv"]), nbrs
