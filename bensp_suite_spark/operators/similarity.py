"""Similarity search over embedding columns (array<float>).

Generalizes the reference's ferret query path (J5 LSH probe → J7 candidate
scan → O2 top-K, ferret-pthreads.c:561-668) to arbitrary embedding tables.

- ``cosine_topk_bruteforce``: exact baseline. Dot products are sequential
  left folds over doubles (F.aggregate), mirrored exactly by the DuckDB
  oracle's list_reduce fold → bit-identical cosines.
- ``lsh_ann_topk``: the scale path — random-hyperplane signatures bucket
  the corpus (equi-join candidate generation, shuffle ∝ bucket collisions,
  never O(n²)); multi-probe via 1-bit perturbations mirrors the
  reference's multi-probe LSH (LSH_query.c:281-340). Recall is checked
  statistically in tests (FIXTURES.md §3), not via SQL.

At 100 TB the broadcast side is the query set / hyperplanes, the corpus
never leaves its partitions until the bucket join, and the final top-K is
a rank window on the (tiny) candidate set.
"""

from __future__ import annotations

import math
from functools import reduce

import numpy as np
import pandas as pd  # module-level: pandas_udf resolves 'pd.Series' hints via fn globals
from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, LongType

from ..session import ensure_worker_imports, local_rows_df

ANN_SEED = 77

#: above this many queries per batch, driver-side collects of the query
#: set (pq_ann_topk's ADC-table closure) stop being "the small side" —
#: the scan falls back to hash-chunked query batches with a bounded
#: closure each, and re-rank joins drop the forced query broadcast
QUERY_BATCH_LIMIT = 100_000

#: the candidate frame every probe nominates into
_CAND_SCHEMA = "query_id long, neighbor_id long"
#: ... and the PQ families' candidates, scored by asymmetric distance
_ADC_SCHEMA = "query_id long, neighbor_id long, adist double"

#: DuckDB mirrors of :func:`_dot` and of :func:`_sq_l2`: sequential left
#: folds from 0.0 in index order, so both engines round alike
_SQL_DOT = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform(range(1, len({a}) + 1), i -> {a}[i] * {b}[i])), (x, y) -> x + y)"
)
_SQL_D2 = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform(range(1, len({a}) + 1), i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))), "
    "(x, y) -> x + y)"
)


def _sql_cos(a: str, b: str) -> str:
    """DuckDB mirror of :func:`_cosine`."""
    return (
        f"ROUND({_SQL_DOT.format(a=a, b=b)} / "
        f"(SQRT({_SQL_DOT.format(a=a, b=a)}) * SQRT({_SQL_DOT.format(a=b, b=b)})), 6)"
    )


def _dot(a: Column, b: Column) -> Column:
    # sequential left fold, init 0.0 — same float op order as the oracle's
    # list_reduce over the products list (0.0 + p1 == p1 exactly)
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def _cosine(a: Column | str, b: Column | str) -> Column:
    """The family's score: cosine rounded to 6 places, engine-exact
    against :func:`_sql_cos`."""
    return F.round(_dot(a, b) / (_norm(a) * _norm(b)), 6)


def _topk(scored: DataFrame, k: int) -> DataFrame:
    """(query_id, neighbor_id, cosine) rows → the ``k`` best per query by
    (cosine desc, neighbor_id), ranked from 1."""
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def _rerank(pairs: DataFrame, k: int) -> DataFrame:
    """The exact re-rank: (query_id, neighbor_id, qv, cv) pairs → the
    :func:`_topk` of their :func:`_cosine`."""
    return _topk(pairs.select("query_id", "neighbor_id", _cosine("qv", "cv").alias("cosine")), k)


def _shortlist(cand: DataFrame, order: Column, m: int) -> DataFrame:
    """The coarse cut ahead of an exact re-rank: the first ``m``
    candidates per query by (``order``, neighbor_id)."""
    w = Window.partitionBy("query_id").orderBy(order, F.col("neighbor_id"))
    return cand.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") <= m)


def _sq_l2(v: np.ndarray, cmat: np.ndarray) -> np.ndarray:
    """(N, K) squared L2 from each row of ``v`` to each row of ``cmat``,
    accumulated dimension-at-a-time in index order — the IEEE op sequence
    of the oracle's sequential fold (:data:`_SQL_D2`)."""
    acc = np.zeros((v.shape[0], cmat.shape[0]), dtype=np.float64)
    for i in range(cmat.shape[1]):
        d = v[:, i, None] - cmat[None, :, i]
        acc += d * d
    return acc


def _vectors(df: DataFrame, id_col: str, vec_col: str, id_as: str, vec_as: str) -> DataFrame:
    """(id_as, vec_as) rows of ``df``, the vector cast to array<double>."""
    return df.select(
        F.col(id_col).alias(id_as), F.col(vec_col).cast("array<double>").alias(vec_as)
    )


def _train_sample(corpus: DataFrame, id_col: str, vec_col: str, n: int) -> np.ndarray:
    """The bounded driver-side training sample: the vectors of the rows
    with id < ``n`` in ascending id order, as a float64 (N, D) matrix."""
    rows = (
        corpus.filter(F.col(id_col) < n)
        .orderBy(id_col)
        .select(F.col(vec_col).cast("array<double>").alias("v"))
        .collect()
    )
    return np.array([r["v"] for r in rows], dtype=np.float64)


def _waves(
    q_sel: DataFrame, probe, pin: tuple[DataFrame, ...] = (), schema: str = _CAND_SCHEMA
) -> tuple[DataFrame, int]:
    """The driver-staged query transport: (query_id, qv) rows are
    collected in waves of at most QUERY_BATCH_LIMIT (hash chunks of
    query_id), each sorted by id; ``probe(qids, qmat, chunk)`` turns one
    wave (its raw float64 query matrix) into a candidate DataFrame, and
    ``chunk`` is the wave's query_id filter, None for a single wave.

    Above one wave the ``pin`` frames, which every wave's probe scans, are
    persisted for the loop, and the union is materialized before they are
    released (the returned frame is lazy; an unreleased pin would hold its
    table in executor memory for the life of the session).

    → (the union of the waves, or an empty ``schema`` frame when there
    are no queries; the number of waves)."""
    # limit-probe instead of a count job: the common queries ≪ corpus
    # call collects its single wave directly (one driver job instead of
    # count + collect — measured ~0.2 s per declared-query call)
    q_head = q_sel.limit(QUERY_BATCH_LIMIT + 1).collect()
    n_chunks = 1
    if len(q_head) > QUERY_BATCH_LIMIT:
        n_chunks = -(-q_sel.count() // QUERY_BATCH_LIMIT)
        for df in pin:
            df.persist()
    chunk_expr = F.pmod(F.xxhash64(F.col("query_id")), F.lit(n_chunks))
    parts = []
    for ci in range(n_chunks):
        chunk = None if n_chunks == 1 else chunk_expr == ci
        rows = q_head if chunk is None else q_sel.filter(chunk).collect()
        if not rows:
            continue
        rows.sort(key=lambda r: r["query_id"])
        qids = np.array([r["query_id"] for r in rows], dtype=np.int64)
        parts.append(probe(qids, np.array([r["qv"] for r in rows], dtype=np.float64), chunk))
    if not parts:
        return local_rows_df(q_sel.sparkSession, [], schema), n_chunks
    cand = reduce(DataFrame.unionByName, parts)
    if n_chunks > 1 and pin:
        cand = cand.localCheckpoint(eager=True)
        for df in pin:
            df.unpersist()
    return cand, n_chunks


def cosine_topk_bruteforce(
    queries: DataFrame, corpus: DataFrame, k: int = 5, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Exact top-k cosine neighbors per query vector (broadcast queries ×
    corpus, rank window on the rounded cosine with id tiebreak)."""
    q = _vectors(queries, id_col, vec_col, "query_id", "qv")
    c = _vectors(corpus, id_col, vec_col, "neighbor_id", "cv")
    return _rerank(c.crossJoin(F.broadcast(q)).filter(F.col("query_id") != F.col("neighbor_id")), k)


def cosine_topk_oracle_sql(k: int = 5, max_query_id: int = 8) -> str:
    return f"""
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < {max_query_id}),
    c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
    scored AS (
      SELECT query_id, neighbor_id,
             {_sql_cos("qv", "cv")} AS cosine
      FROM c CROSS JOIN q WHERE query_id <> neighbor_id
    )
    SELECT query_id, neighbor_id, rank, cosine FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
      FROM scored
    ) WHERE rank <= {k}
    """


def _hyperplane_matrix(dim: int, n_planes: int, n_tables: int, seed: int = ANN_SEED) -> np.ndarray:
    """(dim, n_tables*n_planes): table t's planes are columns
    [t*n_planes, (t+1)*n_planes) — per-table seeds keep tables independent."""
    cols = []
    for t in range(n_tables):
        rng = np.random.default_rng(seed + 7919 * t)
        cols.append(rng.standard_normal((n_planes, dim)).T)
    return np.hstack(cols)


def _bucket_udf(dim: int, n_planes: int, n_tables: int):
    """Random-hyperplane bucket ids for ALL tables in one BLAS matmul per
    Arrow batch (bit i = sign(v · h_i) — the cosine analog of the
    reference's E2LSH hash family, LSH_query.c:109-187). A pandas UDF
    rather than per-plane JVM folds: 48 fold expressions with 64 literals
    each made Catalyst planning the bottleneck."""
    H = _hyperplane_matrix(dim, n_planes, n_tables)
    weights = 1 << np.arange(n_planes, dtype=np.int64)

    @F.pandas_udf(ArrayType(LongType()))
    def buckets(vecs: pd.Series) -> pd.Series:
        V = np.vstack([np.asarray(v, dtype=np.float64) for v in vecs])
        bits = (V @ H) > 0  # (n, tables*planes)
        B = bits.reshape(len(V), n_tables, n_planes) @ weights  # (n, tables)
        return pd.Series(list(B.astype(np.int64)))

    return buckets


def lsh_index(
    df: DataFrame, vec_col: str, dim: int, n_planes: int, n_tables: int
) -> DataFrame:
    """Corpus index: one (table, bucket) row per vector per table — the
    DataFrame analog of the reference's L LSH tables (LSH.c:751-770, S8)."""
    ensure_worker_imports(df.sparkSession)
    buckets = _bucket_udf(dim, n_planes, n_tables)
    tb = F.posexplode(buckets(F.col(vec_col).cast("array<double>")))
    return df.select(*df.columns, tb.alias("table", "bucket"))


def _lsh_table(
    df: DataFrame, id_col: str, vec_col: str, dim: int, n_planes: int, n_tables: int
) -> DataFrame:
    """The LSH table of ``df``: its (neighbor_id, cv) rows per (table, bucket)."""
    return lsh_index(
        df.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")),
        "cv",
        dim,
        n_planes,
        n_tables,
    )


def _probe_entries(bucket_arr: Column, n_planes: int, n_tables: int, n_probes: int) -> Column:
    """Per-table probe sequence: base bucket + 1-bit perturbations — the
    multi-probe scheme of LSH_query_probe (LSH_query.c:281-340), which buys
    recall without more tables."""
    probes = []
    for t in range(n_tables):
        base = F.element_at(bucket_arr, t + 1)
        probes.append(F.struct(F.lit(t).alias("table"), base.alias("bucket")))
        for i in range(min(n_probes - 1, n_planes)):
            probes.append(
                F.struct(F.lit(t).alias("table"), base.bitwiseXOR(F.lit(1 << i)).alias("bucket"))
            )
    return F.array(*probes)


def lsh_ann_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    dim: int = 64,
    n_planes: int = 6,
    n_tables: int = 8,
    n_probes: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    index: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k: multi-table multi-probe bucket join then exact
    cosine re-rank within candidates — the two-phase cheap-filter /
    expensive-rerank plan of the reference (L=12 tables, -T 20 probes →
    EMD rerank, ferret-pthreads.c:261,580-596). Pass ``index`` (from
    save_lsh_index/load_lsh_index) to probe a persisted signature table
    instead of re-hashing the corpus."""
    ensure_worker_imports(queries.sparkSession)
    if index is not None:
        c = index
    else:
        c = _lsh_table(corpus, id_col, vec_col, dim, n_planes, n_tables)
    buckets = _bucket_udf(dim, n_planes, n_tables)
    q = (
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
        .withColumn("ba", buckets(F.col("qv").cast("array<double>")))
        .withColumn("tb", F.explode(_probe_entries(F.col("ba"), n_planes, n_tables, n_probes)))
        .select("query_id", "qv", "tb.table", "tb.bucket")
    )
    # query batch ≪ corpus by contract: broadcast it explicitly rather than
    # relying on AQE's size estimate (bucket cardinality is n_tables ×
    # 2^n_planes — a shuffled join on it skews on hot buckets at scale)
    cand = F.broadcast(q).join(c, on=["table", "bucket"]).filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    # dedup (query, neighbor) BEFORE the fold-cosine: a pair found by p
    # probes would otherwise pay the 64-dim interpreted fold p times
    cand = cand.dropDuplicates(["query_id", "neighbor_id"])
    cos = _cosine(F.col("qv").cast("array<double>"), F.col("cv").cast("array<double>"))
    return _topk(cand.select("query_id", "neighbor_id", cos.alias("cosine")), k)


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the coarse-quantizer scale path. The reference's
# LSH index buckets by random projections (LSH.c:751-770); IVF buckets by
# nearest coarse centroid instead, probing the n_probe nearest cells per
# query — the standard FAISS-style layout for billion-vector corpora.
#
# Centroid choice is deterministic (the n_cells lowest-id corpus vectors)
# so the WHOLE operator — assignment included — has an exact DuckDB oracle.
# At 100 TB you would train centroids offline (MLlib KMeans on a sample)
# and swap them in; the plan shape below is unchanged by better centroids.
# ---------------------------------------------------------------------------


def ivf_defaults(n_vectors: int, cell_budget: int = 65536) -> tuple[int, int]:
    """Corpus-size-aware IVF sizing: ``n_cells ≈ √N`` (the standard
    inverted-file rule — per-cell list length ≈ √N balances the probe's
    centroid-scan cost against the candidate-scan cost), capped by a
    trained-centroid budget, with ``n_probe = max(8, n_cells // 16)``.

    The probe floor matters as much as the cell count: the reference
    treats recall parity as a first-class build/probe parameter
    (apps/ferret/src/src/lsh/LSH.c:43-50 builds L=12 tables; the driver
    probes ``-L 8 -T 20``, apps/ferret/src/benchmark/ferret-pthreads.c:261).
    Calibrated on the structureless-gaussian worst case (100k×64d, the
    bench scale probe's corpus): this rule gives (316, 19) → recall@10
    ≈ 0.96 while probing ~6% of the corpus, vs 0.545 for a static
    (16, 2) — the probe asserts recall@10 ≥ 0.8 as a floor every round.

    A fixed ``n_cells`` is wrong in both directions as the corpus grows:
    too few cells → each probe scans a huge fraction of the corpus (slow,
    though high-recall); too many for a small corpus → near-empty cells
    and recall collapse. ``cell_budget`` bounds centroid-table size (the
    table rides to workers in the assignment UDF closure: budget×dim
    doubles — 32 MB at 65536×64d)."""
    n_cells = max(1, min(int(round(math.sqrt(max(n_vectors, 1)))), cell_budget))
    n_probe = min(n_cells, max(8, n_cells // 16))
    return n_cells, n_probe


def ivf_centroids(
    corpus: DataFrame, n_cells: int = 16, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Deterministic coarse quantizer: the ``n_cells`` lowest-id corpus
    vectors, one cell per centroid. Tiny by construction → broadcast side
    of every assignment join."""
    return corpus.filter(F.col(id_col) < n_cells).select(
        F.col(id_col).alias("cell"), F.col(vec_col).cast("array<double>").alias("centroid")
    )


def ivf_centroids_trained(
    corpus: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_cap: int = 65536,
    seed: int = ANN_SEED,
) -> DataFrame:
    """Production coarse quantizer: MLlib KMeans (k-means||) on a bounded
    random sample — same (cell, centroid) contract as the deterministic
    ``ivf_centroids``, so it drops into ``ivf_assign``/``ivf_ann_topk``
    (via ``index=``) and ``save_ivf_index(trained=True)`` unchanged.

    The deterministic lowest-id build exists for oracle-ability; on a
    skewed real corpus its centroids inherit whatever the low ids happen
    to be, which collapses cell balance (and with it probe recall /
    pruning). Trained centroids track the actual density. The sample cap
    bounds the fit cost at 100 TB — the reference trains its LSH tables
    offline against the corpus the same way (mkdb). Recall comparison on
    a skewed corpus: tests/test_llm_ops.py::test_trained_quantizers_beat
    _deterministic_on_skewed_corpus."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    # Content-stable sample: Bernoulli sample() seeds per-PARTITION, so
    # repartitioning the same corpus changes which rows it picks — the
    # trained build would not be reproducible. Taking the sample_cap rows
    # with the smallest seeded hash of the id is layout-independent (the
    # same rows survive under any partitioning) and executes as a
    # distributed per-partition top-K heap (TakeOrderedAndProject), not a
    # full sort.
    samp = (
        corpus.orderBy(
            F.xxhash64(F.col(id_col), F.lit(seed)).asc(), F.col(id_col).asc()
        ).limit(sample_cap)
    )
    # coalesce(1): the sample is ≤ sample_cap rows; a single deterministic
    # partition makes the float aggregation order in the fit reproducible
    # (treeAggregate over a layout-dependent partitioning is not).
    feat = samp.coalesce(1).select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
    )
    feat = feat.persist()
    try:
        # best-of-restarts: k-means lands in seed-dependent local optima;
        # fitting a few inits and keeping the lowest-cost model is the
        # standard hardening and stays deterministic (fixed seed ladder).
        # The fits run on the bounded cached sample — offline index-build
        # cost, not per-query cost.
        model = min(
            (
                KMeans(
                    k=n_cells, seed=seed + r, maxIter=50, initSteps=5, tol=1e-6
                ).fit(feat)
                for r in range(4)
            ),
            key=lambda m: m.summary.trainingCost,
        )
    finally:
        feat.unpersist()
    spark = corpus.sparkSession
    rows = [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    return local_rows_df(spark, rows, "cell long, centroid array<double>")


def pq_codebooks_trained(
    corpus: DataFrame,
    n_subspaces: int = 8,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_iters: int = 12,
    train_sample: int = 2048,
    seed: int = ANN_SEED,
) -> np.ndarray:
    """Production PQ codebooks: Lloyd per subspace over a bounded RANDOM
    sample (vs the deterministic lowest-id sample of ``pq_codebooks``).
    Same shape/contract — drop into ``pq_encode``/``pq_ann_topk(index=)``.

    Driver-side numpy on the capped sample is the right tool here: the
    codebooks are S·C·ds doubles (~8 KB at the defaults) and PQ training
    quality saturates at a few thousand samples; the encode scan — the
    part that touches the full corpus — stays distributed. kmeans++-style
    seeded init spreads initial centroids across the sample's actual
    range, so a skewed corpus (where the low ids all sit in one tight
    cluster) still gets codebooks that cover the space."""
    # content-stable hash-ordered top-K sample for layout-independent
    # reproducibility (see ivf_centroids_trained)
    rows = (
        corpus.orderBy(
            F.xxhash64(F.col(id_col), F.lit(seed)).asc(), F.col(id_col).asc()
        )
        .limit(train_sample)
        .select(F.col(vec_col).cast("array<double>").alias("v"))
        .collect()
    )
    mat = np.array([r["v"] for r in rows], dtype=np.float64)
    d = mat.shape[1]
    if d % n_subspaces:
        raise ValueError(f"dim {d} not divisible by n_subspaces {n_subspaces}")
    ds = d // n_subspaces
    sub = mat.reshape(mat.shape[0], n_subspaces, ds)
    rng = np.random.default_rng(seed)
    books = np.zeros((n_subspaces, n_centroids, ds), dtype=np.float64)
    for s_i in range(n_subspaces):
        x = sub[:, s_i, :]
        # kmeans++ seeding on the sample
        centers = [x[rng.integers(len(x))]]
        for _ in range(n_centroids - 1):
            d2 = np.min(
                ((x[:, None, :] - np.array(centers)[None, :, :]) ** 2).sum(-1), axis=1
            )
            tot = d2.sum()
            if tot <= 0:
                centers.append(x[rng.integers(len(x))])
                continue
            centers.append(x[np.searchsorted(np.cumsum(d2 / tot), rng.random())])
        books[s_i] = np.array(centers)
        for _ in range(train_iters):
            d2 = ((x[:, None, :] - books[s_i][None, :, :]) ** 2).sum(-1)
            assign = d2.argmin(1)
            for c_i in range(n_centroids):
                members = x[assign == c_i]
                if len(members):
                    books[s_i, c_i] = members.mean(0)
    return books


def ivf_assign(
    df: DataFrame, centroids: DataFrame, n_keep: int, id_col: str, vec_col: str
) -> DataFrame:
    """``n_keep`` nearest cells per vector (squared-L2, cell-id tiebreak).

    The centroid table is tiny by construction, so it rides to workers in
    the UDF closure: per-row nearest-cell is a narrow Arrow-batched matrix
    pass with ZERO shuffle. An earlier all-JVM shape (array_sort over one
    fold-expression per centroid) was quadratically worse than it looks:
    cells×dim literal nodes per plan and an interpreted lambda fold per
    row·cell — the vectorized numpy pass is ~100× the per-row rate and
    keeps this the scan-bound stage it should be at 100 TB.

    Distance accumulates dimension-at-a-time in index order — the exact
    IEEE op sequence of the oracle's sequential list_reduce fold — so cell
    choice (and the DuckDB parity check) is bit-stable.
    n_keep=1 assigns corpus vectors; n_keep=n_probe picks query probe cells."""

    def nearest(cells: np.ndarray, acc: np.ndarray) -> list:
        # cells ascending + stable sort ⇒ (d2, cell) tiebreak
        return list(cells[np.argsort(acc, axis=1, kind="stable")[:, :n_keep]])

    return _assign_cells(df, centroids, nearest, id_col, vec_col)


def ivf_assign_spill(
    df: DataFrame,
    centroids: DataFrame,
    eps: float,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """SPANN-style closure assignment (Chen et al. 2021, §4.2): a vector
    joins its nearest cell AND every cell whose (L2) distance is within
    (1+eps) of the nearest — so cell-BOUNDARY vectors live in all the
    cells a nearby query might probe, and boundary neighbors stop
    costing recall at a fixed probe budget. On squared distances the
    rule is ``d2 <= (1+eps)² · d2_min`` (monotone-equivalent). eps=0
    degenerates to the plain nearest-cell assignment. Same vectorized
    pass and dimension-at-a-time fold order as :func:`ivf_assign`
    (deterministic, oracle-mirrored); cells emit ascending."""
    thresh = (1.0 + float(eps)) ** 2

    def closure(cells: np.ndarray, acc: np.ndarray) -> list:
        return [cells[row] for row in acc <= thresh * acc.min(axis=1, keepdims=True)]

    return _assign_cells(df, centroids, closure, id_col, vec_col)


def _assign(
    df: DataFrame,
    cent: DataFrame,
    n_keep: int,
    id_col: str,
    vec_col: str,
    id_as: str = "neighbor_id",
    vec_as: str = "cv",
) -> DataFrame:
    """:func:`ivf_assign` of ``df``'s (id_as, vec_as) rows; the vector
    keeps its stored type (the saved ``cells/`` layout)."""
    return ivf_assign(
        df.select(F.col(id_col).alias(id_as), F.col(vec_col).alias(vec_as)),
        cent,
        n_keep,
        id_as,
        vec_as,
    )


def _assign_cells(
    df: DataFrame, centroids: DataFrame, pick, id_col: str, vec_col: str
) -> DataFrame:
    """The assignments' shared pass: one row per (vector, cell) that
    ``pick(cells, acc)`` chooses from the vector's :func:`_sq_l2` row to
    every centroid (cells ascending), computed in one Arrow-batched UDF
    with the centroid table in its closure."""
    ensure_worker_imports(df.sparkSession)
    cells, cmat = _collect_centroids(centroids)

    @F.pandas_udf(ArrayType(LongType()))
    def assign(vecs: pd.Series) -> pd.Series:
        if vecs.empty:
            return pd.Series([], dtype=object)
        return pd.Series(pick(cells, _sq_l2(np.array(vecs.tolist(), dtype=np.float64), cmat)))

    return df.select(
        F.col(id_col),
        F.col(vec_col),
        F.explode(assign(F.col(vec_col).cast("array<double>"))).alias("cell"),
    )


def ivf_ann_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_cells: int | None = 16,
    n_probe: int | None = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    index: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Approximate top-k cosine via inverted-file probing: corpus vectors
    live in their nearest cell, each query scans only its ``n_probe``
    nearest cells, exact cosine re-rank within candidates (the same
    cheap-filter / expensive-rerank two-phase plan as the reference's
    LSH→EMD path, ferret-pthreads.c:580-655).

    ``n_cells=None`` / ``n_probe=None`` auto-size from the corpus via
    :func:`ivf_defaults` (n_cells ≈ √N, probe floor 8) — one count job at
    build time, or a count of the (tiny) centroid table when probing a
    prebuilt index. Explicit values stay exact for oracle parity.

    Candidate shuffle is ∝ probed-cell sizes, never O(n²); the centroid
    table is broadcast; the final top-K is a rank window on the (small)
    candidate set."""
    if index is not None:
        # prebuilt index (save_ivf_index/load_ivf_index): corpus cell
        # assignment was paid at build time; queries still probe live
        cent, c = index
        if n_probe is None:
            # derive the probe width from the index's own cell count —
            # the centroid table is dimension-sized, so this count is free.
            # Clamped to the cell count (ivf_defaults' rule): a small index
            # must not ask for more probes than it has cells.
            n_idx_cells = cent.count()
            n_probe = min(n_idx_cells, max(8, n_idx_cells // 16))
    else:
        if n_cells is None:
            n_cells, _ = ivf_defaults(corpus.count())
        if n_probe is None:
            # probe rule tied to the cell count, clamped like ivf_defaults
            n_probe = min(n_cells, max(8, n_cells // 16))
        cent = ivf_centroids(corpus, n_cells, id_col, vec_col)
        c = _assign(corpus, cent, 1, id_col, vec_col)
    q = _assign(queries, cent, n_probe, id_col, vec_col, "query_id", "qv")
    # probed queries ≪ corpus: broadcast them so the corpus side never
    # shuffles on `cell` (16 distinct cells = 16-way max parallelism if
    # sort-merged — a skew cliff at scale)
    cand = F.broadcast(q).join(c, on="cell").filter(F.col("query_id") != F.col("neighbor_id"))
    cos = _cosine(F.col("qv").cast("array<double>"), F.col("cv").cast("array<double>"))
    return _topk(cand.select("query_id", "neighbor_id", cos.alias("cosine")), k)


def ivf_topk_oracle_sql(
    k: int = 5,
    max_query_id: int = 8,
    n_cells: int = 16,
    n_probe: int = 2,
    corpus_sql: str = "SELECT vec_id, embedding FROM embeddings",
) -> str:
    """``corpus_sql`` overrides the searched corpus (centroids and queries
    always come from the base embeddings table — the history side); the
    daily-increment pipeline passes history ∪ upserted-survivor vectors."""
    return f"""
    WITH cent AS (SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS centroid
                  FROM embeddings WHERE vec_id < {n_cells}),
    c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM ({corpus_sql})),
    cassign AS (
      SELECT neighbor_id, cv, cell FROM (
        SELECT neighbor_id, cv, cell,
               ROW_NUMBER() OVER (PARTITION BY neighbor_id
                                  ORDER BY {_SQL_D2.format(a='cv', b='centroid')}, cell) AS rn
        FROM c CROSS JOIN cent) WHERE rn = 1
    ),
    q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
          FROM embeddings WHERE vec_id < {max_query_id}),
    qprobe AS (
      SELECT query_id, qv, cell FROM (
        SELECT query_id, qv, cell,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY {_SQL_D2.format(a='qv', b='centroid')}, cell) AS rn
        FROM q CROSS JOIN cent) WHERE rn <= {n_probe}
    ),
    scored AS (
      SELECT query_id, neighbor_id, {_sql_cos('qv', 'cv')} AS cosine
      FROM qprobe JOIN cassign USING (cell)
      WHERE query_id <> neighbor_id
    )
    SELECT query_id, neighbor_id, rank, cosine FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
      FROM scored
    ) WHERE rank <= {k}
    """


# ---------------------------------------------------------------------------
# Embedding-cosine near-duplicate detection (the fifth dedup method of the
# north-star list). Deterministic sign-pattern blocking so the WHOLE op —
# candidate generation included — has an exact SQL oracle: block key =
# sign bits of the first SIGN_BITS components (pure comparisons, no float
# arithmetic), then exact fold-cosine ≥ threshold within blocks.
# ---------------------------------------------------------------------------

SIGN_BITS = 12
AUG_VEC_OFFSET = 1_000_000


def augmented_embeddings(emb: DataFrame) -> DataFrame:
    """embeddings ∪ planted near-duplicates: x -> x*1.01 + 0.001 per
    component (deterministic IEEE double math — identical in any engine;
    cosine to the source ≈ 0.9999)."""
    v = F.col("embedding").cast("array<double>")
    jitter = emb.select(
        (F.col("vec_id") + AUG_VEC_OFFSET).alias("vec_id"),
        F.transform(v, lambda x: x * F.lit(1.01) + F.lit(0.001)).alias("embedding"),
    )
    return emb.select("vec_id", v.alias("embedding")).unionByName(jitter)


def _sign_block(vec: Column) -> Column:
    bits = [
        F.when(F.element_at(vec, i + 1) > 0, F.lit(1 << i)).otherwise(F.lit(0))
        for i in range(SIGN_BITS)
    ]
    return sum(bits).cast("long")


def embedding_near_dup_pairs(emb_aug: DataFrame, threshold: float = 0.99) -> DataFrame:
    """Near-dup vector pairs: equi-join on the sign-pattern block (shuffle ∝
    block collisions, never O(n²)), exact cosine ≥ threshold."""
    sided = emb_aug.select("vec_id", "embedding", _sign_block(F.col("embedding")).alias("blk"))
    a = sided.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("va"), "blk")
    b = sided.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("vb"), "blk")
    pairs = a.join(b, on="blk").filter(F.col("vec_a") < F.col("vec_b"))
    return pairs.select("vec_a", "vec_b", _cosine("va", "vb").alias("cosine")).filter(
        F.col("cosine") >= threshold
    )


def embedding_near_dup_oracle_sql(threshold: float = 0.99) -> str:
    blk = " + ".join(
        f"CASE WHEN embedding[{i + 1}] > 0 THEN {1 << i} ELSE 0 END" for i in range(SIGN_BITS)
    )
    return f"""
    WITH aug AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings
      UNION ALL
      SELECT vec_id + {AUG_VEC_OFFSET},
             list_transform(CAST(embedding AS DOUBLE[]), x -> x * 1.01 + 0.001)
      FROM embeddings
    ),
    sided AS (SELECT vec_id, embedding, CAST({blk} AS BIGINT) AS blk FROM aug)
    SELECT vec_a, vec_b, cosine FROM (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, {_sql_cos('a.embedding', 'b.embedding')} AS cosine
      FROM sided a JOIN sided b ON a.blk = b.blk AND a.vec_id < b.vec_id
    ) WHERE cosine >= {threshold}
    """


# ---------------------------------------------------------------------------
# Product quantization (PQ) ANN — compressed-domain scan + exact re-rank
# ---------------------------------------------------------------------------

def _rotate_rows(mat: np.ndarray, R: np.ndarray) -> np.ndarray:
    """Row-wise ``v @ R`` with a PINNED op shape: one (1×D)·(D×D) gemv per
    row, identical regardless of how many rows arrive in a batch — a
    batched (N×D)·(D×D) gemm may block differently per N and flip low
    bits, which would make OPQ codes depend on Arrow batch size (the
    partition-invariance killer). Used identically by the Spark path and
    the golden reference."""
    return np.array([row @ R for row in mat], dtype=np.float64)


def opq_rotation(
    corpus: DataFrame,
    n_subspaces: int = 8,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_iters: int = 8,
    train_sample: int = 2048,
    opq_iters: int = 8,
) -> np.ndarray:
    """Train the OPQ rotation (Ge et al., CVPR 2013): parametric
    eigenvalue-allocation INIT (OPQ-P — principal components greedily
    bucketed so every subspace gets a balanced log-eigenvalue sum), then
    the non-parametric alternation (OPQ-NP): (1) PQ codebooks on the
    rotated sample, (2) reconstruct, (3) solve the orthogonal Procrustes
    problem ``min_R ||X R − X̂||`` via SVD of ``Xᵀ X̂``. The identity
    init alone gets stuck in local optima (measured: a WASH or worse on
    every fixture); the eigen-allocation start is what makes the
    alternation land.

    Honest recall profile (measured at 20k×64d, 100 queries, refine=2):
    corpora with LOW INTRINSIC DIMENSION — the documented shape of real
    neural embeddings — gain large (rank-12 latent: 0.39 → 0.57
    recall@5 at identical code bytes); isotropically-rotated
    anisotropic data is a wash; pure isotropic gaussians lose a hair
    (0.112 → 0.096 — there is no structure to align, and the rotation
    spends sample on training). Use it where embeddings come from a
    model, skip it for whitened/synthetic data. The bench asserts the
    low-rank win at 100k scale.

    Deterministic: the sample is the lowest-id ``train_sample`` rows in
    ascending id order (same contract as pq_codebooks), Lloyd is the
    shared bit-stable ``_pq_lloyd``, the greedy allocation tie-breaks
    on (sum, subspace id), and ``np.linalg.eigh``/``svd`` of the same
    float64 matrix are reproducible on a given host. Driver cost is the
    bounded sample only — the full corpus never leaves the executors."""
    X = _train_sample(corpus, id_col, vec_col, train_sample)  # (N, D)
    d = X.shape[1]
    if d % n_subspaces:
        raise ValueError(f"dim {d} not divisible by n_subspaces {n_subspaces}")
    ds = d // n_subspaces
    # OPQ-P init: eigen-decompose the (uncentered — cosine semantics)
    # second-moment matrix, allocate principal components to subspaces
    # balancing the log-eigenvalue sums (Ge et al. §4).
    cov = X.T @ X / len(X)
    lam, E = np.linalg.eigh(cov)  # ascending
    order = np.argsort(-lam, kind="stable")
    lam, E = lam[order], E[:, order]
    buckets: list[list[int]] = [[] for _ in range(n_subspaces)]
    sums = np.zeros(n_subspaces)
    for j in range(d):
        s = min(
            (s for s in range(n_subspaces) if len(buckets[s]) < ds),
            key=lambda s: (sums[s], s),
        )
        buckets[s].append(j)
        sums[s] += np.log(max(float(lam[j]), 1e-12))
    R = E[:, [j for b in buckets for j in b]]
    for _ in range(opq_iters):
        Xr = _rotate_rows(X, R)
        books = _pq_lloyd(Xr, n_subspaces, n_centroids, train_iters)
        sub = Xr.reshape(Xr.shape[0], n_subspaces, ds)
        d2 = ((sub[:, :, None, :] - books[None, :, :, :]) ** 2).sum(-1)
        assign = d2.argmin(-1)  # (N, S) ties -> lowest centroid id
        xhat = np.stack(
            [books[s][assign[:, s]] for s in range(n_subspaces)], axis=1
        ).reshape(X.shape[0], d)
        U, _s, Vt = np.linalg.svd(X.T @ xhat)
        R = U @ Vt
    return R


def pq_codebooks(
    corpus: DataFrame,
    n_subspaces: int = 8,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_iters: int = 8,
    train_sample: int = 2048,
    rotation: np.ndarray | None = None,
) -> np.ndarray:
    """Deterministic PQ codebooks, shape (n_subspaces, n_centroids, d_sub).

    Init: the sub-vectors of the ``n_centroids`` lowest-id corpus vectors
    (same seed-free determinism as ivf_centroids). Refinement:
    ``train_iters`` Lloyd iterations per subspace over the ``train_sample``
    lowest-id vectors — argmin ties to the lowest centroid id, empty
    clusters keep their previous centroid, double accumulation in fixed
    index order, so the codebooks are bit-stable across runs (what the
    golden oracle needs). At 100 TB the sample cap IS the design: k-means
    on a bounded driver-side sample, codebooks broadcast."""
    mat = _train_sample(corpus, id_col, vec_col, train_sample)  # (N, D)
    if rotation is not None:
        mat = _rotate_rows(mat, rotation)
    return _pq_lloyd(mat, n_subspaces, n_centroids, train_iters)


def _pq_lloyd(
    mat: np.ndarray, n_subspaces: int, n_centroids: int, train_iters: int
) -> np.ndarray:
    """The deterministic per-subspace Lloyd loop shared by the raw and
    residual codebook builds (init = first n_centroids rows' subvectors;
    argmin ties → lowest centroid id; empty clusters keep their centroid)."""
    d = mat.shape[1]
    if d % n_subspaces:
        raise ValueError(f"dim {d} not divisible by n_subspaces {n_subspaces}")
    ds = d // n_subspaces
    sub = mat.reshape(mat.shape[0], n_subspaces, ds)  # (N, S, ds)
    books = sub[:n_centroids].transpose(1, 0, 2).copy()  # (S, C, ds)
    for _ in range(train_iters):
        for s_i in range(n_subspaces):
            x = sub[:, s_i, :]  # (N, ds)
            d2 = ((x[:, None, :] - books[s_i][None, :, :]) ** 2).sum(-1)
            assign = d2.argmin(1)  # ties -> lowest centroid id
            for c_i in range(n_centroids):
                members = x[assign == c_i]
                if len(members):
                    books[s_i, c_i] = members.mean(0)
    return books


def pq_encode(
    corpus: DataFrame,
    books: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rotation: np.ndarray | None = None,
) -> DataFrame:
    """(id, codes) — each vector compressed to one centroid id per
    subspace (D doubles → S small ints; 64-dim → 8 bytes at 16 centroids).
    Codebooks ride in the UDF closure (broadcast); the encode is a narrow
    vectorized Arrow pass, zero shuffle — the corpus compresses in place
    exactly like the IVF cell assignment."""
    ensure_worker_imports(corpus.sparkSession)
    S, C, ds = books.shape

    @F.pandas_udf(ArrayType(LongType()))
    def encode(vecs: pd.Series) -> pd.Series:
        if vecs.empty:
            return pd.Series([], dtype=object)
        v = np.array(vecs.tolist(), dtype=np.float64)
        if rotation is not None:
            v = _rotate_rows(v, rotation)
        sub = v.reshape(v.shape[0], S, ds)  # (N, S, ds)
        # (N, S, C) squared L2 per subspace; argmin ties -> lowest id
        d2 = ((sub[:, :, None, :] - books[None, :, :, :]) ** 2).sum(-1)
        return pd.Series(list(d2.argmin(-1)))

    return corpus.select(
        F.col(id_col).alias("neighbor_id"),
        encode(F.col(vec_col).cast("array<double>")).alias("codes"),
    )


def pq_ann_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_subspaces: int = 8,
    n_centroids: int = 16,
    refine: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    index: tuple[np.ndarray, DataFrame] | None = None,
    rotation: np.ndarray | None = None,
) -> DataFrame:
    """Approximate top-k cosine via product quantization: compressed-domain
    asymmetric-distance scan (each query precomputes an S×C lookup table;
    scoring a corpus vector is S table lookups instead of D multiplies),
    per-partition top-(refine·k) pruning inside the scan, then an exact
    cosine re-rank of the surviving candidates — the third
    cheap-filter/exact-rerank ANN shape next to LSH and IVF
    (ferret-pthreads.c:580-655 is the same two-phase design).

    Scale shape: the corpus is scanned once in compressed form (8 bytes/
    vector here vs 512 raw), candidates shuffle at refine·k per query per
    partition max, and the exact re-rank touches only candidates. The
    scan emits nothing for partitions whose best approx distance can't
    beat the candidate cut."""
    ensure_worker_imports(queries.sparkSession)
    if index is not None:
        # prebuilt index (save_pq_index/load_pq_index): the Lloyd training
        # and the encode scan were paid at build time
        books, codes = index
    else:
        books = pq_codebooks(
            corpus, n_subspaces, n_centroids, id_col, vec_col, rotation=rotation
        )
        codes = pq_encode(corpus, books, id_col, vec_col, rotation=rotation)
    S, C, ds = books.shape
    m = refine * k

    def probe(qids: np.ndarray, qmat: np.ndarray, _chunk) -> DataFrame:
        """Compressed-domain ADC scan over the corpus codes for one wave
        (qids and its ADC tables ride the closure)."""
        if rotation is not None:
            # OPQ: queries meet the codes in the ROTATED space (the exact
            # re-rank stays in the raw space — scores never rotate)
            qmat = _rotate_rows(qmat, rotation)
        qsub = qmat.reshape(qmat.shape[0], S, ds)
        # ADC tables: (Q, S, C) squared-L2 from each query subvector to
        # every centroid
        qtab = ((qsub[:, :, None, :] - books[None, :, :, :]) ** 2).sum(-1)

        def scan(batches):
            srange = np.arange(S)
            for pdf in batches:
                if not len(pdf):
                    continue
                cds = np.array(pdf["codes"].tolist(), dtype=np.int64)  # (N, S)
                nids = pdf["neighbor_id"].to_numpy()
                out_q, out_n, out_d = [], [], []
                for qi in range(len(qids)):
                    ad = qtab[qi][srange[None, :], cds].sum(1)  # (N,)
                    mask = nids != qids[qi]
                    idx = np.nonzero(mask)[0]
                    # deterministic per-partition cut: (adist, neighbor_id) order
                    top = idx[np.lexsort((nids[idx], ad[idx]))[:m]]
                    out_q.append(np.full(len(top), qids[qi]))
                    out_n.append(nids[top])
                    out_d.append(ad[top])
                yield pd.DataFrame(
                    {
                        "query_id": np.concatenate(out_q),
                        "neighbor_id": np.concatenate(out_n),
                        "adist": np.concatenate(out_d),
                    }
                )

        return codes.mapInPandas(scan, _ADC_SCHEMA)

    # The ADC closure holds one wave of queries: above QUERY_BATCH_LIMIT
    # the corpus codes are computed once (pinned) and scanned once per
    # wave, and candidates union into ONE re-rank. Parity with the
    # single-wave path is exact (the per-query scan never looks across
    # queries); tested above the limit in tests/test_llm_ops.py.
    return _adc_topk(
        _vectors(queries, id_col, vec_col, "query_id", "qv"),
        _vectors(corpus, id_col, vec_col, "neighbor_id", "cv"),
        probe, (codes,), m, k,
    )


def _adc_topk(
    q_sel: DataFrame, c_sel: DataFrame, probe, pin: tuple[DataFrame, ...], m: int, k: int
) -> DataFrame:
    """The PQ families' tail: ``probe``'s ADC candidates over the query
    waves, the ``m`` nearest by adist per query, and the exact re-rank of
    those (same rounded formula and tiebreaks as the brute-force oracle).
    The query side is broadcast only when one wave held every query —
    then it is provably the small side."""
    cand, n_waves = _waves(q_sel, probe, pin, _ADC_SCHEMA)
    survivors = _shortlist(cand, F.col("adist"), m).select("query_id", "neighbor_id")
    return _rerank(
        survivors.join(c_sel, "neighbor_id").join(
            q_sel if n_waves > 1 else F.broadcast(q_sel), "query_id"
        ),
        k,
    )


def pq_codebooks_residual(
    corpus: DataFrame,
    cent: DataFrame,
    n_subspaces: int = 8,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_iters: int = 8,
    train_sample: int = 2048,
) -> np.ndarray:
    """PQ codebooks trained on RESIDUALS (vector − its cell's centroid) —
    FAISS IndexIVFPQ's actual encoding: residual magnitudes are a
    fraction of raw magnitudes once the coarse quantizer captures the
    bulk, so the same code budget spends its centroids on a tighter
    distribution. Same deterministic Lloyd loop and bounded driver-side
    sample as :func:`pq_codebooks`; the nearest-cell choice accumulates
    dimension-at-a-time in index order (the :func:`ivf_assign` parity
    contract)."""
    mat = _train_sample(corpus, id_col, vec_col, train_sample)
    cells, cmat = _collect_centroids(cent)
    nearest = np.argsort(_sq_l2(mat, cmat), axis=1, kind="stable")[:, 0]
    resid = mat - cmat[nearest]
    return _pq_lloyd(resid, n_subspaces, n_centroids, train_iters)


def _collect_centroids(cent: DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """(cells ascending, centroid matrix) — the bounded driver fetch every
    probe path shares."""
    rows = cent.select("cell", "centroid").collect()
    order = np.argsort([r["cell"] for r in rows], kind="stable")
    cells = np.array([rows[i]["cell"] for i in order], dtype=np.int64)
    cmat = np.array([rows[i]["centroid"] for i in order], dtype=np.float64)
    return cells, cmat


def ivfpq_ann_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_cells: int | None = 16,
    n_probe: int | None = 2,
    n_subspaces: int = 8,
    n_centroids: int = 256,
    refine: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    index: tuple | None = None,
    residual: bool = False,
) -> DataFrame:
    """IVF-PQ: the FAISS-style composition of the two ANN index families —
    an inverted-file coarse quantizer restricts WHICH vectors are scanned
    (n_probe cells per query instead of the whole corpus) and product
    quantization compresses HOW they are scanned (S table lookups per
    candidate instead of D multiplies), with the exact cosine re-rank of
    refine·k survivors on top. This is the billion-vector production
    layout: the corpus lives as (cell, 8-byte code) rows, a query touches
    ~n_probe/n_cells of it, and per-candidate cost is compressed-domain.

    Code convention is a real tradeoff, exposed as ``residual=``:
    - ``False`` (default): codes on RAW vectors — cell-independent, so
      cell re-assignment, centroid retraining and ``upsert_*`` index
      maintenance never force a re-encode (the operational win).
    - ``True``: codes on residuals (vector − cell centroid) — FAISS
      IndexIVFPQ's encoding; when the corpus is CLUSTERED (the real-world
      case — embedding corpora cluster by topic/modality) the coarse
      quantizer captures the bulk and the same code budget quantizes the
      tighter residual distribution (the bench's clustered-fixture probe
      asserts the win each round — measured recall@10 0.866 residual vs
      0.746 raw at the auto defaults on a 64-center mixture; on
      structureless gaussian data residuals are still gaussian and the
      encoding is a wash — measured 0.661 vs 0.663). ADC tables become per (query, probed cell)
      since the query residual differs per cell — still a bounded driver
      build (Q·n_probe tables per wave).
    A prebuilt ``index`` carries its encoding convention in its meta
    (``save_ivfpq_index(residual=…)``); passing a mismatched ``residual=``
    here raises rather than silently computing wrong approximate
    distances against codes of the other convention.

    Auto-sizing: ``n_cells=None``/``n_probe=None`` follow
    :func:`ivf_defaults`; ``refine=None`` scales the re-rank window with
    the probe width (``max(8, 2·n_probe)``) — ADC quantization error, not
    cell recall, binds IVF-PQ recall, so the exact re-rank must see more
    candidates as n_probe grows (measured on the bench's 100k probe: the
    old static refine=4 → recall@10 0.30-0.66; the scaled default holds
    the asserted floor).

    Query batches above ``QUERY_BATCH_LIMIT`` probe in hash-chunked WAVES
    (the pq_ann_topk shape): per-wave ADC tables stay bounded on the
    driver while the coded corpus stays cached across waves — no caller-
    side chunking needed at any batch size.

    Plan shape: centroid table broadcast (narrow assignment for both
    sides), probed queries broadcast against the coded corpus on the cell
    key (candidates ∝ probed-cell sizes, never O(n²)), ADC via one
    Arrow-batched numpy gather, candidate top-(refine·k) rank window,
    exact re-rank only on survivors."""
    ensure_worker_imports(queries.sparkSession)
    if index is not None:
        # prebuilt (save_ivfpq_index/load_ivfpq_index): centroids, codebooks
        # and the coded corpus were all paid at build time — bit-identical
        # to the inline build (shared golden oracle). A 4th element is the
        # index meta (encoding convention); a bare 3-tuple (an inline-built
        # index, e.g. the bench's) is raw-coded by construction.
        if len(index) == 4:
            cent, books, coded, idx_meta = index
        else:
            cent, books, coded = index
            idx_meta = {"residual": False}
        if bool(idx_meta.get("residual", False)) != residual:
            raise ValueError(
                f"prebuilt index codes are "
                f"{'residual' if idx_meta.get('residual') else 'raw'}-encoded "
                f"but residual={residual} was requested — ADC against the "
                "other convention silently degrades recall; rebuild with "
                f"save_ivfpq_index(residual={residual}) or match the flag"
            )
        if n_probe is None:
            n_idx_cells = cent.count()
            n_probe = min(n_idx_cells, max(8, n_idx_cells // 16))
    else:
        if n_cells is None:
            n_cells, _ = ivf_defaults(corpus.count())
        if n_probe is None:
            n_probe = min(n_cells, max(8, n_cells // 16))
        cent = ivf_centroids(corpus, n_cells, id_col, vec_col)
        cassign = _assign(corpus, cent, 1, id_col, vec_col)
        if residual:
            books = pq_codebooks_residual(
                corpus, cent, n_subspaces, n_centroids, id_col, vec_col
            )
            # residual column: vector − its cell's centroid (broadcast
            # join on the tiny centroid table, elementwise zip_with)
            with_res = cassign.join(F.broadcast(cent), "cell").select(
                "neighbor_id",
                "cell",
                F.zip_with(
                    F.col("cv").cast("array<double>"),
                    F.col("centroid"),
                    lambda x, y: x - y,
                ).alias("__resid"),
            )
            codes = pq_encode(with_res, books, "neighbor_id", "__resid")
            coded = codes.join(with_res.select("neighbor_id", "cell"), "neighbor_id")
        else:
            books = pq_codebooks(corpus, n_subspaces, n_centroids, id_col, vec_col)
            codes = pq_encode(corpus, books, id_col, vec_col)
            coded = codes.join(cassign.select("neighbor_id", "cell"), "neighbor_id")

    if refine is None:
        refine = max(8, 2 * n_probe)
    S, C, ds = books.shape
    qassign = _assign(queries, cent, n_probe, id_col, vec_col, "query_id", "qv").select(
        "query_id", "cell"
    )
    if residual:
        cells_arr, cmat = _collect_centroids(cent)
        cell_pos = {int(c): i for i, c in enumerate(cells_arr)}
        key_mod = int(cells_arr.max()) + 1

    def probe(qids: np.ndarray, qmat: np.ndarray, chunk) -> DataFrame:
        qidx = {int(q): i for i, q in enumerate(qids)}
        qa = qassign if chunk is None else qassign.filter(chunk)
        if residual:
            # per-(query, probed cell) ADC tables: the query residual
            # differs per cell. Bounded driver build per wave.
            keys, tabs = [], []
            for r in qa.collect():
                qres = qmat[qidx[int(r["query_id"])]] - cmat[cell_pos[int(r["cell"])]]
                qs = qres.reshape(S, ds)
                tabs.append(((qs[:, None, :] - books) ** 2).sum(-1))  # (S, C)
                keys.append(int(r["query_id"]) * key_mod + int(r["cell"]))
            order = np.argsort(np.array(keys, dtype=np.int64), kind="stable")
            keys_sorted = np.array(keys, dtype=np.int64)[order]
            tab_stack = np.stack([tabs[i] for i in order])  # (P, S, C)

            @F.pandas_udf(DoubleType())
            def _adist_res(qid: pd.Series, cell: pd.Series, code: pd.Series) -> pd.Series:
                if qid.empty:
                    return pd.Series([], dtype=float)
                c = np.array(code.tolist(), dtype=np.int64)  # (N, S)
                key = qid.to_numpy(dtype=np.int64) * key_mod + cell.to_numpy(dtype=np.int64)
                pi = np.searchsorted(keys_sorted, key)
                srange = np.arange(S)
                return pd.Series(tab_stack[pi[:, None], srange[None, :], c].sum(1))

            adist = _adist_res("query_id", "cell", "codes")
        else:
            qsub = qmat.reshape(qmat.shape[0], S, ds)
            qtab = ((qsub[:, :, None, :] - books[None, :, :, :]) ** 2).sum(-1)

            @F.pandas_udf(DoubleType())
            def _adist(qid: pd.Series, code: pd.Series) -> pd.Series:
                if qid.empty:
                    return pd.Series([], dtype=float)
                c = np.array(code.tolist(), dtype=np.int64)  # (N, S)
                qi = qid.map(qidx).to_numpy(dtype=np.int64)
                srange = np.arange(S)
                return pd.Series(qtab[qi[:, None], srange[None, :], c].sum(1))

            adist = _adist("query_id", "codes")
        return (
            F.broadcast(qa)
            .join(coded, "cell")
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .select("query_id", "neighbor_id", adist.alias("adist"))
        )

    # above one wave the coded corpus and the probe assignment are paid
    # once and pinned across waves; only the per-wave ADC tables (≤
    # LIMIT·S·C doubles, resp. ≤ LIMIT·n_probe tables on the residual
    # path) live on the driver at a time
    return _adc_topk(
        _vectors(queries, id_col, vec_col, "query_id", "qv"),
        _vectors(corpus, id_col, vec_col, "neighbor_id", "cv"),
        probe, (coded, qassign), refine * k, k,
    )


def matryoshka_ann_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    dims: int = 16,
    refine: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Coarse-to-fine ANN on the DIMENSION axis (matryoshka/MRL-style
    retrieval, Kusupati et al. 2022): score candidates on the first
    ``dims`` components only (cosine is scale-invariant, so truncation
    needs no re-normalization for ranking), keep refine·k per query,
    exact full-dimension cosine re-rank. The compute-side analog of the
    IVF/PQ candidate-side cuts: a 64→16 truncation is 4× less arithmetic
    and 4× less vector I/O in the first pass — with MRL-trained
    embeddings the prefix IS the information-dense part, so recall holds.
    Composable with the index families (probe cells with truncated
    vectors, rerank full) — this operator is the dimension cut alone,
    which keeps the whole thing SQL-expressible for the oracle."""
    q = _vectors(queries, id_col, vec_col, "query_id", "qv")
    c = _vectors(corpus, id_col, vec_col, "neighbor_id", "cv")
    coarse = _cosine(F.slice(F.col("qv"), 1, dims), F.slice(F.col("cv"), 1, dims))
    cand = F.broadcast(q).join(c, F.col("query_id") != F.col("neighbor_id")).select(
        "query_id", "neighbor_id", "qv", "cv", coarse.alias("coarse")
    )
    return _rerank(_shortlist(cand, F.col("coarse").desc(), refine * k), k)


def pca_components(
    corpus: DataFrame,
    dims: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_sample: int = 2048,
) -> np.ndarray:
    """Top-``dims`` principal directions of the corpus' (uncentered —
    cosine semantics) second-moment matrix, trained on the bounded
    lowest-id sample (same contract as pq_codebooks/opq_rotation).
    Returns (D, dims) float64. Deterministic: ``np.linalg.eigh`` of the
    same matrix, descending eigenvalue order with a stable sort."""
    X = _train_sample(corpus, id_col, vec_col, train_sample)
    cov = X.T @ X / len(X)
    lam, E = np.linalg.eigh(cov)
    order = np.argsort(-lam, kind="stable")
    return E[:, order[:dims]].copy()


def pca_ann_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    dims: int = 16,
    refine: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Coarse-to-fine ANN on the dimension axis with a LEARNED cut:
    project to the top-``dims`` principal components (trained on the
    bounded sample), rank candidates by projected cosine, exact
    full-dimension re-rank of refine·k. The companion to
    :func:`matryoshka_ann_topk`: the prefix slice is free but only
    information-dense when the embeddings were MRL-TRAINED; PCA earns
    the same 4× first-pass arithmetic/IO cut for ARBITRARY embeddings —
    on a low-intrinsic-dimension corpus the top-16 components carry
    nearly all variance while the first 16 raw coordinates carry ~1/4
    of it (tested: pca recall strictly beats the prefix slice on the
    low-rank fixture).

    The projection is a row-wise pinned-shape gemv inside one Arrow
    pass (`_rotate_rows` — batch-size-independent floats, the
    partition-invariance contract); coarse and fine cosines are the
    family's JVM column math with rounded-cosine + id tiebreaks, so the
    Python stage only produces the projected VECTORS, never scores."""
    comps = pca_components(corpus, dims, id_col, vec_col)
    ensure_worker_imports(corpus.sparkSession)

    @F.pandas_udf(ArrayType(DoubleType()))
    def project(vecs: pd.Series) -> pd.Series:
        if vecs.empty:
            return pd.Series([], dtype=object)
        v = np.array(vecs.tolist(), dtype=np.float64)
        return pd.Series(list(_rotate_rows(v, comps)))

    q = _vectors(queries, id_col, vec_col, "query_id", "qv").withColumn(
        "pq", project(F.col("qv"))
    )
    c = _vectors(corpus, id_col, vec_col, "neighbor_id", "cv").withColumn(
        "pv", project(F.col("cv"))
    )
    cand = (
        F.broadcast(q)
        .join(c, F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "qv", "cv", _cosine("pq", "pv").alias("coarse"))
    )
    return _rerank(_shortlist(cand, F.col("coarse").desc(), refine * k), k)


def matryoshka_topk_oracle_sql(
    k: int = 5, dims: int = 16, refine: int = 4, max_query_id: int = 8
) -> str:
    """DuckDB mirror of :func:`matryoshka_ann_topk` (identical folds,
    slices, rounding and tiebreaks)."""

    m = refine * k
    return f"""
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < {max_query_id}),
    c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
    cand AS (
      SELECT query_id, neighbor_id, qv, cv,
             {_sql_cos('tq', 'tc')} AS coarse
      FROM (SELECT query_id, neighbor_id, qv, cv,
                   qv[1:{dims}] AS tq, cv[1:{dims}] AS tc
            FROM q, c WHERE query_id <> neighbor_id)
    ),
    surv AS (
      SELECT query_id, neighbor_id, {_sql_cos('qv', 'cv')} AS cosine
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY coarse DESC, neighbor_id) AS crn
            FROM cand) WHERE crn <= {m}
    )
    SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cosine FROM (
      SELECT query_id, neighbor_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rank
      FROM surv) WHERE rank <= {k}
    """


def binary_quant_ann_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    dims: int = 64,
    refine: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Binary-quantization ANN — the 1-bit-per-dimension compression mode
    production vector stores ship: each vector collapses to its sign
    mask (dim i → bit i set iff ``v[i] > 0``; 64 dims = ONE 8-byte
    long), the coarse pass ranks candidates by hamming distance
    (``bit_count(qsig XOR csig)`` — one XOR+popcount instead of ``dims``
    multiplies, and 32× less vector I/O at float32 storage), and the
    exact full-precision cosine re-ranks the refine·k survivors.

    The compute-side cut on the PRECISION axis, completing the family's
    three orthogonal cuts: IVF cuts candidates (which vectors), PQ and
    binary quantization cut per-candidate cost (how they're scanned),
    matryoshka cuts dimensions. Like matryoshka, this operator is the
    quantization cut alone — scan-shaped and fully SQL-expressible for
    the oracle; compose with the IVF cell probe for the candidate cut
    at corpus scale. Sign packing is a pure JVM column expression
    (``shiftleft`` fold, no UDF), so the coarse pass lives inside
    whole-stage codegen.

    HONEST recall note, measured (r8, 100k×64d structureless gaussian —
    the worst case): recall@10 = 0.14/0.30/0.40 at refine = 4/16/32.
    One bit per dimension at 64 dims keeps too little angle information;
    the mode earns its keep on the HIGH-dimensional embeddings real
    rerankers emit (768-1536d, where sign masks concentrate — the
    published regime) or as a cheap first cut ahead of a wider exact
    re-rank. At 64 dims prefer IVF-PQ (recall 0.80 at the sized
    defaults); this operator exists because the 1-bit mode is a real
    production surface users will reach for, with its tradeoff stated
    rather than discovered.

    Hamming ties break toward the lower neighbor id; the re-rank uses
    the family's rounded-cosine + id tiebreaks, so results are
    engine-exact against the DuckDB mirror
    (:func:`binary_quant_topk_oracle_sql`)."""
    q = _vectors(queries, id_col, vec_col, "query_id", "qv")
    c = _vectors(corpus, id_col, vec_col, "neighbor_id", "cv")

    def sig(col: str):
        # bit 63 lands on the long's sign bit — fine: XOR/bit_count are
        # bit-pattern ops, the numeric value is never compared
        return sum(
            F.shiftleft(
                (F.element_at(F.col(col), i + 1) > 0).cast("long"), i
            )
            for i in range(dims)
        ).cast("long")

    qs = q.withColumn("qsig", sig("qv"))
    cs = c.withColumn("csig", sig("cv"))
    ham = F.bit_count(F.col("qsig").bitwiseXOR(F.col("csig")))
    cand = (
        F.broadcast(qs)
        .join(cs, F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "qv", "cv", ham.alias("ham"))
    )
    return _rerank(_shortlist(cand, F.col("ham"), refine * k), k)


def binary_quant_topk_oracle_sql(
    k: int = 5, dims: int = 64, refine: int = 4, max_query_id: int = 8
) -> str:
    """DuckDB mirror of :func:`binary_quant_ann_topk` — hamming computed
    per-element (no 64-bit packing, sidestepping BIGINT bit-63 overflow
    in SQL) from the identical ``v[i] > 0`` sign predicate, identical
    tiebreaks and rounded-cosine re-rank."""

    ham = (
        f"list_reduce(list_prepend(0, list_transform(range(1, {dims} + 1), "
        "i -> CASE WHEN (qv[i] > 0) <> (cv[i] > 0) THEN 1 ELSE 0 END)), "
        "(x, y) -> x + y)"
    )
    m = refine * k
    return f"""
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < {max_query_id}),
    c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
    cand AS (
      SELECT query_id, neighbor_id, qv, cv, {ham} AS ham
      FROM q, c WHERE query_id <> neighbor_id
    ),
    surv AS (
      SELECT query_id, neighbor_id, {_sql_cos('qv', 'cv')} AS cosine
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY ham, neighbor_id) AS hrn
            FROM cand) WHERE hrn <= {m}
    )
    SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cosine FROM (
      SELECT query_id, neighbor_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rank
      FROM surv) WHERE rank <= {k}
    """


def sq8_ann_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    dims: int = 64,
    refine: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scalar-quantization (SQ8) ANN — 8 bits per dimension, the other
    production compression mode next to 1-bit sign masks
    (:func:`binary_quant_ann_topk`) and PQ: train per-dimension
    ``[min, max]`` over the corpus (ONE aggregate pass, 2·dims columns,
    no shuffle beyond the final reduce), affine-quantize each corpus
    value to ``round((v−mn)/(mx−mn)·255)``, and score the coarse pass by
    the asymmetric distance — raw query against the DEQUANTIZED corpus
    vector — exactly the FAISS ``IndexScalarQuantizer(QT_8bit)`` ADC
    convention. Exact full-precision cosine re-ranks refine·k survivors.

    Precision-axis ladder this completes: 1-bit sign mask (32× less
    vector I/O, recall 0.40@refine=32 at 64d), SQ8 (4× less I/O,
    recall ≈ 1.0 at 64d — 8 bits is nearly lossless for unit-scale
    gaussians), PQ (8 bytes/vector, codebook-trained). SQ8 is the
    no-training-loop point on that curve: the "codebook" is just 2·dims
    doubles, maintained incrementally by min/max merge — mergeable
    across corpus shards with zero re-training, unlike PQ.

    Everything is JVM column math (one agg + ``F.transform`` dequantize
    inside whole-stage codegen — no UDF, no collect), and every float op
    is written in the same order as the DuckDB mirror
    (:func:`sq8_topk_oracle_sql`), so results are engine-exact: ROUND
    half-away-from-zero agrees between engines because the quantization
    argument is non-negative, and the coarse/fine scores share the
    family's rounded-cosine + id tiebreaks.

    Like matryoshka/binary-quant this is the per-candidate-cost cut
    alone — compose with IVF cell probing for the candidate cut at
    corpus scale. At 10¹¹ vectors the stats row is 2·dims doubles
    (broadcast, trivially), and the scan reads uint8-width data instead
    of float32 — the 4× I/O cut is the win the mode exists for."""
    q = _vectors(queries, id_col, vec_col, "query_id", "qv")
    c = _vectors(corpus, id_col, vec_col, "neighbor_id", "cv")
    # per-dimension min/max: one aggregate pass over the corpus (the whole
    # "codebook" is 2·dims doubles — mergeable across shards by min/max)
    stats = c.agg(
        F.array(*[F.min(F.element_at("cv", i + 1)) for i in range(dims)]).alias("mn"),
        F.array(*[F.max(F.element_at("cv", i + 1)) for i in range(dims)]).alias("mx"),
    )
    # dequantized corpus vector: mn + ROUND((v−mn)/(mx−mn)·255)·(mx−mn)/255
    # (same op order as the SQL mirror; mx==mn collapses to the constant)
    def _dq(cv, mn, mx):
        return F.zip_with(
            cv,
            F.zip_with(mn, mx, lambda a, b: F.struct(a.alias("mn"), b.alias("mx"))),
            lambda v, s: F.when(
                s["mx"] == s["mn"], s["mn"]
            ).otherwise(
                s["mn"]
                + F.round((v - s["mn"]) / (s["mx"] - s["mn"]) * F.lit(255.0))
                * (s["mx"] - s["mn"])
                / F.lit(255.0)
            ),
        )

    cq = c.crossJoin(F.broadcast(stats)).select(
        "neighbor_id", "cv", _dq(F.col("cv"), F.col("mn"), F.col("mx")).alias("dq")
    )
    cand = (
        F.broadcast(q)
        .join(cq, F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "qv", "cv", _cosine("qv", "dq").alias("approx"))
    )
    return _rerank(_shortlist(cand, F.col("approx").desc(), refine * k), k)


def sq8_topk_oracle_sql(
    k: int = 5, dims: int = 64, refine: int = 4, max_query_id: int = 8
) -> str:
    """DuckDB mirror of :func:`sq8_ann_topk` — per-dimension MIN/MAX
    aggregates, the identical affine quantize/dequantize expression in
    the identical float-op order (ROUND half-away-from-zero matches
    Spark HALF_UP on the non-negative argument), same rounded-cosine
    coarse/fine ranks and id tiebreaks."""

    mn_list = ", ".join(f"MIN(cv[{i + 1}])" for i in range(dims))
    mx_list = ", ".join(f"MAX(cv[{i + 1}])" for i in range(dims))
    dq = (
        f"list_transform(range(1, {dims} + 1), i -> CASE WHEN mx[i] = mn[i] THEN mn[i] "
        "ELSE mn[i] + ROUND((cv[i] - mn[i]) / (mx[i] - mn[i]) * 255.0) "
        "* (mx[i] - mn[i]) / 255.0 END)"
    )
    m = refine * k
    return f"""
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < {max_query_id}),
    c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
    stats AS (SELECT list_value({mn_list}) AS mn, list_value({mx_list}) AS mx FROM c),
    cq AS (SELECT neighbor_id, cv, {dq} AS dq FROM c, stats),
    cand AS (
      SELECT query_id, neighbor_id, qv, cv, {_sql_cos('qv', 'dq')} AS approx
      FROM q, cq WHERE query_id <> neighbor_id
    ),
    surv AS (
      SELECT query_id, neighbor_id, {_sql_cos('qv', 'cv')} AS cosine
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY approx DESC, neighbor_id) AS qrn
            FROM cand) WHERE qrn <= {m}
    )
    SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cosine FROM (
      SELECT query_id, neighbor_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rank
      FROM surv) WHERE rank <= {k}
    """


def banded_hamming_pairs(
    hashes: DataFrame,
    id_col: str,
    hash_col: str,
    max_hamming: int = 3,
    n_bands: int = 4,
) -> DataFrame:
    """Near-dup pairs over a 64-bit integer hash column: band the hash
    into ``n_bands`` equal slices, equi-join on (band_idx, band_value) —
    pigeonhole guarantees exact recall for pairs within hamming distance
    ``n_bands − 1`` — then refine with an exact JVM-side
    ``bit_count(a XOR b)``. Returns (id_a, id_b, hamming), id_a < id_b.

    The shared shape behind SimHash text dedup, dHash image dedup, and
    audio-fingerprint dedup: the shuffle carries 8-byte hashes + band
    keys regardless of the media size that produced them; band keys are
    near-uniform for non-identical content and AQE skew-split covers
    exact-duplicate band groups.

    Scale caveat: a cluster of d EXACT duplicates emits d·(d−1)/2
    candidate pairs — quadratic in the cluster, which AQE can spread but
    not shrink. The contract at corpus scale is exact-dedup FIRST (group
    by the full hash, keep one representative per identical hash), then
    run this join on representatives; near-dup clusters are small, exact
    clusters are the big ones."""
    assert 64 % n_bands == 0
    width = 64 // n_bands
    mask = (1 << width) - 1
    bands = hashes.select(
        F.col(id_col).alias("_id"),
        F.col(hash_col).alias("_h"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        F.shiftrightunsigned(F.col(hash_col), width * i)
                        .bitwiseAND(F.lit(mask))
                        .alias("band_val"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("band"),
    ).select("_id", "_h", "band.band_idx", "band.band_val")
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.col("a._h").alias("h_a"),
            F.col("b._h").alias("h_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ---------------------------------------------------------------------------
# Persistent ANN indexes — the embedding-table analog of ferret's mkdb
# (S8: build once, pay the encode/assignment cost at WRITE time, serve
# query batches against the parquet-backed index). Each index round-trips
# bit-exactly (codebooks/centroids are doubles, parquet stores doubles
# exactly), so a prebuilt query is result-identical to the inline build —
# parity-tested and driver-verified against the same oracles.
# ---------------------------------------------------------------------------


_BOOK_COLS = ("subspace", "centroid", "features")


def _save_codebooks(spark, books: np.ndarray, path: str, cols=_BOOK_COLS) -> None:
    """Persist (S, C, ds) codebooks as S·C (subspace, centroid, vector)
    rows; ``cols`` names the three columns."""
    S, C, _ds = books.shape
    local_rows_df(
        spark,
        [(s, c, books[s, c].tolist()) for s in range(S) for c in range(C)],
        "{} int, {} int, {} array<double>".format(*cols),
    ).write.mode("overwrite").parquet(path)


def _load_codebooks(spark, path: str, cols=_BOOK_COLS) -> np.ndarray:
    """Inverse of :func:`_save_codebooks` — a bounded S·C-row driver fetch."""
    s, c, vec = cols
    rows = spark.read.parquet(path).collect()
    S = max(r[s] for r in rows) + 1
    C = max(r[c] for r in rows) + 1
    books = np.zeros((S, C, len(rows[0][vec])), dtype=np.float64)
    for r in rows:
        books[r[s], r[c]] = r[vec]
    return books


def save_pq_index(
    corpus: DataFrame,
    path: str,
    n_subspaces: int = 8,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    trained: bool = False,
) -> None:
    """Build + persist a PQ index: codebooks (S·C rows of sub-centroid
    vectors) and the compressed corpus codes (8 bytes/vector at the
    defaults). The expensive parts — Lloyd training and the encode scan —
    happen HERE, once. ``trained=True`` uses the random-sample kmeans++
    build (``pq_codebooks_trained``) instead of the deterministic
    lowest-id build."""
    spark = corpus.sparkSession
    build = pq_codebooks_trained if trained else pq_codebooks
    books = build(corpus, n_subspaces, n_centroids, id_col, vec_col)
    _save_codebooks(spark, books, path + "/codebooks")
    pq_encode(corpus, books, id_col, vec_col).write.mode("overwrite").parquet(
        path + "/codes"
    )


def load_pq_index(spark, path: str) -> tuple[np.ndarray, DataFrame]:
    """→ (codebooks ndarray, codes DataFrame) for ``pq_ann_topk(index=…)``.
    The codebook table is S·C rows — a bounded driver fetch by design."""
    books = _load_codebooks(spark, path + "/codebooks")
    return books, spark.read.parquet(path + "/codes")


def save_ivf_index(
    corpus: DataFrame,
    path: str,
    n_cells: int | None = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    trained: bool = False,
) -> None:
    """Build + persist an IVF index: the coarse centroids and the corpus
    cell assignments (vector + cell, ready for the probe join). At 100 TB
    the assignments table is what you'd bucket by `cell`. ``trained=True``
    trains the centroids with MLlib KMeans on a bounded sample
    (``ivf_centroids_trained``) instead of the deterministic lowest-id
    pick. ``n_cells=None`` sizes the index from the corpus count
    (:func:`ivf_defaults`) — the build-time default a growing corpus
    needs; a static cell count under-serves recall as N scales."""
    if n_cells is None:
        n_cells, _ = ivf_defaults(corpus.count())
    build = ivf_centroids_trained if trained else ivf_centroids
    cent = build(corpus, n_cells, id_col, vec_col)
    cent.coalesce(1).write.mode("overwrite").parquet(path + "/centroids")
    c = _assign(corpus, cent, 1, id_col, vec_col)
    c.write.mode("overwrite").parquet(path + "/cells")


def load_ivf_index(spark, path: str) -> tuple[DataFrame, DataFrame]:
    """→ (centroids DataFrame, assignments DataFrame) for
    ``ivf_ann_topk(index=…)``."""
    return (
        spark.read.parquet(path + "/centroids"),
        spark.read.parquet(path + "/cells"),
    )


def _append_new(add: DataFrame, table: str) -> None:
    """Append the rows of ``add`` whose ``neighbor_id`` the index table at
    ``table`` does not hold yet: every upsert below derives its rows
    deterministically from the vector, so a replayed upsert (a retried
    step, a crashed stream batch) appends nothing instead of duplicating
    neighbours in every later probe."""
    held = add.sparkSession.read.parquet(table).select("neighbor_id")
    add.join(held, "neighbor_id", "left_anti").write.mode("append").parquet(table)


def upsert_ivf_index(
    spark,
    path: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental index maintenance — the daily-increment pattern for
    vector corpora: assign ONLY the new vectors to the EXISTING
    centroids and append their (vector, cell) rows to the assignments
    table. No rebuild: the full-corpus re-assignment scan (the expensive
    part at 100 TB) is skipped, and because cell assignment is pure
    deterministic arithmetic against fixed centroids, the upserted index
    is row-identical to a from-scratch build over the union corpus with
    the same centroids (asserted by the ann_ivf_upsert_topk oracle and
    tests). Centroid drift under sustained growth is the operational
    knob: retrain (save_ivf_index) when cell-size skew degrades probe
    recall — same contract as FAISS's add() vs retrain."""
    cent = spark.read.parquet(path + "/centroids")
    _append_new(_assign(new_vectors, cent, 1, id_col, vec_col), path + "/cells")


def save_ivfpq_index(
    corpus: DataFrame,
    path: str,
    n_cells: int | None = 16,
    n_subspaces: int = 8,
    n_centroids: int = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    residual: bool = False,
) -> None:
    """Build + persist the composed IVF-PQ index: coarse centroids, PQ
    codebooks, and the coded corpus as (neighbor_id, codes, cell) rows —
    at 100 TB bucket/partition the coded table by ``cell`` so every probe
    join is co-located and a query reads only its probed cells' files.
    The expensive parts (Lloyd training, the encode scan, the cell
    assignment) all happen HERE, once. ``n_cells=None`` auto-sizes via
    :func:`ivf_defaults`.

    The encoding convention (``residual=``) is PERSISTED in ``path/meta``
    and validated by ``ivfpq_ann_topk(index=…, residual=…)`` — probing
    raw codes with residual ADC tables (or vice versa) computes wrong
    approximate distances with no error, so the index carries its own
    convention rather than trusting the caller to remember it."""
    if n_cells is None:
        n_cells, _ = ivf_defaults(corpus.count())
    cent = ivf_centroids(corpus, n_cells, id_col, vec_col)
    cent.coalesce(1).write.mode("overwrite").parquet(path + "/centroids")
    if residual:
        books = pq_codebooks_residual(
            corpus, cent, n_subspaces, n_centroids, id_col, vec_col
        )
    else:
        books = pq_codebooks(corpus, n_subspaces, n_centroids, id_col, vec_col)
    spark = corpus.sparkSession
    _save_codebooks(spark, books, path + "/codebooks")
    cassign = _assign(corpus, cent, 1, id_col, vec_col).select("neighbor_id", "cell")
    coded = _ivfpq_encode(corpus, cent, cassign, books, id_col, vec_col, residual)
    coded.write.mode("overwrite").parquet(path + "/coded")
    local_rows_df(spark, [(bool(residual),)], "residual boolean").write.mode(
        "overwrite"
    ).parquet(path + "/meta")


def _ivfpq_encode(
    vectors: DataFrame,
    cent: DataFrame,
    cassign: DataFrame,
    books: np.ndarray,
    id_col: str,
    vec_col: str,
    residual: bool,
) -> DataFrame:
    """(neighbor_id, codes, cell) rows for ``vectors`` under either code
    convention — the shared encode step of save/upsert. ``cassign`` must
    be the 1-nearest assignment of exactly these vectors."""
    if residual:
        with_res = (
            vectors.select(
                F.col(id_col).alias("neighbor_id"),
                F.col(vec_col).cast("array<double>").alias("cv"),
            )
            .join(cassign, "neighbor_id")
            .join(F.broadcast(cent), "cell")
            .select(
                "neighbor_id",
                "cell",
                F.zip_with(
                    F.col("cv"), F.col("centroid"), lambda x, y: x - y
                ).alias("__resid"),
            )
        )
        return pq_encode(with_res, books, "neighbor_id", "__resid").join(
            with_res.select("neighbor_id", "cell"), "neighbor_id"
        )
    return pq_encode(vectors, books, id_col, vec_col).join(cassign, "neighbor_id")


def load_ivfpq_index(
    spark, path: str
) -> tuple[DataFrame, np.ndarray, DataFrame, dict]:
    """→ (centroids, codebooks ndarray, coded corpus, meta) for
    ``ivfpq_ann_topk(index=…)``. ``meta['residual']`` is the persisted
    encoding convention (False for indexes written before the meta file
    existed — those were always raw-coded). Any other failure to read the
    meta (a damaged ``meta/``) raises: guessing raw would run raw ADC
    tables against residual codes with no error."""
    books = _load_codebooks(spark, path + "/codebooks")
    try:
        meta_rows = spark.read.parquet(path + "/meta").collect()
        meta = {"residual": bool(meta_rows[0]["residual"])}
    except AnalysisException as exc:
        if exc.getCondition() != "PATH_NOT_FOUND":
            raise
        meta = {"residual": False}  # pre-meta index layout: raw by construction
    return (
        spark.read.parquet(path + "/centroids"),
        books,
        spark.read.parquet(path + "/coded"),
        meta,
    )


def upsert_ivfpq_index(
    spark,
    path: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental IVF-PQ maintenance: assign + encode ONLY the new
    vectors against the PERSISTED centroids/codebooks and append their
    (neighbor_id, codes, cell) rows, under the index's PERSISTED code
    convention. Raw codes make this a pure append trivially; residual
    codes are ALSO append-safe here because an upsert never re-assigns
    existing rows — each appended row's code is computed against its own
    (frozen) cell centroid. Row-identical to a from-scratch encode of
    the union corpus with the same centroids+codebooks; retrain
    (save_ivfpq_index) when cell skew or quantization drift degrades
    recall."""
    cent, books, _coded, meta = load_ivfpq_index(spark, path)
    cassign = _assign(new_vectors, cent, 1, id_col, vec_col).select("neighbor_id", "cell")
    add = _ivfpq_encode(
        new_vectors, cent, cassign, books, id_col, vec_col, meta["residual"]
    )
    _append_new(add, path + "/coded")


def save_lsh_index(
    corpus: DataFrame,
    path: str,
    dim: int = 64,
    n_planes: int = 6,
    n_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist the multi-table LSH index: one (neighbor_id, cv, table,
    bucket) row per vector per table. Hyperplanes are derived from the
    fixed seed, so only the signatures need storing; at 100 TB bucket
    the written table by (table, bucket) to make every probe join
    co-located."""
    c = _lsh_table(corpus, id_col, vec_col, dim, n_planes, n_tables)
    c.write.mode("overwrite").parquet(path)


def load_lsh_index(spark, path: str) -> DataFrame:
    """→ signatures DataFrame for ``lsh_ann_topk(index=…)``."""
    return spark.read.parquet(path)


def upsert_lsh_index(
    spark,
    path: str,
    new_vectors: DataFrame,
    dim: int = 64,
    n_planes: int = 6,
    n_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental LSH maintenance: signatures for the new vectors only
    (hyperplanes are seed-derived, identical to the original build) are
    appended — row-identical to a full rebuild over the union corpus.
    Same contract as ``upsert_ivf_index``; the ``dim/n_planes/n_tables``
    parameters must match the original build (they parameterize the
    seeded hyperplane draw)."""
    add = _lsh_table(new_vectors, id_col, vec_col, dim, n_planes, n_tables)
    _append_new(add, path)


def upsert_pq_index(
    spark,
    path: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental PQ maintenance: encode ONLY the new vectors with the
    PERSISTED codebooks and append their codes — the Lloyd training and
    the full-corpus encode scan are both skipped. Codes are
    deterministic per (codebooks, vector), so the upserted codes table
    is row-identical to re-encoding the union corpus with the same
    codebooks. Codebook drift under sustained growth is the retrain
    knob, as with IVF centroids."""
    books, _codes = load_pq_index(spark, path)
    _append_new(pq_encode(new_vectors, books, id_col, vec_col), path + "/codes")


def kcenter_sample(
    corpus: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Greedy k-center DIVERSITY sampling over an embedding column — the
    coreset-selection op a curated fine-tuning set needs after dedup
    (SemDeDup removes redundancy; this picks the k most mutually-distant
    representatives): start from the lowest id, then repeatedly take the
    point FARTHEST from every center chosen so far (the classic 2-approx
    of the k-center objective; Gonzalez 1985). → (sel_order, vec_id,
    d2_far) where d2_far is the squared L2 distance to the nearest prior
    center at selection time (d2_far = 0.0 for the seed), ROUNDed to 6dp
    — monotonically non-increasing by construction, and the coverage
    radius of the whole corpus is ≤ the last value.

    Plan shape: greedy k-center is inherently k-pass — each round is ONE
    narrow Arrow pass (centers ride in the closure like IVF centroids;
    distance to the nearest center, accumulated dimension-at-a-time in
    index order — the oracle's fold contract) plus a 1-row struct-max agg
    (ties → lowest id). Nothing shuffles, the corpus is scanned k times;
    bounded k (coresets are 10²-10⁴ rows) is the contract, exactly like
    FAISS's kmeans sampling. The selected matrix lives on the driver
    (k·dim doubles)."""
    rows = (
        corpus.orderBy(id_col)
        .limit(1)
        .select(F.col(id_col), F.col(vec_col).cast("array<double>"))
        .collect()
    )
    if not rows:
        return local_rows_df(
            corpus.sparkSession, [], "sel_order int, vec_id long, d2_far double"
        )
    sel_ids = [int(rows[0][0])]
    centers = [np.asarray(rows[0][1], dtype=np.float64)]
    out = [(0, sel_ids[0], 0.0)]
    c_sel = _vectors(corpus, id_col, vec_col, "vec_id", "cv")
    ensure_worker_imports(corpus.sparkSession)
    for order in range(1, k):
        cmat = np.stack(centers)

        @F.pandas_udf(DoubleType())
        def d2min(vecs: pd.Series) -> pd.Series:
            if vecs.empty:
                return pd.Series([], dtype=float)
            return pd.Series(_sq_l2(np.array(vecs.tolist(), dtype=np.float64), cmat).min(axis=1))

        far = c_sel.select("vec_id", "cv", d2min(F.col("cv")).alias("d2"))
        # struct max: farthest first, ties → lowest id (-id max = min id)
        pick = far.agg(
            F.max(F.struct(F.col("d2"), (-F.col("vec_id")).alias("nid"), F.col("cv")))
            .alias("s")
        ).collect()[0]["s"]
        sel_ids.append(int(-pick["nid"]))
        centers.append(np.asarray(pick["cv"], dtype=np.float64))
        out.append((order, int(-pick["nid"]), float(pick["d2"])))
    spark = corpus.sparkSession
    return local_rows_df(
        spark,
        [(o, i, float(np.round(d, 6))) for o, i, d in out],
        "sel_order int, vec_id long, d2_far double",
    )


def kcenter_sample_cells(
    corpus: DataFrame,
    k: int,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scale-safe two-stage Gonzalez k-center (the composable-coreset
    form of :func:`kcenter_sample`): stage 1 assigns every vector to its
    nearest deterministic coarse cell (one narrow Arrow pass, centroids
    in the closure — the ``ivf_assign`` machinery); stage 2 runs greedy
    k-center INSIDE each cell via one ``applyInPandas`` group (each cell
    nominates min(k, |cell|) representatives — per-cell Gonzalez is a
    composable coreset for the k-center objective, Indyk et al. 2014);
    stage 3 runs exact Gonzalez over the ≤ n_cells·k representatives on
    the driver (bounded: coreset rows, not corpus rows).

    vs the exact single-stage form: ``kcenter_sample`` scans the corpus
    k times (one pass per center — inherent to the 2-approx greedy);
    this form scans it ONCE for assignment plus one grouped shuffle, so
    at 100 TB the cost is O(corpus) instead of O(k·corpus), trading the
    2-approx for the composable-coreset constant-factor bound. Same
    deterministic tie-breaking as the exact form at every stage (seed =
    lowest id, farthest-first with lowest-id ties, distances accumulated
    dimension-at-a-time in index order), so outputs are layout-stable
    and golden-pinnable. → (sel_order, vec_id, d2_far) with d2_far the
    squared L2 distance to the nearest PRIOR selected center within
    stage 3's representative set (0.0 for the seed), rounded 6dp."""
    ensure_worker_imports(corpus.sparkSession)
    cents = ivf_centroids(corpus, n_cells, id_col, vec_col)
    assigned = _assign(corpus, cents, 1, id_col, vec_col, "vec_id")

    def _cell_greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        v = np.array(pdf["cv"].tolist(), dtype=np.float64)
        ids = pdf["vec_id"].to_numpy()
        n = len(ids)
        take = min(k, n)
        sel = [0]  # lowest id seeds, same rule as the exact form
        # distance-to-nearest-selected, dimension-at-a-time fold order
        d2 = _sq_l2(v, v[:1])[:, 0]
        for _ in range(1, take):
            # farthest first; ties -> lowest id (argmax returns first max
            # on the id-sorted frame)
            j = int(np.argmax(d2))
            sel.append(j)
            d2 = np.minimum(d2, _sq_l2(v, v[j : j + 1])[:, 0])
        out = pdf.iloc[sel]
        return out[["vec_id", "cv"]]

    reps = assigned.groupBy("cell").applyInPandas(
        _cell_greedy, "vec_id long, cv array<double>"
    )
    rows = reps.collect()  # bounded: <= n_cells * k coreset rows
    spark = corpus.sparkSession
    if not rows:
        return local_rows_df(
            spark, [], "sel_order int, vec_id long, d2_far double"
        )
    rows.sort(key=lambda r: r["vec_id"])
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    v = np.array([r["cv"] for r in rows], dtype=np.float64)
    take = min(k, len(ids))
    out = [(0, int(ids[0]), 0.0)]
    d2 = _sq_l2(v, v[:1])[:, 0]
    for order in range(1, take):
        j = int(np.argmax(d2))
        out.append((order, int(ids[j]), float(np.round(d2[j], 6))))
        d2 = np.minimum(d2, _sq_l2(v, v[j : j + 1])[:, 0])
    return local_rows_df(spark, out, "sel_order int, vec_id long, d2_far double")


def semantic_dedup(
    emb: DataFrame,
    n_cells: int | None = 16,
    threshold: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Semantic dedup (SemDeDup, Abbas et al. 2023): cluster the embedding
    space with the coarse quantizer, then WITHIN each cluster drop any
    vector that has an earlier (lower-id) neighbor at cosine ≥ threshold.
    The greedy keep-first-seen rule is made deterministic by the id order,
    so the whole operator — clustering included — has an exact SQL oracle.

    Returns (vec_id, cell, is_kept) for every input vector.

    ``n_cells=None`` auto-sizes from the corpus via :func:`ivf_defaults`
    (n_cells ≈ √N, one count job) — the same recall/cost argument as the
    ANN family: a static cell count degrades toward all-pairs-per-cell as
    the corpus grows (at 100M embeddings, 16 cells means ~6M-row cells
    and Σ|cell|² explodes), while √N keeps per-cell pair generation
    bounded. Explicit values stay exact for oracle parity.

    Scale shape: the cell assignment is the IVF narrow pass (zero
    shuffle); the near-dup check is a self-join CO-LOCATED on the cell
    key, so candidate pairs are Σ|cell|², never corpus² — the cluster
    count is the knob that bounds it (SemDeDup uses ~10⁵ clusters at
    billion-doc scale for exactly this reason). The drop rule needs only
    an EXISTS, so the join is left-semi: no pair materialization survives
    the stage."""
    if n_cells is None:
        n_cells, _ = ivf_defaults(emb.count())
    cent = ivf_centroids(emb, n_cells, id_col, vec_col)
    assigned = _assign(emb, cent, 1, id_col, vec_col, "vid", "v")
    a = assigned.select(
        F.col("vid"), F.col("cell"), F.col("v").cast("array<double>").alias("va")
    )
    b = assigned.select(
        F.col("vid").alias("b_vid"),
        F.col("cell"),
        F.col("v").cast("array<double>").alias("vb"),
    )
    dropped = a.join(
        b,
        on=[
            a.cell == b.cell,
            F.col("b_vid") < F.col("vid"),
            _cosine("va", "vb") >= threshold,
        ],
        how="left_semi",
    ).select(F.col("vid"))
    return (
        a.join(dropped.withColumnRenamed("vid", "d_vid"), a.vid == F.col("d_vid"), "left")
        .select(
            F.col("vid").alias(id_col),
            "cell",
            F.col("d_vid").isNull().alias("is_kept"),
        )
    )


def semantic_dedup_oracle_sql(n_cells: int = 16, threshold: float = 0.99) -> str:
    return f"""
    WITH aug AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings
      UNION ALL
      SELECT vec_id + {AUG_VEC_OFFSET},
             list_transform(CAST(embedding AS DOUBLE[]), x -> x * 1.01 + 0.001)
      FROM embeddings
    ),
    src AS (SELECT vec_id, embedding AS va FROM aug),
    cent AS (SELECT vec_id AS cell, embedding AS centroid
             FROM aug WHERE vec_id < {n_cells}),
    assigned AS (
      SELECT vec_id, va, cell FROM (
        SELECT vec_id, va, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY {_SQL_D2.format(a='va', b='centroid')}, cell) AS rn
        FROM src CROSS JOIN cent) WHERE rn = 1
    )
    SELECT a.vec_id, a.cell,
           NOT EXISTS (SELECT 1 FROM assigned b
                       WHERE b.cell = a.cell AND b.vec_id < a.vec_id
                         AND {_sql_cos('a.va', 'b.va')} >= {threshold}) AS is_kept
    FROM assigned a
    """


# ---------------------------------------------------------------------------
# Reciprocal-rank fusion (Cormack et al. 2009) — combine the candidate
# rankings of several ANN families into one list. Integer points
# (round(1e6/(k0+rank))) so the per-candidate sum is order-free and the
# fused ranking value-hashes identically at any parallelism / any engine.
# ---------------------------------------------------------------------------

RRF_K0 = 60
RRF_MICRO = 1_000_000


def rrf_fuse(
    rankings: list[DataFrame],
    k: int = 5,
    k0: int = RRF_K0,
) -> DataFrame:
    """Fuse (query_id, neighbor_id, rank) lists: each list contributes
    ``round(1e6 / (k0 + rank))`` integer points per candidate; candidates
    are summed across lists and the top-k per query returned by
    (points desc, list-coverage desc, neighbor_id). The standard
    zero-training way to combine retrieval strategies with incomparable
    scores (cosine vs hamming vs ADC) — only RANKS cross the boundary.
    One union + one aggregation + one window; at scale each input is
    already a per-query top-k, so the fused exchange is k·|lists| rows
    per query."""
    pts = F.round(F.lit(float(RRF_MICRO)) / (F.lit(k0) + F.col("rank")), 0).cast(
        "long"
    )
    parts = [
        r.select("query_id", "neighbor_id", pts.alias("pts")) for r in rankings
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    agg = u.groupBy("query_id", "neighbor_id").agg(
        F.sum("pts").cast("long").alias("rrf_micro"),
        F.count(F.lit(1)).cast("long").alias("n_lists"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_micro").desc(), F.col("n_lists").desc(), F.col("neighbor_id")
    )
    return (
        agg.withColumn("fused_rank", F.row_number().over(w))
        .filter(F.col("fused_rank") <= k)
        .select("query_id", "neighbor_id", "fused_rank", "rrf_micro", "n_lists")
    )


def rrf_fusion_oracle_sql(list_sqls: list[str], k: int = 5, k0: int = RRF_K0) -> str:
    """DuckDB mirror of :func:`rrf_fuse` over the given ranking SQLs
    (each must yield query_id, neighbor_id, rank)."""
    ctes = ",\n".join(
        f"l{i} AS ({sql})" for i, sql in enumerate(list_sqls)
    )
    unions = "\nUNION ALL\n".join(
        f"SELECT query_id, neighbor_id, CAST(ROUND({RRF_MICRO}.0 / ({k0} + rank), 0) AS BIGINT) AS pts FROM l{i}"
        for i in range(len(list_sqls))
    )
    return f"""
    WITH {ctes},
    pooled AS ({unions}),
    agg AS (
      SELECT query_id, neighbor_id,
             CAST(SUM(pts) AS BIGINT) AS rrf_micro,
             CAST(COUNT(*) AS BIGINT) AS n_lists
      FROM pooled GROUP BY query_id, neighbor_id
    )
    SELECT query_id, neighbor_id, fused_rank, rrf_micro, n_lists FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY query_id
        ORDER BY rrf_micro DESC, n_lists DESC, neighbor_id) AS INTEGER) AS fused_rank
      FROM agg
    ) WHERE fused_rank <= {k}
    """
