"""Ferret query pipeline, Spark-first (reference:
apps/ferret/src/benchmark/ferret-pthreads.c t_vec → t_rank → t_out,
lines 561-762).

Plan shape (== SURVEY §3.3's Spark lifecycle):

  queries → posexplode(regions) → per-region candidate probe
      (exhaustive squared-L2 top-2K, or E2LSH bucket join J5)
  → map region vec → parent image, merge + distinct (J6/E1/E2)
  → semi-join corpus on candidate image ids (J7)
  → applyInPandas exact-EMD rerank (K11)
  → top-K window, sorted (O2/O3) → name join (J8)

Scale: the probe is an equi-join on bucket keys (shuffle ∝ collisions);
candidates per query are bounded (2K per region, reference
ferret-pthreads.c:590); EMD touches only the candidate set — the same
cheap-filter / expensive-rerank split the reference hard-codes.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from ..session import ensure_worker_imports
from .emd import emd, pairwise_l2

# E2LSH defaults mirroring the reference index recipe
# (-L 12 -M 17 -w 4.0708 -H 19697, LSH.c:43-50 / mkdb:30; probe -L 8 -T 20,
# ferret-pthreads.c:261). The DEFAULT M here is lower than the reference's
# 17 because the synthetic fixture corpus is far smaller than corel —
# fewer concatenated projections keep bucket occupancy comparable. The
# full reference recipe (M=17, L=12, T=20) is validated at corel scale
# (10k images / 65k regions): recall@50 measured 1.00 vs the exhaustive
# path; tests/test_ferret.py::test_lsh_recall_at_reference_scale_m17
# enforces the >= 0.95 bound (above the reference's ~0.9 operating point).
LSH_M = 6
LSH_L = 8
LSH_W = 4.0708
LSH_H = 19697  # second-level hash-table size (mkdb:30 -H; LSH.c:129-141)
LSH_T = 20  # score-ordered probes per table (ferret-pthreads.c:261 -T)
LSH_SEED = 20240813


def explode_regions(vecsets: DataFrame, prefix: str) -> DataFrame:
    return vecsets.select(
        F.col("image_id").alias(f"{prefix}_image_id"),
        F.posexplode("regions").alias("region_idx", "region"),
    ).select(
        f"{prefix}_image_id",
        "region_idx",
        F.col("region.weight").alias("weight"),
        F.col("region.features").alias("features"),
    )


def _sql2(a, b):
    # squared L2 as a sequential JVM fold (dist_L2_float, cass_dist.c:45-58)
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)), F.lit(0.0), lambda acc, v: acc + v
    )


def candidates_exhaustive(
    query_regions: DataFrame, corpus_regions: DataFrame, per_region_k: int,
    sample_fraction: float = 1.0,
) -> DataFrame:
    """Per query region: exact squared-L2 top-(per_region_k) corpus regions
    (the raw-table full scan path, raw.c:195-204), then parent-image merge.

    ``sample_fraction`` < 1 is the reference's ``-R`` random-probe knob
    (raw.c:119,198: skip a corpus vector with probability 1 − R/MAX_PROB)
    — here a DETERMINISTIC hash sample of corpus regions (content-stable:
    the same regions are skipped on every run and every engine), trading
    recall for scan cost before the expensive rerank."""
    q = query_regions.select(
        F.col("q_image_id"), F.col("region_idx"), F.col("features").cast("array<double>").alias("qf")
    )
    if sample_fraction < 1.0:
        keep = F.pmod(
            F.xxhash64("c_image_id", "region_idx"), F.lit(1_000_000)
        ) < F.lit(int(sample_fraction * 1_000_000))
        corpus_regions = corpus_regions.filter(keep)
    c = corpus_regions.select(
        F.col("c_image_id"), F.col("features").cast("array<double>").alias("cf")
    )
    pairs = c.crossJoin(F.broadcast(q))
    d = _sql2(F.col("qf"), F.col("cf"))
    w = Window.partitionBy("q_image_id", "region_idx").orderBy(F.col("dist"), F.col("c_image_id"))
    ranked = pairs.select("q_image_id", "region_idx", "c_image_id", d.alias("dist")).withColumn(
        "rn", F.row_number().over(w)
    )
    return (
        ranked.filter(F.col("rn") <= per_region_k)
        .select("q_image_id", "c_image_id")
        .distinct()
    )


def _e2lsh_params(dim: int, m: int, tables: int, w: float):
    """Shared E2LSH parameter draw: projection matrix α, offsets β, and the
    per-table second-level mixing integers r_j (LSH.c:43-50 random init)."""
    rng = np.random.default_rng(LSH_SEED)
    alphas = rng.standard_normal((dim, m * tables))
    betas = rng.uniform(0, w, size=m * tables)
    rnd = rng.integers(1, 1 << 32, size=(tables, m), dtype=np.uint64).astype(np.uint32)
    return alphas, betas, rnd


def _second_level(Hu: np.ndarray, rnd: np.ndarray) -> np.ndarray:
    """Bucket id per (row, table): (Σ_j r_j·h_j) in wrapping uint32
    arithmetic, then mod H — the reference's ohash bucket address
    (LSH_hash2, LSH.c:129-141). Hu: (n, tables, m) uint32."""
    with np.errstate(over="ignore"):
        s = (Hu * rnd[None, :, :]).sum(axis=2, dtype=np.uint32)
    return (s % np.uint32(LSH_H)).astype(np.int64)


def _probe_atom_sets(scores: np.ndarray, t_probes: int) -> list[list[int]]:
    """Score-ordered perturbation sets (O4) — multi-probe LSH (Lv et al.,
    VLDB'07; reference perturb.c:52-122 heap enumeration). ``scores`` holds
    2M atom costs: atom 2j   = move h_j down (cost frac_j²),
                   atom 2j+1 = move h_j up   (cost (W−frac_j)²).
    Returns up to ``t_probes`` atom-index sets, ascending total cost,
    never perturbing the same hash function twice in one set."""
    import heapq

    order = np.argsort(scores, kind="stable")
    n = len(order)
    out: list[list[int]] = []
    # heap entries: (total cost, ranks tuple); ranks index into `order`
    heap: list[tuple[float, tuple[int, ...]]] = [(float(scores[order[0]]), (0,))]
    while heap and len(out) < t_probes:
        cost, ranks = heapq.heappop(heap)
        atoms = [int(order[r]) for r in ranks]
        if len({a >> 1 for a in atoms}) == len(atoms):  # one move per h_j
            out.append(atoms)
        mx = ranks[-1]
        if mx + 1 < n:
            nxt = float(scores[order[mx + 1]])
            heapq.heappush(heap, (cost + nxt, ranks + (mx + 1,)))  # expand
            heapq.heappush(
                heap, (cost - float(scores[order[mx]]) + nxt, ranks[:-1] + (mx + 1,))
            )  # shift
    return out


def _e2lsh_keys_udf(
    dim: int,
    m: int = LSH_M,
    tables: int = LSH_L,
    w: float = LSH_W,
    t_probes: int = 0,
):
    """Vectorized E2LSH bucket keys — the K12 kernel as a pandas UDF.

    h_j = floor((α_j·v + β_j)/W) per function (LSH_hash_score,
    LSH_query.c:109-145), then the second-level uint32 mix down to an
    H-sized bucket id (LSH.c:129-141); emitted key = table·H + bucket.
    One BLAS matmul per Arrow batch.

    t_probes=0 → index side (one key per table). t_probes>0 → query side:
    base key plus up to T score-ordered perturbation probes per table,
    each probe key derived incrementally as base ± r_j in wrapping uint32
    (LSH_hash2_perturb, LSH_query.c:158-180)."""
    alphas, betas, rnd = _e2lsh_params(dim, m, tables, w)

    @F.pandas_udf(ArrayType(LongType()))
    def keys(features: pd.Series) -> pd.Series:
        V = np.vstack([np.asarray(f, dtype=np.float64) for f in features])
        S = V @ alphas + betas
        Hf = np.floor(S / w)
        Hu = Hf.astype(np.int64).astype(np.uint32).reshape(len(V), tables, m)
        base = _second_level(Hu, rnd)  # (n, tables) int64 bucket ids
        with np.errstate(over="ignore"):
            base_sum = (Hu * rnd[None, :, :]).sum(axis=2, dtype=np.uint32)
        offs = (np.arange(tables, dtype=np.int64) * LSH_H)[None, :]
        if not t_probes:
            return pd.Series(list(base + offs))
        frac = (S - Hf * w).reshape(len(V), tables, m)
        down = frac**2  # cost of h_j − 1 (distance to lower boundary)
        up = (w - frac) ** 2  # cost of h_j + 1
        out = []
        for i in range(len(V)):
            row_keys = list(base[i] + offs[0])
            for t in range(tables):
                scores = np.empty(2 * m)
                scores[0::2] = down[i, t]
                scores[1::2] = up[i, t]
                for atoms in _probe_atom_sets(scores, t_probes):
                    adj = np.uint32(0)
                    with np.errstate(over="ignore"):
                        for a in atoms:
                            r = rnd[t, a >> 1]
                            adj = adj + r if a & 1 else adj - r
                        h = np.uint32(base_sum[i, t] + adj) % np.uint32(LSH_H)
                    row_keys.append(t * LSH_H + int(h))
            out.append(np.array(row_keys, dtype=np.int64))
        return pd.Series(out)

    return keys


def build_lsh_index(
    corpus_regions: DataFrame,
    dim: int,
    m: int = LSH_M,
    tables: int = LSH_L,
    w: float = LSH_W,
) -> DataFrame:
    """The ferret DB build (mkdb:20-31): one H-bucket key per LSH table per
    corpus region, as slim (c_image_id, c_region_idx, key) rows. Persist the
    result and pass it to ``candidates_lsh``/``ferret_topk`` so query
    batches pay probe cost only — at scale this is the parquet-backed index
    table you bucket by ``key``."""
    ensure_worker_imports(corpus_regions.sparkSession)
    return corpus_regions.select(
        "c_image_id",
        F.col("region_idx").alias("c_region_idx"),
        F.explode(_e2lsh_keys_udf(dim, m, tables, w)(F.col("features"))).alias("key"),
    )


def candidates_lsh(
    query_regions: DataFrame,
    corpus_regions: DataFrame,
    dim: int,
    m: int = LSH_M,
    tables: int = LSH_L,
    w: float = LSH_W,
    t_probes: int = LSH_T,
    per_region_k: int | None = None,
    corpus_index: DataFrame | None = None,
) -> DataFrame:
    """J5 — LSH bucket-probe join: corpus index rows (one H-bucket key per
    table) vs query probes (base bucket + T score-ordered perturbations per
    table, O4); equi-join on the key, distinct parent images.

    ``corpus_index`` takes a prebuilt (persisted) ``build_lsh_index`` result
    so repeated query batches skip re-keying the corpus — the reference
    separates index build (mkdb) from query time the same way.

    ``per_region_k`` adds the reference's rank stage between probe and EMD
    (LSH_query → cass_topk keeps query.topk=2·top_K nearest region vectors
    by raw feature distance before the expensive rerank, ferret-pthreads.c:
    580-612): colliding region pairs are deduped across tables/probes,
    ranked by exact squared L2 (JVM-side fold, no Python), and only the top
    ``per_region_k`` per query region survive. Without it every bucket
    collision reaches the O(r³) EMD — at bench scale that was 87% of the
    corpus per query."""
    ensure_worker_imports(query_regions.sparkSession)
    # key rows stay slim — (ids, key) only. Each region explodes to
    # tables×(1+T) keys; carrying the 14-double feature array through that
    # explode and the collision-dedup shuffle costs more than every EMD it
    # saves (measured 1.4× end-to-end slowdown). Features re-attach by id
    # after the dedup, when row count is at its minimum.
    c = (
        corpus_index
        if corpus_index is not None
        else build_lsh_index(corpus_regions, dim, m, tables, w)
    )
    q = query_regions.select(
        "q_image_id",
        "region_idx",
        F.explode(
            _e2lsh_keys_udf(dim, m, tables, w, t_probes=t_probes)(F.col("features"))
        ).alias("key"),
    ).dropDuplicates(["q_image_id", "region_idx", "key"])  # probes may collide
    pairs = q.join(c, on="key")
    if per_region_k is None:
        return pairs.select("q_image_id", "c_image_id").distinct()
    pair_ids = pairs.select(
        "q_image_id", "region_idx", "c_image_id", "c_region_idx"
    ).dropDuplicates()
    qf = query_regions.select(
        "q_image_id", "region_idx", F.col("features").cast("array<double>").alias("qf")
    )
    cf = corpus_regions.select(
        "c_image_id",
        F.col("region_idx").alias("c_region_idx"),
        F.col("features").cast("array<double>").alias("cf"),
    )
    # query regions are few → broadcast; corpus features join shuffles only
    # the deduped candidate set (at 100 TB this is the standard re-attach
    # join on the id keys, never a corpus-wide broadcast)
    scored = (
        pair_ids.join(cf, on=["c_image_id", "c_region_idx"])
        .join(F.broadcast(qf), on=["q_image_id", "region_idx"])
        .select(
            "q_image_id",
            "region_idx",
            "c_image_id",
            "c_region_idx",
            _sql2(F.col("qf"), F.col("cf")).alias("dist"),
        )
    )
    ranked = scored.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("q_image_id", "region_idx").orderBy(
                F.col("dist"), F.col("c_image_id"), F.col("c_region_idx")
            )
        ),
    )
    return (
        ranked.filter(F.col("rn") <= per_region_k)
        .select("q_image_id", "c_image_id")
        .distinct()
    )


RANK_SCHEMA = StructType(
    [
        StructField("q_image_id", LongType()),
        StructField("c_image_id", LongType()),
        StructField("emd", DoubleType()),
    ]
)


def _parse_regions(regions) -> tuple[np.ndarray, np.ndarray]:
    w = np.array([r["weight"] for r in regions], dtype=np.float64)
    f = np.vstack([np.asarray(r["features"], dtype=np.float64) for r in regions])
    return w, f


#: above this many queries per batch the driver-side collect of query
#: vecsets stops being "the small side" and emd_rerank falls back to the
#: broadcast-join formulation
BROADCAST_QUERY_LIMIT = 100_000


def emd_rerank(candidates: DataFrame, queries: DataFrame, corpus: DataFrame) -> DataFrame:
    """J7 + K11: candidate-restricted exact-EMD scoring. Query vecsets ride
    to workers pre-parsed in the UDF closure (a query batch is small by
    definition — the reference holds the query image in memory the same
    way, ferret-pthreads.c:580); corpus vecsets join to candidates so only
    candidate rows ever reach Python, with per-partition memoized struct→
    ndarray parsing (each corpus image scores against many queries — parsing
    its region structs per pair tripled EMD stage time)."""
    ensure_worker_imports(candidates.sparkSession)
    c = corpus.select(
        F.col("image_id").alias("c_image_id"), F.col("regions").alias("c_regions")
    )
    q_rows = (
        queries.select(F.col("image_id"), F.col("regions"))
        .limit(BROADCAST_QUERY_LIMIT + 1)
        .collect()
    )
    if len(q_rows) > BROADCAST_QUERY_LIMIT:
        return _emd_rerank_joined(candidates, queries, c)
    qmap = {row["image_id"]: _parse_regions(row["regions"]) for row in q_rows}

    joined = candidates.join(c, "c_image_id")
    # Pin rank-stage parallelism (the reference's RANK thread-pool
    # replication, T3). AQE sizes the upstream candidate exchange by BYTES,
    # and a candidate set is only a few MB — it happily coalesces to one
    # partition, serializing a stage whose real cost is per-row CPU (the
    # O(r^3) transportation simplex), a 10x+ slowdown at bench scale. An
    # explicit numPartitions is exempt from AQE coalescing.
    joined = joined.repartition(joined.sparkSession.sparkContext.defaultParallelism)

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cmemo: dict = {}
        for pdf in batches:
            dists = []
            for qid, cid, cr in zip(pdf["q_image_id"], pdf["c_image_id"], pdf["c_regions"]):
                w1, f1 = qmap[qid]
                hit = cmemo.get(cid)
                if hit is None:
                    hit = cmemo[cid] = _parse_regions(cr)
                w2, f2 = hit
                dists.append(emd(w1, w2, pairwise_l2(f1, f2)))
            yield pd.DataFrame(
                {
                    "q_image_id": pdf["q_image_id"],
                    "c_image_id": pdf["c_image_id"],
                    "emd": dists,
                }
            )

    return joined.mapInPandas(score, RANK_SCHEMA)


def emd_rerank_topk(
    candidates: DataFrame,
    queries: DataFrame,
    corpus: DataFrame,
    top_k: int,
) -> DataFrame:
    """Exact-EMD rerank with centroid lower-bound pruning (Rubner et al.'s
    LBₑₘ𝒹 filter, the original EMD paper's retrieval optimization — absent
    from the reference, which exact-scores every candidate).

    The ground distance is squared L2, so per-query EMD is the squared
    2-Wasserstein distance of the normalized signatures, and
    ``‖Σwᵢfᵢ − Σwⱼgⱼ‖² ≤ EMD`` (the mean-difference term of the W₂²
    decomposition). Per query: sort candidates by the cheap bound (one
    vectorized pass), evaluate exact EMD in bound order, and stop once the
    next bound exceeds the running k-th-best exact score by more than the
    final ranking's rounding quantum (1e-6) — every candidate that could
    appear in the rounded, id-tiebroken top-k is therefore exact-scored.
    Output is a SUPERSET of the final top-k rows with identical scores;
    the downstream rank window produces identical results
    (tests/test_ferret.py::test_pruned_rerank_matches_full).

    Scale shape: one shuffle of the candidate set on q_image_id (grouped
    applyInPandas); the corpus never re-shuffles.

    Measured honestly: on the bench workload (LSH candidates, top-50 of
    ~380) the mean-difference bound separates almost nothing — LSH already
    clusters candidates so tightly that nearly every bound sits below the
    k-th best score, and the default full rerank is faster. The filter
    pays off when candidates are NOT pre-filtered by similarity (e.g.
    exhaustive mode with a small top_k, or web-scale corpora where the
    candidate list has a long irrelevant tail)."""
    ensure_worker_imports(candidates.sparkSession)
    c = corpus.select(
        F.col("image_id").alias("c_image_id"), F.col("regions").alias("c_regions")
    )
    # Same driver-side-collect guard as emd_rerank: a query batch is small
    # by contract, but above BROADCAST_QUERY_LIMIT the vecsets stop fitting
    # on the driver — fall back to shipping each query's regions through
    # the q_image_id shuffle instead (the groupBy key IS the join key, so
    # the extra join reuses the exchange and pruning semantics are
    # unchanged; parity-tested in test_ferret.py).
    q_rows = (
        queries.select("image_id", "regions")
        .limit(BROADCAST_QUERY_LIMIT + 1)
        .collect()
    )
    if len(q_rows) > BROADCAST_QUERY_LIMIT:
        qmap = None
        q = queries.select(
            F.col("image_id").alias("q_image_id"),
            F.col("regions").alias("q_regions"),
        )
        joined = candidates.join(c, "c_image_id").join(q, "q_image_id")
    else:
        qmap = {row["image_id"]: _parse_regions(row["regions"]) for row in q_rows}
        joined = candidates.join(c, "c_image_id")

    def score_group(pdf: pd.DataFrame) -> pd.DataFrame:
        qid = int(pdf["q_image_id"].iloc[0])
        if qmap is not None:
            w1, f1 = qmap[qid]
        else:
            w1, f1 = _parse_regions(pdf["q_regions"].iloc[0])
        s1 = w1.sum()
        qcent = (w1 / s1) @ f1
        sigs, bounds = [], np.empty(len(pdf))
        for idx, cr in enumerate(pdf["c_regions"]):
            w2, f2 = _parse_regions(cr)
            sigs.append((w2, f2))
            s2 = w2.sum()
            if abs(s1 - s2) <= 1e-9 * max(s1, s2):
                d = qcent - (w2 / s2) @ f2
                bounds[idx] = d @ d
            else:
                # unequal masses: the W2 decomposition doesn't apply —
                # never prune this pair
                bounds[idx] = -np.inf
        order = np.argsort(bounds, kind="stable")
        out_idx, out_emd, best = [], [], []
        for pos, idx in enumerate(order):
            if len(best) >= top_k:
                kth = sorted(best)[top_k - 1]
                if bounds[idx] > kth + 1e-6:
                    break  # bound sorted ascending: nothing later can rank
            w2, f2 = sigs[idx]
            e = emd(w1, w2, pairwise_l2(f1, f2))
            out_idx.append(idx)
            out_emd.append(e)
            best.append(e)
        return pd.DataFrame(
            {
                "q_image_id": pdf["q_image_id"].iloc[out_idx].values,
                "c_image_id": pdf["c_image_id"].iloc[out_idx].values,
                "emd": out_emd,
            }
        )

    return joined.groupBy("q_image_id").applyInPandas(score_group, RANK_SCHEMA)


def _emd_rerank_joined(candidates: DataFrame, queries: DataFrame, c: DataFrame) -> DataFrame:
    """Fallback for huge query batches: both vecsets join in (query side
    broadcast), parsing memoized per partition on both keys."""
    q = queries.select(
        F.col("image_id").alias("q_image_id"), F.col("regions").alias("q_regions")
    )
    joined = candidates.join(F.broadcast(q), "q_image_id").join(c, "c_image_id")
    joined = joined.repartition(joined.sparkSession.sparkContext.defaultParallelism)

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qmemo: dict = {}
        cmemo: dict = {}
        for pdf in batches:
            dists = []
            for qid, qr, cid, cr in zip(
                pdf["q_image_id"], pdf["q_regions"], pdf["c_image_id"], pdf["c_regions"]
            ):
                qhit = qmemo.get(qid)
                if qhit is None:
                    qhit = qmemo[qid] = _parse_regions(qr)
                chit = cmemo.get(cid)
                if chit is None:
                    chit = cmemo[cid] = _parse_regions(cr)
                dists.append(emd(qhit[0], chit[0], pairwise_l2(qhit[1], chit[1])))
            yield pd.DataFrame(
                {
                    "q_image_id": pdf["q_image_id"],
                    "c_image_id": pdf["c_image_id"],
                    "emd": dists,
                }
            )

    return joined.mapInPandas(score, RANK_SCHEMA)


def ferret_topk(
    queries: DataFrame,
    corpus: DataFrame,
    top_k: int = 10,
    dim: int = 14,
    mode: str = "exhaustive",
    per_region_k: int | None = None,
    lsh_m: int = LSH_M,
    lsh_tables: int = LSH_L,
    lsh_w: float = LSH_W,
    corpus_index: DataFrame | None = None,
    prune: bool = False,
    sample_fraction: float = 1.0,
) -> DataFrame:
    """End-to-end ferret query: returns (q_image_id, rank, name, emd) —
    the obj:dist output lines of t_out (S7, ferret-pthreads.c:752-762).

    mode="exhaustive" → exact (golden-test config); mode="lsh" → E2LSH
    probe (recall checked statistically, FIXTURES.md §3). per_region_k
    defaults to 2*top_k, the reference's query.topk = 2*top_K
    (ferret-pthreads.c:590). prune=True switches the rerank to the
    centroid-lower-bound-filtered exact EMD (emd_rerank_topk) —
    result-identical, ~top_k simplex solves per query instead of
    |candidates|."""
    per_region_k = per_region_k or 2 * top_k
    qr = explode_regions(queries, "q")
    cr = explode_regions(corpus, "c")
    if mode == "exhaustive":
        cand = candidates_exhaustive(qr, cr, per_region_k, sample_fraction=sample_fraction)
    elif mode == "lsh":
        cand = candidates_lsh(
            qr, cr, dim, lsh_m, lsh_tables, lsh_w,
            per_region_k=per_region_k, corpus_index=corpus_index,
        )
    else:
        raise ValueError(f"unknown mode {mode!r}")
    scored = (
        emd_rerank_topk(cand, queries, corpus, top_k)
        if prune
        else emd_rerank(cand, queries, corpus)
    )
    w = Window.partitionBy("q_image_id").orderBy(
        F.round(F.col("emd"), 6), F.col("c_image_id")
    )
    names = corpus.select(F.col("image_id").alias("c_image_id"), "name")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .join(F.broadcast(names), "c_image_id")  # J8 id→name map join
        .select(
            "q_image_id", "rank", "name", F.round(F.col("emd"), 6).alias("emd")
        )
    )


def write_results(topk: DataFrame, out_path: str) -> None:
    """S7 — similarity-result sink: one ``name:dist\\t...`` line per query
    image, the t_out output format (ferret-pthreads.c:752-762). Text-file
    golden-output surface; the DataFrame itself stays the canonical result."""
    lines = (
        topk.groupBy("q_image_id")
        .agg(F.sort_array(F.collect_list(F.struct("rank", "name", "emd"))).alias("rs"))
        .select(
            F.concat_ws(
                "\t",
                F.col("q_image_id").cast("string"),
                F.array_join(
                    F.transform(F.col("rs"), lambda r: F.concat_ws(":", r["name"], r["emd"])),
                    "\t",
                ),
            ).alias("value")
        )
        .orderBy("value")
    )
    lines.coalesce(1).write.mode("overwrite").text(out_path)
