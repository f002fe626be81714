#!/usr/bin/env python
"""Benchmark harness: run the headline declared queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}.

Each query is forced end-to-end with a noop write (full plan execution, no
driver collect bottleneck) — the analog of the reference's throughput.dat
runs (testbed/t1/throughput.sh).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

#: drift-guard thresholds: flag a query only when it is BOTH 1.5× over its
#: recorded best AND at least 0.5 s over it (sub-second queries jitter past
#: pure ratios on a shared machine)
GUARD_RATIO = 1.5
GUARD_ABS_SEC = 0.5
#: host-speed normalization for the guard (r11 lesson): bench_best minima
#: accumulate from the fastest host/round ever seen. Measured r11: a host
#: ~1.4× slower than the r10 builder's put the MEDIAN query at 1.43× its
#: best uniformly across every query class, and same-host A/B of HEAD vs
#: the r10 close reproduced zero of the 18 flags — they measured the host,
#: not the code. The guard therefore compares each query against
#: host_factor × best, where host_factor is the run's own suite-wide
#: median ratio: a regression is a query slow RELATIVE TO THE REST OF THE
#: SAME RUN. Bounds keep it honest — needs ≥ HOST_NORM_MIN_N samples with
#: a ≥0.2 s best (jitter-dominated sub-0.2 s queries excluded from the
#: estimate), never < 1.0 (a faster host must not hide absolute drift),
#: and capped at HOST_NORM_CAP (a >2× suite-wide slowdown is a real
#: problem to surface, not a host trait to absorb).
HOST_NORM_MIN_N = 20
HOST_NORM_CAP = 2.0

#: Per-phase wall clocks (r11 lesson: the driver's 32-core run timed out,
#: rc=124, and nothing in the payload said WHERE the time went — the next
#: timeout must be attributable). Every phase boundary prints elapsed /
#: cumulative seconds plus free disk on the Spark scratch volume to stderr
#: and records the figure for ``extras.phase_secs``.
_PHASE_SECS: dict[str, float] = {}
_PHASE_STATE = {"t0": None, "last": None, "scratch": "/tmp"}


def _phase(name: str) -> None:
    now = time.perf_counter()
    if _PHASE_STATE["t0"] is None:
        _PHASE_STATE["t0"] = _PHASE_STATE["last"] = now
    prev = _PHASE_STATE["prev"] if "prev" in _PHASE_STATE else None
    if prev is not None:
        _PHASE_SECS[prev] = round(now - _PHASE_STATE["last"], 1)
    _PHASE_STATE["prev"] = name
    _PHASE_STATE["last"] = now
    try:
        import shutil as _shu

        free_gb = round(_shu.disk_usage(_PHASE_STATE["scratch"]).free / 1e9, 1)
    except Exception:
        free_gb = None
    print(
        f"BENCH PHASE [{round(now - _PHASE_STATE['t0'], 1):>7}s cum] "
        f"start {name} (scratch free {free_gb} GB)",
        file=sys.stderr,
        flush=True,
    )


def _phase_end() -> None:
    now = time.perf_counter()
    prev = _PHASE_STATE.pop("prev", None)
    if prev is not None:
        _PHASE_SECS[prev] = round(now - _PHASE_STATE["last"], 1)


def host_speed_factor(
    times: dict[str, float], best: dict[str, float]
) -> float:
    """Run-wide host-speed estimate: median sec/best over queries with a
    meaningful (≥0.2 s) recorded best, clamped to [1.0, HOST_NORM_CAP];
    1.0 when fewer than HOST_NORM_MIN_N samples exist."""
    rs = sorted(
        times[n] / best[n]
        for n in times
        if n in best and best[n] >= 0.2
    )
    if len(rs) < HOST_NORM_MIN_N:
        return 1.0
    mid = len(rs) // 2
    med = rs[mid] if len(rs) % 2 else (rs[mid - 1] + rs[mid]) / 2
    return round(min(HOST_NORM_CAP, max(1.0, med)), 3)


def detect_regressions(
    times: dict[str, float], best: dict[str, float], host: float = 1.0
) -> dict[str, dict]:
    """→ {query: {sec, best, ratio, ...}} for every query exceeding both
    guard thresholds vs ``host × best``. Queries absent from ``best`` (new
    this round) are never flagged. ``ratio`` stays the raw sec/best for
    auditability; ``host_norm_ratio`` is the one the guard fired on."""
    out: dict[str, dict] = {}
    for name, sec in times.items():
        b = best.get(name)
        if b is None:
            continue
        hb = host * b
        if sec > GUARD_RATIO * hb and sec - hb > GUARD_ABS_SEC:
            out[name] = {"sec": sec, "best": b, "ratio": round(sec / b, 2)}
            if host != 1.0:
                out[name]["host_norm_ratio"] = round(sec / hb, 2)
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    from bensp_suite_spark import queries as Q
    from bensp_suite_spark.session import default_parallelism, get_spark

    # Scale-aware shuffle sizing: ~1 partition per 32 MB of input, clamped
    # to [8, 4×cpus]. At sf0.1 (tens of MB) 32 partitions is pure task-
    # scheduling overhead (1.6× slower than 8); at 100 TB the same rule
    # gives thousands of partitions and AQE re-coalesces per stage.
    total_bytes = sum(
        os.path.getsize(os.path.join(sf_dir, f)) for f in os.listdir(sf_dir)
    )
    cpus = default_parallelism()
    shuffle = max(8, min(4 * cpus, total_bytes // (32 << 20) or 8))

    # Spark scratch (shuffle files, blockmgr dirs) goes to repo-local
    # storage instead of /tmp (r11: the driver's 32-core run died inside a
    # shuffle fetch with a missing /tmp blockmgr file — whether /tmp
    # pressure or shutdown racing, a scratch dir we own is attributable
    # and cleanable). Stale leftovers from killed runs are removed first.
    scratch = os.path.join(REPO, ".spark-scratch")
    try:
        import shutil as _shu0

        _shu0.rmtree(scratch, ignore_errors=True)
        os.makedirs(scratch, exist_ok=True)
        _PHASE_STATE["scratch"] = scratch
        local_dir_conf = {"spark.local.dir": scratch}
    except Exception:
        local_dir_conf = {}
    _phase("suite_loop")

    spark = get_spark(
        "bensp-bench", shuffle_partitions=int(shuffle), extra_conf=local_dir_conf
    )
    spark.sparkContext.setLogLevel("ERROR")

    # AQE stays ON for the whole suite (the scale-honest setting — at
    # 100 TB its broadcast conversion / skew splitting / coalescing are
    # load-bearing, and the streaming machinery queries' winners joins
    # RELY on broadcast conversion). An earlier r11 change disabled it
    # for the small-SF loop based on a measurement over the 155 oracle
    # queries only; a full-suite A/B on the shipping tree reversed that:
    # AQE-on 324.8 s vs AQE-off 383.8 s over all 220 queries (2-rep min,
    # same host), with AQE-off catastrophically high-variance on the
    # join-heavy machinery queries (pipeline_warc_daily 60 s off vs
    # 17 s on; ann_ivfpq_auto 14.6 vs 6.6) and not even winning the
    # relational classes. Details in OPTIMIZATION_r11.md.

    # Warm the JVM (codegen, Arrow workers) with one throwaway query. The
    # input tables are NOT persisted: every timed rep scans + decodes the
    # parquet inputs (earlier rounds pre-persisted them via
    # tables.cache_tables; that puts the base-table scan outside the timed
    # region, so it was removed this round — see OPTIMIZATION_r11.md
    # methodology item 5). Steady state comes from the min-of-3 rep
    # protocol alone: rep 0 warms the OS page cache, which is exactly the
    # footing the DuckDB comparison point has (views over the same files).
    Q.QUERIES["p7_range_filter"](spark, sf_dir).write.format("noop").mode("overwrite").save()

    # Steady-state protocol (the reference's testbed runs every config 10×
    # and reports the settled value, testbed/t1/time.sh): three reps,
    # per-query min. Rep 0 absorbs one-time costs that are not query work —
    # Python UDF worker spin-up, JIT/codegen compilation, shared-fixture
    # materialization — and a third rep rides out the multi-second
    # machine-level noise bursts (kernel page reclaim after earlier JVMs)
    # that a single warm rep gets caught in.
    # Per-query time splits fixture-build from operator run: queries that
    # construct hermetic tempdir inputs in-body (TAR/ORC/ddp archives,
    # stream source dirs) report the construction seconds through
    # Q.FIXTURE_BUILD_SECONDS, and the recorded per-query number — the one
    # the drift guard watches — is run_sec = total - build_sec, so the
    # guard flags the OPERATOR drifting, not the scaffolding. build_sec is
    # recorded alongside (extras.fixture_build_sec) from the same rep that
    # produced the minimum run_sec.
    times: dict[str, float] = {}
    build_secs: dict[str, float] = {}
    for _rep in range(3):
        for name in sorted(Q.QUERIES):
            Q.FIXTURE_BUILD_SECONDS.pop(name, None)
            t0 = time.perf_counter()
            # construction included: some queries (streaming) execute eagerly
            df = Q.QUERIES[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            total_sec = time.perf_counter() - t0
            build = Q.FIXTURE_BUILD_SECONDS.pop(name, 0.0)
            sec = round(total_sec - build, 4)
            if sec < times.get(name, float("inf")):
                times[name] = sec
                if build:
                    build_secs[name] = round(build, 4)

    # --- DuckDB-proportional evidence (BASELINE.md's relational bar:
    # "within 2× of duckdb-proportional runtime at sf0.1") -------------
    # Time the SAME oracle SQL every relational declared query is
    # verified against, in DuckDB, over the same parquet files. Eligible
    # = SQL oracles that do real work (golden VALUES pins are constant
    # literals; stream_/pipeline_ queries time micro-batch machinery the
    # oracle recompute doesn't — both excluded). Two views are recorded:
    # - RAW suite ratio Σ spark_sec / Σ duckdb_sec over everything —
    #   honest but dominated by Spark's per-query fixed cost (plan
    #   compile, task scheduling) on the many sub-100 ms queries, where
    #   BOTH engines measure constants, not data processing; it also
    #   swings with the DuckDB side's page-cache state (r10: 2.4-3.3).
    # - the WORK-BOUND ratio over queries where DuckDB itself spends
    #   ≥ 0.1 s — the ones actually measuring data processing in both
    #   engines. This is the bar that means something at scale (fixed
    #   costs amortize; marginal cost doesn't) and it is GATED at the
    #   BASELINE 2× class. r10 idle-machine measurement (min-of-2 duck
    #   reps): all-142 raw 2.75; ≥0.1 s subset (53 queries, 49.4 s vs
    #   25.5 s) → 1.93; ≥0.2 s subset → 1.69.
    _phase("duckdb_proportional")
    duckdb_prop: dict = {}
    try:
        sys.path.insert(0, os.path.join(REPO, "tests"))
        from oracle import duckdb_con

        from bensp_suite_spark.golden_oracles import GOLDEN_ORACLES

        _con = duckdb_con(sf_dir)
        _duck: dict[str, float] = {}
        _oracle_errs: dict[str, str] = {}
        _n_golden_excluded = 0
        try:
            for name, sql in Q.ORACLES.items():
                if sql is None or name not in times or name.startswith(
                    ("stream_", "pipeline_")
                ):
                    continue
                # golden VALUES pins are constant literals — timing them
                # measures nothing; exclusion is by REGISTRY membership,
                # not a "VALUES" substring (a relational oracle that merely
                # mentions VALUES must stay in), and the count is recorded
                # so the eligible set can't silently shrink
                if name in GOLDEN_ORACLES:
                    _n_golden_excluded += 1
                    continue
                _best = None
                try:
                    for _ in range(2):  # min-of-2: match the Spark side's
                        t0 = time.perf_counter()  # steady-state min protocol
                        _con.execute(sql).df()
                        _s = time.perf_counter() - t0
                        _best = _s if _best is None else min(_best, _s)
                except Exception as exc:  # one broken oracle must not
                    _oracle_errs[name] = str(exc)[:200]  # abort the suite
                    continue
                _duck[name] = round(_best, 4)
        finally:
            _con.close()
        _tot_s = sum(times[n] for n in _duck)
        _tot_d = sum(_duck.values())
        _big = [n for n in _duck if _duck[n] >= 0.1]
        _big_s = sum(times[n] for n in _big)
        _big_d = sum(_duck[n] for n in _big)
        duckdb_prop = {
            "n_queries": len(_duck),
            "n_golden_excluded": _n_golden_excluded,
            "oracle_errors": _oracle_errs,
            "spark_sec": round(_tot_s, 2),
            "duckdb_sec": round(_tot_d, 2),
            "ratio": round(_tot_s / _tot_d, 3) if _tot_d else None,
            "workbound_n": len(_big),
            "workbound_spark_sec": round(_big_s, 2),
            "workbound_duckdb_sec": round(_big_d, 2),
            "workbound_ratio": (
                round(_big_s / _big_d, 3) if _big_d else None
            ),
        }
        if (
            os.environ.get("SPARK_GRAFT_BENCH_GUARD") == "1"
            and duckdb_prop["workbound_ratio"] is not None
        ):
            assert duckdb_prop["workbound_ratio"] <= 2.25, (
                f"work-bound DuckDB-proportional ratio "
                f"{duckdb_prop['workbound_ratio']} exceeds the 2× BASELINE "
                "class (r10 measured 1.93 on the ≥0.1 s subset)"
            )
            assert duckdb_prop["ratio"] <= 4.0, (
                f"raw suite DuckDB ratio {duckdb_prop['ratio']} blew past "
                "the structural backstop (r10 envelope 2.4-3.3)"
            )
    except ImportError:
        duckdb_prop = {"error": "duckdb oracle runner unavailable"}

    # ferret-pipeline throughput (BASELINE.md: reference query time 2.409 s
    # for its test batch, corel-class corpus, LSH probe + EMD rerank,
    # top-50). Warm reps then best-of-2 on a fixed synthetic workload
    # (1000-image corpus, 50 queries, 14-dim regions, E2LSH probe, exact-EMD
    # rerank, top-50). Measured BEFORE the 1 GB dedup phase: that phase's
    # cache churn leaves the kernel reclaiming for tens of seconds, which
    # doubled ferret batch times when ferret ran second (6.8 s tail vs
    # 3.3 s isolated).
    _phase("ferret_batch")
    from pyspark import StorageLevel

    from bensp_suite_spark.ferret import fixtures as FER_F
    from bensp_suite_spark.ferret import pipeline as FER_P

    # the compute-heavy phases below want full parallelism, not the
    # input-byte-sized suite shuffle setting (AQE is already on)
    spark.conf.set("spark.sql.shuffle.partitions", str(cpus))

    fer_corpus = FER_F.synthetic_corpus(spark, m=1000).persist(StorageLevel.MEMORY_ONLY)
    fer_corpus.count()
    fer_queries = FER_F.synthetic_queries(spark, fer_corpus, q=50).persist(
        StorageLevel.MEMORY_ONLY
    )
    fer_queries.count()
    # index build is NOT in the timed loop — the reference builds its LSH DB
    # with mkdb offline and reports query time against it (BASELINE.md)
    fer_index = FER_P.build_lsh_index(
        FER_P.explode_regions(fer_corpus, "c"), dim=14
    ).persist(StorageLevel.MEMORY_ONLY)
    fer_index.count()
    ferret_sec = None
    # two warm reps for the same C2-settling reason as the dedup phase
    # (isolated profile: 13.4 s → 7.5 s → steady ~5.4 s)
    for _rep in range(4):
        t0 = time.perf_counter()
        FER_P.ferret_topk(
            fer_queries,
            fer_corpus,
            top_k=50,
            dim=14,
            mode="lsh",
            corpus_index=fer_index,
            # the reference's rank stage: keep the 2·topK nearest region
            # vectors by raw distance before the exact-EMD rerank
            # (ferret-pthreads.c:580-612, query.topk = 2*top_K). Verified
            # output-identical to the uncapped path on this workload.
            per_region_k=100,
        ).write.format("noop").mode("overwrite").save()
        rep_sec = round(time.perf_counter() - t0, 4)
        if _rep > 1:
            ferret_sec = rep_sec if ferret_sec is None else min(ferret_sec, rep_sec)
    fer_corpus.unpersist()
    fer_queries.unpersist()
    fer_index.unpersist()

    # dedup-pipeline throughput at a fixed size (BASELINE.md: reference
    # h1 run ≈ 41 MB/s single-thread; target ≥ ~20 MB/s/core sustained).
    # JVM fused kernel when the jar is present (no Python stage in the
    # plan), Python-kernel fallback otherwise — bit-identical outputs
    # (tests/test_dedup_jvm_kernel.py). One warm run then best-of-2, the
    # same steady-state protocol as the reference's 10-rep testbed sweeps
    # (testbed/t1/time.sh).
    _phase("dedup_1g")
    from bensp_suite_spark.dedup import fixtures as DF
    from bensp_suite_spark.dedup import pipeline as DP
    from bensp_suite_spark.session import has_jvm_kernel

    dedup_mb = 1024
    files = DF.synthetic_docs(spark, n_files=dedup_mb, file_bytes=1 << 20, pool_size=64, seed=11)
    # deserialized in-memory rows: the fused scan re-reads raw bytes, for
    # which the columnar-compressed cache format is pure decode overhead
    files = files.persist(StorageLevel.MEMORY_ONLY)
    files.count()
    jvm_kernel = has_jvm_kernel(spark)
    stats_fn = DP.dedup_stats_jvm if jvm_kernel else DP.dedup_stats
    dedup_sec = None
    # Two warm reps: C2 compilation of the fused kernel settles on the
    # second pass (isolated profile: 43 s → 6.5 s → 1.9 s → steady ~1.5 s),
    # so a single warm rep reports a half-JITed time. Then best-of-5: the
    # kernel-reclaim bursts that follow earlier phases inflate individual
    # reps by 2-3×, and a wider min rides them out (measured 553 vs
    # 965 MB/s run-to-run swing with only best-of-3).
    for _rep in range(7):
        t0 = time.perf_counter()
        stats_fn(files, compress_type="gzip").collect()
        rep_sec = round(time.perf_counter() - t0, 4)
        if _rep > 1:
            dedup_sec = rep_sec if dedup_sec is None else min(dedup_sec, rep_sec)
    # zstd variant (JVM-kernel-only codec via Spark's bundled zstd-jni —
    # the codec a 100 TB deployment actually picks); same input, same
    # steady-state protocol, fewer reps (the JIT is already warm)
    dedup_zstd_sec = None
    if jvm_kernel:
        for _rep in range(3):
            t0 = time.perf_counter()
            DP.dedup_stats_jvm(files, compress_type="zstd").collect()
            rep_sec = round(time.perf_counter() - t0, 4)
            if _rep > 0:
                dedup_zstd_sec = (
                    rep_sec if dedup_zstd_sec is None else min(dedup_zstd_sec, rep_sec)
                )
    files.unpersist()

    # duplicate-saturated encode: every file identical, so ONE digest owns
    # the whole corpus — the first-wins window's worst case. Times the
    # skew-safe (min-reduce + join) encode path against it; the window
    # path on the same input is the anti-benchmark this entry guards.
    _phase("saturated_encode")
    sat_mb = 128
    sat = DF.synthetic_docs(spark, n_files=1, file_bytes=1 << 20, pool_size=1, seed=7)
    one = sat.limit(1).collect()[0]["content"]
    sat_files = spark.createDataFrame(
        [(i, bytes(one)) for i in range(sat_mb)], "file_id long, content binary"
    ).persist(StorageLevel.MEMORY_ONLY)
    sat_files.count()
    sat_sec = None
    for _rep in range(3):
        t0 = time.perf_counter()
        DP.encode(sat_files, compress_type="gzip", skew_safe=True).write.format(
            "noop"
        ).mode("overwrite").save()
        rep_sec = round(time.perf_counter() - t0, 4)
        if _rep > 0:
            sat_sec = rep_sec if sat_sec is None else min(sat_sec, rep_sec)
    # anti-baseline on the SAME input: the row_number window ships every
    # occurrence of a digest to one reducer — the regime the skew-safe
    # min-reduce + join exists for. One warm + one timed rep (worst case
    # by construction; the comparison is the point, not the steady state).
    sat_window_sec = None
    for _rep in range(2):
        t0 = time.perf_counter()
        DP.encode(sat_files, compress_type="gzip", skew_safe=False).write.format(
            "noop"
        ).mode("overwrite").save()
        rep_sec = round(time.perf_counter() - t0, 4)
        if _rep > 0:
            sat_window_sec = rep_sec
    sat_files.unpersist()

    # The window-vs-safe crossover is ROW-COUNT-dependent: at 128 MB the
    # digest groups are metadata-sized and the window's single reducer is
    # fine (the entry above records that honestly). The wall appears at
    # the row counts a 100 TB corpus produces, so this entry isolates the
    # first-wins FLAG stage on a synthetic fused stream — 16M rows, one
    # digest owning 95% — where the row_number window ships the hot group
    # to one task and the min-reduce + join spreads it (measured ~2.3×).
    _phase("skew_flags")
    from pyspark.sql import Window as _W
    from pyspark.sql import functions as _F

    skew_rows = 16_000_000
    skew_fused = (
        spark.range(skew_rows)
        .select(
            (_F.col("id") % 1024).alias("file_id"),
            (_F.col("id") / 1024).cast("long").alias("l1"),
            _F.col("id").alias("l2"),
            _F.lit(False).alias("is_last_l2"),
            _F.lit(4096).alias("size"),
            _F.when(_F.col("id") % 20 < 19, _F.lit("deadbeef" * 5))
            .otherwise(_F.sha1(_F.col("id").cast("string")))
            .alias("sha1"),
            _F.lit(None).cast("binary").alias("payload"),
            _F.lit(64).alias("c_len"),
        )
        .persist(StorageLevel.MEMORY_ONLY)
    )
    skew_fused.count()
    skew_window_sec = skew_safe_sec = None
    for _rep in range(2):
        t0 = time.perf_counter()
        w = _W.partitionBy("sha1").orderBy("file_id", "l1", "l2")
        (
            skew_fused.withColumn("is_dup", _F.row_number().over(w) > 1)
            .write.format("noop").mode("overwrite").save()
        )
        rep = round(time.perf_counter() - t0, 4)
        if _rep:
            skew_window_sec = rep if skew_window_sec is None else min(skew_window_sec, rep)
    for _rep in range(2):
        t0 = time.perf_counter()
        DP._first_wins_flags_skew_safe(skew_fused, ["sha1"]).write.format(
            "noop"
        ).mode("overwrite").save()
        rep = round(time.perf_counter() - t0, 4)
        if _rep:
            skew_safe_sec = rep if skew_safe_sec is None else min(skew_safe_sec, rep)
    skew_fused.unpersist()

    # hot-shingle Jaccard: every doc shares one boilerplate sentence, so
    # its shingles appear in ALL docs — the naive inverted-index join
    # explodes into ~n²/2 candidate pairs, while the PPJoin prefix pushes
    # exactly those shingles out of the indexed prefix. Same exact result
    # (parity-tested); this entry records what the prefix buys.
    _phase("jaccard_hot")
    from bensp_suite_spark.operators import dedup_text as DT

    hot = "the quick brown fox jumps over the lazy dog again and again today "
    jac_docs = spark.createDataFrame(
        [(i, hot + f"unique tail {i} alpha{i} beta{i} gamma{i} delta{i} "
          f"epsilon{i} zeta{i} eta{i} theta{i}") for i in range(3000)],
        "doc_id long, text string",
    ).persist(StorageLevel.MEMORY_ONLY)
    jac_docs.count()
    jac_prefix_sec = jac_naive_sec = None
    for _rep in range(3):
        t0 = time.perf_counter()
        DT.ngram_jaccard_pairs(jac_docs, threshold=0.5).write.format("noop").mode(
            "overwrite"
        ).save()
        rep = round(time.perf_counter() - t0, 4)
        if _rep:
            jac_prefix_sec = rep if jac_prefix_sec is None else min(jac_prefix_sec, rep)
    for _rep in range(3):
        t0 = time.perf_counter()
        DT.ngram_jaccard_pairs(
            jac_docs, threshold=0.5, prefix_filter=False
        ).write.format("noop").mode("overwrite").save()
        rep = round(time.perf_counter() - t0, 4)
        if _rep:
            jac_naive_sec = rep if jac_naive_sec is None else min(jac_naive_sec, rep)
    jac_docs.unpersist()

    # larger-input scaling point: 4 GiB scanned FROM PARQUET (not a cached
    # DataFrame — at 100 TB the input never fits in memory; the OS page
    # cache plays the warm-storage role across reps). Peak heap via the
    # JVM memory-pool peaks, reset before the timed reps.
    _phase("dedup_large_4g")
    import tempfile as _tf

    large_mb = int(os.environ.get("SPARK_GRAFT_BENCH_LARGE_MB", "4096"))
    large_dir = _tf.mkdtemp(prefix="bensp_bench_large_")
    # Wide-binary tables need BOTH knobs or the scan exhausts the JVM's
    # 16 GB direct-buffer limit (measured OOM): 8 MB row groups keep each
    # column-chunk reservation small (128 MB groups reserve ~110 MB per
    # concurrent task), and a 16-row columnar batch keeps the decoded
    # batch at 16 MiB/task instead of the default 4096-row × 1 MiB. The
    # same two knobs a real cluster sets for binary-blob tables.
    (
        DF.synthetic_docs(
            spark, n_files=large_mb, file_bytes=1 << 20, pool_size=64, seed=13
        )
        .repartition(max(cpus, large_mb // 8))
        .write.option("parquet.block.size", 8 << 20)
        .mode("overwrite")
        .parquet(large_dir)
    )
    prev_batch = spark.conf.get("spark.sql.parquet.columnarReaderBatchSize", "4096")
    spark.conf.set("spark.sql.parquet.columnarReaderBatchSize", "16")
    # release pooled direct buffers accumulated by the earlier phases'
    # shuffles before the wide-binary scan starts reserving its own
    spark._jvm.System.gc()
    large_files = spark.read.parquet(large_dir)
    jmx = spark._jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
    for pool in jmx:
        pool.resetPeakUsage()
    large_sec = None
    for _rep in range(3):
        t0 = time.perf_counter()
        stats_fn(large_files, compress_type="gzip").collect()
        rep_sec = round(time.perf_counter() - t0, 4)
        if _rep > 0:
            large_sec = rep_sec if large_sec is None else min(large_sec, rep_sec)
    large_peak_heap_mb = round(
        sum(
            p.getPeakUsage().getUsed()
            for p in jmx
            if p.getType().toString() == "Heap memory"
        )
        / (1 << 20),
        1,
    )
    spark.conf.set("spark.sql.parquet.columnarReaderBatchSize", prev_batch)
    import shutil as _sh

    _sh.rmtree(large_dir, ignore_errors=True)

    # trained-quantizer build cost next to the deterministic build (same
    # query path; recall comparison lives in tests — this entry records
    # what the production build COSTS, since plan shape is unchanged)
    _phase("pq_build_cost")
    from pyspark.sql import functions as F

    from bensp_suite_spark.operators import graph_ann as GA_B
    from bensp_suite_spark.operators import similarity as SIM_B
    from bensp_suite_spark.tables import load_table as _lt

    bench_emb = _lt(spark, sf_dir, "embeddings").persist(StorageLevel.MEMORY_ONLY)
    bench_emb.count()
    bq = bench_emb.filter(F.col("vec_id") < 64)
    t0 = time.perf_counter()
    trn_books = SIM_B.pq_codebooks_trained(bench_emb)
    trn_codes = SIM_B.pq_encode(bench_emb, trn_books)
    SIM_B.pq_ann_topk(bq, bench_emb, k=5, refine=10, index=(trn_books, trn_codes)).write.format(
        "noop"
    ).mode("overwrite").save()
    pq_trained_sec = round(time.perf_counter() - t0, 4)
    t0 = time.perf_counter()
    det_books = SIM_B.pq_codebooks(bench_emb)
    det_codes = SIM_B.pq_encode(bench_emb, det_books)
    SIM_B.pq_ann_topk(bq, bench_emb, k=5, refine=10, index=(det_books, det_codes)).write.format(
        "noop"
    ).mode("overwrite").save()
    pq_det_sec = round(time.perf_counter() - t0, 4)
    bench_emb.unpersist()

    # ANN scale probe: 100k×64-dim gaussian corpus (structureless — LSH's
    # documented worst case, so brute and IVF are the fair probes), 100
    # queries, top-10. Reproduces the SCALING.md similarity-search numbers
    # per-round instead of leaving them a one-off claim. Corpus generation
    # is per-row seeded (layout-independent); index build excluded from
    # the timed probe (mkdb-offline, same frame as ferret).
    _phase("ann_scale_100k")
    import pandas as _apd

    def _gauss(batches):
        for pdf in batches:
            import numpy as _np

            vecs = [
                _np.random.default_rng(int(i)).standard_normal(64).tolist()
                for i in pdf["id"]
            ]
            yield _apd.DataFrame({"vec_id": pdf["id"], "embedding": vecs})

    big_emb = (
        spark.range(100_000)
        .repartition(cpus)
        .mapInPandas(_gauss, "vec_id long, embedding array<double>")
        .persist(StorageLevel.MEMORY_ONLY)
    )
    big_emb.count()
    big_q = big_emb.filter(F.col("vec_id") < 100)
    ann_scale = {}
    # corpus-size-aware defaults (ivf_defaults: n_cells ≈ √N, probe floor
    # 8) — the r5 probe measured the old static (16, 2) at recall@10 =
    # 0.545 on this corpus; the sizing rule is what a growing corpus needs
    # and this probe asserts its recall floor every round.
    auto_cells, auto_probe = SIM_B.ivf_defaults(100_000)
    ann_scale["ivf_auto_n_cells"] = auto_cells
    ann_scale["ivf_auto_n_probe"] = auto_probe
    cent = SIM_B.ivf_centroids(big_emb, auto_cells)
    assign = SIM_B.ivf_assign(
        big_emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")),
        cent, 1, "neighbor_id", "cv",
    ).persist(StorageLevel.MEMORY_ONLY)
    assign.count()
    def _ivf(n_probe):
        return SIM_B.ivf_ann_topk(
            big_q, big_emb, k=10, n_cells=auto_cells, n_probe=n_probe, index=(cent, assign)
        )

    # IVF-PQ at the same cell sizing: the composed index's 100k probe —
    # build (codebooks + encode + cell attach) excluded from the timed
    # loop, mkdb-offline frame like the other families. Probed at the
    # API's production defaults since r8: n_centroids=256 (8 bits per
    # subspace — the 4-bit sizing measured recall 0.30 on this
    # structureless-gaussian worst case) and refine=None → max(8,
    # 2·n_probe) (ADC quantization error, not cell recall, binds IVF-PQ
    # recall, so the exact re-rank window must scale with the probe
    # width: static refine=16 measured 0.663 here in r7; the scaled
    # default measures 0.802 — the r7 verdict's headline gap, closed at
    # the API surface and asserted below).
    ivfpq_books = SIM_B.pq_codebooks(big_emb, n_centroids=256)
    ivfpq_coded = (
        SIM_B.pq_encode(big_emb, ivfpq_books)
        .join(assign.select("neighbor_id", "cell"), "neighbor_id")
        .persist(StorageLevel.MEMORY_ONLY)
    )
    ivfpq_coded.count()

    def _ivfpq(n_probe):
        return SIM_B.ivfpq_ann_topk(
            big_q, big_emb, k=10, n_probe=n_probe, refine=None,
            index=(cent, ivfpq_books, ivfpq_coded),
        )

    # sharded-NSW graph: build ONCE (mkdb-offline frame like the other
    # families — save_nsw_index exists for exactly this), probes pay only
    # the beam searches. Build cost recorded as its own extra. Sizing per
    # the r8 100k calibration: gaussian hubness at 64d needs m=12/ef
    # 32/48 (m=8/ef 16 measured 0.487 recall).
    t0 = time.perf_counter()
    nsw_graph = GA_B.build_nsw_index(
        big_emb, n_shards=32, m=12, ef_build=32
    ).persist(StorageLevel.MEMORY_ONLY)
    nsw_graph.count()
    ann_scale["nsw_build_sec_100k"] = round(time.perf_counter() - t0, 2)

    def _nsw():
        return GA_B.nsw_ann_topk(
            big_q, big_emb, k=10, ef_search=48, index=(nsw_graph, {}),
        )

    for name, run in (
        ("brute", lambda: SIM_B.cosine_topk_bruteforce(big_q, big_emb, k=10)),
        ("ivf_auto", lambda: _ivf(auto_probe)),
        ("ivf_p8", lambda: _ivf(8)),
        ("ivfpq_auto", lambda: _ivfpq(auto_probe)),
        # SQ8 is the precision cut alone (full-corpus scan like brute —
        # its win at scale is the 4× vector-I/O cut, not candidate
        # pruning); timed here so the ladder's cost is on record
        ("sq8", lambda: SIM_B.sq8_ann_topk(big_q, big_emb, k=10, refine=4)),
        ("nsw", _nsw),
    ):
        best = None
        for _rep in range(3):
            t0 = time.perf_counter()
            run().write.format("noop").mode("overwrite").save()
            sec = time.perf_counter() - t0
            if _rep > 0:
                best = sec if best is None else min(best, sec)
        ann_scale[f"{name}_qps_100k"] = round(100 / best, 2)
    # the other axis: IVF recall@10 vs exact on the same corpus (untimed).
    # Structureless gaussian data is the recall worst case — cells carve
    # arbitrary Voronoi regions — so a floor that holds here holds on
    # clustered real corpora; the auto/p8 pair shows the recall-for-cost
    # knob at the sized cell count.
    brute_res = SIM_B.cosine_topk_bruteforce(big_q, big_emb, k=10).select(
        "query_id", "neighbor_id"
    )
    n_exact = brute_res.count()
    for label, run in (
        ("ivf_auto", lambda: _ivf(auto_probe)),
        ("ivf_p8", lambda: _ivf(8)),
        ("ivfpq_auto", lambda: _ivfpq(auto_probe)),
        # residual codes at the SAME bits (untimed — build included in the
        # call): the recall delta vs ivfpq_auto is the FAISS residual-
        # encoding argument, measured per round
        (
            "ivfpq_residual_auto",
            lambda: SIM_B.ivfpq_ann_topk(
                big_q, big_emb, k=10, n_cells=auto_cells, n_probe=auto_probe,
                n_centroids=256, refine=None, residual=True,
            ),
        ),
        ("nsw", _nsw),
        # IVF-routed NSW: the candidate cut composed with the graph cut —
        # per-query work = n_probe beams regardless of shard count.
        # Untimed (the inline form rebuilds probed cells per call;
        # save_nsw_routed_index persists the routed build — the declared
        # prebuilt query proves bit-parity): the point here
        # is the recall-for-fan-out trade on the gaussian worst case,
        # 12-of-32 cells ≈ 2.7× beam cut (r8 calibration: 0.813 vs the
        # full fan-out's 0.926).
        (
            "nsw_routed",
            lambda: GA_B.nsw_routed_ann_topk(
                big_q, big_emb, k=10, n_cells=32, n_probe=12, m=12,
                ef_build=32, ef_search=48,
            ),
        ),
        # SPANN boundary spill at the SAME 12-of-32 probe budget: closure
        # assignment puts cell-boundary vectors in every cell within
        # (1+eps) of their nearest, recovering the routed topology's
        # recall tax for a bounded state blow-up (spill factor recorded
        # below; r9 calibration at 20k: eps=0.05 → 3.0× state,
        # 0.866 → 0.963 recall).
        (
            "nsw_routed_spill",
            lambda: GA_B.nsw_routed_ann_topk(
                big_q, big_emb, k=10, n_cells=32, n_probe=12, m=12,
                ef_build=32, ef_search=48, spill_eps=0.05,
            ),
        ),
    ):
        hits = (
            run()
            .select("query_id", "neighbor_id")
            .join(brute_res, ["query_id", "neighbor_id"])
            .count()
        )
        ann_scale[f"{label}_recall_at10_100k"] = round(hits / n_exact, 4)
    # the recall FLOORS: sized defaults must stay production-fit, not just
    # faster — a regression here should fail the bench loudly
    assert ann_scale["ivf_auto_recall_at10_100k"] >= 0.8, (
        f"IVF auto-sized recall@10 {ann_scale['ivf_auto_recall_at10_100k']} "
        f"fell below the 0.8 floor (n_cells={auto_cells}, n_probe={auto_probe})"
    )
    assert ann_scale["ivfpq_auto_recall_at10_100k"] >= 0.75, (
        f"IVF-PQ auto-sized recall@10 "
        f"{ann_scale['ivfpq_auto_recall_at10_100k']} fell below the 0.75 "
        f"floor (n_cells={auto_cells}, n_probe={auto_probe}, refine=auto) — "
        "the r7 gap (0.663 at static refine=16) must stay closed"
    )
    # NSW floor: the graph family must stay production-fit on the
    # gaussian worst case at the sized parameters (0.926 measured at r8
    # calibration; hubness makes 64d gaussians the hard case for
    # proximity graphs, so a floor that holds here holds on real corpora)
    assert ann_scale["nsw_recall_at10_100k"] >= 0.85, (
        f"NSW recall@10 {ann_scale['nsw_recall_at10_100k']} fell below "
        "the 0.85 floor (n_shards=32, m=12, ef_build=32, ef_search=48)"
    )
    assert ann_scale["nsw_routed_recall_at10_100k"] >= 0.7, (
        f"routed-NSW recall@10 {ann_scale['nsw_routed_recall_at10_100k']} "
        "fell below the 0.7 floor (n_cells=32, n_probe=12 — the IVF-like "
        "cell-recall bound; raise n_probe if the fixture changes)"
    )
    # the spill's contract: recall ≥ 0.85 at the SAME probe budget the
    # unspilled topology pays 0.7-0.82 for, and the state cost on record
    cent32 = SIM_B.ivf_centroids(big_emb, 32)
    n_spill = SIM_B.ivf_assign_spill(
        big_emb.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("cv"),
        ),
        cent32, 0.05, "neighbor_id", "cv",
    ).count()
    ann_scale["nsw_routed_spill_factor_100k"] = round(n_spill / 100_000, 2)
    assert ann_scale["nsw_routed_spill_recall_at10_100k"] >= 0.85, (
        f"spilled routed-NSW recall@10 "
        f"{ann_scale['nsw_routed_spill_recall_at10_100k']} fell below the "
        "0.85 floor (eps=0.05, n_probe=12/32 — boundary spill must close "
        "the routed topology's recall gap at the same probe budget)"
    )
    # DiskANN rung: PQ-compressed cell graphs — persist BOTH the raw and
    # the code-compressed routed index at 100k, record the measured
    # on-disk shard payload cut and the ADC-beamed recall. ADC noise is
    # paid in beam width, never in answers: ef 48→128 (r9 calibration:
    # ef 64/96/128/192 → 0.689/0.736/0.778/0.819) — each ADC distance is
    # an 8-byte table gather instead of a 64-double dot, so the widened
    # beam still nets out far cheaper where shards are memory-bound.
    _phase("ann_routed_pq_100k")
    import shutil as _sh
    import tempfile as _tf

    _pq_base = _tf.mkdtemp(prefix="bensp_pq_idx_")
    GA_B.save_nsw_routed_index(
        big_emb, _pq_base + "/raw", n_cells=32, m=12, ef_build=32
    )
    GA_B.save_nsw_routed_pq_index(
        big_emb, _pq_base + "/pq", n_cells=32, m=12, ef_build=32,
        n_subspaces=8, n_centroids=256,
    )

    def _dir_mb(p):
        total = 0
        for root, _dirs, files in os.walk(p):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        return round(total / 1e6, 1)

    ann_scale["nsw_routed_raw_graph_mb_100k"] = _dir_mb(_pq_base + "/raw/graph")
    ann_scale["nsw_routed_pq_graph_mb_100k"] = _dir_mb(_pq_base + "/pq/graph")
    pq_idx = GA_B.load_nsw_routed_pq_index(spark, _pq_base + "/pq")
    pq_hits = (
        GA_B.nsw_routed_pq_ann_topk(
            big_q, big_emb, pq_idx, k=10, n_probe=12, ef_search=128
        )
        .select("query_id", "neighbor_id")
        .join(brute_res, ["query_id", "neighbor_id"])
        .count()
    )
    ann_scale["nsw_routed_pq_recall_at10_100k"] = round(pq_hits / n_exact, 4)
    # SPANN spill × DiskANN PQ at the FULL 100k point (r10 verdict #5:
    # the spilled point previously existed only at 20k because the
    # spilled build was believed multi-minute; measured r11 on this host
    # it is ~3 min wall — the closure triples every cell and the largest
    # cell's single-worker nsw_build is the straggler — acceptable once
    # per bench for the headline recall floor). Same probe budget as the
    # unspilled run above; the floor is the 0.8 bar the other compressed
    # families hold.
    # The spilled 100k build + probe + cogroup block is env-gated
    # (SPARK_GRAFT_BENCH_FULL=1): it measured 391 s of the r12 baseline
    # bench on a FAST host — the r11 verdict names the r11-added 100k
    # phases as the proximate cause of the driver's 32-core rc=124
    # timeout and prescribes exactly this bounded default profile. The
    # default profile keeps the 20k spilled calibration pair below
    # (spill delta at identical params, floors asserted) and every
    # pre-r11 100k floor; the FULL profile re-measures the 100k spilled
    # point + the cogroup transport.
    bench_full = os.environ.get("SPARK_GRAFT_BENCH_FULL") == "1"
    ann_scale["full_100k_spill_phase"] = (
        "run" if bench_full else "gated (set SPARK_GRAFT_BENCH_FULL=1)"
    )
    if bench_full:
        _phase("ann_spilled_pq_build_100k")
        t0 = time.perf_counter()
        GA_B.save_nsw_routed_pq_index(
            big_emb, _pq_base + "/pq_spill", n_cells=32, m=12, ef_build=32,
            n_subspaces=8, n_centroids=256, spill_eps=0.05,
        )
        ann_scale["nsw_routed_pq_spill_build_sec_100k"] = round(
            time.perf_counter() - t0, 1
        )
        _sp_idx = GA_B.load_nsw_routed_pq_index(spark, _pq_base + "/pq_spill")
        _sp_hits = (
            GA_B.nsw_routed_pq_ann_topk(
                big_q, big_emb, _sp_idx, k=10, n_probe=12, ef_search=128
            )
            .select("query_id", "neighbor_id")
            .join(brute_res, ["query_id", "neighbor_id"])
            .count()
        )
        ann_scale["nsw_routed_pq_spill_recall_at10_100k"] = round(
            _sp_hits / n_exact, 4
        )
        # fully-distributed (cogroup) probe at 100k: zero driver collect
        # in the probe path (r10 verdict #6/#9) — parity with the wave
        # path is pytest-pinned; this records the transport's cost at
        # scale
        best = None
        for _rep in range(3):
            t0 = time.perf_counter()
            GA_B.nsw_routed_pq_ann_topk(
                big_q, big_emb, _sp_idx, k=10, n_probe=12, ef_search=128,
                probe_mode="cogroup",
            ).write.format("noop").mode("overwrite").save()
            sec = time.perf_counter() - t0
            if _rep > 0:
                best = sec if best is None else min(best, sec)
        ann_scale["routed_pq_cogroup_qps_100k"] = round(100 / best, 2)
        assert ann_scale["nsw_routed_pq_spill_recall_at10_100k"] >= 0.8, (
            f"spilled routed-PQ recall@10 at 100k "
            f"{ann_scale['nsw_routed_pq_spill_recall_at10_100k']} fell below "
            "the 0.8 floor (eps=0.05, 12/32 probes, ef=128 — measured 0.846 "
            "at r11 calibration; the spill must keep the DiskANN rung at "
            "the family bar)"
        )
    _sh.rmtree(_pq_base, ignore_errors=True)
    assert ann_scale["nsw_routed_pq_recall_at10_100k"] >= 0.75, (
        f"PQ-routed-NSW recall@10 "
        f"{ann_scale['nsw_routed_pq_recall_at10_100k']} fell below the 0.75 "
        "floor (8-bit codes, n_probe=12/32, ef=128 — the code-sized shards "
        "must hold near the routed family's recall)"
    )
    assert (
        ann_scale["nsw_routed_pq_graph_mb_100k"]
        < ann_scale["nsw_routed_raw_graph_mb_100k"] / 3
    ), "PQ shards must be a small fraction of the raw-vector shards"
    # SPANN spill × DiskANN PQ at 20k — the cheap calibration pair kept
    # alongside the full 100k spilled point above (the 20k pair isolates
    # the spill DELTA at identical params for a few seconds of build).
    # Same pair params: m=12, ef_build=32, 12-of-32 probes, ef=128,
    # eps=0.05. r10 calibration: unspilled 0.849 → spilled 0.928 at
    # 3.01× state.
    _phase("ann_spill_pair_20k")
    spill20 = {}
    _sp_base = _tf.mkdtemp(prefix="bensp_pq_spill_")
    emb20 = big_emb.filter(F.col("vec_id") < 20_000).persist(StorageLevel.MEMORY_ONLY)
    emb20.count()
    q20 = emb20.filter(F.col("vec_id") < 100)
    brute20 = (
        SIM_B.cosine_topk_bruteforce(q20, emb20, k=10)
        .select("query_id", "neighbor_id")
        .persist(StorageLevel.MEMORY_ONLY)
    )
    n_exact20 = brute20.count()
    for _tag, _eps in (("", 0.0), ("_spill", 0.05)):
        GA_B.save_nsw_routed_pq_index(
            emb20, f"{_sp_base}/pq{_tag}", n_cells=32, m=12, ef_build=32,
            n_subspaces=8, n_centroids=256, spill_eps=_eps,
        )
        _idx20 = GA_B.load_nsw_routed_pq_index(spark, f"{_sp_base}/pq{_tag}")
        _hits = (
            GA_B.nsw_routed_pq_ann_topk(
                q20, emb20, _idx20, k=10, n_probe=12, ef_search=128
            )
            .select("query_id", "neighbor_id")
            .join(brute20, ["query_id", "neighbor_id"])
            .count()
        )
        spill20[f"nsw_routed_pq{_tag}_recall_at10_20k"] = round(
            _hits / n_exact20, 4
        )
        if _eps > 0.0:
            spill20["nsw_routed_pq_spill_factor_20k"] = round(
                spark.read.parquet(f"{_sp_base}/pq{_tag}/graph").count() / 20_000,
                2,
            )
    ann_scale.update(spill20)
    _sh.rmtree(_sp_base, ignore_errors=True)
    brute20.unpersist()
    emb20.unpersist()
    assert ann_scale["nsw_routed_pq_spill_recall_at10_20k"] >= 0.8, (
        f"spilled routed-PQ recall@10 "
        f"{ann_scale['nsw_routed_pq_spill_recall_at10_20k']} fell below the "
        "0.8 floor (eps=0.05, 12/32 probes, ef=128 — boundary spill must "
        "buy the DiskANN rung real recall headroom)"
    )
    assert (
        ann_scale["nsw_routed_pq_spill_recall_at10_20k"]
        > ann_scale["nsw_routed_pq_recall_at10_20k"]
    ), "the spilled PQ index must beat its unspilled twin at the same budget"
    nsw_graph.unpersist()
    # SQ8 recall on the same worst-case corpus: 8-bit affine quantization
    # is nearly lossless at 64 dims, so even refine=4 must stay ≈ exact —
    # this is the ladder's "cheap and safe" rung and the floor says so
    sq8_hits = (
        SIM_B.sq8_ann_topk(big_q, big_emb, k=10, refine=4)
        .select("query_id", "neighbor_id")
        .join(brute_res, ["query_id", "neighbor_id"])
        .count()
    )
    ann_scale["sq8_recall_at10_100k"] = round(sq8_hits / n_exact, 4)
    assert ann_scale["sq8_recall_at10_100k"] >= 0.9, (
        f"SQ8 recall@10 {ann_scale['sq8_recall_at10_100k']} fell below the "
        "0.9 floor — 8-bit quantization should be nearly lossless at 64d"
    )
    # scale-safe k-center at 100k (r10 verdict #4): the two-stage
    # composable-coreset form — one assignment pass + one grouped shuffle
    # regardless of k, vs the exact form's k full corpus scans (which at
    # k=64 would be ~64× this cost; the exact form stays the test-scale
    # oracle)
    _phase("kcenter_100k")
    t0 = time.perf_counter()
    SIM_B.kcenter_sample_cells(big_emb, k=64, n_cells=auto_cells).count()
    ann_scale["kcenter_cells_k64_sec_100k"] = round(time.perf_counter() - t0, 2)
    ivfpq_coded.unpersist()
    assign.unpersist()
    big_emb.unpersist()

    # residual-encoding validation on a CLUSTERED fixture — the regime the
    # FAISS IndexIVFPQ encoding exists for. Structureless gaussians are
    # set up so residual CANNOT win (residuals of gaussians are still
    # gaussian — r7 measured 0.661 vs 0.663, a wash, recorded above);
    # real embedding corpora cluster, and there the coarse quantizer
    # captures the bulk so the same code budget quantizes a much tighter
    # residual distribution. 64-center mixture (center = 5·N(0,1), point
    # = center + N(0,1)): r8 calibration measured residual 0.866 vs raw
    # 0.746 at the auto defaults — the +0.12 the encoding claims.
    _phase("ann_clustered_lowrank_fixtures")

    def _mix(batches):
        for pdf in batches:
            import numpy as _np

            vecs = []
            for i in pdf["id"]:
                c = int(i) % 64
                center = 5.0 * _np.random.default_rng(
                    100_000 + c
                ).standard_normal(64)
                noise = _np.random.default_rng(int(i)).standard_normal(64)
                vecs.append((center + noise).tolist())
            yield _apd.DataFrame({"vec_id": pdf["id"], "embedding": vecs})

    mix_emb = (
        spark.range(100_000)
        .repartition(cpus)
        .mapInPandas(_mix, "vec_id long, embedding array<double>")
        .persist(StorageLevel.MEMORY_ONLY)
    )
    mix_emb.count()
    mix_q = mix_emb.filter(F.col("vec_id") < 100)
    mix_brute = SIM_B.cosine_topk_bruteforce(mix_q, mix_emb, k=10).select(
        "query_id", "neighbor_id"
    ).persist(StorageLevel.MEMORY_ONLY)
    mix_exact = mix_brute.count()
    for label, residual in (("raw", False), ("residual", True)):
        hits = (
            SIM_B.ivfpq_ann_topk(
                mix_q, mix_emb, k=10, n_cells=auto_cells, n_probe=auto_probe,
                n_centroids=256, refine=None, residual=residual,
            )
            .select("query_id", "neighbor_id")
            .join(mix_brute, ["query_id", "neighbor_id"])
            .count()
        )
        ann_scale[f"ivfpq_{label}_clustered_recall_at10"] = round(
            hits / mix_exact, 4
        )
    assert (
        ann_scale["ivfpq_residual_clustered_recall_at10"]
        > ann_scale["ivfpq_raw_clustered_recall_at10"]
    ), (
        "residual encoding must beat raw codes on the clustered fixture "
        f"(got residual={ann_scale['ivfpq_residual_clustered_recall_at10']} "
        f"vs raw={ann_scale['ivfpq_raw_clustered_recall_at10']}) — if this "
        "fails the docstring's recall claim no longer holds"
    )
    mix_brute.unpersist()
    mix_emb.unpersist()

    # OPQ validation on a LOW-RANK fixture — the regime the learned
    # rotation exists for (real neural embeddings have low intrinsic
    # dimension; isotropic gaussians are set up so rotation CANNOT win —
    # same lesson as the residual probe above). rank-12 latent mixed to
    # 64d: r8 calibration measured opq 0.57 vs pq 0.39 recall@5 at 20k.
    _A_mix = __import__("numpy").random.default_rng(424242).standard_normal(
        (12, 64)
    )

    def _lowrank(batches):
        for pdf in batches:
            import numpy as _np

            vecs = []
            for i in pdf["id"]:
                z = _np.random.default_rng(int(i)).standard_normal(12)
                noise = 0.05 * _np.random.default_rng(
                    1_000_000 + int(i)
                ).standard_normal(64)
                vecs.append((z @ _A_mix + noise).tolist())
            yield _apd.DataFrame({"vec_id": pdf["id"], "embedding": vecs})

    lr_emb = (
        spark.range(100_000)
        .repartition(cpus)
        .mapInPandas(_lowrank, "vec_id long, embedding array<double>")
        .persist(StorageLevel.MEMORY_ONLY)
    )
    lr_emb.count()
    lr_q = lr_emb.filter(F.col("vec_id") < 100)
    lr_brute = SIM_B.cosine_topk_bruteforce(lr_q, lr_emb, k=10).select(
        "query_id", "neighbor_id"
    ).persist(StorageLevel.MEMORY_ONLY)
    lr_exact = lr_brute.count()
    lr_rot = SIM_B.opq_rotation(lr_emb, n_subspaces=8, n_centroids=16)
    for label, rot in (("pq", None), ("opq", lr_rot)):
        hits = (
            SIM_B.pq_ann_topk(lr_q, lr_emb, k=10, refine=2, rotation=rot)
            .select("query_id", "neighbor_id")
            .join(lr_brute, ["query_id", "neighbor_id"])
            .count()
        )
        ann_scale[f"{label}_lowrank_recall_at10"] = round(hits / lr_exact, 4)
    assert (
        ann_scale["opq_lowrank_recall_at10"]
        > ann_scale["pq_lowrank_recall_at10"]
    ), (
        "OPQ must beat plain PQ on the low-rank fixture "
        f"(got opq={ann_scale['opq_lowrank_recall_at10']} vs "
        f"pq={ann_scale['pq_lowrank_recall_at10']}) — if this fails the "
        "opq_rotation docstring's recall claim no longer holds"
    )
    lr_brute.unpersist()
    lr_emb.unpersist()

    # streaming dedup throughput (the reference's headline metric IS
    # stream throughput — throughput.dat, testbed/t1). 256 MB through the
    # merge-sink streaming encoder (stream_encode_merge: fused JVM
    # chunk+sha1+compress per micro-batch, parquet winners-table state,
    # exactly-once batch commits), 4-file triggers → multiple batches with
    # real cross-batch state. One warm run then best-of-2 (fresh
    # checkpoint each run — the protocol measures steady-state pipeline
    # rate, not checkpoint reuse).
    _phase("streaming_dedup")
    import shutil
    import tempfile

    from bensp_suite_spark.streaming import dedup_stream as DSTR

    # Headline protocol measures the SHIPPED configuration: files_source's
    # default 256 MB trigger (the measured knee — see
    # DEFAULT_MAX_BYTES_PER_TRIGGER), 512 MB of input → 2 triggers, so
    # cross-batch winners state is still exercised. r10 measured the same
    # pipeline at an artificial 64 MB trigger (4× the per-trigger fixed
    # cost) — that point still appears in the trigger sweep below; the
    # headline is the default a deployment actually runs.
    stream_mb = 512
    listener = DSTR.ThroughputListener()
    handle = listener.attach(spark)
    sdir = tempfile.mkdtemp(prefix="bensp_bench_stream_")
    s_src = os.path.join(sdir, "src")
    DF.synthetic_docs(
        spark, n_files=stream_mb, file_bytes=1 << 20, pool_size=64, seed=11
    ).repartition(16).write.mode("overwrite").parquet(s_src)
    stream_sec = None
    for _rep in range(3):
        s_out = os.path.join(sdir, f"out{_rep}")
        s_ckpt = os.path.join(sdir, f"ckpt{_rep}")
        s_stream = DSTR.files_source(spark, s_src)
        t0 = time.perf_counter()
        DSTR.stream_encode_merge(spark, s_stream, s_out, s_ckpt)
        rep_sec = round(time.perf_counter() - t0, 4)
        if _rep > 0:
            stream_sec = rep_sec if stream_sec is None else min(stream_sec, rep_sec)
    # Trigger-size sweep: SCALING.md names micro-batch size as THE
    # throughput knob for stream_encode_merge (per-trigger fixed cost —
    # planning, state-merge commit — amortizes over the batch). Measure it
    # instead of asserting it: same 256 MB input (8 parquet files × 32 MB),
    # maxFilesPerTrigger ∈ {1, 2, 8} → 32/64/256 MB triggers → 8/4/1
    # batches. One timed run each (the path is already JIT-warm from the
    # headline reps above; the curve's shape is the deliverable).
    trigger_sweep = {}
    for mft in (1, 2, 8):
        s_out = os.path.join(sdir, f"sweep_out{mft}")
        s_ckpt = os.path.join(sdir, f"sweep_ckpt{mft}")
        s_stream = (
            spark.readStream.schema("file_id long, content binary")
            .option("maxFilesPerTrigger", mft)
            .parquet(s_src)
        )
        t0 = time.perf_counter()
        DSTR.stream_encode_merge(spark, s_stream, s_out, s_ckpt)
        sweep_sec = time.perf_counter() - t0
        trigger_sweep[f"{mft * 32}mb_trigger_mbps"] = round(stream_mb / sweep_sec, 2)
    # Restart-resume latency: append one 32 MB file to the source and
    # RESTART the rep-0 query on its existing checkpoint — the recovery a
    # daily pipeline performs after every planned stop. The measured time
    # covers offset-log replay, winners-table state reload (the ~64k
    # unique digests of the 256 MB already processed) and the one-batch
    # catch-up; exactly-once across the restart is pinned by
    # tests/test_streaming.py, this records what the recovery COSTS.
    resume_new_mb = 32
    DF.synthetic_docs(
        spark, n_files=resume_new_mb, file_bytes=1 << 20, pool_size=64, seed=12
    ).repartition(1).write.mode("append").parquet(s_src)
    r_stream = DSTR.files_source(spark, s_src)
    t0 = time.perf_counter()
    DSTR.stream_encode_merge(
        spark, r_stream, os.path.join(sdir, "out0"), os.path.join(sdir, "ckpt0")
    )
    resume_sec = round(time.perf_counter() - t0, 4)
    shutil.rmtree(sdir, ignore_errors=True)
    spark.streams.removeListener(handle)
    # UPL memory analog (new_dedup.c:97-242; BASELINE.md reference point
    # 1.55 GB): peak JVM heap observed across the streaming triggers. In
    # local mode driver==executor, so this is the per-executor figure.
    peak_heap_mb = round(listener.peak_heap_bytes / (1 << 20), 1)

    # Single-thread kernel probe in a subprocess (BASELINE's 41 MB/s is a
    # single-core figure; the 32-way per-core number above is bandwidth-
    # shared). Skipped silently on any failure — the headline entries
    # above must not depend on a second JVM coming up.
    _phase("single_thread_probe")
    single_thread = {}
    try:
        import subprocess

        proc = subprocess.run(
            [sys.executable, "-m", "bensp_suite_spark.bench.single_core", "256"],
            capture_output=True, text=True, timeout=300,
            cwd=os.path.dirname(os.path.abspath(__file__)),
        )
        for ln in reversed(proc.stdout.strip().splitlines()):
            if ln.startswith("{"):
                single_thread = json.loads(ln)
                break
    except Exception:
        single_thread = {}

    # Bloom prefilter at scale: 10M candidates (1% true dups) against a
    # 200k-hash history sketch — records (a) the JOIN-INPUT-ROW REDUCTION
    # the prefilter buys the incremental-dedup loop (only maybe-rows reach
    # the exact history join) and (b) packed-bitset probe vs join-form
    # probe wall time at the same row count (the packed form is the
    # production broadcast shape; r6 flagged its per-row Python loop —
    # now a JVM-position + numpy-gather pipeline).
    _phase("bloom_prefilter")
    from bensp_suite_spark.operators import sketches as SKB

    bl_m, bl_k = 1 << 22, 4
    bl_hist = spark.range(200_000).select(
        F.md5(F.col("id").cast("string")).alias("ch")
    )
    bl_bits = SKB.bloom_bits(bl_hist, "ch", m=bl_m, k=bl_k).persist(
        StorageLevel.MEMORY_ONLY
    )
    bl_bits.count()
    bl_packed = SKB.bloom_pack(bl_bits, bl_m)
    bl_rows = 10_000_000
    bl_cand = (
        spark.range(bl_rows)
        .select(
            F.when(
                F.col("id") % 100 == 0,
                F.md5((F.col("id") / 100).cast("long").cast("string")),
            )
            .otherwise(F.md5(F.concat(F.lit("new-"), F.col("id").cast("string"))))
            .alias("ch")
        )
        .persist(StorageLevel.MEMORY_ONLY)
    )
    bl_cand.count()
    bl_maybe_rows = packed_sec = joinform_sec = None
    for _rep in range(2):
        t0 = time.perf_counter()
        bl_maybe_rows = (
            SKB.bloom_maybe_contains_packed(bl_cand, "ch", bl_packed, m=bl_m, k=bl_k)
            .filter("bloom_maybe")
            .count()
        )
        rep = round(time.perf_counter() - t0, 4)
        if _rep:
            packed_sec = rep
    for _rep in range(2):
        t0 = time.perf_counter()
        jf = (
            SKB.bloom_maybe_contains(bl_cand, "ch", bl_bits, m=bl_m, k=bl_k)
            .filter("bloom_maybe")
            .count()
        )
        rep = round(time.perf_counter() - t0, 4)
        if _rep:
            joinform_sec = rep
    assert jf == bl_maybe_rows, "packed and join probes disagree"
    bloom_prefilter = {
        "cand_rows": bl_rows,
        "true_dups": bl_rows // 100,
        "join_input_rows": bl_maybe_rows,
        "join_input_reduction_pct": round(100 * (1 - bl_maybe_rows / bl_rows), 2),
        "packed_probe_sec": packed_sec,
        "join_form_sec": joinform_sec,
    }
    bl_bits.unpersist()
    bl_cand.unpersist()

    # the SIZE-AWARE GATE's crossover, measured: the exact check as
    # probe-then-join vs plain join at history sizes straddling
    # BLOOM_GATE_MIN_HISTORY (250k ≈ the broadcast-join threshold in hash
    # rows); incremental_dedup picks the form automatically from the
    # bitset's own fill-ratio cardinality estimate (recorded as est_n).
    # HONEST LOCAL READING (r8: plain 0.32/0.57/0.98 s vs probe 1.27/
    # 1.60/2.39 s at 50k/500k/5M): on this single-JVM host the plain
    # join wins at EVERY size — the "shuffle" is an in-process exchange
    # over page-cached frames, so the probe's extra Arrow pass never
    # pays back locally. The gate is therefore set by the CLUSTER bound,
    # not this wall clock: below ~250k rows the join is a broadcast on
    # any deployment (probe = pure overhead, gated off); above it a real
    # cluster shuffles the full batch over the network, and the probe's
    # measured 98.9% join-input-row reduction is what it buys. The
    # bounded local cost of keeping the probe on above the gate (~+1.4 s
    # per 2M rows here) is the price of the scale-correct default.
    from bensp_suite_spark.operators import dedup_text as DTB

    gate_xover = {"gate_min_history": DTB.BLOOM_GATE_MIN_HISTORY}
    xn_cand = 2_000_000
    for h_n in (50_000, 500_000, 5_000_000):
        xh = spark.range(h_n).select(
            F.md5(F.col("id").cast("string")).alias("hh")
        ).persist(StorageLevel.MEMORY_ONLY)
        xh.count()
        xp = SKB.bloom_pack(SKB.bloom_bits(xh, "hh", m=bl_m, k=bl_k), bl_m)
        xc = spark.range(xn_cand).select(
            F.when(
                F.col("id") % 100 == 0,
                F.md5(((F.col("id") / 100).cast("long") % h_n).cast("string")),
            )
            .otherwise(F.md5(F.concat(F.lit("new-"), F.col("id").cast("string"))))
            .alias("ch")
        ).persist(StorageLevel.MEMORY_ONLY)
        xc.count()
        plain_sec = probe_sec = None
        for _rep in range(2):
            t0 = time.perf_counter()
            n_plain = xc.join(xh, xc.ch == xh.hh, "left_semi").count()
            if _rep:
                plain_sec = round(time.perf_counter() - t0, 4)
        for _rep in range(2):
            t0 = time.perf_counter()
            n_probe = (
                SKB.bloom_maybe_contains_packed(xc, "ch", xp, m=bl_m, k=bl_k)
                .filter("bloom_maybe")
                .join(xh, F.col("ch") == xh.hh, "left_semi")
                .count()
            )
            if _rep:
                probe_sec = round(time.perf_counter() - t0, 4)
        assert n_plain == n_probe, "gate crossover probe changed the dup count"
        gate_xover[f"h{h_n}"] = {
            "plain_join_sec": plain_sec,
            "probe_then_join_sec": probe_sec,
            "est_n": round(SKB.bloom_cardinality_packed(xp, bl_m, bl_k)),
            "gated_to_probe": bool(
                SKB.bloom_cardinality_packed(xp, bl_m, bl_k)
                >= DTB.BLOOM_GATE_MIN_HISTORY
            ),
        }
        xh.unpersist()
        xc.unpersist()
    bloom_prefilter["gate_crossover"] = gate_xover

    # URL/crawl skew: 16M payload-carrying rows with one canonical URL /
    # one host owning 95% — the crawl-shaped hot key at the row count
    # where single-task behavior matters (the 4M narrow fixture measured
    # nothing: local in-memory sorts hide the wall). Two regimes:
    #   FLAGGING (url_dedup's shape — every row gets is_dup, so the hot
    #   window task must sort AND EMIT 15.2M payload rows): the agg+
    #   join-back form wins ~3.4× here, and this is the form the web
    #   pipeline/url_dedup actually use.
    #   SELECTION (the per-domain cap — hot task emits ≤ cap rows): the
    #   plain window's single 3.5 GB sort is FINE on this 128 GB local
    #   JVM (recorded honestly); the two-phase form exists because a
    #   cluster executor's task memory is a fraction of this — a 100M-
    #   page host's single-task sort spills or OOMs there, while phase 1
    #   splits it across salt_n tasks. Same contract as skew_flags.
    _phase("url_skew")
    from bensp_suite_spark.operators import urls as URLB
    from bensp_suite_spark.operators.sampling import hash_bucket as _hb
    from pyspark.sql import Window as _W2

    url_rows = 16_000_000
    url_df = (
        spark.range(url_rows)
        .select(
            F.col("id").alias("doc_id"),
            F.when(F.col("id") % 20 < 19, F.lit("hot.example.com"))
            .otherwise(F.concat(F.lit("cold"), (F.col("id") % 997).cast("string")))
            .alias("host"),
            F.when(F.col("id") % 20 < 19, F.lit("https://hot.example.com/front"))
            .otherwise(
                F.concat(F.lit("https://cold/"), F.col("id").cast("string"))
            )
            .alias("canonical_url"),
            F.repeat(
                F.concat(
                    F.lit("payload text for document "),
                    F.col("id").cast("string"),
                    F.lit(" "),
                ),
                8,
            ).alias("text"),
        )
        .persist(StorageLevel.MEMORY_ONLY)
    )
    url_df.count()

    def _flag_safe():
        winners = url_df.groupBy("canonical_url").agg(F.min("doc_id").alias("__w"))
        return (
            url_df.join(winners, "canonical_url")
            .withColumn("is_dup", F.col("doc_id") != F.col("__w"))
            .drop("__w")
        )

    url_skew = {"rows": url_rows, "hot_frac": 0.95}
    for name, run in (
        (
            "flag_window_sec",
            lambda: url_df.withColumn(
                "is_dup",
                F.row_number().over(
                    _W2.partitionBy("canonical_url").orderBy("doc_id")
                )
                > 1,
            ),
        ),
        ("flag_safe_sec", _flag_safe),
        (
            "cap_window_sec",
            lambda: url_df.withColumn(
                "__r",
                F.row_number().over(
                    _W2.partitionBy("host").orderBy(_hb(F.col("doc_id")), "doc_id")
                ),
            ).filter(F.col("__r") <= 20).drop("__r"),
        ),
        ("cap_two_phase_sec", lambda: URLB._cap_host_rows(url_df, 20, "doc_id")),
    ):
        best = None
        for _rep in range(2):
            t0 = time.perf_counter()
            run().write.format("noop").mode("overwrite").save()
            rep = round(time.perf_counter() - t0, 4)
            if _rep:
                best = rep
        url_skew[name] = best
    url_df.unpersist()

    # Parquet bloom-filter point lookups on the winners/signature-table
    # shape: 2M random md5 hashes, 1 MB row groups. Records the FOOTER-
    # LEVEL skip ratio (fraction of row groups whose split-block bloom
    # rejects an absent key — exactly the row groups a bloom-aware reader
    # skips; min/max envelopes are useless on hash-random keys) plus the
    # measured Spark point-lookup time on the bloom vs plain layout.
    _phase("bloom_skip")
    import tempfile as _btf

    from bensp_suite_spark.operators import layout as LYB

    bs_dir = _btf.mkdtemp(prefix="bensp_bench_bloomskip_")
    bs_rows = 2_000_000
    bs_df = spark.range(bs_rows).select(
        F.md5(F.col("id").cast("string")).alias("content_hash")
    )
    for sub, opts in (("bloom", True), ("plain", False)):
        w = bs_df.repartition(4).write.option("parquet.block.size", 1 << 20)
        if opts:
            w = (
                w.option("parquet.bloom.filter.enabled#content_hash", "true")
                .option("parquet.bloom.filter.expected.ndv#content_hash", "600000")
            )
        w.mode("overwrite").parquet(os.path.join(bs_dir, sub))
    import glob as _bg

    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    Binary = jvm.org.apache.parquet.io.api.Binary
    rg_total = rg_skipped = 0
    probes = [f"absent-key-{i}" for i in range(8)]
    for part in _bg.glob(os.path.join(bs_dir, "bloom", "part-*.parquet")):
        p = jvm.org.apache.hadoop.fs.Path(part)
        ifile = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, hconf)
        rdr = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(ifile)
        try:
            for rg in rdr.getRowGroups():
                col0 = rg.getColumns().get(0)
                bloom = rdr.getBloomFilterDataReader(rg).readBloomFilter(col0)
                if bloom is None:
                    continue
                for probe in probes:
                    rg_total += 1
                    if not bloom.findHash(bloom.hash(Binary.fromString(probe))):
                        rg_skipped += 1
        finally:
            rdr.close()
    bs_times = {}
    for sub in ("bloom", "plain"):
        tbl = spark.read.parquet(os.path.join(bs_dir, sub))
        best = None
        for _rep in range(3):
            t0 = time.perf_counter()
            for probe in probes:
                tbl.filter(F.col("content_hash") == probe).count()
            rep = round(time.perf_counter() - t0, 4)
            if _rep:
                best = rep if best is None else min(best, rep)
        bs_times[sub] = best
    bloom_skip = {
        "rows": bs_rows,
        "row_group_probes": rg_total,
        "row_groups_skipped": rg_skipped,
        "skip_ratio": round(rg_skipped / rg_total, 4) if rg_total else None,
        "lookup_bloom_sec": bs_times["bloom"],
        "lookup_plain_sec": bs_times["plain"],
    }
    import shutil as _bsh

    _bsh.rmtree(bs_dir, ignore_errors=True)

    # Per-query drift guard: compare against the committed best-of-round
    # table (bench_best.json, maintained by tools/update_bench_best.py) so
    # a regression gets a root-cause the round it happens, not two rounds
    # later (the ferret_topk_multiregion lesson: 1.09→1.39 s went
    # unexplained because nothing flagged it at the time). A query is
    # flagged when it exceeds 1.5× its recorded best AND is at least
    # 0.5 s over it (sub-second queries jitter past pure ratios).
    # Report-only by default — the driver's per-round run must always
    # produce a BENCH file; SPARK_GRAFT_BENCH_GUARD=1 makes it exit 1.
    _phase("drift_guard")
    regressions: dict[str, dict] = {}
    regression_reruns: dict[str, dict] = {}
    best_path = os.path.join(REPO, "bench_best.json")
    host_factor = 1.0
    if sf == 0.1 and os.path.exists(best_path):
        with open(best_path) as fh:
            best = json.load(fh).get("queries", {})
        host_factor = host_speed_factor(times, best)
        if host_factor > 1.15:
            print(
                f"HOST-SPEED NOTE: suite-wide median query time is "
                f"{host_factor}x the recorded bests — this host runs "
                "slower than the best-recording host(s); the drift guard "
                "compares against host-normalized bests (raw ratios "
                "recorded per flag)",
                file=sys.stderr,
            )
        flagged = detect_regressions(times, best, host_factor)
        # In-session min-of-2 rerun before flagging (r10 lesson: the
        # driver's run flagged 14 queries at 1.5-1.9x that a clean rerun
        # 15 min later could not reproduce — contended-host noise, not
        # regressions). A flag only survives if the SAME session, after
        # the full suite + heavy phases have run, still cannot reproduce
        # the recorded best within the guard. Both readings are recorded
        # (extras.regression_reruns) so a recovered flag stays auditable.
        # Heavy phases between the suite loop and here churn the page
        # cache; the first of the two rerun reps re-warms it (same
        # scan-from-parquet footing as the suite loop).
        if flagged:
            # same conf the suite loop timed under
            spark.conf.set("spark.sql.shuffle.partitions", str(int(shuffle)))
            spark.conf.set("spark.sql.adaptive.enabled", "true")
            for name in sorted(flagged):
                suite_sec = times[name]
                rerun_best = None
                for _rep in range(2):
                    Q.FIXTURE_BUILD_SECONDS.pop(name, None)
                    t0 = time.perf_counter()
                    Q.QUERIES[name](spark, sf_dir).write.format("noop").mode(
                        "overwrite"
                    ).save()
                    total_sec = time.perf_counter() - t0
                    rr = round(
                        total_sec - Q.FIXTURE_BUILD_SECONDS.pop(name, 0.0), 4
                    )
                    rerun_best = rr if rerun_best is None else min(rerun_best, rr)
                regression_reruns[name] = {
                    "suite_sec": suite_sec,
                    "rerun_sec": rerun_best,
                    "best": flagged[name]["best"],
                }
                times[name] = min(suite_sec, rerun_best)
            regressions = detect_regressions(
                {n: times[n] for n in flagged}, best, host_factor
            )
        for name, r in sorted(regressions.items(), key=lambda kv: -kv[1]["ratio"]):
            print(
                f"PERF REGRESSION {name}: {r['sec']} s vs best {r['best']} s "
                f"({r['ratio']}x, reproduced on in-session rerun)",
                file=sys.stderr,
            )

    # total reflects post-rerun per-query minima (the same steady-state
    # min protocol the suite loop uses, extended to the flagged queries)
    _phase_end()
    total = round(sum(times.values()), 4)

    payload = {
                "metric": "declared_query_suite_time",
                "value": total,
                "unit": "sec",
                "queries": times,
                "sf": sf,
                "extras": {
                    "dedup_stats_input_mb": dedup_mb,
                    "dedup_stats_sec": dedup_sec,
                    "dedup_throughput_mbps": round(dedup_mb / dedup_sec, 2),
                    "dedup_jvm_kernel": jvm_kernel,
                    "dedup_zstd_sec": dedup_zstd_sec,
                    "dedup_zstd_mbps": (
                        round(dedup_mb / dedup_zstd_sec, 2) if dedup_zstd_sec else None
                    ),
                    "dedup_throughput_mbps_per_core": round(dedup_mb / dedup_sec / cpus, 2),
                    "ferret_corpus_images": 1000,
                    "ferret_batch_queries": 50,
                    "ferret_batch_sec": ferret_sec,
                    "ferret_queries_per_sec": round(50 / ferret_sec, 2),
                    "streaming_dedup_input_mb": stream_mb,
                    "streaming_dedup_sec": stream_sec,
                    "streaming_dedup_mbps": round(stream_mb / stream_sec, 2),
                    "streaming_trigger_sweep": trigger_sweep,
                    "streaming_resume_new_mb": resume_new_mb,
                    "streaming_resume_sec": resume_sec,
                    "streaming_peak_heap_mb": peak_heap_mb,
                    "saturated_encode_input_mb": sat_mb,
                    "saturated_encode_sec": sat_sec,
                    "saturated_encode_mbps": round(sat_mb / sat_sec, 2),
                    "saturated_encode_window_sec": sat_window_sec,
                    "skew_flags_rows": skew_rows,
                    "skew_flags_window_sec": skew_window_sec,
                    "skew_flags_safe_sec": skew_safe_sec,
                    "jaccard_hot_docs": 3000,
                    "jaccard_hot_prefix_sec": jac_prefix_sec,
                    "jaccard_hot_naive_sec": jac_naive_sec,
                    "dedup_large_input_mb": large_mb,
                    "dedup_large_sec": large_sec,
                    "dedup_large_mbps": round(large_mb / large_sec, 2),
                    "dedup_large_mbps_per_core": round(large_mb / large_sec / cpus, 2),
                    "dedup_large_peak_heap_mb": large_peak_heap_mb,
                    "ann_pq_trained_build_query_sec": pq_trained_sec,
                    "ann_pq_deterministic_build_query_sec": pq_det_sec,
                    "ann_scale_100k": ann_scale,
                    "duckdb_proportional": duckdb_prop,
                    "bloom_prefilter": bloom_prefilter,
                    "url_skew": url_skew,
                    "bloom_skip": bloom_skip,
                    "fixture_build_sec": build_secs,
                    "regression_reruns": regression_reruns,
                    "host_speed_factor": host_factor,
                    "phase_secs": _PHASE_SECS,
                    # cold first-invocation build/load seconds for the
                    # session-keyed index builds, bucketed-table writes and
                    # _memo_load calls (r11 verdict: warm minima must never
                    # be conflated with the cold cost they exclude)
                    "cold_build_sec": {
                        k: round(v, 4) for k, v in Q.COLD_BUILD_SECONDS.items()
                    },
                    "dedup_single_thread_input_mb": single_thread.get("input_mb"),
                    "dedup_single_thread_mbps": single_thread.get("mbps_gzip"),
                    "dedup_single_thread_none_mbps": single_thread.get("mbps_none"),
                },
                "regressions": regressions,
            }
    # Full per-query payload goes to a FILE; the stdout line stays short.
    # The driver's stdout tail capture is ~2 KB — round 1's single line
    # with all ~100 per-query times overflowed it and parsed as null, so
    # the printed line carries the totals/extras plus only the slowest
    # queries, with a pointer to the complete payload on disk.
    full_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_results.json")
    with open(full_path, "w") as fh:
        json.dump(payload, fh, indent=1)
    slowest = dict(sorted(times.items(), key=lambda kv: -kv[1])[:12])
    line = dict(payload)
    line["queries"] = slowest
    line["n_queries_total"] = len(times)
    line["queries_file"] = full_path
    print(json.dumps(line))
    spark.stop()
    try:
        import shutil as _shu1

        _shu1.rmtree(scratch, ignore_errors=True)
    except Exception:
        pass
    if regressions and os.environ.get("SPARK_GRAFT_BENCH_GUARD") == "1":
        sys.exit(1)


if __name__ == "__main__":
    main()
