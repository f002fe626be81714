"""SparkSession factory tuned for the BenSP-Spark engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32); the same
conf scales to a multi-executor cluster — shuffle partitioning, AQE and
Arrow batch sizing are the knobs that matter at 100 TB, and they are all
set here rather than hard-coded in operators.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Arrow batch size for pandas-UDF stages. This is the Spark analog of the
#: reference's ITEM_PER_FETCH / CHUNK_ANCHOR_PER_FETCH queue-batching knobs
#: (reference: apps/dedup/src/dedupdef.h:282-295).
ARROW_BATCH = 10_000


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


#: Jar with the JVM-side fused CDC kernel (bensp.kernels.CdcFuseUdf), built
#: by tools/build_jvm_kernel.sh. Loaded at session creation when present;
#: sessions we did not create (the correctness driver's) simply fall back to
#: the Python kernel.
KERNEL_JAR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jars", "bensp-kernels.jar")


def has_jvm_kernel(spark: SparkSession) -> bool:
    """True iff bensp.kernels.CdcFuseUdf is loadable in this session's JVM."""
    try:
        spark._jvm.java.lang.Class.forName("bensp.kernels.CdcFuseUdf")
        return True
    except Exception:
        return False


def get_spark(
    app_name: str = "bensp-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession with engine defaults.

    AQE is on so runtime statistics re-plan shuffles (partition coalescing,
    skew-join splitting) — at 100 TB this is what keeps a fixed
    ``shuffle.partitions`` from being wrong in both directions.
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # local mode: the driver JVM is the executor. 16g measured FASTER
        # than 48g at the bench's 1 GB cached workload (2.6 s vs 3.4 s
        # best-of-3 — G1 behaves better on the smaller heap), but a 4 GB
        # cached input thrashes 16g's unified memory (6.8 s ↔ 60 s swings
        # from eviction); raise SPARK_GRAFT_DRIVER_MEM when caching ≳2 GB.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
    )
    if os.path.exists(KERNEL_JAR):
        # extraClassPath (not spark.jars): in local mode the driver classloader
        # is the one resolving registerJavaFunction, and it only sees jars
        # present at JVM launch
        builder = builder.config("spark.driver.extraClassPath", KERNEL_JAR)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def _package_zip() -> str:
    """Zip this package (once per content hash) so executors can import it.

    Python workers don't inherit the driver's ``sys.path`` mutations, so any
    pandas UDF / mapInPandas closure referencing this package would raise
    ModuleNotFoundError on workers when the driver process was launched from
    a different cwd. ``sc.addPyFile`` of this zip fixes that at runtime.
    """
    import hashlib
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    digest = hashlib.sha1()
    names = []
    for root, _dirs, files in os.walk(pkg_dir):
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(root, f)
                names.append(p)
                with open(p, "rb") as fh:
                    digest.update(fh.read())
    zpath = os.path.join(tempfile.gettempdir(), f"bensp_suite_spark-{digest.hexdigest()[:12]}.zip")
    if not os.path.exists(zpath):
        with zipfile.ZipFile(zpath + ".tmp", "w") as zf:
            for p in names:
                zf.write(p, os.path.join("bensp_suite_spark", os.path.relpath(p, pkg_dir)))
        os.replace(zpath + ".tmp", zpath)
    return zpath


def ensure_worker_imports(spark: SparkSession) -> None:
    """Ship this package to Python workers (idempotent).

    Called by every function that ships a UDF/closure referencing this
    package, so the library works from any driver cwd — workers don't
    inherit the driver's ``sys.path`` mutations.
    """
    sc = spark.sparkContext
    if not getattr(sc, "_bensp_pyfile_added", False):
        sc.addPyFile(_package_zip())
        sc._bensp_pyfile_added = True


def local_rows_df(spark: SparkSession, rows, schema, parts: int = 1):
    """``spark.createDataFrame(rows, schema)`` for small driver-local
    data without the default-parallelism Python-RDD walk.

    ``createDataFrame(list)`` parallelizes the rows into
    ``defaultParallelism`` slices (32 here), and EVERY downstream action
    re-evaluates all of them through the Python runner at ~0.15 s per
    slice — measured 4.5-8 s per tiny write at local[32], 20-40× the
    data's actual cost, and paid again on each re-scan of the plan
    (joins, broadcasts, reranks). Slicing to the partition count the
    caller actually wants (usually 1; the old ``.coalesce(n)`` cannot
    help — it only groups the 32 slices, every one of which still pays a
    Python evaluation) removes the overhead while keeping the EXACT
    createDataFrame conversion semantics (same row-by-row pickler, same
    type coercions — unlike the pandas/Arrow path, which coerces
    differently). Rows are listified so generators slice correctly."""
    rows = rows if isinstance(rows, list) else list(rows)
    parts = max(1, min(parts, max(1, len(rows))))
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), schema)


#: One live cache generation per call site — see :func:`pooled_persist`.
_PERSIST_POOL: dict[str, object] = {}


def pooled_persist(df, key: str):
    """Persist + materialize ``df``, releasing the cache a *previous* call
    with the same ``key`` left behind.

    Query callables persist intermediates that feed several plan branches
    (LSH signatures, ferret corpora, encode output). The callable returns a
    DataFrame, so it can never unpersist its own cache — but run 46 such
    queries twice in a bench sweep and dozens of dead generations pile up in
    unified memory, squeezing execution memory (spills) and evicting the
    caches that ARE live. Keeping exactly one generation per call site keeps
    the benefit (branches share one materialization) without the leak. A
    pin does NOT recompute: it is a ``localCheckpoint`` with truncated
    lineage, so an action on a pin whose blocks are lost (executor loss,
    cleared local storage) fails instead of falling back to its plan.

    The handed-out pin is ``localCheckpoint(eager=True)`` rather than a
    bare ``persist()``: a persisted DataFrame still carries its FULL
    logical plan (the cache substitutes only at physical planning), so a
    loop that composes pins — the day-N pipeline, multi-stage dedup —
    accumulates a multiplicatively nested tree that Catalyst re-analyzes
    on every downstream action (day3's executed plan measured ~20 MB and
    ~8 s of pure driver planning per invocation at r12). The checkpoint
    truncates the handed-out lineage to a LogicalRDD while the ORIGINAL
    plan is kept in the pool for the sameResult reuse check, so repeated
    invocations still hit the memo. Values are identical; storage
    lifecycle is unchanged (the superseded generation's blocks are
    released by the ContextCleaner when the pool drops its reference)."""
    entry = _PERSIST_POOL.get(key)
    if entry is not None:
        src, out = entry
        try:
            # Same logical plan ⇒ same result: reuse the live pin instead
            # of re-materializing (the intermediate-result store a repeated
            # query batch wants — simhash signatures, shingle tables, LSH
            # indexes survive across same-input invocations). A different
            # input path/plan fails sameResult and falls through to rebuild.
            if src._jdf.queryExecution().analyzed().sameResult(
                df._jdf.queryExecution().analyzed()
            ):
                return out
        except Exception:
            pass
        try:
            src.unpersist(blocking=False)
        except Exception:
            pass  # e.g. its SparkSession is already stopped
    # persist() FIRST, then checkpoint: the eager checkpoint's single job
    # computes the cache-marked plan, so one materialization populates
    # BOTH artifacts. The persisted original stays registered in Spark's
    # CacheManager, which substitutes it into ANY other query whose plan
    # contains the same subtree (e.g. dedup_simhash's whole plan IS the
    # subtree dedup_simhash_pairs pins) — dropping the persist() cost
    # that cross-query reuse and flagged a real drift (r12 bench:
    # dedup_simhash 0.17 → 0.86 s). The handed-out frame stays the
    # lineage-truncated checkpoint.
    pinned = df.persist()
    out = pinned.localCheckpoint(eager=True)
    _PERSIST_POOL[key] = (pinned, out)
    return out


def pooled_persist_all(*items: tuple[object, str]) -> tuple:
    """Materialize several INDEPENDENT ``(df, key)`` pins concurrently —
    one :func:`pooled_persist` per driver thread (guide §2.6: actions are
    only sequential because driver code calls them sequentially). The
    day-loop queries pin (hashes, sims) signature pairs whose plans share
    only already-cached parents; at toy scale each pin is ~1 job of
    driver fixed cost, so overlapping the pair halves that bill. Results
    and cache semantics are identical to sequential calls — the pool dict
    is keyed, and Spark schedules concurrent jobs FIFO."""
    from concurrent.futures import ThreadPoolExecutor

    if len(items) == 1:
        df, key = items[0]
        return (pooled_persist(df, key),)
    with ThreadPoolExecutor(max_workers=min(4, len(items))) as pool:
        futs = [pool.submit(pooled_persist, df, key) for df, key in items]
        return tuple(f.result() for f in futs)


def align_session(spark: SparkSession) -> SparkSession:
    """Runtime-settable conf alignment for a session we did not create.

    The correctness driver hands us its own SparkSession; pin the confs that
    affect result *values* (timezone for timestamp rendering vs the DuckDB
    oracle, Arrow for collect speed) and ship this package to the Python
    workers.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    ensure_worker_imports(spark)
    return spark
