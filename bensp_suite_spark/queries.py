"""Declared-query registry: the driver-facing correctness surface.

Each entry pairs a Spark DataFrame query (``QUERIES[name]``, callable
``(spark, sf_dir) -> DataFrame``) with an equivalent ANSI-SQL oracle
(``ORACLES[name]``) that DuckDB runs on the same parquet tables. Names map
to SURVEY.md §2 operator ids.

Determinism rules (so the driver's value-hash matches):
- every computed column is aliased identically in Spark and SQL;
- float aggregations go through exact DECIMAL sums, are cast to DOUBLE at
  the end, and are ROUNDed — decimal addition is associative, so the value
  is independent of Spark's partial-agg order vs DuckDB's scan order;
- top-K orderings always carry a unique tiebreaker key.
"""

from __future__ import annotations

import shutil
import tempfile
import time
from collections.abc import Callable
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import state
from .operators import relational as R
from .operators import temporal as T
from .session import align_session, local_rows_df
from .tables import load_table

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn):
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            align_session(spark)
            return fn(spark, sf_dir)

        wrapped.__name__ = name
        wrapped.__doc__ = fn.__doc__
        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLES[name] = oracle
        return wrapped

    return deco


#: per-query fixture-construction seconds, reported by queries that build
#: hermetic tempdir inputs inside their own body (TAR archives, ORC files,
#: stream source dirs, .ddp archives). The bench reads-and-clears this
#: after timing each query and subtracts it, so the drift guard watches
#: the OPERATOR's cost, not the scaffolding's — the correctness driver
#: ignores it entirely (queries stay hermetic and self-contained).
FIXTURE_BUILD_SECONDS: dict[str, float] = {}

#: Cold first-invocation build/load seconds (r11 verdict item: the
#: build-once indexes of ``_prebuilt`` and ``layout_bucketed_join`` shift
#: work out of warm reps — record what the COLD invocation paid so warm
#: minima are never conflated with cold cost). Keys are ``"<query>:build"``
#: for on-disk index builds / bucketed-table writes and ``"load:<kind>"``
#: for the index loads; each session pays both once (state.py), and
#: values accumulate across the run.
#: The bench exports a snapshot as ``extras.cold_build_sec``; unlike
#: FIXTURE_BUILD_SECONDS, nothing is subtracted from any recorded time.
COLD_BUILD_SECONDS: dict[str, float] = {}


@contextmanager
def _timed(into: dict[str, float], name: str):
    """Adds the block's wall seconds to ``into[name]`` (accumulating
    across uses, also when the block raises)."""
    t0 = time.perf_counter()
    try:
        yield
    finally:
        into[name] = into.get(name, 0.0) + (time.perf_counter() - t0)


def _fixture_build(name: str):
    """``with _fixture_build("query_name"): <build the tempdir input>``."""
    return _timed(FIXTURE_BUILD_SECONDS, name)


def _cold_build(name: str):
    """``with _cold_build("name"): <one-time build>``."""
    return _timed(COLD_BUILD_SECONDS, name)


@contextmanager
def _scratch(prefix: str, keep: tuple | None = None):
    """A fresh temp directory, removed when the block exits — also when it
    raises. A block that completes with ``keep=(spark, key)`` hands the
    directory to the state registry (state.py) instead: a returned lazy
    DataFrame or a cached index still reads it until the session ends or
    the next block kept under ``key`` completes."""
    path = tempfile.mkdtemp(prefix=prefix)
    kept = False
    try:
        yield path
        kept = keep is not None
    finally:
        if kept:
            spark, key = keep
            state.get(
                spark, "dir", key, lambda: path, fresh=lambda _: False, drop=state.rmtree
            )
        else:
            shutil.rmtree(path, ignore_errors=True)


def _replay(spark: SparkSession, schema, path: str) -> DataFrame:
    """A parquet file stream over ``path`` that admits one file per
    trigger, so a multi-file source replays as several micro-batches."""
    return (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(path)
    )


class _stateful_stream_parts:
    """Scale-adaptive state-store sizing for a STATEFUL streaming query
    (stream-stream joins, session windows, keyed state): Spark binds the
    state-partition count to ``spark.sql.shuffle.partitions`` at the
    query's first batch and AQE never re-coalesces stateful exchanges,
    so every micro-batch pays per-partition state-store commit cost
    (delta file + fsync per store per partition — an interval join keeps
    FOUR stores). The partition count therefore must follow the
    stream's INPUT size, not the session constant: this applies the
    bench's own ~32 MB/partition rule to the source directory, clamped
    to [2, session setting] — a toy replay stops paying hundreds of
    empty state commits per trigger (measured: the sf0.1 interval join
    ran 12 s at 32 partitions, 3.0 s at 2, identical rows), while a
    100 TB deployment's input keeps the session's thousands of
    partitions (the clamp only ever lowers). Results are partition-
    count independent — every wrapped query is value-checked against
    its batch oracle."""

    def __init__(self, spark: SparkSession, *src_dirs: str):
        import os as _os

        self.spark = spark
        b = 0
        for d in src_dirs:
            if _os.path.isfile(d):
                b += _os.path.getsize(d)
            else:
                for root, _dirs, files in _os.walk(d):
                    b += sum(
                        _os.path.getsize(_os.path.join(root, f)) for f in files
                    )
        self.input_bytes = b

    def __enter__(self):
        self.prev = self.spark.conf.get("spark.sql.shuffle.partitions")
        parts = max(
            2, min(int(self.prev), self.input_bytes // (32 << 20) or 2)
        )
        self.spark.conf.set("spark.sql.shuffle.partitions", str(parts))
        return self

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.shuffle.partitions", self.prev)
        return False


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# Exact-decimal casts for float columns (see module docstring).
def _dec(col: str, scale: int = 2) -> F.Column:
    return F.col(col).cast(f"decimal(18,{scale})")


# Exact integer-unit formulation of SUM(decimal): decimal aggregation
# buffers fall off Spark's whole-stage-codegen fast path (measured ~2× on
# the q1 shape at sf0.1), so the hot aggregate queries sum exact integer
# units in LONG buffers instead and reassemble the decimal value once per
# GROUP, not once per row. Values are identical to the SUM(decimal)
# oracle formulation: every per-row unit is an exact integer, the hi/lo
# split keeps the long buffers overflow-free to ~9e12 rows per group at
# 1e11-unit rows (sf ≈ 100k), and the single post-agg decimal division is
# exact at the result's scale — so the final cast-to-double rounds the
# same exact value the decimal path rounds.
_HILO = 1_000_000


def _unit(col: str | F.Column, scale: int = 2) -> F.Column:
    """Exact integer units: round(value·10^scale) as long — the same
    value the decimal(18,scale) cast of a ≤scale-decimal column holds."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * F.lit(10**scale)).cast("long")


def _sum_units(units: F.Column) -> F.Column:
    """Exact aggregate sum of an integer-unit expression via two long
    sums (hi = (v − pmod(v,1e6))/1e6, lo = pmod(v,1e6)) reassembled in
    decimal(38,0). Overflow-free while rows·max_unit ≤ 9e18·1e6."""
    # (units − lo)/1e6 runs in double but stays exact: every per-row unit
    # this file produces is ≤ 1e14 (< 2^53), so numerator and quotient are
    # both exactly representable
    lo = F.pmod(units, F.lit(_HILO))
    hi = ((units - lo) / F.lit(_HILO)).cast("long")
    return (
        F.sum(hi).cast("decimal(38,0)") * F.lit(_HILO) + F.sum(lo).cast("decimal(38,0)")
    )


def _rev_units() -> F.Column:
    """The TPC-H revenue term ``l_extendedprice·(1−l_discount)`` in exact
    scale-6 integer units (centi-price × basis-point complement)."""
    return _unit("l_extendedprice") * (F.lit(10_000) - _unit("l_discount", 4))


def _sum_units_dbl(units: F.Column, scale: int) -> F.Column:
    """``CAST(SUM(decimal) AS DOUBLE)`` computed from integer units: the
    exact decimal sum (units/10^scale, exact at this scale) cast to
    double — the identical single IEEE rounding the oracle's decimal
    path performs."""
    return (
        (_sum_units(units) / F.lit(10**scale))
        .cast("decimal(38,6)")
        .cast("double")
    )


# ---------------------------------------------------------------------------
# Flagship: TPC-H Q1-shaped pricing summary == dedup stats aggregation shape
# (A1 totals + A3 mean, reference encoder.c:144-219,290-303)
# ---------------------------------------------------------------------------

@query(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 3) AS sum_qty,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 3) AS sum_base_price,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                          * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE), 3) AS sum_disc_price,
           ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_price,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A3/A4 aggregation shape. One hash exchange on a 6-value group key;
    partial aggregation map-side (Spark native), filter pushed to scan.
    Sums run in exact integer units via long buffers (see _sum_units) —
    values identical to the oracle's SUM(decimal) formulation, ~2× faster
    (decimal agg buffers fall out of whole-stage codegen)."""
    li = _t(spark, sf_dir, "lineitem")
    qty = _unit("l_quantity")
    price = _unit("l_extendedprice")
    disc_price = price * (F.lit(10_000) - _unit("l_discount", 4))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-12-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(_sum_units_dbl(qty, 2), 3).alias("sum_qty"),
            F.round(_sum_units_dbl(price, 2), 3).alias("sum_base_price"),
            F.round(_sum_units_dbl(disc_price, 6), 3).alias("sum_disc_price"),
            F.round(_sum_units_dbl(qty, 2) / F.count(F.lit(1)), 6).alias("avg_qty"),
            F.round(_sum_units_dbl(price, 2) / F.count(F.lit(1)), 6).alias(
                "avg_price"
            ),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# J1/J2/J3 — first-occurrence-wins dedup family
# ---------------------------------------------------------------------------

@query(
    "j1_first_wins_dedup",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice FROM (
      SELECT o_orderkey, o_custkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS rn
      FROM orders
    ) WHERE rn = 1
    """,
)
def j1_first_wins_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 — hashtable lookup-or-insert (encoder.c:666-703) as a rank window:
    first row per key wins; one shuffle on the dedup key."""
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    return R.first_wins_dedup(orders, keys="o_custkey", order="o_orderkey", keep="winner")


@query(
    "j2_scoped_dedup",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey FROM (
      SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
             ROW_NUMBER() OVER (PARTITION BY l_partkey, l_suppkey
                                ORDER BY l_orderkey, l_linenumber) AS rn
      FROM lineitem
    ) WHERE rn = 1
    """,
)
def j2_scoped_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 — per-file-scoped dedup (new_dedup.c:278,799-812): dedup domain is
    a composite key."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
    return R.first_wins_dedup(
        li, keys=["l_partkey", "l_suppkey"], order=["l_orderkey", "l_linenumber"], keep="winner"
    )


@query(
    "j3_canonical_ref",
    oracle="""
    SELECT o_orderkey, o_custkey,
           FIRST_VALUE(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS canonical_o_orderkey,
           (ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) > 1) AS is_dup
    FROM orders
    """,
)
def j3_canonical_ref(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 — duplicate → canonical resolution (write_chunk_to_file,
    encoder.c:449-471): every row carries its canonical row's key. Reuses
    the J1 exchange (window), no self-join."""
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    out = R.canonical_ref_join(orders, keys="o_custkey", order="o_orderkey", ref_cols="o_orderkey")
    return R.first_wins_dedup(out, keys="o_custkey", order="o_orderkey", keep="flag")


# ---------------------------------------------------------------------------
# J7/J8 — semi/anti/dim joins
# ---------------------------------------------------------------------------

@query(
    "j7_semi_join",
    oracle="""
    SELECT p_partkey, p_name FROM part
    WHERE p_partkey IN (SELECT l_partkey FROM lineitem)
    """,
)
def j7_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7 — candidate-restricted scan (raw_query, raw.c:158-209): rank stage
    touches only LSH candidates == LEFT SEMI join."""
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_name")
    cand = _t(spark, sf_dir, "lineitem").select(F.col("l_partkey").alias("p_partkey")).distinct()
    return R.semi_join(part, cand, on="p_partkey")


@query(
    "j7_anti_join",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    """,
)
def j7_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7 complement — LEFT ANTI join (keys with no match), the NOT-EXISTS physical form."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    have = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey")).distinct()
    return R.anti_join(cust, have, on="c_custkey")


@query(
    "j8_dim_join_revenue",
    oracle="""
    SELECT p_brand,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                          * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE), 3) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem JOIN part ON p_partkey = l_partkey
    GROUP BY p_brand
    """,
)
def j8_dim_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8 — id → name map join (map.c:189). Dimension broadcast: the 100 TB
    fact side never shuffles for the join; only the tiny group-by exchanges."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("p_partkey"), "l_extendedprice", "l_discount"
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    joined = R.dim_join(li, part, on="p_partkey")
    return joined.groupBy("p_brand").agg(
        F.round(
            _sum_units_dbl(_rev_units(), 6), 3
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


_ASOF_CTES = """
    clicks AS (SELECT event_id AS click_id, user_id, ts AS click_ts
               FROM events WHERE event_type = 'click'),
    views AS (SELECT event_id AS view_id, user_id, ts AS view_ts, value AS view_value
              FROM events WHERE event_type = 'view')
"""


def _asof_inputs(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("click_ts")
    )
    # column order matters: view_ts leads the as-of payload struct, and the
    # unique view_id right after it makes the equal-ts tiebreak total
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("ts").alias("view_ts"),
        F.col("event_id").alias("view_id"),
        F.col("value").alias("view_value"),
    )
    return clicks, views


def _asof_project(joined: DataFrame) -> DataFrame:
    # unmatched left rows carry sentinels, not NULLs: the driver's value
    # compare must never see NULL-vs-NULL in a hashed column (NaT != NaT
    # under numpy equality), and the sentinel keeps the left-join semantics
    # visible in the output
    gap = T.ts_micros(F.col("click_ts")) - T.ts_micros(F.col("view_ts"))
    epoch = F.lit("1970-01-01 00:00:00").cast("timestamp_ntz")
    return joined.select(
        "click_id",
        "user_id",
        "click_ts",
        F.coalesce(F.col("view_id"), F.lit(-1)).alias("view_id"),
        F.coalesce(F.col("view_ts").cast("timestamp_ntz"), epoch).alias("view_ts"),
        F.coalesce(F.col("view_value"), F.lit(-1.0)).alias("view_value"),
        F.coalesce(gap, F.lit(-1)).alias("gap_us"),
    )


@query(
    "j9_asof_click_attribution",
    oracle=f"""
    WITH {_ASOF_CTES}
    SELECT c.click_id, c.user_id, c.click_ts,
           COALESCE(v.view_id, -1) AS view_id,
           COALESCE(v.view_ts, TIMESTAMP '1970-01-01 00:00:00') AS view_ts,
           COALESCE(v.view_value, -1.0) AS view_value,
           COALESCE(date_diff('microseconds', v.view_ts, c.click_ts), -1) AS gap_us
    FROM clicks c LEFT JOIN LATERAL (
      SELECT view_id, view_ts, view_value FROM views v
      WHERE v.user_id = c.user_id AND v.view_ts <= c.click_ts
      ORDER BY v.view_ts DESC, v.view_id DESC LIMIT 1
    ) v ON TRUE
    """,
)
def j9_asof_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join (kdb ``aj`` / pandas ``merge_asof`` semantics,
    absent in both the reference and vanilla Spark SQL): attribute each
    click to the user's most recent prior-or-equal view. Single shuffle on
    user_id, running-window scan — no non-equi join node (see
    operators/temporal.py for the 100 TB rationale)."""
    clicks, views = _asof_inputs(spark, sf_dir)
    return _asof_project(
        T.asof_join(clicks, views, left_on="click_ts", right_on="view_ts", by="user_id")
    )


@query(
    "j9_asof_tolerance",
    oracle=f"""
    WITH {_ASOF_CTES}
    SELECT c.click_id, c.user_id, c.click_ts,
           COALESCE(v.view_id, -1) AS view_id,
           COALESCE(v.view_ts, TIMESTAMP '1970-01-01 00:00:00') AS view_ts,
           COALESCE(v.view_value, -1.0) AS view_value,
           COALESCE(date_diff('microseconds', v.view_ts, c.click_ts), -1) AS gap_us
    FROM clicks c LEFT JOIN LATERAL (
      SELECT view_id, view_ts, view_value FROM views v
      WHERE v.user_id = c.user_id AND v.view_ts <= c.click_ts
        AND v.view_ts >= c.click_ts - INTERVAL '15 minutes'
      ORDER BY v.view_ts DESC, v.view_id DESC LIMIT 1
    ) v ON TRUE
    """,
)
def j9_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a 15-minute lookback tolerance: matches older than
    the bound are nulled, left rows kept (merge_asof ``tolerance``). The
    unbounded match IS the bounded match when in range — the newest view
    ≤ click is in-window iff any view is — so tolerance is a post-filter,
    not a different join."""
    clicks, views = _asof_inputs(spark, sf_dir)
    return _asof_project(
        T.asof_join(
            clicks, views, left_on="click_ts", right_on="view_ts", by="user_id",
            tolerance_micros=15 * 60 * 1_000_000,
        )
    )


@query(
    "j10_range_join_attribution",
    oracle="""
    WITH purchases AS (SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
                       FROM events WHERE event_type = 'purchase'),
    clicks AS (SELECT event_id AS click_id, user_id, ts AS click_ts
               FROM events WHERE event_type = 'click')
    SELECT p.purchase_id, c.click_id, p.user_id, c.click_ts, p.purchase_ts
    FROM purchases p JOIN clicks c ON c.user_id = p.user_id
      AND c.click_ts >= p.purchase_ts - INTERVAL '30 minutes'
      AND c.click_ts <= p.purchase_ts
    """,
)
def j10_range_join_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time range join via bucket quantization (Databricks range-join
    bin optimization rebuilt from public primitives): every click inside the
    30-minute window before a same-user purchase. The interval side explodes
    to ≤2 half-hour buckets, the join is a plain equi-join on
    (user_id, bucket) — no BroadcastNestedLoopJoin anywhere in the plan."""
    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
        (F.col("ts") - F.expr("INTERVAL 30 minutes")).alias("win_start"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("click_ts")
    )
    joined = T.range_join_interval(
        clicks, purchases,
        point_ts="click_ts", start_ts="win_start", end_ts="purchase_ts",
        by="user_id", bucket_micros=30 * 60 * 1_000_000,
    )
    return joined.select("purchase_id", "click_id", "user_id", "click_ts", "purchase_ts")


@query(
    "q3_top_revenue_orders",
    oracle="""
    SELECT o_orderkey, o_orderdate, revenue FROM (
      SELECT l_orderkey AS o_orderkey, o.o_orderdate,
             ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                            * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE), 3) AS revenue
      FROM lineitem JOIN orders o ON o.o_orderkey = l_orderkey
      GROUP BY l_orderkey, o.o_orderdate
    ) ORDER BY revenue DESC, o_orderkey LIMIT 10
    """,
)
def q3_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join + agg + global top-K (O6): TakeOrderedAndProject, no full sort."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice", "l_discount")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    agg = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.round(_sum_units_dbl(_rev_units(), 6), 3).alias("revenue"))
    )
    return R.global_topk(agg, [F.col("revenue").desc(), F.col("o_orderkey")], 10).select(
        "o_orderkey", "o_orderdate", "revenue"
    )


# ---------------------------------------------------------------------------
# O1/O2/O6 — ordering / top-K
# ---------------------------------------------------------------------------

@query(
    "o1_ordered_emit",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
    ORDER BY l_orderkey, l_linenumber
    """,
)
def o1_ordered_emit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 — Reorder stage (encoder.c:1345-1496): total (l1,l2) order restore
    == range-exchange sort as the final plan node."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity")
    return R.ordered_emit(li, ["l_orderkey", "l_linenumber"])


@query(
    "o2_topk_per_group",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice, rank FROM (
      SELECT l_orderkey, l_linenumber, l_extendedprice,
             ROW_NUMBER() OVER (PARTITION BY l_orderkey
                                ORDER BY l_extendedprice DESC, l_linenumber) AS rank
      FROM lineitem
    ) WHERE rank <= 3
    """,
)
def o2_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2 — TOPK_INSERT_MIN bounded heaps (cass_topk.h, raw.c:163-204):
    rank-limited window; Spark's WindowGroupLimit does map-side partial top-K
    (the per-thread heap analog)."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber", "l_extendedprice")
    return R.topk_per_group(
        li,
        group="l_orderkey",
        order=[F.col("l_extendedprice").desc(), F.col("l_linenumber")],
        k=3,
    )


@query(
    "o6_global_topk",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 100
    """,
)
def o6_global_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O6 — global top-K without a full sort (TakeOrderedAndProject keeps K rows per partition)."""
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    return R.global_topk(orders, [F.col("o_totalprice").desc(), F.col("o_orderkey")], 100)


# ---------------------------------------------------------------------------
# A2/A3 — histogram / moments
# ---------------------------------------------------------------------------

@query(
    "a2_histogram",
    oracle="""
    SELECT CAST(FLOOR(l_quantity / 5) AS BIGINT) AS bucket, COUNT(*) AS cnt
    FROM lineitem GROUP BY 1
    """,
)
def a2_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 — chunk-size histogram (CHUNK_SIZE_TO_SLOT, encoder.c:133-141):
    slot = size >> 7 generalized to width-w buckets."""
    li = _t(spark, sf_dir, "lineitem")
    return R.histogram(li, F.col("l_quantity"), 5.0)


@query(
    "a3_group_stats",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 4) AS avg_price,
           ROUND(SQRT(
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
             - POW(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 2)
           ), 4) AS stddev_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def a3_group_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 — mean/stddev of chunk sizes (print_stats, encoder.c:290-303).
    stddev assembled from exact decimal Σx, Σx² so the value is
    summation-order independent (Spark's stddev_pop is not)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _unit("l_extendedprice")
    n = F.count(F.lit(1))
    sx = _sum_units_dbl(p, 2)
    sxx = _sum_units_dbl(p * p, 4)
    return li.groupBy("l_returnflag").agg(
        n.alias("n"),
        F.round(sx / n, 4).alias("avg_price"),
        F.round(F.sqrt(sxx / n - F.pow(sx / n, F.lit(2))), 4).alias("stddev_price"),
    )


# ---------------------------------------------------------------------------
# E2 — set ops
# ---------------------------------------------------------------------------

@query(
    "e2_union_distinct",
    oracle="""
    SELECT o_custkey AS custkey FROM orders
    UNION
    SELECT c_custkey AS custkey FROM customer
    """,
)
def e2_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 — UNION then DISTINCT of two key sets (candidate-list union, util.c:258-288)."""
    a = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("custkey"))
    b = _t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("custkey"))
    return R.union_distinct(a, b)


@query(
    "e_intersect",
    oracle="""
    SELECT c_custkey AS custkey FROM customer
    INTERSECT
    SELECT o_custkey AS custkey FROM orders
    """,
)
def e_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT of two key sets (free in Spark, absent in the reference)."""
    a = _t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("custkey"))
    b = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("custkey"))
    return a.intersect(b)


@query(
    "e_except",
    oracle="""
    SELECT c_custkey AS custkey FROM customer
    EXCEPT
    SELECT o_custkey AS custkey FROM orders
    """,
)
def e_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT set difference (free in Spark, absent in the reference)."""
    a = _t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("custkey"))
    b = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("custkey"))
    return a.exceptAll(b).distinct()


# ---------------------------------------------------------------------------
# P-series — predicates
# ---------------------------------------------------------------------------

@query(
    "p7_range_filter",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
    WHERE l_extendedprice < 1500.0
    """,
)
def p7_range_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7 — ε-range predicate; pushed to the parquet scan (PushedFilters)."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber", "l_extendedprice")
    return R.range_filter(li, F.col("l_extendedprice"), 1500.0)


@query(
    "p1_prefix_filter",
    oracle="""
    SELECT doc_id, source FROM documents WHERE source NOT LIKE 'src1%'
    """,
)
def p1_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 — dotfile-style name-prefix filter (new_dedup.c:963-973)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return R.prefix_filter(docs, F.col("source"), "src1")


# ---------------------------------------------------------------------------
# A5/A6 — windowed throughput / latency metrics
# Reference: 1-s collection windows, new_dedup.c:1380-1496. Batch analog over
# the events table (streaming variant lives in streaming/).
# ---------------------------------------------------------------------------

@query(
    "a5_windowed_throughput",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           COUNT(*) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 3) AS sum_value
    FROM events GROUP BY 1
    """,
)
def a5_windowed_throughput(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 — 1-second tumbling-window throughput (bytes and rows per window), the throughput.dat batch analog."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("window_start")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 3).alias("sum_value"),
    )


@query(
    "a6_windowed_latency_by_type",
    oracle="""
    SELECT date_trunc('day', ts) AS window_start, event_type,
           COUNT(*) AS n,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS avg_value
    FROM events GROUP BY 1, 2
    """,
)
def a6_windowed_latency_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 — per-window, per-class mean (dup vs non-dup latency split in the
    reference, new_dedup.c:1380-1443)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_trunc("day", F.col("ts")).alias("window_start"), F.col("event_type")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double") / F.count(F.lit(1)), 6
        ).alias("avg_value"),
    )


# ---------------------------------------------------------------------------
# CDC dedup pipeline (non-SQL-expressible — driver records rows-only checks;
# bit-exactness is covered by tests/test_rabin.py + round-trip tests).
# ---------------------------------------------------------------------------

@query("cdc_dedup_stats")
def cdc_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full encode-pipeline statistics (A1-A4, print_stats encoder.c:225-388)
    over deterministic per-document binary content. Deterministic output."""
    from .dedup import fixtures, pipeline
    from .session import has_jvm_kernel

    files = fixtures.docs_from_documents(spark, sf_dir)
    # same values either way (tests/test_dedup_jvm_kernel.py); the JVM fused
    # kernel needs the bensp-kernels jar on the driver classpath, which
    # sessions we did not create (the correctness driver's) won't have
    if has_jvm_kernel(spark):
        return pipeline.dedup_stats_jvm(files)
    return pipeline.dedup_stats(files)


@query("cdc_chunk_histogram")
def cdc_chunk_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 — 128-byte-bucket chunk-size histogram of the CDC chunker output
    (CHUNK_SIZE_TO_SLOT, encoder.c:133-141)."""
    from .dedup import fixtures, pipeline

    files = fixtures.docs_from_documents(spark, sf_dir)
    return pipeline.chunk_size_histogram(files).orderBy("slot")


@query("cdc_round_trip_check")
def cdc_round_trip_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode→decode round-trip oracle as a query: one row per file with a
    match flag; all_match must be true (decoder.c verification path §3.2)."""
    from .dedup import fixtures, pipeline

    # The fixture is persisted by docs_from_documents; ddp feeds both decode
    # branches (unique-payload table + fingerprint resolution) AND the final
    # compare, so persist + materialize eagerly — otherwise sibling stages of
    # the final job race to fill the same cache and encode runs per branch.
    files = fixtures.docs_from_documents(spark, sf_dir)
    from .session import pooled_persist

    ddp = pooled_persist(pipeline.encode(files, compress_type="gzip"), "q.cdc_round_trip.ddp")
    decoded = pipeline.decode(ddp, compress_type="gzip").withColumnRenamed(
        "content", "decoded_content"
    )
    joined = files.join(decoded, on="file_id", how="full")
    return joined.select(
        F.count(F.lit(1)).alias("n_files"),
        F.sum(
            F.when(F.sha1("content") == F.sha1("decoded_content"), 1).otherwise(0)
        ).alias("n_match"),
    )


# ---------------------------------------------------------------------------
# Text analysis (LLM-data-pipeline ops; oracle SQL generated from the same
# constants as the Spark exprs — see operators/text_analysis.py)
# ---------------------------------------------------------------------------

from .operators import dedup_text as DT  # noqa: E402
from .operators import graph_ann as GA  # noqa: E402
from .operators import similarity as SIM  # noqa: E402
from .operators import text_analysis as TA  # noqa: E402


@query(
    "text_token_count",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INTEGER) AS n_tokens,
           CAST(length(text) AS INTEGER) AS n_chars
    FROM documents
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token counts per document (the baseline next to the BPE-pre-tokenizer variant)."""
    return TA.token_count(_t(spark, sf_dir, "documents"))


@query(
    "text_bpe_token_count",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text,
             '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+')) AS INTEGER)
             AS n_bpe_tokens,
           CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INTEGER) AS n_ws_tokens
    FROM documents
    """,
)
def text_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-pre-tokenizer-granularity counts (the unit LLM pipelines budget
    by) vs whitespace tokens; Java-regex/RE2-common pattern so the DuckDB
    oracle is exact."""
    return TA.bpe_token_count(_t(spark, sf_dir, "documents"))


@query("text_bpe_trained_tokenize", oracle=None)
def text_bpe_trained_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINED BPE (Sennrich 2016) — the real thing next to the
    regex pre-tokenizer counts: merges learned once on the bounded
    lowest-id sample (max-count pair per round, lexicographic
    tie-break — how every production vocab is built offline; 40 merges
    leaves this corpus mid-merge at ~3.1 tokens/word, between chars and
    whole words, so the tokenization is non-degenerate), then the whole
    corpus tokenized with the learned ranks in one Arrow pass.
    Output is the per-document (chars, words, BPE tokens) budget table —
    the number an LLM training pipeline actually pays for. All integer/
    string ops, no floats; golden-pinned by the independent pure-Python
    BPE in tools/golden_reference.py."""
    docs = _t(spark, sf_dir, "documents")
    merges = TA.bpe_train(docs, n_merges=40)
    return TA.bpe_tokenize_stats(docs, merges)


@query("text_ngram_lm_score", oracle=None)
def text_ngram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram language-model quality scoring — the CCNet/KenLM-style
    pretraining filter signal in distributable form: bigram/unigram
    counts trained over the reference slice (ids < 256) with plain
    groupBy aggregations (the LM shuffles counts, never text), every
    document scored by its total add-one-smoothed bigram log-probability
    via two broadcast joins. Each ln term is rounded ONCE into integer
    micro-units so the per-doc sum is order-free and value-hashes at any
    parallelism. Golden-pinned (cross-engine ln ulp parity is not a SQL
    contract; the pin is computed by the independent pure-Python LM in
    tools/golden_reference.py)."""
    docs = _t(spark, sf_dir, "documents")
    bigrams, unigrams, vocab = TA.ngram_lm_train(docs, train_max_id=256)
    return TA.ngram_lm_score(docs, bigrams, unigrams, vocab)


@query("text_nb_quality_classifier", oracle=None)
def text_nb_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FastText-style naive-Bayes quality classifier — the "does this
    page look like the reference corpus" filter CCNet/LLaMA-class
    pipelines train, in distributable closed form: per-token add-one
    log-likelihood ratios (counts shuffle, text never does; the model is
    a vocabulary-sized token→LLR table you'd broadcast at 100 TB).
    Trained here on documents < 200 as the high-quality class vs their
    TOKEN-REVERSED counterparts of ids [200,400) as crawl noise, then a
    held-out set — natural docs [400,460) and reversed docs [400,460) at
    +AUG ids — is scored: prior + Σ LLR in exact integer micro-units
    (order-free sums), predicted_hq = log-odds > 0. Golden-pinned via
    the independent pure-Python NB mirror (cross-engine ln ULP parity is
    not a SQL contract — the LM-score precedent)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    words = F.split(
        F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " "), " "
    )
    reversed_text = F.array_join(
        F.transform(words, lambda w: F.reverse(w)), " "
    )

    def reversed_slice(lo: int, hi: int, offset: int = 0) -> DataFrame:
        return docs.filter(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
        ).select(
            (F.col("doc_id") + offset).alias("doc_id"),
            reversed_text.alias("text"),
        )

    pos = docs.filter(F.col("doc_id") < 200)
    neg = reversed_slice(200, 400)
    llr, unseen_micro, prior_micro = TA.nb_quality_train(pos, neg)
    held = docs.filter(
        (F.col("doc_id") >= 400) & (F.col("doc_id") < 460)
    ).unionByName(reversed_slice(400, 460, DT.AUG_OFFSET))
    return TA.nb_quality_score(held, llr, unseen_micro, prior_micro)


@query("curation_dsir_select", oracle=None)
def curation_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
    arXiv:2302.03169), the hashed-n-gram data selector LLaMA-class
    pipelines run over raw crawl: fit p on a trusted target corpus and q
    on the raw pool itself (unigram+bigram md5-bucket counts, add-one
    smoothing over 10k buckets), score every pool doc with Σ bucket
    log-ratios in exact integer micro-units, flag the deterministic
    top-30 by (weight desc, id) as selected. Fitting is two bucket-count
    aggregations + one ≤10k-row full-outer join; scoring is one
    broadcast join + one aggregation; the rank window sees only (id,
    weight) pairs — document text never shuffles, which is the whole
    100 TB story. Pool = held-out real docs [400,460) + token-reversed
    noise twins at +AUG ids: the real docs must dominate the selection.
    Golden-pinned via the independent pure-Python DSIR mirror
    (cross-engine ln ULP parity is not a SQL contract — the NB/LM
    precedent)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    words = F.split(
        F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " "), " "
    )
    reversed_text = F.array_join(
        F.transform(words, lambda w: F.reverse(w)), " "
    )
    target = docs.filter(F.col("doc_id") < 200)
    held = docs.filter((F.col("doc_id") >= 400) & (F.col("doc_id") < 460))
    pool = held.unionByName(
        held.select(
            (F.col("doc_id") + DT.AUG_OFFSET).alias("doc_id"),
            reversed_text.alias("text"),
        )
    )
    return TA.dsir_select(target, pool, k=30)


@query(
    "text_quality_score",
    oracle="""
    SELECT doc_id,
           CAST(n_chars AS INTEGER) AS n_chars,
           CAST(n_tokens AS INTEGER) AS n_tokens,
           ROUND(CAST(n_alpha AS DOUBLE) / GREATEST(n_chars, 1), 6) AS alpha_ratio,
           ROUND(CAST(stop AS DOUBLE) / GREATEST(n_tokens, 1), 6) AS stopword_ratio,
           ROUND(CAST(n_chars AS DOUBLE) / GREATEST(n_tokens, 1), 6) AS avg_token_len
    FROM (
      SELECT doc_id, length(text) AS n_chars,
             length(regexp_replace(text, '[^a-z]', '', 'g')) AS n_alpha,
             len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
             len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                 w -> w IN ('the', 'a', 'of', 'and', 'to', 'in', 'is', 'it'))) AS stop
      FROM documents
    )
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality ratios (length, punctuation, stopword share) — the C4-style filter signals."""
    return TA.quality_score(_t(spark, sf_dir, "documents"))


@query("text_lang_id", oracle=TA.lang_id_oracle_sql())
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-argmax language identification per document (n-gram-free heuristic, JVM-side expressions)."""
    return TA.lang_id(_t(spark, sf_dir, "documents"))


@query("text_doc_fingerprint", oracle=TA.doc_fingerprint_oracle_sql())
def text_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polynomial rolling-hash document fingerprint (content-stable 64-bit id per document), JVM-side."""
    return TA.doc_fingerprint(_t(spark, sf_dir, "documents"))


# messy-HTML derivation shared verbatim by Spark and the oracle: title
# with an entity, a style block, a script block containing a bare '<'
# (the case naive tag-stripping corrupts), a comment, heading/paragraph
# tags, and an entity-heavy trailing paragraph
_HTML_WRAP_SQL = """
  '<html><head><title> Doc ' || CAST(doc_id AS VARCHAR) || ' &amp; friends </title>'
  || '<style>p { color: red; }</style>'
  || '<script type="text/javascript">var x = 1 < 2; // junk</script></head>'
  || '<body><!-- crawler: drop me --><h1>Doc ' || CAST(doc_id AS VARCHAR) || '</h1><p>'
  || text || '</p><p>&quot;quoted&quot; &lt;tag&gt;&nbsp;end</p></body></html>'
"""
_HTML_TEXT_SQL, _HTML_TITLE_SQL = TA.extract_html_sql("html")
_HTML_ORACLE = f"""
WITH pages AS (SELECT doc_id, {_HTML_WRAP_SQL} AS html FROM documents)
SELECT doc_id, {_HTML_TITLE_SQL} AS title,
       CAST(length({_HTML_TEXT_SQL}) AS BIGINT) AS n_chars,
       md5({_HTML_TEXT_SQL}) AS text_md5
FROM pages
"""


@query("text_html_extract", oracle=_HTML_ORACLE)
def text_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML → visible text, step zero of a web-crawl pipeline: drop
    script/style/comment spans (including a '<' INSIDE the script body —
    the case naive tag-stripping corrupts), strip the remaining tags,
    decode the common entities (&amp; last, so '&amp;lt;' decodes to the
    literal '&lt;'), collapse whitespace, and pull the <title>. Pure
    column expressions in the Java-regex ∩ RE2 subset (no lookarounds) —
    the whole extraction is engine-exact and rides the scan; the md5 of
    the extracted text is the strongest possible parity check."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    did = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit("<html><head><title> Doc "), did, F.lit(" &amp; friends </title>"),
        F.lit("<style>p { color: red; }</style>"),
        F.lit('<script type="text/javascript">var x = 1 < 2; // junk</script></head>'),
        F.lit("<body><!-- crawler: drop me --><h1>Doc "), did, F.lit("</h1><p>"),
        F.col("text"),
        F.lit("</p><p>&quot;quoted&quot; &lt;tag&gt;&nbsp;end</p></body></html>"),
    )
    pages = docs.select("doc_id", html.alias("html"))
    extracted = TA.extract_html_text(F.col("html"))
    return pages.select(
        "doc_id",
        TA.extract_html_title(F.col("html")).alias("title"),
        F.length(extracted).cast("long").alias("n_chars"),
        F.md5(extracted).alias("text_md5"),
    )


# ---------------------------------------------------------------------------
# Document dedup family (exact / minhash-LSH / n-gram jaccard / simhash)
# ---------------------------------------------------------------------------

@query("dedup_exact_text", oracle=DT.EXACT_DEDUP_SQL)
def dedup_exact_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact document dedup: first-wins winners per normalized md5 content hash (J1 over the documents table)."""
    return DT.exact_dedup(_t(spark, sf_dir, "documents"))


@query("dedup_minhash_lsh", oracle=DT.minhash_lsh_pairs_oracle_sql(0.5))
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16) + banded-LSH near-dup candidate pairs over document shingles, verified by exact Jaccard."""
    corpus = DT.augmented_corpus(_t(spark, sf_dir, "documents"))
    return DT.minhash_lsh_pairs(corpus, threshold=0.5)


@query("dedup_ngram_jaccard", oracle=DT.ngram_jaccard_oracle_sql(0.5))
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard similarity join (df-ordered prefix filter, perfect recall at the threshold)."""
    corpus = DT.augmented_corpus(_t(spark, sf_dir, "documents"))
    return DT.ngram_jaccard_pairs(corpus, threshold=0.5)


@query("dedup_simhash", oracle=DT.simhash_oracle_sql())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash per document from term frequencies (the per-doc fingerprint the banded pair join consumes)."""
    corpus = DT.augmented_corpus(_t(spark, sf_dir, "documents"))
    return DT.simhash(corpus)


@query("dedup_simhash_pairs", oracle=DT.simhash_near_dup_oracle_sql(2))
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash banded near-dup pairs with exact hamming refine (the text analog of the image/audio band join)."""
    corpus = DT.augmented_corpus(_t(spark, sf_dir, "documents"))
    return DT.simhash_near_dup_pairs(corpus, max_hamming=2)


@query("dedup_near_dup_resolution", oracle=DT.near_dup_resolution_oracle_sql(0.5))
def dedup_near_dup_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs → transitive clusters → keep-list: connected components over
    the minhash-LSH pair graph (hash-to-min label propagation), first-wins
    representative per cluster, every corpus doc decided. Oracle: recursive
    CTE computing min reachable label."""
    corpus = DT.augmented_corpus(_t(spark, sf_dir, "documents"))
    pairs = DT.minhash_lsh_pairs(corpus, threshold=0.5)
    return DT.near_dup_resolution(corpus, pairs)


# ---------------------------------------------------------------------------
# Similarity search over embeddings
# ---------------------------------------------------------------------------

@query("ann_cosine_topk", oracle=SIM.cosine_topk_oracle_sql(k=5, max_query_id=8))
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact cosine top-k per query vector — the ANN recall baseline (K10 distance family)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 8)
    return SIM.cosine_topk_bruteforce(queries_df, emb, k=5)


@query("ann_lsh_topk", oracle=None)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table multi-probe hyperplane-LSH ANN top-k (J5 bucket probe over embeddings), golden-pinned."""
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 8)
    return SIM.lsh_ann_topk(queries_df, emb, k=5, dim=64)


@query("ann_pq_topk", oracle=None)
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (third ANN family next to LSH and IVF):
    compressed-domain asymmetric-distance scan (8-byte codes for 64-dim
    vectors), deterministic Lloyd-trained codebooks, exact cosine re-rank
    of refine·k candidates. Golden-pinned oracle (codebook training is a
    driver-side numpy loop, not SQL)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 8)
    return SIM.pq_ann_topk(queries_df, emb, k=5, refine=10)


@query(
    "ann_binary_quant_topk",
    oracle=SIM.binary_quant_topk_oracle_sql(k=5, dims=64, refine=4, max_query_id=8),
)
def ann_binary_quant_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantization ANN — 1 bit per dimension: vectors collapse to
    their 64-bit sign masks (a pure shiftleft fold, no UDF), the coarse
    pass is hamming distance (one XOR+popcount per pair instead of 64
    multiplies, 32× less vector I/O than float32), exact cosine re-ranks
    refine·k survivors. Completes the family's three orthogonal cuts —
    IVF cuts candidates, PQ/binary-quant cut per-candidate cost,
    matryoshka cuts dimensions — and like matryoshka it's the
    quantization cut alone, fully SQL-mirrored (hamming recomputed
    per-element in DuckDB from the same sign predicate). Honest recall
    at THIS fixture's 64 dims is refine-hungry (0.40@refine=32 on the
    100k gaussian worst case, measured r8) — the 1-bit mode earns its
    keep at the 768-1536d embeddings production rerankers emit; the
    operator docstring states the tradeoff."""
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 8)
    return SIM.binary_quant_ann_topk(queries_df, emb, k=5, dims=64, refine=4)


@query(
    "ann_sq8_topk",
    oracle=SIM.sq8_topk_oracle_sql(k=5, dims=64, refine=4, max_query_id=8),
)
def ann_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantization (SQ8) ANN — 8 bits per dimension, the
    no-training point on the precision ladder between the 1-bit sign
    mask and PQ: per-dim [min,max] trained in ONE aggregate pass (the
    whole "codebook" is 2·dims doubles, mergeable across shards by
    min/max — no Lloyd loop), affine dequantize as a pure JVM
    ``zip_with`` expression, coarse rank by the FAISS-style asymmetric
    distance (raw query × dequantized corpus), exact cosine re-rank of
    refine·k. Fully SQL-mirrored: the DuckDB oracle recomputes the
    identical quantize/dequantize in the identical float-op order
    (ROUND half-away-from-zero ≡ Spark HALF_UP on the non-negative
    argument). Unlike the 1-bit mode, 8 bits is nearly lossless at this
    fixture's 64 dims — the 4× vector-I/O cut with recall ≈ 1.0."""
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 8)
    return SIM.sq8_ann_topk(queries_df, emb, k=5, dims=64, refine=4)


@query("ann_nsw_topk", oracle=None)
def ann_nsw_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharded NSW proximity-GRAPH ANN — the index family HNSW-era
    vector stores default to, and the engine's fourth orthogonal ANN
    strategy next to hashing (LSH), cell probing (IVF) and quantization
    (PQ/SQ8/binary): each corpus shard builds an independent
    navigable-small-world graph inside one ``applyInPandas`` group
    (Malkov et al. 2014; memory bounded by shard size, build
    embarrassingly parallel, crash-safe per shard), every query
    beam-searches every shard, and the exact JVM-side rounded cosine
    re-ranks the nomination union — the Python graph nominates, it
    never scores. Golden-pinned oracle (graph construction is
    inherently iterative, not SQL); the pin is computed by the
    independent numpy NSW in tools/golden_reference.py."""
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 8)
    return GA.nsw_ann_topk(
        queries_df, emb, k=5, n_shards=4, m=8, ef_build=24, ef_search=16
    )


@query("ann_nsw_routed_topk", oracle=None)
def ann_nsw_routed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-ROUTED sharded NSW — the candidate cut composed with the
    graph cut: shards are the coarse quantizer's cells and each query
    beam-searches only its 2 nearest cells' graphs (instead of every
    shard). The production topology at 10^11 vectors: per-query work is
    n_probe beams regardless of shard COUNT, so corpus growth adds
    shards without adding per-query cost; recall is bounded by cell
    recall exactly like IVF. Golden-pinned by the independent numpy
    mirror (cell assignment shares the IVF families' fold-order math)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 8)
    return GA.nsw_routed_ann_topk(
        queries_df, emb, k=5, n_cells=8, n_probe=2, m=8, ef_build=24,
        ef_search=16,
    )


@query("ann_nsw_routed_spill_topk", oracle=None)
def ann_nsw_routed_spill_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Routed NSW with SPANN-style BOUNDARY SPILL (closure assignment,
    Chen et al. 2021): a corpus vector joins every cell within (1+eps)
    of its nearest centroid, so cell-boundary neighbors — the routed
    topology's recall tax — appear in all the cells a nearby query
    probes. Same probe budget as ann_nsw_routed_topk (2 of 8 cells);
    recall recovered for a bounded state blow-up (the spill factor,
    measured by the bench's 100k probe each round). Duplicate
    nominations collapse before the rank window. Golden-pinned by the
    independent numpy mirror of the closure rule."""
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 8)
    return GA.nsw_routed_ann_topk(
        queries_df, emb, k=5, n_cells=8, n_probe=2, m=8, ef_build=24,
        ef_search=16, spill_eps=0.25,
    )


@query("sample_kcenter_diverse", oracle=None)
def sample_kcenter_diverse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center DIVERSITY sampling (Gonzalez 1985 — the coreset
    selector a curated fine-tuning set runs after dedup: SemDeDup removes
    redundancy, this picks the k most mutually-distant representatives):
    seed = lowest id, then k−1 rounds of "farthest from every chosen
    center", each round one narrow Arrow pass (centers ride the closure
    like IVF centroids, fold-order distances) + a 1-row struct-max agg
    with ties → lowest id. d2_far is non-increasing by construction and
    bounds the corpus coverage radius. Golden-pinned from the
    independent numpy mirror of the greedy loop."""
    emb = _t(spark, sf_dir, "embeddings")
    return SIM.kcenter_sample(emb, k=10)


@query("sample_kcenter_diverse_cells", oracle=None)
def sample_kcenter_diverse_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage composable-coreset Gonzalez (the 100 TB form of
    sample_kcenter_diverse): nearest-cell assignment in ONE narrow Arrow
    pass, per-cell greedy k-center inside one ``applyInPandas`` group
    each, exact greedy over the pooled ≤ n_cells·k representatives — the
    corpus is scanned O(1) times instead of the exact form's k passes
    (r10 verdict #4: each exact pass is a full corpus scan at scale).
    Same deterministic tie rules at every stage, golden-pinned from an
    independent numpy mirror of all three stages."""
    emb = _t(spark, sf_dir, "embeddings")
    return SIM.kcenter_sample_cells(emb, k=10, n_cells=16)


@query("ann_nsw_routed_pq_topk", oracle=None)
def ann_nsw_routed_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-COMPRESSED routed NSW — the DiskANN composition (Subramanya et
    al. 2019) closing the routed family's memory story: the persisted
    cell shards hold (8-byte PQ codes, adjacency) instead of raw float64
    vectors (~64× vector-payload cut — at 10^11 vectors the payload, not
    the adjacency, dominates shard memory), the graph was BUILT at full
    precision offline, probes beam with ADC over the codes
    (nsw_beam_search_adc), and survivors exact-rerank from the raw
    corpus table. Compression costs candidate quality only — recovered
    by ef_search, never wrong answers. Golden-pinned from the
    independent numpy mirror of the whole composition (unit-space
    codebook train, per-cell encode, ADC beams, exact rerank)."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 8)
    idx = _nsw_routed_pq_index(spark, "ann_nsw_routed_pq_topk", sf_dir, emb)
    # 8-bit codes + a wider beam than the raw probe: ADC noise is paid in
    # beam width, never in answers (r9 calibration: C=256/ef=32 matches
    # the raw routed probe's recall on this fixture; C=16/ef=16 was 0.55)
    return GA.nsw_routed_pq_ann_topk(
        q, emb, idx, k=5, n_probe=2, ef_search=32
    )


@query("stream_routed_pq_upsert_probe", oracle=None)
def stream_routed_pq_upsert_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING INDEX MAINTENANCE — the full production crawl loop in
    one declared query: day-batches of documents flow through the
    RETENTION-enabled incremental-dedup stream, each batch's SURVIVORS
    feed ``upsert_nsw_routed_pq_index`` inside ``foreachBatch`` (frozen
    centroids + codebooks — the add-vs-retrain contract; replay-
    idempotent via the (shard, vec_id) anti-join), and the stream then
    probes ITS OWN updated index — crawl → dedup → index-maintain →
    search end to end (reference analog: insert-on-miss inside the dedup
    loop, apps/dedup/src/encoder.c:666-703 — state maintenance lives
    INSIDE the stream, not in a nightly rebuild).

    Day 0 plants exact duplicates of the seed history (rejected — their
    vectors must never enter the index), day 1 plants duplicates of day-0
    survivors (idem, against the ADVANCED state); texts are md5 tokens so
    the independent mirror re-derives the flags from first principles
    (hashlib md5 + pure-python SimHash). Output: each day's top-k probe
    of the evolved index — golden-pinned against the non-Spark mirror of
    the WHOLE loop (dedup flags, state advance, frozen-book re-encode,
    continued insertion, ADC beams, exact rerank)."""
    import glob as _glob
    import hashlib as _hl
    import os as _os

    from .streaming.incremental_dedup_stream import (
        seed_signatures,
        stream_incremental_dedup as _run,
    )

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 8)

    def txt(tag: str, i: int) -> str:
        return " ".join(
            _hl.md5(f"{tag}-{i}-{j}".encode()).hexdigest() for j in (1, 2, 3)
        )

    with _scratch("bensp_srup_") as base:
        idx_path = _os.path.join(base, "idx")
        with _fixture_build("stream_routed_pq_upsert_probe"):
            # day-0 index over the base corpus: frozen centroids + codebooks
            # (train slice = all base ids < 2048, mirroring the golden)
            GA.save_nsw_routed_pq_index(
                emb.filter(F.col("vec_id") < 400), idx_path, n_cells=8, m=8,
                ef_build=24, n_subspaces=8, n_centroids=256,
            )
            # batches share tools/golden_reference._srup_batches's recipe:
            # day 0 = ids 400..449 (first 5 copy history texts), day 1 =
            # 450..499 (first 5 copy day-0 survivors 405..409)
            b0 = [
                (400 + i, txt("uh", i) if i < 5 else txt("ud", 400 + i))
                for i in range(50)
            ]
            b1 = [
                (450 + i, txt("ud", 405 + i) if i < 5 else txt("ud", 450 + i))
                for i in range(50)
            ]
            hist = local_rows_df(
                spark, [(i, txt("uh", i)) for i in range(20)],
                "doc_id long, text string",
            )
            src = _os.path.join(base, "src")
            _os.makedirs(src)
            for i, rows in enumerate((b0, b1)):
                sl = local_rows_df(spark, rows, "doc_id long, text string")
                tmp = _os.path.join(base, f"w{i}")
                sl.coalesce(1).write.mode("overwrite").parquet(tmp)
                part = _glob.glob(f"{tmp}/part-*.parquet")[0]
                dst = _os.path.join(src, f"day{i}.parquet")
                shutil.move(part, dst)
                _os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
            seed_signatures(hist, _os.path.join(base, "sig"), use_bloom=False)
        probe_out = _os.path.join(base, "probe_out")

        def maintain_and_probe(survivors: DataFrame, batch_id: int) -> None:
            # survivors' embeddings continue the index (corpus = the lake
            # table the exact rerank reads); probe the UPDATED index and
            # write per-day (partition overwrite → replay-idempotent, the
            # on_survivors contract)
            add = emb.join(
                survivors.select(F.col("doc_id").alias("vec_id")),
                "vec_id",
                "left_semi",
            )
            GA.upsert_nsw_routed_pq_index(add, emb, idx_path)
            # NOT memoized: the upsert just rewrote shards, and a cached
            # load would serve the pre-upsert file listing
            idx = GA.load_nsw_routed_pq_index(spark, idx_path)
            GA.nsw_routed_pq_ann_topk(
                q, emb, idx, k=5, n_probe=2, ef_search=32
            ).write.mode("overwrite").parquet(f"{probe_out}/day={batch_id}")

        stream = _replay(spark, "doc_id long, text string", src)
        _run(
            spark,
            stream,
            _os.path.join(base, "sig"),
            _os.path.join(base, "flags"),
            _os.path.join(base, "ckpt"),
            compact_every=2,
            retention_window=3,
            on_survivors=maintain_and_probe,
        )
        return (
            spark.read.parquet(probe_out)
            .select(
                F.col("day").cast("long").alias("day"),
                "query_id",
                "neighbor_id",
                "rank",
                "cosine",
            )
            .localCheckpoint(eager=True)
        )


@query("ann_opq_topk", oracle=None)
def ann_opq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPQ ANN (Ge et al. 2013): PQ's compressed-domain ADC scan run in a
    LEARNED orthogonal rotation of the embedding space — eigenvalue-
    allocation init + Procrustes/Lloyd alternation trained driver-side
    on the bounded sample, the rotation then rides the encode UDF and
    the query tables; the exact re-rank stays in the raw space. Same
    code bytes as ann_pq_topk; the win is on corpora with low intrinsic
    dimension (real neural embeddings — the bench asserts the low-rank
    fixture win at 100k scale; isotropic gaussians like THIS fixture
    don't benefit, documented in opq_rotation). Golden-pinned oracle
    (eigh/SVD + Lloyd training is not SQL); pin computed by the
    independent numpy OPQ in tools/golden_reference.py."""
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 8)
    rot = SIM.opq_rotation(emb, n_subspaces=8, n_centroids=16)
    return SIM.pq_ann_topk(queries_df, emb, k=5, refine=10, rotation=rot)


@query("ann_pca_topk", oracle=None)
def ann_pca_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA dimension-cut ANN — the learned counterpart to the
    matryoshka prefix slice: project to the top-16 principal components
    (eigh of the uncentered second moment over the bounded sample,
    row-wise pinned-shape gemv projection), coarse-rank by projected
    cosine, exact 64-dim re-rank. The prefix slice is only
    information-dense when embeddings were MRL-trained; PCA earns the
    same 4× first-pass cut for arbitrary embeddings (on the low-rank
    fixture the learned cut strictly beats the prefix — tested).
    Golden-pinned oracle (eigendecomposition is not SQL); pin computed
    by the independent numpy PCA in tools/golden_reference.py."""
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 8)
    return SIM.pca_ann_topk(queries_df, emb, k=5, dims=16, refine=4)


@query(
    "ann_rrf_fusion",
    oracle=SIM.rrf_fusion_oracle_sql(
        [
            SIM.ivf_topk_oracle_sql(k=5, max_query_id=8, n_cells=16, n_probe=2),
            SIM.matryoshka_topk_oracle_sql(k=5, dims=16, refine=4, max_query_id=8),
            SIM.sq8_topk_oracle_sql(k=5, dims=64, refine=4, max_query_id=8),
        ],
        k=5,
    ),
)
def ann_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank FUSION of three ANN families with incomparable
    scores — IVF (cosine over probed cells), matryoshka (truncated-dim
    cosine), SQ8 (asymmetric quantized distance): only the RANKS cross
    the family boundary, each contributing round(1e6/(60+rank)) integer
    points (order-free sums — parallelism-proof hash). The standard
    zero-training ensemble for hybrid retrieval; the oracle composes the
    three families' exact SQL mirrors through the identical fusion
    algebra."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 8)
    return SIM.rrf_fuse(
        [
            SIM.ivf_ann_topk(q, emb, k=5, n_cells=16, n_probe=2),
            SIM.matryoshka_ann_topk(q, emb, k=5, dims=16, refine=4),
            SIM.sq8_ann_topk(q, emb, k=5, dims=64, refine=4),
        ],
        k=5,
    )


@query(
    "ann_matryoshka_topk",
    oracle=SIM.matryoshka_topk_oracle_sql(k=5, dims=16, refine=4, max_query_id=8),
)
def ann_matryoshka_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coarse-to-fine ANN on the DIMENSION axis (matryoshka retrieval):
    first pass scores on the first 16 of 64 components (4× less
    arithmetic and vector I/O), exact full-dimension rerank of refine·k
    survivors — the compute-side cut next to IVF/LSH/PQ's candidate-side
    cuts. Fully SQL-expressible, so the whole two-phase plan is
    value-checked against DuckDB."""
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 8)
    return SIM.matryoshka_ann_topk(queries_df, emb, k=5, dims=16, refine=4)


@query("ann_ivfpq_topk", oracle=None)
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the FAISS-style composition of the coarse quantizer and
    product quantization (the billion-vector production layout): each
    query probes n_probe cells, scans ONLY those cells' 8-byte PQ codes
    via ADC table lookups, and exact-rerank's refine·k survivors. Codes
    are raw-vector (cell-independent), so upsert/retrain never re-encode.
    Golden-pinned oracle (codebook training is numpy; the independent
    non-Spark reference recomputes assignment, codes, probe and rerank)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 8)
    # sizes pinned to the golden's (tiny-corpus) config — the PRODUCTION
    # defaults are n_centroids=256 / refine=max(8, 2·n_probe), asserted
    # against a recall floor by the bench's 100k probe
    return SIM.ivfpq_ann_topk(
        queries_df, emb, k=5, n_cells=16, n_probe=2, n_centroids=16, refine=4
    )


@query("ann_ivfpq_residual_topk", oracle=None)
def ann_ivfpq_residual_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with RESIDUAL codes — FAISS IndexIVFPQ's actual encoding:
    codebooks train on (vector − cell centroid), so the same code budget
    quantizes a tighter distribution WHERE the corpus clusters (the
    bench's clustered-fixture probe asserts the win each round: recall@10
    0.866 residual vs 0.746 raw at the auto defaults; on structureless
    gaussians it's a wash by construction — residuals of gaussians are
    still gaussian). Raw remains the default because cell-independent
    codes make index upsert a pure append. ADC tables are per
    (query, probed cell). Golden-pinned from the independent numpy
    reference."""
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 8)
    return SIM.ivfpq_ann_topk(
        queries_df, emb, k=5, n_cells=16, n_probe=2, n_centroids=16, refine=4,
        residual=True,
    )


# golden pins the resolved auto sizes: ivf_defaults(500) = (22, 8), 8-bit
# codebooks (the r8 production default), refine = max(8, 2·8) = 16. Guarded
# the same way as ann_ivf_auto_topk's pin (test_ivf_defaults_rule).
@query("ann_ivfpq_auto_topk", oracle=None)
def ann_ivfpq_auto_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with EVERYTHING auto-sized — the call a production user
    makes: n_cells/n_probe from ivf_defaults (√N rule, probe floor 8),
    8-bit codebooks (n_centroids=256 — the r7 verdict's headline fix;
    the old 4-bit default measured recall@10 0.30 on the bench's 100k
    probe), and refine scaling with the probe width (max(8, 2·n_probe) —
    ADC quantization error binds IVF-PQ recall, so the exact re-rank
    window must widen as more cells are probed; measured 0.802 vs 0.663
    at the old static refine). Golden-pinned at the resolved sizes from
    the independent numpy reference; the bench asserts the 0.75 recall
    floor at these defaults every round.

    The auto-sized index follows the same build-once contract as the
    prebuilt family (r11 verdict item 4): training previously re-ran per
    invocation — corpus count, codebook-sample collect, driver Lloyd,
    encode + assignment scans — all of which are index-BUILD work, not
    probe work (the production user trains once, offline, like mkdb).
    The build is persisted via save_ivfpq_index at the SAME resolved
    sizes and the probe runs against the loaded index — bit-identical to
    the inline build (doubles round-trip parquet exactly; shared golden
    oracle re-verified). Cold build seconds land in
    COLD_BUILD_SECONDS["ann_ivfpq_auto_topk:build"]."""
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 8)

    def build(path: str) -> int:
        n_cells, _ = SIM.ivf_defaults(emb.count())
        SIM.save_ivfpq_index(
            emb, path, n_cells=n_cells, n_subspaces=8, n_centroids=256
        )
        return n_cells

    idx, n_cells = _prebuilt(
        spark, "ann_ivfpq_auto_topk", "ivfpq_auto", sf_dir, build,
        "ivfpq", SIM.load_ivfpq_index,
    )
    # the identical auto-resolution the inline path applies (ivf_defaults
    # probe rule); refine=None scales with the probe width as before
    n_probe = min(n_cells, max(8, n_cells // 16))
    return SIM.ivfpq_ann_topk(
        queries_df, emb, k=5, n_probe=n_probe, refine=None, index=idx
    )


@query("ann_ivf_topk", oracle=SIM.ivf_topk_oracle_sql(k=5, max_query_id=8, n_cells=16, n_probe=2))
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantizer ANN: nearest-cell assignment, n_probe cells per
    query, exact cosine re-rank (the FAISS-style scale path next to
    ann_lsh_topk's hyperplane-LSH path)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 8)
    return SIM.ivf_ann_topk(queries_df, emb, k=5, n_cells=16, n_probe=2)


# ivf_defaults(500) == (22, 8): the sf0.01 embeddings table has 500 rows,
# so the auto-sized oracle pins those values. The pin is guarded by
# tests/test_llm_ops.py::test_ivf_defaults_rule (no silent drift: if the
# sizing rule changes, that test points here).
@query(
    "ann_ivf_auto_topk",
    oracle=SIM.ivf_topk_oracle_sql(k=5, max_query_id=8, n_cells=22, n_probe=8),
)
def ann_ivf_auto_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with CORPUS-SIZE-AWARE sizing (n_cells=None → ivf_defaults:
    n_cells ≈ √N, n_probe = max(8, n_cells/16)) — the production default.
    A static cell count under-serves recall as the corpus grows: the bench
    scale probe measured recall@10 = 0.545 for (16, 2) on 100k vectors vs
    ≈ 0.96 for the sized (316, 19), and asserts a 0.8 floor per round."""
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 8)
    return SIM.ivf_ann_topk(queries_df, emb, k=5, n_cells=None, n_probe=None)


# ---------------------------------------------------------------------------
# Ferret similarity-search pipeline (reference: apps/ferret §3.3)
# ---------------------------------------------------------------------------

def _ferret_single_region_oracle(k: int = 5, max_q: int = 8) -> str:
    dot = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "list_transform(range(1, len(qv) + 1), i -> (qv[i] - cv[i]) * (qv[i] - cv[i]))), "
        "(x, y) -> x + y)"
    )
    return f"""
    WITH q AS (SELECT vec_id AS q_image_id, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < {max_q}),
    c AS (SELECT vec_id AS c_image_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
    scored AS (
      SELECT q_image_id, c_image_id, ROUND({dot}, 6) AS emd
      FROM c CROSS JOIN q
    )
    SELECT q_image_id, rank, name, emd FROM (
      SELECT q_image_id, c_image_id,
             printf('img_%05d.jpg', CAST(c_image_id AS INTEGER)) AS name, emd,
             CAST(ROW_NUMBER() OVER (PARTITION BY q_image_id
                  ORDER BY emd, c_image_id) AS INTEGER) AS rank
      FROM scored
    ) WHERE rank <= {k}
    """


@query("ferret_topk_single_region", oracle=_ferret_single_region_oracle())
def ferret_topk_single_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full ferret pipeline (probe → merge → EMD rerank → top-K → name join)
    on single-region vecsets, where exact EMD == squared L2 — giving the
    whole pipeline a SQL oracle."""
    from .ferret import fixtures as FF
    from .ferret import pipeline as FP

    # corpus feeds four plan branches in ferret_topk (queries derive from it
    # too) — persist + materialize so the collect_list grouping runs once.
    from .session import pooled_persist

    corpus = pooled_persist(
        FF.vecsets_from_embeddings(spark, sf_dir, regions_per_image=1), "q.ferret_single.corpus"
    )
    queries_df = corpus.filter(F.col("image_id") < 8)
    return FP.ferret_topk(queries_df, corpus, top_k=5, dim=64, mode="exhaustive")


@query("ferret_topk_multiregion")
def ferret_topk_multiregion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-region vecsets (4 regions/image from consecutive embeddings):
    exercises the exact-EMD transportation simplex in the rank stage.
    Deterministic but not SQL-expressible → rows-only driver check; the
    golden-exactness test vs the numpy reference lives in tests/test_ferret.py."""
    from .ferret import fixtures as FF
    from .ferret import pipeline as FP

    from .session import pooled_persist

    corpus = pooled_persist(
        FF.vecsets_from_embeddings(spark, sf_dir, regions_per_image=4), "q.ferret_multi.corpus"
    )
    queries_df = corpus.filter(F.col("image_id") < 4)
    return FP.ferret_topk(queries_df, corpus, top_k=5, dim=64, mode="exhaustive")


# ---------------------------------------------------------------------------
# Structured Streaming (T1-T8): a real micro-batch stream inside the
# correctness gate — availableNow trigger, event-time windows + watermark.
# ---------------------------------------------------------------------------

@query(
    "stream_windowed_metrics",
    oracle="""
    SELECT date_trunc('day', ts) AS window_start, event_type,
           COUNT(*) AS n_events
    FROM events GROUP BY 1, 2
    """,
)
def stream_windowed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replays the events table through a parquet readStream
    (maxFilesPerTrigger=1 → multiple micro-batches), watermarked event-time
    tumbling windows, complete-mode memory sink. Result must equal the
    batch aggregation — proving the streaming path computes the same
    answer as SQL."""
    import uuid

    from .streaming import dedup_stream as DS

    ev = _t(spark, sf_dir, "events").select("ts", "event_type", "value")
    with _scratch("bensp_stream_src_") as src:
        # 3 files → 3 micro-batches: enough to prove cross-batch state/watermark
        # behavior; each extra availableNow micro-batch costs ~0.7 s of fixed
        # micro-batch overhead on local mode
        with _fixture_build("stream_windowed_metrics"):
            ev.repartition(3).write.mode("overwrite").parquet(src)
        stream = _replay(spark, "ts timestamp, event_type string, value double", src)
        agg = DS.windowed_event_metrics(stream, window="1 day", watermark="2 days")
        qname = f"winq_{uuid.uuid4().hex[:8]}"
        with _stateful_stream_parts(spark, src):
            q = (
                agg.writeStream.format("memory")
                .queryName(qname)
                .outputMode("complete")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        # the result lives in the memory sink, not in the temp source dir
        return spark.sql(f"SELECT window_start, event_type, n_events FROM {qname}")


# ---------------------------------------------------------------------------
# Multimodal: binary image column → decode → segment → extract → search
# (S4/K8/K9/K13 + the whole ferret query path; deterministic, rows-only)
# ---------------------------------------------------------------------------

@query("multimodal_image_search")
def multimodal_image_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic raw-rgb images through the full image pipeline (decode →
    HSV → SRM segmentation → 14-dim region features) then ferret top-3.
    Deterministic; every image's top-1 is itself (checked in tests)."""
    from .ferret import pipeline as FP
    from .multimodal import images as IM

    imgs = IM.synthetic_images(spark, n=12, size=32)
    # ferret_topk references the corpus in four plan branches (query regions,
    # corpus regions, EMD rerank, name join) — persist + materialize or the
    # Python decode→HSV→SRM pipeline runs once per branch.
    from .session import pooled_persist

    vecsets = pooled_persist(IM.images_to_vecsets(imgs), "q.multimodal_search.vecsets")
    return FP.ferret_topk(vecsets, vecsets, top_k=3, mode="exhaustive")


@query("multimodal_image_dedup")
def multimodal_image_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash (dHash) image near-dup detection: 12 textured
    images + 4 planted brightness-shifted copies; band-joined candidates,
    exact hamming ≤ 3. The hash is 8 bytes/image regardless of pixel
    count, so the dedup join shuffles metadata only — the image-corpus
    analog of the text SimHash pipeline. Deterministic (integer kernel)."""
    from .multimodal import images as IM

    imgs = IM.synthetic_textured_images(
        spark, n=12, size=32, dup_of={100: 0, 101: 1, 102: 2, 103: 3}
    )
    return IM.image_near_dup_pairs(imgs, max_hamming=3)


@query("multimodal_audio_dedup")
def multimodal_audio_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup detection: 8 amplitude-modulated noise clips + 3
    planted half-gain copies; integer energy-envelope fingerprints matched
    through the shared banded hamming join. Deterministic (integer
    kernel)."""
    import numpy as np

    from .multimodal import audio_video as AV

    rows = []
    sigs = []
    for i in range(8):
        rng = np.random.default_rng(90 + i)
        env = rng.uniform(0.1, 1.0, 65).repeat(130)[:8192]
        sig = (rng.uniform(-1, 1, 8192) * env * 12000).astype(np.int16)
        sigs.append(sig)
        rows.append((i, "pcm-s16le", 16000, 1, AV.encode_pcm_s16le(sig)))
    for i in range(3):
        rows.append((100 + i, "pcm-s16le", 16000, 1, AV.encode_pcm_s16le(sigs[i] // 2)))
    audio = local_rows_df(spark, rows, AV.AUDIO_TABLE_SCHEMA, 4)
    return AV.audio_near_dup_pairs(audio, max_hamming=3)


@query("multimodal_audio_snippet_search")
def multimodal_audio_snippet_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-by-audio-snippet (Wang 2003 landmark fingerprinting — the
    "Shazam" method, the audio analog of the ferret image search): 8
    two-second tracks are landmark-indexed (spectrogram-peak pairs →
    24-bit hashes, ONE mapInPandas decode pass); four snippets — three
    cut at different offsets from different tracks plus one
    amplitude-HALVED cut (the relative peak threshold makes the
    constellation gain-invariant) — each recover their source track and
    exact frame offset by hash-join + offset-consistency voting, all JVM
    after extraction. The planted truth is ~1000 votes vs a ≤5-vote
    collision floor. Golden-pinned via the independent pure-Python vote
    mirror over the scalar kernel (codec-independent framing, like the
    other multimodal pins)."""
    import numpy as np

    from .multimodal import audio_landmarks as AL
    from .multimodal import audio_video as AV

    tracks = []
    rows = []
    for i in range(8):
        rng = np.random.default_rng(140 + i)
        env = rng.uniform(0.1, 1.0, 129).repeat(256)[:32768]
        sig = (rng.uniform(-1, 1, 32768) * env * 12000).astype(np.int16)
        tracks.append(sig)
        rows.append((i, "pcm-s16le", 16000, 1, AV.encode_pcm_s16le(sig)))
    corpus = local_rows_df(spark, rows, AV.AUDIO_TABLE_SCHEMA, 4)
    snip_rows = [
        (0, "pcm-s16le", 16000, 1, AV.encode_pcm_s16le(tracks[0][2560:10752])),
        (1, "pcm-s16le", 16000, 1, AV.encode_pcm_s16le(tracks[1][5120:13312])),
        (2, "pcm-s16le", 16000, 1, AV.encode_pcm_s16le(tracks[2][10240:18432])),
        (
            3,
            "pcm-s16le",
            16000,
            1,
            AV.encode_pcm_s16le((tracks[0][4096:12288] // 2).astype(np.int16)),
        ),
    ]
    snips = local_rows_df(spark, snip_rows, AV.AUDIO_TABLE_SCHEMA, 2)
    return AL.snippet_match(snips, AL.extract_landmarks(corpus), k=1)


@query("stream_audio_snippet_search", oracle=None)
def stream_audio_snippet_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-by-snippet over a STREAM of snippets against the static
    landmark index (streaming/ann_stream.stream_snippet_match — the live
    "what is playing" service shape): the same four snippets arrive as a
    2-file stream (one trigger each), each micro-batch runs the batch
    match exactly (extraction is stateless per snippet; the vote needs
    only that snippet's landmarks), so the drained result set must equal
    the batch query bit-for-bit — shares
    multimodal_audio_snippet_search's golden oracle VERBATIM."""
    import numpy as np

    from .multimodal import audio_landmarks as AL
    from .multimodal import audio_video as AV
    from .streaming.ann_stream import stream_snippet_match

    tracks = []
    rows = []
    for i in range(8):
        rng = np.random.default_rng(140 + i)
        env = rng.uniform(0.1, 1.0, 129).repeat(256)[:32768]
        sig = (rng.uniform(-1, 1, 32768) * env * 12000).astype(np.int16)
        tracks.append(sig)
        rows.append((i, "pcm-s16le", 16000, 1, AV.encode_pcm_s16le(sig)))
    corpus = local_rows_df(spark, rows, AV.AUDIO_TABLE_SCHEMA, 4)
    snip_rows = [
        (0, "pcm-s16le", 16000, 1, AV.encode_pcm_s16le(tracks[0][2560:10752])),
        (1, "pcm-s16le", 16000, 1, AV.encode_pcm_s16le(tracks[1][5120:13312])),
        (2, "pcm-s16le", 16000, 1, AV.encode_pcm_s16le(tracks[2][10240:18432])),
        (
            3,
            "pcm-s16le",
            16000,
            1,
            AV.encode_pcm_s16le((tracks[0][4096:12288] // 2).astype(np.int16)),
        ),
    ]
    with _scratch("bensp_stream_snip_") as base:
        with _fixture_build("stream_audio_snippet_search"):
            local_rows_df(spark, snip_rows, AV.AUDIO_TABLE_SCHEMA, 2).write.mode(
                "overwrite"
            ).parquet(f"{base}/src")
            index = AL.extract_landmarks(corpus).localCheckpoint(eager=True)
        stream = _replay(spark, AV.AUDIO_TABLE_SCHEMA, f"{base}/src")
        stream_snippet_match(spark, stream, index, f"{base}/out", f"{base}/ckpt")
        from .streaming.ann_stream import read_sink

        return read_sink(spark, f"{base}/out").localCheckpoint(eager=True)


@query("multimodal_audio_dedup_wav")
def multimodal_audio_dedup_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audio near-dup pipeline over a REAL container format: the same
    clips as multimodal_audio_dedup, RIFF/WAVE-encoded and decoded
    through the pure-stdlib WAV path inside the fingerprint stage. The
    golden oracle is pinned CODEC-INDEPENDENTLY (fingerprints computed
    from the raw int16 samples), so a lossy or mis-normalized decode
    fails the pin — the audio analog of multimodal_image_search_png."""
    import numpy as np

    from .multimodal import audio_video as AV

    rows = []
    sigs = []
    for i in range(8):
        rng = np.random.default_rng(90 + i)
        env = rng.uniform(0.1, 1.0, 65).repeat(130)[:8192]
        sig = (rng.uniform(-1, 1, 8192) * env * 12000).astype(np.int16)
        sigs.append(sig)
        rows.append((i, "wav", 16000, 1, AV.encode_wav(sig)))
    for i in range(3):
        rows.append((100 + i, "wav", 16000, 1, AV.encode_wav(sigs[i] // 2)))
    audio = local_rows_df(spark, rows, AV.AUDIO_TABLE_SCHEMA, 4)
    return AV.audio_near_dup_pairs(audio, max_hamming=3)


@query("multimodal_audio_dedup_flac")
def multimodal_audio_dedup_flac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audio near-dup pipeline over a REAL COMPRESSED format: the same
    clips as multimodal_audio_dedup, FLAC-encoded (pure-Python codec,
    multimodal/flac.py — Rice-coded fixed-predictor subframes, CRC-8/16,
    MD5) and decoded through the pure decoder inside the fingerprint
    stage. FLAC is lossless, so the golden oracle pinned from the raw
    int16 samples must ride through the codec unchanged — any
    mis-reconstruction (predictor, Rice unfold, CRC misparse) fails the
    pin. Closes the compressed-audio ingest gap (reference h3 input
    class, bin/parsec_stream:30-39)."""
    import numpy as np

    from .multimodal import audio_video as AV
    from .multimodal.flac import encode_flac

    rows = []
    sigs = []
    for i in range(8):
        rng = np.random.default_rng(90 + i)
        env = rng.uniform(0.1, 1.0, 65).repeat(130)[:8192]
        sig = (rng.uniform(-1, 1, 8192) * env * 12000).astype(np.int16)
        sigs.append(sig)
        rows.append((i, "flac", 16000, 1, encode_flac(sig)))
    for i in range(3):
        rows.append((100 + i, "flac", 16000, 1, encode_flac(sigs[i] // 2)))
    audio = local_rows_df(spark, rows, AV.AUDIO_TABLE_SCHEMA, 4)
    return AV.audio_near_dup_pairs(audio, max_hamming=3)


@query("multimodal_video_clip_search")
def multimodal_video_clip_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video clip localization (the video analog of the audio landmark
    snippet search): 4 noise-frame videos are frame-hash-indexed (dHash
    of EVERY frame, one decode pass); three clips cut at different
    offsets each recover their source video and exact frame offset by
    hash-join + offset-consistency voting — a clip of 8 frames lands 8
    votes at its true (video, offset) while collisions scatter.
    Golden-pinned via the independent pure-Python vote mirror over the
    dHash kernel (codec-independent framing)."""
    import numpy as np

    from .multimodal import audio_video as AV

    vids = []
    rows = []
    for i in range(4):
        rng = np.random.default_rng(210 + i)
        frames = rng.integers(0, 200, (24, 24, 24, 3)).astype(np.uint8)
        vids.append(frames)
        rows.append((i, "raw-frames", 24, 24, 24, AV.encode_raw_video(frames)))
    corpus = local_rows_df(spark, rows, AV.VIDEO_TABLE_SCHEMA, 2)
    cuts = [(0, 1, 7), (1, 3, 0), (2, 0, 16)]
    clip_rows = [
        (q, "raw-frames", 24, 24, 8, AV.encode_raw_video(vids[v][o : o + 8]))
        for q, v, o in cuts
    ]
    clips = local_rows_df(spark, clip_rows, AV.VIDEO_TABLE_SCHEMA, 2)
    return AV.clip_match(clips, AV.video_frame_dhashes(corpus, every_n=1), k=1)


@query("multimodal_video_clip_search_reencoded")
def multimodal_video_clip_search_reencoded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clip localization for RE-ENCODED clips — the common case in web
    video dedup: the same three cuts as multimodal_video_clip_search,
    then lossy-recompression-style perturbation (sparse ±20 pixel noise
    on 30% of pixels, deterministic seeds) flips 0-5 dHash bits per
    frame, so the exact hash join loses most of its votes; the
    banded-hamming join (clip_match max_hamming=3 — the SimHash
    pigeonhole machinery on the 64-bit frame hash) still recovers every
    clip's source video and exact offset from the frames within budget.
    Golden-pinned via the independent brute-force hamming≤3 vote mirror
    (band recall is perfect at ≤h by pigeonhole, so the banded plan must
    equal the exhaustive scan)."""
    import numpy as np

    from .multimodal import audio_video as AV

    vids = []
    rows = []
    for i in range(4):
        rng = np.random.default_rng(210 + i)
        frames = rng.integers(0, 200, (24, 24, 24, 3)).astype(np.uint8)
        vids.append(frames)
        rows.append((i, "raw-frames", 24, 24, 24, AV.encode_raw_video(frames)))
    corpus = local_rows_df(spark, rows, AV.VIDEO_TABLE_SCHEMA, 2)
    cuts = [(0, 1, 7), (1, 3, 0), (2, 0, 16)]
    clip_rows = []
    for q, v, o in cuts:
        cut = vids[v][o : o + 8].astype(np.int32)
        nr = np.random.default_rng(500 + q)
        mask = nr.random(cut.shape) < 0.3
        noise = nr.integers(-20, 21, cut.shape) * mask
        pert = np.clip(cut + noise, 0, 255).astype(np.uint8)
        clip_rows.append(
            (q, "raw-frames", 24, 24, 8, AV.encode_raw_video(pert))
        )
    clips = local_rows_df(spark, clip_rows, AV.VIDEO_TABLE_SCHEMA, 2)
    return AV.clip_match(
        clips, AV.video_frame_dhashes(corpus, every_n=1), k=1, max_hamming=3
    )


@query("multimodal_video_dedup")
def multimodal_video_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-dup detection: 5 noise-frame videos + 2 planted
    brightness-shifted re-renders; frame-sampled dHashes, ≥3 matching
    sampled frames per pair. Deterministic (integer kernel)."""
    import numpy as np

    from .multimodal import audio_video as AV

    rows = []
    vids = []
    for i in range(5):
        rng = np.random.default_rng(70 + i)
        frames = rng.integers(0, 200, (20, 24, 24, 3)).astype(np.uint8)
        vids.append(frames)
        rows.append((i, "raw-frames", 24, 24, 20, AV.encode_raw_video(frames)))
    for i in range(2):
        bright = np.clip(vids[i].astype(np.int32) + 10, 0, 255).astype(np.uint8)
        rows.append((100 + i, "raw-frames", 24, 24, 20, AV.encode_raw_video(bright)))
    video = local_rows_df(spark, rows, AV.VIDEO_TABLE_SCHEMA, 4)
    return AV.video_near_dup_pairs(video, every_n=5, min_matching_frames=3)


@query("multimodal_video_dedup_avi")
def multimodal_video_dedup_avi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-dup over a REAL container format: the same noise-frame
    videos as multimodal_video_dedup, packed as uncompressed RIFF/AVI
    (pure-Python codec — bottom-up padded BGR DIB frames) and decoded
    inside the frame-sampling stage. Golden pinned CODEC-INDEPENDENTLY
    (frame dHashes computed from the source arrays), so any
    flip/pad/channel-order mistake in the container handling fails the
    pin — completing the PNG/WAV/AVI real-container trifecta."""
    import numpy as np

    from .multimodal import audio_video as AV

    rows = []
    vids = []
    for i in range(5):
        rng = np.random.default_rng(70 + i)
        frames = rng.integers(0, 200, (20, 24, 24, 3)).astype(np.uint8)
        vids.append(frames)
        rows.append((i, "avi", 24, 24, 20, AV.encode_avi_rgb(frames)))
    for i in range(2):
        bright = np.clip(vids[i].astype(np.int32) + 10, 0, 255).astype(np.uint8)
        rows.append((100 + i, "avi", 24, 24, 20, AV.encode_avi_rgb(bright)))
    video = local_rows_df(spark, rows, AV.VIDEO_TABLE_SCHEMA, 4)
    return AV.video_near_dup_pairs(video, every_n=5, min_matching_frames=3)


@query("multimodal_video_dedup_mp4")
def multimodal_video_dedup_mp4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-dup over a COMPRESSED container: noise-frame videos
    muxed as MJPEG-in-MP4 (pure ISO BMFF muxer, multimodal/mp4.py) and
    demuxed + JPEG-decoded inside the frame-sampling stage — the full
    compressed-video ingest path with no native media libraries. The
    golden rides through the codec (dHashes of the JPEG round-trip of
    the source frames, computed by the non-Spark reference path), so any
    sample-table/offset mistake in the demuxer fails the pin. Re-encoded
    exact-copy videos (ids 100+) must pair at hamming 0 because the pure
    encoder is deterministic. Reference ingest: bin/parsec_stream:30-39
    (compressed-video h3 input class)."""
    import numpy as np

    from .multimodal import audio_video as AV
    from .multimodal import mp4 as MP4

    rows = []
    vids = []
    for i in range(5):
        rng = np.random.default_rng(170 + i)
        frames = rng.integers(0, 200, (20, 24, 24, 3)).astype(np.uint8)
        vids.append(frames)
        rows.append((i, "mp4", 24, 24, 20, MP4.encode_mp4_mjpeg(frames)))
    for i in range(2):
        rows.append((100 + i, "mp4", 24, 24, 20, MP4.encode_mp4_mjpeg(vids[i])))
    video = local_rows_df(spark, rows, AV.VIDEO_TABLE_SCHEMA, 4)
    return AV.video_near_dup_pairs(video, every_n=5, min_matching_frames=3)


@query("multimodal_image_stats")
def multimodal_image_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-image segmentation/extraction statistics (region counts, weight
    normalization check) — the seg/extract stage observability surface."""
    from .multimodal import images as IM

    imgs = IM.synthetic_images(spark, n=12, size=32)
    vecsets = IM.images_to_vecsets(imgs)
    return vecsets.select(
        "image_id",
        F.size("regions").alias("n_regions"),
        F.round(
            F.aggregate(
                "regions", F.lit(0.0), lambda acc, r: acc + r["weight"].cast("double")
            ),
            4,
        ).alias("weight_sum"),
    )


# ---------------------------------------------------------------------------
# K10 distance family + P5/P7 range search + grouping-set extras
# ---------------------------------------------------------------------------

from .functions import distances as DIST  # noqa: E402


def _range_search_oracle(eps: float = 60.0, max_q: int = 4) -> str:
    l1 = DIST.sql_dist_l1("qv", "cv")
    return f"""
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < {max_q}),
    c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings)
    SELECT query_id, neighbor_id, ROUND({l1}, 6) AS l1_dist
    FROM c CROSS JOIN q
    WHERE query_id <> neighbor_id AND ROUND({l1}, 6) < {eps}
    """


@query("ann_range_search", oracle=_range_search_oracle())
def ann_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7/P5 ε-range similarity search (raw.c:212-227: keep candidates with
    dist < query->range) with the K10 L1 distance — JVM fold, exact oracle."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").cast("array<double>").alias("qv")
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").cast("array<double>").alias("cv")
    )
    pairs = c.crossJoin(F.broadcast(q)).filter(F.col("query_id") != F.col("neighbor_id"))
    l1 = F.round(DIST.dist_l1(F.col("qv"), F.col("cv")), 6)
    return pairs.select("query_id", "neighbor_id", l1.alias("l1_dist")).filter(
        F.col("l1_dist") < 60.0
    )


@query(
    "agg_rollup",
    oracle="""
    SELECT COALESCE(l_returnflag, 'ALL') AS rf, COALESCE(l_linestatus, 'ALL') AS ls,
           COUNT(*) AS n,
           ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 3) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical ROLLUP totals — one of the aggregations Catalyst gives
    for free that the reference lacks (SURVEY §2.6 note)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(_sum_units_dbl(_unit("l_quantity"), 2), 3).alias("sum_qty"),
        )
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("ALL")).alias("rf"),
            F.coalesce(F.col("l_linestatus"), F.lit("ALL")).alias("ls"),
            "n",
            "sum_qty",
        )
    )


@query(
    "agg_cube_events",
    oracle="""
    SELECT COALESCE(event_type, 'ALL') AS event_type,
           COALESCE(strftime(date_trunc('day', ts), '%Y-%m-%d'), 'ALL') AS day,
           COUNT(*) AS n
    FROM events
    GROUP BY CUBE (event_type, date_trunc('day', ts))
    """,
)
def agg_cube_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (event_type, day): every grouping combination in one pass — a grouping-set form the reference lacks."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.cube(F.col("event_type"), F.date_trunc("day", F.col("ts")).alias("day_ts"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.coalesce(F.col("event_type"), F.lit("ALL")).alias("event_type"),
            F.coalesce(F.date_format(F.col("day_ts"), "yyyy-MM-dd"), F.lit("ALL")).alias("day"),
            "n",
        )
    )


@query("dedup_embedding_cosine", oracle=SIM.embedding_near_dup_oracle_sql(0.99))
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup detection (fifth dedup method): planted
    near-duplicate vectors recovered via sign-pattern blocking + exact
    cosine — whole op including candidate generation has a SQL oracle."""
    emb = _t(spark, sf_dir, "embeddings")
    return SIM.embedding_near_dup_pairs(SIM.augmented_embeddings(emb), threshold=0.99)


@query(
    "agg_pivot_status",
    oracle="""
    SELECT o_orderpriority,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
           CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
           CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p,
           ROUND(CAST(SUM(CASE WHEN o_orderstatus = 'F'
                 THEN CAST(o_totalprice AS DECIMAL(18,2)) ELSE 0 END) AS DOUBLE), 3) AS sum_f
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot-shaped conditional aggregation (wide table from a categorical
    column) — another SURVEY §2.6 'free in Spark' aggregation form."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias("n_f"),
        F.sum(F.when(F.col("o_orderstatus") == "O", 1).otherwise(0)).alias("n_o"),
        F.sum(F.when(F.col("o_orderstatus") == "P", 1).otherwise(0)).alias("n_p"),
        F.round(
            F.sum(
                F.when(F.col("o_orderstatus") == "F", _dec("o_totalprice")).otherwise(
                    F.lit(0).cast("decimal(18,2)")
                )
            ).cast("double"),
            3,
        ).alias("sum_f"),
    )


@query(
    "a5_session_windows",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL 30 MINUTE OR
                  LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    sessions AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM marked
    )
    SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
    FROM sessions GROUP BY user_id, session_id
    """,
)
def a5_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (session_window — a streaming-native
    windowing form the reference lacks entirely; its windows are fixed 1-s
    processing-time buckets). 30-minute inactivity gap per user; oracle is
    the classic lag/cumsum sessionization, which matches exactly because
    session boundaries are pure timestamp comparisons."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window(F.col("ts"), "30 minutes").alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"), "n_events")
    )


# ---------------------------------------------------------------------------
# Relational breadth: multi-way join chains, subquery decorrelation shapes,
# window analytics, exact percentiles, distinct aggregation, semi-structured
# (JSON) columns. These go beyond the reference's two pipelines — they are
# the relational surface a user of a general analytics engine expects, and
# each is a distinct Catalyst plan shape (join reorder + broadcast, semi/
# anti decorrelation, window exchange reuse, expand for distinct-agg).
# ---------------------------------------------------------------------------


@query(
    "q5_regional_revenue",
    oracle="""
    SELECT n_name,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                          * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE), 3) AS revenue
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
    GROUP BY n_name
    """,
)
def q5_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped six-table join chain (local-supplier revenue by
    nation). Scale shape: the three big tables hash-join on their keys;
    ``nation`` and ``region`` are broadcast (no shuffle), and the region
    filter prunes before the join via Catalyst's join reordering. One
    final single-exchange aggregation on a 25-value key."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nr = F.broadcast(n.join(r, n.n_regionkey == r.r_regionkey).select("n_nationkey", "n_name"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(nr, s.s_nationkey == nr.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(
                _sum_units_dbl(_rev_units(), 6),
                    3,
            ).alias("revenue")
        )
    )


@query(
    "q4_priority_exists",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def q4_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shaped EXISTS decorrelation: correlated exists becomes a
    left-semi hash join on the order key (the non-equi shipdate predicate
    rides along as a join residual — no nested loop), then a one-exchange
    count by priority."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        o.join(
            li,
            (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@query(
    "q17_below_avg_quantity",
    oracle="""
    SELECT p_brand,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 3) AS small_qty_revenue,
           COUNT(*) AS n_small
    FROM lineitem
    JOIN (SELECT l_partkey AS pk,
                 0.2 * (CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)) AS threshold
          FROM lineitem GROUP BY l_partkey) t ON l_partkey = pk
    JOIN part ON p_partkey = l_partkey
    WHERE l_quantity < threshold
    GROUP BY p_brand
    """,
)
def q17_below_avg_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-shaped correlated scalar-aggregate subquery, decorrelated
    into a self-join against a per-part aggregate. The threshold is a
    decimal-exact sum divided once in double, so both engines compare
    against bit-identical thresholds. Scale shape: the per-part aggregate
    is tiny relative to lineitem (map-side partial agg first), and the
    part dimension broadcasts."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    thresh = (
        li.groupBy(F.col("l_partkey").alias("pk"))
        .agg(
            (
                F.lit(0.2) * (_sum_units_dbl(_unit("l_quantity"), 2) / F.count(F.lit(1)))
            ).alias("threshold")
        )
    )
    return (
        li.join(thresh, li.l_partkey == thresh.pk)
        .filter(F.col("l_quantity") < F.col("threshold"))
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.round(_sum_units_dbl(_unit("l_extendedprice"), 2), 3).alias("small_qty_revenue"),
            F.count(F.lit(1)).alias("n_small"),
        )
    )


@query(
    "w_running_totals",
    oracle="""
    SELECT event_id, user_id,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4)))
                      OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS DOUBLE), 4) AS running_value,
           LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
           LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
    FROM events
    """,
)
def w_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running sum + lag/lead — the time-series window-analytics
    surface (event logs at scale). All three window functions share one
    (partition, order) spec, so Catalyst plans a single sort + single
    exchange; the running sum is decimal-exact (order-independent across
    partial evaluation). The unique event_id tiebreaker makes every frame
    deterministic."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.round(
            F.sum(_dec("value", 4)).over(w.rowsBetween(Window.unboundedPreceding, 0)).cast(
                "double"
            ),
            4,
        ).alias("running_value"),
        F.lag("event_type").over(w).alias("prev_type"),
        F.lead("event_type").over(w).alias("next_type"),
    )


@query(
    "a_exact_percentiles",
    oracle="""
    SELECT o_orderpriority,
           ROUND(quantile_cont(o_totalprice, 0.5), 3) AS p50,
           ROUND(quantile_cont(o_totalprice, 0.9), 3) AS p90,
           COUNT(*) AS n
    FROM orders GROUP BY o_orderpriority
    """,
)
def a_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolated percentiles per group (Spark
    ``percentile`` == DuckDB ``quantile_cont``). Exact percentile is a
    sort-based aggregate; at 100 TB swap in ``approx_percentile``
    (t-digest sketch, mergeable map-side) — tested as the same shape in
    tests/test_declared_queries.py."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 3).alias("p50"),
        F.round(F.percentile("o_totalprice", F.lit(0.9)), 3).alias("p90"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "a_distinct_users",
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS n_users,
           COUNT(*) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 3) AS sum_value
    FROM events GROUP BY event_type
    """,
)
def a_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregation alongside plain aggregates — Catalyst's Expand
    + two-phase plan (partial distinct map-side). At 100 TB the same query
    swaps COUNT(DISTINCT) for ``approx_count_distinct`` (HLL++, constant
    memory, single exchange) — both shapes smoke-tested."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count_distinct(F.col("user_id")).alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
        F.round(_sum_units_dbl(_unit("value", 4), 4), 3).alias("sum_value"),
    )


@query(
    "json_props_extract",
    oracle="""
    SELECT event_type, k_bucket, COUNT(*) AS n, MAX(k) AS max_k
    FROM (SELECT event_type,
                 CAST(json_extract(props, '$.k') AS INTEGER) AS k,
                 CAST(json_extract(props, '$.k') AS INTEGER) // 10 AS k_bucket
          FROM events)
    GROUP BY event_type, k_bucket
    """,
)
def json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured column surface: JSON property extraction from a
    string column, bucketed aggregation. ``get_json_object`` is JVM-side
    (Jackson) — no Python in the plan. At scale prefer ``from_json`` with
    an explicit schema once per row over repeated path extraction."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return (
        ev.select("event_type", k.alias("k"), F.floor(k / 10).cast("int").alias("k_bucket"))
        .groupBy("event_type", "k_bucket")
        .agg(F.count(F.lit(1)).alias("n"), F.max("k").alias("max_k"))
    )


@query(
    "merge_upsert",
    oracle="""
    WITH changes AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             CAST(o_totalprice AS DECIMAL(18,4)) * CAST(1.1 AS DECIMAL(2,1)) AS o_totalprice,
             2 AS version
      FROM orders WHERE o_orderkey % 7 = 0
      UNION ALL
      SELECT o_orderkey + 10000000, o_custkey, 'N',
             CAST(o_totalprice AS DECIMAL(18,4)) * CAST(0.5 AS DECIMAL(2,1)), 2
      FROM orders WHERE o_orderkey % 13 = 0
    ),
    tagged AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             CAST(o_totalprice AS DECIMAL(18,4)) * CAST(1.0 AS DECIMAL(2,1)) AS o_totalprice,
             1 AS version, 0 AS prec
      FROM orders
      UNION ALL
      SELECT *, 1 AS prec FROM changes
    ),
    merged AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
                                     ORDER BY version DESC, prec DESC) AS rn
        FROM tagged
      ) WHERE rn = 1
    )
    SELECT o_orderstatus, COUNT(*) AS n,
           ROUND(CAST(SUM(o_totalprice) AS DOUBLE), 3) AS sum_price,
           CAST(SUM(CASE WHEN version = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_changed
    FROM merged GROUP BY o_orderstatus
    """,
)
def merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write MERGE (upsert) semantics on immutable parquet: a
    change-set of updates (every 7th order repriced) and inserts (new
    keys) merged last-wins into the base table by key+version
    (operators/relational.upsert), then checksummed per status. The merge
    itself is one hash exchange on the key with map-side WindowGroupLimit
    — the shuffle carries one candidate row per key per side."""
    dec11 = F.lit("1.1").cast("decimal(2,1)")
    dec05 = F.lit("0.5").cast("decimal(2,1)")
    dec10 = F.lit("1.0").cast("decimal(2,1)")
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    updates = o.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        (_dec("o_totalprice", 4) * dec11).alias("o_totalprice"),
        F.lit(2).alias("version"),
    )
    inserts = o.filter(F.col("o_orderkey") % 13 == 0).select(
        (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
        "o_custkey",
        F.lit("N").alias("o_orderstatus"),
        (_dec("o_totalprice", 4) * dec05).alias("o_totalprice"),
        F.lit(2).alias("version"),
    )
    merged = R.upsert(
        o.withColumn("o_totalprice", _dec("o_totalprice", 4) * dec10).withColumn(
            "version", F.lit(1)
        ),
        updates.unionByName(inserts),
        keys="o_orderkey",
        version="version",
    )
    return merged.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice").cast("double"), 3).alias("sum_price"),
        F.sum(F.when(F.col("version") == 2, 1).otherwise(0)).alias("n_changed"),
    )


@query(
    "text_top_tokens",
    oracle="""
    SELECT token, n FROM (
      SELECT token, COUNT(*) AS n,
             ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, token) AS rn
      FROM (SELECT unnest(string_split(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' ')) AS token
            FROM documents)
      WHERE token <> ''
      GROUP BY token
    ) WHERE rn <= 50
    """,
)
def text_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus heavy-hitters: top-50 tokens by frequency (boilerplate /
    stop-phrase detection over a training corpus). Explode is a narrow
    map; the count is map-side partial on the token, and the final top-50
    is TakeOrderedAndProject — no full sort. At larger K or streaming use
    a count-min/space-saving sketch; the exact form IS the oracle here."""
    docs = _t(spark, sf_dir, "documents")
    words = F.split(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "), " ")
    return (
        docs.select(F.explode(words).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "token")
        .limit(50)
    )


@query(
    "sample_hash_split",
    oracle="""
    SELECT split, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM (
      SELECT n_chars,
             CASE WHEN bucket < 80 THEN 'train'
                  WHEN bucket < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM (SELECT n_chars, (doc_id * 2654435761) % 100 AS bucket
            FROM documents)
    )
    GROUP BY split
    """,
)
def sample_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-stable train/val/test split (80/10/10) by
    multiplicative hash of the document key — the split assignment of a
    doc never changes as the corpus grows (the property random splits
    lack and training pipelines need). Pure arithmetic, portable across
    engines, pushed into the scan stage; one tiny aggregation after."""
    docs = _t(spark, sf_dir, "documents")
    bucket = (F.col("doc_id") * F.lit(2654435761)) % 100
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        docs.select(F.col("n_chars"), split.alias("split"))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


@query(
    "text_tfidf",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' ')) AS token
      FROM documents
    ),
    tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks
           WHERE token <> '' GROUP BY doc_id, token),
    df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM toks
           WHERE token <> '' GROUP BY token),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT doc_id, token, tf, df,
           ROUND(tf * LN((n_docs + 1.0) / (df + 1.0)), 4) AS tfidf
    FROM tf JOIN df USING (token) CROSS JOIN n
    WHERE doc_id % 50 = 0
    """,
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF term weighting over the corpus (the classic text-analytics
    aggregation pipeline: per-doc term frequency ⨝ global document
    frequency ⨝ corpus size). The df table is tokens-sized (small); it
    broadcasts into the tf table, and the doc_id sampling predicate
    prunes before the join. Scores are rounded at 4 decimals so libm ulp
    differences between engines can't flip the value hash."""
    docs = _t(spark, sf_dir, "documents")
    words = F.split(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "), " ")
    toks = docs.select("doc_id", F.explode(words).alias("token")).filter(
        F.col("token") != ""
    )
    from .session import pooled_persist

    toks = pooled_persist(toks, "queries.tfidf.toks")
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = toks.groupBy("token").agg(F.count_distinct("doc_id").alias("df"))
    n_docs = docs.count()
    score = F.round(
        F.col("tf") * F.log((F.lit(n_docs) + 1.0) / (F.col("df") + 1.0)), 4
    )
    return (
        tf.filter(F.col("doc_id") % 50 == 0)
        .join(F.broadcast(dfreq), "token")
        .select("doc_id", "token", "tf", "df", score.alias("tfidf"))
    )


@query(
    "json_variant_agg",
    oracle="""
    SELECT k, COUNT(*) AS n,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 3) AS sum_value
    FROM (SELECT CAST(json_extract(props, '$.k') AS INTEGER) AS k, value FROM events)
    WHERE k >= 90
    GROUP BY k
    """,
)
def json_variant_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-schema semi-structured columns via VariantType (Spark 4):
    parse once into the binary variant encoding, then typed path
    extraction — the shredded-JSON storage model for schemaless event
    payloads at scale (vs per-path string re-parsing in
    json_props_extract). The extraction predicate still prunes before
    the aggregation."""
    ev = _t(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json(F.col("props")), "$.k", "int")
    return (
        ev.select(k.alias("k"), "value")
        .filter(F.col("k") >= 90)
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(_sum_units_dbl(_unit("value", 4), 4), 3).alias("sum_value"),
        )
    )


@query(
    "profile_table",
    oracle="""
    SELECT 'o_totalprice' AS col,
           COUNT(*) AS n,
           CAST(COUNT(*) - COUNT(o_totalprice) AS BIGINT) AS n_null,
           COUNT(DISTINCT o_totalprice) AS n_distinct,
           ROUND(MIN(o_totalprice), 3) AS min_v,
           ROUND(MAX(o_totalprice), 3) AS max_v,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 4) AS mean_v
    FROM orders
    UNION ALL
    SELECT 'o_custkey', COUNT(*),
           CAST(COUNT(*) - COUNT(o_custkey) AS BIGINT),
           COUNT(DISTINCT o_custkey),
           ROUND(CAST(MIN(o_custkey) AS DOUBLE), 3),
           ROUND(CAST(MAX(o_custkey) AS DOUBLE), 3),
           ROUND(CAST(SUM(CAST(o_custkey AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 4)
    FROM orders
    """,
)
def profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-profiling pass (training-pipeline data validation): per-column
    row/null/distinct counts + min/max/mean in ONE scan of the table —
    the per-column aggregates all ride the same partial-aggregation pass
    (no per-column jobs, unlike df.describe-style loops). At 100 TB swap
    distinct counts for approx_count_distinct and this stays a single
    map-side-combined pass."""
    o = _t(spark, sf_dir, "orders")

    def prof(col: str):
        c = F.col(col)
        return o.agg(
            F.lit(col).alias("col"),
            F.count(F.lit(1)).alias("n"),
            (F.count(F.lit(1)) - F.count(c)).alias("n_null"),
            F.count_distinct(c).alias("n_distinct"),
            F.round(F.min(c).cast("double"), 3).alias("min_v"),
            F.round(F.max(c).cast("double"), 3).alias("max_v"),
            F.round(
                F.sum(c.cast("decimal(18,4)")).cast("double") / F.count(F.lit(1)), 4
            ).alias("mean_v"),
        )

    return prof("o_totalprice").unionByName(prof("o_custkey"))


@query(
    "text_chunking",
    oracle="""
    SELECT doc_id, i AS chunk_idx,
           md5(substring(text, i*450 + 1, 500)) AS chunk_md5,
           CAST(length(substring(text, i*450 + 1, 500)) AS INTEGER) AS chunk_len
    FROM documents,
         unnest(range(0, CAST(ceil(greatest(length(text) - 50, 1) / 450.0) AS INTEGER))) AS t(i)
    WHERE doc_id % 20 = 0
    """,
)
def text_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window packing: 500-char chunks, 50-char overlap
    (operators/text_analysis.chunk_documents). Chunks are value-checked
    by md5 so the oracle compares content without shipping text blobs."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 20 == 0)
    return TA.chunk_documents(docs, chunk_chars=500, overlap=50).select(
        "doc_id",
        "chunk_idx",
        F.md5("chunk_text").alias("chunk_md5"),
        F.col("chunk_len").cast("int").alias("chunk_len"),
    )


@query(
    "text_pii_redaction",
    oracle="""
    SELECT doc_id,
           md5(regexp_replace(text || ' reach me: user_' || doc_id || '@example.com',
                              '[A-Za-z0-9._]+@[A-Za-z0-9.]+', '<EMAIL>', 'g')) AS redacted_md5,
           CAST(length(text || ' reach me: user_' || doc_id || '@example.com')
                - length(regexp_replace(text || ' reach me: user_' || doc_id || '@example.com',
                                        '[A-Za-z0-9._]+@[A-Za-z0-9.]+', '<EMAIL>', 'g'))
                AS BIGINT) AS chars_removed
    FROM documents WHERE doc_id % 20 = 0
    """,
)
def text_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (operators/text_analysis.redact_pii): plant a
    deterministic email per sampled doc, redact with the Java∩RE2-common
    email pattern, value-check the scrubbed text by md5 + removed-char
    count (>0 proves the redaction fired on every row)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 20 == 0)
    planted = docs.withColumn(
        "text",
        F.concat(
            F.col("text"), F.lit(" reach me: user_"), F.col("doc_id"), F.lit("@example.com")
        ),
    )
    red = TA.redact_pii(planted)
    return red.select(
        "doc_id",
        F.md5("redacted").alias("redacted_md5"),
        (F.length("text") - F.length("redacted")).cast("bigint").alias("chars_removed"),
    )


@query(
    "w_rank_functions",
    oracle="""
    SELECT c_custkey,
           ntile(4) OVER w AS quartile,
           ROUND(percent_rank() OVER w, 6) AS pct_rank,
           ROUND(cume_dist() OVER w, 6) AS cume,
           CAST(dense_rank() OVER w AS BIGINT) AS drank
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
    """,
)
def w_rank_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full rank-function family over one shared window spec (ntile /
    percent_rank / cume_dist / dense_rank): Catalyst plans a single sort +
    single exchange for all four. Unique (acctbal, custkey) ordering makes
    every rank deterministic."""
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_custkey",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.dense_rank().over(w).cast("bigint").alias("drank"),
    )


@query(
    "ts_gap_fill",
    oracle="""
    WITH bounds AS (
      SELECT CAST(date_trunc('day', MIN(ts)) AS DATE) AS d0,
             CAST(date_trunc('day', MAX(ts)) AS DATE) AS d1
      FROM events
    ),
    grid AS (
      SELECT u.user_id, CAST(t.d AS DATE) AS day
      FROM (SELECT DISTINCT user_id FROM events WHERE user_id % 25 = 0) u,
           bounds, unnest(generate_series(bounds.d0, bounds.d1, INTERVAL 1 DAY)) AS t(d)
    ),
    actual AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day, COUNT(*) AS n
      FROM events WHERE user_id % 25 = 0 GROUP BY 1, 2
    )
    SELECT g.user_id, strftime(g.day, '%Y-%m-%d') AS day,
           CAST(COALESCE(a.n, 0) AS BIGINT) AS n_events
    FROM grid g LEFT JOIN actual a ON g.user_id = a.user_id AND g.day = a.day
    """,
)
def ts_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series densification: a complete (user × day) grid with
    zero-filled gaps — resampling for downstream models. The grid is a
    broadcast-sized sequence explode (days × sampled users), never a
    range join; the actual counts aggregate map-side first."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") % 25 == 0)
    day = F.date_trunc("day", F.col("ts")).cast("date")
    bounds = _t(spark, sf_dir, "events").agg(
        F.date_trunc("day", F.min("ts")).cast("date").alias("d0"),
        F.date_trunc("day", F.max("ts")).cast("date").alias("d1"),
    )
    grid = (
        ev.select("user_id")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "user_id",
            F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias("day"),
        )
    )
    actual = ev.groupBy("user_id", day.alias("day")).agg(F.count(F.lit(1)).alias("n"))
    return (
        grid.join(actual, ["user_id", "day"], "left")
        .select(
            "user_id",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_events"),
        )
    )


@query(
    "fuzzy_name_match",
    oracle="""
    SELECT a.c_custkey AS key_a, b.c_custkey AS key_b,
           CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS dist
    FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
    WHERE a.c_custkey < 60 AND b.c_custkey < 60
      AND levenshtein(a.c_name, b.c_name) <= 2
    """,
)
def fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution by edit distance: near-identical names within a
    bounded block (the blocked-comparison shape — at scale the block key
    comes from a cheap canopy like sorted-neighborhood or phonetic code,
    never an unblocked n² cross join). levenshtein is JVM-side."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") < 60)
    a = c.select(F.col("c_custkey").alias("key_a"), F.col("c_name").alias("name_a"))
    b = c.select(F.col("c_custkey").alias("key_b"), F.col("c_name").alias("name_b"))
    dist = F.levenshtein("name_a", "name_b")
    return (
        a.join(F.broadcast(b), F.col("key_a") < F.col("key_b"))
        .filter(dist <= 2)
        .select("key_a", "key_b", dist.cast("int").alias("dist"))
    )


@query(
    "vector_stats",
    oracle="""
    SELECT vec_id,
           ROUND(sqrt(list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE) * x), 'sum')), 4) AS norm,
           ROUND(CAST(list_aggregate(embedding, 'max') AS DOUBLE), 4) AS max_c,
           CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_pos
    FROM embeddings WHERE vec_id % 10 = 0
    """,
)
def vector_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions over the embedding column (transform /
    aggregate / filter) — all JVM-side codegen, zero Python: the
    expression surface vector pipelines build on. Both engines fold the
    sum sequentially in index order, so the double accumulation is
    bit-identical."""
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 10 == 0)
    v = F.col("embedding")
    vd = F.transform(v, lambda x: x.cast("double") * x)
    return emb.select(
        "vec_id",
        F.round(
            F.sqrt(F.aggregate(vd, F.lit(0.0), lambda acc, x: acc + x)), 4
        ).alias("norm"),
        F.round(F.array_max(v).cast("double"), 4).alias("max_c"),
        F.size(F.filter(v, lambda x: x > 0)).cast("bigint").alias("n_pos"),
    )


# ---------------------------------------------------------------------------
# Relational breadth II — outer-join distributions, HAVING semi joins,
# NOT-EXISTS anti joins with scalar thresholds, correlated-min lookups
# (TPC-H Q13/Q18/Q22/Q10/Q2 shapes adapted to the driver schema)
# ---------------------------------------------------------------------------

@query(
    "q13_order_count_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT OUTER JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    ) GROUP BY c_count
    """,
)
def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13-shaped customer order-count distribution: left OUTER join
    with a residual non-key predicate (NULL-preserving), then two stacked
    aggregations. Scale shape: the outer join hashes on the customer key
    (orders side is partially aggregated only after the join because the
    residual predicate must see order rows); the second aggregation's key
    domain is tiny (count-of-counts), so it collapses to near-nothing
    map-side."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderpriority")
    return (
        c.join(
            o,
            (c.c_custkey == o.o_custkey) & (o.o_orderpriority != "1-URGENT"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


@query(
    "q18_large_volume_orders",
    oracle="""
    SELECT c_name, o_orderkey,
           ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_qty
    FROM customer, orders, lineitem
    WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                         GROUP BY l_orderkey
                         HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 150)
      AND c_custkey = o_custkey AND o_orderkey = l_orderkey
    GROUP BY c_name, o_orderkey
    """,
)
def q18_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-shaped large-volume orders: an IN-subquery with a HAVING
    aggregate becomes aggregate → filter → left-semi hash join back to
    lineitem, then the customer dim joins on the order's custkey. The
    HAVING compare is decimal-exact so both engines admit the same order
    set. Scale shape: the per-order aggregate partial-aggregates map-side
    before its one shuffle; the qualifying-key set is small and
    broadcast-joins back to the fact."""
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(_sum_units(_unit("l_quantity")).alias("q"))
        .filter(F.col("q") > 150 * 100)  # q is in exact centi-units
        .select(F.col("l_orderkey").alias("big_okey"))
    )
    return (
        li.join(F.broadcast(big), li.l_orderkey == F.col("big_okey"), "left_semi")
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_name", "o_orderkey")
        .agg(F.round(_sum_units_dbl(_unit("l_quantity"), 2), 2).alias("total_qty"))
    )


@query(
    "q22_high_balance_inactive",
    oracle="""
    SELECT c_nationkey, COUNT(*) AS numcust,
           ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2) AS totacctbal
    FROM customer
    WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
                       FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
    GROUP BY c_nationkey
    """,
)
def q22_high_balance_inactive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-shaped: a scalar-aggregate subquery threshold plus a
    NOT EXISTS that decorrelates to a left-anti hash join. The threshold
    is a decimal-exact sum divided once in double (bit-identical across
    engines). Scale shape: the scalar subquery reduces to one tiny
    broadcast value; the anti join hashes on the customer key with the
    urgent-orders side pre-filtered at its scan."""
    c = _t(spark, sf_dir, "customer")
    urgent = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    thresh = (
        c.filter(F.col("c_acctbal") > 0)
        .agg((_sum_units_dbl(_unit("c_acctbal"), 2) / F.count(F.lit(1))).alias("t"))
    )
    return (
        c.join(F.broadcast(thresh))
        .filter(F.col("c_acctbal") > F.col("t"))
        .join(urgent, c.c_custkey == urgent.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(_sum_units_dbl(_unit("c_acctbal"), 2), 2).alias("totacctbal"),
        )
    )


@query(
    "q10_returned_revenue",
    oracle="""
    SELECT c_custkey, c_name, n_name, revenue FROM (
      SELECT c_custkey, c_name, n_name,
             ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                            * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE), 3) AS revenue
      FROM customer, orders, lineitem, nation
      WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        AND l_returnflag = 'R' AND c_nationkey = n_nationkey
      GROUP BY c_custkey, c_name, n_name
    ) QUALIFY ROW_NUMBER() OVER (ORDER BY revenue DESC, c_custkey) <= 20
    """,
)
def q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-shaped returned-item revenue ranking: fact filter at the
    scan (returnflag = 'R' pushed down), two hash joins, broadcast nation
    dim, group on the customer grain, global top-20. The rank key is the
    ROUNDed revenue with the unique custkey tiebreaker, so both engines
    pick an identical top set. Scale shape: TakeOrderedAndProject — each
    partition keeps 20 rows, no full sort."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                _sum_units_dbl(_rev_units(), 6),
                    3,
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
        .select("c_custkey", "c_name", "n_name", "revenue")
    )


@query(
    "q2_min_price_supplier",
    oracle="""
    SELECT DISTINCT l_partkey, s_name, l_extendedprice AS min_price
    FROM lineitem
    JOIN (SELECT l_partkey AS pk, MIN(l_extendedprice) AS mn
          FROM lineitem GROUP BY l_partkey) ON l_partkey = pk AND l_extendedprice = mn
    JOIN supplier ON s_suppkey = l_suppkey
    """,
)
def q2_min_price_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-shaped correlated-minimum lookup: for every part, the
    supplier(s) quoting its minimum price. The correlated
    ``= (SELECT MIN ...)`` decorrelates to a per-key MIN aggregate joined
    back on (key, value); MIN over doubles is exact (no accumulation), so
    the equality admits identical rows in both engines. Scale shape: the
    per-part MIN partial-aggregates map-side; both sides of the
    attaining-row join share the part-key partitioning, and the supplier
    dim broadcasts."""
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey", "l_extendedprice")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    mins = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.min("l_extendedprice").alias("mn")
    )
    return (
        li.join(mins, (li.l_partkey == mins.pk) & (li.l_extendedprice == mins.mn))
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .select("l_partkey", "s_name", F.col("l_extendedprice").alias("min_price"))
        .distinct()
    )


# ---------------------------------------------------------------------------
# Training-data ops II — benchmark decontamination, quality-rule filtering,
# intra-document repetition (the Gopher/C4-style curation surface)
# ---------------------------------------------------------------------------

@query(
    "text_decontaminate",
    oracle="""
    WITH t AS (SELECT doc_id, source,
                      string_split(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' ') AS w
               FROM documents),
    g AS (SELECT doc_id, source,
                 array_to_string(w[CAST(i AS BIGINT):CAST(i + 3 AS BIGINT)], ' ') AS gram
          FROM t, UNNEST(range(1, len(w) - 2)) AS r(i)),
    bench AS (SELECT DISTINCT gram FROM g WHERE source = 'src0')
    SELECT doc_id, COUNT(DISTINCT gram) AS n_shared
    FROM g JOIN bench USING (gram)
    WHERE source <> 'src0'
    GROUP BY doc_id
    """,
)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    4-gram with the held-out benchmark slice (source 'src0') and count
    the distinct shared grams — the standard n-gram-overlap scrub before
    LLM training. Scale shape: grams explode narrowly (no shuffle until
    the join); the benchmark gram set is tiny relative to the corpus and
    broadcasts, so the full training side never shuffles; the per-doc
    distinct count is one hash exchange on doc_id. At 100 TB the
    benchmark side stays broadcast-sized (benchmarks are MBs) while the
    training side streams through."""
    docs = _t(spark, sf_dir, "documents")
    w = F.split(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "), " ")
    grams = (
        docs.select("doc_id", "source", w.alias("w"))
        .filter(F.size("w") >= 4)
        .select(
            "doc_id",
            "source",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("w") - 4),
                    lambda i: F.array_join(F.slice("w", i + 1, 4), " "),
                )
            ).alias("gram"),
        )
    )
    bench = (
        grams.filter(F.col("source") == "src0").select("gram").distinct()
    )
    return (
        grams.filter(F.col("source") != "src0")
        .join(F.broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(F.count_distinct("gram").alias("n_shared"))
    )


@query(
    "text_gopher_quality",
    oracle="""
    SELECT doc_id, n_words, mean_word_len, unique_ratio, top_token_frac,
           CAST(n_words >= 30 AND unique_ratio >= 0.5 AND top_token_frac <= 0.15
                AS BOOLEAN) AS keep
    FROM (
      SELECT doc_id, COUNT(*) AS n_words,
             ROUND(CAST(SUM(LENGTH(token)) AS DOUBLE) / COUNT(*), 4) AS mean_word_len,
             ROUND(CAST(COUNT(DISTINCT token) AS DOUBLE) / COUNT(*), 4) AS unique_ratio,
             ROUND(CAST(MAX(cnt) AS DOUBLE) / COUNT(*), 4) AS top_token_frac
      FROM (SELECT doc_id, token, COUNT(*) OVER (PARTITION BY doc_id, token) AS cnt
            FROM (SELECT doc_id,
                         unnest(string_split(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' ')) AS token
                  FROM documents))
      GROUP BY doc_id
    )
    """,
)
def text_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality-rule filtering: per-document word count, mean
    word length, type-token (unique-word) ratio, and most-frequent-token
    fraction, combined into a keep/drop flag. Every ratio is an
    int-over-int division done once in double — bit-identical across
    engines. Scale shape: tokens explode narrowly, the (doc, token)
    count partial-aggregates map-side before one exchange on doc_id (the
    window in the oracle is expressed as a two-level aggregate here —
    same result, no sort), and the doc-level reduction rides the same
    partitioning."""
    docs = _t(spark, sf_dir, "documents")
    w = F.split(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "), " ")
    tok = docs.select("doc_id", F.explode(w).alias("token"))
    per_token = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("cnt"))
    stats = per_token.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_words"),
        F.round(
            (F.sum(F.length("token") * F.col("cnt")).cast("double") / F.sum("cnt")), 4
        ).alias("mean_word_len"),
        F.round(F.count(F.lit(1)).cast("double") / F.sum("cnt"), 4).alias("unique_ratio"),
        F.round(F.max("cnt").cast("double") / F.sum("cnt"), 4).alias("top_token_frac"),
    )
    keep = (
        (F.col("n_words") >= 30)
        & (F.col("unique_ratio") >= 0.5)
        & (F.col("top_token_frac") <= 0.15)
    )
    return stats.select(
        "doc_id", "n_words", "mean_word_len", "unique_ratio", "top_token_frac",
        keep.alias("keep"),
    )


@query(
    "text_repetition_ratio",
    oracle="""
    SELECT doc_id,
           CAST(total_bigrams AS BIGINT) AS total_bigrams,
           ROUND(1.0 - CAST(distinct_bigrams AS DOUBLE) / total_bigrams, 4) AS dup_bigram_frac,
           ROUND(CAST(top_bigram_n AS DOUBLE) / total_bigrams, 4) AS top_bigram_frac
    FROM (
      SELECT doc_id, COUNT(*) AS total_bigrams,
             COUNT(DISTINCT gram) AS distinct_bigrams, MAX(cnt) AS top_bigram_n
      FROM (SELECT doc_id, gram, COUNT(*) OVER (PARTITION BY doc_id, gram) AS cnt
            FROM (SELECT doc_id,
                         array_to_string(w[CAST(i AS BIGINT):CAST(i + 1 AS BIGINT)], ' ') AS gram
                  FROM (SELECT doc_id,
                               string_split(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' ') AS w
                        FROM documents),
                       UNNEST(range(1, len(w))) AS r(i)))
      GROUP BY doc_id
    )
    """,
)
def text_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition signals (Gopher's duplicate-n-gram
    family): fraction of duplicated word bigrams and the share of the
    single most frequent bigram, per document. Ratios are int/int in
    double, deterministic across engines. Scale shape: same two-level
    aggregation as the quality query — one exchange on doc_id total."""
    docs = _t(spark, sf_dir, "documents")
    w = F.split(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "), " ")
    grams = (
        docs.select("doc_id", w.alias("w"))
        .filter(F.size("w") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("w") - 2),
                    lambda i: F.array_join(F.slice("w", i + 1, 2), " "),
                )
            ).alias("gram"),
        )
    )
    per_gram = grams.groupBy("doc_id", "gram").agg(F.count(F.lit(1)).alias("cnt"))
    return per_gram.groupBy("doc_id").agg(
        F.sum("cnt").alias("total_bigrams"),
        F.round(
            F.lit(1.0) - F.count(F.lit(1)).cast("double") / F.sum("cnt"), 4
        ).alias("dup_bigram_frac"),
        F.round(F.max("cnt").cast("double") / F.sum("cnt"), 4).alias("top_bigram_frac"),
    ).select(
        "doc_id", "total_bigrams", "dup_bigram_frac", "top_bigram_frac"
    )


@query(
    "pack_context_windows",
    oracle="""
    SELECT doc_id, source, n_tokens, start_offset,
           CAST(FLOOR(start_offset / 8192) AS BIGINT) AS window_id,
           CAST(FLOOR((start_offset + n_tokens - 1) / 8192)
                - FLOOR(start_offset / 8192) AS BIGINT) AS extra_windows
    FROM (
      SELECT doc_id, source, n_tokens,
             CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                      ROWS UNBOUNDED PRECEDING) - n_tokens
                  AS BIGINT) AS start_offset
      FROM (SELECT doc_id, source,
                   len(string_split(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' ')) AS n_tokens
            FROM documents)
    )
    """,
)
def pack_context_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for LLM pretraining: concatenate documents per
    source shard in doc_id order and chunk the token stream into 8192-token
    context windows; each doc reports its start offset, its window, and how
    many extra windows it straddles. All-integer (token counts + running
    sum), bit-identical across engines. Scale shape: one window spec =
    one exchange on source + one sort on the shard key; at 100 TB the
    per-source token streams pack independently (shard = partition), and
    the assignment itself is arithmetic on the running sum — no second
    shuffle, no collect."""
    docs = _t(spark, sf_dir, "documents")
    w = F.split(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "), " ")
    toks = docs.select("doc_id", "source", F.size(w).cast("long").alias("n_tokens"))
    win = Window.partitionBy("source").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    packed = toks.withColumn(
        "start_offset", F.sum("n_tokens").over(win) - F.col("n_tokens")
    )
    return packed.select(
        "doc_id",
        "source",
        "n_tokens",
        "start_offset",
        F.floor(F.col("start_offset") / 8192).cast("bigint").alias("window_id"),
        (
            F.floor((F.col("start_offset") + F.col("n_tokens") - 1) / 8192)
            - F.floor(F.col("start_offset") / 8192)
        ).cast("bigint").alias("extra_windows"),
    )


@query(
    "mixture_downsample",
    oracle="""
    WITH ranked AS (
      SELECT o_orderpriority, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                ORDER BY (o_orderkey * 2654435761) % 1000000007, o_orderkey) AS rn
      FROM orders
    ),
    target AS (SELECT MIN(cnt) AS m FROM (SELECT COUNT(*) AS cnt FROM orders GROUP BY o_orderpriority))
    SELECT o_orderpriority, COUNT(*) AS n_kept,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS kept_totalprice
    FROM ranked, target
    WHERE rn <= m
    GROUP BY o_orderpriority
    """,
)
def mixture_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture rebalancing: downsample every stratum to the size of the
    smallest one (uniform mixture), choosing survivors by a deterministic
    multiplicative hash of the row key — the content-stable analog of
    ``sampleBy`` that training pipelines need (the same rows survive on
    every run and on any engine; kept_totalprice proves identical row
    SELECTION, not just identical counts). Scale shape: one exchange on
    the stratum key for the rank window; the min-count scalar broadcasts;
    the hash order is computed in the scan stage."""
    o = _t(spark, sf_dir, "orders")
    rn_w = Window.partitionBy("o_orderpriority").orderBy(
        (F.col("o_orderkey") * F.lit(2654435761)) % F.lit(1000000007), "o_orderkey"
    )
    ranked = o.select(
        "o_orderpriority", "o_totalprice", F.row_number().over(rn_w).alias("rn")
    )
    target = (
        o.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .agg(F.min("cnt").alias("m"))
    )
    return (
        ranked.join(F.broadcast(target))
        .filter(F.col("rn") <= F.col("m"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.round(_sum_units_dbl(_unit("o_totalprice"), 2), 2).alias("kept_totalprice"),
        )
    )


@query(
    "curation_pipeline",
    oracle="""
    WITH tok AS (
      SELECT doc_id,
             unnest(string_split(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' ')) AS token
      FROM documents),
    per_token AS (SELECT doc_id, token, COUNT(*) AS cnt FROM tok GROUP BY doc_id, token),
    qual AS (
      SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_tokens
      FROM per_token GROUP BY doc_id
      HAVING SUM(cnt) >= 30
         AND CAST(COUNT(*) AS DOUBLE) / SUM(cnt) >= 0.5
         AND CAST(MAX(cnt) AS DOUBLE) / SUM(cnt) <= 0.15),
    winners AS (
      SELECT doc_id FROM (
        SELECT doc_id,
               ROW_NUMBER() OVER (
                 PARTITION BY md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))
                 ORDER BY doc_id) AS rn
        FROM documents) WHERE rn = 1),
    t AS (SELECT doc_id, source,
                 string_split(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' ') AS w
          FROM documents),
    g AS (SELECT doc_id, source,
                 array_to_string(w[CAST(i AS BIGINT):CAST(i + 3 AS BIGINT)], ' ') AS gram
          FROM t, UNNEST(range(1, len(w) - 2)) AS r(i)),
    bench AS (SELECT DISTINCT gram FROM g WHERE source = 'src0'),
    dirty AS (SELECT DISTINCT doc_id FROM g JOIN bench USING (gram) WHERE source <> 'src0'),
    surv AS (
      SELECT d.doc_id, d.source, q.n_tokens
      FROM documents d JOIN qual q ON d.doc_id = q.doc_id
      WHERE d.source <> 'src0'
        AND d.doc_id IN (SELECT doc_id FROM winners)
        AND d.doc_id NOT IN (SELECT doc_id FROM dirty))
    SELECT doc_id, source, n_tokens, start_offset,
           CAST(FLOOR(start_offset / 8192) AS BIGINT) AS window_id
    FROM (SELECT doc_id, source, n_tokens,
                 CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                          ROWS UNBOUNDED PRECEDING) - n_tokens
                      AS BIGINT) AS start_offset
          FROM surv)
    """,
)
def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data pipeline (quality filter → exact dedup →
    benchmark decontamination → context-window packing) as ONE logical
    plan — the flagship composition proving the stage operators stack
    without intermediate materialization (pipelines/curation.py)."""
    from .pipelines import curation as CUR

    return CUR.curate_corpus(_t(spark, sf_dir, "documents"))


@query(
    "w_trailing_hour_range_frame",
    oracle="""
    SELECT event_id, user_id,
           CAST(SUM(1) OVER w AS BIGINT) AS n_events_trailing_1h,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE), 4)
             AS value_trailing_1h
    FROM (SELECT event_id, user_id, value,
                 CAST(FLOOR(epoch(ts)) AS BIGINT) AS ts_s
          FROM events)
    WINDOW w AS (PARTITION BY user_id ORDER BY ts_s
                 RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
    """,
)
def w_trailing_hour_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user trailing-one-hour sliding aggregate via a RANGE window
    frame — the value-based frame (all rows within 3600 s of the current
    row's event time), distinct from the ROWS frames elsewhere in the
    suite. The frame is keyed on epoch seconds so both engines bound it
    with identical integer arithmetic, and rows sharing a timestamp are
    frame-peers in both. Sub-second parts are TRUNCATED toward zero on
    both sides (Spark ``cast(timestamp as long)`` truncates; the oracle
    matches with ``FLOOR(epoch(ts))`` — DuckDB's bare ``CAST(epoch(..))``
    would round-to-nearest and shift near-boundary rows across frames). Scale shape: one exchange on user_id + one sort
    on the epoch key; the frame bound evaluation is a two-pointer scan
    within the sorted partition — no self-join, no explode of the
    interval (the naive formulation is an O(n·w) range self-join)."""
    # ts is TIMESTAMP_NTZ; align_session pins the session to UTC, so the
    # NTZ→timestamp→epoch cast equals DuckDB's naive-as-UTC epoch(ts)
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "value",
        F.col("ts").cast("timestamp").cast("long").alias("ts_s"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_s")
        .rangeBetween(-3600, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.sum(F.lit(1)).over(w).cast("bigint").alias("n_events_trailing_1h"),
        F.round(F.sum(_dec("value", 4)).over(w).cast("double"), 4).alias(
            "value_trailing_1h"
        ),
    )


@query(
    "embedding_label_centroids",
    oracle="""
    SELECT label, CAST(i - 1 AS INTEGER) AS dim,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(FLOOR(CAST(SUM(CAST(FLOOR(CAST(embedding[CAST(i AS BIGINT)] AS DOUBLE)
                                          * 1000000) AS BIGINT)) AS DOUBLE)
                      / COUNT(*)) AS BIGINT) AS centroid_micro
    FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS g(i)
    GROUP BY label, i
    """,
)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding column — the cluster-quality /
    class-prototype analytics a labeled vector corpus needs (and the
    build step of the IVF coarse quantizer, here as a declared query).
    Float components are scaled to integer micro-units (floor of
    double×1e6 — IEEE multiply + floor are bit-identical across engines,
    unlike float→decimal casts and half-way ROUNDs, both of which differ
    at the last digit between engines) so the whole computation stays in
    order-independent integer arithmetic; the centroid is reported in
    micro-units. Scale shape: posexplode is
    narrow; the (label, dim) partial aggregate collapses 64×|labels|
    cells map-side, so the exchange carries centroids, not vectors."""
    emb = _t(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "label", F.posexplode("embedding").alias("dim", "v")
    )
    scaled = F.floor(F.col("v").cast("double") * 1000000).cast("long")
    return exploded.groupBy("label", "dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.floor(F.sum(scaled).cast("double") / F.count(F.lit(1)))
        .cast("bigint")
        .alias("centroid_micro"),
    ).select(
        "label", F.col("dim").cast("int").alias("dim"), "n", "centroid_micro"
    )


@query(
    "funnel_click_to_purchase",
    oracle="""
    WITH clicks AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
    conv AS (
      SELECT c.user_id,
             CASE WHEN EXISTS (SELECT 1 FROM events p
                               WHERE p.event_type = 'purchase'
                                 AND p.user_id = c.user_id
                                 AND p.ts > c.ts
                                 AND p.ts <= c.ts + INTERVAL 1 HOUR)
                  THEN 1 ELSE 0 END AS converted
      FROM clicks c)
    SELECT user_id, COUNT(*) AS n_clicks,
           CAST(SUM(converted) AS BIGINT) AS n_converted,
           CAST(SUM(converted) > 0 AS BOOLEAN) AS user_converted
    FROM conv GROUP BY user_id
    """,
)
def funnel_click_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-step funnel (click → purchase within 1 hour, per user) — the
    sequential-pattern event-analytics shape. The oracle states it as a
    correlated EXISTS range self-join (O(n·m) per user); the engine form
    is ONE window pass: per user in time order, the minimum STRICTLY-LATER
    purchase timestamp (RANGE frame from +1 µs) annotates every event, and
    a click converts iff that next-purchase lands inside the hour. Epoch-microsecond integers
    make the interval bound exact in both engines. Scale shape: one
    exchange on user_id + one sort — no self-join, no candidate blowup on
    high-activity users."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )
    # RANGE frame starting at +1 µs: only purchases STRICTLY later than the
    # current row are frame members, so a purchase sharing the click's
    # timestamp can neither satisfy nor mask the oracle's `p.ts > c.ts`
    # EXISTS — a same-ts purchase under a ROWS frame would become the frame
    # minimum, fail the strict bound, and hide a genuinely-later in-window
    # purchase.
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(1, Window.unboundedFollowing)
    )
    next_p = F.min(
        F.when(F.col("event_type") == "purchase", F.col("ts_us"))
    ).over(w)
    annotated = ev.withColumn("next_purchase_us", next_p)
    clicks = annotated.filter(F.col("event_type") == "click").select(
        "user_id",
        (
            F.col("next_purchase_us").isNotNull()
            & (F.col("next_purchase_us") <= F.col("ts_us") + F.lit(3_600_000_000))
        ).cast("int").alias("converted"),
    )
    return clicks.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_clicks"),
        F.sum("converted").cast("bigint").alias("n_converted"),
        (F.sum("converted") > 0).alias("user_converted"),
    )


@query(
    "funnel_three_step",
    oracle="""
    WITH u AS (SELECT DISTINCT user_id FROM events
               WHERE event_type IN ('view', 'click', 'purchase')),
    s1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
           WHERE event_type = 'view' GROUP BY user_id),
    s2 AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e JOIN s1 USING (user_id)
           WHERE e.event_type = 'click' AND e.ts > s1.t1
             AND e.ts <= s1.t1 + INTERVAL 24 HOUR GROUP BY e.user_id),
    s3 AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e JOIN s2 USING (user_id)
           WHERE e.event_type = 'purchase' AND e.ts > s2.t2
             AND e.ts <= s2.t2 + INTERVAL 24 HOUR GROUP BY e.user_id)
    SELECT u.user_id,
           CAST(CASE WHEN s3.user_id IS NOT NULL THEN 3
                     WHEN s2.user_id IS NOT NULL THEN 2
                     WHEN s1.user_id IS NOT NULL THEN 1
                     ELSE 0 END AS INTEGER) AS steps_completed,
           CAST(s3.user_id IS NOT NULL AS BOOLEAN) AS completed
    FROM u LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
           LEFT JOIN s3 USING (user_id)
    """,
)
def funnel_three_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-step funnel (view → click → purchase, each step within 24 h of
    the previous) via the generic N-step funnel operator
    (operators/temporal.funnel): greedy first-occurrence chaining as ONE
    exchange on the user key and a single JVM ``aggregate`` fold over the
    per-user sorted timeline — the oracle states the same semantics as
    nested correlated MINs with three joins."""
    return T.funnel(
        _t(spark, sf_dir, "events"),
        steps=["view", "click", "purchase"],
        within_seconds=86400,
    )


@query(
    "cohort_retention",
    oracle="""
    WITH firstw AS (SELECT user_id, MIN(date_trunc('week', ts)) AS cohort_week
                    FROM events GROUP BY user_id),
    act AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS active_week FROM events)
    SELECT cohort_week,
           CAST((epoch(active_week) - epoch(cohort_week)) / 604800 AS BIGINT) AS week_offset,
           COUNT(*) AS n_users
    FROM act JOIN firstw USING (user_id)
    GROUP BY cohort_week, week_offset
    """,
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-activity week, and
    for each later week the count still active — the standard retention
    triangle. Week truncation is ISO-Monday in both engines and the
    offset is integer arithmetic on truncated epochs, so the matrix is
    engine-exact. Scale shape: two aggregations sharing the user_id
    exchange (the per-user MIN and the distinct-week set both
    partial-aggregate map-side), then a broadcast-sized cohort join and a
    tiny final group on (cohort, offset)."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("week", F.col("ts").cast("timestamp")).alias("w")
    )
    firstw = ev.groupBy("user_id").agg(F.min("w").alias("cohort_week"))
    act = ev.distinct().withColumnRenamed("w", "active_week")
    return (
        act.join(firstw, "user_id")
        .select(
            "cohort_week",
            (
                (F.unix_timestamp("active_week") - F.unix_timestamp("cohort_week"))
                / 604800
            ).cast("bigint").alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@query(
    "a_price_quantity_corr",
    oracle="""
    SELECT l_returnflag, n,
           ROUND((n * sxy - sx * sy)
                 / (SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy)), 6) AS corr_qty_price
    FROM (
      SELECT l_returnflag, CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                      * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                      * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy
      FROM lineitem GROUP BY l_returnflag
    )
    """,
)
def a_price_quantity_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation per group, ENGINE-EXACT: the naive ``corr()``
    aggregate accumulates floating moments in partition order (different
    sums on different engines/partitionings), so instead the five moments
    are decimal-exact sums — order-independent — and the correlation is
    assembled from them in IEEE double once. Scale shape: a plain
    partial+final hash aggregation; the moment algebra is free."""
    li = _t(spark, sf_dir, "lineitem")
    x = _unit("l_quantity")
    y = _unit("l_extendedprice")
    moments = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        _sum_units_dbl(x, 2).alias("sx"),
        _sum_units_dbl(y, 2).alias("sy"),
        _sum_units_dbl(x * x, 4).alias("sxx"),
        _sum_units_dbl(y * y, 4).alias("syy"),
        _sum_units_dbl(x * y, 4).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    corr = (n * F.col("sxy") - sx * sy) / (
        F.sqrt(n * F.col("sxx") - sx * sx) * F.sqrt(n * F.col("syy") - sy * sy)
    )
    return moments.select(
        "l_returnflag", "n", F.round(corr, 6).alias("corr_qty_price")
    )


_COPURCHASE_EDGES_SQL = """
    SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
"""


def _graph_pagerank_oracle() -> str:
    from .operators.graph import pagerank_int_oracle_sql

    return pagerank_int_oracle_sql(_COPURCHASE_EDGES_SQL, iterations=3)


@query("graph_pagerank_copurchase", oracle=_graph_pagerank_oracle())
def graph_pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-analysis scoring of the part co-purchase graph: fixed-point
    integer PageRank (operators/graph.pagerank_int), 3 iterations,
    damping 0.85. Integer ranks make the iteration EXACT — float
    PageRank re-associates neighbor sums under different partitionings
    and could never value-match an oracle (or even its own re-run).
    Scale shape: edges build with one exchange on the order key (basket
    explode, fan-out = basket², never corpus²) + a distinct; each
    iteration is one key join + one aggregation exchange, AQE handling
    hub skew; lineage truncates via localCheckpoint on long runs."""
    from .operators.graph import pagerank_int

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = li.groupBy("l_orderkey").agg(
        F.collect_set("l_partkey").alias("parts")
    )
    ex = baskets.select(F.explode("parts").alias("src"), F.col("parts"))
    edges = (
        ex.select("src", F.explode("parts").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    return pagerank_int(edges, iterations=3)


@query(
    "skew_salted_distinct_users",
    oracle="""
    SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY event_type
    """,
)
def skew_salted_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct-count under key skew via explicit salting
    (operators/relational.salted_agg): event_type has a handful of hot
    values, so a plain collect_set ships every occurrence of a hot key
    to ONE reducer; the salt fans each hot key across 16 reducers for
    the set partials and merges one pre-shrunk row per (key, salt).
    This is the documented heavy-state regime where salting beats plain
    groupBy (map-side combine already handles skewed SUM/COUNT). The
    result is identical to the unsalted plan — that is the point."""
    from .operators.relational import salted_agg

    ev = _t(spark, sf_dir, "events").select("event_type", "user_id")
    out = salted_agg(
        ev,
        "event_type",
        [("users", "collect_set", "user_id"), ("n_events", "count", "user_id")],
        n_salts=16,
    )
    return out.select(
        "event_type",
        F.size("users").cast("long").alias("n_users"),
        F.col("n_events").cast("long").alias("n_events"),
    )


@query(
    "copurchase_pairs",
    oracle="""
    SELECT part_a, part_b, n_orders FROM (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             COUNT(DISTINCT a.l_orderkey) AS n_orders,
             ROW_NUMBER() OVER (ORDER BY COUNT(DISTINCT a.l_orderkey) DESC,
                                a.l_partkey, b.l_partkey) AS rn
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
    ) WHERE rn <= 20
    """,
)
def copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair mining: the top-20 part pairs by co-occurring
    order count. The oracle is the naive self-join; the engine groups
    each order's (distinct, sorted) part set once and explodes only the
    intra-order pairs — shuffle is one exchange on the order key plus the
    pair counts, and the per-order pair fan-out is (basket size choose 2),
    bounded by basket size, never corpus size. Top-20 is
    TakeOrderedAndProject with a full (count, part_a, part_b) tiebreak."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("parts")
    )
    pairs = baskets.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("parts"),
                    lambda a, i: F.transform(
                        F.slice(F.col("parts"), i + 2, F.size("parts")),
                        lambda b: F.struct(a.alias("part_a"), b.alias("part_b")),
                    ),
                )
            )
        ).alias("p")
    ).select("p.part_a", "p.part_b")
    return (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.col("n_orders").desc(), "part_a", "part_b")
        .limit(20)
    )


@query(
    "data_quality_report",
    oracle="""
    SELECT 'not_null(l_orderkey)' AS check, CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS violations,
           COUNT(*) AS total, SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) = 0 AS passed FROM lineitem
    UNION ALL
    SELECT 'in_range(l_discount,0,1)', CAST(SUM(CASE WHEN l_discount IS NULL OR l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END) AS BIGINT),
           COUNT(*), SUM(CASE WHEN l_discount IS NULL OR l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END) = 0 FROM lineitem
    UNION ALL
    SELECT 'accepted_values(l_returnflag)', CAST(SUM(CASE WHEN l_returnflag NOT IN ('A','N','R') OR l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           COUNT(*), SUM(CASE WHEN l_returnflag NOT IN ('A','N','R') OR l_returnflag IS NULL THEN 1 ELSE 0 END) = 0 FROM lineitem
    UNION ALL
    SELECT 'positive_quantity', CAST(SUM(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT),
           COUNT(*), SUM(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) = 0 FROM lineitem
    UNION ALL
    SELECT 'unique(l_orderkey,l_linenumber)', CAST(SUM(n - 1) AS BIGINT), CAST(SUM(n) AS BIGINT), SUM(n - 1) = 0
    FROM (SELECT COUNT(*) AS n FROM lineitem GROUP BY l_orderkey, l_linenumber)
    """,
)
def data_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality expectations (operators/quality_checks):
    the dbt-test / DLT-expectations surface a corpus build runs before
    shipping. All row-level checks compile into ONE conditional
    aggregation over one scan (N checks, one job); the uniqueness check
    adds a single key-grouped aggregation. The report is a DataFrame."""
    from .operators import quality_checks as QC

    li = _t(spark, sf_dir, "lineitem")
    return QC.run_checks(
        li,
        checks=[
            QC.not_null("l_orderkey"),
            QC.in_range("l_discount", 0, 1),
            QC.accepted_values("l_returnflag", ["A", "N", "R"]),
            QC.expression("positive_quantity", F.col("l_quantity") <= 0),
        ],
        unique_keys=[["l_orderkey", "l_linenumber"]],
    )


@query(
    "agg_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) AS INTEGER) AS g_flag,
           CAST(GROUPING(l_linestatus) AS INTEGER) AS g_status,
           COUNT(*) AS n,
           ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary GROUPING SETS (the general form behind ROLLUP/CUBE, both
    already covered) with GROUPING() indicator columns disambiguating the
    NULL-as-total rows. One expand + one hash exchange; each set
    partial-aggregates map-side like any group-by."""
    li = _t(spark, sf_dir, "lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
               CAST(GROUPING(l_linestatus) AS INT) AS g_status,
               COUNT(*) AS n,
               ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty
        FROM {li}
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """,
        li=li,
    )


@query(
    "null_semantics_join",
    oracle="""
    WITH o2 AS (SELECT o_orderkey, NULLIF(o_orderpriority, '3-MEDIUM') AS prio,
                       o_totalprice
                FROM orders),
    dim AS (SELECT * FROM (VALUES ('1-URGENT', 1), ('2-HIGH', 2), (NULL, 99))
            AS t(prio, prio_rank))
    SELECT COALESCE(o2.prio, '(none)') AS prio_label,
           CAST(COALESCE(dim.prio_rank, 0) AS INTEGER) AS prio_rank,
           COUNT(*) AS n,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
    FROM o2 JOIN dim ON o2.prio IS NOT DISTINCT FROM dim.prio
    GROUP BY prio_label, prio_rank
    """,
)
def null_semantics_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-semantics surface: NULLIF planting NULLs, a NULL-SAFE equality
    join (`<=>` / IS NOT DISTINCT FROM — NULL matches NULL, unlike `=`),
    and COALESCE labeling. Scale note: null-safe equality still hash-joins
    (the null bucket is a regular key), but a null-heavy column makes that
    bucket THE skew key — AQE skew-split or pre-filtering nulls to a
    union branch is the standard treatment."""
    o2 = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.nullif(F.col("o_orderpriority"), F.lit("3-MEDIUM")).alias("prio"),
        "o_totalprice",
    )
    dim = local_rows_df(
        spark,
        [("1-URGENT", 1), ("2-HIGH", 2), (None, 99)],
        "prio string, prio_rank int",
    )
    return (
        o2.join(F.broadcast(dim), o2.prio.eqNullSafe(dim.prio))
        .select(
            F.coalesce(o2.prio, F.lit("(none)")).alias("prio_label"),
            F.coalesce(dim.prio_rank, F.lit(0)).cast("int").alias("prio_rank"),
            "o_totalprice",
        )
        .groupBy("prio_label", "prio_rank")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(_sum_units_dbl(_unit("o_totalprice"), 2), 2).alias("total"),
        )
    )


@query(
    "agg_ordered_listagg",
    oracle="""
    SELECT c_nationkey,
           string_agg(CAST(c_custkey AS VARCHAR), ',' ORDER BY c_acctbal DESC, c_custkey) AS top_customers
    FROM (
      SELECT c_nationkey, c_custkey, c_acctbal,
             ROW_NUMBER() OVER (PARTITION BY c_nationkey
                                ORDER BY c_acctbal DESC, c_custkey) AS rn
      FROM customer
    ) WHERE rn <= 5
    GROUP BY c_nationkey
    """,
)
def agg_ordered_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG ... WITHIN GROUP): the top-5
    customers per nation by balance, concatenated in rank order — the
    report-formatting shape. Determinism comes from the explicit
    (balance DESC, custkey) order with a unique tiebreaker; the top-5
    pre-filter keeps the aggregated string bounded (an unbounded LISTAGG
    is a memory hazard at scale — always cap the group first). One rank
    window + one exchange."""
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.col("c_acctbal").desc(), "c_custkey")
    top = c.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 5)
    return top.groupBy("c_nationkey").agg(
        F.expr(
            "listagg(cast(c_custkey as string), ',') "
            "within group (order by c_acctbal desc, c_custkey)"
        ).alias("top_customers")
    )


@query("corpus_token_drift", oracle=None)
def corpus_token_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus DRIFT report between two snapshot halves — the "did
    today's crawl change distribution" monitoring gate: per-token KL
    contribution p_new·ln(p_new/p_old) with add-one smoothing over the
    union vocabulary, micro-rounded per term (order-free integer sums),
    top-20 contributors. The fixture plants real drift: the new half
    appends a token unseen in the old half to every 5th document, and
    that token must surface as the #1 contributor (asserted in tests).
    Counts are plain aggregations; the only join is vocabulary-sized.
    Golden-pinned (cross-engine ln, the LM-score precedent)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    old = docs.filter(F.col("doc_id") < 250)
    new = docs.filter(F.col("doc_id") >= 250).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" driftword"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return TA.token_distribution_drift(old, new, top=20)


@query(
    "snapshot_diff_documents",
    oracle="""
    WITH new_snap AS (
      SELECT doc_id,
             CASE WHEN doc_id % 31 = 0 THEN text || ' EDITED' ELSE text END AS text
      FROM documents WHERE doc_id % 97 <> 3
      UNION ALL
      SELECT doc_id + 100000, text FROM documents WHERE doc_id % 113 = 5
    ),
    j AS (
      SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
             CASE WHEN o.doc_id IS NULL THEN 'added'
                  WHEN n.doc_id IS NULL THEN 'removed'
                  WHEN o.text IS DISTINCT FROM n.text THEN 'changed'
             END AS status
      FROM documents o FULL OUTER JOIN new_snap n ON o.doc_id = n.doc_id
    )
    SELECT doc_id, status FROM j WHERE status IS NOT NULL
    """,
)
def snapshot_diff_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff between two corpus versions — the change feed a
    daily pipeline consumes (re-embed changed docs, retire removed ones,
    ingest added ones): today's snapshot is derived deterministically
    from the documents table (every 97th doc dropped, every 31st edited,
    every 113th re-added under a new id), and ``relational.table_diff``
    reports (doc_id, added|removed|changed) via ONE full-outer join with
    null-safe column compares — no hashing, so the oracle mirrors the
    compare with IS DISTINCT FROM exactly; unchanged rows never leave
    the join."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    new_snap = (
        docs.filter(F.col("doc_id") % 97 != 3)
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % 31 == 0, F.concat(F.col("text"), F.lit(" EDITED"))
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 113 == 5).select(
                (F.col("doc_id") + 100000).alias("doc_id"), "text"
            )
        )
    )
    return R.table_diff(docs, new_snap, keys=["doc_id"], compare=["text"])


@query(
    "ts_rolling_anomalies",
    oracle="""
    WITH w AS (
      SELECT event_id, event_type, ts,
             CAST(value AS DECIMAL(18,2)) AS v,
             CAST(COUNT(*) OVER win AS BIGINT) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER win
                  AS DECIMAL(38,2)) AS s,
             CAST(SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)))
                  OVER win AS DECIMAL(38,4)) AS s2
      FROM events
      WINDOW win AS (PARTITION BY event_type ORDER BY ts, event_id
                     ROWS BETWEEN 50 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_id, event_type, CAST(v AS DOUBLE) AS value
    FROM w
    WHERE n >= 20
      AND (v * n - s) * (v * n - s) > 9 * (n * s2 - s * s)
    ORDER BY event_id
    """,
)
def ts_rolling_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection per event class — the
    monitoring primitive over event streams: each value is compared to
    the trailing-50-row window's mean/std of ITS OWN class, flagged when
    |v−μ| > 3σ with ≥20 samples of history. The test is evaluated in
    EXACT algebra — ``(v·n − s)² > 9(n·s2 − s²)`` avoids both the sqrt
    and any float accumulation, so the flag set value-hashes identically
    at any parallelism and in any engine (the repo's decimal-exact float
    contract, no rounding anywhere). One window pass, no self-join.

    The exact arithmetic runs in INTEGER CENTI-UNITS (v = round(100·value)
    as long) instead of decimal columns: identical flags — every quantity
    is an exact integer in both formulations — but long window sums stay
    in whole-stage codegen where decimal(38) aggregation buffers fall off
    the fast path (measured 1.65 s → decimal vs ~0.6 s long at sf0.1).
    Overflow headroom: |v| ≤ 1e8 centi (values are ≤ ~1e6), n ≤ 50, so
    |v·n − s| ≤ 1e10 and its square ≤ 1e20 exceeds long — guarded by
    keeping the SQUARED compare in decimal(38,0) from long inputs (one
    scalar cast per row, not a decimal window sum, which is the slow
    part)."""
    ev = _t(spark, sf_dir, "events")
    v = F.round(F.col("value") * 100).cast("long")
    win = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-50, -1)
    )
    w = ev.select(
        "event_id",
        "event_type",
        v.alias("v"),
        F.count(F.lit(1)).over(win).cast("long").alias("n"),
        F.sum(v).over(win).alias("s"),
        F.sum(v * v).over(win).alias("s2"),
    )
    d = (F.col("v") * F.col("n") - F.col("s")).cast("decimal(38,0)")
    lhs = d * d
    rhs = (
        F.lit(9)
        * (
            F.col("n").cast("decimal(38,0)") * F.col("s2").cast("decimal(38,0)")
            - F.col("s").cast("decimal(38,0)") * F.col("s").cast("decimal(38,0)")
        )
    )
    return (
        w.filter((F.col("n") >= 20) & (lhs > rhs))
        .select(
            "event_id",
            "event_type",
            (F.col("v").cast("double") / 100).alias("value"),
        )
        .orderBy("event_id")
    )


@query(
    "ts_ohlc_hourly",
    oracle="""
    WITH o AS (
      SELECT user_id, date_trunc('hour', ts) AS hour, ts, event_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                                ORDER BY ts, event_id) AS rn_a,
             ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                                ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM events
    )
    SELECT user_id, hour,
           ROUND(CAST(MAX(CASE WHEN rn_a = 1 THEN CAST(value AS DECIMAL(18,4)) END)
                      AS DOUBLE), 4) AS open,
           ROUND(CAST(MAX(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4) AS high,
           ROUND(CAST(MIN(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4) AS low,
           ROUND(CAST(MAX(CASE WHEN rn_d = 1 THEN CAST(value AS DECIMAL(18,4)) END)
                      AS DOUBLE), 4) AS close,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM o GROUP BY user_id, hour
    """,
)
def ts_ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series downsampling to hourly OHLC bars per user — the
    resample step of every metrics/market pipeline. Open/close are the
    first/last values in event-time order with (ts, event_id) as the
    deterministic tiebreak (a bare ``first()`` aggregate is
    arrival-order-dependent and could never value-match); high/low are
    decimal-exact extremes. Scale shape: one exchange on (user, hour) —
    the rank window and the aggregate share it, and at 100 TB the bar
    table is the width-reduced rollup you persist, ~4 orders smaller
    than the event stream."""
    ev = (
        _t(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id", "value")
        .withColumn("hour", F.date_trunc("hour", F.col("ts")))
    )
    w_a = Window.partitionBy("user_id", "hour").orderBy("ts", "event_id")
    w_d = Window.partitionBy("user_id", "hour").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    o = ev.select(
        "user_id", "hour", "value",
        F.row_number().over(w_a).alias("rn_a"),
        F.row_number().over(w_d).alias("rn_d"),
    )
    dec = _dec("value", 4)
    return o.groupBy("user_id", "hour").agg(
        F.round(F.max(F.when(F.col("rn_a") == 1, dec)).cast("double"), 4).alias("open"),
        F.round(F.max(dec).cast("double"), 4).alias("high"),
        F.round(F.min(dec).cast("double"), 4).alias("low"),
        F.round(F.max(F.when(F.col("rn_d") == 1, dec)).cast("double"), 4).alias("close"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query(
    "ts_locf_fill",
    oracle="""
    SELECT event_id, user_id,
           ROUND(CAST(raw_value AS DOUBLE), 4) AS raw_value,
           ROUND(CAST(last_value(raw_value IGNORE NULLS)
                      OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS DOUBLE), 4) AS filled_value
    FROM (SELECT event_id, user_id, ts,
                 CASE WHEN value < 2.0 THEN NULL ELSE value END AS raw_value
          FROM events)
    """,
)
def ts_locf_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-observation-carried-forward gap filling (sensor dropouts,
    sparse telemetry): readings below a validity threshold become NULL
    and are filled with the user's most recent valid reading via
    ``last_value IGNORE NULLS`` over a running frame — complementing the
    grid-based `ts_gap_fill` (which fills missing ROWS; this fills
    missing VALUES). One exchange + one sort; the running frame streams,
    no whole-partition buffering."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts",
        F.when(F.col("value") < 2.0, None).otherwise(F.col("value")).alias("raw_value"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.col("raw_value").cast("double"), 4).alias("raw_value"),
        F.round(
            F.last("raw_value", ignorenulls=True).over(w).cast("double"), 4
        ).alias("filled_value"),
    )


@query("cdc_ddp_datasource_scan")
def cdc_ddp_datasource_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 as a first-class DataSource, driver-verified: encode the first
    24 documents into three byte-exact .ddp archives (one per doc_id mod
    3), scan them back through ``spark.read.format("ddp")`` (one input
    partition per archive — the distributed udecoder), and aggregate per
    (archive, record type): record count, payload bytes, distinct
    digests. Deterministic end to end (Rabin boundaries + sha1 + gzip are
    bit-stable) → golden-pinned oracle."""
    import os as _os

    from .dedup import pipeline as DP
    from .sources.ddp import serialize_ddp
    from .sources.ddp_datasource import register_ddp_source

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 24)
    files = docs.select(
        F.col("doc_id").alias("file_id"), F.encode("text", "utf-8").alias("content")
    )
    # plant exact duplicates (file_id+999, same bytes, same archive mod
    # class) so the archives contain FINGERPRINT records, not just
    # compressed uniques — the dup-bypass path is part of what this pins
    files = files.unionByName(
        files.filter(F.col("file_id") < 9).select(
            (F.col("file_id") + 999).alias("file_id"), "content"
        )
    )
    # fixture: three sequential DP.encode jobs build the archives being
    # scanned — that construction cost is NOT the datasource scan under
    # measurement (it dominated the benched number and tripped the r5
    # drift guard), so it reports itself to the bench's build/run split.
    # The returned DataFrame scans the archives lazily, so they are kept.
    with (
        _scratch("bensp_ddp_q_", keep=(spark, "cdc_ddp_datasource_scan")) as d,
        _fixture_build("cdc_ddp_datasource_scan"),
    ):
        for g in range(3):
            part = files.filter(F.col("file_id") % 3 == g)
            blob = serialize_ddp(DP.encode(part, "gzip"), "gzip")
            with open(_os.path.join(d, f"a{g}.ddp"), "wb") as fh:
                fh.write(blob)
    register_ddp_source(spark)
    rec = spark.read.format("ddp").load(d)
    return rec.groupBy(
        F.regexp_extract("path", r"(a\d+\.ddp)$", 1).alias("archive"),
        F.col("rtype").cast("int").alias("rtype"),
    ).agg(
        F.count(F.lit(1)).alias("n_records"),
        F.sum(F.length("payload")).cast("bigint").alias("payload_bytes"),
        F.count_distinct("sha1").cast("bigint").alias("n_digests"),
    )


@query("multimodal_image_search_png")
def multimodal_image_search_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 over a REAL compressed format in-container: the same synthetic
    corpus PNG-encoded (pure-Python zlib + per-row-filter codec,
    multimodal/images.py decode_png) with every filter type exercised,
    decoded inside the vecset stage, then ferret top-3. The golden oracle
    is pinned from the CODEC-INDEPENDENT reference (vecsets computed from
    the source pixel arrays) — a lossy or buggy decode fails the pin."""
    from .ferret import pipeline as FP
    from .multimodal import images as IM
    from .session import pooled_persist

    imgs = IM.synthetic_png_images(spark, n=12, size=32)
    vecsets = pooled_persist(
        IM.images_to_vecsets(imgs), "q.multimodal_search_png.vecsets"
    )
    return FP.ferret_topk(vecsets, vecsets, top_k=3, mode="exhaustive")


@query("multimodal_image_search_jpeg")
def multimodal_image_search_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 over baseline JPEG in-container: the synthetic corpus encoded
    through the pure-Python JPEG codec (multimodal/jpeg.py — 4:2:0
    subsampling, restart markers, standard Annex K tables), decoded
    inside the vecset stage, then ferret top-3. JPEG is lossy, so the
    golden pins the vecsets of the DECODE of these exact bytes, computed
    by the independent non-Spark reference path (tools/
    golden_reference.py) — the codec's fidelity itself is unit-tested in
    tests/test_multimodal.py. Reference ingest: apps/ferret/src/image/
    image.c:314-358 (libjpeg path)."""
    from .ferret import pipeline as FP
    from .multimodal import images as IM
    from .session import pooled_persist

    imgs = IM.synthetic_jpeg_images(spark, n=12, size=32)
    vecsets = pooled_persist(
        IM.images_to_vecsets(imgs), "q.multimodal_search_jpeg.vecsets"
    )
    return FP.ferret_topk(vecsets, vecsets, top_k=3, mode="exhaustive")


@query("multimodal_image_phash_dedup")
def multimodal_image_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DCT-pHash image near-dup detection — the frequency-domain
    fingerprint next to dHash: fixed-point integer DCT (bit-stable on any
    host), DC excluded so uniform brightness shifts hash IDENTICALLY
    (hamming 0 for the planted copies), same 8-bytes-per-image banded
    hamming join. Deterministic (all-integer kernel) → golden-pinned."""
    from .multimodal import images as IM

    imgs = IM.synthetic_textured_images(
        spark, n=12, size=32, dup_of={100: 0, 101: 1, 102: 2, 103: 3}
    )
    return IM.image_near_dup_pairs_phash(imgs, max_hamming=3)


# ---------------------------------------------------------------------------
# Golden-output oracles: the deterministic non-SQL-expressible queries
# (CDC kernels, seeded LSH, SRM segmentation, exact EMD) are pinned at the
# driver's correctness scale as DuckDB VALUES literals — upgrading them from
# the weak rows-only check to the full value-hash check. Regenerate with
# tools/gen_golden_oracles.py whenever one of their outputs changes
# intentionally; tests/test_declared_queries.py replays every ORACLES entry
# at sf0.01, so a stale golden fails locally before the driver sees it.
# ---------------------------------------------------------------------------

from .golden_oracles import GOLDEN_ORACLES  # noqa: E402

for _name, _sql in GOLDEN_ORACLES.items():
    if _name not in QUERIES:
        raise RuntimeError(f"golden oracle for unknown query {_name!r}")
    ORACLES.setdefault(_name, _sql)
del _name, _sql


# TPC-H breadth shapes (round 2) register themselves on import; placed after
# the golden-oracle overlay because every one of them carries an inline
# ANSI oracle of its own.
from . import queries_tpch  # noqa: E402,F401


@query("dedup_passages", oracle=DT.passage_dedup_oracle_sql())
def dedup_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document (passage-level) dedup, C4-style: fixed 20-word
    passages value-addressed by md5, one surviving copy per distinct
    passage corpus-wide (planted exact-duplicate docs contribute zero new
    passages). One digest-keyed exchange — positions and 16-byte hashes
    shuffle, text never does."""
    corpus = DT.augmented_corpus(_t(spark, sf_dir, "documents"))
    return DT.passage_dedup(corpus)


@query(
    "stream_passage_dedup",
    oracle=f"""
    WITH p AS ({DT._passages_sql("SELECT doc_id, text FROM documents")})
    SELECT DISTINCT passage_md5 FROM p
    """,
)
def stream_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sub-document dedup as a driver-checkable row: the
    documents table replayed through a parquet readStream (3 files →
    multiple micro-batches), passage explode + cross-batch first-arrival
    dedup (streaming/text_dedup_stream.stream_passage_dedup), availableNow
    drain to a parquet sink. Winner IDENTITY is arrival order, so the
    deterministic — and checked — result is the surviving passage-digest
    SET, which must equal SQL's DISTINCT over the batch passage table."""
    from .streaming import text_dedup_stream as TDS

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    with _scratch("bensp_stream_passages_") as base:
        src = f"{base}/src"
        out = f"{base}/out"
        ckpt = f"{base}/ckpt"
        with _fixture_build("stream_passage_dedup"):
            docs.repartition(3).write.mode("overwrite").parquet(src)
        stream = _replay(spark, "doc_id long, text string", src)
        with _stateful_stream_parts(spark, src):
            TDS.stream_passage_dedup(spark, stream, out, ckpt)
        # materialize into block-manager storage so the temp sink can go away
        # before the driver consumes the returned DataFrame
        return (
            spark.read.parquet(out).select("passage_md5").localCheckpoint(eager=True)
        )


@query(
    "stream_exact_doc_dedup",
    oracle="""
    SELECT DISTINCT md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS content_hash
    FROM documents
    """,
)
def stream_exact_doc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact document dedup as a driver row: documents replayed
    as a 3-file stream, cross-batch first-arrival winners per normalized
    content hash (streaming/text_dedup_stream.stream_exact_dedup). The
    deterministic check surface is the surviving content-hash SET (winner
    identity is arrival order), which must equal SQL's DISTINCT over the
    batch hashes — the streaming analog of dedup_exact_text."""
    from .streaming import text_dedup_stream as TDS

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    with _scratch("bensp_stream_exact_") as base:
        with _fixture_build("stream_exact_doc_dedup"):
            docs.repartition(3).write.mode("overwrite").parquet(f"{base}/src")
        stream = _replay(spark, "doc_id long, text string", f"{base}/src")
        with _stateful_stream_parts(spark, f"{base}/src"):
            TDS.stream_exact_dedup(spark, stream, f"{base}/out", f"{base}/ckpt")
        return (
            spark.read.parquet(f"{base}/out")
            .select("content_hash")
            .localCheckpoint(eager=True)
        )


@query("stream_ann_brute_topk", oracle=SIM.cosine_topk_oracle_sql(k=5, max_query_id=8))
def stream_ann_brute_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming vector search as a driver row: query vectors arrive as a
    micro-batched stream and rank against the static embeddings corpus
    (streaming/ann_stream.stream_ann_topk, bruteforce mode). Each query
    row's result is independent of arrival batching, so the full output
    is deterministic and shares ann_cosine_topk's exact SQL oracle — the
    streaming path must compute the identical ranking."""
    from .streaming import ann_stream as ANS

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 8).select("vec_id", "embedding")
    with _scratch("bensp_stream_ann_") as base:
        with _fixture_build("stream_ann_brute_topk"):
            queries_df.repartition(2).write.mode("overwrite").parquet(f"{base}/src")
        stream = _replay(spark, "vec_id long, embedding array<float>", f"{base}/src")
        ANS.stream_ann_topk(
            spark, stream, emb, f"{base}/out", f"{base}/ckpt", k=5, mode="bruteforce"
        )
        return ANS.read_sink(spark, f"{base}/out").localCheckpoint(eager=True)


# S3 fixture: deterministic bytes → the oracle's golden VALUES are plain
# constants (same pattern as the other golden-pinned fixtures); the md5s
# below are reproduced by the generator expression in the query body
_S3_FILES = [  # (relative path, n_bytes, seed)
    ("a.bin", 3000, 1),
    ("sub/b.bin", 5000, 2),
    ("sub/deep/c.bin", 700, 3),
]


def _s3_golden() -> str:
    import hashlib

    rows = []
    for i, (p, n, s) in enumerate(sorted(_S3_FILES)):
        digest = hashlib.md5(
            bytes((j * s * 131 + 17) % 256 for j in range(n))
        ).hexdigest()
        rows.append(
            f"('{p.rsplit('/', 1)[-1]}', CAST({i} AS BIGINT), "
            f"CAST({n} AS BIGINT), '{digest}')"
        )
    return (
        "SELECT * FROM (VALUES "
        + ", ".join(rows)
        + ") v(file_name, file_id, length, content_md5)"
    )


_S3_GOLDEN = _s3_golden()


@query("source_recursive_dir_scan", oracle=_S3_GOLDEN)
def source_recursive_dir_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 (recursive directory walk) driver-checked end-to-end: a nested
    tree with dotfiles at two levels scans through read_files
    (binaryFile source, recursiveFileLookup) — dotfiles dropped by P1,
    only regular files surface (P2), file_id is the deterministic dense
    rank over paths, and content arrives byte-exact (md5-pinned golden).
    The reference's ferret walk is the same shape
    (scan_dir, ferret-pthreads.c:330-433)."""
    import os as _os

    from .sources.binaryfiles import read_files

    with _scratch("bensp_s3_scan_") as base:
        with _fixture_build("source_recursive_dir_scan"):
            for rel, n, seed in _S3_FILES:
                p = _os.path.join(base, rel)
                _os.makedirs(_os.path.dirname(p), exist_ok=True)
                with open(p, "wb") as fh:
                    fh.write(bytes((j * seed * 131 + 17) % 256 for j in range(n)))
            for junk in (".hidden", "sub/.DS_Store"):
                with open(_os.path.join(base, junk), "wb") as fh:
                    fh.write(b"\x00\x01")
        files = read_files(spark, base, recursive=True)
        return files.select(
            "file_name",
            "file_id",
            F.col("length").cast("long"),
            F.md5("content").alias("content_md5"),
        ).localCheckpoint(eager=True)


# --- WARC source fixture: literal record spec shared by the builder and
# the pure-python golden derivation (the _s3_golden pattern — expected
# rows computed from the SAME spec with hashlib only, no Spark, no parser)
_WARC_HTML_A = b"<html><body>Alpha page</body></html>"
_WARC_HTML_B = b"<html><body>Beta &amp; gamma</body></html>"
_WARC_FILES: list[tuple[str, bool, list]] = [
    # (file_name, gzip_records, [(rtype, uri, status, ctype, payload)])
    # status/ctype None => non-HTTP record, payload is the raw block
    (
        "crawl-00.warc",
        False,
        [
            ("warcinfo", None, None, None, b"software: bensp-fixture\r\n"),
            (
                "request",
                "https://www.example.com/a",
                None,
                None,
                b"GET /a HTTP/1.1\r\nHost: www.example.com\r\n\r\n",
            ),
            ("response", "https://www.example.com/a", 200, "text/html", _WARC_HTML_A),
            (
                "response",
                "https://www.example.com/missing",
                404,
                "text/html",
                b"<html>gone</html>",
            ),
            (
                "response",
                "https://www.example.com/data.json",
                200,
                "application/json",
                b'{"k": 1}',
            ),
        ],
    ),
    (
        "crawl-01.warc.gz",
        True,
        [
            ("warcinfo", None, None, None, b"software: bensp-fixture\r\n"),
            (
                "response",
                "https://sub.example.org/b",
                200,
                "text/html; charset=utf-8",
                _WARC_HTML_B,
            ),
            ("metadata", "https://sub.example.org/b", None, None, b"fetch: ok"),
        ],
    ),
]


def _warc_golden() -> str:
    import hashlib

    rows = []
    for fname, _gz, recs in _WARC_FILES:
        for idx, (rtype, uri, status, _ctype, payload) in enumerate(recs):
            url = "NULL" if uri is None else f"'{uri}'"
            st = "CAST(NULL AS INT)" if status is None else f"CAST({status} AS INT)"
            ct = "CAST(NULL AS VARCHAR)" if _ctype is None else f"'{_ctype}'"
            md5 = hashlib.md5(payload).hexdigest()
            rows.append(
                f"('{fname}', CAST({idx} AS BIGINT), '{rtype}', {url}, {st}, "
                f"{ct}, '{md5}')"
            )
    return (
        "SELECT * FROM (VALUES "
        + ", ".join(rows)
        + ") v(warc_name, record_idx, record_type, url, http_status, "
        "content_type, payload_md5)"
    )


@query("source_warc_scan", oracle=_warc_golden())
def source_warc_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC ingest (sources/warc.py) driver-checked end-to-end: a plain
    .warc AND a per-record-gzipped .warc.gz, carrying warcinfo/request/
    metadata records interleaved with 200/404 html and non-html
    responses, scan through read_warc_records — every record surfaces
    with its within-file index and type, HTTP envelopes parse off the
    response blocks (status + Content-Type + body), and payload bytes
    arrive exact (md5-pinned golden computed from the literal fixture
    spec with hashlib alone). The format real crawl corpora arrive in —
    the same archive-member shape as the TAR ingest the reference reads
    (apps/dedup/src/new_dedup.c:925-1107)."""
    import os as _os

    from .sources.warc import (
        build_http_response,
        build_warc_bytes,
        read_warc_records,
    )

    with _scratch("bensp_warc_scan_") as base:
        with _fixture_build("source_warc_scan"):
            for fname, gz, recs in _WARC_FILES:
                triples = []
                for rtype, uri, status, ctype, payload in recs:
                    block = (
                        build_http_response(payload, status, ctype)
                        if status is not None
                        else payload
                    )
                    triples.append((rtype, uri, block))
                with open(_os.path.join(base, fname), "wb") as fh:
                    fh.write(build_warc_bytes(triples, gzip_records=gz))
        return (
            read_warc_records(spark, base)
            .select(
                "warc_name",
                "record_idx",
                "record_type",
                "url",
                "http_status",
                "content_type",
                F.md5("payload").alias("payload_md5"),
            )
            .localCheckpoint(eager=True)
        )


def _warc_pages_golden() -> str:
    import hashlib

    rows = []
    for fname, _gz, recs in _WARC_FILES:
        for idx, (rtype, uri, status, ctype, payload) in enumerate(recs):
            if (
                rtype != "response"
                or status is None
                or not (200 <= status < 300)
                or not (ctype or "").startswith("text/html")
            ):
                continue
            rows.append(
                f"('{fname}', CAST({idx} AS BIGINT), '{uri}', "
                f"'{hashlib.md5(payload).hexdigest()}')"
            )
    return (
        "SELECT * FROM (VALUES "
        + ", ".join(rows)
        + ") v(warc_name, record_idx, url, html_md5)"
    )


@query("stream_warc_pages", oracle=_warc_pages_golden())
def stream_warc_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC ingest as a live-crawl STREAM: the same fixture segments as
    source_warc_scan arrive one file per trigger (a fetcher dropping
    finished .warc.gz segments into a landing dir), read_warc_pages
    (streaming=True) expands records per micro-batch, and the drained
    page rows — 2xx text/html responses only, warcinfo/request/metadata
    and non-html responses filtered — must equal the batch reader's
    exactly (record iteration never spans batches: a segment is one
    binaryFile row). Golden pinned from the literal fixture spec."""
    import os as _os

    from .sources.warc import (
        build_http_response,
        build_warc_bytes,
        read_warc_pages,
    )
    from .streaming.event_streams import run_to_parquet

    with _scratch("bensp_warc_stream_") as base:
        with _fixture_build("stream_warc_pages"):
            src = _os.path.join(base, "src")
            _os.makedirs(src)
            for fname, gz, recs in _WARC_FILES:
                triples = []
                for rtype, uri, status, ctype, payload in recs:
                    block = (
                        build_http_response(payload, status, ctype)
                        if status is not None
                        else payload
                    )
                    triples.append((rtype, uri, block))
                with open(_os.path.join(src, fname), "wb") as fh:
                    fh.write(build_warc_bytes(triples, gzip_records=gz))
        pages = read_warc_pages(
            spark, src, streaming=True, max_files_per_trigger=1
        ).select("warc_name", "record_idx", "url", F.md5("html").alias("html_md5"))
        run_to_parquet(pages, f"{base}/out", f"{base}/ckpt")
        return spark.read.parquet(f"{base}/out").localCheckpoint(eager=True)


@query(
    "source_csv_scan",
    oracle="""
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars
    FROM documents GROUP BY source
    """,
)
def source_csv_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV as an interchange source: the documents table round-trips
    through headered CSV files (numeric + key columns — the schema-clean
    export shape) and the scan back uses an EXPLICIT schema (no
    inference pass — at 100 TB inference is a second full read). The
    re-aggregated totals must equal the parquet truth exactly; integer
    columns make the parity bit-exact."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", F.length("text").cast("long").alias("n_chars")
    )
    with _scratch("bensp_csv_") as base:
        docs.write.mode("overwrite").option("header", True).csv(f"{base}/docs")
        back = (
            spark.read.schema("doc_id long, source string, n_chars long")
            .option("header", True)
            .csv(f"{base}/docs")
        )
        return (
            back.groupBy("source")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_chars").alias("total_chars"),
            )
            .localCheckpoint(eager=True)
        )


@query(
    "source_jsonl_scan",
    oracle="""
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_distinct_texts,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars
    FROM documents GROUP BY source
    """,
)
def source_jsonl_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines as an interchange source — the format crawl corpora
    actually arrive in. The FULL text column rides through the JSON
    writer/reader (escaping must be lossless: the md5-distinct count
    over the round-tripped text must equal the parquet truth, so a
    single mangled character fails the hash). Explicit schema on the
    read, no inference scan."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    with _scratch("bensp_jsonl_") as base:
        docs.write.mode("overwrite").json(f"{base}/docs")
        back = spark.read.schema("doc_id long, source string, text string").json(
            f"{base}/docs"
        )
        return (
            back.groupBy("source")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.count_distinct(F.md5("text")).alias("n_distinct_texts"),
                F.sum(F.length("text")).cast("long").alias("total_chars"),
            )
            .localCheckpoint(eager=True)
        )


_EVENT_STREAM_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, value double"
)


@query(
    "stream_interval_join",
    oracle="""
    SELECT c.user_id AS user_id, c.event_id AS click_id, v.event_id AS view_id,
           c.ts AS click_ts, v.ts AS view_ts
    FROM events c JOIN events v ON c.user_id = v.user_id
    WHERE c.event_type = 'click' AND v.event_type = 'view'
      AND v.ts <= c.ts AND v.ts >= c.ts - INTERVAL 15 MINUTE
    """,
)
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join as a driver row: clicks and views
    replayed as two independent micro-batched streams (time-ordered
    slices — repartitionByRange on ts with mtimes pinned to part order,
    so the file source's modification-time replay IS the event-time
    order and the watermark never drops a row as late). Each click pairs
    with the same user's views in the preceding 15 minutes; the inner
    join emits every match exactly once regardless of batching, so the
    full output is deterministic and equals the batch SQL self-join.
    State bound per side ≈ rate × (interval + watermark) per user_id;
    partitioned by the join key → horizontally scalable, RocksDB-backed
    at 100 TB like the dedup state."""
    import glob as _glob
    import os as _os

    from .streaming import event_streams as ES

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    with _scratch("bensp_stream_ij_") as base:
        with _fixture_build("stream_interval_join"):
            # the two replay-source writes are independent single-directory
            # jobs — overlap them (guide §2.6) so the fixture pays one write
            # latency; construction seconds are reported via
            # FIXTURE_BUILD_SECONDS like every other stream-source fixture
            from concurrent.futures import ThreadPoolExecutor as _TPE

            def _write_side(arg):
                name, side = arg
                df = ev.filter(F.col("event_type") == side)
                # 2 slices per side: cross-batch state is exercised (the
                # first batch's unmatched rows must pair with the second
                # batch's other side) at half the trigger cost of finer
                # slicing
                df.repartitionByRange(2, "ts").write.parquet(f"{base}/{name}")
                for i, p in enumerate(
                    sorted(_glob.glob(f"{base}/{name}/part-*.parquet"))
                ):
                    _os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))

            with _TPE(max_workers=2) as _pool:
                list(_pool.map(_write_side, (("c", "click"), ("v", "view"))))
        c_s = _replay(spark, _EVENT_STREAM_SCHEMA, f"{base}/c")
        v_s = _replay(spark, _EVENT_STREAM_SCHEMA, f"{base}/v")
        with _stateful_stream_parts(spark, f"{base}/c", f"{base}/v"):
            ES.run_to_parquet(ES.interval_join(c_s, v_s), f"{base}/out", f"{base}/ckpt")
        return spark.read.parquet(f"{base}/out").localCheckpoint(eager=True)


@query(
    "stream_interval_join_outer",
    oracle="""
    SELECT c.user_id AS user_id, c.event_id AS click_id, v.event_id AS view_id
    FROM events c LEFT JOIN events v
      ON c.user_id = v.user_id AND v.event_type = 'view'
     AND v.ts <= c.ts AND v.ts >= c.ts - INTERVAL 15 MINUTE
    WHERE c.event_type = 'click'
    """,
)
def stream_interval_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream interval join under the driver's value
    check: unmatched clicks must emit exactly once with NULL view
    columns, and only after the watermark passes their join window — a
    far-future sentinel in BOTH streams advances the final watermark so
    availableNow flushes every outer row. The emitted set equals the
    batch LEFT JOIN (matches ride the inner path; the outer rows are the
    delta this query exists to verify)."""
    import glob as _glob
    import os as _os

    from .streaming import event_streams as ES

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    with _scratch("bensp_stream_ijo_") as base:
        with _fixture_build("stream_interval_join_outer"):
            # overlapped independent side writes + reported construction
            # seconds — same protocol as stream_interval_join
            from concurrent.futures import ThreadPoolExecutor as _TPE

            def _write_side(arg):
                name, side = arg
                df = ev.filter(F.col("event_type") == side)
                df.repartitionByRange(2, "ts").write.parquet(f"{base}/{name}")
                parts = sorted(_glob.glob(f"{base}/{name}/part-*.parquet"))
                sent = df.limit(1).select(
                    F.lit(999_999_999).alias("event_id"),
                    (F.col("ts") + F.expr("INTERVAL 3650 DAYS")).alias("ts"),
                    F.lit(-1).cast("long").alias("user_id"),
                    F.lit("sentinel").alias("event_type"),
                    F.lit(0.0).alias("value"),
                )
                sent.coalesce(1).write.mode("append").parquet(f"{base}/{name}")
                newest = max(
                    _glob.glob(f"{base}/{name}/part-*.parquet"),
                    key=_os.path.getmtime,
                )
                for i, p in enumerate(parts):
                    _os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))
                _os.utime(newest, (1_700_000_100, 1_700_000_100))

            with _TPE(max_workers=2) as _pool:
                list(_pool.map(_write_side, (("c", "click"), ("v", "view"))))
        c_s = _replay(spark, _EVENT_STREAM_SCHEMA, f"{base}/c")
        v_s = _replay(spark, _EVENT_STREAM_SCHEMA, f"{base}/v")
        with _stateful_stream_parts(spark, f"{base}/c", f"{base}/v"):
            ES.run_to_parquet(
                ES.interval_join(c_s, v_s, how="left_outer"),
                f"{base}/out",
                f"{base}/ckpt",
            )
        # deterministic check surface: the (user, click, view) pairing set —
        # NULL view_id marks an outer row (the timestamp columns add no
        # information beyond the ids here: event_id is unique)
        return (
            spark.read.parquet(f"{base}/out")
            .filter(F.col("user_id") >= 0)
            .select("user_id", "click_id", "view_id")
            .localCheckpoint(eager=True)
        )


@query(
    "stream_topk_per_key",
    oracle="""
    SELECT event_type AS key, rank, event_id AS item_id, order_value FROM (
      SELECT event_type, event_id, value AS order_value,
             CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                                     ORDER BY value DESC, event_id) AS INTEGER) AS rank
      FROM events) t WHERE rank <= 5
    """,
)
def stream_topk_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed-state top-K leaderboard (the reference's bounded heap as
    cross-batch state, streaming/topk_stream) under the driver's value
    check: events arrive over 3 micro-batches, each trigger refreshes a
    key's standings, and the FINAL standings (max batch_id per key) must
    equal the batch top-5 with the exact (value desc, id asc) tiebreak —
    heap state carried across batches, not recomputed per trigger."""
    from .streaming import topk_stream as TS

    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    with _scratch("bensp_stream_topk_") as base:
        with _fixture_build("stream_topk_per_key"):
            ev.repartition(3).write.mode("overwrite").parquet(f"{base}/src")
        stream = _replay(
            spark, "event_id long, event_type string, value double", f"{base}/src"
        )
        with _stateful_stream_parts(spark, f"{base}/src"):
            TS.stream_topk_per_key(
                spark, stream, f"{base}/out", f"{base}/ckpt",
                key="event_type", item_col="event_id", order_col="value", k=5,
            )
        out = spark.read.parquet(f"{base}/out")
        w = Window.partitionBy("key")
        return (
            out.withColumn("mb", F.max("batch_id").over(w))
            .filter(F.col("batch_id") == F.col("mb"))
            .select("key", "rank", "item_id", "order_value")
            .localCheckpoint(eager=True)
        )


@query(
    "stream_session_windows",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL 30 MINUTE OR
                  LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    sessions AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM marked
    )
    SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
    FROM sessions GROUP BY user_id, session_id
    """,
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming gap-based sessionization as a driver row: the events
    table replayed as a stream, session_window + watermark in append
    mode (each session emits exactly once, when the watermark passes its
    close). A far-future sentinel event advances the final watermark so
    every real session finalizes under availableNow; the emitted set
    must equal the batch lag/cumsum sessionization — the streaming
    counterpart of a5_session_windows, sharing its oracle."""
    from .streaming import event_streams as ES

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    sentinel = ev.limit(1).select(
        F.lit(999_999_999).alias("event_id"),
        (F.col("ts") + F.expr("INTERVAL 3650 DAYS")).alias("ts"),
        F.lit(-1).cast("long").alias("user_id"),
        F.lit("sentinel").alias("event_type"),
        F.lit(0.0).alias("value"),
    )
    with _scratch("bensp_stream_sess_") as base:
        with _fixture_build("stream_session_windows"):
            ev.unionByName(sentinel).repartition(5).write.parquet(f"{base}/src")
        stream = spark.readStream.schema(_EVENT_STREAM_SCHEMA).parquet(f"{base}/src")
        with _stateful_stream_parts(spark, f"{base}/src"):
            ES.run_to_parquet(ES.session_counts(stream), f"{base}/out", f"{base}/ckpt")
        return (
            spark.read.parquet(f"{base}/out")
            .filter(F.col("user_id") >= 0)
            .localCheckpoint(eager=True)
        )


@query(
    "stream_per_key_quota",
    oracle="""
    SELECT source,
           CAST(LEAST(COUNT(*), 40) AS BIGINT) AS n_admitted,
           CAST(COUNT(*) AS BIGINT) AS n_offered
    FROM documents GROUP BY source
    """,
)
def stream_per_key_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key admission quota as a driver row — the T8 keyed-state
    surface (applyInPandasWithState) under the external value check:
    documents stream in over 3 micro-batches and each source admits at
    most 40 docs ACROSS batches (state carries the running count).
    WHICH docs are admitted is arrival order; the admitted COUNT per key
    is not — it must equal LEAST(total, quota) exactly, which is the
    deterministic surface the oracle checks (n_offered joins the full
    per-key totals so under-admission and over-admission both fail)."""
    from .streaming import quota_stream as QS

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    with _scratch("bensp_stream_quota_") as base:
        with _fixture_build("stream_per_key_quota"):
            docs.repartition(3).write.mode("overwrite").parquet(f"{base}/src")
        stream = _replay(spark, "doc_id long, source string", f"{base}/src")
        with _stateful_stream_parts(spark, f"{base}/src"):
            QS.stream_per_key_quota(
                spark, stream, f"{base}/out", f"{base}/ckpt",
                key="source", quota=40, output_schema="doc_id long, source string",
            )
        admitted = spark.read.parquet(f"{base}/out")
        offered = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_offered"))
        return (
            admitted.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_admitted"))
            .join(offered, "source")
            .select("source", "n_admitted", "n_offered")
            .localCheckpoint(eager=True)
        )


_INCR_HISTORY_SQL = "SELECT doc_id, text FROM documents"
_INCR_NEW_SQL = f"""
  SELECT doc_id + {DT.AUG_OFFSET} AS doc_id,
         array_to_string(words[1:GREATEST(len(words) - 3, 1)], ' ') AS text
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS words FROM documents)
  UNION ALL
  SELECT doc_id + {2 * DT.AUG_OFFSET} AS doc_id, text FROM documents WHERE doc_id < 20
"""


@query(
    "dedup_incremental_batch",
    oracle=DT.incremental_dedup_oracle_sql(_INCR_HISTORY_SQL, _INCR_NEW_SQL),
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup of a new crawl batch against a historical corpus
    (the daily-increment pattern): the documents table is the history; the
    new batch is its jittered near-copies plus 20 planted exact copies.
    Exact matches drop by normalized-hash anti-semantics, near matches by
    banded SimHash against the history's fingerprints — each new doc comes
    back flagged (exact_dup, near_dup, is_kept), value-checked against the
    EXISTS formulation in SQL."""
    docs = _t(spark, sf_dir, "documents")
    history = docs.select("doc_id", "text")
    words = F.split(F.trim(F.col("text")), r"\s+")
    keep = F.greatest(F.size(words) - 3, F.lit(1))
    jitter = docs.select(
        (F.col("doc_id") + DT.AUG_OFFSET).alias("doc_id"),
        F.array_join(F.slice(words, 1, keep), " ").alias("text"),
    )
    exact_copies = docs.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 2 * DT.AUG_OFFSET).alias("doc_id"), "text"
    )
    # The derived batch (split/slice/join jitter) feeds BOTH the exact
    # branch (md5 normalize) and the near branch (simhash tokenize);
    # persisting it computes the derivation once instead of per-branch —
    # at scale the incoming batch is materialized input anyway.
    from .session import pooled_persist

    new_batch = pooled_persist(
        jitter.unionByName(exact_copies), "q.dedup_incremental.new_batch"
    )
    # the once-per-day tables: persist the history's content hashes and
    # simhash fingerprints so no batch rescans history raw text
    hist_h, hist_s = DT.history_signatures(history)
    sig = (
        pooled_persist(hist_h, "q.dedup_incremental.hist_hashes"),
        pooled_persist(hist_s, "q.dedup_incremental.hist_sims"),
    )
    return DT.incremental_dedup(new_batch, max_hamming=3, history_sig=sig)


# SAME oracle as dedup_incremental_batch, verbatim: the bloom prefilter
# has zero false negatives, so the flags must be IDENTICAL with and
# without it — the driver proves flag-parity, not just plausibility.
@query(
    "dedup_incremental_bloom_prefilter",
    oracle=DT.incremental_dedup_oracle_sql(_INCR_HISTORY_SQL, _INCR_NEW_SQL),
)
def dedup_incremental_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup with the packed-Bloom PREFILTER wired in — the
    production shape of the daily loop's exact check (the reference's own
    cheap-probe-before-lookup: apps/dedup/src/encoder.c:666-703 tests 4
    hash bytes before walking the hashtable bucket): the history's
    content hashes pack into a broadcast bitset (built once beside the
    signature state, advanced by bitwise OR), each new doc probes its
    k bits scan-locally, and ONLY bloom-maybe rows enter the history
    join — at 100 TB the definitely-new majority of a day's crawl never
    touches the join at all. BOTH halves are prefiltered: a second
    bitset over the history's SimHash band values guards the banded
    near-dup join the same way. Same fixture and same oracle as
    dedup_incremental_batch: identical flags prove both prefilters are
    lossless (zero false negatives by construction).

    Since r8 the probe is SIZE-GATED (BLOOM_GATE_MIN_HISTORY): at this
    fixture's toy history the estimated cardinality is far below the
    gate, so incremental_dedup auto-skips the probe (the history side
    broadcast-joins anyway — the r7 verdict measured the forced probe at
    +1 s pure overhead here) and this query costs ~the plain one. The
    probe path itself stays oracle-proven by
    dedup_incremental_bloom_forced (gate=0)."""
    docs = _t(spark, sf_dir, "documents")
    history = docs.select("doc_id", "text")
    words = F.split(F.trim(F.col("text")), r"\s+")
    keep = F.greatest(F.size(words) - 3, F.lit(1))
    jitter = docs.select(
        (F.col("doc_id") + DT.AUG_OFFSET).alias("doc_id"),
        F.array_join(F.slice(words, 1, keep), " ").alias("text"),
    )
    exact_copies = docs.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 2 * DT.AUG_OFFSET).alias("doc_id"), "text"
    )
    from .session import pooled_persist

    new_batch = pooled_persist(
        jitter.unionByName(exact_copies), "q.dedup_incr_bloom.new_batch"
    )
    hist_h, hist_s = DT.history_signatures(history)
    sig = (
        pooled_persist(hist_h, "q.dedup_incr_bloom.hist_hashes"),
        pooled_persist(hist_s, "q.dedup_incr_bloom.hist_sims"),
    )
    m, k = 1 << 16, 4  # sized for the sf-scale history; pack collect ≤ m bits
    # bitset construction is STATE BUILD, not probe work — production
    # maintains it incrementally beside the signature tables (daily_cli
    # init/advance); rebuilding per run is this fixture's scaffolding,
    # so it reports through the fixture-build split like the ANN index
    # builds (the drift guard watches the operator, not the build)
    with _fixture_build("dedup_incremental_bloom_prefilter"):
        packed = DT.history_bloom(sig[0], m=m, k=k)
        band_packed = DT.history_band_bloom(sig[1], max_hamming=3, m=m, k=k)
    return DT.incremental_dedup(
        new_batch,
        max_hamming=3,
        history_sig=sig,
        history_bloom_packed=packed,
        history_band_bloom_packed=band_packed,
        bloom_m=m,
        bloom_k=k,
    )


# SAME oracle a third time: with the size gate FORCED OFF the probes
# actually run at toy scale, so this is the query that oracle-proves the
# probe path's zero-false-negative parity (the gated query above proves
# the gate; this one proves the probe) — a deliberate parity proof, not
# a perf claim (the bench extra carries the scale case: 98.91% join-input
# reduction at 10M rows).
@query(
    "dedup_incremental_bloom_forced",
    oracle=DT.incremental_dedup_oracle_sql(_INCR_HISTORY_SQL, _INCR_NEW_SQL),
)
def dedup_incremental_bloom_forced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_incremental_bloom_prefilter with ``bloom_gate_min_history=0``:
    both packed-Bloom probes (exact-hash and SimHash-band) execute even
    though the fixture history is far below the gate — flags must still
    equal the plain query's (zero false negatives by construction), and
    the shared oracle verifies exactly that."""
    docs = _t(spark, sf_dir, "documents")
    history = docs.select("doc_id", "text")
    words = F.split(F.trim(F.col("text")), r"\s+")
    keep = F.greatest(F.size(words) - 3, F.lit(1))
    jitter = docs.select(
        (F.col("doc_id") + DT.AUG_OFFSET).alias("doc_id"),
        F.array_join(F.slice(words, 1, keep), " ").alias("text"),
    )
    exact_copies = docs.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 2 * DT.AUG_OFFSET).alias("doc_id"), "text"
    )
    from .session import pooled_persist

    new_batch = pooled_persist(
        jitter.unionByName(exact_copies), "q.dedup_incr_bloom.new_batch"
    )
    hist_h, hist_s = DT.history_signatures(history)
    sig = (
        pooled_persist(hist_h, "q.dedup_incr_bloom.hist_hashes"),
        pooled_persist(hist_s, "q.dedup_incr_bloom.hist_sims"),
    )
    m, k = 1 << 16, 4
    with _fixture_build("dedup_incremental_bloom_forced"):
        packed = DT.history_bloom(sig[0], m=m, k=k)
        band_packed = DT.history_band_bloom(sig[1], max_hamming=3, m=m, k=k)
    return DT.incremental_dedup(
        new_batch,
        max_hamming=3,
        history_sig=sig,
        history_bloom_packed=packed,
        history_band_bloom_packed=band_packed,
        bloom_m=m,
        bloom_k=k,
        bloom_gate_min_history=0,
    )


@query("dedup_boilerplate_passages", oracle=DT.boilerplate_oracle_sql(3))
def dedup_boilerplate_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate detection: passages present in ≥3 distinct documents
    (the crawl header/footer/licence-block filter). A digest-keyed
    distinct-count aggregate over the same passage table the dedup uses."""
    corpus = DT.augmented_corpus(_t(spark, sf_dir, "documents"))
    return DT.boilerplate_passages(corpus, min_docs=3)


@query("dedup_strip_boilerplate", oracle=DT.strip_boilerplate_oracle_sql(3))
def dedup_strip_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate REMOVAL (the rewrite the detector feeds — CCNet/C4
    sub-document cleanup): passages present in ≥3 distinct docs are cut
    and every document is reassembled from its surviving passages in
    order, with (n_passages, n_stripped) counters for downstream quality
    filters. The oracle rebuilds the full strings via ordered string_agg,
    so reassembly order — not just membership — is value-checked."""
    corpus = DT.augmented_corpus(_t(spark, sf_dir, "documents"))
    return DT.strip_boilerplate(corpus, min_docs=3)


@query(
    "text_bm25_rank",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' ')) AS token
      FROM documents
    ),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks WHERE token <> '' GROUP BY doc_id),
    stats AS (SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
                     COUNT(*) AS n_docs FROM dl),
    tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks
           WHERE token IN ('table', 'query', 'spark') GROUP BY doc_id, token),
    df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM toks
           WHERE token IN ('table', 'query', 'spark') GROUP BY token),
    scored AS (
      SELECT tf.doc_id, tf.token,
             LN((n_docs - df + 0.5) / (df + 0.5) + 1.0)
               * (tf * 2.2)
               / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)) AS s
      FROM tf JOIN df USING (token) JOIN dl USING (doc_id) CROSS JOIN stats
    )
    SELECT doc_id,
           ROUND(COALESCE(MAX(CASE WHEN token = 'table' THEN s END), 0.0)
                 + COALESCE(MAX(CASE WHEN token = 'query' THEN s END), 0.0)
                 + COALESCE(MAX(CASE WHEN token = 'spark' THEN s END), 0.0), 4) AS bm25
    FROM scored GROUP BY doc_id
    """,
)
def text_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 document scoring against a fixed term set (k1=1.2, b=0.75) —
    the retrieval-ranking aggregation pipeline (tf ⨝ df ⨝ doc-length ⨝
    corpus stats). Float discipline: every per-term score is computed in
    ONE identical double expression in both engines, the three terms sum
    in a FIXED order (conditional-max pivot, not a float SUM whose
    addend order varies by partition), and the result rounds at 4
    decimals to absorb libm ulp differences in LN. Scale shape: df and
    corpus stats are tiny and broadcast; tf and dl join on doc_id; the
    term filter prunes the explode before any exchange."""
    docs = _t(spark, sf_dir, "documents")
    terms = ["table", "query", "spark"]
    words = F.split(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "), " ")
    toks = docs.select("doc_id", F.explode(words).alias("token")).filter(
        F.col("token") != ""
    )
    from .session import pooled_persist

    toks = pooled_persist(toks, "queries.bm25.toks")
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    srow = dl.agg(
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    tf = (
        toks.filter(F.col("token").isin(terms))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("token").agg(F.count_distinct("doc_id").alias("df"))
    s = (
        F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
        * (F.col("tf") * 2.2)
        / (
            F.col("tf")
            + 1.2 * (1.0 - 0.75 + 0.75 * F.col("dl") / F.col("avgdl"))
        )
    )
    scored = (
        tf.join(F.broadcast(dfreq), "token")
        .join(dl, "doc_id")
        .join(F.broadcast(srow))
        .select("doc_id", "token", s.alias("s"))
    )
    term_s = lambda t: F.coalesce(
        F.max(F.when(F.col("token") == t, F.col("s"))), F.lit(0.0)
    )
    return scored.groupBy("doc_id").agg(
        F.round(term_s("table") + term_s("query") + term_s("spark"), 4).alias("bm25")
    )


@query(
    "text_strip_boilerplate",
    oracle=f"""
    WITH corpus AS ({DT.AUGMENTED_CORPUS_SQL}),
    p AS ({DT._passages_sql("SELECT * FROM corpus")}),
    bp AS (SELECT passage_md5 FROM p GROUP BY passage_md5
           HAVING COUNT(DISTINCT doc_id) >= 3),
    kept AS (SELECT doc_id, passage_idx, passage_md5 FROM p
             WHERE passage_md5 NOT IN (SELECT passage_md5 FROM bp))
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           md5(string_agg(passage_md5, '' ORDER BY passage_idx)) AS content_sig
    FROM kept GROUP BY doc_id
    """,
)
def text_strip_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate stripping composition: passages → doc-frequency
    boilerplate set → anti join → per-doc surviving-passage signature
    (md5 over the position-ordered passage digests, so content is
    value-checked without shipping text). Docs that are pure boilerplate
    drop out entirely — same in both engines. Scale shape: the
    boilerplate set is small and broadcast-anti-joins; the per-doc
    regroup sorts WITHIN the aggregation buffer (array_sort on structs),
    no extra exchange."""
    corpus = DT.augmented_corpus(_t(spark, sf_dir, "documents"))
    p = DT.passages(corpus)
    bp = DT.boilerplate_passages(corpus, min_docs=3).select("passage_md5")
    kept = p.join(F.broadcast(bp), "passage_md5", "left_anti")
    sig = F.md5(
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("passage_idx", "passage_md5"))
                ),
                lambda x: x["passage_md5"],
            ),
        )
    )
    return kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept"), sig.alias("content_sig")
    )


@query(
    "layout_partition_pruning",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 3) AS sum_value
    FROM events WHERE event_type IN ('click', 'purchase')
    GROUP BY event_type
    """,
)
def layout_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end Hive-partitioned layout: write events partitioned by
    event_type (one exchange, bounded file counts, task-local ts sort for
    row-group skipping), read back through partition discovery, aggregate
    under a partition filter — the filter prunes whole directories at
    planning time (PartitionFilters, asserted in tests/test_layout.py).
    Results must equal the straight-SQL aggregation over the unpartitioned
    table, proving the layout round-trip is lossless."""
    from .operators import layout as L

    ev = _t(spark, sf_dir, "events").select("event_type", "ts", "value")
    # the returned DataFrame reads the layout lazily, so it is kept
    with _scratch("bensp_layout_q_", keep=(spark, "layout_partition_pruning")) as d:
        path = f"{d}/events_parted"
        L.write_partitioned(ev, path, ["event_type"], sort_cols=["ts"])
    back = L.read_partitioned(spark, path).filter(
        F.col("event_type").isin("click", "purchase")
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(_sum_units_dbl(_unit("value", 4), 4), 3).alias("sum_value"),
    )


def _zorder_oracle() -> str:
    # ranges are the exact min/max of the sf-scaled table — computed in
    # the oracle itself so the SQL stays scale-factor-independent; the
    # interleave terms mirror operators.layout.zorder_key_sql
    return """
    WITH b AS (SELECT MIN(l_orderkey) AS lo_k, MAX(l_orderkey) AS hi_k,
                      MIN(l_partkey) AS lo_p, MAX(l_partkey) AS hi_p
               FROM lineitem),
    keyed AS (
      SELECT l_orderkey, l_partkey,
             {terms} AS zkey
      FROM lineitem, b
    )
    SELECT l_orderkey, l_partkey, zkey FROM keyed
    ORDER BY zkey, l_orderkey, l_partkey LIMIT 100
    """.format(
        terms=" | ".join(
            f"((((((({col} - {lo}) * 65535) // GREATEST({hi} - {lo}, 1))) >> {j}) & 1) << {2 * j + ci})"
            for ci, (col, lo, hi) in enumerate(
                [("l_orderkey", "lo_k", "hi_k"), ("l_partkey", "lo_p", "hi_p")]
            )
            for j in range(16)
        )
    )


@query("layout_zorder_key", oracle=_zorder_oracle())
def layout_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key — the OPTIMIZE ZORDER BY primitive:
    exact-integer bit interleave of range-scaled (l_orderkey, l_partkey),
    the key ``write_zordered`` lays files out by so multi-column range
    predicates prune parquet stats in every dimension at once. The first
    100 rows in key order are checked value-exact against the identical
    integer arithmetic in SQL."""
    from .operators.layout import zorder_key

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    b = li.agg(
        F.min("l_orderkey"), F.max("l_orderkey"), F.min("l_partkey"), F.max("l_partkey")
    ).collect()[0]
    ranges = [(int(b[0]), int(b[1])), (int(b[2]), int(b[3]))]
    key = zorder_key([F.col("l_orderkey"), F.col("l_partkey")], ranges, bits=16)
    return (
        li.withColumn("zkey", key)
        .orderBy("zkey", "l_orderkey", "l_partkey")
        .limit(100)
    )


@query(
    "layout_bucketed_join",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS n_orders,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 3) AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def layout_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end bucketed co-located join: both sides written bucketed on
    the join key (the shuffle paid ONCE at write time), then joined
    exchange-free on the bucket layout (zero-exchange plan asserted in
    tests/test_bucketing.py) and aggregated. Results must equal the
    straight shuffle join — the layout is a physical optimization with no
    semantic surface."""
    import uuid as _uuid
    from urllib.parse import unquote, urlparse

    from .operators import bucketing as B

    # The bucketed WRITE is the layout build (the shuffle paid once at
    # write time — the whole point of bucketing); it is a state-registry
    # entry per (session, sf_dir) like the ANN index builds, so repeat
    # invocations measure the exchange-free JOIN, not a table rewrite.
    # Deterministic content, so reuse is safe. Its drop removes the table
    # dirs by path, which needs no live session (DROP TABLE does).
    def write_tables():
        tag = _uuid.uuid4().hex[:8]
        names = f"bensp_q_orders_{tag}", f"bensp_q_customer_{tag}"
        with _cold_build("layout_bucketed_join:build"):
            o = _t(spark, sf_dir, "orders").select(
                "o_orderkey", "o_custkey", "o_totalprice"
            )
            c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
            B.write_bucketed(o, names[0], 8, "o_custkey")
            B.write_bucketed(c, names[1], 8, "c_custkey")
        dirs = [
            unquote(urlparse(r.data_type).path)
            for t in names
            for r in spark.sql(f"DESCRIBE TABLE EXTENDED {t}").collect()
            if r.col_name == "Location"
        ]
        return names, dirs

    (t_o, t_c), _dirs = state.get(
        spark, "bucketed", sf_dir, write_tables, drop=lambda got: state.rmtree(*got[1])
    )
    joined = spark.table(t_o).join(
        spark.table(t_c), F.col("o_custkey") == F.col("c_custkey")
    )
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(_sum_units_dbl(_unit("o_totalprice"), 2), 3).alias("revenue"),
    )


def _prebuilt(spark, name, family, sf_dir, build, kind, load):
    """Build-once index: the first call for ``(family, sf_dir)`` in a
    session runs ``build(path)`` into a kept directory, timed under
    COLD_BUILD_SECONDS["<name>:build"], and loads it, timed under
    ``"load:<kind>"``. The index is deterministic per corpus, so every
    later call of the session (bench reps) reuses the loaded index, a
    state-registry entry (state.py). Returns ``(index, what build
    returned)``."""

    def build_once():
        keep = (spark, (family, sf_dir))
        with _cold_build(f"{name}:build"), _scratch("bensp_ann_idx_", keep) as d:
            built = build(f"{d}/{family}")
        with _cold_build(f"load:{kind}"):
            return load(spark, f"{d}/{family}"), built

    return state.get(spark, "index", (family, sf_dir), build_once)


def _nsw_index(spark: SparkSession, name: str, sf_dir: str, emb: DataFrame):
    """The sharded-NSW index over the embeddings table (ann_nsw_topk's
    build parameters)."""
    idx, _ = _prebuilt(
        spark, name, "nsw", sf_dir,
        lambda path: GA.save_nsw_index(emb, path, n_shards=4, m=8, ef_build=24),
        "nsw", GA.load_nsw_index,
    )
    return idx


def _nsw_routed_pq_index(spark: SparkSession, name: str, sf_dir: str, emb: DataFrame):
    """The PQ-compressed routed NSW index over the embeddings table."""
    idx, _ = _prebuilt(
        spark, name, "nsw_routed_pq", sf_dir,
        lambda path: GA.save_nsw_routed_pq_index(
            emb, path, n_cells=8, m=8, ef_build=24, n_subspaces=8,
            n_centroids=256,
        ),
        "nsw_routed_pq", GA.load_nsw_routed_pq_index,
    )
    return idx


@query(
    "ann_ivf_prebuilt_topk",
    oracle=SIM.ivf_topk_oracle_sql(k=5, max_query_id=8, n_cells=16, n_probe=2),
)
def ann_ivf_prebuilt_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN against a PERSISTED index (save_ivf_index → parquet →
    load_ivf_index): the build cost — centroid selection + corpus cell
    assignment — is paid at write time, the query pays only the probe
    join and exact re-rank. Must match the inline-build oracle exactly
    (doubles round-trip parquet bit-exactly)."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 8)
    idx, _ = _prebuilt(
        spark, "ann_ivf_prebuilt_topk", "ivf", sf_dir,
        lambda path: SIM.save_ivf_index(emb, path, n_cells=16),
        "ivf", SIM.load_ivf_index,
    )
    return SIM.ivf_ann_topk(q, emb, k=5, n_cells=16, n_probe=2, index=idx)


@query(
    "ann_ivf_upsert_topk",
    oracle=SIM.ivf_topk_oracle_sql(k=5, max_query_id=8, n_cells=16, n_probe=2),
)
def ann_ivf_upsert_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF maintenance under the value check: the index is
    built over the FIRST HALF of the corpus only, then the second half
    is UPSERTED (assigned to the existing centroids and appended — no
    full-corpus rebuild, the daily-increment pattern). Because the
    deterministic centroids come from the lowest ids (all in the first
    half) and assignment is pure arithmetic, the upserted index must
    answer queries identically to a from-scratch build over everything —
    it shares ann_ivf_topk's exact SQL oracle."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 8)

    def build(path: str) -> None:
        half = emb.agg((F.max("vec_id") / 2).cast("long").alias("m")).collect()[0]["m"]
        SIM.save_ivf_index(emb.filter(F.col("vec_id") <= half), path, n_cells=16)
        SIM.upsert_ivf_index(spark, path, emb.filter(F.col("vec_id") > half))

    idx, _ = _prebuilt(
        spark, "ann_ivf_upsert_topk", "ivf_upsert", sf_dir, build,
        "ivf", SIM.load_ivf_index,
    )
    return SIM.ivf_ann_topk(q, emb, k=5, n_cells=16, n_probe=2, index=idx)


#: the daily-increment survivors (is_kept new-batch docs) as vectors:
#: source embedding jittered by the engine-exact x*1.01+0.001 transform,
#: keyed by the new doc_id (disjoint from base vec_ids by AUG_OFFSET)
_DAILY_CORPUS_SQL = f"""
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings
  UNION ALL
  SELECT f.doc_id AS vec_id,
         list_transform(CAST(e.embedding AS DOUBLE[]), x -> x * 1.01 + 0.001) AS embedding
  FROM ({DT.incremental_dedup_oracle_sql(_INCR_HISTORY_SQL, _INCR_NEW_SQL)}) f
  JOIN embeddings e ON e.vec_id = f.doc_id - {DT.AUG_OFFSET}
  WHERE f.is_kept
"""


@query(
    "pipeline_daily_increment",
    oracle=SIM.ivf_topk_oracle_sql(
        k=5, max_query_id=8, n_cells=16, n_probe=2, corpus_sql=_DAILY_CORPUS_SQL
    ),
)
def pipeline_daily_increment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB north-star workflow composed END-TO-END as one query:
    a new crawl batch is deduped against the historical corpus
    (``incremental_dedup`` — exact digest anti-join + banded SimHash vs
    history fingerprints, no history rescan), the SURVIVORS are embedded
    (deterministic jitter of their source vectors stands in for the
    embedding model) and UPSERTED into the persisted IVF index
    (``upsert_ivf_index`` — assignment against fixed centroids, no
    corpus rescan), and the merged index answers ANN queries. The oracle
    recomputes the whole composition in SQL: the incremental-dedup
    EXISTS formulation feeds the survivor set, whose jittered vectors
    extend the IVF corpus. Proves the stage contracts (dedup flags →
    survivor ids → vector schema → index append) actually compose, not
    just that each part works alone."""
    from .session import pooled_persist

    emb = _t(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    emb_d = emb.select("vec_id", v.alias("embedding"))
    q = emb_d.filter(F.col("vec_id") < 8)

    def build(path: str) -> None:
        # --- stage 1: dedup the derived new batch against history -----
        docs = _t(spark, sf_dir, "documents")
        history = docs.select("doc_id", "text")
        words = F.split(F.trim(F.col("text")), r"\s+")
        keep = F.greatest(F.size(words) - 3, F.lit(1))
        jitter = docs.select(
            (F.col("doc_id") + DT.AUG_OFFSET).alias("doc_id"),
            F.array_join(F.slice(words, 1, keep), " ").alias("text"),
        )
        exact_copies = docs.filter(F.col("doc_id") < 20).select(
            (F.col("doc_id") + 2 * DT.AUG_OFFSET).alias("doc_id"), "text"
        )
        new_batch = pooled_persist(
            jitter.unionByName(exact_copies), "q.pipeline_daily.new_batch"
        )
        hist_h, hist_s = DT.history_signatures(history)
        sig = (
            pooled_persist(hist_h, "q.pipeline_daily.hist_hashes"),
            pooled_persist(hist_s, "q.pipeline_daily.hist_sims"),
        )
        flags = DT.incremental_dedup(new_batch, max_hamming=3, history_sig=sig)
        survivors = flags.filter(F.col("is_kept")).select("doc_id")
        # --- stage 2: embed survivors (engine-exact jitter transform) --
        surv_emb = survivors.join(
            emb_d.withColumnRenamed("vec_id", "src_id"),
            F.col("doc_id") - DT.AUG_OFFSET == F.col("src_id"),
        ).select(
            F.col("doc_id").alias("vec_id"),
            F.transform(
                F.col("embedding"), lambda x: x * F.lit(1.01) + F.lit(0.001)
            ).alias("embedding"),
        )
        # --- stage 3: upsert into the persisted history index ----------
        SIM.save_ivf_index(emb_d, path, n_cells=16)
        SIM.upsert_ivf_index(spark, path, surv_emb)

    idx, _ = _prebuilt(
        spark, "pipeline_daily_increment", "ivf_daily", sf_dir, build,
        "ivf", SIM.load_ivf_index,
    )
    # --- stage 4: probe the merged index ------------------------------
    return SIM.ivf_ann_topk(q, emb_d, k=5, n_cells=16, n_probe=2, index=idx)


@query("ann_pq_prebuilt_topk")
def ann_pq_prebuilt_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ANN against a PERSISTED index (codebooks + compressed codes in
    parquet): Lloyd training and the encode scan happen at build time.
    Shares ann_pq_topk's golden oracle — the round-tripped index must
    reproduce the inline build bit-for-bit."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 8)
    idx, _ = _prebuilt(
        spark, "ann_pq_prebuilt_topk", "pq", sf_dir,
        lambda path: SIM.save_pq_index(emb, path), "pq", SIM.load_pq_index,
    )
    return SIM.pq_ann_topk(q, emb, k=5, refine=10, index=idx)


# the prebuilt PQ path must reproduce the inline build bit-for-bit, so it
# shares the same golden-pinned oracle
ORACLES["ann_pq_prebuilt_topk"] = ORACLES["ann_pq_topk"]


@query("ann_ivfpq_prebuilt_topk", oracle=None)
def ann_ivfpq_prebuilt_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ probing a PERSISTED index (save_ivfpq_index → centroids +
    codebooks + cell-coded corpus parquet): centroid training, Lloyd
    codebooks, the encode scan and the cell assignment were all paid at
    build time; the query path is probe-join + ADC + exact rerank only.
    Must reproduce the inline build bit-for-bit — shares ann_ivfpq_topk's
    independent golden oracle."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 8)
    idx, _ = _prebuilt(
        spark, "ann_ivfpq_prebuilt_topk", "ivfpq", sf_dir,
        lambda path: SIM.save_ivfpq_index(emb, path, n_cells=16, n_centroids=16),
        "ivfpq", SIM.load_ivfpq_index,
    )
    return SIM.ivfpq_ann_topk(q, emb, k=5, n_probe=2, refine=4, index=idx)


ORACLES["ann_ivfpq_prebuilt_topk"] = ORACLES["ann_ivfpq_topk"]


@query("ann_nsw_prebuilt_topk", oracle=None)
def ann_nsw_prebuilt_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharded-NSW graph ANN probing a PERSISTED index (save_nsw_index →
    per-shard adjacency parquet partitioned by shard): the graph build —
    the dominant per-call cost of the inline form — is paid at write
    time; the query pays only the beam searches and the exact re-rank.
    Probing a saved graph is bit-identical to the inline build over the
    same corpus (parquet round-trips the doubles and the adjacency
    exactly) — shares ann_nsw_topk's independent golden oracle."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 8)
    idx = _nsw_index(spark, "ann_nsw_prebuilt_topk", sf_dir, emb)
    return GA.nsw_ann_topk(q, emb, k=5, ef_search=16, index=idx)


ORACLES["ann_nsw_prebuilt_topk"] = ORACLES["ann_nsw_topk"]


@query("ann_nsw_upsert_topk", oracle=None)
def ann_nsw_upsert_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NSW maintenance under the value check: the graph is
    built over the FIRST 400 vectors only, then the last 100 are
    UPSERTED — each shard CONTINUES its deterministic insertion sequence
    (the daily-ingest pattern; no full rebuild). Because the new ids are
    all greater than the indexed ids, the continued insertion order is
    exactly the full rebuild's order, so the upserted graph — and
    therefore the probe — is bit-identical to the inline build over the
    whole corpus: shares ann_nsw_topk's independent golden oracle."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 8)

    def build(path: str) -> None:
        GA.save_nsw_index(
            emb.filter(F.col("vec_id") < 400), path, n_shards=4, m=8, ef_build=24
        )
        GA.upsert_nsw_index(emb.filter(F.col("vec_id") >= 400), path)

    idx, _ = _prebuilt(
        spark, "ann_nsw_upsert_topk", "nsw_upsert", sf_dir, build,
        "nsw", GA.load_nsw_index,
    )
    return GA.nsw_ann_topk(q, emb, k=5, ef_search=16, index=idx)


ORACLES["ann_nsw_upsert_topk"] = ORACLES["ann_nsw_topk"]


@query("stream_ann_nsw_topk", oracle=None)
def stream_ann_nsw_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming graph-ANN: the 8 query vectors arrive as a 2-file
    stream and probe the PREBUILT sharded-NSW index per micro-batch
    (streaming/ann_stream.stream_nsw_topk) — per-query beams never look
    across queries, so the drained result set equals the batch probe at
    any trigger sizing: shares ann_nsw_topk's independent golden oracle
    VERBATIM."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 8)
    idx = _nsw_index(spark, "stream_ann_nsw_topk", sf_dir, emb)
    from .streaming.ann_stream import stream_nsw_topk

    with _scratch("bensp_stream_nsw_") as base:
        with _fixture_build("stream_ann_nsw_topk"):
            q.repartition(2).write.mode("overwrite").parquet(f"{base}/src")
        stream = _replay(spark, q.schema, f"{base}/src")
        stream_nsw_topk(
            spark, stream, emb, idx, f"{base}/out", f"{base}/ckpt", k=5, ef_search=16
        )
        from .streaming.ann_stream import read_sink

        return read_sink(spark, f"{base}/out").localCheckpoint(eager=True)


ORACLES["stream_ann_nsw_topk"] = ORACLES["ann_nsw_topk"]


@query("ann_nsw_routed_prebuilt_topk", oracle=None)
def ann_nsw_routed_prebuilt_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-routed NSW probing a PERSISTED routed index
    (save_nsw_routed_index → centroids + one graph per cell, parquet
    partitioned by cell): routing centroids, cell assignment and every
    cell graph were paid at write time; the query pays n_probe beams +
    the exact re-rank. Bit-identical to the inline routed build — shares
    ann_nsw_routed_topk's independent golden oracle."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 8)
    idx, _ = _prebuilt(
        spark, "ann_nsw_routed_prebuilt_topk", "nsw_routed", sf_dir,
        lambda path: GA.save_nsw_routed_index(emb, path, n_cells=8, m=8, ef_build=24),
        "nsw_routed", GA.load_nsw_routed_index,
    )
    return GA.nsw_routed_ann_topk(
        q, emb, k=5, n_probe=2, ef_search=16, index=idx
    )


ORACLES["ann_nsw_routed_prebuilt_topk"] = ORACLES["ann_nsw_routed_topk"]


@query("ann_nsw_routed_upsert_topk", oracle=None)
def ann_nsw_routed_upsert_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ROUTED-index maintenance under the value check: the
    index is built over the first 400 vectors, the last 100 are UPSERTED
    (assignment against the persisted centroids, touched cells continue
    their insertion sequences — the daily-ingest pattern, no rebuild).
    Because the new ids are all greater than the indexed ids, the
    deterministic lowest-id centroids are unchanged and the continued
    order IS the full rebuild's, so the upserted index — and the probe —
    is bit-identical to the inline routed build over the whole corpus:
    shares ann_nsw_routed_topk's independent golden oracle."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 8)

    def build(path: str) -> None:
        GA.save_nsw_routed_index(
            emb.filter(F.col("vec_id") < 400), path, n_cells=8, m=8, ef_build=24
        )
        GA.upsert_nsw_routed_index(emb.filter(F.col("vec_id") >= 400), path)

    idx, _ = _prebuilt(
        spark, "ann_nsw_routed_upsert_topk", "nsw_routed_upsert", sf_dir, build,
        "nsw_routed", GA.load_nsw_routed_index,
    )
    return GA.nsw_routed_ann_topk(q, emb, k=5, n_probe=2, ef_search=16, index=idx)


ORACLES["ann_nsw_routed_upsert_topk"] = ORACLES["ann_nsw_routed_topk"]


@query("stream_ann_routed_pq_topk", oracle=None)
def stream_ann_routed_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming DiskANN: the 8 query vectors arrive as a 2-file stream
    and probe the PREBUILT PQ-compressed routed index per micro-batch
    (streaming/ann_stream.stream_routed_pq_topk) — routing, ADC beams
    over code-only shards, exact rerank from the static raw corpus; the
    drained result set equals the batch probe at any trigger sizing, so
    it shares ann_nsw_routed_pq_topk's independent golden verbatim."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.select("vec_id", "embedding").filter(F.col("vec_id") < 8)
    idx = _nsw_routed_pq_index(spark, "stream_ann_routed_pq_topk", sf_dir, emb)
    from .streaming.ann_stream import read_sink, stream_routed_pq_topk

    with _scratch("bensp_stream_rpq_") as base:
        with _fixture_build("stream_ann_routed_pq_topk"):
            q.repartition(2).write.mode("overwrite").parquet(f"{base}/src")
        stream = _replay(spark, q.schema, f"{base}/src")
        stream_routed_pq_topk(
            spark, stream, emb, idx, f"{base}/out", f"{base}/ckpt", k=5,
            n_probe=2, ef_search=32,
        )
        return read_sink(spark, f"{base}/out").localCheckpoint(eager=True)


ORACLES["stream_ann_routed_pq_topk"] = ORACLES["ann_nsw_routed_pq_topk"]


@query("ann_nsw_routed_spill_prebuilt_topk", oracle=None)
def ann_nsw_routed_spill_prebuilt_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boundary-spilled routed NSW probing a PERSISTED index: the SPANN
    closure assignment and every (spilled) cell graph were paid at write
    time, the spill factor rides the meta so the probe collapses
    duplicate nominations. Bit-identical to the inline spilled build —
    shares ann_nsw_routed_spill_topk's independent golden oracle."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 8)
    idx, _ = _prebuilt(
        spark, "ann_nsw_routed_spill_prebuilt_topk", "nsw_routed_spill", sf_dir,
        lambda path: GA.save_nsw_routed_index(
            emb, path, n_cells=8, m=8, ef_build=24, spill_eps=0.25
        ),
        "nsw_routed", GA.load_nsw_routed_index,
    )
    return GA.nsw_routed_ann_topk(
        q, emb, k=5, n_probe=2, ef_search=16, index=idx
    )


ORACLES["ann_nsw_routed_spill_prebuilt_topk"] = ORACLES["ann_nsw_routed_spill_topk"]

# the streaming snippet search drains to the identical result set as the
# batch query (per-batch match is exact) — shares its golden VERBATIM
ORACLES["stream_audio_snippet_search"] = ORACLES["multimodal_audio_snippet_search"]


# ivf_defaults(1000) == (32, 8): the sf0.01 augmented corpus is 2×500
# vectors, so the auto-sized oracle pins n_cells=32. The pin is guarded by
# tests/test_llm_ops.py::test_ivf_defaults_rule (same mechanism as
# ann_ivf_auto_topk's (22, 8) pin).
@query("dedup_semantic", oracle=SIM.semantic_dedup_oracle_sql(n_cells=32, threshold=0.99))
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup (SemDeDup): coarse-quantizer clustering + greedy
    within-cluster cosine pruning at 0.99 over the planted-near-duplicate
    embedding corpus — the sixth dedup family (exact, MinHash, SimHash,
    n-gram, embedding-blocked, semantic). Cluster count is CORPUS-SIZE-
    AWARE (n_cells=None → ivf_defaults' √N rule, the same sizing the ANN
    family uses): candidate pairs are Σ|cell|², so a static cell count
    degrades toward all-pairs-per-cell as the corpus grows — √N keeps
    per-cell pair generation bounded at any scale (SemDeDup's own
    cluster-count knob, ~10⁵ clusters at billion-doc scale)."""
    emb = SIM.augmented_embeddings(_t(spark, sf_dir, "embeddings"))
    return SIM.semantic_dedup(emb, n_cells=None, threshold=0.99)


# ---------------------------------------------------------------------------
# Round 5: substring-level duplication + deterministic sampling / remixing
# ---------------------------------------------------------------------------

from .operators import sampling as SMP  # noqa: E402


@query("dedup_dup_ngram_spans", oracle=DT.dup_ngram_spans_oracle_sql(n=8))
def dedup_dup_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level duplication (Lee et al. 2022): per-document coverage
    by token 8-grams that occur in more than one distinct document — the
    exact-substring family that doc-level dedup can't see (licence blocks,
    boilerplate repeated across otherwise-distinct docs). dup_frac is the
    threshold signal a curation pipeline filters on."""
    return DT.dup_ngram_spans(_t(spark, sf_dir, "documents"), n=8)


_MIX_WEIGHTS = {f"src{i}": (2 if i < 5 else 1) for i in range(20)}


def _hash_sample_oracle_sql(rate: float) -> str:
    cut = repr(rate * SMP.BUCKET_SPACE)
    return f"""
    SELECT doc_id, source FROM documents
    WHERE CAST({SMP.hash_bucket_sql('doc_id')} AS DOUBLE) < {cut}
    """


def _resample_mix_oracle_sql(weights: dict[str, int]) -> str:
    vals = ", ".join(f"('{s}', {w})" for s, w in sorted(weights.items()))
    return f"""
    WITH wmap AS (SELECT * FROM (VALUES {vals}) v(stratum, w)),
    counts AS (SELECT source AS stratum, count(*) AS n FROM documents GROUP BY source),
    joined AS (SELECT c.stratum, c.n, w.w FROM counts c JOIN wmap w USING (stratum)),
    k AS (SELECT MIN(CAST(n AS DOUBLE) / w) AS k FROM joined),
    rates AS (SELECT stratum, (w * k.k / CAST(n AS DOUBLE)) AS keep_rate FROM joined, k)
    SELECT d.doc_id, d.source
    FROM documents d JOIN rates r ON r.stratum = d.source
    WHERE CAST({SMP.hash_bucket_sql('d.doc_id')} AS DOUBLE) < r.keep_rate * {repr(SMP.BUCKET_SPACE)}
    """


@query("sample_hash_bernoulli", oracle=_hash_sample_oracle_sql(0.25))
def sample_hash_bernoulli(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-keyed sampling: membership is a pure function
    of (doc_id, rate) — reproducible across runs, engines, partitionings
    and cluster sizes, unlike df.sample(). A scan-time filter: no shuffle,
    pushed into the row scan (the only way corpus construction at 100 TB
    stays re-runnable)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return SMP.hash_sample(docs, 0.25)


@query("sample_resample_mix", oracle=_resample_mix_oracle_sql(_MIX_WEIGHTS))
def sample_resample_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain remixing (the Pile/Dolma source-weights step): downsample
    every source by a deterministic rate so the surviving corpus matches
    the integer-weight target mix at the largest size achievable without
    upsampling (keep_rate_s = w_s·K/n_s, K = min n_s/w_s). One count
    aggregate + a broadcast rate join + the same content-keyed filter as
    sample_hash_bernoulli — nothing else shuffles."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return SMP.resample_to_mix(docs, _MIX_WEIGHTS, "source")


from .operators import sketches as SK  # noqa: E402

_KMV_ORACLE = f"""
WITH sk AS (SELECT n_hashes, kth_min, distinct_est
            FROM ({SK.kmv_distinct_oracle_sql('l_orderkey', 'lineitem', k=256)})),
ex AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS distinct_exact FROM lineitem)
SELECT sk.n_hashes, sk.kth_min, sk.distinct_est, ex.distinct_exact,
       ROUND(ABS(sk.distinct_est - ex.distinct_exact) / CAST(ex.distinct_exact AS DOUBLE), 4) AS rel_err
FROM sk, ex
"""


@query("sketch_kmv_distinct", oracle=_KMV_ORACLE)
def sketch_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-count sketch (k-minimum-values, k=256) vs the exact
    count over lineitem order keys. The sketch is a bounded mergeable set
    — per-partition top-k + a k-row merge, never a full distinct shuffle
    — and, unlike HLL, its estimate is a pure deterministic function of
    the data, so the DuckDB oracle reproduces it bit-for-bit. rel_err is
    the accuracy readout (theory: ~1/sqrt(k) ≈ 6%)."""
    li = _t(spark, sf_dir, "lineitem")
    sk = SK.kmv_distinct(li, "l_orderkey", k=256)
    exact = li.agg(
        F.count_distinct("l_orderkey").cast("long").alias("distinct_exact")
    )
    return sk.crossJoin(F.broadcast(exact)).select(
        "n_hashes",
        "kth_min",
        "distinct_est",
        "distinct_exact",
        F.round(
            F.abs(F.col("distinct_est") - F.col("distinct_exact"))
            / F.col("distinct_exact").cast("double"),
            4,
        ).alias("rel_err"),
    )


from .operators import urls as URL  # noqa: E402

# messy-URL derivation shared verbatim by Spark and the oracle: five
# noise axes (scheme case, www., default port, trailing slash, tracking
# params + param order, fragment) over a (source, doc_id % 50) resource
# grid — every noise variant of a resource must canonicalize together
_URL_DERIVE_SQL = """
  (CASE WHEN doc_id % 3 = 0 THEN 'HTTPS' ELSE 'https' END) || '://'
  || (CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END)
  || source || '.Example.com'
  || (CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END)
  || '/docs/' || CAST(doc_id % 50 AS VARCHAR)
  || (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END)
  || (CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed&b=2&a=1' ELSE '?a=1&b=2' END)
  || (CASE WHEN doc_id % 7 = 0 THEN '#sec' ELSE '' END)
"""

_URL_ORACLE = f"""
WITH urls AS (SELECT doc_id, {_URL_DERIVE_SQL} AS url FROM documents),
c AS (SELECT doc_id, {URL.canonical_url_sql('url')} AS canonical_url FROM urls),
w AS (SELECT canonical_url, MIN(doc_id) AS wid FROM c GROUP BY canonical_url)
SELECT c.doc_id, c.canonical_url, c.doc_id <> w.wid AS is_dup
FROM c JOIN w USING (canonical_url)
"""


@query("url_canonical_dedup", oracle=_URL_ORACLE)
def url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + first-wins dedup — a web corpus's first
    dedup axis, run before any text scan: scheme/host case, www., default
    ports, trailing slashes, tracking params, param order, and fragments
    all collapse (operators/urls.py's six documented rules), so re-crawl
    duplicates dedupe on string work alone. The canonicalization is a
    pure column expression (regexp extracts + higher-order array ops, no
    UDF) mirrored operator-for-operator in DuckDB — the whole pipeline,
    noise-variant generation included, is engine-exact."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    mod = F.col("doc_id") % F.lit(3)
    url = F.concat(
        F.when(mod == 0, F.lit("HTTPS")).otherwise(F.lit("https")),
        F.lit("://"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.col("source"),
        F.lit(".Example.com"),
        F.when(F.col("doc_id") % 5 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/docs/"),
        (F.col("doc_id") % 50).cast("string"),
        F.when(F.col("doc_id") % 4 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 2 == 0, F.lit("?utm_source=feed&b=2&a=1")).otherwise(
            F.lit("?a=1&b=2")
        ),
        F.when(F.col("doc_id") % 7 == 0, F.lit("#sec")).otherwise(F.lit("")),
    )
    return URL.url_dedup(docs.select("doc_id", url.alias("url")), "url").select(
        "doc_id", "canonical_url", "is_dup"
    )


_DOMAIN_BLOCK = ["src0.example.com"]
_DOMAIN_CAP = 20  # binds at sf0.01 (25 docs/host): the hash-order selection is exercised
_DOMAIN_CAP_ORACLE = f"""
WITH urls AS (SELECT doc_id, {_URL_DERIVE_SQL} AS url FROM documents),
h AS (SELECT doc_id, {URL.url_host_sql('url')} AS host FROM urls),
f AS (SELECT * FROM h WHERE host NOT IN ('src0.example.com')),
r AS (SELECT doc_id, host,
             ROW_NUMBER() OVER (PARTITION BY host
                                ORDER BY {SMP.hash_bucket_sql('doc_id')}, doc_id) AS rn
      FROM f)
SELECT doc_id, host FROM r WHERE rn <= {_DOMAIN_CAP}
"""


@query("url_domain_cap", oracle=_DOMAIN_CAP_ORACLE)
def url_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-level crawl hygiene: blocklisted hosts dropped at the scan,
    then at most N docs kept per host in DETERMINISTIC content-hash
    order — the anti-spam cap that stops one link-farm domain from
    dominating a corpus, reproducible on any engine/layout (arrival
    order never decides what survives). Same messy-URL grid as
    url_canonical_dedup; one rank window on the host key."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    url = F.concat(
        F.when(F.col("doc_id") % 3 == 0, F.lit("HTTPS")).otherwise(F.lit("https")),
        F.lit("://"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.col("source"),
        F.lit(".Example.com"),
        F.when(F.col("doc_id") % 5 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/docs/"),
        (F.col("doc_id") % 50).cast("string"),
        F.when(F.col("doc_id") % 4 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 2 == 0, F.lit("?utm_source=feed&b=2&a=1")).otherwise(
            F.lit("?a=1&b=2")
        ),
        F.when(F.col("doc_id") % 7 == 0, F.lit("#sec")).otherwise(F.lit("")),
    )
    capped = URL.cap_per_domain(
        docs.select("doc_id", url.alias("url")),
        "url",
        _DOMAIN_CAP,
        blocklist=_DOMAIN_BLOCK,
    )
    return capped.select("doc_id", "host")


# --- composed web pipeline ------------------------------------------------
# Pages: doc_id < 300 wrapping the TEXT OF doc_id % 75 (content-dup groups
# {i, i+75, i+150, i+225}) behind a URL keyed on (doc_id % 4 host,
# doc_id % 50 path) (canonical-dup groups {i, i+100, i+200}) — the two
# duplicate axes are interleaved so BOTH dedup stages bind on rows the
# other can't see, and the blocklist + cap bind in between.
_WEB_URL_SQL = """
  (CASE WHEN a.doc_id % 3 = 0 THEN 'HTTPS' ELSE 'https' END) || '://'
  || (CASE WHEN a.doc_id % 2 = 0 THEN 'WWW.' ELSE '' END)
  || 'src' || CAST(a.doc_id % 4 AS VARCHAR) || '.Example.com'
  || '/docs/' || CAST(a.doc_id % 50 AS VARCHAR)
  || (CASE WHEN a.doc_id % 2 = 0 THEN '?utm_source=f&x=1' ELSE '?x=1' END)
"""
_WEB_HTML_SQL = """
  '<html><head><title>Page ' || CAST(a.doc_id % 75 AS VARCHAR)
  || ' &amp; co</title><script>if (a<b) x()</script></head><body><p>'
  || b.text || '</p></body></html>'
"""
_WEB_TEXT_SQL, _WEB_TITLE_SQL = TA.extract_html_sql("html")
_WEB_NORM_SQL = "md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))"
_WEB_ORACLE = f"""
WITH pages AS (
  SELECT a.doc_id, {_WEB_URL_SQL} AS url, {_WEB_HTML_SQL} AS html
  FROM documents a JOIN documents b ON b.doc_id = a.doc_id % 75
  WHERE a.doc_id < 300
),
c AS (SELECT doc_id, url, html, {URL.canonical_url_sql('url')} AS canonical_url
      FROM pages),
u AS (SELECT doc_id, url, html, canonical_url FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY canonical_url ORDER BY doc_id) AS rn
        FROM c) WHERE rn = 1),
h AS (SELECT *, {URL.url_host_sql('url')} AS host FROM u),
f AS (SELECT * FROM h WHERE host NOT IN ('src1.example.com')),
cap AS (SELECT doc_id, host, canonical_url, html FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY host
                     ORDER BY {SMP.hash_bucket_sql('doc_id')}, doc_id) AS rn
          FROM f) WHERE rn <= 20),
ex AS (SELECT doc_id, host, canonical_url,
              {_WEB_TITLE_SQL} AS title, {_WEB_TEXT_SQL} AS text
       FROM cap)
SELECT doc_id, host, canonical_url, title, text FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY {_WEB_NORM_SQL} ORDER BY doc_id) AS rn
  FROM ex) WHERE rn = 1
"""


@query("pipeline_web_curation", oracle=_WEB_ORACLE)
def pipeline_web_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole crawl-to-corpus front end COMPOSED (pipelines/web.py):
    canonical-URL dedup → domain blocklist + deterministic per-domain
    cap → HTML text extraction → exact content dedup, one logical plan.
    The fixture interleaves two duplicate axes (URL-canonical groups of
    3, content groups of 4 spanning DIFFERENT hosts) so both dedup
    stages bind on rows the other cannot see; the oracle recomputes the
    full chain in SQL. Stage order is the cheap-first order a 100 TB
    crawl wants: URL string work and the host cap run before any
    content is extracted or hashed."""
    from .pipelines.web import curate_web_corpus

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    a = docs.select("doc_id").filter(F.col("doc_id") < 300)
    b = docs.select(F.col("doc_id").alias("base_id"), F.col("text").alias("base_text"))
    joined = a.join(b, a.doc_id % 75 == b.base_id)
    did = F.col("doc_id")
    url = F.concat(
        F.when(did % 3 == 0, F.lit("HTTPS")).otherwise(F.lit("https")),
        F.lit("://"),
        F.when(did % 2 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.lit("src"), (did % 4).cast("string"), F.lit(".Example.com"),
        F.lit("/docs/"), (did % 50).cast("string"),
        F.when(did % 2 == 0, F.lit("?utm_source=f&x=1")).otherwise(F.lit("?x=1")),
    )
    html = F.concat(
        F.lit("<html><head><title>Page "), (did % 75).cast("string"),
        F.lit(" &amp; co</title><script>if (a<b) x()</script></head><body><p>"),
        F.col("base_text"),
        F.lit("</p></body></html>"),
    )
    pages = joined.select("doc_id", url.alias("url"), html.alias("html"))
    return curate_web_corpus(
        pages, max_per_domain=20, blocklist=["src1.example.com"]
    )


@query("pipeline_warc_curation", oracle=None)
def pipeline_warc_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation pipeline driven end-to-end from WARC — the container
    format a real crawl corpus arrives in. The SAME 300 pages as
    pipeline_web_curation round-trip through three WARC segments (one
    per-record-gzipped, each led by a warcinfo record that must be
    filtered out), read back via sources/warc.read_warc_pages (response-
    record filter + HTTP envelope parse + UTF-8 decode), and flow through
    the identical curate_web_corpus call — SHARING pipeline_web_curation's
    full-chain SQL oracle verbatim, which proves the WARC round trip is
    byte-lossless and the pipeline source-agnostic. doc_id reconstructs
    from (segment seq, record position): at scale the id is exactly this
    (warc file, record offset) pair — no coordination across segments."""
    import os as _os

    from .pipelines.web import curate_web_corpus
    from .sources.warc import (
        build_http_response,
        build_warc_bytes,
        read_warc_pages,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    a = docs.select("doc_id").filter(F.col("doc_id") < 300)
    b = docs.select(F.col("doc_id").alias("base_id"), F.col("text").alias("base_text"))
    joined = a.join(b, a.doc_id % 75 == b.base_id)
    did = F.col("doc_id")
    url = F.concat(
        F.when(did % 3 == 0, F.lit("HTTPS")).otherwise(F.lit("https")),
        F.lit("://"),
        F.when(did % 2 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.lit("src"), (did % 4).cast("string"), F.lit(".Example.com"),
        F.lit("/docs/"), (did % 50).cast("string"),
        F.when(did % 2 == 0, F.lit("?utm_source=f&x=1")).otherwise(F.lit("?x=1")),
    )
    html = F.concat(
        F.lit("<html><head><title>Page "), (did % 75).cast("string"),
        F.lit(" &amp; co</title><script>if (a<b) x()</script></head><body><p>"),
        F.col("base_text"),
        F.lit("</p></body></html>"),
    )
    src_pages = joined.select("doc_id", url.alias("url"), html.alias("html"))

    with _scratch("bensp_warc_cur_") as base:
        with _fixture_build("pipeline_warc_curation"):
            rows = sorted(src_pages.collect(), key=lambda r: r["doc_id"])
            per_seg = 100
            for seg in range(3):
                chunk = rows[seg * per_seg : (seg + 1) * per_seg]
                recs = [("warcinfo", None, b"software: bensp-fixture\r\n")] + [
                    (
                        "response",
                        r["url"],
                        build_http_response(r["html"].encode("utf-8")),
                    )
                    for r in chunk
                ]
                fname = f"pages-{seg:05d}.warc" + (".gz" if seg == 1 else "")
                with open(_os.path.join(base, fname), "wb") as fh:
                    fh.write(build_warc_bytes(recs, gzip_records=(seg == 1)))
        pages = read_warc_pages(spark, base).select(
            (
                F.regexp_extract("warc_name", r"pages-(\d+)", 1).cast("long") * per_seg
                + F.col("record_idx")
                - 1  # the leading warcinfo record occupies idx 0
            ).alias("doc_id"),
            "url",
            "html",
        )
        return curate_web_corpus(
            pages, max_per_domain=20, blocklist=["src1.example.com"]
        ).localCheckpoint(eager=True)


ORACLES["pipeline_warc_curation"] = ORACLES["pipeline_web_curation"]


# --- outbound link graph: extraction + host-level PageRank ----------------
# Pages (doc_id < 300) carry three anchors each: two absolute (with WWW./
# utm/&amp;/scheme-case/:80/trailing-slash noise — every canonicalization
# rule fires inside an href) and one relative (dropped by convention).
_LG_URL_SQL = """
  'https://' || (CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END)
  || 'src' || CAST(doc_id % 4 AS VARCHAR) || '.Example.com/docs/'
  || CAST(doc_id % 50 AS VARCHAR)
"""
_LG_HTML_SQL = """
  '<html><body><p>Doc ' || CAST(doc_id % 75 AS VARCHAR) || '</p>'
  || '<a class="n" HREF="https://WWW.src' || CAST((doc_id + 1) % 4 AS VARCHAR)
  || '.example.com/docs/' || CAST((doc_id * 7) % 50 AS VARCHAR)
  || '?utm_source=x&amp;q=' || CAST(doc_id % 9 AS VARCHAR)
  || '">Link &amp; ' || CAST(doc_id % 9 AS VARCHAR) || '</a>'
  || ' <a href="/local/' || CAST(doc_id % 5 AS VARCHAR) || '">rel</a> '
  || '<a href="HTTP://src' || CAST((doc_id + 2) % 4 AS VARCHAR)
  || '.example.com:80/docs/' || CAST((doc_id * 3) % 50 AS VARCHAR)
  || '/"><b>bold</b> two</a></body></html>'
"""
_LG_PAGES_SQL = (
    f"SELECT doc_id, {_LG_URL_SQL} AS url, {_LG_HTML_SQL} AS html "
    "FROM documents WHERE doc_id < 300"
)
_LG_SQL = URL.extract_links_sql(f"({_LG_PAGES_SQL})")


def _link_graph_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id").filter(F.col("doc_id") < 300)
    did = F.col("doc_id")
    url = F.concat(
        F.lit("https://"),
        F.when(did % 2 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.lit("src"), (did % 4).cast("string"),
        F.lit(".Example.com/docs/"), (did % 50).cast("string"),
    )
    html = F.concat(
        F.lit("<html><body><p>Doc "), (did % 75).cast("string"), F.lit("</p>"),
        F.lit('<a class="n" HREF="https://WWW.src'), ((did + 1) % 4).cast("string"),
        F.lit(".example.com/docs/"), ((did * 7) % 50).cast("string"),
        F.lit("?utm_source=x&amp;q="), (did % 9).cast("string"),
        F.lit('">Link &amp; '), (did % 9).cast("string"), F.lit("</a>"),
        F.lit(' <a href="/local/'), (did % 5).cast("string"), F.lit('">rel</a> '),
        F.lit('<a href="HTTP://src'), ((did + 2) % 4).cast("string"),
        F.lit(".example.com:80/docs/"), ((did * 3) % 50).cast("string"),
        F.lit('/"><b>bold</b> two</a></body></html>'),
    )
    return docs.select("doc_id", url.alias("url"), html.alias("html"))


@query("web_link_graph", oracle=_LG_SQL)
def web_link_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outbound LINK-GRAPH extraction from raw HTML — the crawl-frontier
    feed: every absolute http(s) anchor becomes a (src, dst, anchor) edge
    with BOTH endpoints canonicalized (operators/urls.extract_links) and
    the anchor text stripped/entity-decoded like document text. The
    fixture plants every canonicalization rule inside an href (WWW.,
    tracking params, '&amp;'-escaped separators, scheme case, default
    port, trailing slash) plus a relative link that must drop; the whole
    operator — extraction, decode, canonicalization — is pure column
    expressions mirrored operator-for-operator in DuckDB."""
    return URL.extract_links(_link_graph_pages(spark, sf_dir))


from .operators import graph as GR  # noqa: E402

_LG_EDGES_SQL = f"""
  SELECT DISTINCT s AS src, d AS dst FROM (
    SELECT {URL.url_host_sql('src')} AS s, {URL.url_host_sql('dst')} AS d
    FROM ({_LG_SQL})
  ) WHERE s <> d
"""


@query(
    "web_pagerank_links",
    oracle=GR.pagerank_int_oracle_sql(_LG_EDGES_SQL, iterations=3),
)
def web_pagerank_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-frontier prioritization COMPOSED: extract the link graph from
    raw HTML, collapse it to distinct host→host edges (self-links
    dropped), and rank hosts with the integer-exact PageRank — the signal
    a 100 TB fetch scheduler orders its queue by. One declarative plan
    from HTML strings to ranks; extraction stays scan-stage column work
    and the rank loop shuffles only the (tiny) host edge list."""
    links = URL.extract_links(_link_graph_pages(spark, sf_dir))
    edges = (
        links.select(
            URL.url_host(F.col("src")).alias("src"),
            URL.url_host(F.col("dst")).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    return GR.pagerank_int(edges, iterations=3)


_FRONTIER_QUOTA = 5
_FRONTIER_PR_SQL = GR.pagerank_int_oracle_sql(_LG_EDGES_SQL, iterations=3)
_FRONTIER_ORACLE = f"""
WITH links AS ({_LG_SQL}),
cand AS (
  SELECT DISTINCT dst AS url FROM links
  WHERE dst NOT IN (SELECT DISTINCT src FROM links)
),
hosted AS (SELECT url, {URL.url_host_sql('url')} AS host FROM cand),
ranks AS (SELECT node, rank FROM ({_FRONTIER_PR_SQL})),
j AS (
  SELECT h.host, h.url, CAST(COALESCE(r.rank, 0) AS BIGINT) AS rank
  FROM hosted h LEFT JOIN ranks r ON h.host = r.node
)
SELECT host, url, rank, CAST(rn AS INT) AS slot FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY host ORDER BY url) AS rn FROM j
) WHERE rn <= {_FRONTIER_QUOTA}
"""


@query("pipeline_crawl_frontier", oracle=_FRONTIER_ORACLE)
def pipeline_crawl_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl FRONTIER composed as one pipeline (pipelines/web.py's
    crawl_frontier) — the capstone of the web family: link extraction
    from raw HTML → host→host edges → integer-exact PageRank → anti-join
    against the already-crawled canonical URL set → per-host fetch quota.
    Output is the prioritized fetch list a 100 TB scheduler drains:
    (host, url, rank, slot), at most 5 URLs per host, rank carrying the
    host's link authority, slot the deterministic within-host position.
    Every stage's SQL mirror composes into one oracle (the PageRank
    recurrence nested as a subquery), so the whole frontier — extraction,
    canonicalization, ranking, scheduling — is engine-exact."""
    from .pipelines.web import crawl_frontier

    return crawl_frontier(
        _link_graph_pages(spark, sf_dir), quota_per_host=_FRONTIER_QUOTA
    )


@query("stream_link_graph", oracle=_LG_SQL)
def stream_link_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-graph extraction applied to a STREAM of crawled pages: the
    extraction is stateless scan-time column work (regexp passes + an
    explode), so the identical operator runs unchanged on a readStream —
    edges are a pure function of each page, independent of batch
    boundaries and trigger sizing. Replayed as a 3-file stream; the
    drained edge set must equal the batch extraction exactly (it shares
    web_link_graph's oracle verbatim). This is how a live crawl feeds
    the frontier ranker: extract per micro-batch, rank on a cadence."""
    from .streaming.event_streams import run_to_parquet

    pages = _link_graph_pages(spark, sf_dir)
    with _scratch("bensp_stream_lg_") as base:
        with _fixture_build("stream_link_graph"):
            pages.repartition(3).write.mode("overwrite").parquet(f"{base}/src")
        stream = _replay(spark, "doc_id long, url string, html string", f"{base}/src")
        run_to_parquet(URL.extract_links(stream), f"{base}/out", f"{base}/ckpt")
        return spark.read.parquet(f"{base}/out").localCheckpoint(eager=True)


_ANCHOR_ORACLE = f"""
SELECT dst,
       CAST(COUNT(*) AS BIGINT) AS n_links,
       CAST(COUNT(DISTINCT {URL.url_host_sql('src')}) AS BIGINT) AS n_src_hosts,
       string_agg(DISTINCT anchor, ' | ' ORDER BY anchor) AS anchors
FROM ({_LG_SQL})
GROUP BY dst
"""


@query("web_anchor_text_agg", oracle=_ANCHOR_ORACLE)
def web_anchor_text_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text aggregation per link TARGET — the classic off-page
    retrieval signal (anchor words describing a page better than the page
    does): for every canonicalized destination, the in-link count, the
    distinct referring hosts, and the sorted distinct anchor texts.
    Deterministic string assembly (sorted set → join) so the whole
    aggregate value-checks against DuckDB's ordered string_agg."""
    links = URL.extract_links(_link_graph_pages(spark, sf_dir))
    return links.groupBy("dst").agg(
        F.count(F.lit(1)).cast("long").alias("n_links"),
        F.countDistinct(URL.url_host(F.col("src"))).cast("long").alias("n_src_hosts"),
        F.array_join(F.array_sort(F.collect_set("anchor")), " | ").alias("anchors"),
    )


_BLOOM_M, _BLOOM_K = 1 << 14, 4
_NORM_SQL = "md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))"
_BLOOM_ORACLE = f"""
WITH bm AS ({SK.bloom_oracle_sql(
    _NORM_SQL, 'documents', 'doc_id', _NORM_SQL,
    f'({_INCR_NEW_SQL})', _BLOOM_M, _BLOOM_K)}),
hist AS (SELECT DISTINCT {_NORM_SQL} AS ch FROM documents),
cand AS (SELECT doc_id, {_NORM_SQL} AS ch FROM ({_INCR_NEW_SQL}))
SELECT c.doc_id, bm.bloom_maybe,
       EXISTS (SELECT 1 FROM hist h WHERE h.ch = c.ch) AS exact_dup
FROM cand c JOIN bm ON bm.key = c.doc_id
"""


@query("sketch_bloom_prefilter", oracle=_BLOOM_ORACLE)
def sketch_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership pre-filter for incremental dedup: the
    history's normalized content hashes set k=4 md5-derived bits in a
    2^14-bit space; each new-batch doc tests its own k bits. bloom_maybe
    = false GUARANTEES the doc is not in history (zero false negatives —
    exact_dup ⇒ bloom_maybe, verifiable in the output), so only the
    maybe-rows ever reach the expensive exact anti-join. At 100 TB the
    bit table is the broadcast side (≤ m rows of one long, packable to
    m/8 bytes) and the definitely-new majority of a day's crawl skips the
    history join entirely. Deterministic md5-derived positions make the
    whole operator — sketch build included — engine-exact in DuckDB
    (Spark's built-in df.stat.bloomFilter has no such oracle)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    norm = F.md5(F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")))
    hist = docs.select(norm.alias("ch"))
    bits = SK.bloom_bits(hist, "ch", m=_BLOOM_M, k=_BLOOM_K)
    words = F.split(F.trim(F.col("text")), r"\s+")
    keep = F.greatest(F.size(words) - 3, F.lit(1))
    newb = docs.select(
        (F.col("doc_id") + DT.AUG_OFFSET).alias("doc_id"),
        F.array_join(F.slice(words, 1, keep), " ").alias("text"),
    ).unionByName(
        docs.filter(F.col("doc_id") < 20).select(
            (F.col("doc_id") + 2 * DT.AUG_OFFSET).alias("doc_id"), "text"
        )
    )
    cand = newb.select("doc_id", norm.alias("ch"))
    maybe = SK.bloom_maybe_contains(cand, "ch", bits, m=_BLOOM_M, k=_BLOOM_K)
    hist_d = hist.distinct().withColumnRenamed("ch", "hh")
    return (
        maybe.join(hist_d, maybe.ch == F.col("hh"), "left")
        .select(
            "doc_id",
            "bloom_maybe",
            F.col("hh").isNotNull().alias("exact_dup"),
        )
    )


# SAME oracle as sketch_bloom_prefilter: the packed-bitset probe must be
# bit-for-bit equal to the join form (identical _bloom_pos derivation).
@query("sketch_bloom_packed", oracle=_BLOOM_ORACLE)
def sketch_bloom_packed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PACKED form of the Bloom membership test — the production
    broadcast shape: history bits pack into an m/8-byte bitset constant
    (128 MB at 2³⁰ bits), the k positions are computed JVM-side in the
    scan's projection, and one Arrow-batched numpy gather ANDs the bit
    lookups for the whole batch — zero joins, zero per-row Python. Same
    fixture and same oracle as sketch_bloom_prefilter (the join form):
    identical output proves pack/probe parity."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    norm = F.md5(F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")))
    hist = docs.select(norm.alias("ch"))
    bits = SK.bloom_bits(hist, "ch", m=_BLOOM_M, k=_BLOOM_K)
    packed = SK.bloom_pack(bits, _BLOOM_M)
    words = F.split(F.trim(F.col("text")), r"\s+")
    keep = F.greatest(F.size(words) - 3, F.lit(1))
    newb = docs.select(
        (F.col("doc_id") + DT.AUG_OFFSET).alias("doc_id"),
        F.array_join(F.slice(words, 1, keep), " ").alias("text"),
    ).unionByName(
        docs.filter(F.col("doc_id") < 20).select(
            (F.col("doc_id") + 2 * DT.AUG_OFFSET).alias("doc_id"), "text"
        )
    )
    cand = newb.select("doc_id", norm.alias("ch"))
    maybe = SK.bloom_maybe_contains_packed(cand, "ch", packed, m=_BLOOM_M, k=_BLOOM_K)
    hist_d = hist.distinct().withColumnRenamed("ch", "hh")
    return maybe.join(hist_d, maybe.ch == F.col("hh"), "left").select(
        "doc_id",
        "bloom_maybe",
        F.col("hh").isNotNull().alias("exact_dup"),
    )


_KJ_NORM = "md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))"
_KJ_A_SQL = f"(SELECT {_KJ_NORM} AS v FROM documents)"
_KJ_B_SQL = f"""(
  SELECT {_KJ_NORM} AS v FROM documents WHERE doc_id < 250
  UNION ALL
  SELECT md5(lower(regexp_replace(trim(
           array_to_string(words[1:GREATEST(len(words) - 2, 1)], ' ')
         ), '\\s+', ' ', 'g'))) AS v
  FROM (SELECT regexp_split_to_array(trim(text), '\\s+') AS words FROM documents)
)"""


@query(
    "sketch_kmv_jaccard",
    oracle=SK.kmv_jaccard_oracle_sql("v", _KJ_A_SQL, "v", _KJ_B_SQL, k=256),
)
def sketch_kmv_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus overlap estimation from bounded sketches: corpus A is
    the documents table's normalized content hashes; corpus B is a
    simulated re-crawl (the first 250 docs verbatim + a jittered variant
    of every doc). KMV-sketch each side, merge, inclusion-exclusion →
    (est_a, est_b, est_union, jaccard_est) — the "how much of this crawl
    is already in the corpus" answer with 3k longs of state and no join
    between the corpora, engine-exact in DuckDB (deterministic md5
    hashing — the property Spark's HLL can't give an oracle)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    norm = F.md5(F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")))
    a = docs.select(norm.alias("v"))
    words = F.split(F.trim(F.col("text")), r"\s+")
    keep = F.greatest(F.size(words) - 2, F.lit(1))
    jit_text = F.array_join(F.slice(words, 1, keep), " ")
    jit_norm = F.md5(F.lower(F.regexp_replace(F.trim(jit_text), r"\s+", " ")))
    b = docs.filter(F.col("doc_id") < 250).select(norm.alias("v")).unionByName(
        docs.select(jit_norm.alias("v"))
    )
    return SK.kmv_jaccard(a, b, "v", "v", k=256)


_CMS_W, _CMS_D = 512, 4
_CMS_ORACLE = f"""
WITH toks AS (
  SELECT UNNEST(regexp_split_to_array(trim(text), '\\s+')) AS token FROM documents
),
top AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS true_cnt
  FROM toks GROUP BY token ORDER BY true_cnt DESC, token LIMIT 10
),
est AS ({SK.cms_oracle_sql('token', 'toks', 'token', 'token', 'top', _CMS_W, _CMS_D)})
SELECT t.token, t.true_cnt, e.cms_est
FROM top t JOIN est e ON e.key = t.token
"""


@query("sketch_cms_heavy_hitters", oracle=_CMS_ORACLE)
def sketch_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch vs exact token counts: build a d=4 × w=512 grid
    over every document token (state is the FIXED grid regardless of
    vocabulary — one map-side-combinable aggregate, vs the full token
    shuffle exact counting needs), probe the true top-10 tokens, and emit
    (token, true_cnt, cms_est). The sketch's one-sided guarantee
    (cms_est ≥ true_cnt, overcount ≤ 2N/w w.h.p.) is visible in the
    output; cell positions are the deterministic md5 family, so the
    whole sketch — build, probe, min — is engine-exact in DuckDB."""
    docs = _t(spark, sf_dir, "documents")
    tokens = docs.select(
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("token")
    )
    cms = SK.cms_build(tokens, "token", w=_CMS_W, d=_CMS_D)
    top = (
        tokens.groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("true_cnt"))
        .orderBy(F.col("true_cnt").desc(), "token")
        .limit(10)
    )
    return SK.cms_estimate(top, "token", cms, w=_CMS_W, d=_CMS_D).select(
        "token", "true_cnt", "cms_est"
    )


_SCMS_W, _SCMS_D = 256, 4
_SCMS_CELLS = " UNION ALL ".join(
    f"SELECT {i} AS row, {SK._bloom_pos_sql('token', i, _SCMS_W)} AS col FROM toks"
    for i in range(_SCMS_D)
)
_SCMS_ORACLE = f"""
WITH toks AS (
  SELECT UNNEST(regexp_split_to_array(trim(text), '\\s+')) AS token
  FROM documents WHERE doc_id < 200
),
pos AS ({_SCMS_CELLS})
SELECT CAST(row AS INTEGER) AS row, col, CAST(COUNT(*) AS BIGINT) AS cnt
FROM pos GROUP BY row, col
"""


@query("stream_cms_cells", oracle=_SCMS_ORACLE)
def stream_cms_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running count-min sketch over a STREAM: the d×w counter grid lives
    in keyed state (one key per hash row, w longs each — FIXED state no
    matter the vocabulary; exact running token counts grow with it). A
    CMS is a pure cell-wise-sum fold, so the post-drain grid is batch-
    boundary- and order-independent: the final snapshot must equal the
    batch sketch's cells exactly — pinned by the engine-exact batch
    oracle over the same tokens."""
    from .streaming import cms_stream as CSTR
    from .streaming.event_streams import run_to_parquet

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    tokens = docs.select(
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("token")
    )
    with _scratch("bensp_stream_cms_") as base:
        with _fixture_build("stream_cms_cells"):
            tokens.repartition(3).write.mode("overwrite").parquet(f"{base}/src")
        stream = _replay(spark, "token string", f"{base}/src")
        with _stateful_stream_parts(spark, f"{base}/src"):
            run_to_parquet(
                CSTR.cms_cells_stream(stream, "token", w=_SCMS_W, d=_SCMS_D),
                f"{base}/out",
                f"{base}/ckpt",
            )
        out = spark.read.parquet(f"{base}/out")
        last = out.groupBy("row").agg(F.max("seq").alias("seq"))
        return (
            out.join(last, ["row", "seq"])
            .select("row", "col", "cnt")
            .localCheckpoint(eager=True)
        )


@query("stream_hash_sample", oracle=_hash_sample_oracle_sql(0.25))
def stream_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sampling applied to a STREAM: hash_sample is a
    stateless scan-time filter, so the identical operator runs unchanged
    on a readStream — membership is a pure function of (doc_id, rate),
    independent of batch boundaries, arrival order, and trigger sizing.
    Replayed as a 3-file stream; the drained output must equal the batch
    filter exactly (it shares sample_hash_bernoulli's oracle)."""
    from .streaming.event_streams import run_to_parquet

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    with _scratch("bensp_stream_sample_") as base:
        with _fixture_build("stream_hash_sample"):
            docs.repartition(3).write.mode("overwrite").parquet(f"{base}/src")
        stream = _replay(spark, "doc_id long, source string", f"{base}/src")
        run_to_parquet(SMP.hash_sample(stream, 0.25), f"{base}/out", f"{base}/ckpt")
        return spark.read.parquet(f"{base}/out").localCheckpoint(eager=True)


_KMV_GROUP_ORACLE = f"""
WITH ranked AS (
  SELECT source, h, ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
  FROM (SELECT DISTINCT source, {SMP.hash_bucket_sql('text')} AS h
        FROM documents WHERE text IS NOT NULL)
),
sk AS (SELECT source, h, rn FROM ranked WHERE rn <= 32)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_hashes,
       MAX(h) AS kth_min,
       ROUND(CASE WHEN COUNT(*) < 32 THEN CAST(COUNT(*) AS DOUBLE)
                  ELSE {31.0!r} * {SMP.BUCKET_SPACE!r} / CAST(MAX(h) AS DOUBLE)
             END, 3) AS distinct_est
FROM sk GROUP BY source
"""


@query("sketch_kmv_by_group", oracle=_KMV_GROUP_ORACLE)
def sketch_kmv_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group KMV sketches in ONE pass (k=32 per source over distinct
    document texts) — the realistic shape: per-domain cardinalities for a
    whole corpus without one distinct-shuffle per domain. The rank window
    runs on (source, hash) AFTER a distinct that is map-side combinable;
    per-group state is bounded at k rows. Estimates are engine-exact
    (same deterministic hash + arithmetic as sketch_kmv_distinct)."""
    k = 32
    docs = _t(spark, sf_dir, "documents")
    hashed = (
        # NULL texts hash to NULL — drop before they occupy a sketch slot
        # (input-column filter: a predicate on the derived hash would make
        # the scan compute md5 twice per row)
        docs.filter(F.col("text").isNotNull())
        .select("source", SMP.hash_bucket(F.col("text")).alias("h"))
        .distinct()
    )
    w = Window.partitionBy("source").orderBy("h")
    sk = hashed.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)
    return sk.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_hashes"),
        F.max("h").alias("kth_min"),
    ).select(
        "source",
        "n_hashes",
        "kth_min",
        F.round(
            F.when(F.col("n_hashes") < k, F.col("n_hashes").cast("double")).otherwise(
                F.lit(float(k - 1)) * F.lit(SMP.BUCKET_SPACE) / F.col("kth_min").cast("double")
            ),
            3,
        ).alias("distinct_est"),
    )


@query("stream_kmv_per_key", oracle=_KMV_GROUP_ORACLE)
def stream_kmv_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-key cardinality sketches over a STREAM: each source
    keeps its k smallest distinct hashes in keyed state (BOUNDED at k
    longs per key — the reason to sketch a stream at all; exact running
    count-distinct state grows with the data). KMV is a pure set-union
    fold, so the post-drain state is batch-boundary- and order-
    independent: the final snapshot must equal the batch per-group
    sketch exactly — it shares sketch_kmv_by_group's oracle."""
    from .streaming import kmv_stream as KS
    from .streaming.event_streams import run_to_parquet

    k = 32
    docs = _t(spark, sf_dir, "documents")
    hashed = docs.filter(
        F.col("text").isNotNull()  # NULL texts never enter the keyed sketch state
    ).select("source", SMP.hash_bucket(F.col("text")).alias("h"))
    with _scratch("bensp_stream_kmv_") as base:
        with _fixture_build("stream_kmv_per_key"):
            hashed.repartition(3).write.mode("overwrite").parquet(f"{base}/src")
        stream = _replay(spark, "source string, h long", f"{base}/src")
        with _stateful_stream_parts(spark, f"{base}/src"):
            run_to_parquet(
                KS.stream_kmv_per_key(stream, k=k), f"{base}/out", f"{base}/ckpt"
            )
        out = spark.read.parquet(f"{base}/out")
        w = Window.partitionBy("source").orderBy(F.col("seq").desc())
        final = (
            out.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(
                "source",
                "n_hashes",
                "kth_min",
                F.round(
                    F.when(
                        F.col("n_hashes") < k, F.col("n_hashes").cast("double")
                    ).otherwise(
                        F.lit(float(k - 1))
                        * F.lit(SMP.BUCKET_SPACE)
                        / F.col("kth_min").cast("double")
                    ),
                    3,
                ).alias("distinct_est"),
            )
            .localCheckpoint(eager=True)
        )
        return final


@query(
    "sketch_sampled_percentiles",
    oracle=f"""
    WITH s AS (
      SELECT o_orderpriority, o_totalprice FROM orders
      WHERE CAST({SMP.hash_bucket_sql('o_orderkey')} AS DOUBLE) < {0.1 * SMP.BUCKET_SPACE!r}
    ),
    samp AS (
      SELECT o_orderpriority,
             ROUND(quantile_cont(o_totalprice, 0.5), 3) AS p50_sample,
             COUNT(*) AS n_sampled
      FROM s GROUP BY o_orderpriority
    ),
    ex AS (
      SELECT o_orderpriority, ROUND(quantile_cont(o_totalprice, 0.5), 3) AS p50_exact
      FROM orders GROUP BY o_orderpriority
    )
    SELECT samp.o_orderpriority, n_sampled, p50_sample, p50_exact,
           ROUND(ABS(p50_sample - p50_exact), 3) AS p50_abs_err
    FROM samp JOIN ex USING (o_orderpriority)
    """,
)
def sketch_sampled_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentiles over a DETERMINISTIC hash sample vs the exact values —
    the third sketch shape: where t-digest's estimate is engine-private,
    quantiles computed on a content-keyed 10% sample are a pure function
    of the data (sample membership is reproducible, interpolation is
    exact on both engines), so the approximation itself is value-checked
    cross-engine. At 100 TB the sample-side sort is 10× smaller; the
    observed p50 error per group is the accuracy readout."""
    o = _t(spark, sf_dir, "orders")
    s = SMP.hash_sample(o, 0.1, key="o_orderkey")
    samp = s.groupBy("o_orderpriority").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 3).alias("p50_sample"),
        F.count(F.lit(1)).alias("n_sampled"),
    )
    ex = o.groupBy("o_orderpriority").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 3).alias("p50_exact")
    )
    return samp.join(ex, "o_orderpriority").select(
        "o_orderpriority",
        "n_sampled",
        "p50_sample",
        "p50_exact",
        F.round(F.abs(F.col("p50_sample") - F.col("p50_exact")), 3).alias(
            "p50_abs_err"
        ),
    )


@query(
    "incremental_agg_maintenance",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 3) AS sum_value,
           ROUND(MIN(value), 6) AS min_value,
           ROUND(MAX(value), 6) AS max_value,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 6) AS avg_value
    FROM events GROUP BY event_type
    """,
)
def incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warehouse delta maintenance: a materialized per-type aggregate is
    maintained by MERGING the new batch's partials into the persisted
    history partials (70/30 deterministic split on event_id) — the
    history raw data is never rescanned, only its dimension-sized agg
    table is touched. The sum is decimal (order-independent), so the
    merged table is value-identical to a full recompute — which is
    exactly what the oracle computes over all events. The same merge
    chain extends to daily partitions at 100 TB: one agg per day, one
    dimension-sized fold per query."""
    ev = _t(spark, sf_dir, "events")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("sum_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )

    history = partial(ev.filter(F.col("event_id") % 10 < 7))
    delta = partial(ev.filter(F.col("event_id") % 10 >= 7))
    merged = R.merge_partial_aggs(
        [history, delta],
        keys=["event_type"],
        spec={"n": "sum", "sum_value": "sum", "min_value": "min", "max_value": "max"},
    )
    return merged.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.round(F.col("sum_value").cast("double"), 3).alias("sum_value"),
        F.round("min_value", 6).alias("min_value"),
        F.round("max_value", 6).alias("max_value"),
        F.round(F.col("sum_value").cast("double") / F.col("n"), 6).alias("avg_value"),
    )


@query(
    "source_orc_scan",
    oracle="""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_distinct_texts,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars
    FROM documents GROUP BY source
    """,
)
def source_orc_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC as an interchange format (Spark-native columnar alongside
    parquet): the documents table round-trips through ORC INCLUDING the
    full text column, and the scan back must reproduce content-hash
    distinct counts — a lossless-text proof, not just numeric totals
    (the property that matters when the text column IS the product).
    Explicit schema on the read like every interchange source here."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    with _scratch("bensp_orc_") as base:
        with _fixture_build("source_orc_scan"):
            docs.write.mode("overwrite").orc(f"{base}/docs")
        back = spark.read.schema("doc_id long, source string, text string").orc(
            f"{base}/docs"
        )
        return (
            back.groupBy("source")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.count_distinct(F.md5("text")).alias("n_distinct_texts"),
                F.sum(F.length("text").cast("long")).alias("total_chars"),
            )
            .localCheckpoint(eager=True)
        )


@query("multimodal_tar_ingest_dedup")
def multimodal_tar_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's LITERAL input shape end-to-end: media delivered as
    a TAR archive (its h-class inputs are TARs of media files,
    bin/parsec_stream:30-39), expanded by the S2 TAR source
    (archives parallelize across executors, members stream within one),
    media ids recovered from member names, WAV-decoded inside the
    fingerprint stage, near-dup pairs out. Wires source → codec → kernel
    → banded join exactly as parsec_stream drives the reference, and
    shares multimodal_audio_dedup_wav's codec-independent golden — the
    TAR layer must be byte-transparent."""
    import io
    import os
    import tarfile

    import numpy as np

    from .multimodal import audio_video as AV
    from .sources.binaryfiles import read_tar_members

    with _scratch("bensp_tar_ingest_") as base:
        with _fixture_build("multimodal_tar_ingest_dedup"):
            sigs = []
            with tarfile.open(os.path.join(base, "clips.tar"), "w") as tf:
                def add(mid: int, payload: bytes) -> None:
                    info = tarfile.TarInfo(name=f"clips/clip_{mid}.wav")
                    info.size = len(payload)
                    tf.addfile(info, io.BytesIO(payload))

                for i in range(8):
                    rng = np.random.default_rng(90 + i)
                    env = rng.uniform(0.1, 1.0, 65).repeat(130)[:8192]
                    sig = (rng.uniform(-1, 1, 8192) * env * 12000).astype(np.int16)
                    sigs.append(sig)
                    add(i, AV.encode_wav(sig))
                for i in range(3):
                    add(100 + i, AV.encode_wav(sigs[i] // 2))
                # a dotfile member the P1 filter must drop before decode
                junk = tarfile.TarInfo(name="clips/.DS_Store")
                junk.size = 4
                tf.addfile(junk, io.BytesIO(b"\x00\x01\x02\x03"))

        members = read_tar_members(spark, base)
        audio = members.select(
            F.regexp_extract("file_name", r"clip_(\d+)\.wav$", 1)
            .cast("long")
            .alias("media_id"),
            F.lit("wav").alias("format"),
            F.lit(16000).alias("sample_rate"),
            F.lit(1).alias("n_channels"),
            F.col("content").alias("audio"),
        )
        return AV.audio_near_dup_pairs(audio, max_hamming=3).localCheckpoint(eager=True)


# the TAR layer is byte-transparent, so the pairs must equal the WAV
# fixture's codec-independent golden exactly
ORACLES["multimodal_tar_ingest_dedup"] = ORACLES["multimodal_audio_dedup_wav"]


@query("multimodal_zip_ingest_dedup")
def multimodal_zip_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZIP-bundle ingest end-to-end (the S2 archive source's other
    format — crawl dumps and scraped corpora ship as .zip at least as
    often as .tar): same WAV clips, same dotfile member to drop, expanded
    by read_zip_members (archives parallelize across executors, members
    decode within one), WAV-decoded in the fingerprint stage, near-dup
    pairs out. Shares the WAV fixture's codec-independent golden — the
    ZIP layer, like TAR, must be byte-transparent."""
    import io
    import os
    import zipfile

    import numpy as np

    from .multimodal import audio_video as AV
    from .sources.binaryfiles import read_zip_members

    with _scratch("bensp_zip_ingest_") as base:
        with _fixture_build("multimodal_zip_ingest_dedup"):
            sigs = []
            with zipfile.ZipFile(
                os.path.join(base, "clips.zip"), "w", zipfile.ZIP_DEFLATED
            ) as zf:
                for i in range(8):
                    rng = np.random.default_rng(90 + i)
                    env = rng.uniform(0.1, 1.0, 65).repeat(130)[:8192]
                    sig = (rng.uniform(-1, 1, 8192) * env * 12000).astype(np.int16)
                    sigs.append(sig)
                    zf.writestr(f"clips/clip_{i}.wav", AV.encode_wav(sig))
                for i in range(3):
                    zf.writestr(f"clips/clip_{100 + i}.wav", AV.encode_wav(sigs[i] // 2))
                # a dotfile member the P1 filter must drop before decode
                zf.writestr("clips/.DS_Store", b"\x00\x01\x02\x03")

        members = read_zip_members(spark, base)
        audio = members.select(
            F.regexp_extract("file_name", r"clip_(\d+)\.wav$", 1)
            .cast("long")
            .alias("media_id"),
            F.lit("wav").alias("format"),
            F.lit(16000).alias("sample_rate"),
            F.lit(1).alias("n_channels"),
            F.col("content").alias("audio"),
        )
        return AV.audio_near_dup_pairs(audio, max_hamming=3).localCheckpoint(eager=True)


# byte-transparent like TAR: identical clips → the same golden
ORACLES["multimodal_zip_ingest_dedup"] = ORACLES["multimodal_audio_dedup_wav"]


_SPLIT_FRACS = {"test": 0.05, "train": 0.85, "val": 0.05}


@query(
    "split_train_val_test",
    oracle=f"""
    SELECT doc_id, split FROM (
      SELECT doc_id, {SMP.assign_split_sql(_SPLIT_FRACS)} AS split
      FROM (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + {2 * DT.AUG_OFFSET} AS doc_id, text
        FROM documents WHERE doc_id < 20
      )
    ) WHERE split IS NOT NULL
    """,
)
def split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-aware train/val/test split: assignment keys on the
    NORMALIZED CONTENT hash, so the 20 planted byte-duplicates land in
    the same split as their originals by construction — the train/test
    contamination an id-keyed split silently admits. 5% of the band
    space is left unassigned (dropped) to prove partial-fraction
    semantics. Pure scan-time expression: zero shuffle, reproducible on
    any engine or layout."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    copies = docs.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 2 * DT.AUG_OFFSET).alias("doc_id"), "text"
    )
    return SMP.assign_split(docs.unionByName(copies), _SPLIT_FRACS).select(
        "doc_id", "split"
    )


# --- day-2 of the incremental-dedup loop: composed SQL pieces -------------
#: day-1 survivors rebuilt WITH their texts (flags carry only ids)
_SURV1_SQL = f"""
  SELECT n.doc_id, n.text FROM ({_INCR_NEW_SQL}) n
  WHERE n.doc_id IN (
    SELECT doc_id FROM ({DT.incremental_dedup_oracle_sql(_INCR_HISTORY_SQL, _INCR_NEW_SQL)})
    WHERE is_kept
  )
"""
_HIST2_SQL = f"SELECT doc_id, text FROM documents UNION ALL {_SURV1_SQL}"
#: day-2 batch: a lighter jitter over the first 200 docs (drop 5 words)
#: plus exact copies of 50 day-1 survivors — which can only flag as
#: exact dups if day-1's output actually made it into the history
_NEW2_SQL = f"""
  SELECT doc_id + {3 * DT.AUG_OFFSET} AS doc_id,
         array_to_string(words[1:GREATEST(len(words) - 5, 1)], ' ') AS text
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS words
        FROM documents WHERE doc_id < 200)
  UNION ALL
  SELECT doc_id + {3 * DT.AUG_OFFSET} AS doc_id, text FROM ({_SURV1_SQL})
  WHERE doc_id < {DT.AUG_OFFSET} + 500
"""


@query(
    "pipeline_daily_increment_day2",
    oracle=DT.incremental_dedup_oracle_sql(_HIST2_SQL, _NEW2_SQL),
)
def pipeline_daily_increment_day2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental loop ITERATED: day-2's batch dedups against
    history ∪ day-1 survivors — the state handoff a real daily pipeline
    performs every day, not just once. 50 of day-2's docs are exact
    copies of day-1 SURVIVORS: they can only flag exact_dup=true if
    day-1's output genuinely joined the history (the composition proof).
    The oracle recomputes both days in SQL (day-1's EXISTS flags rebuild
    the survivor texts that extend day-2's history). Day-2's jitter
    covers only the first 200 docs, matching a shrinking-increment day —
    and keeping the second full dedup pass off the bench's critical
    path."""
    from .session import pooled_persist, pooled_persist_all

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    words = F.split(F.trim(F.col("text")), r"\s+")

    # --- day 1 (same derivation as dedup_incremental_batch) -----------
    keep1 = F.greatest(F.size(words) - 3, F.lit(1))
    jitter1 = docs.select(
        (F.col("doc_id") + DT.AUG_OFFSET).alias("doc_id"),
        F.array_join(F.slice(words, 1, keep1), " ").alias("text"),
    )
    exact_copies = docs.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 2 * DT.AUG_OFFSET).alias("doc_id"), "text"
    )
    new1 = pooled_persist(
        jitter1.unionByName(exact_copies), "q.pipeline_day2.new1"
    )
    h1, s1 = DT.history_signatures(docs)
    sig1 = pooled_persist_all(
        (h1, "q.pipeline_day2.hist1_hashes"),
        (s1, "q.pipeline_day2.hist1_sims"),
    )
    flags1 = DT.incremental_dedup(new1, max_hamming=3, history_sig=sig1)
    surv1 = pooled_persist(
        new1.join(
            flags1.filter(F.col("is_kept")).select("doc_id"), "doc_id", "left_semi"
        ),
        "q.pipeline_day2.surv1",
    )

    # --- day 2: history grows by day-1 survivors ----------------------
    history2 = docs.unionByName(surv1)
    h2, s2 = DT.history_signatures(history2)
    sig2 = pooled_persist_all(
        (h2, "q.pipeline_day2.hist2_hashes"),
        (s2, "q.pipeline_day2.hist2_sims"),
    )
    keep2 = F.greatest(F.size(words) - 5, F.lit(1))
    jitter2 = docs.filter(F.col("doc_id") < 200).select(
        (F.col("doc_id") + 3 * DT.AUG_OFFSET).alias("doc_id"),
        F.array_join(F.slice(words, 1, keep2), " ").alias("text"),
    )
    surv_copies = surv1.filter(F.col("doc_id") < DT.AUG_OFFSET + 500).select(
        (F.col("doc_id") + 3 * DT.AUG_OFFSET).alias("doc_id"), "text"
    )
    new2 = pooled_persist(
        jitter2.unionByName(surv_copies), "q.pipeline_day2.new2"
    )
    return DT.incremental_dedup(new2, max_hamming=3, history_sig=sig2)


# --- day-N generalization: three iterations through pipelines/daily.py ----
# Batch shapes (all ids globally distinct via AUG_OFFSET multipliers):
#   day 1: drop-3-words jitter of docs < 200 (+1·AUG) + exact copies of
#          docs < 10 (+2·AUG)
#   day 2: drop-5 jitter of docs < 150 (+3·AUG) + exact copies of day-1
#          SURVIVORS with base id < 150 (+3·AUG → 4·AUG range)
#   day 3: drop-7 jitter of docs < 100 (+5·AUG) + exact copies of day-2
#          survivors (+3·AUG → 6·AUG range) + exact copies of day-1
#          survivors (+7·AUG → 8·AUG range)
# Day 3's planted copies of BOTH prior days' survivors can only flag
# exact_dup if every advance_signatures append made it into the state —
# the multi-day accumulation proof (day 2 alone only proves one handoff).
def _dayn_jitter_sql(drop: int, mult: int, limit: int) -> str:
    return f"""
      SELECT doc_id + {mult * DT.AUG_OFFSET} AS doc_id,
             array_to_string(words[1:GREATEST(len(words) - {drop}, 1)], ' ') AS text
      FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS words
            FROM documents WHERE doc_id < {limit})
    """


_D3_NEW1_SQL = f"""
  {_dayn_jitter_sql(3, 1, 200)}
  UNION ALL
  SELECT doc_id + {2 * DT.AUG_OFFSET} AS doc_id, text FROM documents WHERE doc_id < 10
"""
_D3_SURV1_SQL = f"""
  SELECT n.doc_id, n.text FROM ({_D3_NEW1_SQL}) n
  WHERE n.doc_id IN (
    SELECT doc_id FROM (
      {DT.incremental_dedup_oracle_sql("SELECT doc_id, text FROM documents", _D3_NEW1_SQL)}
    ) WHERE is_kept)
"""
_D3_HIST2_SQL = f"SELECT doc_id, text FROM documents UNION ALL {_D3_SURV1_SQL}"
_D3_NEW2_SQL = f"""
  {_dayn_jitter_sql(5, 3, 150)}
  UNION ALL
  SELECT doc_id + {3 * DT.AUG_OFFSET} AS doc_id, text FROM ({_D3_SURV1_SQL})
  WHERE doc_id < {DT.AUG_OFFSET + 150}
"""
_D3_SURV2_SQL = f"""
  SELECT n.doc_id, n.text FROM ({_D3_NEW2_SQL}) n
  WHERE n.doc_id IN (
    SELECT doc_id FROM (
      {DT.incremental_dedup_oracle_sql(_D3_HIST2_SQL, _D3_NEW2_SQL)}
    ) WHERE is_kept)
"""
_D3_HIST3_SQL = f"{_D3_HIST2_SQL} UNION ALL {_D3_SURV2_SQL}"
_D3_NEW3_SQL = f"""
  {_dayn_jitter_sql(7, 5, 100)}
  UNION ALL
  SELECT doc_id + {3 * DT.AUG_OFFSET} AS doc_id, text FROM ({_D3_SURV2_SQL})
  WHERE doc_id < {3 * DT.AUG_OFFSET + 75}
  UNION ALL
  SELECT doc_id + {7 * DT.AUG_OFFSET} AS doc_id, text FROM ({_D3_SURV1_SQL})
  WHERE doc_id < {DT.AUG_OFFSET + 100}
"""


@query(
    "pipeline_daily_increment_day3",
    oracle=DT.incremental_dedup_oracle_sql(_D3_HIST3_SQL, _D3_NEW3_SQL),
)
def pipeline_daily_increment_day3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-N incremental dedup as an actual LOOP (pipelines/daily.py):
    three daily batches flow through daily_step, which appends each
    day's survivor signatures via advance_signatures — history raw
    text is scanned exactly once (day 0's history_signatures) and the
    signature state grows by O(survivors/day), never re-derived. Day 3
    plants exact copies of BOTH day-1 and day-2 survivors: they can only
    flag if every append reached the state. The oracle recomputes all
    three days from full history in SQL, proving append-maintained
    signatures are engine-exactly equal to re-derivation.

    Local cost is job-count-bound, not data-bound: three dedup passes
    plus eight state materializations at ~1 s fixed local-mode latency
    each (a bare 275-row count on this host costs ~0.8 s) — consistent
    with the 1-pass/2-pass siblings (3.7 s / 5.9 s benched). At 100 TB
    the fixed overhead vanishes and per-day cost is O(batch): the state
    tables would be parquet appends, which this loop's shape maps 1:1."""
    from .pipelines.daily import daily_step
    from .session import pooled_persist as _pin
    from .session import pooled_persist_all as _pin_all

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    words = F.split(F.trim(F.col("text")), r"\s+")

    def jitter(drop: int, mult: int, limit: int) -> DataFrame:
        keep = F.greatest(F.size(words) - drop, F.lit(1))
        return docs.filter(F.col("doc_id") < limit).select(
            (F.col("doc_id") + mult * DT.AUG_OFFSET).alias("doc_id"),
            F.array_join(F.slice(words, 1, keep), " ").alias("text"),
        )

    def copies(src: DataFrame, mult: int, below: int) -> DataFrame:
        return src.filter(F.col("doc_id") < below).select(
            (F.col("doc_id") + mult * DT.AUG_OFFSET).alias("doc_id"), "text"
        )

    # day 0: the ONLY raw-history signature derivation in the whole loop
    h0, s0 = DT.history_signatures(docs)
    sig = _pin_all(
        (h0, "q.day3.sig_h0"),
        (s0, "q.day3.sig_s0"),
    )
    # batches stay unpinned: each is a cheap projection of the cached
    # documents table (re-deriving it twice costs less than materializing
    # another checkpoint); survivors and signature tables — the state that
    # feeds every later day — are what gets truncated
    batch1 = jitter(3, 1, 200).unionByName(copies(docs, 2, 10))
    _, surv1, sig = daily_step(sig, batch1, persist=_pin, day="3q1")
    batch2 = jitter(5, 3, 150).unionByName(
        copies(surv1, 3, DT.AUG_OFFSET + 150)
    )
    _, surv2, sig = daily_step(sig, batch2, persist=_pin, day="3q2")
    batch3 = (
        jitter(7, 5, 100)
        .unionByName(copies(surv2, 3, 3 * DT.AUG_OFFSET + 75))
        .unionByName(copies(surv1, 7, DT.AUG_OFFSET + 100))
    )
    flags3, _, _ = daily_step(
        sig, batch3, persist=_pin, day="3q3", advance=False
    )
    return flags3


# --- streaming incremental dedup: two time-ordered slices ------------------
# slice A: drop-3 jitter of docs < 150 (+1·AUG) + exact copies of docs < 10
#          (+2·AUG); B: exact copies of slice-A SURVIVORS with base id < 100
#          (+3·AUG → 4·AUG range) + drop-5 jitter of docs < 75 (+5·AUG).
# B's survivor copies can only flag exact_dup if slice A's survivors
# entered the streaming signature state — the cross-batch handoff proof.
# (Two slices, not three: per-trigger fixed cost is the whole local bill —
# the third slice added ~3.5 s of bench time for no extra semantics; the
# THREE-step composition is already driver-proven by
# pipeline_daily_increment_day3.)
_SI_A_SQL = f"""
  {_dayn_jitter_sql(3, 1, 150)}
  UNION ALL
  SELECT doc_id + {2 * DT.AUG_OFFSET} AS doc_id, text FROM documents WHERE doc_id < 10
"""
_SI_SURVA_SQL = f"""
  SELECT n.doc_id, n.text FROM ({_SI_A_SQL}) n
  WHERE n.doc_id IN (
    SELECT doc_id FROM (
      {DT.incremental_dedup_oracle_sql("SELECT doc_id, text FROM documents", _SI_A_SQL)}
    ) WHERE is_kept)
"""
_SI_HISTB_SQL = f"SELECT doc_id, text FROM documents UNION ALL {_SI_SURVA_SQL}"
_SI_B_SQL = f"""
  SELECT doc_id + {3 * DT.AUG_OFFSET} AS doc_id, text FROM ({_SI_SURVA_SQL})
  WHERE doc_id < {DT.AUG_OFFSET + 100}
  UNION ALL
  {_dayn_jitter_sql(5, 5, 75)}
"""
_SI_ORACLE = f"""
SELECT * FROM ({DT.incremental_dedup_oracle_sql("SELECT doc_id, text FROM documents", _SI_A_SQL)})
UNION ALL
SELECT * FROM ({DT.incremental_dedup_oracle_sql(_SI_HISTB_SQL, _SI_B_SQL)})
"""


@query("stream_incremental_dedup", oracle=_SI_ORACLE)
def stream_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The daily-increment loop as a STREAM: two time-ordered document
    slices replay through streaming/incremental_dedup_stream — each
    micro-batch flags against the current parquet signature state
    (seeded from the documents history) and appends its survivors'
    signatures under exactly-once batch commits. Slice B plants exact
    copies of slice-A SURVIVORS: they can only flag exact_dup if A's
    appends reached the state, so the oracle — which recomputes each
    slice against its full composed history in SQL — pins the cross-batch
    handoff, not just per-batch flags. (Per-trigger fixed cost is the
    whole local bill; the deeper 3-step composition is driver-proven by
    pipeline_daily_increment_day3.)"""
    import glob as _glob
    import os as _os

    from .pipelines.daily import daily_step
    from .streaming.incremental_dedup_stream import (
        seed_signatures,
        stream_incremental_dedup as _run,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    words = F.split(F.trim(F.col("text")), r"\s+")

    def jitter(drop: int, mult: int, limit: int) -> DataFrame:
        keep = F.greatest(F.size(words) - drop, F.lit(1))
        return docs.filter(F.col("doc_id") < limit).select(
            (F.col("doc_id") + mult * DT.AUG_OFFSET).alias("doc_id"),
            F.array_join(F.slice(words, 1, keep), " ").alias("text"),
        )

    with _scratch("bensp_stream_incr_") as base:
        with _fixture_build("stream_incremental_dedup"):
            slice_a = jitter(3, 1, 150).unionByName(
                docs.filter(F.col("doc_id") < 10).select(
                    (F.col("doc_id") + 2 * DT.AUG_OFFSET).alias("doc_id"), "text"
                )
            )
            # slice B's planted copies need slice-A's survivors — derive them
            # with the batch daily step (fixture work, same derivation as the
            # oracle; the STREAM recomputes its own flags from seeded state)
            h0, s0 = DT.history_signatures(docs)
            _, surv_a, _ = daily_step(
                (h0, s0), slice_a, day="si_fix", advance=False
            )
            slice_b = surv_a.filter(F.col("doc_id") < DT.AUG_OFFSET + 100).select(
                (F.col("doc_id") + 3 * DT.AUG_OFFSET).alias("doc_id"), "text"
            ).unionByName(jitter(5, 5, 75))
            src = _os.path.join(base, "src")
            _os.makedirs(src)
            for i, sl in enumerate((slice_a, slice_b)):
                tmp = _os.path.join(base, f"w{i}")
                sl.coalesce(1).write.mode("overwrite").parquet(tmp)
                part = _glob.glob(f"{tmp}/part-*.parquet")[0]
                dst = _os.path.join(src, f"slice{i}.parquet")
                shutil.move(part, dst)
                _os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
            seed_signatures(docs, _os.path.join(base, "sig"))
        stream = _replay(spark, "doc_id long, text string", src)
        _run(
            spark,
            stream,
            _os.path.join(base, "sig"),
            _os.path.join(base, "out"),
            _os.path.join(base, "ckpt"),
        )
        return (
            spark.read.parquet(_os.path.join(base, "out"))
            .drop("batch_id")
            .localCheckpoint(eager=True)
        )


# --- streaming incremental dedup WITH RETENTION (r9) -----------------------
# Three time-ordered slices over an EMPTY seed, compact_every=3,
# retention_window=1 — batch ids are the days; ONE roll-up fires at batch
# 2 entry (3 state partitions) with cutoff 2−1 = 1:
#   A (batch 0): 80 docs of slice-unique md5-token text → all kept (vs ∅)
#   B (batch 1): 80 more, token-disjoint from A          → all kept
#   C (batch 2): exact copies of A + copies of B + fresh content.
#                The roll-up (cutoff 1) EXPIRES slice-A content
#                (last_seen 0, never re-sighted — B shares no tokens), so
#                C's copies of A flag KEPT (genuinely new — the forget
#                semantics the retention loop exists for), while copies
#                of in-window B flag exact_dup (full-history behavior).
# Texts are md5 tokens keyed by (slice, doc, position) — zero token
# overlap across docs or slices, so the post-expiry state history at each
# batch is the closed-form ∅ → A → B (no re-sightings to model), and the
# md5 construction is engine-portable (Spark md5 == DuckDB md5). The
# documents table supplies only the doc_id spine. A NON-retention run
# would flag C's A-copies exact_dup, so the oracle pins the forget
# behavior itself, not just per-batch flags. (Near-dup retention — the
# re-sighting/fingerprint machinery — is pytest-covered where the fixture
# can control hamming distances directly; this driver row pins the state
# lifecycle.)
def _sr_tokens_sql(tag: str, mult: int, n: int) -> str:
    toks = " || ' ' || ".join(
        f"md5('{tag}-' || doc_id || '-{k}')" for k in range(1, 4)
    )
    return f"""
      SELECT doc_id + {mult * DT.AUG_OFFSET} AS doc_id, {toks} AS text
      FROM documents WHERE doc_id < {n}
    """


_SR_N = 80
_SR_EMPTY_SQL = "SELECT doc_id, text FROM documents WHERE FALSE"
_SR_A_SQL = _sr_tokens_sql("ra", 1, _SR_N)
_SR_B_SQL = _sr_tokens_sql("rb", 3, _SR_N)
_SR_C_SQL = f"""
  SELECT doc_id + {6 * DT.AUG_OFFSET} AS doc_id, text FROM ({_SR_A_SQL})
  UNION ALL
  SELECT doc_id + {5 * DT.AUG_OFFSET} AS doc_id, text FROM ({_SR_B_SQL})
  UNION ALL
  {_sr_tokens_sql("rc", 9, _SR_N)}
"""
_SR_ORACLE = f"""
SELECT * FROM ({DT.incremental_dedup_oracle_sql(_SR_EMPTY_SQL, _SR_A_SQL)})
UNION ALL
SELECT * FROM ({DT.incremental_dedup_oracle_sql(_SR_A_SQL, _SR_B_SQL)})
UNION ALL
SELECT * FROM ({DT.incremental_dedup_oracle_sql(_SR_B_SQL, _SR_C_SQL)})
"""


@query("stream_incremental_dedup_retention", oracle=_SR_ORACLE)
def stream_incremental_dedup_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming incremental-dedup loop with RETENTION
    (streaming/incremental_dedup_stream, retention_window=1): batch ids
    are the days; every batch stamps last_seen + re-sighting rows, and
    each compaction roll-up expires content whose newest sighting fell
    out of the window, rebuilding both packed blooms. Slice C plants
    exact copies of slice-A survivors AFTER their expiry — they can only
    flag KEPT if the roll-up genuinely forgot them (a non-retention run
    flags them exact_dup), and copies of in-window slice-B survivors must
    still flag exact_dup — so the composed oracle pins the forget
    semantics end to end, not just per-batch flags. State is bounded by
    the rolling window: the production fix for a continuously-running
    crawl-dedup stream whose keyed state otherwise grows forever
    (reference analog: the unbounded dedup hashtable,
    apps/dedup/src/encoder.c:1520)."""
    import glob as _glob
    import os as _os

    from .streaming.incremental_dedup_stream import (
        seed_signatures,
        stream_incremental_dedup as _run,
    )

    spine = _t(spark, sf_dir, "documents").select("doc_id")

    def tokens(tag: str, mult: int) -> DataFrame:
        toks = [
            F.md5(
                F.concat(
                    F.lit(f"{tag}-"),
                    F.col("doc_id").cast("string"),
                    F.lit(f"-{k}"),
                )
            )
            for k in range(1, 4)
        ]
        return spine.filter(F.col("doc_id") < _SR_N).select(
            (F.col("doc_id") + mult * DT.AUG_OFFSET).alias("doc_id"),
            F.concat_ws(" ", *toks).alias("text"),
        )

    empty = local_rows_df(spark, [], "doc_id long, text string")
    with _scratch("bensp_stream_ret_") as base:
        with _fixture_build("stream_incremental_dedup_retention"):
            slice_a = tokens("ra", 1)
            slice_b = tokens("rb", 3)
            # offsets mirror _SR_C_SQL exactly: A-copies at +6·AUG on top of
            # A's +1·AUG (→ 7·AUG range), B-copies at +5·AUG on top of
            # B's +3·AUG (→ 8·AUG range), fresh at 9·AUG
            slice_c = (
                slice_a.select(
                    (F.col("doc_id") + 6 * DT.AUG_OFFSET).alias("doc_id"), "text"
                )
                .unionByName(
                    slice_b.select(
                        (F.col("doc_id") + 5 * DT.AUG_OFFSET).alias("doc_id"),
                        "text",
                    )
                )
                .unionByName(tokens("rc", 9))
            )
            src = _os.path.join(base, "src")
            _os.makedirs(src)
            for i, sl in enumerate((slice_a, slice_b, slice_c)):
                tmp = _os.path.join(base, f"w{i}")
                sl.coalesce(1).write.mode("overwrite").parquet(tmp)
                part = _glob.glob(f"{tmp}/part-*.parquet")[0]
                dst = _os.path.join(src, f"slice{i}.parquet")
                shutil.move(part, dst)
                _os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
            # no blooms at toy scale: the size gate skips the probe below the
            # broadcast crossover anyway, and each expiring roll-up would pay
            # two full bitset rebuilds — the bloom+rebuild path is covered by
            # tests/test_streaming.py; flags are identical either way
            seed_signatures(empty, _os.path.join(base, "sig"), use_bloom=False)
        stream = _replay(spark, "doc_id long, text string", src)
        _run(
            spark,
            stream,
            _os.path.join(base, "sig"),
            _os.path.join(base, "out"),
            _os.path.join(base, "ckpt"),
            compact_every=3,
            retention_window=1,
        )
        return (
            spark.read.parquet(_os.path.join(base, "out"))
            .drop("batch_id")
            .localCheckpoint(eager=True)
        )


@query("pipeline_warc_daily", oracle=None)
def pipeline_warc_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END production crawl shape: day-N WARC segments land in
    a directory, stream one segment per trigger through the real ingest
    path (read_warc_pages streaming=True: response filter + HTTP envelope
    parse + UTF-8 decode), text is recovered with the curation pipeline's
    extract_html_text, and the rows feed the RETENTION-enabled
    incremental-dedup loop (compact_every=3, retention_window=1) — crawl
    → curate → dedup-with-expiry in one declared query. The three
    segments carry exactly stream_incremental_dedup_retention's slices
    wrapped in HTML+HTTP+WARC envelopes (doc ids reconstruct from
    (segment, record position) — at scale the id IS that pair), so it
    SHARES that query's composed forget-semantics oracle verbatim: a hash
    mismatch anywhere in the WARC round trip, the HTML extraction, or
    the retention state machine fails the pin."""
    import os as _os

    from .operators.text_analysis import extract_html_text
    from .sources.warc import (
        build_http_response,
        build_warc_bytes,
        read_warc_pages,
    )
    from .streaming.incremental_dedup_stream import (
        seed_signatures,
        stream_incremental_dedup as _run,
    )

    def day_texts(tag: str) -> list[str]:
        import hashlib

        return [
            " ".join(
                hashlib.md5(f"{tag}-{i}-{k}".encode()).hexdigest()
                for k in range(1, 4)
            )
            for i in range(_SR_N)
        ]

    a_texts, b_texts, c_fresh = day_texts("ra"), day_texts("rb"), day_texts("rc")
    days = [a_texts, b_texts, a_texts + b_texts + c_fresh]
    empty = local_rows_df(spark, [], "doc_id long, text string")
    with _scratch("bensp_warc_daily_") as base:
        with _fixture_build("pipeline_warc_daily"):
            src = _os.path.join(base, "src")
            _os.makedirs(src)
            for day, texts in enumerate(days):
                recs = [("warcinfo", None, b"software: bensp-fixture\r\n")] + [
                    (
                        "response",
                        f"https://crawl.example.com/d{day}/{i}",
                        build_http_response(
                            f"<html><body><p>{t}</p></body></html>".encode()
                        ),
                    )
                    for i, t in enumerate(texts)
                ]
                fname = f"day-{day:05d}.warc" + (".gz" if day == 1 else "")
                dst = _os.path.join(src, fname)
                with open(dst, "wb") as fh:
                    fh.write(build_warc_bytes(recs, gzip_records=(day == 1)))
                _os.utime(dst, (1_700_000_000 + day, 1_700_000_000 + day))
            # blooms off for the same reason as stream_incremental_dedup_retention
            seed_signatures(empty, _os.path.join(base, "sig"), use_bloom=False)
        pages = read_warc_pages(spark, src, streaming=True, max_files_per_trigger=1)
        # doc ids reconstruct stream_incremental_dedup_retention's scheme from
        # (segment, record position): day 0 → +1·AUG, day 1 → +3·AUG, day 2 →
        # A-copies +7·AUG / B-copies +8·AUG / fresh +9·AUG by position
        day_no = F.regexp_extract("warc_name", r"day-(\d+)", 1).cast("long")
        pos = F.col("record_idx") - 1  # warcinfo occupies idx 0
        aug = F.lit(DT.AUG_OFFSET)
        doc_id = (
            F.when(day_no == 0, aug + pos)
            .when(day_no == 1, 3 * aug + pos)
            .otherwise(
                F.when(pos < _SR_N, 7 * aug + pos)
                .when(pos < 2 * _SR_N, 8 * aug + (pos - _SR_N))
                .otherwise(9 * aug + (pos - 2 * _SR_N))
            )
        )
        docs_stream = pages.select(
            doc_id.alias("doc_id"),
            extract_html_text(F.col("html")).alias("text"),
        )
        _run(
            spark,
            docs_stream,
            _os.path.join(base, "sig"),
            _os.path.join(base, "out"),
            _os.path.join(base, "ckpt"),
            compact_every=3,
            retention_window=1,
        )
        return (
            spark.read.parquet(_os.path.join(base, "out"))
            .drop("batch_id")
            .localCheckpoint(eager=True)
        )


ORACLES["pipeline_warc_daily"] = ORACLES["stream_incremental_dedup_retention"]


# ---------------------------------------------------------------------------
# General graph algorithms (round 8): the CC kernel the near-dup resolution
# uses, exposed as a first-class operator, plus degree-oriented triangle
# counting — both over deterministic co-purchase graphs with full
# SQL-mirrored oracles (the CC oracle is a recursive CTE).
# ---------------------------------------------------------------------------

_COPURCHASE_PAIRS_SQL = """
  SELECT a.l_partkey AS src, b.l_partkey AS dst,
         COUNT(DISTINCT a.l_orderkey) AS n
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
"""


def _copurchase_edges(
    spark: SparkSession, sf_dir: str, min_orders: int = 1, part_cap: int | None = None
):
    """Distinct co-purchased part pairs (src < dst) seen in ≥ min_orders
    orders — the basket-explode construction from copurchase_pairs (one
    exchange on the order key; pair fan-out bounded by basket size).
    ``part_cap`` bounds the node universe (filter pushed to the scan) —
    the triangle fixture uses it so enumeration cost tracks the capped
    subgraph, not the raw scale factor."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    if part_cap is not None:
        li = li.filter(F.col("l_partkey") < part_cap)
    baskets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("parts")
    )
    pairs = baskets.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("parts"),
                    lambda a, i: F.transform(
                        F.slice(F.col("parts"), i + 2, F.size("parts")),
                        lambda b: F.struct(a.alias("src"), b.alias("dst")),
                    ),
                )
            )
        ).alias("p")
    ).select("p.src", "p.dst")
    return (
        pairs.groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= min_orders)
        .select("src", "dst")
    )


@query(
    "graph_connected_components",
    oracle=GR.connected_components_oracle_sql(
        f"SELECT src, dst FROM ({_COPURCHASE_PAIRS_SQL}) WHERE n >= 2"
    ),
)
def graph_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components as a first-class graph operator (the kernel
    near-dup resolution clusters with, exposed for arbitrary edge lists):
    hash-to-min label propagation with pointer jumping — O(log diameter)
    rounds of one join + one aggregation, no driver-side graph. Edge set:
    part pairs co-purchased in ≥2 orders (9 components / 1880 nodes at
    sf0.01 — real merge work, unlike the single-component full graph).
    The oracle is a DuckDB RECURSIVE CTE over the same edges, so label
    convergence is checked against an independent traversal engine."""
    edges = _copurchase_edges(spark, sf_dir, min_orders=2)
    return GR.connected_components(edges)


_TRI_PAIRS_SQL = _COPURCHASE_PAIRS_SQL.replace(
    "GROUP BY 1, 2", "WHERE a.l_partkey < 2000 AND b.l_partkey < 2000 GROUP BY 1, 2"
)


@query(
    "graph_triangle_count",
    oracle=GR.triangle_count_oracle_sql(
        f"SELECT src, dst FROM ({_TRI_PAIRS_SQL})"
    ),
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the co-purchase graph (115k edges /
    413k triangles at sf0.01 — baskets are cliques, so the fixture is
    triangle-dense). Degree-ordered orientation: every edge points from
    its lower-(degree, id) endpoint, each triangle is enumerated at its
    unique two-out-edge corner, and the wedge fan-out is the oriented
    out-degree — O(√m) even on celebrity nodes (Suri & Vassilvitskii) —
    so the plan survives skewed graphs at 100 TB. Pure equi-joins + one
    aggregation, identical algebra in the DuckDB mirror. The node
    universe is capped at part id < 2000 (a no-op at sf0.01, where the
    whole result is oracle-checked) so enumeration cost tracks the
    capped subgraph, not the raw scale factor."""
    edges = _copurchase_edges(spark, sf_dir, part_cap=2000)
    return GR.triangle_count(edges)
