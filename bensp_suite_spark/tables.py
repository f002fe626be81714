"""Test-table loading for the driver-generated TPC-H-ish star schema.

Tables (one parquet each, see TESTDATA.md):
``region nation customer supplier part orders lineitem events documents
embeddings``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SMOKE_SF_DIR = "/root/testdata/sf0.001"


# (applicationId, sf_dir, table) -> persisted DataFrame, filled by
# cache_tables(). Queries pick cached inputs up transparently via
# load_table — one in-memory columnar copy shared by the whole suite.
_TABLE_CACHE: dict[tuple[str, str, str], DataFrame] = {}

# (applicationId, sf_dir, table) -> LAZY DataFrame handle. Constructing a
# reader is ~85 ms of driver fixed cost per call (py4j + footer/schema
# resolution) and the suite re-loads the same ten tables hundreds of
# times; DuckDB pays the equivalent ONCE per connection (CREATE VIEW at
# duckdb_con setup). Memoizing the unresolved plan is the symmetric
# footing: nothing is persisted or materialized — every action against
# the handle still scans + decodes the parquet inputs.
_DF_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def cache_tables(spark: SparkSession, sf_dir: str) -> None:
    """Persist + materialize every test table for this (session, sf_dir).

    Diagnostic-tool helper only (profiling scripts, interactive
    exploration). bench.py deliberately does NOT call this:
    every timed bench rep must compute from the parquet inputs, so
    persisting base tables ahead of the timed loop would move the scan
    outside the measured region (removed in r11 — OPTIMIZATION_r11.md
    methodology item 5). load_table falls back to the plain parquet scan
    whenever the cache is absent."""
    app = spark.sparkContext.applicationId
    for name in TABLE_NAMES:
        key = (app, sf_dir, name)
        if key not in _TABLE_CACHE:
            df = load_table(spark, sf_dir, name).persist()
            df.count()
            _TABLE_CACHE[key] = df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; have {TABLE_NAMES}")
    app = spark.sparkContext.applicationId
    cached = _TABLE_CACHE.get((app, sf_dir, name))
    if cached is not None:
        return cached
    key = (app, sf_dir, name)
    lazy = _DF_CACHE.get(key)
    if lazy is not None:
        return lazy
    # drop handles bound to dead sessions so the memo stays bounded
    for stale in [k for k in _DF_CACHE if k[0] != app]:
        del _DF_CACHE[stale]
    df = _read_table(spark, sf_dir, name)
    _DF_CACHE[key] = df
    return df


def _read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # events.parquet has stored ts either as TIMESTAMP(MICROS) (read
        # natively) or TIMESTAMP(NANOS), which the Spark vectorized reader
        # rejects; for nanos, read as long and truncate to micros (same
        # floor DuckDB applies converting ns → its µs TIMESTAMP).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType

        df = spark.read.parquet(path)
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df
    return spark.read.parquet(path)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str, suffix: str = "") -> None:
    """Register every test table as a temp view so plain ``spark.sql``
    works over the schema — the drop-in SQL surface (a reference user's
    queries keep running, but through Catalyst). Honors cache_tables()
    transparently: registered views point at the persisted DataFrames
    when present."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name + suffix)
