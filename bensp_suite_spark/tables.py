"""Test-table loading for the driver-generated TPC-H-ish star schema.

Tables (one parquet each, see TESTDATA.md):
``region nation customer supplier part orders lineitem events documents
embeddings``. A session reads each table once: :func:`load_table` keeps
the lazy handle as a state-registry entry (``state.py``), so it goes with
the session.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from . import state

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


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """A LAZY handle on one test table, kept per session and (sf_dir,
    name) in the state registry (state.py). Constructing a reader is
    ~85 ms of driver fixed cost per call (py4j + footer/schema
    resolution) and the suite re-loads the same ten tables hundreds of
    times; DuckDB pays the equivalent ONCE per connection (CREATE VIEW at
    duckdb_con setup). Memoizing the unresolved plan is the symmetric
    footing: nothing is persisted or materialized — every action against
    the handle still scans + decodes the parquet inputs."""
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; have {TABLE_NAMES}")
    return state.get(
        spark, "table", (sf_dir, name), lambda: _read_table(spark, sf_dir, name)
    )


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


def register_views(spark: SparkSession, sf_dir: str, suffix: str = "") -> None:
    """Register every test table as a temp view so plain ``spark.sql``
    works over the schema — the drop-in SQL surface (a reference user's
    queries keep running, but through Catalyst). The views point at the
    session's :func:`load_table` handles."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name + suffix)
