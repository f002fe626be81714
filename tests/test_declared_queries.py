"""t2 correctness: every declared query vs the DuckDB oracle at sf0.01.

This mirrors the driver's CORRECTNESS check (row count + columns + values)
so oracle drift is caught locally before the round gate runs.
"""

from __future__ import annotations

import pytest

from bensp_suite_spark import queries as Q

from .conftest import SF_CORRECT, SF_SMOKE
from .oracle import compare

ORACLE_QUERIES = sorted(Q.ORACLES)


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_query_matches_oracle(spark, name):
    df = Q.QUERIES[name](spark, SF_CORRECT)
    ok, msg = compare(df, Q.ORACLES[name], SF_CORRECT)
    assert ok, f"{name}: {msg}"


@pytest.mark.slow
@pytest.mark.parametrize("name", sorted(Q.QUERIES))
def test_query_smoke_sf0001(spark, name):
    """t1 smoke: every registered query runs at sf0.001 and has a schema.

    Builder tier (slow): every registered query has an oracle, so the
    sf0.01 oracle lane above already executes all 220 — this lane only
    adds the second scale factor."""
    df = Q.QUERIES[name](spark, SF_SMOKE)
    assert df.columns
    assert df.count() >= 0


#: sha256 of the registry: each QUERIES name + NUL in declaration order,
#: then each ORACLES entry as name NUL text NUL in name order. A change
#: that means to add, drop, reorder or re-word a declared query updates
#: this value; any other change must leave it alone.
_REGISTRY_SHA256 = "40f24e5256451dc23d6c4db61b6318a2ebb376f0dde3aa60f384b6453aa3e4a0"


def test_registry_snapshot_is_unchanged():
    """The driver-facing surface — query order and every oracle's text —
    is byte-identical to the pinned snapshot. No SparkSession."""
    import hashlib

    h = hashlib.sha256()
    for name in Q.QUERIES:
        h.update(name.encode() + b"\0")
    for name, sql in sorted(Q.ORACLES.items()):
        h.update(name.encode() + b"\0" + sql.encode() + b"\0")
    assert (len(Q.QUERIES), len(Q.ORACLES)) == (220, 220)
    assert h.hexdigest() == _REGISTRY_SHA256


def test_failing_stream_query_removes_its_temp_dirs(spark, monkeypatch):
    """A stream query whose sink raises still removes the temp directory
    it replayed its source from."""
    import os
    import tempfile

    from bensp_suite_spark.streaming import text_dedup_stream as TDS

    def failing_sink(*args, **kwargs):
        raise RuntimeError("sink failed")

    monkeypatch.setattr(TDS, "stream_exact_dedup", failing_sink)
    # Spark makes its session-wide artifact dir at the first job, not per
    # query: run one before the snapshot
    spark.range(1).collect()
    tmp = tempfile.gettempdir()

    def dirs() -> set[str]:
        return {n for n in os.listdir(tmp) if os.path.isdir(os.path.join(tmp, n))}

    before = dirs()
    with pytest.raises(RuntimeError, match="sink failed"):
        Q.QUERIES["stream_exact_doc_dedup"](spark, SF_CORRECT)
    assert dirs() - before == set()


def test_golden_reference_matches_pins():
    """Anti-self-reference guard: the pinned golden VALUES must equal the
    output of the independent non-Spark reference implementations
    (tools/golden_reference.py). No SparkSession on this path — a golden
    that only Spark can reproduce would be a drift guard, not a
    verification."""
    import os
    import sys

    import duckdb
    import pandas as pd

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    import golden_reference as GR

    from bensp_suite_spark.golden_oracles import GOLDEN_ORACLES

    assert set(GOLDEN_ORACLES) == set(GR.REFERENCE_FNS)
    con = duckdb.connect()
    for name, pinned_sql in GOLDEN_ORACLES.items():
        cols, rows = GR.compute(name, SF_CORRECT)
        ref = pd.DataFrame(rows, columns=[c for c, _ in cols])
        pin = con.execute(pinned_sql).df()
        ref = ref[sorted(ref.columns)].sort_values(
            by=list(sorted(ref.columns)), ignore_index=True
        )
        pin = pin[sorted(pin.columns)].sort_values(
            by=list(sorted(pin.columns)), ignore_index=True
        )
        assert list(ref.columns) == list(pin.columns), name
        assert len(ref) == len(pin), f"{name}: {len(ref)} vs {len(pin)} rows"
        for c in ref.columns:
            for x, y in zip(ref[c].tolist(), pin[c].tolist()):
                x_null = x is None or (isinstance(x, float) and pd.isna(x))
                y_null = y is None or (isinstance(y, float) and pd.isna(y))
                if x_null or y_null:
                    assert x_null and y_null, f"{name}.{c}: {x!r} vs {y!r}"
                else:
                    assert x == y, f"{name}.{c}: {x!r} vs {y!r}"


def test_entry_contract(spark):
    import __spark_entry__ as E

    df = E.entry(spark)
    assert df.count() > 0
    qs, os_ = E.queries(), E.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) >= 10
