"""Seeded generator for the registry's input tables.

Writes the ten parquet tables the declared queries and their DuckDB
oracles read (``region`` … ``embeddings``) with the same column names,
types and value domains as the sf0.01 correctness tables: 60k lineitem
rows, 15k orders, 10k events, 500 documents and 500 64-d embeddings.
Same seed, same bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["red", "old", "cold", "hot", "new", "large", "small", "blue"]
PART_NOUN = ["bolt", "anvil", "plate", "widget", "gear", "ring", "rod", "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
VOCAB = (
    "row the query stream fast spark line small customer group value hash batch "
    "sort data big filter dup key agg scan slow table part a merge window order "
    "column join vector"
).split()

N_CUSTOMER, N_SUPPLIER, N_PART = 1500, 100, 2000
N_ORDERS, N_LINEITEM, N_EVENTS = 15000, 60000, 10000
N_DOCS, N_VECS, DIM = 500, 500, 64

_DAY_US = 86_400_000_000
_EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01T00:00:00Z
_EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(values_us):
    return pa.array(values_us, type=pa.timestamp("us"))


def tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    i32, i64 = pa.int32(), pa.int64()
    out = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(N_CUSTOMER), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
            "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
            "c_mktsegment": rng.choice(SEGMENTS, N_CUSTOMER).tolist(),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(N_SUPPLIER), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
            "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER),
        }
    )
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(range(N_PART), i64),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, N_PART), rng.integers(0, 8, N_PART))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
            "p_type": rng.choice(PART_TYPES, N_PART).tolist(),
            "p_size": pa.array(rng.integers(1, 51, N_PART), i32),
            "p_retailprice": np.round(900.0 + (np.arange(N_PART) % 1000) / 10.0, 2),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(N_ORDERS), i64),
            "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), i64),
            "o_orderstatus": rng.choice(["F", "O", "P"], N_ORDERS).tolist(),
            "o_totalprice": _money(rng, 1000.0, 500000.0, N_ORDERS),
            "o_orderdate": _ts(_EPOCH_1995_US + rng.integers(0, 2404, N_ORDERS) * _DAY_US),
            "o_orderpriority": rng.choice(PRIORITIES, N_ORDERS).tolist(),
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, N_ORDERS, N_LINEITEM), i64),
            "l_partkey": pa.array(rng.integers(0, N_PART, N_LINEITEM), i64),
            "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, N_LINEITEM), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEM), i32),
            "l_quantity": rng.integers(1, 51, N_LINEITEM).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, N_LINEITEM),
            "l_discount": rng.integers(0, 11, N_LINEITEM) / 100.0,
            "l_tax": rng.integers(0, 9, N_LINEITEM) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], N_LINEITEM).tolist(),
            "l_linestatus": rng.choice(["F", "O"], N_LINEITEM).tolist(),
            "l_shipdate": _ts(_EPOCH_1995_US + rng.integers(0, 2500, N_LINEITEM) * _DAY_US),
        }
    )
    ev_ts = np.sort(_EPOCH_2024_US + rng.integers(0, 30 * _DAY_US, N_EVENTS))
    out["events"] = pa.table(
        {
            "event_id": pa.array(range(N_EVENTS), i64),
            "ts": _ts(ev_ts),
            "user_id": pa.array(rng.integers(0, 150, N_EVENTS), i64),
            "event_type": rng.choice(EVENT_TYPES, N_EVENTS).tolist(),
            "value": _money(rng, 0.01, 490.0, N_EVENTS),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
        }
    )
    texts = [
        " ".join(rng.choice(VOCAB, int(rng.integers(10, 90))).tolist()) for _ in range(N_DOCS)
    ]
    # plant exact and near duplicates so the dedup queries have work to do
    for i in range(0, N_DOCS, 25):
        texts[i + 1] = texts[i]
        texts[i + 2] = texts[i] + " " + VOCAB[int(rng.integers(0, len(VOCAB)))]
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(range(N_DOCS), i64),
            "text": texts,
            "lang": rng.choice(LANGS, N_DOCS).tolist(),
            "source": [f"src{s}" for s in rng.integers(0, 20, N_DOCS)],
            "n_chars": pa.array([len(t) for t in texts], i64),
        }
    )
    vecs = rng.normal(size=(N_VECS, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(range(N_VECS), i64),
            "embedding": pa.array(vecs.astype(np.float32).tolist(), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, N_VECS), i32),
        }
    )
    return out


def write(seed: int, out_dir: str) -> str:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
