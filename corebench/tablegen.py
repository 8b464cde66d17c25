"""Seeded TPC-H-shaped tables plus the events, documents and embeddings
tables the library slots read, written as one parquet file per table.

The schemas and value domains follow the tables the slot battery was built
against (``region nation customer supplier part orders lineitem events
documents embeddings``); the row counts are :data:`ROWS`.  Documents are
random sentences over a small vocabulary, with a stated share of
near-duplicates (a copy of an earlier document with a few words replaced),
so the dedup slots find clusters.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}
NEAR_DUP_SHARE = 0.05
VOCAB = (
    "a the data query small big row slow fast filter value table part hash "
    "sort key join merge batch window spark stream group order column agg "
    "line scan customer vector"
).split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["small", "large", "red", "blue", "old", "new", "hot", "cold"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]
PART_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
EVENT_TYPES = ["signup", "error", "click", "view", "purchase"]
LANGS = ["en", "en", "en", "en", "zh", "es", "de", "fr"]


def _us(dt: datetime) -> int:
    return int(dt.timestamp() * 1_000_000)


def _days(rng, n, start: datetime, end: datetime):
    lo, hi = _us(start) // 86_400_000_000, _us(end) // 86_400_000_000
    return (rng.integers(lo, hi, n) * 86_400_000_000).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(seed: int) -> dict:
    """name -> pyarrow Table; the same seed gives byte-identical tables."""
    rng = np.random.default_rng(seed)
    n = ROWS
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n["customer"], dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
        "c_acctbal": _money(rng, n["customer"], -999, 9999),
        "c_mktsegment": rng.choice(SEGMENTS, n["customer"]),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
        "s_acctbal": _money(rng, n["supplier"], -999, 9999),
    })
    t["part"] = pa.table({
        "p_partkey": np.arange(n["part"], dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n["part"]),
                                               rng.choice(PART_NOUN, n["part"]))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n["part"])],
        "p_type": rng.choice(PART_TYPES, n["part"]),
        "p_size": rng.integers(1, 51, n["part"]).astype(np.int32),
        "p_retailprice": np.round(900 + np.arange(n["part"]) % 1000 * 0.1, 2),
    })
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], no),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _money(rng, no, 1000, 500000),
        "o_orderdate": _days(rng, no, datetime(1995, 1, 1), datetime(2001, 8, 2)),
        "o_orderpriority": rng.choice(PRIORITIES, no),
    })
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl),
        "l_partkey": rng.integers(0, n["part"], nl),
        "l_suppkey": rng.integers(0, n["supplier"], nl),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, nl), 2),
        "l_discount": np.round(rng.integers(0, 11, nl) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) * 0.01, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _days(rng, nl, datetime(1995, 1, 2), datetime(2001, 12, 1)),
    })
    ne = n["events"]
    start = _us(datetime(2024, 1, 1))
    gaps = rng.integers(1, 2 * 30 * 86_400_000_000 // ne, ne)
    t["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": (start + np.cumsum(gaps)).astype("datetime64[us]"),
        "user_id": rng.integers(0, 150, ne),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50, ne), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    t["documents"] = _documents(rng, n["documents"])
    nv = n["embeddings"]
    vecs = rng.normal(0, 0.2, (nv, 64)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, nv).astype(np.int32),
    })
    return t


def _documents(rng, nd: int) -> pa.Table:
    texts = []
    for i in range(nd):
        if i > 10 and rng.random() < NEAR_DUP_SHARE:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), 3):
                words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            words = list(rng.choice(VOCAB, int(rng.integers(20, 90))))
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, nd),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })


def write_tables(seed: int, out_dir: str) -> int:
    """Write every table to ``out_dir/<name>.parquet``; returns bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, table in make_tables(seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total
