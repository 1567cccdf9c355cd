"""Seeded parquet tables for the ``query_registry`` workload.

Same names and column types as the driver's star schema (FIXTURES.md
section 1), at sf0.01-like row counts times ``sf``.  Value domains follow
the driver's tables: five market segments, 25 brands, five event types,
JSON ``props``, space-separated words, unit-norm 64-d embeddings
clustered by label.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
_ADJ = "blue hot small old red cold new large".split()
_NOUN = "bolt gear anvil widget ring rod plate gizmo".split()


def _ts(days_from: str, n_days: int, rng, n: int, unit: str = "D") -> np.ndarray:
    base = np.datetime64(days_from, "us")
    if unit == "D":
        off = rng.integers(0, n_days, n).astype("timedelta64[D]")
    else:
        off = rng.integers(0, n_days * 86_400_000_000, n).astype("timedelta64[us]")
    return base + off


def _write(out: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def generate(out: str, seed: int, sf: float = 1.0) -> None:
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = int(1500 * sf), max(10, int(100 * sf)), int(2000 * sf)
    n_ord, n_ev, n_doc, n_emb = int(15000 * sf), int(10000 * sf), 500, 500
    i32 = pa.int32()

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
    })
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    _write(out, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1),
    })
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": _ts("1995-01-01", 2404, rng, n_ord),
        "o_orderpriority": prios[rng.integers(0, 5, n_ord)],
    })
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    lnum = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(out, "lineitem", {
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(lnum, i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts("1995-01-02", 2498, rng, n_li),
    })
    ev_types = np.array(["click", "error", "purchase", "signup", "view"])
    _write(out, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.sort(_ts("2024-01-01", 30, rng, n_ev, unit="us")),
        "user_id": rng.integers(0, 150, n_ev),
        "event_type": ev_types[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.uniform(0.01, 490.02, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = [
        " ".join(_WORDS[w] for w in rng.integers(0, len(_WORDS), rng.integers(8, 100)))
        for _ in range(n_doc)
    ]
    _write(out, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(["en", "en", "en", "de", "es", "fr", "zh"])[rng.integers(0, 7, n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(size=(10, 64))
    vecs = centers[labels] + rng.normal(scale=1.5, size=(n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    })
