"""Seeded generator for the star-schema tables the headliner queries read.

The registered queries take an ``sf_dir`` holding one Parquet file per
table (``tables.TABLES``).  This module writes such a directory from a seed
alone, so the benchmark needs no pre-existing test data.  Column names,
physical types and value domains follow the tables the engine's tests use
(TPC-H-like keys and flags, ``events`` with a small JSON ``props`` column,
``documents`` drawn from a 30-word vocabulary with a few planted
near-duplicates, unit-norm 64-dim ``embeddings``); the values themselves are
independent uniform draws.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("blue", "hot", "old", "red", "small", "big", "cold", "new")
PART_NOUN = ("bolt", "gear", "gizmo", "ring", "widget", "nut", "pipe", "valve")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("de", "en", "en", "en", "es", "fr", "zh")
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line"
    " merge order part query row scan slow small sort spark stream table the"
    " value vector window"
).split()
EMBED_DIM = 64

_US_PER_DAY = 86_400_000_000
_ORDER_EPOCH_US = 788_918_400_000_000  # 1995-01-01
_ORDER_SPAN_DAYS = 2404  # through 2001-08-01
_EVENT_EPOCH_US = 1_704_067_200_000_000  # 2024-01-01
_EVENT_SPAN_US = 30 * _US_PER_DAY


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), pa.int64()).cast(pa.timestamp("us"))


def _choice(rng: np.random.Generator, values, n: int) -> list[str]:
    return [values[i] for i in rng.integers(0, len(values), n)]


def write_tables(out_dir: str, seed: int, sf: float) -> None:
    """Write every table under ``out_dir`` as ``<name>.parquet``.  The same
    (seed, sf) writes the same bytes."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_orders = max(50, int(1_500_000 * sf))
    n_line = 4 * n_orders
    n_events = max(100, int(1_000_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _choice(rng, SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": _choice(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + np.arange(n_part) * 0.1, 2),
    })
    order_days = rng.integers(0, _ORDER_SPAN_DAYS, n_orders)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": _choice(rng, ("F", "O", "P"), n_orders),
        "o_totalprice": _money(rng, 900.0, 500_000.0, n_orders),
        "o_orderdate": _ts(_ORDER_EPOCH_US + order_days * _US_PER_DAY),
        "o_orderpriority": _choice(rng, PRIORITIES, n_orders),
    })
    l_order = rng.integers(0, n_orders, n_line)
    ship_days = np.clip(order_days[l_order] + rng.integers(1, 122, n_line), 0, None)
    qty = rng.integers(1, 51, n_line).astype("float64")
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": _choice(rng, ("A", "N", "R"), n_line),
        "l_linestatus": _choice(rng, ("F", "O"), n_line),
        "l_shipdate": _ts(_ORDER_EPOCH_US + ship_days * _US_PER_DAY),
    })
    ev_ts = np.sort(rng.integers(0, _EVENT_SPAN_US, n_events))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": _ts(_EVENT_EPOCH_US + ev_ts),
        "user_id": pa.array(rng.integers(0, max(50, n_events // 60), n_events), pa.int64()),
        "event_type": _choice(rng, EVENT_TYPES, n_events),
        "value": _money(rng, 0.0, 100.0, n_events),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    texts = [
        " ".join(_choice(rng, VOCAB, int(k)))
        for k in rng.integers(10, 100, n_docs)
    ]
    # Plant near-duplicates so the dedup and similarity operators find pairs.
    for i in rng.choice(np.arange(1, n_docs), n_docs // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": _choice(rng, LANGS, n_docs),
        "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    vecs = rng.standard_normal((n_vecs, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
    })
    for name, table in t.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
