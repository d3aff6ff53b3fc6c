"""Seeded synthetic inputs for the benchmark.

Writes the ten tables the query registry reads (``region nation customer
supplier part orders lineitem events documents embeddings``) as one
parquet file each, with the column names, types and value domains of the
repository's TPC-H-ish test data. ``scale=1`` matches the sf0.01 row
counts (60,000 lineitem rows); every table scales linearly except the two
fixed dimensions.

Row counts depend only on ``scale``, never on the seed, so two seeds give
runs of the same size; the seed only changes the values.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PART_ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
_PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_LANG_P = [0.14, 0.44, 0.14, 0.13, 0.15]
_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_EMB_DIM = 64
_DAY_US = 86_400 * 1_000_000
_EPOCH_1995_US = 788_918_400 * 1_000_000  # 1995-01-01
_EPOCH_2024_US = 1_704_067_200 * 1_000_000  # 2024-01-01


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(out_dir: str, seed: int, scale: int = 1) -> dict[str, int]:
    """Write every table under ``out_dir``; returns {table: rows}."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = 1500 * scale, 100 * scale, 2000 * scale
    n_ord, n_events, n_docs = 15000 * scale, 10000 * scale, 500 * scale
    n_users = n_cust // 10

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": _REGIONS,
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    tables["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = np.array([f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN])
    tables["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": rng.choice(names, n_part),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1),
    })

    order_day = rng.integers(0, 2404, n_ord)
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(_EPOCH_1995_US + order_day * _DAY_US),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
    })

    # About 4 lines per order; (l_orderkey, l_linenumber) repeats, as in
    # the reference data, so only the 4-column key is unique.
    n_lines = 4 * n_ord
    l_order = np.sort(rng.integers(0, n_ord, n_lines))
    l_part = rng.integers(0, n_part, n_lines)
    l_supp = rng.integers(0, n_supp, n_lines)
    l_lineno = rng.integers(1, 8, n_lines)
    keys = np.stack([l_order, l_lineno, l_part, l_supp], axis=1)
    _, first = np.unique(keys, axis=0, return_index=True)
    keep = np.sort(first)
    l_order, l_part, l_supp, l_lineno = (
        l_order[keep], l_part[keep], l_supp[keep], l_lineno[keep]
    )
    n_lines = len(keep)
    qty = rng.integers(1, 51, n_lines).astype("float64")
    ship_day = np.clip(order_day[l_order] + rng.integers(-2400, 2480, n_lines), 1, 2499)
    tables["lineitem"] = pa.table({
        "l_orderkey": l_order.astype("int64"),
        "l_partkey": l_part.astype("int64"),
        "l_suppkey": l_supp.astype("int64"),
        "l_linenumber": pa.array(l_lineno, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(18.0, 2100.0, n_lines), 2),
        "l_discount": rng.integers(0, 11, n_lines) / 100.0,
        "l_tax": rng.integers(0, 9, n_lines) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_lines),
        "l_linestatus": rng.choice(["F", "O"], n_lines),
        "l_shipdate": _ts(_EPOCH_1995_US + ship_day * _DAY_US),
    })

    gaps = rng.exponential(259.0, n_events) * 1e6
    ev_us = _EPOCH_2024_US + np.cumsum(gaps).astype("int64") + 1
    tables["events"] = pa.table({
        "event_id": np.arange(n_events, dtype="int64"),
        "ts": _ts(ev_us),
        "user_id": rng.integers(0, n_users, n_events),
        "event_type": rng.choice(_EVENT_TYPES, n_events),
        "value": np.maximum(np.round(rng.exponential(50.0, n_events), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })

    texts = [
        " ".join(rng.choice(_WORDS, int(rng.integers(10, 100))))
        for _ in range(n_docs)
    ]
    # 5% near-duplicates: a copy of an earlier document plus one token.
    for i in rng.choice(np.arange(1, n_docs), n_docs // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    tables["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": rng.choice(_LANGS, n_docs, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })

    vecs = rng.standard_normal((n_docs, _EMB_DIM)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(n_docs, dtype="int64"),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_docs), pa.int32()),
    })

    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
