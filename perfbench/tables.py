"""Seeded generator for the catalog's input tables: the TPC-H-style star
schema plus ``events``, ``documents`` and ``embeddings``, with the column
names, types and value domains the catalog queries and their DuckDB
oracles read (sources/testdata.py). Timestamps are written as
microsecond parquet timestamps, as pandas writes them.

``scale`` multiplies the row counts of the 0.01 shape (60k lineitem
rows at 1.0). Documents carry exact and near duplicates so that the
dedup queries have work to do.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "green"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]
PART_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
EVENT_TYPES = ["signup", "error", "click", "view", "purchase"]
LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(seed: int, scale: float = 1.0) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(1500 * scale), max(10, int(100 * scale)), int(2000 * scale)
    n_orders, n_events, n_docs, n_vecs = (
        int(15000 * scale), int(10000 * scale), int(500 * scale), int(500 * scale)
    )
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part),
                                              rng.choice(PART_NOUN, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)})
    odate = _EPOCH_1995 + rng.integers(0, 2405, n_orders) * _DAY_US
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders, dtype=np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": _money(rng, 1000, 500000, n_orders),
        "o_orderdate": _ts(odate),
        "o_orderpriority": rng.choice(PRIORITIES, n_orders)})
    # Mean four lines, with the tail of large orders TPC-H Q18 selects.
    lines = np.minimum(1 + rng.poisson(3, n_orders), 14)
    okey = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    n_li = len(okey)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_li, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li, dtype=np.int64),
        "l_linenumber": np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts(np.repeat(odate, lines) + rng.integers(1, 122, n_li) * _DAY_US)})
    gaps = rng.exponential(259e6, n_events).astype(np.int64)
    t["events"] = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": _ts(_EPOCH_2024 + np.cumsum(gaps)),
        "user_id": rng.integers(0, 150, n_events, dtype=np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": np.round(rng.exponential(50, n_events), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if texts and r < 0.05:
            texts.append(texts[rng.integers(0, len(texts))])  # exact duplicate
        elif texts and r < 0.12:
            texts.append(texts[rng.integers(0, len(texts))] + " dup")  # near duplicate
        else:
            texts.append(" ".join(rng.choice(WORDS, rng.integers(10, 100))))
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    vecs = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vecs, dtype=np.int32)})
    return t


def write_tables(out_dir: str, tables: dict[str, pa.Table]) -> dict:
    """One parquet file per table; returns the total row count and a
    digest over the table contents."""
    os.makedirs(out_dir, exist_ok=True)
    h = hashlib.sha256()
    for name in sorted(tables):
        pq.write_table(tables[name], os.path.join(out_dir, f"{name}.parquet"))
        h.update(name.encode() + tables[name].to_pandas().to_csv(index=False).encode())
    return {"rows": sum(tb.num_rows for tb in tables.values()), "digest": h.hexdigest()[:16]}
