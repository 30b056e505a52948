"""Seed-pure star-schema tables for the headline query workload.

Writes the ten tables the catalog reads (``region nation customer
supplier part orders lineitem events documents embeddings``), one parquet
file each, with the column names and physical types of the engine's test
corpus. Sizes follow the scale factor (sf 0.1: 600k line items). Values come from
one ``numpy`` generator per table seeded with ``[seed, table index]``, and
files are written by pyarrow, so no Spark job runs and the same seed gives
byte-identical files.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
         "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
         "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
         "value", "vector", "window"]
ORDER_EPOCH = dt.datetime(1995, 1, 1)
ORDER_DAYS = 2405
EVENT_EPOCH = dt.datetime(2024, 1, 1)
EMBED_DIM = 64


def _rng(seed: int, table: str) -> np.random.Generator:
    return np.random.default_rng([seed, 100 + TABLES.index(table)])


def _money(r: np.random.Generator, lo: int, hi: int, n: int) -> np.ndarray:
    """2-decimal doubles from integer cents in [lo, hi)."""
    return r.integers(lo, hi, n) / 100.0


def _days(epoch: dt.datetime, days: np.ndarray) -> pa.Array:
    us = (np.datetime64(epoch, "us") + days.astype("timedelta64[D]")).astype("datetime64[us]")
    return pa.array(us, type=pa.timestamp("us"))


def tables(seed: int, sf: float = 0.1) -> dict[str, pa.Table]:
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_line = int(1500000 * sf), int(6000000 * sf)
    n_events, n_docs, n_vecs = int(1000000 * sf), int(50000 * sf), int(20000 * sf)
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()), "r_name": REGIONS})
    r = _rng(seed, "nation")
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(r.integers(0, 5, 25), pa.int32())})

    r = _rng(seed, "customer")
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(r, -99999, 1000000, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in r.integers(0, 5, n_cust).tolist()]})

    r = _rng(seed, "supplier")
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(r, -99999, 1000000, n_supp)})

    r = _rng(seed, "part")
    price_dimes = r.integers(9000, 10000, n_part)
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{ADJECTIVES[a]} {NOUNS[b]}" for a, b in
                   zip(r.integers(0, 8, n_part).tolist(), r.integers(0, 8, n_part).tolist())],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part).tolist()],
        "p_type": [TYPES[t] for t in r.integers(0, 6, n_part).tolist()],
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": price_dimes / 10.0})

    r = _rng(seed, "orders")
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[s] for s in r.integers(0, 3, n_ord).tolist()],
        "o_totalprice": _money(r, 100000, 50000000, n_ord),
        "o_orderdate": _days(ORDER_EPOCH, r.integers(0, ORDER_DAYS, n_ord)),
        "o_orderpriority": [PRIORITIES[p] for p in r.integers(0, 5, n_ord).tolist()]})

    r = _rng(seed, "lineitem")
    partkey = r.integers(0, n_part, n_line)
    qty = r.integers(1, 51, n_line)
    # extended price = quantity x the part's retail price, in exact cents
    ext = qty * price_dimes[partkey] * 10 + r.integers(0, 100, n_line)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(partkey, pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty.astype(np.float64),
        "l_extendedprice": ext / 100.0,
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[f] for f in r.integers(0, 3, n_line).tolist()],
        "l_linestatus": [("F", "O")[s] for s in r.integers(0, 2, n_line).tolist()],
        "l_shipdate": _days(ORDER_EPOCH, r.integers(1, ORDER_DAYS + 95, n_line))})

    r = _rng(seed, "events")
    ts_us = np.sort(r.integers(0, 30 * 86400 * 10**6, n_events))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array((np.datetime64(EVENT_EPOCH, "us") + ts_us.astype("timedelta64[us]")),
                       pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, 1500, n_events), pa.int64()),
        "event_type": [EVENT_TYPES[t] for t in r.integers(0, 5, n_events).tolist()],
        "value": np.round(r.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_events).tolist()]})

    r = _rng(seed, "documents")
    lengths = r.integers(10, 101, n_docs)
    words = r.integers(0, len(WORDS), int(lengths.sum()))
    ends = np.cumsum(lengths)
    docs = [[WORDS[w] for w in words[e - n:e].tolist()] for n, e in zip(lengths.tolist(), ends.tolist())]
    # planted near-duplicates (one word replaced by "dup") and a few exact copies
    for d in r.choice(np.arange(1, n_docs), n_docs // 20, replace=False).tolist():
        src = int(r.integers(0, d))
        copy = list(docs[src])
        if d % 30:
            copy[int(r.integers(0, len(copy)))] = "dup"
        docs[d] = copy
    text = [" ".join(d) for d in docs]
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": text,
        "lang": [LANGS[i] for i in r.integers(0, 5, n_docs).tolist()],
        "source": [f"src{s}" for s in r.integers(0, 20, n_docs).tolist()],
        "n_chars": pa.array([len(t) for t in text], pa.int64())})

    r = _rng(seed, "embeddings")
    labels = r.integers(0, 10, n_vecs)
    centers = r.normal(0.0, 1.0, (10, EMBED_DIM))
    vecs = centers[labels] * 0.3 + r.normal(0.0, 1.0, (n_vecs, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return out


def write(seed: int, out_dir: str, sf: float = 0.1) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
