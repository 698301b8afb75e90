"""Seeded TPC-H-style corpus for the catalog workload.

Writes the ten parquet tables the catalog entries read (region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings) with the column names and types of the engine's test data
(TESTDATA.md), so every headline entry runs unchanged on it. ``scale=1``
gives the row counts of sf0.01 (60k lineitem rows).

Value shapes follow what the entries filter and aggregate on: money is
2-decimal, quantities are whole, dates span 1995-2001 (q5's 1997 window,
q6's 1998 window and q1's 2001-08-06 cut all select rows), segment
BUILDING and region ASIA exist, part names contain "gear", documents mix
stop words into a small vocabulary and include exact and near duplicates,
and embeddings form ten clusters of unit vectors.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
NOUN = ["widget", "gear", "plate", "ring", "rod", "bolt", "gizmo"]
PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "de", "fr", "es", "zh"]
VOCAB = ["the", "a", "join", "hash", "row", "batch", "scan", "customer",
         "column", "filter", "small", "slow", "merge", "order", "fast",
         "key", "sort", "table", "part", "window", "stream", "spark",
         "query", "data", "line", "value", "vector", "agg", "group", "big",
         "dup"]
ORDER_DAY0 = dt.datetime(1995, 1, 1)
ORDER_DAYS = (dt.datetime(2001, 8, 1) - ORDER_DAY0).days + 1
EVENT_T0 = dt.datetime(2024, 1, 1)

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _money(rng, lo, hi, n):
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1,
                                 size=n) / 100.0, 2)


def _ts(base: dt.datetime, offsets_us: np.ndarray) -> pa.Array:
    start = np.datetime64(base, "us")
    return pa.array(start + offsets_us.astype("timedelta64[us]"),
                    type=pa.timestamp("us"))


def _write(out: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def generate(out: str, seed: int, scale: float = 1.0) -> dict[str, int]:
    """Write the corpus under ``out``; return rows per table."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(10, int(1500 * scale))
    n_supp = max(5, int(100 * scale))
    n_part = max(20, int(2000 * scale))
    n_ord = max(100, int(15000 * scale))
    n_line = 4 * n_ord
    n_ev = max(100, int(10000 * scale))
    n_doc = 500
    n_emb = 500

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    names = [f"{a} {b}" for a in ADJ for b in NOUN]
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.array(names)[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PTYPES)[rng.integers(0, len(PTYPES), n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": _money(rng, 900.0, 999.9, n_part)})

    order_day = rng.integers(0, ORDER_DAYS, n_ord)
    day_us = 86_400 * 1_000_000
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(ORDER_DAY0, order_day * day_us),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})

    l_order = rng.integers(0, n_ord, n_line)
    qty = rng.integers(1, 51, n_line).astype(float)
    _write(out, "lineitem", {
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _money(rng, 900.0, 2100.0, n_line),
                                    2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["R", "A", "N"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(ORDER_DAY0, (order_day[l_order]
                                       + rng.integers(1, 96, n_line))
                          * day_us)})

    ev_us = np.sort(rng.integers(0, 30 * day_us, n_ev))
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(EVENT_T0, ev_us),
        "user_id": pa.array(rng.integers(0, 150, n_ev), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": _money(rng, 0.01, 490.0, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    texts: list[str] = []
    for i in range(n_doc):
        r = rng.random()
        if texts and r < 0.03:          # exact duplicate of an earlier doc
            texts.append(texts[rng.integers(0, len(texts))])
            continue
        if texts and r < 0.06:          # near duplicate: one word changed
            words = texts[rng.integers(0, len(texts))].split(" ")
            words[rng.integers(0, len(words))] = VOCAB[rng.integers(0, 31)]
            texts.append(" ".join(words))
            continue
        k = int(rng.integers(10, 100))
        texts.append(" ".join(np.array(VOCAB)[rng.integers(0, 31, k)]))
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, 5, n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    centers = rng.normal(size=(10, 64))
    label = rng.integers(0, 10, n_emb)
    vecs = centers[label] + 0.6 * rng.normal(size=(n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})
    return {"customer": n_cust, "supplier": n_supp, "part": n_part,
            "orders": n_ord, "lineitem": n_line, "events": n_ev,
            "documents": n_doc, "embeddings": n_emb}
