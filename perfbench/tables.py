"""Deterministic generator for the engine's star schema (TPC-H-like
tables plus `events`, `documents` and `embeddings`).

It writes one single-row-group parquet file per table with the column
names, types and value distributions the operator catalogue is written
against (see FIXTURES.md at the repository root). The same `seed` and
`sf` give byte-identical files.

Usage: python3 perfbench/tables.py <out_dir> [sf] [seed]
"""
import os
import sys
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
DOC_WORDS = ["a", "agg", "batch", "big", "column", "customer", "data",
             "fast", "filter", "group", "hash", "join", "key", "line",
             "merge", "order", "part", "query", "row", "scan", "slow",
             "small", "sort", "spark", "stream", "table", "the", "value",
             "vector", "window"]
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_WEIGHTS = [0.41, 0.15, 0.15, 0.145, 0.145]


def _micros(y, m, d):
    return int((datetime(y, m, d) - datetime(1970, 1, 1)).total_seconds()) * 10**6


def _days(rng, n, start, end):
    """Uniform whole days in [start, end], as microseconds since epoch."""
    span = (end - start) // (86400 * 10**6)
    return start + rng.integers(0, span + 1, n) * 86400 * 10**6


def _ts(values):
    return pa.array(values, type=pa.int64()).cast(pa.timestamp("us"))


def _money(x):
    return np.round(x, 2)


def build(name, sf, seed):
    """One table as a pyarrow Table; each table has its own RNG stream."""
    rng = np.random.default_rng([seed, TABLES.index(name)])
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_line = int(1500000 * sf), int(6000000 * sf)
    n_ev, n_doc, n_emb = int(1000000 * sf), int(50000 * sf), int(20000 * sf)
    if name == "region":
        return pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                         "r_name": REGIONS})
    if name == "nation":
        k = np.arange(25, dtype=np.int32)
        return pa.table({"n_nationkey": k,
                         "n_name": [f"NATION_{i}" for i in k],
                         "n_regionkey": k % 5})
    if name == "customer":
        k = np.arange(n_cust, dtype=np.int64)
        return pa.table({
            "c_custkey": k,
            "c_name": [f"Customer#{i:09d}" for i in k],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng.uniform(-999.99, 9999.99, n_cust)),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    if name == "supplier":
        k = np.arange(n_supp, dtype=np.int64)
        return pa.table({
            "s_suppkey": k,
            "s_name": [f"Supplier#{i:09d}" for i in k],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng.uniform(-999.99, 9999.99, n_supp))})
    if name == "part":
        k = np.arange(n_part, dtype=np.int64)
        adj = np.array(PART_ADJ)[rng.integers(0, 8, n_part)]
        noun = np.array(PART_NOUN)[rng.integers(0, 8, n_part)]
        return pa.table({
            "p_partkey": k,
            "p_name": np.char.add(np.char.add(adj, " "), noun),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (k % 1000) * 0.1, 1)})
    if name == "orders":
        return pa.table({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng.uniform(1000, 500000, n_ord)),
            "o_orderdate": _ts(_days(rng, n_ord, _micros(1995, 1, 1), _micros(2001, 8, 1))),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    if name == "lineitem":
        return pa.table({
            "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng.uniform(900, 105000, n_line)),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["R", "A", "N"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_line)],
            "l_shipdate": _ts(_days(rng, n_line, _micros(1995, 1, 2), _micros(2001, 11, 4)))})
    if name == "events":
        gaps = np.round(rng.exponential(26.0, n_ev) * 10**6).astype(np.int64)
        return pa.table({
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": _ts(_micros(2024, 1, 1) + np.cumsum(gaps)),
            "user_id": rng.integers(0, 1500, n_ev).astype(np.int64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
            "value": _money(rng.exponential(50.0, n_ev)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    if name == "documents":
        texts = []
        for i in range(n_doc):
            if i > 20 and rng.random() < 0.05:
                # near-duplicate: an earlier document plus a marker token
                texts.append(texts[int(rng.integers(0, i))] + " dup")
            elif i > 20 and rng.random() < 0.002:
                texts.append(texts[int(rng.integers(0, i))])
            else:
                w = np.array(DOC_WORDS)[rng.integers(0, 30, int(rng.integers(10, 101)))]
                texts.append(" ".join(w))
        return pa.table({
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_WEIGHTS)],
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    if name == "embeddings":
        v = rng.standard_normal((n_emb, 64))
        v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
        return pa.table({
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n_emb).astype(np.int32)})
    raise ValueError(f"unknown table {name}")


def generate(out_dir, sf=0.1, seed=42):
    os.makedirs(out_dir, exist_ok=True)
    for name in TABLES:
        table = build(name, sf, seed)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, table.num_rows), compression="snappy")


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]) if len(sys.argv) > 2 else 0.1,
             int(sys.argv[3]) if len(sys.argv) > 3 else 42)
