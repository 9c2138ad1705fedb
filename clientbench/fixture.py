"""Fixture tables for the client benchmark.

The engine's declared queries read ten parquet tables (a TPC-H-like star
schema plus `events`, `documents` and `embeddings`). This module writes a
synthetic copy of them with the same schemas and value distributions at
the 0.01 scale (60,000 lineitem rows), one row group per file. The corpus
is fixed (generator seed `CORPUS_SEED`): the workload seed chooses what the
clients send, not the data they send it to.
"""
import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SEED = 42
# bump when the generator changes, so cached copies are rebuilt
VERSION = 1

ROWS = {"lineitem": 60000, "orders": 15000, "customer": 1500,
        "supplier": 100, "part": 2000, "events": 10000, "documents": 500,
        "embeddings": 500}
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line data table agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = ["en", "es", "de", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _days(rng, start, span, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables():
    """Return {name: pyarrow.Table} for the whole corpus."""
    rng = np.random.default_rng(CORPUS_SEED)
    n = ROWS
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    c = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, c)]})
    s = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, s)})
    p = n["part"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(p), pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, p), rng.integers(0, 8, p))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, p)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, p)],
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(p) % 1000) / 10, 2)})
    o = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, o)],
        "o_totalprice": _money(rng, 1000, 500000, o),
        "o_orderdate": _days(rng, "1995-01-01", 2404, o),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, o)]})
    li = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, p, li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, li),
        "l_discount": np.round(rng.uniform(0, 0.1, li), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, li), 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, li)],
        "l_shipdate": _days(rng, "1995-01-02", 2498, li)})
    e = n["events"]
    gaps = rng.exponential(259.0, e)
    ts = (np.datetime64("2024-01-01T00:00:00", "us")
          + np.round(np.cumsum(gaps) * 1e6).astype("timedelta64[us]"))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, e), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, e)],
        "value": np.maximum(np.round(rng.exponential(50.0, e), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})
    d = n["documents"]
    texts = [" ".join(WORDS[w] for w in rng.integers(0, len(WORDS), k))
             for k in rng.integers(10, 100, d)]
    # planted near-duplicates: 5% of documents are another one plus " dup"
    for i in rng.choice(d, d // 20, replace=False):
        j = int(rng.integers(0, d))
        if j != i and not texts[j].endswith(" dup"):
            texts[i] = texts[j] + " dup"
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(d), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, d, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    m = n["embeddings"]
    vecs = rng.normal(0.0, 0.125, (m, 64)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(m), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, m), pa.int32())})
    return t


def write(directory):
    """Write every table as `<directory>/<name>.parquet` (one row group)."""
    os.makedirs(directory, exist_ok=True)
    for name, table in tables().items():
        pq.write_table(table, os.path.join(directory, f"{name}.parquet"),
                       row_group_size=max(1, table.num_rows))
