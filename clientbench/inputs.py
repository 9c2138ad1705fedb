"""Seeded client inputs and the answers they must get.

Expected values are computed here from the parquet files (pyarrow, numpy
and DuckDB), never by the engine under test. Cell kinds and row hashes are
the ones `src/graftbench/Check.scala` computes on the client side:

  I integer, D double (IEEE bits), T timestamp (UTC epoch microseconds),
  S string, A float array (IEEE bits of each element), N NULL.

A row hash is the first 8 bytes (little-endian) of the MD5 of the row's
canonical cells joined by 0x1F; a table checksum is the sum of its row
hashes modulo 2**64.
"""
import hashlib
import json
import os
import struct
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DUMP_TABLES = ["lineitem", "embeddings", "orders", "events", "documents"]


def d_bits(x):
    return "D%016x" % struct.unpack("<Q", struct.pack("<d", float(x)))[0]


def kind_of(t):
    if pa.types.is_integer(t):
        return "I"
    if pa.types.is_floating(t):
        return "D"
    if pa.types.is_timestamp(t):
        return "T"
    if pa.types.is_list(t):
        return "A"
    return "S"


def column_cells(col, kind):
    """Canonical cells of one pyarrow column."""
    col = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
    valid = col.is_valid().to_numpy(zero_copy_only=False)
    if kind == "I":
        out = ["I%d" % v for v in col.fill_null(0).to_numpy()]
    elif kind == "D":
        bits = col.fill_null(0).to_numpy().astype(np.float64).view(np.uint64)
        out = ["D%016x" % b for b in bits]
    elif kind == "T":
        us = col.cast(pa.timestamp("us")).cast(pa.int64()).fill_null(0).to_numpy()
        out = ["T%d" % v for v in us]
    elif kind == "A":
        out = []
        for v in col.to_pylist():
            bits = np.asarray(v if v is not None else [], dtype=np.float32).view(np.uint32)
            out.append("A" + ",".join("%08x" % b for b in bits))
    else:
        out = ["S" + (v if v is not None else "") for v in col.to_pylist()]
    return [c if ok else "N" for c, ok in zip(out, valid)]


def row_hash(row):
    return int.from_bytes(hashlib.md5(row.encode("utf-8")).digest()[:8], "little")


def dump_expectations(fixture_dir):
    """Lines `table, kinds, rows, checksum` for every dumped table."""
    lines = []
    for name in DUMP_TABLES:
        t = pq.read_table(os.path.join(fixture_dir, f"{name}.parquet"))
        kinds = "".join(kind_of(f.type) for f in t.schema)
        cols = [column_cells(t.column(i), k) for i, k in enumerate(kinds)]
        total = sum(row_hash("\x1f".join(r)) for r in zip(*cols)) % (1 << 64)
        lines.append(f"{name}\t{kinds}\t{t.num_rows}\t{total:x}")
    return lines


# ---- short_stmt --------------------------------------------------------------

# statements of each kind in every block of 21; the seed shuffles each block,
# so every stretch of the stream has the same mix. No published trace gives
# the mix of a gateway's short statements, so each kind has the same weight.
MIX = [("point_orders", 3), ("point_customer", 3), ("range_agg", 3),
       ("join_group", 3), ("set_var", 3), ("version", 3), ("prepared", 3)]
RANGE = 20  # order keys per range aggregate


def short_statements(fixture_dir, seed, n=4200):
    """`n` seeded statements as `kind, sql, parameter, expected` lines; with
    2 or 4 clients each plays its own equal share, a whole number of blocks."""
    rd = lambda name: pq.read_table(os.path.join(fixture_dir, f"{name}.parquet"))
    orders, customer, lineitem = rd("orders"), rd("customer"), rd("lineitem")
    ocells = [column_cells(orders.column(c), k) for c, k in
              [("o_orderkey", "I"), ("o_custkey", "I"), ("o_orderstatus", "S"),
               ("o_totalprice", "D"), ("o_orderdate", "T")]]
    ccells = [column_cells(customer.column(c), k) for c, k in
              [("c_name", "S"), ("c_nationkey", "I"), ("c_acctbal", "D"),
               ("c_mktsegment", "S")]]
    lkey = lineitem.column("l_orderkey").to_numpy()
    order = np.argsort(lkey, kind="stable")
    lkey = lkey[order]
    lqty = lineitem.column("l_quantity").to_numpy()[order]
    lship = lineitem.column("l_shipdate").cast(pa.int64()).to_numpy()[order]
    ocust = orders.column("o_custkey").to_numpy()
    oprio = np.array(orders.column("o_orderpriority").to_pylist())
    cnation = customer.column("c_nationkey").to_numpy()
    nation_of_order = cnation[ocust]  # c_custkey is the row index
    n_orders, n_cust = orders.num_rows, customer.num_rows

    rng = np.random.default_rng(seed)
    block = [kind for kind, count in MIX for _ in range(count)]
    lines = []
    for i in range(n):
        if i % len(block) == 0:
            rng.shuffle(block)
        kind = block[i % len(block)]
        param, expect = "", ""
        if kind == "point_orders":
            key = int(rng.integers(0, n_orders))
            sql = ("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
                   f"o_orderdate FROM orders WHERE o_orderkey = {key}")
            expect = "\x1f".join(c[key] for c in ocells)
        elif kind == "point_customer":
            key = int(rng.integers(0, n_cust))
            sql = ("SELECT c_name, c_nationkey, c_acctbal, c_mktsegment "
                   f"FROM customer WHERE c_custkey = {key}")
            expect = "\x1f".join(c[key] for c in ccells)
        elif kind == "range_agg":
            a = int(rng.integers(0, n_orders - RANGE))
            lo = np.searchsorted(lkey, a, side="left")
            hi = np.searchsorted(lkey, a + RANGE - 1, side="right")
            sql = ("SELECT COUNT(*), SUM(l_quantity), MAX(l_shipdate) FROM lineitem "
                   f"WHERE l_orderkey BETWEEN {a} AND {a + RANGE - 1}")
            if hi > lo:
                expect = "\x1f".join([f"I{hi - lo}", d_bits(lqty[lo:hi].sum()),
                                      f"T{int(lship[lo:hi].max())}"])
            else:
                expect = "I0\x1fN\x1fN"
        elif kind == "join_group":
            nation = int(rng.integers(0, 25))
            sql = ("SELECT o_orderpriority, COUNT(*) FROM orders JOIN customer "
                   f"ON o_custkey = c_custkey WHERE c_nationkey = {nation} "
                   "GROUP BY o_orderpriority ORDER BY o_orderpriority")
            prios, counts = np.unique(oprio[nation_of_order == nation], return_counts=True)
            expect = "\x1e".join(f"S{p}\x1fI{c}" for p, c in zip(prios, counts))
        elif kind == "set_var":
            sql = f"SET @bench_k = {int(rng.integers(0, 1000))}"
            expect = "OK"
        elif kind == "version":
            sql = "SELECT @@version"
        else:
            key = int(rng.integers(0, n_cust))
            sql = "SELECT c_name, c_acctbal FROM customer WHERE c_custkey = ?"
            param = str(key)
            expect = "\x1f".join([ccells[0][key], ccells[2][key]])
        lines.append("\t".join([kind, sql, param, expect]))
    return lines


# ---- analytic_cold oracle ------------------------------------------------------
# Results are compared by the rules of tools/check.py, imported from it.

TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")


def rules():
    """The module tools/check.py, whose comparison rules the check applies."""
    if TOOLS not in sys.path:
        sys.path.insert(0, TOOLS)
    import check
    return check


def frame_digest(df):
    """(sorted column names, row count, digest of the canonical rows)."""
    cols, rows = rules().frame_rows(df)
    h = hashlib.sha256()
    for row in rows:
        h.update(("\x1f".join(row) + "\x1e").encode("utf-8"))
    return cols, len(rows), h.hexdigest()


def check_oracles(results_dir, fixture_dir, cache_path, fixture_version):
    """Compare each saved result with its DuckDB oracle; return (checked,
    failure messages). Oracle digests are cached per (SQL, fixture,
    tools/check.py)."""
    import glob
    import duckdb
    import pandas as pd
    oracles = json.load(open(os.path.join(results_dir, "oracle.json")))
    with open(os.path.join(TOOLS, "check.py"), "rb") as f:
        rules_hash = hashlib.sha256(f.read()).hexdigest()  # a changed comparator re-runs the oracles
    cache = json.load(open(cache_path)) if os.path.exists(cache_path) else {}
    con = None
    failures = []
    for name, sql in sorted(oracles.items()):
        key = hashlib.sha256(f"{fixture_version}\n{rules_hash}\n{sql}".encode()).hexdigest()
        if key not in cache:
            if con is None:
                con = duckdb.connect()
                con.execute("SET threads TO 1")
                for t in rules().TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                f"'{os.path.join(fixture_dir, t)}.parquet'")
            try:
                cache[key] = list(frame_digest(con.execute(sql).df()))
            except Exception as e:  # an oracle that cannot run is a failed check
                failures.append(f"{name}: oracle error: {e}")
                continue
        want = cache[key]
        files = sorted(glob.glob(os.path.join(results_dir, name, "*.parquet")))
        try:
            got = list(frame_digest(pd.concat([pd.read_parquet(f) for f in files])))
        except Exception as e:
            failures.append(f"{name}: result unreadable: {e}")
            continue
        if got != want:
            failures.append(f"{name}: columns/rows/digest {got[0]} {got[1]} "
                            f"!= oracle {want[0]} {want[1]}")
    tmp = cache_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(cache, f)
    os.replace(tmp, cache_path)
    return len(oracles), failures
