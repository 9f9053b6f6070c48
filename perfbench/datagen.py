"""Deterministic base tables for the benchmark.

Writes the TPC-H-shaped star schema the engine's queries are written
against (region, nation, customer, supplier, part, orders, lineitem) plus
the `documents` text table, one parquet file per table with a single row
group, at a given scale factor. The tables are a fixed fixture: the same
scale always yields byte-identical files (fixed generator seed), so they
are built once per checkout and reused; the per-run seed only drives the
workload inputs built on top of them (see inputs.py).

Usage: python3 perfbench/datagen.py <out_dir> <scale_factor>
"""
import datetime
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLORS = ["red", "green", "blue", "black", "white", "yellow", "forest",
          "small", "large", "steel"]
NOUNS = ["widget", "bolt", "ring", "gear", "valve", "panel", "spring", "nut"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
WORDS = ["a", "the", "data", "table", "row", "column", "key", "value", "join",
         "agg", "group", "order", "sort", "filter", "scan", "hash", "merge",
         "batch", "stream", "window", "query", "spark", "line", "part",
         "customer", "vector", "fast", "slow", "big", "small"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
EPOCH = datetime.datetime(1970, 1, 1)
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "documents"]


def _days_to_ts(base, days):
    base_us = int((base - EPOCH).total_seconds()) * 1_000_000
    return pa.array(base_us + days.astype(np.int64) * 86_400_000_000,
                    type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(sf):
    """Return {name: pyarrow.Table} for scale factor `sf`."""
    rng = np.random.default_rng(BASE_SEED)
    n_cust = int(150_000 * sf)
    n_supp = max(int(10_000 * sf), 25)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_docs = int(50_000 * sf)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    ck = np.arange(n_cust, dtype=np.int64)
    out["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    sk = np.arange(n_supp, dtype=np.int64)
    out["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    price = np.round(900.0 + (pk % 1000) / 10.0, 1)
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{c} {n}" for c, n in zip(rng.choice(COLORS, n_part),
                                              rng.choice(NOUNS, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": price})
    ok = np.arange(n_ord, dtype=np.int64)
    out["orders"] = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days_to_ts(datetime.datetime(1995, 1, 1),
                                   rng.integers(0, 2404, n_ord)),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    l_ok = np.repeat(ok, lines)
    starts = np.cumsum(lines) - lines
    l_no = (np.arange(n_li) - np.repeat(starts, lines) + 1).astype(np.int32)
    l_pk = rng.integers(0, n_part, n_li).astype(np.int64)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": l_ok,
        "l_partkey": l_pk,
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": l_no,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[l_pk], 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _days_to_ts(datetime.datetime(1995, 1, 2),
                                  rng.integers(0, 2498, n_li))})
    lens = rng.integers(8, 90, n_docs)
    words = rng.integers(0, len(WORDS), int(lens.sum()))
    texts, pos = [], 0
    for n in lens:
        texts.append(" ".join(WORDS[w] for w in words[pos:pos + n]))
        pos += n
    out["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    return out


def write(out_dir, sf):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(table.num_rows, 1))


if __name__ == "__main__":
    write(sys.argv[1], float(sys.argv[2]))
