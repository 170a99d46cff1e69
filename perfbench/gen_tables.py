"""Seeded generator for the query workloads' input tables.

Writes the ten parquet tables `graft.Tables` reads (TPC-H-ish star schema,
`events`, `documents`, `embeddings`) with the column names, parquet types
and value domains of the project's reference testdata, scaled by `sf`
(sf=0.1 gives the reference row counts). The same (seed, sf) gives
byte-identical files.

Usage: python3 perfbench/gen_tables.py <out_dir> <seed> <sf>
"""
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "large", "red", "blue", "green", "shiny", "old", "new"]
PART_NOUN = ["widget", "anvil", "ring", "gear", "bolt", "valve", "spring",
             "lever"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
EMBED_DIM = 64
ORDER_EPOCH = np.datetime64("1995-01-01", "us")
EVENT_EPOCH = np.datetime64("2024-01-01", "us")
DAY_US = 86_400_000_000


def counts(sf):
    """Row count per table at scale `sf`."""
    return {
        "customer": int(150_000 * sf), "supplier": int(10_000 * sf),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
        "users": int(15_000 * sf), "documents": int(50_000 * sf),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _names(prefix, n):
    return pa.array([f"{prefix}#{k:09d}" for k in range(n)])


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n):
    lengths = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lengths.sum()))
    texts, at = [], 0
    for ln in lengths:
        texts.append(" ".join(VOCAB[w] for w in words[at:at + ln]))
        at += ln
    # 5% near-duplicates: an earlier document with " dup" appended (chains
    # of these also yield a few exact twins, as in the reference corpus)
    for j in np.flatnonzero(rng.random(n) < 0.05):
        if j > 0:
            texts[j] = texts[int(rng.integers(0, j))] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{k % 20}" for k in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def tables(seed, sf):
    """Return {name: pyarrow.Table} for one seeded dataset."""
    rng = np.random.default_rng(seed)
    c = counts(sf)
    i32 = lambda v: pa.array(v, pa.int32())
    out = {
        "region": pa.table({"r_regionkey": i32(range(5)),
                            "r_name": pa.array(REGIONS)}),
        "nation": pa.table({"n_nationkey": i32(range(25)),
                            "n_name": pa.array([f"NATION_{k}" for k in range(25)]),
                            "n_regionkey": i32([k % 5 for k in range(25)])}),
    }
    n = c["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(n, dtype=np.int64), "c_name": _names("Customer", n),
        "c_nationkey": i32(rng.integers(0, 25, n)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n))})
    n = c["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n, dtype=np.int64), "s_name": _names("Supplier", n),
        "s_nationkey": i32(rng.integers(0, 25, n)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n)})
    n = c["part"]
    keys = np.arange(n, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": keys,
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, n), rng.integers(0, 8, n))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
        "p_type": pa.array(rng.choice(PART_TYPES, n)),
        "p_size": i32(rng.integers(1, 51, n)),
        "p_retailprice": np.round(900 + (keys % 1000) / 10, 1)})
    n = c["orders"]
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, c["customer"], n, dtype=np.int64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n)),
        "o_totalprice": _money(rng, 1000, 500_000, n),
        "o_orderdate": ORDER_EPOCH + rng.integers(0, 2405, n) * DAY_US,
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n))})
    n = c["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, c["orders"], n, dtype=np.int64),
        "l_partkey": rng.integers(0, c["part"], n, dtype=np.int64),
        "l_suppkey": rng.integers(0, c["supplier"], n, dtype=np.int64),
        "l_linenumber": i32(rng.integers(1, 8, n)),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n)),
        "l_shipdate": ORDER_EPOCH + (1 + rng.integers(0, 2499, n)) * DAY_US})
    n = c["events"]
    out["events"] = pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": EVENT_EPOCH + rng.integers(0, 30 * DAY_US, n),
        "user_id": rng.integers(0, c["users"], n, dtype=np.int64),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)])})
    out["documents"] = _documents(rng, c["documents"])
    n = c["embeddings"]
    vecs = rng.standard_normal((n, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.ravel(), pa.float32()), EMBED_DIM).cast(
                pa.list_(pa.float32())),
        "label": i32(rng.integers(0, 10, n))})
    return out


def generate(out_dir, seed, sf):
    """Write every table as `<out_dir>/<name>.parquet`; return row counts."""
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    rows = {}
    for name, table in tables(seed, sf).items():
        pq.write_table(table, out / f"{name}.parquet")
        rows[name] = table.num_rows
    return rows


if __name__ == "__main__":
    print(generate(sys.argv[1], int(sys.argv[2]), float(sys.argv[3])))
