"""Seeded generator for the query workload's tables: the TPC-H-like star
schema plus `events`, `documents` and `embeddings`, with the column names,
physical types and value domains of the fixtures `SparkEntry.queries` are
written against (FIXTURES.md §B). Row counts scale with `scale` the way the
fixtures do (lineitem = 6M × scale). The same (scale, seed) gives the same
tables.
"""
import glob
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD")
PART_ADJ = ("small", "red", "blue", "hot", "old", "large", "new")
PART_NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil")
PART_TYPES = ("ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("signup", "error", "click", "view", "purchase")
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
WORDS = ("join", "hash", "row", "batch", "scan", "column", "customer", "filter", "small",
         "slow", "merge", "order", "vector", "line", "table", "data", "agg", "value", "key",
         "stream", "window", "a", "spark", "part", "group", "big", "sort", "query", "fast",
         "the")
DAY_US = 86_400 * 1_000_000
EPOCH_1995_US = 788_918_400 * 1_000_000
EPOCH_2024_US = 1_704_067_200 * 1_000_000


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(scale, seed):
    """Dict of table name -> pyarrow.Table."""
    rng = np.random.default_rng(seed)
    n_cust = max(10, int(150_000 * scale))
    n_supp = max(5, int(10_000 * scale))
    n_part = max(20, int(200_000 * scale))
    n_ord = max(100, int(1_500_000 * scale))
    n_line = max(400, int(6_000_000 * scale))
    n_ev = max(100, int(1_000_000 * scale))
    n_doc = 500 if scale <= 0.01 else int(50_000 * scale)
    n_emb = 500 if scale <= 0.01 else int(20_000 * scale)
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": list(REGIONS)})
    t["nation"] = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 7, n_part), rng.integers(0, 7, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)})
    odate = EPOCH_1995_US + rng.integers(0, 2400, n_ord) * DAY_US
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("P", "O", "F")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(odate),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]})
    lok = rng.integers(0, n_ord, n_line)
    order = np.argsort(lok, kind="stable")
    linenum = np.empty(n_line, dtype=np.int64)
    sorted_ok = lok[order]
    starts = np.r_[0, np.flatnonzero(np.diff(sorted_ok)) + 1]
    run_id = np.repeat(np.arange(len(starts)), np.diff(np.r_[starts, n_line]))
    linenum[order] = np.arange(n_line) - starts[run_id] + 1
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(linenum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2000.0, n_line), 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": [("R", "A", "N")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(odate[lok] + rng.integers(1, 122, n_line) * DAY_US)})
    # events: strictly increasing µs timestamps over 30 days
    gaps = rng.integers(1, 2 * (30 * DAY_US) // n_ev, n_ev)
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(EPOCH_2024_US + np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(0, 150, n_ev), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for _ in range(n_doc):
        n_words = int(rng.integers(8, 90))
        texts.append(" ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n_words)))
    for i in range(0, n_doc, 25):  # near-duplicate documents
        texts[i] = texts[(i + 7) % n_doc] + " dup"
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    emb = rng.normal(0.0, 1.0, (n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})
    return t


def write(out_dir, scale, seed):
    """Write one `<table>.parquet` file per table under `out_dir`."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tb in tables(scale, seed).items():
        pq.write_table(tb, os.path.join(out_dir, f"{name}.parquet"))


def row_count(out_dir):
    return sum(pq.read_metadata(p).num_rows for p in glob.glob(os.path.join(out_dir, "*.parquet")))


def byte_count(out_dir):
    return sum(os.path.getsize(p) for p in glob.glob(os.path.join(out_dir, "*.parquet")))
