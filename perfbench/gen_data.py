"""Synthetic input tables for the benchmark.

Writes the TPC-H-like star schema plus the `documents`, `embeddings` and
`events` tables that graft's graded queries read, as one parquet file per
table, in the layout `SparkEntry.queries` expects (`<dir>/<table>.parquet`).
The distributions follow the reference test data: a 30-word vocabulary,
10-100 words per document, 5% near-duplicates (another document's text plus
" dup"), unit-norm Gaussian 64-d embeddings with a 0-9 label, and uniform
TPC-H-style keys, prices and dates.

The tables depend only on the scale factor and the corpus seed, so every
workload seed runs against the same corpus; the workload seed picks the
questions, ids and write schedule on top of it.

    python3 perfbench/gen_data.py OUT_DIR [--sf 0.1] [--seed 42]
"""
import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
ADJ = "blue cold hot large new old red small".split()
NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

# rows per table at scale factor 1
SIZES = {"lineitem": 6_000_000, "orders": 1_500_000, "customer": 150_000,
         "part": 200_000, "supplier": 10_000, "events": 1_000_000,
         "documents": 50_000}


def sized(sf, table, floor=1):
    return max(floor, int(round(SIZES[table] * sf)))


def documents(rng, n):
    texts = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))
            texts.append(" ".join(VOCAB[w] for w in words))
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": [LANGS[k] for k in rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(rng, n, dim=64):
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32),
    })


def days(rng, n, start, span_days):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def tpch(rng, sf):
    n_part, n_supp = sized(sf, "part"), sized(sf, "supplier", 10)
    n_cust, n_ord = sized(sf, "customer"), sized(sf, "orders")
    n_line = sized(sf, "lineitem")
    pk = np.arange(n_part, dtype=np.int64)
    out = {
        "region": pa.table({"r_regionkey": np.arange(5, dtype=np.int32),
                            "r_name": REGIONS}),
        "nation": pa.table({"n_nationkey": np.arange(25, dtype=np.int32),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": (np.arange(25) % 5).astype(np.int32)}),
        "part": pa.table({
            "p_partkey": pk,
            "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                       zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": [P_TYPES[t] for t in rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": 900.0 + (pk % 1000) / 10.0}),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)}),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": [SEGMENTS[s] for s in rng.integers(0, 5, n_cust)]}),
        "orders": pa.table({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": [("F", "O", "P")[s] for s in rng.integers(0, 3, n_ord)],
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
            "o_orderdate": days(rng, n_ord, "1995-01-01", 2405),
            "o_orderpriority": [PRIORITIES[p] for p in rng.integers(0, 5, n_ord)]}),
    }
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[f] for f in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[s] for s in rng.integers(0, 2, n_line)],
        "l_shipdate": days(rng, n_line, "1995-01-02", 2499)})
    return out


def events(rng, n):
    gaps = rng.exponential(26.0, n)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + \
        np.cumsum(gaps * 1e6).astype("timedelta64[us]")
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, max(10, n // 66), n).astype(np.int64),
        "event_type": [EVENT_TYPES[e] for e in rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


def generate(out_dir, sf, seed):
    rng = np.random.default_rng(seed)
    tables = tpch(rng, sf)
    tables["events"] = events(rng, sized(sf, "events"))
    n_docs = sized(sf, "documents", 500)
    tables["documents"] = documents(rng, n_docs)
    tables["embeddings"] = embeddings(rng, min(n_docs, 2000))
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir")
    ap.add_argument("--sf", type=float, default=0.1)
    ap.add_argument("--seed", type=int, default=42)
    a = ap.parse_args()
    generate(a.out_dir, a.sf, a.seed)
