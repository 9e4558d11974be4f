"""Seeded generator of the benchmark's input tables.

Writes the ten tables the engine's query registry reads (TPC-H-like
region/nation/customer/supplier/part/orders/lineitem, plus events,
documents and embeddings) as single-row-group parquet files with the
same schemas, value domains and shapes as the sf0.1 test corpus. `scale`
is relative to sf0.1 (scale=1.0 gives 100,000 events, 600,000 lineitems,
5,000 documents). The same (seed, scale) always gives byte-identical
tables.

The event-path workloads bulk-load `events.parquet` into a fresh event
store and draw their append payloads from its `props`/`value` columns.
"""
import sys
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "red"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
US = 1_000_000


def _ts(rng, n, start, days):
    base = int(pd.Timestamp(start).value // 1000)
    return base + rng.integers(0, days * 86400 * US, n)


def _day_ts(rng, n, start, days):
    base = int(pd.Timestamp(start).value // 1000)
    return base + rng.integers(0, days, n) * 86400 * US


def _write(out, name, cols, types):
    table = pa.table({c: pa.array(v, type=types[c]) for c, v in cols.items()})
    pq.write_table(table, out / f"{name}.parquet", row_group_size=1 << 30)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(out, seed, scale):
    out = Path(out)
    out.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(15000 * scale), max(10, int(1000 * scale))
    n_part, n_ord = int(20000 * scale), int(150000 * scale)
    n_line, n_ev = int(600000 * scale), int(100000 * scale)
    n_docs, n_vec = int(5000 * scale), int(2000 * scale)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    _write(out, "region", {"r_regionkey": np.arange(5), "r_name": REGIONS},
           {"r_regionkey": i32, "r_name": s})
    _write(out, "nation", {"n_nationkey": np.arange(25),
                           "n_name": [f"NATION_{i}" for i in range(25)],
                           "n_regionkey": np.arange(25) % 5},
           {"n_nationkey": i32, "n_name": s, "n_regionkey": i32})
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)},
        {"c_custkey": i64, "c_name": s, "c_nationkey": i32, "c_acctbal": f64,
         "c_mktsegment": s})
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)},
        {"s_suppkey": i64, "s_name": s, "s_nationkey": i32, "s_acctbal": f64})
    retail = np.round(900 + (np.arange(n_part) % 1000) / 10.0, 2)
    _write(out, "part", {
        "p_partkey": np.arange(n_part),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part),
                                              rng.choice(PART_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part),
        "p_retailprice": retail},
        {"p_partkey": i64, "p_name": s, "p_brand": s, "p_type": s,
         "p_size": i32, "p_retailprice": f64})
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _day_ts(rng, n_ord, "1995-01-01", 2404),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)},
        {"o_orderkey": i64, "o_custkey": i64, "o_orderstatus": s,
         "o_totalprice": f64, "o_orderdate": ts, "o_orderpriority": s})
    partkey = rng.integers(0, n_part, n_line)
    qty = rng.integers(1, 51, n_line).astype(float)
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": partkey,
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[partkey], 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _day_ts(rng, n_line, "1995-01-02", 2498)},
        {"l_orderkey": i64, "l_partkey": i64, "l_suppkey": i64,
         "l_linenumber": i32, "l_quantity": f64, "l_extendedprice": f64,
         "l_discount": f64, "l_tax": f64, "l_returnflag": s,
         "l_linestatus": s, "l_shipdate": ts})
    _write(out, "events", {
        "event_id": np.arange(n_ev),
        "ts": np.sort(_ts(rng, n_ev, "2024-01-01", 30)),
        "user_id": rng.integers(0, 1500, n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(np.minimum(rng.gamma(2.0, 40.0, n_ev), 560.0), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]},
        {"event_id": i64, "ts": ts, "user_id": i64, "event_type": s,
         "value": f64, "props": s})

    texts = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document, so dedup finds pairs
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 101)))))
    _write(out, "documents", {
        "doc_id": np.arange(n_docs), "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": [len(t) for t in texts]},
        {"doc_id": i64, "text": s, "lang": s, "source": s, "n_chars": i64})

    labels = rng.integers(0, 10, n_vec)
    centroids = rng.normal(0, 1, (10, 64))
    vecs = centroids[labels] + rng.normal(0, 1.2, (n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": np.arange(n_vec), "embedding": list(vecs), "label": labels},
        {"vec_id": i64, "embedding": pa.list_(pa.float32()), "label": i32})


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]))
