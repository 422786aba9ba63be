#!/usr/bin/env python3
"""Seeded generator for the benchmark's input tables.

Writes the ten tables graft's `Tables` loads (one parquet file each) with
the schemas, value domains and row counts of the synthetic TPC-H-ish star
schema graft is developed against (region, nation, customer, supplier,
part, orders, lineitem, events, documents, embeddings). Every value comes
from one numpy Generator seeded by `--seed`, so the same seed always gives
byte-identical inputs.

    python3 perfbench/gen_data.py --seed 7 --sf 0.1 --out DIR
"""
import argparse
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["red", "new", "hot", "small", "cold", "large", "old", "big"]
P_NOUN = ["bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "nut"]
STATUS = ["F", "O", "P"]
PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()


def _write(out, name, df, schema):
    pq.write_table(pa.Table.from_pandas(df, schema=schema, preserve_index=False),
                   os.path.join(out, f"{name}.parquet"))


def _days(rng, n, start, span_days):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]").astype("timedelta64[us]")


def generate(seed, sf, out):
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = int(150000 * sf), max(10, int(10000 * sf)), int(200000 * sf)
    n_ord, n_line, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_doc, n_emb = max(500, int(50000 * sf)), max(500, int(20000 * sf))
    n_users = max(15, n_ev * 3 // 200)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    _write(out, "region",
           pd.DataFrame({"r_regionkey": np.arange(5, dtype=np.int32),
                         "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
           pa.schema([("r_regionkey", i32), ("r_name", s)]))
    _write(out, "nation",
           pd.DataFrame({"n_nationkey": np.arange(25, dtype=np.int32),
                         "n_name": [f"NATION_{i}" for i in range(25)],
                         "n_regionkey": (np.arange(25) % 5).astype(np.int32)}),
           pa.schema([("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)]))
    _write(out, "customer",
           pd.DataFrame({"c_custkey": np.arange(n_cust, dtype=np.int64),
                         "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                         "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                         "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
                         "c_mktsegment": rng.choice(SEGMENTS, n_cust)}),
           pa.schema([("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
                      ("c_acctbal", f64), ("c_mktsegment", s)]))
    _write(out, "supplier",
           pd.DataFrame({"s_suppkey": np.arange(n_supp, dtype=np.int64),
                         "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                         "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
                         "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)}),
           pa.schema([("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32), ("s_acctbal", f64)]))
    names = np.array([f"{a} {b}" for a in P_ADJ for b in P_NOUN])
    _write(out, "part",
           pd.DataFrame({"p_partkey": np.arange(n_part, dtype=np.int64),
                         "p_name": rng.choice(names, n_part),
                         "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                         "p_type": rng.choice(P_TYPES, n_part),
                         "p_size": rng.integers(1, 51, n_part).astype(np.int32),
                         "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)}),
           pa.schema([("p_partkey", i64), ("p_name", s), ("p_brand", s), ("p_type", s),
                      ("p_size", i32), ("p_retailprice", f64)]))
    _write(out, "orders",
           pd.DataFrame({"o_orderkey": np.arange(n_ord, dtype=np.int64),
                         "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
                         "o_orderstatus": rng.choice(STATUS, n_ord),
                         "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
                         "o_orderdate": _days(rng, n_ord, "1995-01-01", 2404),
                         "o_orderpriority": rng.choice(PRIORITY, n_ord)}),
           pa.schema([("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s),
                      ("o_totalprice", f64), ("o_orderdate", ts), ("o_orderpriority", s)]))
    _write(out, "lineitem",
           pd.DataFrame({"l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
                         "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
                         "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
                         "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
                         "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                         "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_line), 2),
                         "l_discount": rng.integers(0, 11, n_line) / 100.0,
                         "l_tax": rng.integers(0, 9, n_line) / 100.0,
                         "l_returnflag": rng.choice(["A", "N", "R"], n_line),
                         "l_linestatus": rng.choice(["F", "O"], n_line),
                         "l_shipdate": _days(rng, n_line, "1995-01-02", 2498)}),
           pa.schema([("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
                      ("l_linenumber", i32), ("l_quantity", f64), ("l_extendedprice", f64),
                      ("l_discount", f64), ("l_tax", f64), ("l_returnflag", s),
                      ("l_linestatus", s), ("l_shipdate", ts)]))
    # a 30-day log, strictly increasing timestamps (µs), in event_id order
    gaps = rng.integers(1, 2 * (30 * 86400 * 10**6) // n_ev, n_ev)
    _write(out, "events",
           pd.DataFrame({"event_id": np.arange(n_ev, dtype=np.int64),
                         "ts": np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]"),
                         "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
                         "event_type": rng.choice(EVENT_TYPES, n_ev),
                         "value": np.round(rng.exponential(50.0, n_ev), 2),
                         "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}),
           pa.schema([("event_id", i64), ("ts", ts), ("user_id", i64), ("event_type", s),
                      ("value", f64), ("props", s)]))
    _documents(rng, n_doc, out)
    _embeddings(rng, n_emb, out)


def _documents(rng, n_doc, out):
    # random text over a 30-word vocabulary; 5% are a copy of an earlier
    # document with " dup" appended (near duplicates), a few are exact copies
    i64, s = pa.int64(), pa.string()
    words = np.array(WORDS)
    texts = [" ".join(rng.choice(words, k)) for k in rng.integers(10, 101, n_doc)]
    for i in rng.choice(np.arange(1, n_doc), n_doc // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    for i in rng.choice(np.arange(1, n_doc), max(1, n_doc // 600), replace=False):
        texts[i] = texts[int(rng.integers(0, i))]
    _write(out, "documents",
           pd.DataFrame({"doc_id": np.arange(n_doc, dtype=np.int64),
                         "text": texts,
                         "lang": rng.choice(LANGS, n_doc, p=LANG_P),
                         "source": [f"src{i % 20}" for i in range(n_doc)],
                         "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}),
           pa.schema([("doc_id", i64), ("text", s), ("lang", s), ("source", s), ("n_chars", i64)]))


def _embeddings(rng, n_emb, out):
    # 10 weak clusters of unit-norm 64-d float vectors
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] * 0.17 + rng.normal(0.0, 1.0, (n_emb, 64)) / 8.0
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings",
           pd.DataFrame({"vec_id": np.arange(n_emb, dtype=np.int64),
                         "embedding": list(vecs),
                         "label": labels.astype(np.int32)}),
           pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
                      ("label", pa.int32())]))


def kernel_sample(out):
    """The fixed input of the kernel timings: sf0.1's document and
    embedding tables from seed 0, whatever the run's seed and workload."""
    rng = np.random.default_rng(0)
    os.makedirs(out, exist_ok=True)
    _documents(rng, 5000, out)
    _embeddings(rng, 2000, out)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--sf", type=float, default=0.1)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    generate(a.seed, a.sf, a.out)


if __name__ == "__main__":
    main()
