#!/usr/bin/env python3
"""Generate the benchmark corpus: the ten tables graft's queries read.

Usage: python3 perfbench/gencorpus.py <out_dir> [--sf 0.1] [--seed 42]

The tables mirror the schema, row counts and value distributions of the
synthetic test corpus the engine is verified against (a TPC-H-like star
schema plus `events`, `documents` and `embeddings`), so the benchmark
needs no data from outside its own checkout. Output is deterministic for
a given (sf, seed): one single-row-group parquet file per table, the
layout the engine's source-parallelism guard expects.
"""
import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
PART_ADJ = ["large", "hot", "blue", "red", "new", "small", "green", "old"]
PART_NOUN = ["ring", "bolt", "anvil", "rod", "plate", "nut", "gear", "pipe"]
PART_TYPES = ["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"]
USERS = 1500
DAY_US = 86_400_000_000


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                   row_group_size=1 << 24)


def days_since_epoch(y, m, d):
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "D").astype(np.int64))


def documents(rng, n):
    nwords = rng.integers(10, 100, n)
    texts = [" ".join(rng.choice(VOCAB, k)) for k in nwords]
    # 5% near-duplicates, as in the test corpus: a copy of another
    # document with the marker word "dup" appended, so the dedup family
    # has clusters to find (two copies of one source are exact duplicates)
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def embeddings(rng, n, dim=64):
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    }


def events(rng, n):
    t0 = days_since_epoch(2024, 1, 1) * DAY_US
    ts = np.sort(rng.integers(0, 30 * DAY_US, n)) + t0
    return {
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, USERS, n).astype(np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n), pa.string()),
        "value": pa.array(np.minimum(np.round(rng.exponential(50.0, n), 2), 999.99)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()),
    }


def tpch(rng, sf):
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    out = {}
    out["region"] = {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    }
    out["nation"] = {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    }
    out["customer"] = {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust), pa.string()),
    }
    out["supplier"] = {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)),
    }
    price = np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)
    out["part"] = {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part),
                                                      rng.choice(PART_NOUN, n_part))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part), pa.string()),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(price),
    }
    d0, d1 = days_since_epoch(1995, 1, 1), days_since_epoch(2001, 8, 1)
    odate = rng.integers(d0, d1 + 1, n_ord)
    out["orders"] = {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], n_ord), pa.string()),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n_ord), 2)),
        "o_orderdate": pa.array((odate * DAY_US).astype("datetime64[us]"), pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord), pa.string()),
    }
    # lineitem columns are drawn independently, as in the test corpus:
    # order keys uniform over the orders (so ~2% of orders have no line),
    # prices and ship dates uncorrelated with the part and the order
    n_li = int(6_000_000 * sf)
    s0 = d0 + 1
    out["lineitem"] = {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105000.0, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(rng.choice(["N", "R", "A"], n_li), pa.string()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_li), pa.string()),
        "l_shipdate": pa.array((rng.integers(s0, s0 + 2499, n_li) * DAY_US)
                               .astype("datetime64[us]"), pa.timestamp("us")),
    }
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("out")
    ap.add_argument("--sf", type=float, default=0.1)
    ap.add_argument("--seed", type=int, default=42)
    a = ap.parse_args()
    os.makedirs(a.out, exist_ok=True)
    rng = np.random.default_rng(a.seed)
    write(a.out, "documents", documents(rng, int(50_000 * a.sf)))
    write(a.out, "embeddings", embeddings(rng, int(20_000 * a.sf)))
    write(a.out, "events", events(rng, int(1_000_000 * a.sf)))
    for name, cols in tpch(rng, a.sf).items():
        write(a.out, name, cols)


if __name__ == "__main__":
    main()
