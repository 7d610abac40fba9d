#!/usr/bin/env python3
"""Generate the benchmark's base tables: a TPC-H-shaped star plus the
documents / events / embeddings tables the operator entries read, in the
same schemas and value domains as the repo's graded test data.

The base tables are fixed (generator seed 42): the benchmark's --seed only
permutes, splits and orders them, so the correctness gate's result hashes
do not depend on it.

Usage: python3 perfbench/gen_data.py <outDir> <sf>
"""
import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_SEED = 42
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
ADJ = "large hot blue small red green cold dark".split()
NOUN = "ring bolt gear nut pipe wire plate spring".split()


def days(lo, hi, n, rng):
    """n midnight timestamps (us) uniform in [lo, hi]."""
    base = np.datetime64(lo, "D")
    span = (np.datetime64(hi, "D") - base).astype(int) + 1
    return (base + rng.integers(0, span, n)).astype("datetime64[us]")


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def star(rng, sf):
    n_cust, n_supp = int(150_000 * sf), max(int(10_000 * sf), 10)
    n_part, n_ord, n_li = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(
            ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"], n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(900 + (pk % 1000) / 10, 2)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["P", "O", "F"], n_ord),
        "o_totalprice": money(rng, 1000, 500_000, n_ord),
        "o_orderdate": days("1995-01-01", "2001-08-01", n_ord, rng),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(rng, 900, 105_000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["N", "R", "A"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": days("1995-01-02", "2001-11-04", n_li, rng)})
    return t


def documents(rng, n_docs):
    """Word-salad documents over a 30-word vocabulary; 5% are near-duplicates
    of an earlier document (one word changed, ' dup' appended) and a few
    are exact copies, so the dedup and containment operators find pairs."""
    texts = [" ".join(rng.choice(VOCAB, rng.integers(10, 101)))
             for _ in range(n_docs)]
    n_near = n_docs // 20
    for i in rng.choice(np.arange(n_docs // 2, n_docs), n_near, replace=False):
        words = texts[int(rng.integers(0, n_docs // 2))].split(" ")
        words[int(rng.integers(0, len(words)))] = str(rng.choice(VOCAB))
        texts[i] = " ".join(words) + " dup"
    for i in rng.choice(np.arange(n_docs // 2, n_docs), max(n_docs // 600, 1), replace=False):
        texts[i] = texts[int(rng.integers(0, n_docs // 2))]
    return pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})


def events(rng, n):
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86_400 * 1_000_000
    ts = start + np.sort(rng.integers(0, span_us, n)).astype("timedelta64[us]")
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, max(n // 66, 15), n).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


def embeddings(rng, n, dim=64, labels=10):
    centers = rng.normal(0, 1, (labels, dim))
    label = rng.integers(0, labels, n)
    v = 0.35 * centers[label] + rng.normal(0, 1, (n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v.astype(np.float32)), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32))})


def main():
    out, sf = sys.argv[1], float(sys.argv[2])
    rng = np.random.default_rng(GEN_SEED)
    tables = star(rng, sf)
    tables["documents"] = documents(rng, 5000 if sf >= 0.1 else 500)
    tables["events"] = events(rng, int(1_000_000 * sf))
    tables["embeddings"] = embeddings(rng, 2000 if sf >= 0.1 else 500)
    tmp = out + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, f"{tmp}/{name}.parquet")
    os.replace(tmp, out)


if __name__ == "__main__":
    main()
