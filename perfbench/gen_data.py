#!/usr/bin/env python3
"""Deterministic synthetic input tables for the benchmark.

Writes the ten tables the engine's query functions read (`region` ...
`embeddings`, one single-row-group parquet file each) with the schemas
and value distributions of the project's star-schema test data:
TPC-H-shaped dimension and fact tables, an `events` stream table, a
text corpus over a 30-word vocabulary in which about 5 % of documents
are near-duplicates (an earlier document plus the token "dup"), and
unit-norm 64-d embeddings loosely clustered by label.

The tables are a fixed function of the sizes and the generator seed, so
one expected result per query holds on every machine.

Usage: python3 gen_data.py <out_dir> [--sf 0.02] [--docs 2000] [--vecs 1000]
"""
import argparse
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GENERATOR_SEED = 20240917

VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["small", "red", "hot", "old", "large", "blue", "cold", "new"]
NOUN = ["plate", "widget", "ring", "rod", "bolt", "gizmo", "gear", "anvil"]
PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


def write(out, name, cols):
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out, f"{name}.parquet"),
                   row_group_size=max(1, table.num_rows))


def days_since(rng, n, start, end):
    span = (end - start).days
    d = rng.randint(0, span + 1, n)
    base = np.datetime64(start.isoformat(), "us")
    return base + d.astype("timedelta64[D]").astype("timedelta64[us]")


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(out, sf, n_docs, n_vecs):
    # RandomState's streams are frozen across numpy versions
    rng = np.random.RandomState(GENERATOR_SEED)
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp = int(150000 * sf), int(10000 * sf)
    n_part, n_ord, n_li = int(200000 * sf), int(1500000 * sf), int(6000000 * sf)
    n_ev, n_users = int(1000000 * sf), int(15000 * sf)

    write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.randint(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.randint(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part)
    write(out, "part", {
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.randint(0, 8, n_part), rng.randint(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.randint(1, 26, n_part)],
        "p_type": rng.choice(PTYPES, n_part),
        "p_size": pa.array(rng.randint(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)})
    write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.randint(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["P", "O", "F"], n_ord),
        "o_totalprice": money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(days_since(rng, n_ord, dt.date(1995, 1, 1),
                                           dt.date(2001, 8, 1)), pa.timestamp("us")),
        "o_orderpriority": rng.choice(PRIOS, n_ord)})
    write(out, "lineitem", {
        "l_orderkey": pa.array(rng.randint(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.randint(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.randint(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.randint(1, 8, n_li), pa.int32()),
        "l_quantity": rng.randint(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.randint(0, 11, n_li) / 100.0,
        "l_tax": rng.randint(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": pa.array(days_since(rng, n_li, dt.date(1995, 1, 2),
                                          dt.date(2001, 11, 4)), pa.timestamp("us"))})
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.randint(0, 30 * 86400 * 10**6, n_ev))
    write(out, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(t0 + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.randint(0, n_users, n_ev), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(np.minimum(rng.exponential(60.0, n_ev) + 0.01, 490.0), 2),
        "props": [f'{{"k": {k}}}' for k in rng.randint(0, 100, n_ev)]})

    texts, langs = [], rng.choice(LANGS, n_docs, p=LANG_P)
    for i in range(n_docs):
        if i >= 20 and rng.random_sample() < 0.05:
            texts.append(texts[int(rng.randint(0, i))] + " dup")
        else:
            n = int(rng.randint(10, 100))
            texts.append(" ".join(VOCAB[w] for w in rng.randint(0, len(VOCAB), n)))
    write(out, "documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    labels = rng.randint(0, 10, n_vecs)
    centers = rng.normal(0.0, 1.0, (10, 64))
    centers = 1.2 * centers / np.linalg.norm(centers, axis=1, keepdims=True)
    x = centers[labels] + rng.normal(0.0, 1.0, (n_vecs, 64))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out")
    ap.add_argument("--sf", type=float, default=0.02)
    ap.add_argument("--docs", type=int, default=2000)
    ap.add_argument("--vecs", type=int, default=1000)
    a = ap.parse_args()
    generate(a.out, a.sf, a.docs, a.vecs)


if __name__ == "__main__":
    main()
