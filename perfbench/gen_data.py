#!/usr/bin/env python3
"""Deterministic generator for the benchmark's base tables.

Writes the ten tables the program's catalog (graft.core.Tables) reads,
with the column names, types and value shapes of the project's TPC-H-ish
test schema (see FIXTURES.md), at the sf0.01 shape: 60k lineitem rows,
15k orders, 10k events, 500 documents, 500 embeddings. The batch
workloads read these tables, or a x10 copy of them made by the
program's own graft.ScaleData.

The tables are fixed (generator seed 42); the benchmark's --seed only
orders queries and drives the stream generators.

Usage: python3 gen_data.py <outDir>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 42
# row counts at the sf0.01 shape
N_CUSTOMER, N_SUPPLIER, N_PART, N_ORDERS = 1500, 100, 2000, 15000
N_EVENTS, N_USERS, N_DOCS, N_EMB, EMB_DIM = 10000, 150, 500, 500, 64

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "red", "hot", "cold", "old", "large", "small"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()

DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def money(rng, lo, hi, n):
    """Two-decimal values, as the test data carries them."""
    return np.round(rng.uniform(lo, hi, n), 2)


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def days(rng, lo_day, hi_day, n):
    d = rng.integers(lo_day, hi_day + 1, n).astype(np.int64)
    return pa.array(EPOCH_1995 + d * DAY_US, pa.timestamp("us"))


def main(out):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(SEED)

    write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    ck = np.arange(N_CUSTOMER, dtype=np.int64)
    write(out, "customer", {
        "c_custkey": ck,
        "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
        "c_acctbal": money(rng, -999.99, 9999.99, N_CUSTOMER),
        "c_mktsegment": rng.choice(SEGMENTS, N_CUSTOMER)})

    sk = np.arange(N_SUPPLIER, dtype=np.int64)
    write(out, "supplier", {
        "s_suppkey": sk,
        "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
        "s_acctbal": money(rng, -999.99, 9999.99, N_SUPPLIER)})

    pk = np.arange(N_PART, dtype=np.int64)
    write(out, "part", {
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(
            rng.choice(PART_ADJ, N_PART), rng.choice(PART_NOUN, N_PART))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, N_PART)],
        "p_type": rng.choice(PART_TYPES, N_PART),
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)})

    ok = np.arange(N_ORDERS, dtype=np.int64)
    write(out, "orders", {
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS),
        "o_orderstatus": rng.choice(["F", "O", "P"], N_ORDERS),
        "o_totalprice": money(rng, 1000.0, 500000.0, N_ORDERS),
        "o_orderdate": days(rng, 0, 2404, N_ORDERS),
        "o_orderpriority": rng.choice(PRIORITIES, N_ORDERS)})

    # 1..7 lines per order, 4 on average
    lines = rng.integers(1, 8, N_ORDERS)
    n_li = int(lines.sum())
    l_order = np.repeat(ok, lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    write(out, "lineitem", {
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, N_PART, n_li),
        "l_suppkey": rng.integers(0, N_SUPPLIER, n_li),
        "l_linenumber": pa.array(np.arange(n_li) - starts + 1, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": days(rng, 1, 2499, n_li)})

    # events: increasing timestamps over 30 days, microsecond precision
    gaps = rng.exponential(30 * DAY_US / N_EVENTS, N_EVENTS)
    ts = EPOCH_2024 + np.cumsum(gaps).astype(np.int64)
    write(out, "events", {
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, N_USERS, N_EVENTS),
        "event_type": rng.choice(EVENT_TYPES, N_EVENTS),
        "value": np.round(rng.exponential(50.0, N_EVENTS), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]})

    # documents: random word sequences; one in twenty is a near-duplicate
    # of an earlier document (a few words replaced, "dup" appended) so the
    # dedup and LSH operators have pairs to find
    texts = []
    for i in range(N_DOCS):
        if i >= 20 and rng.random() < 0.05:
            w = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(w), 2):
                w[j] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(w + ["dup"]))
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 101)))))
    write(out, "documents", {
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, N_DOCS),
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    # embeddings: unit vectors around ten cluster centres (label = cluster)
    centres = rng.normal(0.0, 1.0, (10, EMB_DIM))
    labels = rng.integers(0, 10, N_EMB)
    vecs = centres[labels] + rng.normal(0.0, 1.2, (N_EMB, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    write(out, "embeddings", {
        "vec_id": np.arange(N_EMB, dtype=np.int64),
        "embedding": pa.array([v.astype(np.float32) for v in vecs],
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit("usage: gen_data.py <outDir>")
    main(sys.argv[1])
