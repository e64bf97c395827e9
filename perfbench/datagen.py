#!/usr/bin/env python3
"""Deterministic generator for the ten parquet tables the catalog reads.

The tables follow the star schema plus event, document and embedding tables
described in FIXTURES.md section B: same column names, physical types and
value domains (25 nations over 5 regions, five event types, a 30-word
document vocabulary with about 5% near-duplicate documents, unit-norm 64-d
embeddings with ten labels). Row counts scale with the scale factor SF the
same way: lineitem has about 6M * SF rows. Every value comes from one numpy
PCG64 stream per table seeded from SEED, so every call writes identical
files.

The benchmark's workload seed only shuffles the query order, so every run of
a workload reads the same data.
"""
import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
ADJECTIVES = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
NOUNS = ["widget", "gizmo", "bolt", "plate", "rod", "anvil", "ring", "gear"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
EMB_DIM = 64
# Every workload runs at sf0.1 on one fixed data set; the workload seed never
# reaches this generator.
SF = 0.1
SEED = 42


def _days(start, rng, n, span_days):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days + 1, n).astype("timedelta64[D]")


def _names(prefix, keys):
    return pa.array([f"{prefix}#{k:09d}" for k in keys.tolist()])


def tables(sf, seed):
    """Yield (name, pyarrow.Table) for every table at scale `sf`."""
    n_cust = max(150, int(round(150_000 * sf)))
    n_supp = max(10, int(round(10_000 * sf)))
    n_part = max(200, int(round(200_000 * sf)))
    n_ord = max(1_500, int(round(1_500_000 * sf)))
    n_li = max(6_000, int(round(6_000_000 * sf)))
    n_ev = max(1_000, int(round(1_000_000 * sf)))
    n_users = max(150, int(round(15_000 * sf)))
    n_docs = max(500, int(round(50_000 * sf)))
    n_emb = max(500, int(round(20_000 * sf)))

    def rng(i):
        return np.random.Generator(np.random.PCG64([seed, i]))

    yield "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS)})
    yield "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    r = rng(1)
    keys = np.arange(n_cust, dtype=np.int64)
    yield "customer", pa.table({
        "c_custkey": keys,
        "c_name": _names("Customer", keys),
        "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n_cust)]})

    r = rng(2)
    keys = np.arange(n_supp, dtype=np.int64)
    yield "supplier", pa.table({
        "s_suppkey": keys,
        "s_name": _names("Supplier", keys),
        "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_supp), 2)})

    r = rng(3)
    keys = np.arange(n_part, dtype=np.int64)
    names = [f"{a} {b}" for a, b in zip(
        np.array(ADJECTIVES)[r.integers(0, 8, n_part)],
        np.array(NOUNS)[r.integers(0, 8, n_part)])]
    yield "part", pa.table({
        "p_partkey": keys,
        "p_name": pa.array(names),
        "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, n_part).tolist()]),
        "p_type": np.array(PART_TYPES)[r.integers(0, 6, n_part)],
        "p_size": r.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1)})

    r = rng(4)
    yield "orders", pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
        "o_totalprice": np.round(r.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _days("1995-01-01", r, n_ord, 2404),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n_ord)]})

    r = rng(5)
    yield "lineitem", pa.table({
        "l_orderkey": r.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": r.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": r.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": r.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(r.uniform(900.0, 105000.0, n_li), 2),
        "l_discount": r.integers(0, 11, n_li) / 100.0,
        "l_tax": r.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_li)],
        "l_shipdate": _days("1995-01-02", r, n_li, 2498)})

    r = rng(6)
    span_us = 30 * 86_400 * 1_000_000
    offsets = np.sort(r.integers(0, span_us, n_ev))
    yield "events", pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + offsets.astype("timedelta64[us]"),
        "user_id": r.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n_ev)],
        "value": np.round(r.exponential(50.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev).tolist()])})

    r = rng(7)
    texts = []
    for i in range(n_docs):
        if i > 0 and r.random() < 0.05:
            texts.append(texts[int(r.integers(0, i))].removesuffix(" dup") + " dup")
        else:
            texts.append(" ".join(np.array(VOCAB)[r.integers(0, len(VOCAB), int(r.integers(10, 101)))]))
    doc_ids = np.arange(n_docs, dtype=np.int64)
    yield "documents", pa.table({
        "doc_id": doc_ids,
        "text": pa.array(texts),
        "lang": np.array(LANGS)[r.choice(len(LANGS), n_docs, p=LANG_P)],
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    r = rng(8)
    vecs = r.standard_normal((n_emb, EMB_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    yield "embeddings", pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": r.integers(0, 10, n_emb).astype(np.int32)})


def generate(out_dir):
    """Write every table to `out_dir/<name>.parquet`; the directory appears
    only once it is complete, so an interrupted run never leaves half a set."""
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in tables(SF, SEED):
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"),
                       row_group_size=max(1, table.num_rows))
    os.replace(tmp, out_dir)

