"""Seeded tables for the `registry` workload.

The same schema as the engine's query registry expects (a TPC-H-like
star schema plus the `events`, `embeddings` and `documents` tables), at
roughly scale factor 0.01, written as one Parquet file per table.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = dict(customer=1500, supplier=100, part=2000, orders=15000,
             lineitem=60000, events=10000, embeddings=1000, documents=1000)
WORDS = ("a agg batch big column customer data dup fast filter group hash join "
         "key line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "ring", "rod", "widget", "nut", "valve"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]


def _days(rng, n, start, end):
    span = (end - start).days
    return [start + dt.timedelta(days=int(d)) for d in rng.integers(0, span + 1, n)]


def tables(seed):
    rng = np.random.default_rng(seed)
    n = SIZES
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": pa.array(range(n["customer"]), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["customer"]), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n["customer"])})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n["supplier"]), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["supplier"]), 2)})
    out["part"] = pa.table({
        "p_partkey": pa.array(range(n["part"]), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n["part"]),
                                              rng.choice(PART_NOUN, n["part"]))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
        "p_type": rng.choice(PART_TYPES, n["part"]),
        "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
        "p_retailprice": [round(900.0 + (i % 1000) * 0.1, 1) for i in range(n["part"])]})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(n["orders"]), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n["orders"]), 2),
        "o_orderdate": pa.array(_days(rng, n["orders"], dt.datetime(1995, 1, 1),
                                      dt.datetime(2001, 8, 1)), pa.timestamp("us")),
        "o_orderpriority": rng.choice(PRIORITIES, n["orders"])})
    li = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 100000.0, li), 2),
        "l_discount": np.round(rng.integers(0, 11, li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, li) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], li),
        "l_linestatus": rng.choice(["F", "O"], li),
        "l_shipdate": pa.array(_days(rng, li, dt.datetime(1995, 1, 2),
                                     dt.datetime(2001, 11, 4)), pa.timestamp("us"))})
    ne = n["events"]
    start = dt.datetime(2024, 1, 1)
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, ne))
    out["events"] = pa.table({
        "event_id": pa.array(range(ne), pa.int64()),
        "ts": pa.array([start + dt.timedelta(microseconds=int(o)) for o in offs],
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, ne), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": np.round(rng.exponential(60.0, ne), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    nv = n["embeddings"]
    emb = rng.normal(0.0, 0.15, (nv, 64)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(range(nv), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32())})
    nd = n["documents"]
    texts = [" ".join(rng.choice(WORDS, int(k))) for k in rng.integers(10, 100, nd)]
    out["documents"] = pa.table({
        "doc_id": pa.array(range(nd), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, nd),
        "source": [f"src{s}" for s in rng.integers(0, 20, nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    return out


def write(seed, directory):
    os.makedirs(directory, exist_ok=True)
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(directory, f"{name}.parquet"))
