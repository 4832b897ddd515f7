"""Seeded generator of the query_suite input tables.

Writes the ten tables `SparkEntry.queries` read (TPC-H-like star schema plus
`events`, `documents` and `embeddings`), one parquet file each, with the same
column names and types as the test tables of TESTDATA.md at scale factor 0.001.

The data is a pure function of `variant`; the benchmark maps its --seed onto a
small fixed set of variants so that every query's expected row count and
digest can be recorded once (see expected_queries.json) and checked on every
run.
"""
import datetime
import math
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

VARIANTS = 4

WORDS = ("the a key agg row scan slow fast table value part hash join order "
         "sort merge window small big batch stream spark query data line "
         "column filter group customer vector dup").split()
LANGS = ("en", "fr", "es", "zh", "de")
SEGMENTS = ("FURNITURE", "BUILDING", "MACHINERY", "HOUSEHOLD", "AUTOMOBILE")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "purchase", "error", "signup", "view")
PART_ADJ = ("small", "large", "cold", "hot", "red", "blue", "green", "tiny")
PART_NOUN = ("widget", "bolt", "ring", "gear", "nut", "screw", "spring", "valve")
PART_TYPES = ("PROMO", "ECONOMY", "MEDIUM", "SMALL", "LARGE", "STANDARD")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")


def _ts(day0, days):
    return day0 + datetime.timedelta(days=days)


def tables(variant):
    """All ten tables as pyarrow Tables, keyed by name."""
    r = random.Random(1_000_003 * (variant + 1))
    n_cust, n_supp, n_part, n_orders, n_items = 150, 10, 200, 1500, 6000
    n_events, n_docs, n_vecs, dim = 1000, 500, 500, 64
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS)})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array([r.randrange(25) for _ in range(n_cust)], pa.int32()),
        "c_acctbal": [round(r.uniform(-999.99, 9999.99), 2) for _ in range(n_cust)],
        "c_mktsegment": [r.choice(SEGMENTS) for _ in range(n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array([r.randrange(25) for _ in range(n_supp)], pa.int32()),
        "s_acctbal": [round(r.uniform(0, 9999.99), 2) for _ in range(n_supp)]})
    t["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{r.choice(PART_ADJ)} {r.choice(PART_NOUN)}" for _ in range(n_part)],
        "p_brand": [f"Brand#{r.randint(1, 25)}" for _ in range(n_part)],
        "p_type": [r.choice(PART_TYPES) for _ in range(n_part)],
        "p_size": pa.array([r.randint(1, 50) for _ in range(n_part)], pa.int32()),
        "p_retailprice": [round(900 + i / 10, 2) for i in range(n_part)]})
    day0 = datetime.datetime(1995, 1, 1)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_orders), pa.int64()),
        "o_custkey": pa.array([r.randrange(n_cust) for _ in range(n_orders)], pa.int64()),
        "o_orderstatus": [r.choice("OFP") for _ in range(n_orders)],
        "o_totalprice": [round(r.uniform(1000, 500000), 2) for _ in range(n_orders)],
        "o_orderdate": pa.array([_ts(day0, r.randrange(2400)) for _ in range(n_orders)],
                                pa.timestamp("us")),
        "o_orderpriority": [r.choice(PRIORITIES) for _ in range(n_orders)]})
    qty = [float(r.randint(1, 50)) for _ in range(n_items)]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array([r.randrange(n_orders) for _ in range(n_items)], pa.int64()),
        "l_partkey": pa.array([r.randrange(n_part) for _ in range(n_items)], pa.int64()),
        "l_suppkey": pa.array([r.randrange(n_supp) for _ in range(n_items)], pa.int64()),
        "l_linenumber": pa.array([r.randint(1, 7) for _ in range(n_items)], pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": [round(q * r.uniform(900, 2100), 2) for q in qty],
        "l_discount": [r.randint(0, 10) / 100 for _ in range(n_items)],
        "l_tax": [r.randint(0, 8) / 100 for _ in range(n_items)],
        "l_returnflag": [r.choice("NRA") for _ in range(n_items)],
        "l_linestatus": [r.choice("FO") for _ in range(n_items)],
        "l_shipdate": pa.array([_ts(day0, 1 + r.randrange(2500)) for _ in range(n_items)],
                               pa.timestamp("us"))})
    ev0 = datetime.datetime(2024, 1, 1)
    t["events"] = pa.table({
        "event_id": pa.array(range(n_events), pa.int64()),
        "ts": pa.array(sorted(ev0 + datetime.timedelta(seconds=r.uniform(0, 30 * 86400))
                              for _ in range(n_events)), pa.timestamp("us")),
        "user_id": pa.array([r.randrange(15) for _ in range(n_events)], pa.int64()),
        "event_type": [r.choice(EVENT_TYPES) for _ in range(n_events)],
        "value": [round(r.expovariate(1 / 60), 2) + 0.01 for _ in range(n_events)],
        "props": [f'{{"k": {r.randrange(100)}}}' for _ in range(n_events)]})
    texts = []
    for i in range(n_docs):
        if i >= 50 and r.random() < 0.1:
            # near-duplicate of an earlier document: the dedup and
            # similarity queries need pairs to find
            words = texts[r.randrange(i)].split()
            words[r.randrange(len(words))] = r.choice(WORDS)
        else:
            words = [r.choice(WORDS) for _ in range(r.randint(8, 90))]
        texts.append(" ".join(words))
    t["documents"] = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [r.choice(LANGS) for _ in range(n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    centroids = [[r.gauss(0, 1) for _ in range(dim)] for _ in range(10)]
    labels, vecs = [], []
    for _ in range(n_vecs):
        lab = r.randrange(10)
        v = [c + 3.0 * r.gauss(0, 1) for c in centroids[lab]]
        norm = math.sqrt(sum(x * x for x in v))
        labels.append(lab)
        vecs.append([x / norm for x in v])
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_vecs), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return t


def write(variant, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(variant).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
