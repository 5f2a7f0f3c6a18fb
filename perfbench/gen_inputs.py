"""Fixed source tables for the `calls` and `ops` workloads.

Writes TPC-H-shaped parquet tables (the shapes `NessusSynth` and the
registry queries read): region, nation, part, orders, lineitem, plus the
`embeddings` and `documents` tables of the ops queries. Row counts are
those of sf0.01 except orders and lineitem, which are cut to a fifth so
that a cold warehouse build fits a short run (3,000 scan runs, 12,000
findings). The tables are a pure function of `TABLE_SEED`, so the pinned
output digests in `pinned.json` hold on any machine; the run seed never
reaches them (it drives only the fake-API world, the CALL parameters and
the ops query order).

Usage: python3 perfbench/gen_inputs.py <out_dir>
"""
import datetime
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 20200614
VERSION = "2"

N_ORDERS = 3000
N_CUST = 1500
N_LINEITEM = 12000
N_PART = 2000
N_SUPP = 100
N_EMB = 500
EMB_DIM = 64
N_DOCS = 500

WORDS = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window order data column join small customer query "
         "stream group filter big vector").split()


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def generate(out):
    rng = np.random.default_rng(TABLE_SEED)
    os.makedirs(out, exist_ok=True)

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    adjectives = ["small", "red", "steel", "brass", "green", "large"]
    nouns = ["ring", "widget", "bolt", "gear", "valve", "panel"]
    types = ["ECONOMY", "STANDARD", "PROMO", "LARGE", "MEDIUM", "SMALL"]
    _write(out, "part", {
        "p_partkey": pa.array(range(N_PART), pa.int64()),
        "p_name": [f"{adjectives[i % 6]} {nouns[(i // 6) % 6]}" for i in range(N_PART)],
        "p_brand": [f"Brand#{int(b)}" for b in rng.integers(1, 40, N_PART)],
        "p_type": [types[int(t)] for t in rng.integers(0, 6, N_PART)],
        "p_size": pa.array(rng.integers(1, 50, N_PART), pa.int32()),
        "p_retailprice": np.round(900.0 + np.arange(N_PART) % 1000 / 10.0, 2)})

    day0 = datetime.datetime(1995, 1, 1)
    days = rng.integers(0, 2404, N_ORDERS)
    odate = [day0 + datetime.timedelta(days=int(d)) for d in days]
    _write(out, "orders", {
        "o_orderkey": pa.array(range(N_ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUST, N_ORDERS), pa.int64()),
        "o_orderstatus": [("O", "F", "P")[int(s)] for s in rng.integers(0, 3, N_ORDERS)],
        "o_totalprice": np.round(rng.uniform(1000, 400000, N_ORDERS), 2),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": [f"{int(p)}-PRIO" for p in rng.integers(1, 6, N_ORDERS)]})

    lorder = np.sort(rng.integers(0, N_ORDERS, N_LINEITEM))
    qty = rng.integers(1, 51, N_LINEITEM).astype(np.float64)
    partkey = rng.integers(0, N_PART, N_LINEITEM)
    ship = [odate[int(o)] + datetime.timedelta(days=int(d))
            for o, d in zip(lorder, rng.integers(1, 120, N_LINEITEM))]
    _write(out, "lineitem", {
        "l_orderkey": pa.array(lorder, pa.int64()),
        "l_partkey": pa.array(partkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPP, N_LINEITEM), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEM), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * (900.0 + partkey % 1000 / 10.0), 2),
        "l_discount": rng.integers(0, 11, N_LINEITEM) / 100.0,
        "l_tax": rng.integers(0, 9, N_LINEITEM) / 100.0,
        "l_returnflag": [("A", "N", "R")[int(f)] for f in rng.integers(0, 3, N_LINEITEM)],
        "l_linestatus": [("O", "F")[int(f)] for f in rng.integers(0, 2, N_LINEITEM)],
        "l_shipdate": pa.array(ship, pa.timestamp("us"))})

    # ten labelled clusters on the unit sphere: the ANN tuner needs
    # neighbourhoods for recall to climb with nprobe
    labels = rng.integers(0, 10, N_EMB)
    centers = rng.normal(0.0, 1.0, (10, EMB_DIM))
    vecs = centers[labels] + rng.normal(0.0, 0.6, (N_EMB, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": pa.array(range(N_EMB), pa.int64()),
        "embedding": pa.array([list(v) for v in vecs], pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})

    # every fifth document is a near-copy of an earlier one, so the
    # set-join and dedup paths find real matches
    texts = []
    for i in range(N_DOCS):
        if i % 5 == 4:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            words = [WORDS[int(w)] for w in rng.integers(0, len(WORDS), int(rng.integers(20, 80)))]
        texts.append(" ".join(words))
    _write(out, "documents", {
        "doc_id": pa.array(range(N_DOCS), pa.int64()),
        "text": texts,
        "lang": ["en"] * N_DOCS,
        "source": [f"src{i % 7}" for i in range(N_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    with open(os.path.join(out, "_DONE"), "w") as f:
        f.write(VERSION + "\n")


if __name__ == "__main__":
    generate(sys.argv[1])
