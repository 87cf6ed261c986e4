#!/usr/bin/env python3
"""Seeded generator for the benchmark's input tables.

Writes the ten tables the program's catalog reads (`region nation customer
supplier part orders lineitem events documents embeddings`) as parquet under
an output directory, with the column names and types of the program's
fixture star schema. Row counts scale with `--sf` (lineitem ~ 6M x sf).
The same `--seed` and `--sf` always give the same rows.

The tables that the catalog scans in parallel are written as directories of
several files (16 for the big dimension/fact tables, 4 for events), so a scan
uses all local cores — the same physical layout `graft.Bench` rewrites its
fixtures into before timing.

Usage: python3 perfbench/gen_data.py --seed 1 --sf 0.01 --out <dir>
"""
import argparse
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["red", "blue", "small", "large", "hot", "old"]
NOUN = ["widget", "bolt", "ring", "plate", "rod", "gear", "gizmo"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
WORDS = ("a the data query table row column key value part order line "
         "customer join hash sort merge scan filter group agg window batch "
         "stream spark vector fast slow big small").split()
LANGS = ["en", "fr", "de", "es", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]

SPLIT = {"customer": 16, "supplier": 16, "part": 16, "orders": 16,
         "lineitem": 16, "documents": 16, "embeddings": 16, "events": 4}

DAY_US = 86_400_000_000


def epoch_us(y, m, d):
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us").astype(np.int64))


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def days(rng, start, end, n):
    """Midnight timestamps (us) uniform in [start, end)."""
    span = (end - start) // DAY_US
    return start + rng.integers(0, span, n) * DAY_US


def ts(values_us):
    return pa.array(values_us, pa.timestamp("us"))


def write(out, name, table):
    path = os.path.join(out, f"{name}.parquet")
    parts = SPLIT.get(name, 1)
    if parts == 1 or table.num_rows < parts * 64:
        pq.write_table(table, path)
        return
    os.makedirs(path)
    bounds = np.linspace(0, table.num_rows, parts + 1).astype(int)
    for i in range(parts):
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       os.path.join(path, f"part-{i:03d}.parquet"))


def generate(seed, sf, out):
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_line = max(6000, int(6_000_000 * sf))
    n_evt = max(1000, int(1_000_000 * sf))
    n_doc = max(50, int(50_000 * sf))
    n_users = max(15, int(15_000 * sf))

    tables = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(rng, -999.99, 9999.99, n_supp)})
    names = [f"{a} {b}" for a in ADJ for b in NOUN]
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.array(names)[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2)})
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(rng, 1000, 500000, n_ord),
        "o_orderdate": ts(days(rng, epoch_us(1995, 1, 1),
                               epoch_us(2001, 8, 2), n_ord)),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": money(rng, 900, 105000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": ts(days(rng, epoch_us(1995, 1, 2),
                              epoch_us(2001, 11, 5), n_line))})
    start = epoch_us(2024, 1, 1)
    ev_ts = np.sort(start + rng.integers(0, 30 * DAY_US, n_evt))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": ts(ev_ts),
        "user_id": pa.array(rng.integers(0, n_users, n_evt), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_evt)],
        "value": np.round(rng.exponential(50.0, n_evt) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})
    texts = []
    for i in range(n_doc):
        if i > 0 and rng.random() < 0.05:
            # near-duplicate: an earlier document plus one or two markers
            texts.append(texts[int(rng.integers(0, i))]
                         + " dup" * int(rng.integers(1, 3)))
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), n)]))
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    centroids = rng.normal(0, 0.018, (10, 64))
    labels = rng.integers(0, 10, n_doc)
    vecs = centroids[labels] + rng.normal(0, 0.125, (n_doc, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_doc), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})

    if os.path.exists(out):
        shutil.rmtree(out)
    os.makedirs(out)
    for name, table in tables.items():
        write(out, name, table)
    return {name: t.num_rows for name, t in tables.items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--sf", type=float, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(generate(a.seed, a.sf, a.out))


if __name__ == "__main__":
    main()
