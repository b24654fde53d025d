#!/usr/bin/env python3
"""Seeded generator for the benchmark's input tables.

Writes the ten tables graft's queries read (TPC-H-ish star schema,
`events`, `documents`, `embeddings`) as one parquet file each, one row
group per file, with the column names, types and value domains of the
repository's test tables. The same (sf, seed) always gives the same bytes
of data; a different seed gives different rows with the same sizes and
distributions, so timings stay comparable across seeds.

Usage: gendata.py <out_dir> <sf> <seed>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row the agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PTYPES = ["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
ADJ = ["large", "hot", "blue", "small", "red", "cold", "green", "old"]
NOUN = ["ring", "bolt", "anvil", "widget", "gear", "pipe", "nut", "spring"]
DAY_US = 86_400_000_000


def sizes(sf):
    return {
        "customer": int(150_000 * sf), "supplier": int(10_000 * sf),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def pick(rng, values, n, p=None):
    idx = rng.choice(len(values), size=n, p=p)
    return pa.array(np.asarray(values, dtype=object)[idx], pa.string())


def ts(us):
    return pa.array(us.astype("int64"), pa.timestamp("us"))


def days_since(y, m, d):
    return int((np.datetime64(f"{y:04d}-{m:02d}-{d:02d}") -
                np.datetime64("1970-01-01")).astype(int))


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def documents(rng, n):
    texts = []
    for _ in range(n):
        k = int(rng.integers(10, 101))
        texts.append([VOCAB[i] for i in rng.integers(0, len(VOCAB), k)])
    # 5% near-duplicates: a copy of another document with one token dropped
    # and a trailing "dup" marker, the shape MinHash/SimHash bucket on
    for i in np.flatnonzero(rng.random(n) < 0.05):
        src = list(texts[int(rng.integers(0, n))])
        if len(src) > 10:
            del src[int(rng.integers(0, len(src)))]
        texts[i] = src + ["dup"]
    text = [" ".join(t) for t in texts]
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(text, pa.string()),
        "lang": pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    })


def tables(sf, seed):
    rng = np.random.default_rng(seed)
    n = sizes(sf)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS, pa.string())})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, nc, dtype=np.int32)),
        "c_acctbal": pa.array(money(rng, -999.99, 9999.99, nc)),
        "c_mktsegment": pick(rng, SEGMENTS, nc)})
    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, ns, dtype=np.int32)),
        "s_acctbal": pa.array(money(rng, -999.99, 9999.99, ns))})
    npart = n["part"]
    keys = np.arange(npart, dtype=np.int64)
    names = [f"{a} {b}" for a in ADJ for b in NOUN]
    out["part"] = pa.table({
        "p_partkey": pa.array(keys),
        "p_name": pick(rng, names, npart),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, npart)],
                            pa.string()),
        "p_type": pick(rng, PTYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) / 10.0, 2))})
    no = n["orders"]
    d0, d1 = days_since(1995, 1, 1), days_since(2001, 8, 1)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no, dtype=np.int64)),
        "o_orderstatus": pick(rng, ["P", "O", "F"], no),
        "o_totalprice": pa.array(money(rng, 1000.0, 500000.0, no)),
        "o_orderdate": ts(rng.integers(d0, d1 + 1, no) * DAY_US),
        "o_orderpriority": pick(rng, PRIORITIES, no)})
    # TPC-H line numbering: order o has lines 1..k_o, so (orderkey,
    # linenumber) is unique and every line's order exists (q21's
    # foreign-key assumption holds); ~4 lines per order on average
    per = rng.integers(1, 8, no)
    okey = np.repeat(np.arange(no, dtype=np.int64), per)
    nl = len(okey)
    lnum = (np.arange(nl) - np.repeat(np.cumsum(per) - per, per) + 1)
    disc = rng.choice(np.round(np.arange(11) / 100.0, 2), nl,
                      p=[0.05] + [0.1] * 9 + [0.05])
    tax = rng.choice(np.round(np.arange(9) / 100.0, 2), nl,
                     p=[0.0625] + [0.125] * 7 + [0.0625])
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(rng.integers(0, npart, nl, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, ns, nl, dtype=np.int64)),
        "l_linenumber": pa.array(lnum.astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(money(rng, 900.0, 105000.0, nl)),
        "l_discount": pa.array(disc),
        "l_tax": pa.array(tax),
        "l_returnflag": pick(rng, ["N", "R", "A"], nl),
        "l_linestatus": pick(rng, ["F", "O"], nl),
        "l_shipdate": ts(rng.integers(d0 + 1, days_since(2001, 11, 4) + 1, nl)
                         * DAY_US)})
    ne = n["events"]
    t0 = days_since(2024, 1, 1) * DAY_US
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": ts(np.sort(rng.integers(t0, t0 + 30 * DAY_US, ne))),
        "user_id": pa.array(rng.integers(0, max(1, int(15_000 * sf)), ne,
                                         dtype=np.int64)),
        "event_type": pick(rng, EVENT_TYPES, ne),
        "value": pa.array(np.round(rng.exponential(50.0, ne), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
                          pa.string())})
    out["documents"] = documents(rng, n["documents"])
    nv = n["embeddings"]
    v = rng.normal(size=(nv, 64))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv, dtype=np.int64)),
        "embedding": pa.array(list(v.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv, dtype=np.int32))})
    return out


def main(out_dir, sf, seed):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(sf, seed).items():
        tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
        pq.write_table(table, tmp, row_group_size=max(1, table.num_rows))
        os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    main(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]))
