#!/usr/bin/env python3
"""Seeded input generator for the graft benchmark.

Writes one directory of parquet inputs for one (kind, seed) and a
_MANIFEST.json naming them and recording the parameters below (the leading underscore keeps Spark from reading it
as data). run.py calls this as its own process, before any timing, and reuses
an existing directory only when its manifest matches.

  python3 perfbench/gen.py --kind tables|store --seed 7 --out DIR

kind=tables: the ten star-schema, event and LLM-pipeline tables the query
packs read (same names, columns and value domains as the fixtures described
in FIXTURES.md), at scale factor SF. kind=store: a multi-file, versioned event
store for compaction: KEYS keys, about VERSIONS versions per key, FILES files. The seed decides key assignment, version counts and
which file each version lands in; file modification times follow file order
so a file-stream source replays them in a fixed order.
"""
import argparse
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 1
SF = 0.02
KEYS, VERSIONS, FILES = 200000, 4, 8
WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EVENT_TYPES = np.array(["error", "signup", "purchase", "view", "click"])
SEGMENTS = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"])
PART_TYPES = np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"])
ADJ = ["red", "new", "hot", "small", "cold", "large", "old", "blue"]
NOUN = ["bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "gizmo"]
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
JAN_2024_US = 1704067200 * 10**6
MONTH_US = 30 * 86400 * 10**6
DAY_MS = 86400 * 1000


def days_ms(rng, lo_days, hi_days, n):
    return rng.integers(lo_days, hi_days, n) * DAY_MS


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(rng, out, sf):
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_li = int(1500000 * sf), int(6000000 * sf)
    n_ev, n_doc = int(1000000 * sf), int(50000 * sf)
    d1995 = 9131  # 1995-01-01 in days since epoch

    write(out, "region", {"r_regionkey": pa.array(range(5), pa.int32()),
                          "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write(out, "nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                          "n_name": [f"NATION_{i}" for i in range(25)],
                          "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": SEGMENTS[rng.integers(0, 5, n_cust)]})
    write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(rng, -999.99, 9999.99, n_supp)})
    names = np.array([f"{a} {b}" for a in ADJ for b in NOUN])
    write(out, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": PART_TYPES[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2)})
    write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["O", "P", "F"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(rng, 1000, 500000, n_ord),
        "o_orderdate": pa.array(days_ms(rng, d1995, d1995 + 2404, n_ord), pa.timestamp("ms")),
        "o_orderpriority": PRIORITIES[rng.integers(0, 5, n_ord)]})
    write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(rng, 900, 105000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(days_ms(rng, d1995 + 1, d1995 + 2499, n_li), pa.timestamp("ms"))})

    ts_ns = np.sort(JAN_2024_US + rng.integers(0, MONTH_US, n_ev)) * 1000
    write(out, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts_ns, pa.timestamp("ns")),
        "user_id": rng.integers(0, max(n_cust // 10, 10), n_ev),
        "event_type": EVENT_TYPES[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(80.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), k)])
             for k in rng.integers(10, 101, n_doc)]
    # Near-duplicates ("... dup" copies of an earlier document) and a few
    # exact duplicates, as the dedup families expect.
    for i in rng.choice(np.arange(1, n_doc), size=n_doc // 20, replace=False):
        src = texts[int(rng.integers(0, i))]
        texts[i] = src if rng.random() < 0.05 else src + " dup"
    write(out, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": LANGS[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    emb = rng.standard_normal((n_doc, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    write(out, "embeddings", {
        "vec_id": np.arange(n_doc, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(emb.ravel()), 64)
                       .cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_doc), pa.int32())})
    return {"rows": {"lineitem": n_li, "orders": n_ord, "events": n_ev, "documents": n_doc}}


def store(rng, out, keys, mean_versions, files):
    users = keys // len(EVENT_TYPES)
    versions = 1 + rng.poisson(mean_versions - 1, users * len(EVENT_TYPES))
    n = int(versions.sum())
    key_idx = np.repeat(np.arange(users * len(EVENT_TYPES)), versions)
    order = rng.permutation(n)
    key_idx = key_idx[order]
    cols = {
        "event_id": rng.permutation(n).astype(np.int64),
        "ts": pa.array(JAN_2024_US + rng.integers(0, MONTH_US, n), pa.timestamp("us", tz="UTC")),
        "user_id": (key_idx // len(EVENT_TYPES)).astype(np.int64),
        "event_type": EVENT_TYPES[key_idx % len(EVENT_TYPES)],
        "value": np.round(rng.exponential(80.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    }
    t = pa.table(cols)
    file_of = rng.integers(0, files, n)
    base = 1_600_000_000
    for f in range(files):
        path = os.path.join(out, f"part-{f:05d}.parquet")
        pq.write_table(t.filter(pa.array(file_of == f)), path)
        os.utime(path, (base + 10 * f, base + 10 * f))
    return {"rows": n, "keys": int(users * len(EVENT_TYPES)), "files": files}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--kind", choices=["tables", "store"], required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    params = ({"kind": "tables", "sf": SF} if a.kind == "tables" else
              {"kind": "store", "keys": KEYS, "versions": VERSIONS, "files": FILES})
    params.update(seed=a.seed, gen_version=GEN_VERSION)
    os.makedirs(a.out, exist_ok=True)
    rng = np.random.default_rng(a.seed)
    info = (tables(rng, a.out, SF) if a.kind == "tables" else
            store(rng, a.out, KEYS, VERSIONS, FILES))
    files = sorted(f for f in os.listdir(a.out) if f.endswith(".parquet"))
    manifest = {"params": params, "info": info,
                "files": {f: os.path.getsize(os.path.join(a.out, f)) for f in files}}
    with open(os.path.join(a.out, "_MANIFEST.json"), "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
