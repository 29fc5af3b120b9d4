#!/usr/bin/env python3
"""Seeded input generator for the benchmark.

Writes the ten tables the operators read (region nation customer supplier
part orders lineitem events documents embeddings), one parquet file and
one row group each, with the schemas and value domains of the testdata
corpus the engine is developed against (TPC-H-style star schema, an
event stream, a text corpus with ~5% near-duplicates and a 64-d unit
embedding table).

Table CONTENTS depend only on the scale factor: they come from a fixed
base seed. The run seed permutes the ROW ORDER of every table. Every
query's result is defined up to row order, so a key whose output changes
with the run seed is a failed operation, not an input difference.

    python3 perfbench/gen.py <out_dir> --sf 0.1 --seed 7
"""
import argparse
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 20240101
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
WORDS = ("spark window merge table column vector stream value data small join filter big "
         "group hash customer sort order slow line part fast row the agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
DAY_US = 86_400_000_000


def _days_us(start: str, n_days: int, rng, size) -> np.ndarray:
    base = np.datetime64(start, "us").astype(np.int64)
    return base + rng.integers(0, n_days, size) * DAY_US


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us, type=pa.int64()).cast(pa.timestamp("us"))


def _names(prefix: str, n: int) -> list:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def tables(sf: float) -> dict:
    """Build every table at scale `sf` from the fixed base seed."""
    rng = np.random.default_rng(BASE_SEED)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    n_users = max(15, int(15_000 * sf))
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    adj = np.array(["blue", "cold", "hot", "large", "new", "old", "red", "small"])
    noun = np.array(["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"])
    ptypes = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    pk = np.arange(n_part)
    out["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": ptypes[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (pk % 1000) * 0.1, 1)})
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts(_days_us("1995-01-01", 2405, rng, n_ord)),
        "o_orderpriority": prios[rng.integers(0, 5, n_ord)]})
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(_days_us("1995-01-02", 2499, rng, n_li))})
    ev_base = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(ev_base + rng.integers(0, 30 * DAY_US, n_ev))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), int(k))])
             for k in rng.integers(10, 101, n_doc)]
    # ~5% near-duplicates (another doc's text plus a marker word) and a
    # few exact duplicates, so the dedup operators have real clusters
    ids = rng.permutation(n_doc)
    n_near, n_exact = n_doc // 20, max(1, n_doc * 16 // 10_000)
    near, exact, origin = ids[:n_near], ids[n_near:n_near + n_exact], ids[n_near + n_exact:]
    src = rng.choice(origin, n_near + n_exact, replace=False)
    for i, j in zip(near, src[:n_near]):
        texts[i] = texts[j] + " dup"
    for i, j in zip(exact, src[n_near:]):
        texts[i] = texts[j]
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    v = rng.standard_normal((n_emb, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})
    return out


def write(out_dir: str, sf: float, seed: int) -> dict:
    """Write the seeded tables (cached: a complete dir is reused) and
    return {table: {"rows", "bytes", "row_groups"}}."""
    stamp = os.path.join(out_dir, "_SIZES.json")
    if not os.path.exists(stamp):
        os.makedirs(out_dir, exist_ok=True)
        rng = np.random.default_rng(seed)
        for name, t in tables(sf).items():
            t = t.take(pa.array(rng.permutation(t.num_rows)))
            pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"),
                           row_group_size=max(1, t.num_rows))
        with open(stamp, "w") as f:
            json.dump(sizes(out_dir), f, indent=1, sort_keys=True)
    with open(stamp) as f:
        return json.load(f)


def content_version() -> str:
    """Changes whenever this generator's code (and so the rows) may change."""
    with open(__file__, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:12]


def sizes(d: str) -> dict:
    out = {}
    for name in TABLES:
        p = os.path.join(d, f"{name}.parquet")
        md = pq.ParquetFile(p).metadata
        out[name] = {"rows": md.num_rows, "bytes": os.path.getsize(p),
                     "row_groups": md.num_row_groups}
    return out


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("out_dir")
    ap.add_argument("--sf", type=float, default=0.1)
    ap.add_argument("--seed", type=int, default=0)
    a = ap.parse_args()
    print(json.dumps(write(a.out_dir, a.sf, a.seed), sort_keys=True))
