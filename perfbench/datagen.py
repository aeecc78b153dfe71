"""Seeded synthetic input tables for the benchmark.

The tables mirror the layout graft's queries read (`graft.Tables`): a
TPC-H-like star schema plus `events`, `documents` and `embeddings`, one
parquet file per table, with the same column names and physical types.
Values are independent uniform draws except where a query family needs
structure: 5% of documents are an exact copy of another document with a
" dup" suffix (the near-duplicate families), and embeddings are unit
vectors drawn around ten label centroids, so an ANN index has
neighbourhoods to find, as real embeddings do.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "red", "blue", "hot", "old", "new", "cold", "large"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "anvil", "rod", "plate", "gizmo"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
WORDS = ("join hash row batch scan customer column filter small slow merge "
         "order vector line data table agg value key stream window spark a "
         "group part big sort query fast the").split()
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EMB_DIM = 64
EMB_LABELS = 10


def sizes(scale):
    """Row counts per table at `scale` (1.0 = TPC-H SF1 proportions)."""
    return {
        "customer": int(150_000 * scale), "supplier": int(10_000 * scale),
        "part": int(200_000 * scale), "orders": int(1_500_000 * scale),
        "lineitem": int(6_000_000 * scale), "events": int(1_000_000 * scale),
        "users": int(15_000 * scale),
        "documents": max(500, int(50_000 * scale)),
        "embeddings": max(500, int(20_000 * scale)),
    }


def _days(rng, n, start, end):
    """`n` midnight timestamps uniform in [start, end] as datetime64[us]."""
    span = (end - start).days
    d = rng.integers(0, span + 1, n)
    return (np.datetime64(start, "us") + d.astype("timedelta64[D]")).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed, scale):
    rng = np.random.default_rng(seed)
    n = sizes(scale)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)]})
    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)})
    npart = n["part"]
    keys = np.arange(npart)
    names = [f"{a} {b}" for a, b in zip(np.array(PART_ADJ)[rng.integers(0, 8, npart)],
                                        np.array(PART_NOUN)[rng.integers(0, 8, npart)])]
    out["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": names,
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900 + (keys % 1000) / 10, 1)})
    no = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000, 500000, no),
        "o_orderdate": pa.array(_days(rng, no, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
                                pa.timestamp("us")),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)]})
    nl = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": pa.array(_days(rng, nl, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
                               pa.timestamp("us"))})
    ne = n["events"]
    month_us = 30 * 86400 * 10**6
    offs = np.sort(rng.integers(0, month_us, ne))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us") + offs.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, n["users"]), ne), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, ne), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    nd = n["documents"]
    texts = [" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), rng.integers(10, 100))])
             for _ in range(nd)]
    for i in rng.choice(nd, nd // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, nd))] + " dup"
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, nd, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    nv = n["embeddings"]
    labels = rng.integers(0, EMB_LABELS, nv)
    centers = rng.normal(size=(EMB_LABELS, EMB_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = centers[labels] + rng.normal(scale=1.0 / np.sqrt(EMB_DIM), size=(nv, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return out


def write(seed, scale, out_dir):
    """Write every table as `<out_dir>/<name>.parquet`; idempotent."""
    done = os.path.join(out_dir, "_DONE")
    if os.path.exists(done):
        return
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(seed, scale).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    open(done, "w").close()
