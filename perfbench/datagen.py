"""Seeded synthetic inputs with the schema of the TPC-H-ish test tables.

Every table the graph session and the corpus gates read is generated
here from one integer seed, so the same seed always gives the same
parquet files and the benchmark reads nothing outside its own run
directory. Shapes follow the shipped test data: dense keys starting at
0 (the NEXT_CUST chain and several oracles rely on that), 1-7 lines per
order, documents drawn from a 30-word vocabulary with 5% exact copies
suffixed by " dup" (the near-duplicate structure the dedup gates look
for), and unit-norm 64-d embeddings around 10 label centres.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "rod", "plate",
             "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EMB_DIM = 64

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def sizes(sf: float, n_docs: int, n_vecs: int) -> dict[str, int]:
    return {
        "customer": int(150_000 * sf), "supplier": max(10, int(10_000 * sf)),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "events": int(1_000_000 * sf), "documents": n_docs,
        "embeddings": n_vecs,
    }


def _days(rng, n, start: dt.date, span_days: int):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def _write(out: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def generate(out: str, seed: int, sf: float, n_docs: int,
             n_vecs: int) -> dict[str, int]:
    """Write the ten tables under ``out``; returns row counts."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = sizes(sf, n_docs, n_vecs)
    i32, i64, f64 = pa.int32(), pa.int64(), pa.float64()

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), i32), "r_name": REGIONS})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array([k % 5 for k in range(25)], i32)})

    nc = n["customer"]
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(nc), i64),
        "c_name": [f"Customer#{k:09d}" for k in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, nc), 2)),
        "c_mktsegment": rng.choice(SEGMENTS, nc).tolist()})

    ns = n["supplier"]
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(ns), i64),
        "s_name": [f"Supplier#{k:09d}" for k in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, ns), 2))})

    npart = n["part"]
    names = [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, npart),
                                        rng.choice(PART_NOUN, npart))]
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(npart), i64),
        "p_name": names,
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, npart)],
        "p_type": rng.choice(PART_TYPES, npart).tolist(),
        "p_size": pa.array(rng.integers(1, 51, npart), i32),
        "p_retailprice": pa.array(
            np.round(900 + (np.arange(npart) % 1000) / 10, 2))})

    no = n["orders"]
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(no), i64),
        "o_custkey": pa.array(rng.integers(0, nc, no), i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], no).tolist(),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, no), 2)),
        "o_orderdate": pa.array(_days(rng, no, dt.date(1995, 1, 1), 2404)),
        "o_orderpriority": rng.choice(PRIORITIES, no).tolist()})

    lines = rng.integers(1, 8, no)
    nl = int(lines.sum())
    qty = rng.integers(1, 51, nl).astype(float)
    _write(out, "lineitem", {
        "l_orderkey": pa.array(np.repeat(np.arange(no), lines), i64),
        "l_partkey": pa.array(rng.integers(0, npart, nl), i64),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
        "l_linenumber": pa.array(
            np.concatenate([np.arange(1, k + 1) for k in lines]), i32),
        "l_quantity": pa.array(qty, f64),
        "l_extendedprice": pa.array(
            np.round(qty * rng.uniform(900, 2100, nl), 2)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": rng.choice(["A", "N", "R"], nl).tolist(),
        "l_linestatus": rng.choice(["F", "O"], nl).tolist(),
        "l_shipdate": pa.array(_days(rng, nl, dt.date(1995, 1, 2), 2497))})

    ne = n["events"]
    ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, 30 * 86_400_000_000, ne)).astype("timedelta64[us]")
    _write(out, "events", {
        "event_id": pa.array(np.arange(ne), i64),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, max(1, ne // 66), ne), i64),
        "event_type": rng.choice(EVENT_TYPES, ne).tolist(),
        "value": pa.array(np.round(rng.exponential(50, ne) + 0.01, 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})

    nd = n["documents"]
    texts: list[str] = []
    for d in range(nd):
        if d >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, d))] + " dup")
        else:
            words = rng.choice(VOCAB, int(rng.integers(10, 100)))
            texts.append(" ".join(words))
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(nd), i64),
        "text": texts,
        "lang": rng.choice(LANGS, nd, p=LANG_P).tolist(),
        "source": [f"src{d % 20}" for d in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], i64)})

    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centres = rng.normal(size=(10, EMB_DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    vecs = 0.15 * centres[labels] + rng.normal(scale=0.125, size=(nv, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(nv), i64),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})

    return {"region": 5, "nation": 25, "lineitem": nl, **n}
