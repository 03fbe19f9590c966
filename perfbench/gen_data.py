"""Deterministic input tables for the batch workloads.

Writes the ten parquet tables graft's queries read (graft.Tables) with the
schemas of FIXTURES.md section B, at roughly scale factor 0.01, from a fixed
data seed. The tables do not depend on the workload seed: a run's seed only
orders its operations, so the expected outputs in expected.json hold for
every seed. The documents carry planted exact and near duplicates so that
the dedup operators find clusters to merge.
"""

import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20240703
VERSION = "1"

SIZES = {
    "customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
    "lineitem": 60000, "events": 10000, "users": 150, "documents": 600,
    "embeddings": 500,
}

VOCAB = ("a the data spark table row column key value hash join sort group "
         "agg filter scan batch stream window merge query order line part "
         "customer vector big small fast slow").split()


def _ts(days_from, days_to, rng, n, base=dt.datetime(1995, 1, 1)):
    days = rng.integers(days_from, days_to, n)
    return pa.array([base + dt.timedelta(days=int(d)) for d in days],
                    pa.timestamp("us"))


def _documents(rng):
    n = SIZES["documents"]
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 20 and r < 0.04:
            # exact duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 20 and r < 0.20:
            # near duplicate: an earlier document with a few words replaced
            words = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(max(1, len(words) // 15)):
                words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(8, 100))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    langs = np.array(["en", "en", "en", "de", "fr", "es", "zh"])
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs[rng.integers(0, len(langs), n)], pa.string()),
        "source": pa.array([f"src{j}" for j in rng.integers(0, 20, n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng):
    n, d, k = SIZES["embeddings"], 64, 10
    centers = rng.normal(size=(k, d))
    labels = rng.integers(0, k, n)
    v = centers[labels] + 0.8 * rng.normal(size=(n, d))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def tables():
    rng = np.random.default_rng(DATA_SEED)
    s = SIZES
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    n = s["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
        "c_mktsegment": pa.array(segs[rng.integers(0, 5, n)])})
    n = s["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2)})
    n = s["part"]
    adj = np.array(["small", "red", "blue", "hot", "cold", "new"])
    noun = np.array(["ring", "widget", "bolt", "anvil", "rod", "plate", "gear"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(adj[rng.integers(0, 6, n)],
                                              noun[rng.integers(0, 7, n)])],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": pa.array(types[rng.integers(0, 6, n)]),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) * 0.1, 1)})
    n = s["orders"]
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, s["customer"], n), pa.int64()),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n)]),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n), 2),
        "o_orderdate": _ts(0, 2404, rng, n),
        "o_orderpriority": pa.array(prio[rng.integers(0, 5, n)])})
    n = s["lineitem"]
    qty = rng.integers(1, 51, n).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, s["orders"], n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, s["part"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n), 2),
        "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
        "l_shipdate": _ts(1, 2499, rng, n)})
    n = s["events"]
    span_us = 30 * 86400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n))
    base = dt.datetime(2024, 1, 1)
    etypes = np.array(["click", "error", "purchase", "signup", "view"])
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array([base + dt.timedelta(microseconds=int(u)) for u in ts],
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, s["users"], n), pa.int64()),
        "event_type": pa.array(etypes[rng.integers(0, 5, n)]),
        "value": np.round(rng.uniform(0.01, 50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})
    out["documents"] = _documents(rng)
    out["embeddings"] = _embeddings(rng)
    return out


def ensure(data_dir):
    """Write the tables into `data_dir` once; return their fingerprint."""
    stamp = os.path.join(data_dir, "_FINGERPRINT")
    if os.path.exists(stamp):
        with open(stamp) as f:
            return f.read().strip()
    os.makedirs(data_dir, exist_ok=True)
    md = hashlib.md5(VERSION.encode())
    for name, t in sorted(tables().items()):
        pq.write_table(t, os.path.join(data_dir, f"{name}.parquet"))
        md.update(name.encode())
        md.update(str(t.to_pydict()).encode())
    fp = md.hexdigest()[:16]
    with open(stamp, "w") as f:
        f.write(fp + "\n")
    return fp
