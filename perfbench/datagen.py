"""Seeded input tables for the analytics_batch workload.

The tables follow the fixture schemas the library reads through
graft.Tables (a TPC-H-like star schema plus events, documents and
embeddings). Everything derives from the seed, so the same seed gives the
same rows. Sizes and duplicate counts do not depend on the seed: one
document in ten is an exact copy of an earlier one and one in ten a near
copy, and one embedding in twenty a near copy. The dedup keys then have
clusters to find on every seed, and take the same code paths (a seed with
no exact duplicate would skip their fan-back).
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Rows per table at scale 1.0 (the 0.01 scale factor of the fixture set).
BASE_ROWS = {
    "customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
    "lineitem": 60000, "events": 10000,
}
# Documents and embeddings do not scale with the rest, as in the fixture set.
FIXED_ROWS = {"documents": 200, "embeddings": 500}
WORDS = ("row the query stream fast spark line small customer group value "
         "hash batch sort data big filter dup key agg scan slow table part a "
         "merge window order column join vector").split()
DIM = 64


def _ts(rng, n, start, days):
    base = np.datetime64(start, "us")
    off = rng.integers(0, days, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return base + off


def _docs(rng, n):
    texts = []
    for i in range(n):
        if i >= 10 and i % 10 == 3:
            texts.append(texts[rng.integers(0, i)])
        elif i >= 10 and i % 10 == 6:
            words = texts[rng.integers(0, i)].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = WORDS[rng.integers(0, len(WORDS))]
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(WORDS[w] for w in rng.integers(0, len(WORDS), k)))
    return texts


def _embeddings(rng, n):
    labels = rng.integers(0, 10, n)
    centres = rng.normal(0, 1, (10, DIM))
    vecs = centres[labels] * 0.4 + rng.normal(0, 1, (n, DIM))
    for i in range(10, n):
        if i % 20 == 9:
            j = int(rng.integers(0, i))
            vecs[i] = vecs[j] + rng.normal(0, 0.01, DIM)
            labels[i] = labels[j]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return vecs.astype(np.float32), labels.astype(np.int32)


def tables(seed, scale):
    rng = np.random.default_rng(seed)
    n = {t: max(1, int(r * scale)) for t, r in BASE_ROWS.items()}
    n.update(FIXED_ROWS)
    money = lambda lo, hi, k: np.round(rng.uniform(lo, hi, k), 2)
    out = {
        "region": {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
        "nation": {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())},
    }
    c = n["customer"]
    out["customer"] = {
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": rng.integers(0, 25, c).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, c),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], c)}
    s = n["supplier"]
    out["supplier"] = {
        "s_suppkey": np.arange(s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": rng.integers(0, 25, s).astype(np.int32),
        "s_acctbal": money(-999.99, 9999.99, s)}
    p = n["part"]
    adj = ["small", "red", "blue", "green", "large", "shiny", "old", "new"]
    noun = ["ring", "widget", "bolt", "gear", "valve", "pipe", "nut", "spring"]
    out["part"] = {
        "p_partkey": np.arange(p, dtype=np.int64),
        "p_name": [f"{adj[rng.integers(0, 8)]} {noun[rng.integers(0, 8)]}"
                   for _ in range(p)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, p)],
        "p_type": rng.choice(["ECONOMY", "STANDARD", "LARGE", "SMALL",
                              "MEDIUM", "PROMO"], p),
        "p_size": rng.integers(1, 51, p).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(p) % 1000) * 0.1, 1)}
    o = n["orders"]
    out["orders"] = {
        "o_orderkey": np.arange(o, dtype=np.int64),
        "o_custkey": rng.integers(0, c, o).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], o),
        "o_totalprice": money(1000, 500000, o),
        "o_orderdate": _ts(rng, o, "1995-01-01", 2404),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], o)}
    li = n["lineitem"]
    qty = rng.integers(1, 51, li).astype(np.float64)
    out["lineitem"] = {
        "l_orderkey": rng.integers(0, o, li).astype(np.int64),
        "l_partkey": rng.integers(0, p, li).astype(np.int64),
        "l_suppkey": rng.integers(0, s, li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, li).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, li), 2),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], li),
        "l_linestatus": rng.choice(["F", "O"], li),
        "l_shipdate": _ts(rng, li, "1995-01-02", 2498)}
    e = n["events"]
    step = 30 * 86400 * 1_000_000 // e
    ts = (np.datetime64("2024-01-01", "us")
          + (np.arange(e) * step + rng.integers(0, step, e)).astype("timedelta64[us]"))
    out["events"] = {
        "event_id": np.arange(e, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, max(1, c // 10), e).astype(np.int64),
        "event_type": rng.choice(["click", "signup", "error", "view",
                                  "purchase"], e),
        "value": np.round(rng.exponential(50, e) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]}
    d = n["documents"]
    texts = _docs(rng, d)
    out["documents"] = {
        "doc_id": np.arange(d, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "en", "zh", "de", "es", "fr"], d),
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}
    m = n["embeddings"]
    vecs, labels = _embeddings(rng, m)
    out["embeddings"] = {
        "vec_id": np.arange(m, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels}
    return out


def generate(dest, seed, scale):
    """Write every table as `<dest>/<name>.parquet`; returns total rows."""
    os.makedirs(dest, exist_ok=True)
    total = 0
    for name, cols in tables(seed, scale).items():
        t = pa.table(cols)
        pq.write_table(t, os.path.join(dest, f"{name}.parquet"))
        total += t.num_rows
    return total
