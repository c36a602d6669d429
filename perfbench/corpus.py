"""Seeded analytics corpus: the 10 parquet tables `graft.core.Tables` reads.

The same seed gives the same tables; the shape (row counts, value domains,
column types) is that of the repository's smallest test scale, 6,000
lineitem rows. Written with pyarrow, like the repository's own test data, so
timestamps are microsecond TIMESTAMP without time zone and embeddings are
list<float>.

Planted structure the dedup and vector families look for:
- every 20th document (id % 20 == 1) repeats its predecessor's text with one
  appended token (near-duplicate pairs);
- every 25th embedding (id % 25 == 1) is its predecessor plus small noise.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCABULARY = ["the", "a", "fast", "slow", "big", "small", "key", "order", "sort", "table",
              "scan", "merge", "part", "window", "hash", "join", "batch", "stream", "spark",
              "group", "query", "row", "data", "filter", "customer", "line", "value", "agg",
              "column", "vector"]


def sizes(scale):
    def n(base):
        return max(10, round(base * scale))
    return dict(customers=n(150), orders=n(1500), lineitem=n(6000), parts=n(200),
                suppliers=10, events=n(1000), users=n(15), docs=n(500), vecs=n(500))


def _write(dir_, name, cols):
    pq.write_table(pa.table(cols), os.path.join(dir_, f"{name}.parquet"))


def write(dir_, seed, scale=1.0):
    """Write the corpus under `dir_`; return the row counts."""
    os.makedirs(dir_, exist_ok=True)
    s = sizes(scale)
    r = np.random.default_rng(seed)

    def pick(values, n):
        return [values[i] for i in r.integers(0, len(values), n)]

    def money(lo, hi, n):
        return np.round(r.uniform(lo, hi, n), 2)

    def days(start, span, n):
        return np.datetime64(start, "us") + r.integers(0, span, n).astype("timedelta64[D]")

    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    _write(dir_, "region", {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": regions})
    _write(dir_, "nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    c = s["customers"]
    _write(dir_, "customer", {
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(r.integers(0, 25, c), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, c),
        "c_mktsegment": pick(["FURNITURE", "MACHINERY", "BUILDING", "HOUSEHOLD", "AUTOMOBILE"], c)})
    n = s["suppliers"]
    _write(dir_, "supplier", {
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(r.integers(0, 25, n), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n)})
    n = s["parts"]
    _write(dir_, "part", {
        "p_partkey": np.arange(n, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(
            pick(["blue", "cold", "small", "red", "large", "green", "tiny", "bright"], n),
            pick(["widget", "anvil", "gadget", "bolt", "gear", "spring", "valve", "lever"], n))],
        "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, n)],
        "p_type": pick(["ECONOMY", "PROMO", "LARGE", "MEDIUM", "STANDARD", "SMALL"], n),
        "p_size": pa.array(r.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 200) / 10.0, 2)})
    n = s["orders"]
    _write(dir_, "orders", {
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": r.integers(0, c, n),
        "o_orderstatus": pick(["F", "O", "P"], n),
        "o_totalprice": money(1000.0, 500000.0, n),
        "o_orderdate": days("1995-01-01", 2404, n),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n)})
    n = s["lineitem"]
    _write(dir_, "lineitem", {
        "l_orderkey": r.integers(0, s["orders"], n),
        "l_partkey": r.integers(0, s["parts"], n),
        "l_suppkey": r.integers(0, s["suppliers"], n),
        "l_linenumber": pa.array(r.integers(1, 8, n), pa.int32()),
        "l_quantity": r.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": money(900.0, 105000.0, n),
        "l_discount": r.integers(0, 11, n) / 100.0,
        "l_tax": r.integers(0, 9, n) / 100.0,
        "l_returnflag": pick(["N", "A", "R"], n),
        "l_linestatus": pick(["O", "F"], n),
        "l_shipdate": days("1995-01-02", 2499, n)})
    n = s["events"]
    # 30 days of events, sub-second timestamps
    _write(dir_, "events", {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") +
              r.integers(0, 30 * 86400 * 10**6, n).astype("timedelta64[us]"),
        "user_id": r.integers(0, s["users"], n),
        "event_type": pick(["view", "click", "purchase", "signup", "error"], n),
        "value": money(0.01, 330.0, n),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n)]})
    n = s["docs"]
    texts = []
    for i in range(n):
        if i % 20 == 1:
            texts.append(texts[-1] + " dup")
        else:
            texts.append(" ".join(pick(VOCABULARY, int(r.integers(10, 100)))))
    _write(dir_, "documents", {
        "doc_id": np.arange(n, dtype=np.int64), "text": texts,
        "lang": pick(["en", "de", "fr", "es", "zh"], n),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    n = s["vecs"]
    emb = r.uniform(-0.3, 0.3, (n, 64))
    for i in range(1, n, 25):
        emb[i] = emb[i - 1] + r.uniform(-0.003, 0.003, 64)
    _write(dir_, "embeddings", {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(emb.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n), pa.int32())})
    return s
