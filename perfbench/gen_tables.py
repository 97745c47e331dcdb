"""Seeded parquet tables for the `queries` workload.

The ten tables have the column names and types the registry entries load
(`graft.queries.T.contract`): a TPC-H-like star schema, an `events` stream
table and the `documents` / `embeddings` tables. Sizes follow the 0.01
scale: 60,000 lineitem rows, 500 documents, 500 embeddings. The same seed
gives the same bytes.
"""
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
SIZES = dict(customer=1500, supplier=100, part=2000, orders=15000,
             lineitem=60000, events=10000, documents=500, embeddings=500)


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * 86_400_000).astype("datetime64[ms]")


def _money(rng, n, lo, hi):
    return rng.integers(int(lo * 100), int(hi * 100), n) / 100.0


def tables(seed):
    rng = np.random.default_rng(seed)
    s = SIZES
    i32, i64 = pa.int32(), pa.int64()
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    n = s["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(range(n), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), i32),
        "c_acctbal": _money(rng, n, -999.99, 9999.99),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n)})
    n = s["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), i32),
        "s_acctbal": _money(rng, n, -999.99, 9999.99)})
    n = s["part"]
    adj = ["large", "hot", "small", "blue", "red", "green", "smooth", "bright"]
    noun = ["ring", "bolt", "nut", "screw", "gear", "pipe", "valve", "spring"]
    out["part"] = pa.table({
        "p_partkey": pa.array(range(n), i64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n), rng.integers(0, 8, n))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": rng.choice(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM",
                              "PROMO"], n),
        "p_size": pa.array(rng.integers(1, 51, n), i32),
        "p_retailprice": [900.0 + (k % 1000) / 10.0 for k in range(n)]})
    n = s["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(n), i64),
        "o_custkey": pa.array(rng.integers(0, s["customer"], n), i64),
        "o_orderstatus": rng.choice(["O", "F", "P"], n),
        "o_totalprice": _money(rng, n, 1000, 450000),
        "o_orderdate": pa.array(_days(rng, n, "1995-01-01", "2001-08-01"),
                                pa.timestamp("ms")),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n)})
    n = s["lineitem"]
    qty = rng.integers(1, 51, n).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, s["orders"], n), i64),
        "l_partkey": pa.array(rng.integers(0, s["part"], n), i64),
        "l_suppkey": pa.array(rng.integers(0, s["supplier"], n), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n), i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _money(rng, n, 900, 2000), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["N", "A", "R"], n),
        "l_linestatus": rng.choice(["O", "F"], n),
        "l_shipdate": pa.array(_days(rng, n, "1995-01-01", "2001-12-31"),
                               pa.timestamp("ms"))})
    n = s["events"]
    start_us = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n)) + start_us
    out["events"] = pa.table({
        "event_id": pa.array(range(n), i64),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n), i64),
        "event_type": rng.choice(["signup", "click", "error", "view", "purchase"], n),
        "value": _money(rng, n, 0, 200),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})
    n = s["documents"]
    texts = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    out["documents"] = pa.table({
        "doc_id": pa.array(range(n), i64),
        "text": texts,
        "lang": rng.choice(["en", "fr", "es", "zh", "de"], n,
                           p=[0.44, 0.13, 0.15, 0.14, 0.14]),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], i64)})
    n = s["embeddings"]
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0, 1, (10, 64))
    v = rng.normal(0, 1, (n, 64)) + 0.15 * centers[labels]
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(range(n), i64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})
    return out


def write(seed, out_dir):
    for name, t in tables(seed).items():
        pq.write_table(t, f"{out_dir}/{name}.parquet")
