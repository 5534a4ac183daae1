"""Seeded analytics tables for the `analytics_barriers` workload.

Writes the ten tables `graft.util.Tables` reads (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings), one parquet
file each, with the column names and parquet types of the repository's
test tables (TESTDATA.md) and row counts of its sf0.01 set. Value shapes
follow that set: TPC-H-style keys and codes, 150 users emitting five event
types over 30 days with `{"k": n}` payloads, documents of 10-100 words over
a 30-word vocabulary in five languages with about 5% near-duplicates (an
earlier document plus trailing `dup` tokens), and 64-dimensional unit
embeddings around ten weak label centroids.

The same seed gives byte-identical tables.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

NAMES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
         "events", "documents", "embeddings")
ROWS = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
        "events": 10000, "documents": 500, "embeddings": 500}
USERS = 150
DIM = 64
VOCAB = ("a the agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark stream "
         "table value vector window").split()
LANGS = (("en", 0.44), ("zh", 0.14), ("de", 0.14), ("fr", 0.14), ("es", 0.14))
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_WORDS = (["blue", "red", "green", "small", "large"],
              ["anvil", "bolt", "ring", "widget", "gear"])
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000     # 1995-01-01 in µs
EPOCH_2024 = 1_704_067_200_000_000   # 2024-01-01 in µs


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def tables(seed):
    """name -> pyarrow.Table"""
    rng = np.random.default_rng(seed)
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": REGIONS})
    t["nation"] = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": ["NATION_%d" % i for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    n = ROWS["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n), pa.int64()),
        "c_name": ["Customer#%09d" % i for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n)]})
    n = ROWS["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n), pa.int64()),
        "s_name": ["Supplier#%09d" % i for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n)})
    n = ROWS["part"]
    a, b = PART_WORDS
    t["part"] = pa.table({
        "p_partkey": pa.array(range(n), pa.int64()),
        "p_name": ["%s %s" % (a[i], b[j]) for i, j in rng.integers(0, 5, (n, 2))],
        "p_brand": ["Brand#%d" % i for i in rng.integers(1, 26, n)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n)],
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) * 0.1, 2)})
    n = ROWS["orders"]
    odate = EPOCH_1995 + rng.integers(0, 2404, n) * DAY_US
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, ROWS["customer"], n), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _ts(odate),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n)]})
    per = rng.integers(1, 8, n)
    okey = np.repeat(np.arange(n), per)
    m = len(okey)
    qty = rng.integers(1, 51, m).astype(float)
    pkey = rng.integers(0, ROWS["part"], m)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(pkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ROWS["supplier"], m), pa.int64()),
        "l_linenumber": pa.array(np.concatenate([np.arange(1, k + 1) for k in per]), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * (900.0 + (pkey % 1000) * 0.1) * rng.uniform(1.0, 2.1, m), 2),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, m)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, m)],
        "l_shipdate": _ts(odate[okey] + rng.integers(1, 122, m) * DAY_US)})
    n = ROWS["events"]
    gaps = rng.exponential(30 * DAY_US / n, n)
    t["events"] = pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": _ts(EPOCH_2024 + np.cumsum(gaps).astype(np.int64)),
        "user_id": pa.array(rng.integers(0, USERS, n), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n)],
        "value": np.round(rng.uniform(0.01, 490.02, n), 2),
        "props": ['{"k": %d}' % k for k in rng.integers(0, 100, n)]})
    n = ROWS["documents"]
    names, probs = zip(*LANGS)
    texts = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[rng.integers(0, i)] + " dup" * int(rng.integers(1, 3)))
        else:
            texts.append(" ".join(VOCAB[w] for w in rng.integers(0, len(VOCAB),
                                                                 rng.integers(10, 101))))
    t["documents"] = pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": [names[i] for i in rng.choice(len(names), n, p=probs)],
        "source": ["src%d" % (i % 20) for i in range(n)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    n = ROWS["embeddings"]
    label = rng.integers(0, 10, n)
    centres = rng.normal(0.0, 1.0, (10, DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    x = 0.14 * centres[label] + rng.normal(0.0, 0.125, (n, DIM))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(list(x.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})
    return t


def write(seed, out_dir):
    """Writes `<out_dir>/<name>.parquet` for every table; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, name + ".parquet"))
        rows[name] = table.num_rows
    return rows
