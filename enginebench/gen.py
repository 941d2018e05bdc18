"""Seeded input generator for the engine benchmark.

Writes the ten parquet tables the engine's queries and the DuckDB oracle
read (region, nation, customer, supplier, part, orders, lineitem, events,
documents, embeddings) with the schemas and value domains of the fixture
tables described in FIXTURES.md. Sizes come from a `Sizes` record, so each
workload can scale the tables its queries read and keep the rest small.

The same seed and sizes give byte-identical files.

Usage: python3 enginebench/gen.py <out_dir> <seed> [workload]
"""
import os
import sys
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_ADJ = "blue hot large red small steel".split()
PART_NOUN = "bolt gear nut ring screw valve".split()
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
DAY_US = 86_400 * 1_000_000


@dataclass(frozen=True)
class Sizes:
    users: int = 150            # distinct event series
    events_per_user: int = 66
    customers: int = 1_500
    suppliers: int = 100
    parts: int = 2_000
    orders: int = 15_000
    docs: int = 500
    vecs: int = 500


def _write(out_dir, name, table):
    # fixed writer settings, no creation-time metadata: same seed, same bytes
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                   compression="snappy", use_dictionary=True,
                   write_statistics=True, store_schema=False)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(rng, start, days, n):
    """Date-valued timestamps (midnight) as microseconds since the epoch."""
    base = np.datetime64(start, "D").astype("int64")
    return (base + rng.integers(0, days + 1, n)) * DAY_US


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def gen_events(rng, s):
    n = s.users * s.events_per_user
    start = np.datetime64("2024-01-01", "D").astype("int64") * DAY_US
    ts = np.sort(start + rng.integers(0, 30 * DAY_US, n))
    # a seeded bijection of series keys, so no key carries a fixed meaning
    keys = rng.permutation(s.users).astype("int64")
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype="int64")),
        "ts": _ts(ts),
        "user_id": pa.array(keys[rng.integers(0, s.users, n)]),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def gen_documents(rng, s):
    n = s.docs
    lengths = rng.integers(10, 101, n)
    words = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(lengths.sum()))]
    cuts = np.concatenate([[0], np.cumsum(lengths)])
    texts = [" ".join(words[cuts[i]:cuts[i + 1]]) for i in range(n)]
    # one doc in twenty is a near-duplicate: another doc's text plus " dup"
    for i in np.flatnonzero(rng.random(n) < 0.05):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype="int64")),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
    })


def gen_embeddings(rng, s):
    n, dim = s.vecs, 64
    labels = rng.integers(0, 10, n).astype("int32")
    centers = rng.normal(0.0, 0.5 / np.sqrt(dim), (10, dim))
    x = centers[labels] + rng.normal(0.0, 1.0 / np.sqrt(dim), (n, dim))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype("float32")
    emb = pa.ListArray.from_arrays(np.arange(0, n * dim + 1, dim, dtype="int32"),
                                   pa.array(x.reshape(-1), type=pa.float32()))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype="int64")),
        "embedding": emb,
        "label": pa.array(labels),
    })


def gen_business(rng, s):
    """region, nation, customer, supplier, part, orders and lineitem."""
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(np.arange(5, dtype="int32")),
                            "r_name": pa.array(REGIONS)})
    t["nation"] = pa.table({"n_nationkey": pa.array(np.arange(25, dtype="int32")),
                            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                            "n_regionkey": pa.array(np.arange(25, dtype="int32") % 5)})
    c = s.customers
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(c, dtype="int64")),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)]),
        "c_nationkey": pa.array(rng.integers(0, 25, c).astype("int32")),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, c)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, c)]),
    })
    sp = s.suppliers
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(sp, dtype="int64")),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(sp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, sp).astype("int32")),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, sp)),
    })
    p = s.parts
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(p, dtype="int64")),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                            zip(rng.integers(0, 6, p), rng.integers(0, 6, p))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, p)]),
        "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, p)]),
        "p_size": pa.array(rng.integers(1, 51, p).astype("int32")),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(p) % 1000) * 0.1, 2)),
    })
    o = s.orders
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(o, dtype="int64")),
        "o_custkey": pa.array(rng.integers(0, c, o).astype("int64")),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, o)]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, o)),
        "o_orderdate": _ts(_dates(rng, "1995-01-01", 2404, o)),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, o)]),
    })
    li = 4 * o
    qty = rng.integers(1, 51, li).astype("float64")
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li).astype("int64")),
        "l_partkey": pa.array(rng.integers(0, p, li).astype("int64")),
        "l_suppkey": pa.array(rng.integers(0, sp, li).astype("int64")),
        "l_linenumber": pa.array(rng.integers(1, 8, li).astype("int32")),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, li)),
        "l_discount": pa.array(rng.integers(0, 11, li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, li) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, li)]),
        "l_shipdate": _ts(_dates(rng, "1995-01-02", 2498, li)),
    })
    return t


def generate(out_dir, seed, sizes):
    """Writes all ten tables for `seed` and `sizes` into `out_dir`."""
    os.makedirs(out_dir, exist_ok=True)
    # one independent stream per table family, so resizing one family
    # leaves the others' bytes unchanged
    streams = np.random.SeedSequence(seed).spawn(4)
    tables = gen_business(np.random.default_rng(streams[0]), sizes)
    tables["events"] = gen_events(np.random.default_rng(streams[1]), sizes)
    tables["documents"] = gen_documents(np.random.default_rng(streams[2]), sizes)
    tables["embeddings"] = gen_embeddings(np.random.default_rng(streams[3]), sizes)
    for name, table in tables.items():
        _write(out_dir, name, table)


if __name__ == "__main__":
    from workloads import WORKLOADS
    w = WORKLOADS[sys.argv[3]] if len(sys.argv) > 3 else None
    generate(sys.argv[1], int(sys.argv[2]), w.sizes if w else Sizes())
