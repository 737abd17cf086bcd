"""Seeded input generator for the benchmark.

The program only ever sees the directories written here. Every value
that an oracle sums is a dyadic rational (k/4, k/64), so sums are exact
in binary floating point and the Spark and DuckDB results agree bit
for bit whatever order either engine adds them in.

Both workloads read the same inputs: the ten tables of the test-data
schema (star schema, `events`, documents, embeddings) at sf0.002 shape
(30 stocks). The seed draws each stock's listing length (45-99 days, so
the hard-coded anchors stock 7, days 30 and 40 exist for every seed), the
order of the events, a bijective relabeling of every star-schema key
(foreign keys relabeled with the same map), and all values.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_STOCKS = 30
MIN_DAYS, MAX_DAYS = 45, 99
N_CUSTOMERS, N_SUPPLIERS, N_PARTS, N_ORDERS = 300, 20, 400, 3000
N_DOCS, N_VECS, VEC_DIM = 500, 500, 64

EPOCH = dt.datetime(1970, 1, 1)
WORDS = ("key agg row scan slow fast table value part hash merge batch spark "
         "the a line sort window order data column join small customer query "
         "big stream group filter index cache plan stage task shuffle").split()


def _ts(days_since_1995):
    base = (dt.datetime(1995, 1, 1) - EPOCH).days
    return pa.array((base + days_since_1995).astype("int64") * 86_400_000_000,
                    pa.timestamp("us"))


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _relabel(rng, n):
    """A seed-keyed bijection of 0..n-1, applied to a key and to every
    foreign key that points at it."""
    return rng.permutation(n).astype("int64")


def generate(out, seed):
    rng = np.random.RandomState(seed)
    os.makedirs(out, exist_ok=True)
    i32, i64, f64 = pa.int32(), pa.int64(), pa.float64()

    # events -> the quotes panel: stock = user_id, day = rank of event_id
    lengths = rng.randint(MIN_DAYS, MAX_DAYS + 1, size=N_STOCKS)
    users = rng.permutation(np.repeat(np.arange(N_STOCKS), lengths))
    n_ev = len(users)
    start_us = int((dt.datetime(2024, 1, 1) - EPOCH).total_seconds()) * 1_000_000
    ts = start_us + np.cumsum(rng.randint(1_000_000, 480_000_000, size=n_ev))
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(users, i64),
        "event_type": pa.array(rng.choice(
            ["click", "view", "purchase", "signup", "error"], n_ev)),
        "value": pa.array(rng.randint(1, 31_360, n_ev) / 64.0, f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.randint(0, 100, n_ev)]),
    })

    _write(out, "region", {
        "r_regionkey": pa.array(np.arange(5), i32),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    _write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25) % 5, i32),
    })

    cust, supp, part, order = (_relabel(rng, n) for n in
                               (N_CUSTOMERS, N_SUPPLIERS, N_PARTS, N_ORDERS))
    _write(out, "customer", {
        "c_custkey": pa.array(cust, i64),
        "c_name": pa.array([f"Customer#{k:09d}" for k in cust]),
        "c_nationkey": pa.array(rng.randint(0, 25, N_CUSTOMERS), i32),
        "c_acctbal": pa.array(rng.randint(-63_616, 639_834, N_CUSTOMERS) / 64.0, f64),
        "c_mktsegment": pa.array(rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
            N_CUSTOMERS)),
    })
    _write(out, "supplier", {
        "s_suppkey": pa.array(supp, i64),
        "s_name": pa.array([f"Supplier#{k:09d}" for k in supp]),
        "s_nationkey": pa.array(rng.randint(0, 25, N_SUPPLIERS), i32),
        "s_acctbal": pa.array(rng.randint(-52_544, 637_184, N_SUPPLIERS) / 64.0, f64),
    })
    retail = rng.randint(3600, 4000, N_PARTS) / 4.0
    adjectives = ["small", "large", "blue", "red", "green", "shiny", "matte", "heavy"]
    nouns = ["ring", "widget", "anvil", "bolt", "gear", "spring", "valve", "panel"]
    _write(out, "part", {
        "p_partkey": pa.array(part, i64),
        "p_name": pa.array([f"{rng.choice(adjectives)} {rng.choice(nouns)}"
                            for _ in range(N_PARTS)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.randint(1, 26, N_PARTS)]),
        "p_type": pa.array(rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], N_PARTS)),
        "p_size": pa.array(rng.randint(1, 51, N_PARTS), i32),
        "p_retailprice": pa.array(retail, f64),
    })

    odate = rng.randint(0, 2404, N_ORDERS)
    _write(out, "orders", {
        "o_orderkey": pa.array(order, i64),
        "o_custkey": pa.array(cust[rng.randint(0, N_CUSTOMERS, N_ORDERS)], i64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], N_ORDERS)),
        "o_totalprice": pa.array(rng.randint(4_000, 2_000_000, N_ORDERS) / 4.0, f64),
        "o_orderdate": _ts(odate),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], N_ORDERS)),
    })

    lines = rng.randint(1, 8, N_ORDERS)
    li_order = np.repeat(np.arange(N_ORDERS), lines)
    n_li = len(li_order)
    li_part = rng.randint(0, N_PARTS, n_li)
    qty = rng.randint(1, 51, n_li).astype("float64")
    _write(out, "lineitem", {
        "l_orderkey": pa.array(order[li_order], i64),
        "l_partkey": pa.array(part[li_part], i64),
        "l_suppkey": pa.array(supp[rng.randint(0, N_SUPPLIERS, n_li)], i64),
        "l_linenumber": pa.array(np.concatenate([np.arange(1, k + 1) for k in lines]), i32),
        "l_quantity": pa.array(qty, f64),
        "l_extendedprice": pa.array(qty * retail[li_part], f64),
        "l_discount": pa.array(rng.randint(0, 7, n_li) / 64.0, f64),
        "l_tax": pa.array(rng.randint(0, 6, n_li) / 64.0, f64),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_li)),
        "l_shipdate": _ts(odate[li_order] + rng.randint(1, 121, n_li)),
    })

    texts = [" ".join(rng.choice(WORDS, rng.randint(10, 90))) for _ in range(N_DOCS)]
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(N_DOCS), i64),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(["de", "en", "es", "fr", "zh"], N_DOCS)),
        "source": pa.array([f"src{k}" for k in rng.randint(0, 20, N_DOCS)]),
        "n_chars": pa.array([len(t) for t in texts], i64),
    })
    vecs = (rng.randint(-32, 33, (N_VECS, VEC_DIM)) / 128.0).astype("float32")
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(N_VECS), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.randint(0, 10, N_VECS), i32),
    })
