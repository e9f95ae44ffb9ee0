"""Deterministic synthetic inputs for the benchmark.

The tables follow the shapes of the project's testdata (TESTDATA.md):
same columns, types, key ranges and value distributions, so every query
key and its DuckDB oracle run unchanged on them. Sizes are given per
table, so each workload generates only what it reads. The same seed
always gives byte-identical parquet files.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
LANGS = np.array(["en", "fr", "es", "zh", "de"])
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = np.array(
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window".split())
EPOCH = dt.datetime(1970, 1, 1)


def _us(d: dt.datetime) -> int:
    return (d - EPOCH) // dt.timedelta(microseconds=1)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def events(rng, n):
    t0, t1 = _us(dt.datetime(2024, 1, 1)), _us(dt.datetime(2024, 1, 31))
    users = max(15, n * 15 // 1000)
    return pa.table({
        "event_id": np.arange(n, dtype="int64"),
        "ts": _ts(np.sort(rng.integers(t0, t1, n))),
        "user_id": rng.integers(0, users, n),
        "event_type": EVENT_TYPES[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": ['{"k": %d}' % k for k in rng.integers(0, 100, n)],
    })


def documents(rng, n):
    lens = rng.integers(10, 101, n)
    texts = [" ".join(WORDS[rng.integers(0, len(WORDS), k)]) for k in lens]
    # one document in twenty is a near-duplicate of another (its text
    # plus a trailing marker word), which is what the dedup keys find
    for i in np.flatnonzero(rng.random(n) < 0.05):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    ids = np.arange(n, dtype="int64")
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": LANGS[rng.choice(5, n, p=LANG_P)],
        "source": ["src%d" % (i % 20) for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })


def orders(rng, n):
    d0, d1 = _us(dt.datetime(1995, 1, 1)), _us(dt.datetime(2001, 8, 2))
    day = 86_400_000_000
    return pa.table({
        "o_orderkey": np.arange(n, dtype="int64"),
        "o_custkey": rng.integers(0, max(1, n // 10), n),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _ts(rng.integers(d0 // day, d1 // day, n) * day),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[
            rng.integers(0, 5, n)],
    })


def lineitem(rng, n, n_orders):
    d0, d1 = _us(dt.datetime(1995, 1, 2)), _us(dt.datetime(2001, 11, 5))
    day = 86_400_000_000
    return pa.table({
        "l_orderkey": rng.integers(0, n_orders, n),
        "l_partkey": rng.integers(0, max(1, n // 30), n),
        "l_suppkey": rng.integers(0, max(1, n // 600), n),
        "l_linenumber": rng.integers(1, 8, n).astype("int32"),
        "l_quantity": rng.integers(1, 51, n).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": _ts(rng.integers(d0 // day, d1 // day, n) * day),
    })


def generate(out_dir, seed, sizes):
    """Writes `<table>.parquet` under `out_dir` for every table named in
    `sizes` (table -> row count). Each table draws from its own stream
    of `seed`, so adding a table never changes the others."""
    os.makedirs(out_dir, exist_ok=True)
    tables = {
        "events": events,
        "documents": documents,
        "orders": orders,
        "lineitem": lambda rng, n: lineitem(rng, n, sizes.get("orders", max(1, n // 4))),
    }
    for i, (name, make) in enumerate(tables.items()):
        if name in sizes:
            t = make(np.random.default_rng([seed, i]), sizes[name])
            pq.write_table(t, os.path.join(out_dir, name + ".parquet"))
