"""Seeded input tables for the benchmark.

The tables have the shapes of ``scripts/gen_scale.py`` (dense 0-based keys,
uniform order fan-out over customers, small-vocabulary word-salad documents
with a duplicate stratum, 64-dim float embeddings), but every random draw
comes from the benchmark's ``--seed``, so two seeds give two different graphs
and corpora of the same size. ``scale`` multiplies the sf0.1 row counts.
Only the tables the workloads read are written.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark batch line column order small sort fast value scan hash slow "
    "group query table vector part agg stream customer the key filter "
    "window join a g"
).split()

# sf0.1 row counts (TESTDATA.md)
BASE = {"customer": 15_000, "orders": 150_000, "documents": 5_000, "embeddings": 2_000}


def _rng(seed: int, table: str) -> np.random.Generator:
    # one independent stream per (seed, table): adding a table never shifts
    # the draws of another
    return np.random.default_rng([seed, sum(map(ord, table))])


def customer(n: int, seed: int) -> pa.Table:
    rng = _rng(seed, "customer")
    i = np.arange(n, dtype=np.int64)
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY", "HOUSEHOLD"])
    return pa.table({
        "c_custkey": i,
        "c_name": pa.array(np.char.add("Customer#", i.astype(str))),
        "c_nationkey": (i * 7 % 25).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
        "c_mktsegment": pa.array(segs[i * 13 % 5]),
    })


def orders(m: int, n_cust: int, seed: int) -> pa.Table:
    rng = _rng(seed, "orders")
    i = np.arange(m, dtype=np.int64)
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    return pa.table({
        "o_orderkey": i,
        # independent of the o_orderkey hash that builder.GRAPH_CTE uses
        # for dst (see gen_scale.gen_orders)
        "o_custkey": rng.integers(0, n_cust, size=m, dtype=np.int64),
        "o_orderstatus": pa.array(np.array(["O", "F", "P"])[i * 31 % 3]),
        "o_totalprice": np.round(rng.uniform(900.0, 400_000.0, m), 2),
        "o_orderdate": pa.array(
            np.datetime64("1995-01-01") + ((i * 17) % 2557).astype("timedelta64[D]"),
            pa.timestamp("us"),
        ),
        "o_orderpriority": pa.array(prio[i * 19 % 5]),
    })


def documents(n: int, seed: int) -> pa.Table:
    rng = _rng(seed, "documents")
    pool = rng.integers(0, len(VOCAB), size=1_000_003)
    vocab = np.array(VOCAB)
    i = np.arange(n, dtype=np.int64)
    # dup stratum: every 613th doc repeats doc 0's text (gen_scale's rate)
    key = np.where((i % 613 == 0) & (i >= 613), 0, i)
    n_words = 8 + (key * 2654435761 % 90)
    start = key * 1009 % len(pool)
    texts = [
        " ".join(vocab[pool[(s + np.arange(w)) % len(pool)]])
        for s, w in zip(start.tolist(), n_words.tolist())
    ]
    langs = np.array(["en", "en", "en", "de", "fr", "es", "zh"])
    return pa.table({
        "doc_id": i,
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs[i * 11 % 7]),
        "source": pa.array(np.char.add("src", (i % 10).astype(str))),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(n: int, seed: int) -> pa.Table:
    rng = _rng(seed, "embeddings")
    vecs = np.round(rng.uniform(-1.0, 1.0, size=(n, 64)), 6).astype(np.float32)
    i = np.arange(n, dtype=np.int64)
    return pa.table({
        "vec_id": i,
        "embedding": pa.FixedSizeListArray.from_arrays(vecs.ravel(), 64).cast(
            pa.list_(pa.float32())
        ),
        "label": (i * 23 % 10).astype(np.int32),
    })


def write_tables(out: str, scale: float, seed: int, names: tuple[str, ...]) -> dict[str, int]:
    """Write the named tables at ``scale`` x sf0.1 under ``out``; return row
    counts. A table already written for this (scale, seed) is reused."""
    n_cust = int(BASE["customer"] * scale)
    makers = {
        "customer": lambda: customer(n_cust, seed),
        "orders": lambda: orders(int(BASE["orders"] * scale), n_cust, seed),
        "documents": lambda: documents(int(BASE["documents"] * scale), seed),
        "embeddings": lambda: embeddings(int(BASE["embeddings"] * scale), seed),
    }
    os.makedirs(out, exist_ok=True)
    rows = {}
    for name in names:
        path = os.path.join(out, f"{name}.parquet")
        if not os.path.exists(path):
            tmp = path + ".tmp"
            pq.write_table(makers[name](), tmp)
            os.replace(tmp, path)
        rows[name] = pq.read_metadata(path).num_rows
    return rows
