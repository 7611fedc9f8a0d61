"""Seeded TPC-H-ish tables for the query suite.

The benchmark reads nothing outside its checkout, and the fixed sf0.1
test tables are not part of the repository, so the suite generates
their stand-ins: the same table and column names and types, and the
sf0.1 tables' row counts (150k orders, ~600k line items, 100k events
of 1.5k users over 30 days, 5k documents of 10-100 words, 2k 64-dim
embeddings in 10 labels). One parquet file per table, so the queries
and their DuckDB oracles read identical bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_ORDERS = 150_000
N_CUSTOMERS = 15_000
N_SUPPLIERS = 1_000
N_EVENTS = 100_000
N_USERS = 1_500
N_DOCS = 5_000
DUP_SHARE = 0.1      # documents that are light edits of an earlier one
N_VECS = 2_000
DIM = 64
N_LABELS = 10
TABLES = ("lineitem", "orders", "events", "documents", "embeddings")

_WORDS = ("a the data table row column key value part line order group agg "
          "join merge sort scan filter query spark stream batch window hash "
          "fast slow big small customer vector index shard cache").split()
_T0 = np.datetime64("2024-01-01T00:00:00", "us")


def _ts(rng, n: int, span_days: int) -> np.ndarray:
    return _T0 + rng.integers(0, span_days * 86_400_000_000, size=n).astype(
        "timedelta64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size=n), 2)


def orders_lineitem(rng) -> tuple[pa.Table, pa.Table]:
    okey = np.arange(1, N_ORDERS + 1, dtype=np.int64)
    lines = rng.integers(1, 8, size=N_ORDERS)
    l_okey = np.repeat(okey, lines)
    n = len(l_okey)
    lnum = (np.arange(n) - np.repeat(np.cumsum(lines) - lines, lines) + 1)
    qty = rng.integers(1, 51, size=n).astype(np.float64)
    price = np.round(qty * _money(rng, 9.0, 105.0, n), 2)
    flag = rng.choice(np.array(["A", "N", "R"]), size=n)
    lineitem = pa.table({
        "l_orderkey": l_okey,
        "l_partkey": rng.integers(1, 20_001, size=n).astype(np.int64),
        "l_suppkey": rng.integers(1, N_SUPPLIERS + 1, size=n).astype(np.int64),
        "l_linenumber": lnum.astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": np.round(rng.integers(0, 11, size=n) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, size=n) / 100.0, 2),
        "l_returnflag": flag,
        "l_linestatus": np.where(flag == "N", "O", "F"),
        "l_shipdate": _ts(rng, n, 2_000),
    })
    orders = pa.table({
        "o_orderkey": okey,
        "o_custkey": rng.integers(1, N_CUSTOMERS + 1, size=N_ORDERS).astype(np.int64),
        "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), size=N_ORDERS),
        "o_totalprice": _money(rng, 900.0, 400_000.0, N_ORDERS),
        # whole days, so first-order ties are broken by the order key
        "o_orderdate": _T0 + (rng.integers(0, 2_000, size=N_ORDERS)
                              * 86_400_000_000).astype("timedelta64[us]"),
        "o_orderpriority": rng.choice(
            np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]),
            size=N_ORDERS),
    })
    return orders, lineitem


def events(rng) -> pa.Table:
    return pa.table({
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts": np.sort(_ts(rng, N_EVENTS, 30)),
        "user_id": rng.integers(0, N_USERS, size=N_EVENTS).astype(np.int64),
        "event_type": rng.choice(
            np.array(["signup", "error", "click", "view", "purchase"]), size=N_EVENTS),
        "value": _money(rng, 0.5, 100.0, N_EVENTS),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=N_EVENTS)],
    })


def documents(rng) -> pa.Table:
    texts: list[str] = []
    for i in range(N_DOCS):
        if texts and rng.random() < DUP_SHARE:
            words = texts[int(rng.integers(0, len(texts)))].split()
            for j in rng.integers(0, len(words), size=max(1, len(words) // 20)):
                words[j] = _WORDS[int(rng.integers(0, len(_WORDS)))]
        else:
            words = [_WORDS[k] for k in rng.integers(0, len(_WORDS),
                                                     size=int(rng.integers(10, 101)))]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(np.array(["en", "zh", "es", "de", "fr"]), size=N_DOCS),
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(rng) -> pa.Table:
    centers = rng.standard_normal((N_LABELS, DIM))
    label = rng.integers(0, N_LABELS, size=N_VECS)
    vecs = (centers[label] + 0.6 * rng.standard_normal((N_VECS, DIM))).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(N_VECS, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": label.astype(np.int32),
    })


def write_tables(out_dir: str, seed: int) -> None:
    rng = np.random.default_rng(seed)
    orders, lineitem = orders_lineitem(rng)
    os.makedirs(out_dir, exist_ok=True)
    for name, table in (("orders", orders), ("lineitem", lineitem),
                        ("events", events(rng)), ("documents", documents(rng)),
                        ("embeddings", embeddings(rng))):
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
