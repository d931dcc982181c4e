"""Seeded input tables for the benchmark, written as parquet.

Shapes follow the engine's TPC-H-like test tables: `lineitem` keyed by
(l_orderkey, l_linenumber), `embeddings` with 64-dim unit vectors, and the
text/event tables the operator queries read. `lineitem` keys are unique, so
a point read has exactly one expected row.

Every table is a pure function of its seed: the same seed writes the same
rows.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
SEGMENTS = ["FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

_DAY_US = 86_400_000_000
_EPOCH_1995_US = 788_918_400_000_000
_EPOCH_2024_US = 1_704_067_200_000_000


def _write(table: pa.Table, path: str) -> str:
    pq.write_table(table, path)
    return path


def lineitem(seed: int, n_orders: int) -> pa.Table:
    """About 4 lines per order (1..7), unique (l_orderkey, l_linenumber)."""
    rng = np.random.default_rng(seed)
    lines = rng.integers(1, 8, n_orders)
    orderkey = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    linenumber = (np.arange(len(orderkey)) - starts + 1).astype(np.int32)
    n = len(orderkey)
    quantity = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(rng.uniform(900.0, 105_000.0, n), 2)
    return pa.table(
        {
            "l_orderkey": orderkey,
            "l_partkey": rng.integers(0, 20_000, n, dtype=np.int64),
            "l_suppkey": rng.integers(0, 1_000, n, dtype=np.int64),
            "l_linenumber": linenumber,
            "l_quantity": quantity,
            "l_extendedprice": price,
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
            "l_shipdate": pa.array(
                _EPOCH_1995_US + rng.integers(0, 2_500, n) * _DAY_US, pa.timestamp("us")
            ),
        }
    )


def embeddings(seed: int, n: int, labels: int = 10) -> pa.Table:
    """Unit vectors around one centroid per label."""
    rng = np.random.default_rng(seed)
    centroids = rng.normal(size=(labels, DIM))
    label = rng.integers(0, labels, n)
    x = centroids[label] + rng.normal(scale=1.5, size=(n, DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": label.astype(np.int32),
        }
    )


def documents(seed: int, n: int) -> pa.Table:
    """Bag-of-vocabulary texts; 2% are near-copies of an earlier document
    (one word replaced) and 0.5% exact copies, so dedup has work to do."""
    rng = np.random.default_rng(seed)
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.005:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.025:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = str(vocab[rng.integers(0, len(vocab))])
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))]))
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": pa.array(np.array(LANGS)[rng.integers(0, len(LANGS), n)]),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def events(seed: int, n: int, users: int = 1_500) -> pa.Table:
    rng = np.random.default_rng(seed)
    ts = np.sort(_EPOCH_2024_US + rng.integers(0, 30 * _DAY_US, n))
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, users, n, dtype=np.int64),
            "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def customer(seed: int, n: int) -> pa.Table:
    rng = np.random.default_rng(seed)
    return pa.table(
        {
            "c_custkey": np.arange(n, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9_999.99, n), 2),
            "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n)]),
        }
    )


def orders(seed: int, n: int, customers: int) -> pa.Table:
    rng = np.random.default_rng(seed)
    return pa.table(
        {
            "o_orderkey": np.arange(n, dtype=np.int64),
            "o_custkey": rng.integers(0, customers, n, dtype=np.int64),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n)]),
            "o_totalprice": np.round(rng.uniform(800.0, 500_000.0, n), 2),
            "o_orderdate": pa.array(
                _EPOCH_1995_US + rng.integers(0, 2_400, n) * _DAY_US, pa.timestamp("us")
            ),
            "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n)]),
        }
    )


def write_corpus(out_dir: str, seed: int, scale: float) -> str:
    """The tables `plans.reference_queries` read, at `scale` (1.0 = the
    sizes of the engine's sf0.1 test tables). Returns `out_dir`."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(150, int(15_000 * scale))
    tables = {
        "documents": documents(seed + 1, max(200, int(5_000 * scale))),
        "embeddings": embeddings(seed + 2, max(200, int(2_000 * scale))),
        "events": events(seed + 3, max(1_000, int(100_000 * scale))),
        "customer": customer(seed + 4, n_cust),
        "orders": orders(seed + 5, max(1_500, int(150_000 * scale)), n_cust),
    }
    for name, table in tables.items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
