"""Seeded generator for the benchmark's input tables.

Makes the ten tables the package's registry reads (``region`` ...
``embeddings``) with the same column names and Arrow types as the
repository's synthetic TPC-H-ish test data, so every
``__spark_entry__.queries()`` entry and its ``oracle_sql()`` twin run on
them unchanged. Row counts follow a scale factor (sf=1 would be 1.5M
orders). Each table draws from its own ``numpy`` stream seeded by
``(seed, table)``, so the same seed always yields byte-identical files
and a subset of tables equals the same tables of the full set.

Documents carry a seeded share of exact and one-word-edited copies, so
the dedup operators have duplicates to find.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# rows at sf=1
BASE_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 50_000,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["red", "blue", "green", "hot", "new", "old", "small", "big"]
PART_NOUN = ["bolt", "ring", "widget", "anvil", "rod", "plate", "gear", "nut"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64

_US = 1_000_000
_DAY_US = 86_400 * _US

Rng = np.random.Generator


def _epoch_us(y: int, m: int, d: int) -> int:
    return int((datetime(y, m, d) - datetime(1970, 1, 1)).total_seconds()) * _US


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def money(rng: Rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: Rng, start: tuple, end: tuple, n: int) -> pa.Array:
    a, b = _epoch_us(*start) // _DAY_US, _epoch_us(*end) // _DAY_US
    return _ts(rng.integers(a, b + 1, n) * _DAY_US)


def row_counts(sf: float) -> dict[str, int]:
    return {t: max(10, int(round(n * sf))) for t, n in BASE_ROWS.items()}


def _region(rng: Rng, n: dict[str, int]) -> pa.Table:
    return pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )


def _nation(rng: Rng, n: dict[str, int]) -> pa.Table:
    return pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )


def customer_rows(rng: Rng, keys: np.ndarray) -> pa.Table:
    k = len(keys)
    return pa.table(
        {
            "c_custkey": keys.astype("int64"),
            "c_name": [f"Customer#{i:09d}" for i in keys],
            "c_nationkey": rng.integers(0, 25, k).astype("int32"),
            "c_acctbal": money(rng, -999.99, 9999.99, k),
            "c_mktsegment": rng.choice(SEGMENTS, k),
        }
    )


def _customer(rng: Rng, n: dict[str, int]) -> pa.Table:
    return customer_rows(rng, np.arange(n["customer"]))


def _supplier(rng: Rng, n: dict[str, int]) -> pa.Table:
    ns = n["supplier"]
    return pa.table(
        {
            "s_suppkey": np.arange(ns, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": rng.integers(0, 25, ns).astype("int32"),
            "s_acctbal": money(rng, -999.99, 9999.99, ns),
        }
    )


def _part(rng: Rng, n: dict[str, int]) -> pa.Table:
    k = n["part"]
    adj, noun = rng.choice(PART_ADJ, k), rng.choice(PART_NOUN, k)
    return pa.table(
        {
            "p_partkey": np.arange(k, dtype="int64"),
            "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, k)],
            "p_type": rng.choice(PART_TYPES, k),
            "p_size": rng.integers(1, 51, k).astype("int32"),
            "p_retailprice": np.round(900 + (np.arange(k) % 1000) / 10, 2),
        }
    )


def order_rows(rng: Rng, keys: np.ndarray, n_customers: int) -> pa.Table:
    k = len(keys)
    return pa.table(
        {
            "o_orderkey": keys.astype("int64"),
            "o_custkey": rng.integers(0, n_customers, k).astype("int64"),
            "o_orderstatus": rng.choice(STATUSES, k),
            "o_totalprice": money(rng, 1000.0, 500000.0, k),
            "o_orderdate": _days(rng, (1995, 1, 1), (2001, 8, 1), k),
            "o_orderpriority": rng.choice(PRIORITIES, k),
        }
    )


def _orders(rng: Rng, n: dict[str, int]) -> pa.Table:
    return order_rows(rng, np.arange(n["orders"]), n["customer"])


def _lineitem(rng: Rng, n: dict[str, int]) -> pa.Table:
    k = n["lineitem"]
    return pa.table(
        {
            "l_orderkey": rng.integers(0, n["orders"], k).astype("int64"),
            "l_partkey": rng.integers(0, n["part"], k).astype("int64"),
            "l_suppkey": rng.integers(0, n["supplier"], k).astype("int64"),
            "l_linenumber": rng.integers(1, 8, k).astype("int32"),
            "l_quantity": rng.integers(1, 51, k).astype("float64"),
            "l_extendedprice": money(rng, 900.0, 105000.0, k),
            "l_discount": rng.integers(0, 11, k) / 100.0,
            "l_tax": rng.integers(0, 9, k) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], k),
            "l_linestatus": rng.choice(["F", "O"], k),
            "l_shipdate": _days(rng, (1995, 1, 2), (2001, 11, 4), k),
        }
    )


def _events(rng: Rng, n: dict[str, int]) -> pa.Table:
    k = n["events"]
    start = _epoch_us(2024, 1, 1)
    return pa.table(
        {
            "event_id": np.arange(k, dtype="int64"),
            # event-time order follows event_id
            "ts": _ts(np.sort(start + rng.integers(0, 30 * _DAY_US, k))),
            "user_id": rng.integers(0, max(10, n["customer"] // 10), k).astype(
                "int64"
            ),
            "event_type": rng.choice(EVENT_TYPES, k),
            "value": np.round(rng.exponential(50.0, k), 2),
            "props": [f'{{"k": {p}}}' for p in rng.integers(0, 100, k)],
        }
    )


def _documents(rng: Rng, n: dict[str, int]) -> pa.Table:
    k = n["documents"]
    texts = [" ".join(rng.choice(WORDS, int(w))) for w in rng.integers(10, 101, k)]
    # 2% exact copies and 3% one-word edits of an earlier document
    kinds = rng.random(k)
    for i in range(1, k):
        if kinds[i] < 0.05:
            words = texts[int(rng.integers(0, i))].split()
            if kinds[i] >= 0.02:
                words[int(rng.integers(0, len(words)))] = str(rng.choice(WORDS))
            texts[i] = " ".join(words)
    return pa.table(
        {
            "doc_id": np.arange(k, dtype="int64"),
            "text": texts,
            "lang": rng.choice(LANGS, k, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(k)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )


def _embeddings(rng: Rng, n: dict[str, int]) -> pa.Table:
    k = n["embeddings"]
    vec = rng.standard_normal((k, EMBED_DIM)).astype("float32")
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": np.arange(k, dtype="int64"),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": rng.integers(0, 10, k).astype("int32"),
        }
    )


_MAKERS = {
    "region": _region,
    "nation": _nation,
    "customer": _customer,
    "supplier": _supplier,
    "part": _part,
    "orders": _orders,
    "lineitem": _lineitem,
    "events": _events,
    "documents": _documents,
    "embeddings": _embeddings,
}


def make_tables(
    seed: int, sf: float, names: list[str] | None = None
) -> dict[str, pa.Table]:
    """Tables by name (all ten unless `names` is given)."""
    n = row_counts(sf)
    return {
        t: _MAKERS[t](np.random.default_rng([seed, i]), n)
        for i, t in enumerate(TABLES)
        if names is None or t in names
    }


def write_tables(
    out_dir: str, seed: int, sf: float, names: list[str] | None = None
) -> dict[str, pa.Table]:
    """Write tables to ``<out_dir>/<name>.parquet``; returns them."""
    os.makedirs(out_dir, exist_ok=True)
    tables = make_tables(seed, sf, names)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return tables
