"""Seeded input tables for the ``query_mix`` workload.

The queries read ten parquet tables (a TPC-H-like star schema plus
``events``, ``documents`` and ``embeddings``). This module writes them
with the same schemas and value ranges as the project's sf0.001 test
tables, as a pure function of ``seed``, so the benchmark needs no data
from outside its checkout.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

SIZES = {
    "customer": 150,
    "supplier": 10,
    "part": 200,
    "orders": 1500,
    "lineitem": 6000,
    "events": 1000,
    "documents": 500,
    "embeddings": 500,
}

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["small", "large", "red", "blue", "hot", "old", "new", "green"]
_PART_NOUN = ["ring", "widget", "bolt", "gear", "plate", "rod", "nut", "pipe"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = [
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
# each language over-weights three words, as the project's test tables do
_LANG_WORDS = {
    "en": ["merge", "window", "customer"],
    "de": ["small", "data", "table"],
    "es": ["table", "spark", "key"],
    "fr": ["small", "merge", "value"],
    "zh": ["column", "join", "stream"],
}
_EPOCH_DAY_1995 = 9131  # 1995-01-01 as days since 1970-01-01
_US_PER_DAY = 86_400_000_000
_TS_2024 = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in microseconds


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _date_us(days: np.ndarray) -> pa.Array:
    return pa.array((_EPOCH_DAY_1995 + days).astype(np.int64) * _US_PER_DAY, pa.timestamp("us"))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    langs = rng.choice(_LANGS, size=n, p=_LANG_P)
    texts = []
    for lang in langs:
        k = int(rng.integers(10, 100))
        boost = _LANG_WORDS[lang]
        p = np.array([4.0 if w in boost else 1.0 for w in _WORDS])
        words = list(rng.choice(_WORDS, size=k, p=p / p.sum()))
        if rng.random() < 0.06:
            words.append("dup")
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs.tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    x = rng.normal(size=(n, dim)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    vecs = pa.FixedSizeListArray.from_arrays(pa.array(x.ravel(), pa.float32()), dim)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": vecs.cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32), pa.int32()),
    })


def _i32(values) -> pa.Array:
    return pa.array(np.asarray(values, np.int32), pa.int32())


def _i64(values) -> pa.Array:
    return pa.array(np.asarray(values, np.int64), pa.int64())


def generate(out_dir: str, seed: int) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; returns row counts."""
    rng = np.random.default_rng(seed)
    n = SIZES
    tables = {
        "region": pa.table({"r_regionkey": _i32(range(5)), "r_name": _REGIONS}),
        "nation": pa.table({
            "n_nationkey": _i32(range(25)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": _i32(np.arange(25) % 5),
        }),
        "customer": pa.table({
            "c_custkey": _i64(range(n["customer"])),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": _i32(rng.integers(0, 25, n["customer"])),
            "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": rng.choice(_SEGMENTS, n["customer"]).tolist(),
        }),
        "supplier": pa.table({
            "s_suppkey": _i64(range(n["supplier"])),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": _i32(rng.integers(0, 25, n["supplier"])),
            "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
        }),
        "part": pa.table({
            "p_partkey": _i64(range(n["part"])),
            "p_name": [
                f"{rng.choice(_PART_ADJ)} {rng.choice(_PART_NOUN)}"
                for _ in range(n["part"])
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
            "p_type": rng.choice(_PART_TYPES, n["part"]).tolist(),
            "p_size": _i32(rng.integers(1, 51, n["part"])),
            "p_retailprice": np.round(900.0 + (np.arange(n["part"]) % 1000) * 0.1, 1),
        }),
        "orders": pa.table({
            "o_orderkey": _i64(range(n["orders"])),
            "o_custkey": _i64(rng.integers(0, n["customer"], n["orders"])),
            "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]).tolist(),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n["orders"]),
            "o_orderdate": _date_us(rng.integers(0, 2400, n["orders"])),
            "o_orderpriority": rng.choice(_PRIORITIES, n["orders"]).tolist(),
        }),
        "lineitem": pa.table({
            "l_orderkey": _i64(rng.integers(0, n["orders"], n["lineitem"])),
            "l_partkey": _i64(rng.integers(0, n["part"], n["lineitem"])),
            "l_suppkey": _i64(rng.integers(0, n["supplier"], n["lineitem"])),
            "l_linenumber": _i32(rng.integers(1, 8, n["lineitem"])),
            "l_quantity": rng.integers(1, 51, n["lineitem"]).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n["lineitem"]),
            "l_discount": rng.integers(0, 11, n["lineitem"]) / 100.0,
            "l_tax": rng.integers(0, 9, n["lineitem"]) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n["lineitem"]).tolist(),
            "l_linestatus": rng.choice(["F", "O"], n["lineitem"]).tolist(),
            "l_shipdate": _date_us(rng.integers(1, 2500, n["lineitem"])),
        }),
        "events": pa.table({
            "event_id": _i64(range(n["events"])),
            "ts": pa.array(
                _TS_2024 + np.cumsum(rng.exponential(26e6, n["events"])).astype(np.int64),
                pa.timestamp("us"),
            ),
            "user_id": _i64(rng.integers(0, max(1, n["events"] // 70), n["events"])),
            "event_type": rng.choice(_EVENT_TYPES, n["events"]).tolist(),
            "value": np.round(rng.exponential(50.0, n["events"]) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n["events"])],
        }),
        "documents": _documents(rng, n["documents"]),
        "embeddings": _embeddings(rng, n["embeddings"]),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
