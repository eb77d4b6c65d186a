"""Seeded input generation for the benchmark.

Every input the engine sees is made here from the run's ``--seed``:
the sf0.1-shaped base tables (TPC-H-ish star schema, ``events``,
``documents``) and, through :func:`rng`, every batch a workload draws
(merge keys and values, delete and update ranges, SCD2 batches, query
order, BM25 query documents). The same seed gives byte-identical parquet files and
batches; another seed gives other ones.

Sizes follow the engine's sf0.1 test tables: orders 150k rows,
lineitem 600k, documents 5k, events 100k.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {
    "region": 5,
    "nation": 25,
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_WORDS = [
    "anvil", "blue", "bolt", "cold", "gear", "gizmo", "hot", "large",
    "new", "old", "plate", "red", "ring", "rod", "small", "widget",
]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["F", "O", "P"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window",
]

_US_PER_DAY = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)

# one independent random stream per purpose: adding a draw to one
# workload never shifts the inputs of another
_STREAMS = {
    "tables": 1,
    "cdc": 2,
    "governed": 3,
}


def rng(seed: int, purpose: str, *sub: int) -> np.random.Generator:
    """The random stream for ``purpose`` under ``seed``."""
    return np.random.default_rng([seed, _STREAMS[purpose], *sub])


def _ts(days_from: int, days: np.ndarray) -> pa.Array:
    return pa.array((days_from + days * _US_PER_DAY).astype("datetime64[us]"))


def _money(g: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(g.uniform(lo, hi, n), 2)


def _text(g: np.random.Generator, n_words: int) -> str:
    return " ".join(VOCAB[i] for i in g.integers(0, len(VOCAB), n_words))


def _documents(g: np.random.Generator, n: int) -> pa.Table:
    texts = [_text(g, int(g.integers(8, 100))) for _ in range(n)]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": [LANGS[i] for i in g.integers(0, len(LANGS), n)],
            "source": [f"src{i}" for i in g.integers(0, 20, n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _table(name: str, seed: int) -> pa.Table:
    g = rng(seed, "tables", sorted(SIZES).index(name))
    n = SIZES[name]
    ids = np.arange(n, dtype=np.int64)
    if name == "region":
        return pa.table({"r_regionkey": pa.array(ids, pa.int32()), "r_name": REGIONS})
    if name == "nation":
        return pa.table(
            {
                "n_nationkey": pa.array(ids, pa.int32()),
                "n_name": [f"NATION_{i}" for i in ids],
                "n_regionkey": pa.array(ids % 5, pa.int32()),
            }
        )
    if name == "customer":
        return pa.table(
            {
                "c_custkey": ids,
                "c_name": [f"Customer#{i:09d}" for i in ids],
                "c_nationkey": pa.array(g.integers(0, 25, n), pa.int32()),
                "c_acctbal": _money(g, -999.99, 9999.99, n),
                "c_mktsegment": [SEGMENTS[i] for i in g.integers(0, 5, n)],
            }
        )
    if name == "supplier":
        return pa.table(
            {
                "s_suppkey": ids,
                "s_name": [f"Supplier#{i:09d}" for i in ids],
                "s_nationkey": pa.array(g.integers(0, 25, n), pa.int32()),
                "s_acctbal": _money(g, -999.99, 9999.99, n),
            }
        )
    if name == "part":
        w = g.integers(0, len(PART_WORDS), (n, 2))
        return pa.table(
            {
                "p_partkey": ids,
                "p_name": [f"{PART_WORDS[a]} {PART_WORDS[b]}" for a, b in w],
                "p_brand": [f"Brand#{i}" for i in g.integers(1, 26, n)],
                "p_type": [PART_TYPES[i] for i in g.integers(0, 6, n)],
                "p_size": pa.array(g.integers(1, 51, n), pa.int32()),
                "p_retailprice": np.round(900.0 + (ids % 1000) * 0.1, 1),
            }
        )
    if name == "orders":
        return pa.table(
            {
                "o_orderkey": ids,
                "o_custkey": g.integers(0, SIZES["customer"], n),
                "o_orderstatus": [STATUSES[i] for i in g.integers(0, 3, n)],
                "o_totalprice": _money(g, 1000.0, 500_000.0, n),
                "o_orderdate": _ts(_EPOCH_1995, g.integers(0, 2404, n)),
                "o_orderpriority": [PRIORITIES[i] for i in g.integers(0, 5, n)],
            }
        )
    if name == "lineitem":
        return pa.table(
            {
                "l_orderkey": g.integers(0, SIZES["orders"], n),
                "l_partkey": g.integers(0, SIZES["part"], n),
                "l_suppkey": g.integers(0, SIZES["supplier"], n),
                "l_linenumber": pa.array(g.integers(1, 8, n), pa.int32()),
                "l_quantity": g.integers(1, 51, n).astype(np.float64),
                "l_extendedprice": _money(g, 900.0, 105_000.0, n),
                "l_discount": g.integers(0, 11, n) / 100.0,
                "l_tax": g.integers(0, 9, n) / 100.0,
                "l_returnflag": [("A", "N", "R")[i] for i in g.integers(0, 3, n)],
                "l_linestatus": [("F", "O")[i] for i in g.integers(0, 2, n)],
                "l_shipdate": _ts(_EPOCH_1995 + _US_PER_DAY, g.integers(0, 2498, n)),
            }
        )
    if name == "events":
        ts = np.sort(g.integers(0, 30 * _US_PER_DAY, n)) + _EPOCH_2024
        return pa.table(
            {
                "event_id": ids,
                "ts": pa.array(ts.astype("datetime64[us]")),
                "user_id": g.integers(0, 1500, n),
                "event_type": [EVENT_TYPES[i] for i in g.integers(0, 5, n)],
                "value": np.round(g.exponential(50.0, n), 2),
                "props": [f'{{"k": {i}}}' for i in g.integers(0, 100, n)],
            }
        )
    if name == "documents":
        return _documents(g, n)
    raise KeyError(name)


def write_tables(out_dir: str, seed: int, names) -> dict[str, str]:
    """Write ``names`` as ``<out_dir>/<name>.parquet``; returns paths."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name in names:
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(_table(name, seed), path, compression="snappy")
        paths[name] = path
    return paths


def digest(paths) -> str:
    """sha256 over the bytes of the given files, in order."""
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()
