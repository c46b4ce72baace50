"""Seeded star-schema input generator for the benchmark.

Writes the ten tables of the engine's star schema (``session.TABLES``) as
one parquet file each, with the column names and physical types of the
reference test data (TESTDATA.md) at about the sf0.01 size: lineitem has
60,000 rows, the whole set is about 2 MB.

The table *contents* come from a fixed content seed, so every workload seed
runs the same rows and the same amount of work. The workload seed only
permutes the row order of every table, which changes file layout and
partition contents but no query result. Each file is a single row group.

Usage: python3 perfbench/gen.py OUT_DIR SEED
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONTENT_SEED = 42

ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
]
LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]
EMBED_DIM = 64


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Two-decimal amounts, the precision the registry's exact-decimal
    aggregation rules assume."""
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _days(rng: np.random.Generator, start: dt.date, end: dt.date, n: int) -> pa.Array:
    span = (end - start).days
    base = np.datetime64(start.isoformat(), "us")
    days = rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(base + days, pa.timestamp("us"))


def _tables(rng: np.random.Generator, scale: float) -> dict[str, pa.Table]:
    # the dimension tables keep their key ranges; the rest shrink with scale
    n = {k: v if k in ("region", "nation") else max(20, int(v * scale))
         for k, v in ROWS.items()}
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(n["region"]), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(n["nation"]), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(n["nation"])],
        "n_regionkey": pa.array([i % 5 for i in range(n["nation"])], pa.int32()),
    })
    k = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(k), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(k)],
        "c_nationkey": pa.array(rng.integers(0, 25, k), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, k),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, k)],
    })
    k = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(k), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(k)],
        "s_nationkey": pa.array(rng.integers(0, 25, k), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, k),
    })
    k = n["part"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(k), pa.int64()),
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, k), rng.integers(0, 8, k))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, k)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, k)],
        "p_size": pa.array(rng.integers(1, 51, k), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(k) % 1000) / 10.0, 2),
    })
    k = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(k), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], k), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, k)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, k),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), k),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, k)],
    })
    k = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], k), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], k), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], k), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, k), pa.int32()),
        "l_quantity": rng.integers(1, 51, k).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, k),
        "l_discount": rng.integers(0, 11, k) / 100.0,
        "l_tax": rng.integers(0, 9, k) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, k)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, k)],
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), k),
    })
    k = n["events"]
    # timestamps rise with event_id over January 2024, microsecond jitter
    span_us = 30 * 86_400 * 1_000_000
    steps = np.sort(rng.integers(0, span_us, k))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(k), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + steps.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, k), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, k)],
        "value": np.round(rng.exponential(40.0, k), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, k)],
    })
    k = n["documents"]
    texts = []
    for i in range(k):
        if i % 60 == 59:  # an exact duplicate of its predecessor
            texts.append(texts[-1])
            continue
        words = rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))
        texts.append(" ".join(VOCAB[w] for w in words))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(k), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), k)],
        "source": [f"src{i % 20}" for i in range(k)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })
    k = n["embeddings"]
    vecs = rng.standard_normal((k, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(k), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, k), pa.int32()),
    })
    return t


def generate(out_dir: str, seed: int, scale: float = 1.0) -> dict[str, dict]:
    """Write every table to ``out_dir/<name>.parquet``; return
    ``{name: {"rows": n, "sha256": digest}}`` for the written files.
    ``scale`` < 1 shrinks the tables (the harness self-tests use it)."""
    os.makedirs(out_dir, exist_ok=True)
    perm_rng = np.random.default_rng(seed)
    manifest: dict[str, dict] = {}
    for name, table in _tables(np.random.default_rng(CONTENT_SEED), scale).items():
        table = table.take(perm_rng.permutation(table.num_rows))
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, row_group_size=table.num_rows)
        with open(path, "rb") as f:
            digest = hashlib.sha256(f.read()).hexdigest()
        manifest[name] = {"rows": table.num_rows, "sha256": digest}
    return manifest


if __name__ == "__main__":
    for name, info in generate(sys.argv[1], int(sys.argv[2])).items():
        print(f"{name:<12} {info['rows']:>8} {info['sha256'][:16]}")
