"""Seeded generator for the engine's input tables.

Writes the ten tables the registry reads (``region`` ... ``embeddings``)
as one parquet file each, with the column names, types and value
distributions of the engine's test tables: independent uniform keys and
measures, event timestamps sorted over January 2024 at microsecond
precision, a 30-word document vocabulary with 5% ``" dup"``-suffixed
near-duplicates, and unit-norm 64-dim embeddings around 10 label
centroids.  The same ``(seed, sf)`` always gives the same bytes.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS, LANG_P = ["de", "en", "es", "fr", "zh"], [0.15, 0.4, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()

_US_PER_DAY = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _days(rng: np.random.Generator, n: int, span_days: int) -> pa.Array:
    us = _EPOCH_1995 + rng.integers(0, span_days, n) * _US_PER_DAY
    return pa.array(us, pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def events_table(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    """The ``events`` stream table: ``n`` rows sorted by ``ts`` over 30 days."""
    ts = np.sort(_EPOCH_2024 + rng.integers(0, 30 * _US_PER_DAY, n))
    value = np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
            "value": pa.array(value, pa.float64()),
            "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)]),
        }
    )


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts = [" ".join(rng.choice(VOCAB, int(k))) for k in rng.integers(10, 100, n)]
    for i in rng.choice(n, n // 20, replace=False):
        j = int(rng.integers(0, n - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centroids = rng.normal(0.0, 0.3, (10, dim))
    vecs = centroids[labels] + rng.normal(0.0, 1.0, (n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def generate(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table for scale factor ``sf`` under ``out_dir``; return row counts."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 10), int(200_000 * sf)
    n_ord, n_line, n_events = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    tables = {
        "region": pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": _names("Customer", n_cust),
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
                "c_mktsegment": rng.choice(SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                "s_name": _names("Supplier", n_supp),
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part), pa.int64()),
                "p_name": [f"{a} {b}" for a, b in zip(rng.choice(ADJECTIVES, n_part), rng.choice(NOUNS, n_part))],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": rng.choice(PART_TYPES, n_part),
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
                "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
                "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
                "o_orderdate": _days(rng, n_ord, 2404),
                "o_orderpriority": rng.choice(PRIORITIES, n_ord),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
                "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
                "l_discount": rng.integers(0, 11, n_line) / 100.0,
                "l_tax": rng.integers(0, 9, n_line) / 100.0,
                "l_returnflag": rng.choice(["A", "N", "R"], n_line),
                "l_linestatus": rng.choice(["F", "O"], n_line),
                "l_shipdate": _days(rng, n_line, 2500),
            }
        ),
        "events": events_table(rng, n_events, max(int(15_000 * sf), 5)),
        "documents": _documents(rng, max(int(50_000 * sf), 500)),
        "embeddings": _embeddings(rng, max(int(20_000 * sf), 500)),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
