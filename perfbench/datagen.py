"""Seeded generator for the ten star-schema tables the registry queries read.

The tables have the schemas, key domains and value distributions of the
sf0.01 test tables (TESTDATA.md): TPC-H-ish dimensions and facts, a
month of ``events`` in January 2024, word-salad ``documents`` with a
share of near-duplicates, and unit-norm 64-d ``embeddings``. The same
seed always writes the same files, so every run of a workload sees
inputs of one size and shape while the values change with the seed.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the sf0.01 test tables.
SIZES = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "users": 150,
    "documents": 500,
    "embeddings": 500,
}

EVENT_TYPES = ("signup", "click", "view", "purchase", "error")
SEGMENTS = ("MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD")
PART_TYPES = ("ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE")
ADJECTIVES = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
NOUNS = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)


def _ts(start: str, seconds: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + (seconds * 1e6).astype("timedelta64[us]"), pa.timestamp("us"))


def _days(start: str, n_days: int, rng: np.random.Generator, n: int) -> pa.Array:
    days = rng.integers(0, n_days, n).astype("timedelta64[D]")
    return pa.array(
        (np.datetime64(start, "D") + days).astype("datetime64[us]"), pa.timestamp("us")
    )


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            # a re-crawled copy of an earlier page with a trailing marker
            texts.append(texts[int(rng.integers(0, i))] + " dup")
            continue
        n_chars = int(rng.integers(48, 554))
        words = rng.choice(VOCAB, n_chars // 2)
        texts.append(" ".join(words)[:n_chars].rstrip())
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    vecs = rng.standard_normal((n, dim)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def make_tables(seed: int) -> dict[str, pa.Table]:
    """All ten tables for one seed."""
    rng = np.random.default_rng(seed)
    s = SIZES
    n_ev = s["events"]
    tables = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(np.arange(5), pa.int32()),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(s["customer"]), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(s["customer"])],
                "c_nationkey": pa.array(rng.integers(0, 25, s["customer"]), pa.int32()),
                "c_acctbal": _money(rng, -999.99, 9999.99, s["customer"]),
                "c_mktsegment": rng.choice(SEGMENTS, s["customer"]),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(s["supplier"]), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(s["supplier"])],
                "s_nationkey": pa.array(rng.integers(0, 25, s["supplier"]), pa.int32()),
                "s_acctbal": _money(rng, -999.99, 9999.99, s["supplier"]),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(s["part"]), pa.int64()),
                "p_name": [
                    f"{rng.choice(ADJECTIVES)} {rng.choice(NOUNS)}" for _ in range(s["part"])
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, s["part"])],
                "p_type": rng.choice(PART_TYPES, s["part"]),
                "p_size": pa.array(rng.integers(1, 51, s["part"]), pa.int32()),
                "p_retailprice": np.round(900.0 + (np.arange(s["part"]) % 1000) / 10, 1),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(s["orders"]), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, s["customer"], s["orders"]), pa.int64()),
                "o_orderstatus": rng.choice(["O", "F", "P"], s["orders"]),
                "o_totalprice": _money(rng, 1000.0, 500000.0, s["orders"]),
                "o_orderdate": _days("1995-01-01", 2405, rng, s["orders"]),
                "o_orderpriority": rng.choice(PRIORITIES, s["orders"]),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, s["orders"], s["lineitem"]), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, s["part"], s["lineitem"]), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, s["supplier"], s["lineitem"]), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, s["lineitem"]), pa.int32()),
                "l_quantity": rng.integers(1, 51, s["lineitem"]).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105000.0, s["lineitem"]),
                "l_discount": rng.integers(0, 11, s["lineitem"]) / 100.0,
                "l_tax": rng.integers(0, 9, s["lineitem"]) / 100.0,
                "l_returnflag": rng.choice(["A", "N", "R"], s["lineitem"]),
                "l_linestatus": rng.choice(["O", "F"], s["lineitem"]),
                "l_shipdate": _days("1995-01-02", 2499, rng, s["lineitem"]),
            }
        ),
        "events": pa.table(
            {
                "event_id": pa.array(np.arange(n_ev), pa.int64()),
                # sorted arrival times over 30 days, microsecond precision
                "ts": _ts("2024-01-01", np.sort(rng.uniform(0, 30 * 86400, n_ev))),
                "user_id": pa.array(rng.integers(0, s["users"], n_ev), pa.int64()),
                "event_type": rng.choice(EVENT_TYPES, n_ev),
                "value": np.round(rng.exponential(50.0, n_ev), 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
            }
        ),
        "documents": _documents(rng, s["documents"]),
        "embeddings": _embeddings(rng, s["embeddings"]),
    }
    return tables


def write_tables(seed: int, out_dir: str) -> int:
    """Write every table as ``<out_dir>/<name>.parquet``; returns bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, table in make_tables(seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total
