"""Seeded generator for the ten catalog tables the engine reads.

The tables have the names, column names and parquet types of the
canonical fixtures (``catalog.TABLES``: a TPC-H-shaped star schema plus
``events``, ``documents`` and ``embeddings``), and row counts that scale
with ``sf`` the same way (``lineitem`` = 6M x sf).  Values come from one
``numpy`` generator, so the same ``(sf, seed)`` writes byte-identical
parquet files.

Distribution notes, all taken from the canonical fixtures:

- documents: 10-100 words from a 31-word vocabulary; 5% are exact copies
  of an earlier document with `` dup`` appended (near duplicates for the
  MinHash/LSH stages); ``n_chars`` is the text length.
- embeddings: 64-d unit vectors with a weak per-label offset (10 labels).
- events: exponential inter-arrival over 30 days from 2024-01-01, payload
  ``{"k": N}`` as the streaming parser expects.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from hainan_big_data_recommend_system_spark.catalog import TABLES

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.15, 0.14, 0.14, 0.13]
VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()

_DAY_US = 86_400 * 1_000_000


def _days(rng, n, start: str, end: str) -> pa.Array:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n)
    return pa.array(d * _DAY_US, pa.timestamp("us"))


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> dict:
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    return {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P).tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def _embeddings(rng, n: int) -> dict:
    centers = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, n)
    x = rng.normal(size=(n, 64)) + 0.15 * centers[labels]
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }


def generate(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write ``<out_dir>/<table>.parquet`` for every table; returns row
    counts.  Same ``(sf, seed)``, same bytes."""
    rng = np.random.default_rng(seed)
    n_c = max(150, int(150_000 * sf))
    n_s = max(10, int(10_000 * sf))
    n_p = max(200, int(200_000 * sf))
    n_o = max(1500, int(1_500_000 * sf))
    n_l = max(6000, int(6_000_000 * sf))
    n_e = max(1000, int(1_000_000 * sf))
    n_d = max(500, int(50_000 * sf))
    n_v = max(500, int(20_000 * sf))
    n_users = max(15, n_c // 10)

    gaps = rng.exponential(1.0, n_e)
    ev_us = np.cumsum(gaps) / gaps.sum() * 30 * _DAY_US * 0.999
    ev_ts = np.datetime64("2024-01-01", "us").astype(np.int64) + ev_us.astype(np.int64)

    cols = {
        "region": {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS, pa.string()),
        },
        "nation": {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        },
        "customer": {
            "c_custkey": pa.array(np.arange(n_c), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_c)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_c), pa.int32()),
            "c_acctbal": pa.array(_money(rng, n_c, -999.99, 9999.99)),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_c).tolist()),
        },
        "supplier": {
            "s_suppkey": pa.array(np.arange(n_s), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_s)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_s), pa.int32()),
            "s_acctbal": pa.array(_money(rng, n_s, -999.99, 9999.99)),
        },
        "part": {
            "p_partkey": pa.array(np.arange(n_p), pa.int64()),
            "p_name": pa.array([f"{ADJ[a]} {NOUNS[b]}" for a, b in zip(
                rng.integers(0, 8, n_p), rng.integers(0, 8, n_p))]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_p)]),
            "p_type": pa.array(rng.choice(TYPES, n_p).tolist()),
            "p_size": pa.array(rng.integers(1, 51, n_p), pa.int32()),
            "p_retailprice": pa.array(np.round(900 + (np.arange(n_p) % 1000) * 0.1, 1)),
        },
        "orders": {
            "o_orderkey": pa.array(np.arange(n_o), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_c, n_o), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_o).tolist()),
            "o_totalprice": pa.array(_money(rng, n_o, 1000, 500000)),
            "o_orderdate": _days(rng, n_o, "1995-01-01", "2001-08-01"),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_o).tolist()),
        },
        "lineitem": {
            "l_orderkey": pa.array(rng.integers(0, n_o, n_l), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_p, n_l), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_s, n_l), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_l), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n_l).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, n_l, 900, 105000)),
            "l_discount": pa.array(rng.integers(0, 11, n_l) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_l) / 100.0),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_l).tolist()),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n_l).tolist()),
            "l_shipdate": _days(rng, n_l, "1995-01-02", "2001-11-04"),
        },
        "events": {
            "event_id": pa.array(np.arange(n_e), pa.int64()),
            "ts": pa.array(ev_ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_e), pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n_e).tolist()),
            "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50, n_e), 2))),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)]),
        },
        "documents": _documents(rng, n_d),
        "embeddings": _embeddings(rng, n_v),
    }
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name in TABLES:
        table = pa.table(cols[name])
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
