"""Seeded synthetic query lake: the ten parquet tables the registry
queries read through ``catalog.load_table``.

The shapes and value domains mirror the TPC-H-ish testdata the
registry is written against (same column names, physical types and
categorical domains; row counts scale with ``sf`` like that data:
lineitem = 6,000,000 x sf). One parquet file per table, one row group,
no pandas metadata, so the same (seed, sf) gives byte-identical files.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
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
)

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["red", "new", "hot", "small", "cold", "large", "old", "blue"]
PART_NOUN = ["bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ORDER_STATUS = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "fr", "zh", "de", "es"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMB_DIM = 64
N_SOURCES = 20

_EPOCH = dt.datetime(1970, 1, 1)


def _us(d: dt.datetime) -> int:
    return (d - _EPOCH) // dt.timedelta(microseconds=1)


def _days(rng, n: int, lo: dt.datetime, hi: dt.datetime) -> pa.Array:
    day_us = 86_400_000_000
    lo_d, hi_d = _us(lo) // day_us, _us(hi) // day_us
    return pa.array(rng.integers(lo_d, hi_d + 1, n) * day_us, pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _fmt(prefix: str, keys: np.ndarray) -> pa.Array:
    return pa.array([f"{prefix}#{k:09d}" for k in keys.tolist()], pa.string())


def _sizes(sf: float) -> dict[str, int]:
    return {
        "customer": int(150_000 * sf),
        "supplier": max(10, int(10_000 * sf)),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _documents(rng, n: int) -> pa.Table:
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    texts, pos = [], 0
    for i, k in enumerate(lens.tolist()):
        t = " ".join(VOCAB[w] for w in words[pos : pos + k].tolist())
        pos += k
        if i % 20 == 11:  # planted near-duplicate marker
            t += " dup"
        if i % 500 == 499:  # planted exact duplicate of the previous doc
            t = texts[-1]
        texts.append(t)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_P).tolist(), pa.string()),
            "source": pa.array([f"src{i % N_SOURCES}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, n: int) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centres = rng.normal(0.0, 0.02, (10, EMB_DIM))
    v = rng.normal(0.0, 1.0, (n, EMB_DIM)) + centres[labels] * 8
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    flat = pa.array(v.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * EMB_DIM + 1, EMB_DIM, dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(labels, pa.int32()),
        }
    )


def build_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """Every lake table as an Arrow table; deterministic in (seed, sf)."""
    rng = np.random.default_rng([seed, int(sf * 1_000_000)])
    n = _sizes(sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS, pa.string()),
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    k = np.arange(n["customer"])
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(k, pa.int64()),
            "c_name": _fmt("Customer", k),
            "c_nationkey": pa.array(rng.integers(0, 25, len(k)), pa.int32()),
            "c_acctbal": pa.array(_money(rng, len(k), -999.99, 9999.99)),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, len(k)).tolist(), pa.string()),
        }
    )
    k = np.arange(n["supplier"])
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(k, pa.int64()),
            "s_name": _fmt("Supplier", k),
            "s_nationkey": pa.array(rng.integers(0, 25, len(k)), pa.int32()),
            "s_acctbal": pa.array(_money(rng, len(k), -999.99, 9999.99)),
        }
    )
    k = np.arange(n["part"])
    names = [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in rng.integers(0, 8, (len(k), 2)).tolist()]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(k, pa.int64()),
            "p_name": pa.array(names, pa.string()),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, len(k)).tolist()]),
            "p_type": pa.array(rng.choice(PART_TYPES, len(k)).tolist(), pa.string()),
            "p_size": pa.array(rng.integers(1, 51, len(k)), pa.int32()),
            "p_retailprice": pa.array(np.round(900.0 + (k % 1000) / 10.0, 2)),
        }
    )
    k = np.arange(n["orders"])
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(k, pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n["customer"], len(k)), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(ORDER_STATUS, len(k)).tolist(), pa.string()),
            "o_totalprice": pa.array(_money(rng, len(k), 1000.0, 500000.0)),
            "o_orderdate": _days(rng, len(k), dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1)),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, len(k)).tolist(), pa.string()),
        }
    )
    m = n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n["orders"], m), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n["part"], m), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], m), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, m), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, m).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, m, 900.0, 105000.0)),
            "l_discount": pa.array(rng.integers(0, 11, m) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, m) / 100.0),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], m).tolist(), pa.string()),
            "l_linestatus": pa.array(rng.choice(["F", "O"], m).tolist(), pa.string()),
            "l_shipdate": _days(rng, m, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4)),
        }
    )
    m = n["events"]
    start = _us(dt.datetime(2024, 1, 1))
    ts = np.sort(rng.integers(start, start + 30 * 86_400_000_000, m))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(m), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(100, n["customer"] // 10), m), pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, m).tolist(), pa.string()),
            "value": pa.array(np.round(rng.exponential(50.0, m), 2)),
            "props": pa.array([f'{{"k": {v}}}' for v in rng.integers(0, 100, m).tolist()]),
        }
    )
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    return t


def write_lake(out_dir: str, seed: int, sf: float) -> dict[str, dict[str, int]]:
    """Write the lake under ``out_dir``; returns {table: {rows, bytes}}."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name, table in build_tables(seed, sf).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, row_group_size=max(1, table.num_rows))
        sizes[name] = {"rows": table.num_rows, "bytes": os.path.getsize(path)}
    return sizes
