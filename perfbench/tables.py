"""Seeded generator of the query workloads' input tables.

Writes the ten tables the registered queries read (TPC-H-like star schema
plus ``events``, ``documents`` and ``embeddings``), one parquet file each,
with the column names, physical types and value domains of the engine's
reference test data. ``scale`` plays the role of the TPC-H scale factor:
``scale=0.01`` gives 60k lineitem rows. The same seed gives the same files.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()

_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")
_DAY_US = 86_400_000_000


def _write(out: Path, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), out / f"{name}.parquet")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(out_dir: str | Path, seed: int, scale: float = 0.01) -> dict[str, int]:
    """Write every table under ``out_dir``; return row counts by table."""
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * scale), 50)
    n_supp = max(int(10_000 * scale), 10)
    n_part = max(int(200_000 * scale), 50)
    n_orders = max(int(1_500_000 * scale), 100)
    n_events = max(int(1_000_000 * scale), 100)
    n_users = max(int(15_000 * scale), 10)
    n_docs = max(int(50_000 * scale), 50)
    n_vecs = max(int(50_000 * scale), 50)

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    part_keys = np.arange(n_part, dtype=np.int64)
    _write(out, "part", {
        "p_partkey": part_keys,
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (part_keys % 1000) / 10.0, 1),
    })

    order_days = rng.integers(0, 2404, n_orders)  # 1995-01-01 .. 2001-08-01
    order_dates = _EPOCH_1995 + order_days * np.timedelta64(_DAY_US, "us")
    _write(out, "orders", {
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
        "o_orderstatus": rng.choice(("F", "O", "P"), n_orders),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_orders),
        "o_orderdate": pa.array(order_dates, pa.timestamp("us")),
        "o_orderpriority": rng.choice(PRIORITIES, n_orders),
    })

    lines_per_order = rng.integers(1, 8, n_orders)
    n_lines = int(lines_per_order.sum())
    l_order = np.repeat(np.arange(n_orders, dtype=np.int64), lines_per_order)
    starts = np.repeat(np.cumsum(lines_per_order) - lines_per_order, lines_per_order)
    l_number = (np.arange(n_lines) - starts + 1).astype(np.int32)
    ship_days = np.repeat(order_days, lines_per_order) + rng.integers(1, 122, n_lines)
    perm = rng.permutation(n_lines)
    _write(out, "lineitem", {
        "l_orderkey": l_order[perm],
        "l_partkey": rng.integers(0, n_part, n_lines).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_lines).astype(np.int64),
        "l_linenumber": l_number[perm],
        "l_quantity": rng.integers(1, 51, n_lines).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_lines),
        "l_discount": rng.integers(0, 11, n_lines) / 100.0,
        "l_tax": rng.integers(0, 9, n_lines) / 100.0,
        "l_returnflag": rng.choice(("A", "N", "R"), n_lines),
        "l_linestatus": rng.choice(("F", "O"), n_lines),
        "l_shipdate": pa.array(
            _EPOCH_1995 + ship_days[perm] * np.timedelta64(_DAY_US, "us"), pa.timestamp("us")
        ),
    })

    gaps_us = rng.integers(1, 2 * 30 * _DAY_US // n_events, n_events)
    _write(out, "events", {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pa.array(_EPOCH_2024 + np.cumsum(gaps_us).astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_events).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": _money(rng, 0.01, 490.0, n_events),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })

    # Five percent of documents are near-duplicates: an earlier document
    # with " dup" appended, which is what the dedup operators look for.
    texts: list[str] = []
    for i in range(n_docs):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n_words = int(rng.integers(8, 90))
            texts.append(" ".join(VOCAB[w] for w in rng.integers(0, len(VOCAB), n_words)))
    _write(out, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    centroids = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, n_vecs)
    vecs = centroids[labels] + rng.normal(0.0, 0.8, (n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return {
        "customer": n_cust, "supplier": n_supp, "part": n_part, "orders": n_orders,
        "lineitem": n_lines, "events": n_events, "documents": n_docs, "embeddings": n_vecs,
    }
