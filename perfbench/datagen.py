"""Seeded synthetic corpus with the engine's ten-table schema.

The benchmark's inputs come only from here: one seed gives the same
tables byte for byte, and every seed gives the same row counts, so two
seeds differ in values, not in size.  Value domains follow the
engine's own test corpus (TPC-H-like star schema, an ``events`` click
log, a ``documents`` corpus with planted near-duplicates, and
64-dimensional unit ``embeddings``), so every query's filters and joins
find rows and no query fails on domain grounds.

Usage: ``python3 perfbench/datagen.py OUT_DIR SEED``
"""

from __future__ import annotations

import os
import sys
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Rows per table.  Small on purpose: at this size every workload's
# passes are dominated by per-query engine work, not by scanning.
ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 20000,
    "documents": 300,
    "embeddings": 300,
}
USERS = 300
NEAR_DUP_FRACTION = 0.05

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
ORDER_STATUS = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
RETURN_FLAGS = ["A", "N", "R"]
LINE_STATUS = ["F", "O"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.145, 0.15, 0.15, 0.145]
SOURCES = 20
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
DIM = 64
LABELS = 10

_US = 1_000_000


def _us(dt: datetime) -> int:
    return int((dt - datetime(1970, 1, 1)).total_seconds()) * _US


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: datetime, end: datetime, n: int) -> pa.Array:
    days = rng.integers(0, (end - start).days + 1, n)
    return pa.array(_us(start) + days * 86400 * _US, pa.timestamp("us"))


def _documents(rng) -> pa.Table:
    n = ROWS["documents"]
    texts: list[str] = []
    for _ in range(n):
        words = rng.choice(VOCAB, int(rng.integers(10, 100)))
        texts.append(" ".join(words))
    # Planted near-duplicates: a copy of another document with one
    # marker token appended (shingle Jaccard ~0.9-0.99).
    n_dups = int(n * NEAR_DUP_FRACTION)
    targets = rng.choice(n, n_dups, replace=False)
    originals = rng.choice(np.setdiff1d(np.arange(n), targets), n_dups)
    for t, o in zip(targets, originals):
        texts[t] = texts[o] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
            "source": pa.array([f"src{i % SOURCES}" for i in ids], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng) -> pa.Table:
    n = ROWS["embeddings"]
    labels = rng.integers(0, LABELS, n)
    centroids = rng.normal(0, 0.05, (LABELS, DIM))
    vecs = centroids[labels] + rng.normal(0, 0.125, (n, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(0, n * DIM + 1, DIM), pa.int32()), flat
            ),
            "label": pa.array(labels, pa.int32()),
        }
    )


def _events(rng) -> pa.Table:
    n = ROWS["events"]
    span = 30 * 86400 * _US
    ts = np.sort(rng.integers(0, span, n)) + _us(datetime(2024, 1, 1))
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, USERS, n),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n), pa.string()),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()
            ),
        }
    )


def make_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = ROWS
    cust_ids = np.arange(n["customer"], dtype=np.int64)
    supp_ids = np.arange(n["supplier"], dtype=np.int64)
    part_ids = np.arange(n["part"], dtype=np.int64)
    order_ids = np.arange(n["orders"], dtype=np.int64)
    return {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(len(REGIONS)), pa.int32()),
                "r_name": pa.array(REGIONS, pa.string()),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": cust_ids,
                "c_name": pa.array([f"Customer#{i:09d}" for i in cust_ids]),
                "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
                "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
                "c_mktsegment": pa.array(rng.choice(SEGMENTS, n["customer"])),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": supp_ids,
                "s_name": pa.array([f"Supplier#{i:09d}" for i in supp_ids]),
                "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
                "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": part_ids,
                "p_name": pa.array(
                    [
                        f"{a} {b}"
                        for a, b in zip(
                            rng.choice(PART_ADJ, n["part"]),
                            rng.choice(PART_NOUN, n["part"]),
                        )
                    ]
                ),
                "p_brand": pa.array(
                    [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])]
                ),
                "p_type": pa.array(rng.choice(PART_TYPES, n["part"])),
                "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
                "p_retailprice": np.round(900 + (part_ids % 1000) / 10.0, 1),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": order_ids,
                "o_custkey": rng.integers(0, n["customer"], n["orders"]),
                "o_orderstatus": pa.array(rng.choice(ORDER_STATUS, n["orders"])),
                "o_totalprice": _money(rng, 1000.0, 500000.0, n["orders"]),
                "o_orderdate": _days(
                    rng, datetime(1995, 1, 1), datetime(2001, 8, 1), n["orders"]
                ),
                "o_orderpriority": pa.array(rng.choice(PRIORITIES, n["orders"])),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": rng.integers(0, n["orders"], n["lineitem"]),
                "l_partkey": rng.integers(0, n["part"], n["lineitem"]),
                "l_suppkey": rng.integers(0, n["supplier"], n["lineitem"]),
                "l_linenumber": pa.array(rng.integers(1, 8, n["lineitem"]), pa.int32()),
                "l_quantity": rng.integers(1, 51, n["lineitem"]).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105000.0, n["lineitem"]),
                "l_discount": np.round(rng.integers(0, 11, n["lineitem"]) / 100, 2),
                "l_tax": np.round(rng.integers(0, 9, n["lineitem"]) / 100, 2),
                "l_returnflag": pa.array(rng.choice(RETURN_FLAGS, n["lineitem"])),
                "l_linestatus": pa.array(rng.choice(LINE_STATUS, n["lineitem"])),
                "l_shipdate": _days(
                    rng, datetime(1995, 1, 2), datetime(2001, 11, 4), n["lineitem"]
                ),
            }
        ),
        "events": _events(rng),
        "documents": _documents(rng),
        "embeddings": _embeddings(rng),
    }


def write_corpus(out_dir: str, seed: int) -> None:
    """Write every table as ``OUT_DIR/<table>.parquet``, then publish the
    directory atomically so a reader never sees a half-written corpus."""
    if os.path.isdir(out_dir):
        return
    tmp = f"{out_dir}.tmp{os.getpid()}"
    os.makedirs(tmp)
    for name, table in make_tables(seed).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    os.rename(tmp, out_dir)


if __name__ == "__main__":
    write_corpus(sys.argv[1], int(sys.argv[2]))
