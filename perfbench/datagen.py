"""Seeded input tables for the benchmark.

Writes the ten tables the query surface reads (``region nation customer
supplier part orders lineitem events documents embeddings``), one parquet
file each, with the column names, types and value domains of the engine's
test data at scale factor 0.001.  The same seed always writes the same
bytes' worth of values; a different seed changes every value but no size,
so runs on different seeds do the same amount of work.

Sizes are deliberately tiny: at this scale every query is bound by the
engine's per-query floor (relation resolution, planning, job scheduling,
Python worker round trips), which is what the workloads measure.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

N_CUSTOMER = 150
N_SUPPLIER = 10
N_PART = 200
N_ORDERS = 1500
N_LINEITEM = 6000
N_EVENTS = 1000
N_DOCUMENTS = 500
N_EMBEDDINGS = 500
EMBEDDING_DIM = 64
NEAR_DUP_SHARE = 0.05

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["cold", "hot", "small", "large", "new", "old", "red", "blue"]
PART_NOUN = ["widget", "bolt", "gear", "gizmo", "plate", "ring", "rod", "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ORDER_STATUS = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY_US = 86_400_000_000


def _days_since_epoch(iso: str) -> int:
    return int(np.datetime64(iso, "D").astype(np.int64))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform amounts in whole cents, as doubles."""
    return np.round(rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0, 2)


def _dates(rng: np.random.Generator, first: str, last: str, n: int) -> pa.Array:
    days = rng.integers(_days_since_epoch(first), _days_since_epoch(last) + 1, n)
    return pa.array(days.astype(np.int64) * _DAY_US, pa.timestamp("us"))


def _table(columns: dict[str, pa.Array | list | np.ndarray], types: dict[str, pa.DataType]) -> pa.Table:
    return pa.table({c: pa.array(v, types[c]) if not isinstance(v, pa.Array) else v
                     for c, v in columns.items()})


def build_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    out: dict[str, pa.Table] = {}

    out["region"] = _table(
        {"r_regionkey": list(range(5)), "r_name": REGIONS},
        {"r_regionkey": i32, "r_name": s},
    )
    out["nation"] = _table(
        {"n_nationkey": list(range(25)), "n_name": [f"NATION_{i}" for i in range(25)],
         "n_regionkey": [i % 5 for i in range(25)]},
        {"n_nationkey": i32, "n_name": s, "n_regionkey": i32},
    )
    out["customer"] = _table(
        {"c_custkey": np.arange(N_CUSTOMER),
         "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
         "c_nationkey": rng.integers(0, 25, N_CUSTOMER),
         "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
         "c_mktsegment": rng.choice(SEGMENTS, N_CUSTOMER)},
        {"c_custkey": i64, "c_name": s, "c_nationkey": i32, "c_acctbal": f64, "c_mktsegment": s},
    )
    out["supplier"] = _table(
        {"s_suppkey": np.arange(N_SUPPLIER),
         "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
         "s_nationkey": rng.integers(0, 25, N_SUPPLIER),
         "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER)},
        {"s_suppkey": i64, "s_name": s, "s_nationkey": i32, "s_acctbal": f64},
    )
    out["part"] = _table(
        {"p_partkey": np.arange(N_PART),
         "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, N_PART), rng.choice(PART_NOUN, N_PART))],
         "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
         "p_type": rng.choice(PART_TYPES, N_PART),
         "p_size": rng.integers(1, 51, N_PART),
         "p_retailprice": np.round(900.0 + np.arange(N_PART) * 0.1, 2)},
        {"p_partkey": i64, "p_name": s, "p_brand": s, "p_type": s, "p_size": i32, "p_retailprice": f64},
    )
    out["orders"] = _table(
        {"o_orderkey": np.arange(N_ORDERS),
         "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS),
         "o_orderstatus": rng.choice(ORDER_STATUS, N_ORDERS),
         "o_totalprice": _money(rng, 1000.0, 500000.0, N_ORDERS),
         "o_orderdate": _dates(rng, "1995-01-01", "2001-08-01", N_ORDERS),
         "o_orderpriority": rng.choice(PRIORITIES, N_ORDERS)},
        {"o_orderkey": i64, "o_custkey": i64, "o_orderstatus": s, "o_totalprice": f64,
         "o_orderdate": pa.timestamp("us"), "o_orderpriority": s},
    )
    out["lineitem"] = _table(
        {"l_orderkey": rng.integers(0, N_ORDERS, N_LINEITEM),
         "l_partkey": rng.integers(0, N_PART, N_LINEITEM),
         "l_suppkey": rng.integers(0, N_SUPPLIER, N_LINEITEM),
         "l_linenumber": rng.integers(1, 8, N_LINEITEM),
         "l_quantity": rng.integers(1, 51, N_LINEITEM).astype(np.float64),
         "l_extendedprice": _money(rng, 900.0, 105000.0, N_LINEITEM),
         "l_discount": np.round(rng.integers(0, 11, N_LINEITEM) / 100.0, 2),
         "l_tax": np.round(rng.integers(0, 9, N_LINEITEM) / 100.0, 2),
         "l_returnflag": rng.choice(["A", "N", "R"], N_LINEITEM),
         "l_linestatus": rng.choice(["F", "O"], N_LINEITEM),
         "l_shipdate": _dates(rng, "1995-01-02", "2001-11-04", N_LINEITEM)},
        {"l_orderkey": i64, "l_partkey": i64, "l_suppkey": i64, "l_linenumber": i32,
         "l_quantity": f64, "l_extendedprice": f64, "l_discount": f64, "l_tax": f64,
         "l_returnflag": s, "l_linestatus": s, "l_shipdate": pa.timestamp("us")},
    )
    # strictly increasing event times, about 43 minutes apart on average
    gaps_us = rng.integers(1_000, 5_200_000_000, N_EVENTS)
    start_us = _days_since_epoch("2024-01-01") * _DAY_US
    out["events"] = _table(
        {"event_id": np.arange(N_EVENTS),
         "ts": pa.array(start_us + np.cumsum(gaps_us), pa.timestamp("us")),
         "user_id": rng.integers(0, 15, N_EVENTS),
         "event_type": rng.choice(EVENT_TYPES, N_EVENTS),
         "value": _money(rng, 0.01, 330.0, N_EVENTS),
         "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]},
        {"event_id": i64, "ts": pa.timestamp("us"), "user_id": i64, "event_type": s,
         "value": f64, "props": s},
    )
    # random word documents; a few are an earlier document with up to a
    # third of its words replaced, plus " dup", so near-duplicate candidates
    # range from verified to rejected
    texts: list[str] = []
    originals: list[int] = []
    for i in range(N_DOCUMENTS):
        if originals and rng.random() < NEAR_DUP_SHARE:
            words = texts[originals[rng.integers(0, len(originals))]].split()
            for j in rng.choice(len(words), rng.integers(0, len(words) // 3 + 1), replace=False):
                words[j] = WORDS[rng.integers(0, len(WORDS))]
            texts.append(" ".join(words) + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, rng.integers(10, 100))))
            originals.append(i)
    out["documents"] = _table(
        {"doc_id": np.arange(N_DOCUMENTS), "text": texts,
         "lang": rng.choice(LANGS, N_DOCUMENTS),
         "source": [f"src{i % 20}" for i in range(N_DOCUMENTS)],
         "n_chars": [len(t) for t in texts]},
        {"doc_id": i64, "text": s, "lang": s, "source": s, "n_chars": i64},
    )
    vecs = rng.standard_normal((N_EMBEDDINGS, EMBEDDING_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(N_EMBEDDINGS), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, N_EMBEDDINGS), i32),
    })
    return out


def write_tables(seed: int, out_dir: str) -> str:
    """Write every table of ``seed`` under ``out_dir``; returns ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
