"""Seeded generator for the engine's input tables.

Writes the ten parquet tables the catalog reads (``sources.tables.
TABLE_NAMES``) with the schemas, key ranges and value distributions of
the synthetic star schema the engine is developed against: uniform
foreign keys into the dimension tables, non-unique ``l_linenumber``
within an order, an events stream whose ``ts`` rises with ``event_id``
over 30 days, a 31-word document corpus in which 5 % of documents are a
near-duplicate of an earlier one (its text plus `` dup``), and unit
64-d embeddings.  Row counts follow the scale factor ``sf`` as in
TPC-H (lineitem = 6,000,000 x sf).

The same ``(seed, sf)`` always writes the same rows.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.42, 0.145, 0.145, 0.145, 0.145]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EVENTS_START = np.datetime64("2024-01-01", "us")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, lo: int, hi: int, n: int) -> np.ndarray:
    """Midnight timestamps ``lo..hi`` days after 1995-01-01."""
    return _EPOCH_1995 + rng.integers(lo, hi + 1, n).astype("timedelta64[D]")


def _choice(rng: np.random.Generator, values: list[str], n: int, p=None) -> list[str]:
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)].tolist()


def _documents(rng: np.random.Generator, n: int) -> dict:
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(_choice(rng, WORDS, k)))
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(_choice(rng, LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def _embeddings(rng: np.random.Generator, n: int) -> dict:
    vecs = rng.standard_normal((n, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    }


def tables(seed: int, sf: float) -> dict[str, dict]:
    """Column dict per table name, generated from one seeded stream."""
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 10)
    n_supp = max(int(10_000 * sf), 5)
    n_part = max(int(200_000 * sf), 10)
    n_ord = max(int(1_500_000 * sf), 10)
    n_line = max(int(6_000_000 * sf), 10)
    n_events = max(int(1_000_000 * sf), 10)
    n_users = max(int(15_000 * sf), 5)
    n_docs = max(int(50_000 * sf), 500)
    n_vecs = max(int(20_000 * sf), 500)

    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))  # noqa: E731
    i64 = lambda a: pa.array(np.asarray(a, dtype=np.int64))  # noqa: E731
    keys = lambda n: i64(np.arange(n))  # noqa: E731

    out: dict[str, dict] = {}
    out["region"] = {"r_regionkey": i32(np.arange(5)), "r_name": pa.array(REGIONS)}
    out["nation"] = {
        "n_nationkey": i32(np.arange(25)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": i32(np.arange(25) % 5),
    }
    out["customer"] = {
        "c_custkey": keys(n_cust),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(_choice(rng, SEGMENTS, n_cust)),
    }
    out["supplier"] = {
        "s_suppkey": keys(n_supp),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": i32(rng.integers(0, 25, n_supp)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    }
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = {
        "p_partkey": keys(n_part),
        "p_name": pa.array(_choice(rng, names, n_part)),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(_choice(rng, PART_TYPES, n_part)),
        "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)),
    }
    out["orders"] = {
        "o_orderkey": keys(n_ord),
        "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": pa.array(_choice(rng, ["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": pa.array(_days(rng, 0, 2404, n_ord)),
        "o_orderpriority": pa.array(_choice(rng, PRIORITIES, n_ord)),
    }
    out["lineitem"] = {
        "l_orderkey": i64(rng.integers(0, n_ord, n_line)),
        "l_partkey": i64(rng.integers(0, n_part, n_line)),
        "l_suppkey": i64(rng.integers(0, n_supp, n_line)),
        "l_linenumber": i32(rng.integers(1, 8, n_line)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_line)),
        "l_discount": pa.array(_money(rng, 0.0, 0.10, n_line)),
        "l_tax": pa.array(_money(rng, 0.0, 0.08, n_line)),
        "l_returnflag": pa.array(_choice(rng, ["A", "N", "R"], n_line)),
        "l_linestatus": pa.array(_choice(rng, ["F", "O"], n_line)),
        "l_shipdate": pa.array(_days(rng, 1, 2499, n_line)),
    }
    gaps = rng.exponential(1.0, n_events)
    offsets = np.cumsum(gaps) / gaps.sum() * (30 * _DAY_US - 1_000_000)
    out["events"] = {
        "event_id": keys(n_events),
        "ts": pa.array(_EVENTS_START + offsets.astype(np.int64).astype("timedelta64[us]")),
        "user_id": i64(rng.integers(0, n_users, n_events)),
        "event_type": pa.array(_choice(rng, EVENT_TYPES, n_events)),
        "value": pa.array(np.round(rng.exponential(50.0, n_events), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    }
    out["documents"] = _documents(rng, n_docs)
    out["embeddings"] = _embeddings(rng, n_vecs)
    return out


def write(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table to ``out_dir/<name>.parquet``; row count per table."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, cols in tables(seed, sf).items():
        table = pa.table(cols)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
