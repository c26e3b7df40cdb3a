"""Seeded input generation for the benchmark.

Writes the ten tables the engine's queries read (the TPC-H-ish star
schema plus ``events``, ``documents`` and ``embeddings``) as one
parquet file each, with the same column names, types and value
domains as the engine's test fixtures. Row counts follow a scale
factor ``sf`` the way the fixtures do (``lineitem`` = 6,000,000 x sf);
the seed only changes values, never sizes, so timings of different
seeds stay comparable.

Also generates the change streams the ``txlog_cdc`` workload applies:
CDC upsert batches, delete key sets and document drops for the
streaming ingest.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("small", "large", "red", "blue", "hot", "old", "new", "dark")
PART_NOUN = ("ring", "widget", "plate", "anvil", "bolt", "rod", "gear", "pipe")
STATUSES = ("F", "O", "P")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
WORDS = (
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
)
# CDC keys fall back from the newest key geometrically, on average by
# 1/RECENT of the key range.
RECENT = 50.0
EMB_DIM = 64
EMB_LABELS = 10

_EPOCH = dt.datetime(1970, 1, 1)
_ORDER_LO = dt.datetime(1995, 1, 1)
_ORDER_DAYS = (dt.datetime(2001, 8, 1) - _ORDER_LO).days
_SHIP_LO = dt.datetime(1995, 1, 2)
_SHIP_DAYS = (dt.datetime(2001, 11, 4) - _SHIP_LO).days
_EVENTS_LO = dt.datetime(2024, 1, 1)
_EVENTS_SPAN_US = 30 * 86_400 * 1_000_000


def _days_ts(lo: dt.datetime, days: np.ndarray) -> pa.Array:
    base_us = int((lo - _EPOCH).total_seconds()) * 1_000_000
    return pa.array(base_us + days.astype(np.int64) * 86_400_000_000,
                    type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _pick(rng: np.random.Generator, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def sizes(sf: float) -> dict[str, int]:
    """Row count per table at scale factor ``sf``."""
    return {
        "customer": max(10, round(150_000 * sf)),
        "supplier": max(5, round(10_000 * sf)),
        "part": max(20, round(200_000 * sf)),
        "orders": max(100, round(1_500_000 * sf)),
        "lineitem": max(400, round(6_000_000 * sf)),
        "events": max(100, round(1_000_000 * sf)),
        "users": max(10, round(15_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def documents_table(rng: np.random.Generator, n: int, first_id: int = 0,
                    pii: bool = False) -> pa.Table:
    """Random-word documents, 10-99 tokens each. About 5% are near
    duplicates of an earlier document (the same text plus one token),
    so the dedup pipeline has clusters to find. With ``pii`` some
    documents carry an e-mail address or a phone number for the
    curation scrub to replace."""
    words = np.asarray(WORDS, dtype=object)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
            continue
        t = " ".join(words[rng.integers(0, len(words), int(rng.integers(10, 100)))])
        if pii and rng.random() < 0.2:
            t += f" mail u{int(rng.integers(0, 999))}@example.com"
        if pii and rng.random() < 0.1:
            t += f" call +1 555-{int(rng.integers(0, 9999)):04d}-000"
        texts.append(t)
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    return pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in ids]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def orders_table(rng: np.random.Generator, n: int, n_cust: int,
                 first_key: int = 0) -> pa.Table:
    return pa.table({
        "o_orderkey": pa.array(np.arange(first_key, first_key + n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n, dtype=np.int64)),
        "o_orderstatus": _pick(rng, STATUSES, n),
        "o_totalprice": pa.array(_money(rng, 1000, 500_000, n)),
        "o_orderdate": _days_ts(_ORDER_LO, rng.integers(0, _ORDER_DAYS + 1, n)),
        "o_orderpriority": _pick(rng, PRIORITIES, n),
    })


def generate(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table under ``out_dir``; returns row counts."""
    rng = np.random.default_rng(seed)
    z = sizes(sf)
    os.makedirs(out_dir, exist_ok=True)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), type=pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), type=pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], type=pa.int32()),
    })
    n = z["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": pa.array(_names("Customer", n)),
        "c_nationkey": pa.array(rng.integers(0, 25, n, dtype=np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
        "c_mktsegment": _pick(rng, SEGMENTS, n),
    })
    n = z["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
        "s_name": pa.array(_names("Supplier", n)),
        "s_nationkey": pa.array(rng.integers(0, 25, n, dtype=np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
    })
    n = z["part"]
    keys = np.arange(n, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pa.array(keys),
        "p_name": pa.array([
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n), rng.integers(0, 8, n))
        ]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
        "p_type": _pick(rng, PART_TYPES, n),
        "p_size": pa.array(rng.integers(1, 51, n, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900 + (keys % 1000) * 0.1, 1)),
    })
    t["orders"] = orders_table(rng, z["orders"], z["customer"])
    n = z["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, z["orders"], n, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, z["part"], n, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, z["supplier"], n, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900, 105_000, n)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": _pick(rng, ("A", "N", "R"), n),
        "l_linestatus": _pick(rng, ("F", "O"), n),
        "l_shipdate": _days_ts(_SHIP_LO, rng.integers(0, _SHIP_DAYS + 1, n)),
    })
    n = z["events"]
    gaps = rng.exponential(_EVENTS_SPAN_US / n, n)
    base_us = int((_EVENTS_LO - _EPOCH).total_seconds()) * 1_000_000
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(base_us + np.cumsum(gaps).astype(np.int64),
                       type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, z["users"], n, dtype=np.int64)),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50, n), 2))),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })
    t["documents"] = documents_table(rng, z["documents"])
    n = z["embeddings"]
    labels = rng.integers(0, EMB_LABELS, n)
    centers = rng.normal(0, 0.14 / np.sqrt(EMB_DIM), (EMB_LABELS, EMB_DIM))
    vecs = centers[labels] + rng.normal(0, 1 / np.sqrt(EMB_DIM), (n, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })
    for name, table in t.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in t.items()}


def cdc_updates(rng: np.random.Generator, max_key: int, n_update: int,
                n_insert: int, n_cust: int) -> pa.Table:
    """One CDC batch over the orders table: ``n_update`` existing keys,
    drawn with a bias toward recent (high) keys the way change streams
    touch fresh rows, plus ``n_insert`` new keys above ``max_key``."""
    back = np.minimum(rng.geometric(RECENT / max(max_key, 1), n_update * 2), max_key)
    keys = np.unique(max_key - back)[:n_update]
    upd = orders_table(rng, len(keys), n_cust)
    upd = upd.set_column(0, "o_orderkey", pa.array(keys.astype(np.int64)))
    ins = orders_table(rng, n_insert, n_cust, first_key=max_key + 1)
    return pa.concat_tables([upd, ins])


def delete_keys(rng: np.random.Generator, max_key: int, n: int) -> np.ndarray:
    """Keys to delete, recent-biased like the updates."""
    back = np.minimum(rng.geometric(RECENT / max(max_key, 1), n * 2), max_key)
    return np.unique(max_key - back)[:n].astype(np.int64)
