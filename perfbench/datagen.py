"""Seeded synthetic fixtures for the benchmark.

Writes the ten parquet tables the engine reads (`etl_gamma_spark.io.ALL_TABLES`)
with the schemas and value domains of the project's TPC-H-ish test
fixtures: a star schema (region, nation, customer, supplier, part, orders,
lineitem), a January-2024 `events` table and the text/vector corpus
(`documents`, `embeddings`). Row counts scale with `sf` the way the
fixtures do (sf=0.1: 600k lineitem rows, 100k events, 5000 documents).

The same (seed, sf) always writes the same bytes of data, so a benchmark
run is reproducible from its seed alone.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
EMBED_DIM = 64


def _days(start: dt.date, end: dt.date, n: int, rng) -> np.ndarray:
    """n uniform dates in [start, end] as timestamp[us] at midnight."""
    span = (end - start).days + 1
    day = np.datetime64(start, "D") + rng.integers(0, span, n)
    return day.astype("datetime64[us]")


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n_docs: int) -> dict:
    """Random texts of 10-99 words over a small vocabulary; then 5% of the
    documents, picked at random, are replaced by another document's text
    plus ' dup' (two picks of the same text make exact duplicates), so
    every dedup stage has work. Sources are assigned round robin."""
    texts = [" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))) for _ in range(n_docs)]
    for i in rng.choice(n_docs, n_docs // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n_docs))] + " dup"
    return {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": np.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng, n_vec: int) -> pa.Table:
    v = rng.standard_normal((n_vec, EMBED_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.reshape(-1), type=pa.float32())
    return pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n_vec * EMBED_DIM + 1, EMBED_DIM, dtype=np.int32)), flat
        ),
        "label": rng.integers(0, 10, n_vec).astype(np.int32),
    })


def generate(out_dir: str, seed: int, sf: float = 0.1) -> dict[str, int]:
    """Write every fixture table under ``out_dir``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_events = max(1000, int(1_000_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out_dir, "nation", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": rng.choice(names, n_part),
        "p_brand": np.array([f"Brand#{k}" for k in rng.integers(1, 26, n_part)]),
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1),
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _days(dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord, rng),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_line),
        "l_discount": np.round(rng.uniform(0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_line), 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_line, rng),
    })
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, n_events))
    _write(out_dir, "events", {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": (np.datetime64("2024-01-01T00:00:00", "us") + ts.astype("timedelta64[us]")),
        "user_id": rng.integers(0, max(150, int(15_000 * sf)), n_events).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    _write(out_dir, "documents", _documents(rng, n_docs))
    pq.write_table(_embeddings(rng, n_vec), os.path.join(out_dir, "embeddings.parquet"))
    return {"lineitem": n_line, "events": n_events, "documents": n_docs, "embeddings": n_vec}
