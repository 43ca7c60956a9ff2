"""Seeded generator for the benchmark's input tables.

Writes the ten tables the registered queries read (`region nation
customer supplier part orders lineitem events documents embeddings`),
one parquet file each, with the schemas and value domains of the
repository's seed-42 test fixtures (FIXTURES.md):

- TPC-H-shaped star schema: keys are dense ranges, foreign keys uniform,
  categorical columns draw from the fixture's value sets, dates are
  midnight timestamps in the fixture's ranges;
- `events`: one month of timestamps in event-id order, 5 event types,
  JSON `props` with 100 distinct values;
- `documents`: 10-100 words from a 30-word vocabulary, 5% of them a
  copy of an earlier document plus the word ``dup`` (the near-duplicate
  pairs the dedup jobs look for), 20 sources, 5 languages;
- `embeddings`: 64-d unit vectors with 10 weakly clustered labels.

``scale`` counts multiples of the sf0.1 fixture: ``scale=1`` gives
600,000 lineitem rows and 5,000 documents. Every table is one parquet
row group, as in the fixtures.

Usage: python3 perfbench/tables.py DST_DIR [scale] [seed]
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["red", "hot", "new", "small", "big", "old", "blue", "cold"]
PART_NOUN = ["bolt", "anvil", "ring", "rod", "plate", "gear", "nut", "pipe"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
N_SOURCES = 20
DIM = 64

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.timestamp("us"))


def _cents(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def _pick(rng: np.random.Generator, values: list[str], n: int,
          p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p)
    return pa.array(np.asarray(values, dtype=object)[idx], type=pa.string())


def build_tables(scale: float, seed: int) -> dict[str, pa.Table]:
    """Return every table as an Arrow table; same (scale, seed) → same
    bytes."""
    rng = np.random.default_rng(seed)
    n_cust = int(15_000 * scale)
    n_supp = max(int(1_000 * scale), 10)
    n_part = int(20_000 * scale)
    n_ord = int(150_000 * scale)
    n_line = int(600_000 * scale)
    n_evt = int(100_000 * scale)
    n_user = max(int(1_500 * scale), 10)
    n_doc = int(5_000 * scale)
    n_vec = int(2_000 * scale)
    i32, i64 = pa.int32(), pa.int64()

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), i32),
        "r_name": pa.array(REGIONS, pa.string())})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array(rng.integers(0, 5, 25), i32)})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)],
                           pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _cents(rng.uniform(-999.99, 9999.99, n_cust)),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)],
                           pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _cents(rng.uniform(-999.99, 9999.99, n_supp))})
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": _pick(rng, names, n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": 900.0 + rng.integers(0, 1000, n_part) / 10.0})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _cents(rng.uniform(1000.0, 500000.0, n_ord)),
        "o_orderdate": _ts(_EPOCH_1995
                           + rng.integers(0, 2405, n_ord) * _DAY_US),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": qty,
        "l_extendedprice": _cents(qty * rng.uniform(900.0, 2100.0, n_line)),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _ts(_EPOCH_1995
                          + rng.integers(1, 2500, n_line) * _DAY_US)})
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n_evt))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt), i64),
        "ts": _ts(_EPOCH_2024 + ts),
        "user_id": pa.array(rng.integers(0, n_user, n_evt), i64),
        "event_type": _pick(rng, EVENT_TYPES, n_evt),
        "value": _cents(rng.exponential(40.0, n_evt)),
        "props": pa.array([f'{{"k": {k}}}' for k in
                           rng.integers(0, 100, n_evt)], pa.string())})
    texts = _documents(rng, n_doc)
    dup = np.zeros(n_doc, dtype=bool)
    dup[1:] = rng.random(n_doc - 1) < 0.05
    for i in np.flatnonzero(dup):
        texts[i] = texts[rng.integers(0, i)] + " dup"
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n_doc, p=LANG_P),
        "source": pa.array([f"src{i % N_SOURCES}" for i in range(n_doc)],
                           pa.string()),
        "n_chars": pa.array([len(s) for s in texts], i64)})
    labels = rng.integers(0, 10, n_vec)
    centers = rng.normal(0.0, 0.01, (10, DIM))
    vec = rng.normal(0.0, 0.125, (n_vec, DIM)) + centers[labels]
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec), i64),
        "embedding": pa.array(list(vec.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})
    return t


def _documents(rng: np.random.Generator, n: int) -> list[str]:
    words = np.asarray(WORDS, dtype=object)
    lens = rng.integers(10, 101, n)
    flat = words[rng.integers(0, len(WORDS), int(lens.sum()))]
    ends = np.cumsum(lens)
    return [" ".join(flat[e - k:e]) for e, k in zip(ends, lens)]


def write_tables(dst: str, scale: float, seed: int) -> dict[str, int]:
    """Write every table to ``dst/<name>.parquet``; return row counts."""
    os.makedirs(dst, exist_ok=True)
    rows = {}
    for name, table in build_tables(scale, seed).items():
        pq.write_table(table, os.path.join(dst, f"{name}.parquet"),
                       row_group_size=max(table.num_rows, 1))
        rows[name] = table.num_rows
    return rows


if __name__ == "__main__":
    dst = sys.argv[1]
    scale = float(sys.argv[2]) if len(sys.argv) > 2 else 1.0
    seed = int(sys.argv[3]) if len(sys.argv) > 3 else 42
    print(write_tables(dst, scale, seed))
