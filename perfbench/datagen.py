"""Seeded generator for the benchmark's input tables.

Writes the tables the benchmarked workloads read, one parquet file
each, with the schemas and value distributions of the engine's test
tables (TPC-H-like star schema, an ``events`` tick feed and a
``documents`` corpus with planted near-duplicates). Every column is
drawn independently from a ``numpy`` generator seeded by ``seed``,
so the same (sf, seed) always yields byte-identical values.

Row counts scale with ``sf`` like the engine's test tables: at
sf 0.01 there are 150 users (the daily pipeline's symbols), 10,000
events, 15,000 orders and 60,000 line items.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "old", "new", "green"]
PART_NOUN = ["ring", "bolt", "plate", "widget", "gear", "rod", "gizmo", "nut"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.15, 0.15, 0.14, 0.12]

US_PER_DAY = 86_400_000_000


def _us(day: str) -> int:
    return int(np.datetime64(day, "us").astype(np.int64))


def _days(rng: np.random.Generator, n: int, first: str, n_days: int) -> pa.Array:
    us = _us(first) + rng.integers(0, n_days, n) * US_PER_DAY
    return pa.array(us, pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _write(out_dir: str, name: str, cols: dict, schema: list[tuple[str, pa.DataType]]) -> None:
    arrays = [pa.array(cols[c], t) if not isinstance(cols[c], pa.Array) else cols[c] for c, t in schema]
    table = pa.Table.from_arrays(arrays, schema=pa.schema(schema))
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def generate(out_dir: str, sf: float, seed: int) -> None:
    """Write every table under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(100, int(1_500_000 * sf))
    n_line = max(400, int(6_000_000 * sf))
    n_evt = max(100, int(1_000_000 * sf))
    n_user = max(5, int(15_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    i32, i64, f64, s, ts = pa.int32(), pa.int64(), pa.float64(), pa.string(), pa.timestamp("us")

    _write(out_dir, "region", {"r_regionkey": np.arange(5), "r_name": REGIONS},
           [("r_regionkey", i32), ("r_name", s)])
    _write(
        out_dir, "nation",
        {"n_nationkey": np.arange(25), "n_name": [f"NATION_{i}" for i in range(25)],
         "n_regionkey": np.arange(25) % 5},
        [("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)],
    )
    _write(
        out_dir, "customer",
        {"c_custkey": np.arange(n_cust), "c_name": _names("Customer", n_cust),
         "c_nationkey": rng.integers(0, 25, n_cust), "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
         "c_mktsegment": rng.choice(SEGMENTS, n_cust)},
        [("c_custkey", i64), ("c_name", s), ("c_nationkey", i32), ("c_acctbal", f64), ("c_mktsegment", s)],
    )
    _write(
        out_dir, "supplier",
        {"s_suppkey": np.arange(n_supp), "s_name": _names("Supplier", n_supp),
         "s_nationkey": rng.integers(0, 25, n_supp), "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)},
        [("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32), ("s_acctbal", f64)],
    )
    pk = np.arange(n_part)
    _write(
        out_dir, "part",
        {"p_partkey": pk,
         "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part))],
         "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
         "p_type": rng.choice(PART_TYPES, n_part), "p_size": rng.integers(1, 51, n_part),
         "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)},
        [("p_partkey", i64), ("p_name", s), ("p_brand", s), ("p_type", s), ("p_size", i32),
         ("p_retailprice", f64)],
    )
    _write(
        out_dir, "orders",
        {"o_orderkey": np.arange(n_ord), "o_custkey": rng.integers(0, n_cust, n_ord),
         "o_orderstatus": rng.choice(["F", "O", "P"], n_ord), "o_totalprice": _money(rng, n_ord, 1000, 500000),
         "o_orderdate": _days(rng, n_ord, "1995-01-01", 2400), "o_orderpriority": rng.choice(PRIORITIES, n_ord)},
        [("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s), ("o_totalprice", f64),
         ("o_orderdate", ts), ("o_orderpriority", s)],
    )
    _write(
        out_dir, "lineitem",
        {"l_orderkey": rng.integers(0, n_ord, n_line), "l_partkey": rng.integers(0, n_part, n_line),
         "l_suppkey": rng.integers(0, n_supp, n_line), "l_linenumber": rng.integers(1, 8, n_line),
         "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
         "l_extendedprice": _money(rng, n_line, 900, 105000),
         "l_discount": rng.integers(0, 11, n_line) / 100.0, "l_tax": rng.integers(0, 9, n_line) / 100.0,
         "l_returnflag": rng.choice(["A", "N", "R"], n_line), "l_linestatus": rng.choice(["F", "O"], n_line),
         "l_shipdate": _days(rng, n_line, "1995-01-02", 2500)},
        [("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64), ("l_linenumber", i32),
         ("l_quantity", f64), ("l_extendedprice", f64), ("l_discount", f64), ("l_tax", f64),
         ("l_returnflag", s), ("l_linestatus", s), ("l_shipdate", ts)],
    )
    # tick feed: 30 days from 2024-01-01, event ids in time order
    t = np.sort(_us("2024-01-01") + rng.integers(0, 30 * US_PER_DAY, n_evt))
    _write(
        out_dir, "events",
        {"event_id": np.arange(n_evt), "ts": pa.array(t, ts), "user_id": rng.integers(0, n_user, n_evt),
         "event_type": rng.choice(EVENT_TYPES, n_evt), "value": np.round(rng.exponential(50.0, n_evt), 2),
         "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]},
        [("event_id", i64), ("ts", ts), ("user_id", i64), ("event_type", s), ("value", f64), ("props", s)],
    )
    # corpus: ~5% of documents are a copy of another one plus a
    # trailing "dup" token, so near-duplicate clusters exist
    texts = [" ".join(rng.choice(WORDS, rng.integers(10, 100))) for _ in range(n_doc)]
    for i in rng.choice(n_doc, n_doc // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n_doc))] + " dup"
    _write(
        out_dir, "documents",
        {"doc_id": np.arange(n_doc), "text": texts, "lang": rng.choice(LANGS, n_doc, p=LANG_P),
         "source": [f"src{i % 20}" for i in range(n_doc)], "n_chars": [len(x) for x in texts]},
        [("doc_id", i64), ("text", s), ("lang", s), ("source", s), ("n_chars", i64)],
    )
