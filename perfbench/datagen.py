"""Seeded generator for the benchmark's input tables.

Writes the ten tables ``bemidb_spark.tables.TABLES`` names (the TPC-H-shaped
star schema plus ``events``, ``documents`` and ``embeddings``) as one parquet
file each, with the column names, types and value distributions of the
repository's test data: every column is drawn independently and uniformly
(``events.value`` exponentially; ``l_discount`` and ``l_tax`` as uniform
reals rounded to cents, so their end values are half as frequent), so at
``scale=0.1`` lineitem has 600,000 rows and the files total about 17 MB.
``datacheck.py`` compares the tables with the test data column by column. The same seed gives byte-identical
tables; the TPC-H predicates (segments, regions, ``NATION_n``, brands, part
names with ``gear``/``small``, the 1995-2001 date range) all select rows.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, lo: int, hi: int, n: int) -> pa.Array:
    us = _EPOCH_1995 + rng.integers(lo, hi, n) * _US_PER_DAY
    return pa.array(us, pa.timestamp("us"))


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> list[str]:
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)].tolist()


def generate(out_dir: str, seed: int, scale: float = 0.1) -> dict[str, int]:
    """Write every table under ``out_dir``; return {table: rows}."""
    rng = np.random.default_rng(seed)
    n_cust = max(15, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(20, int(200_000 * scale))
    n_orders = max(150, int(1_500_000 * scale))
    n_lines = 4 * n_orders
    n_events = max(100, int(1_000_000 * scale))
    n_docs = max(50, int(50_000 * scale))
    n_vecs = max(20, int(20_000 * scale))
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), i32),
            "r_name": pa.array(_REGIONS, s),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": pa.array(_names("Customer", n_cust), s),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust), f64),
            "c_mktsegment": pa.array(_pick(rng, _SEGMENTS, n_cust), s),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": pa.array(_names("Supplier", n_supp), s),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp), f64),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), i64),
            "p_name": pa.array([
                f"{a} {b}" for a, b in zip(_pick(rng, _ADJECTIVES, n_part),
                                           _pick(rng, _NOUNS, n_part))], s),
            "p_brand": pa.array(
                [f"Brand#{i}" for i in rng.integers(1, 26, n_part)], s),
            "p_type": pa.array(_pick(rng, _PART_TYPES, n_part), s),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": pa.array(
                900.0 + (np.arange(n_part) % 1000) / 10.0, f64),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_orders), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), i64),
            "o_orderstatus": pa.array(_pick(rng, ["F", "O", "P"], n_orders), s),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_orders), f64),
            "o_orderdate": _days(rng, 0, 2404, n_orders),
            "o_orderpriority": pa.array(_pick(rng, _PRIORITIES, n_orders), s),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_orders, n_lines), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_lines), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_lines), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_lines), i32),
            "l_quantity": pa.array(
                rng.integers(1, 51, n_lines).astype(np.float64), f64),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_lines), f64),
            "l_discount": pa.array(_money(rng, 0.0, 0.10, n_lines), f64),
            "l_tax": pa.array(_money(rng, 0.0, 0.08, n_lines), f64),
            "l_returnflag": pa.array(_pick(rng, ["A", "N", "R"], n_lines), s),
            "l_linestatus": pa.array(_pick(rng, ["F", "O"], n_lines), s),
            "l_shipdate": _days(rng, 1, 2499, n_lines),
        }),
        "events": pa.table({
            "event_id": pa.array(np.arange(n_events), i64),
            "ts": pa.array(np.sort(
                _EPOCH_2024 + rng.integers(0, 30 * _US_PER_DAY, n_events)),
                pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1500, n_events), i64),
            "event_type": pa.array(_pick(rng, _EVENT_TYPES, n_events), s),
            "value": pa.array(np.round(rng.exponential(50.0, n_events), 2), f64),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)], s),
        }),
    }
    texts = [
        " ".join(_pick(rng, _WORDS, int(k)))
        for k in rng.integers(10, 101, n_docs)
    ]
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(
            _pick(rng, _LANGS, n_docs, p=[0.15, 0.4, 0.15, 0.15, 0.15]), s),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], s),
        "n_chars": pa.array([len(t) for t in texts], i64),
    })
    vecs = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), i32),
    })
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
