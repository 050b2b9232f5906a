"""Seeded input generation for the benchmark.

Everything the program reads is written here from ``--seed``: the star
schema the registry and the generated SQL query (same table names and
column types as the fixture tables the engine's tests use, see
FIXTURES.md at the repo root), and the source file of the write chain.
The same seed gives byte-identical tables; nothing here touches Spark.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows per unit of scale factor, as in the engine's fixture tables
_BASE_ROWS = {"customer": 150_000, "supplier": 10_000, "part": 200_000, "orders": 1_500_000}
_LINES_PER_ORDER = 4
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "cold", "large", "new", "old", "small", "red", "dark"]
_NOUN = ["anvil", "bar", "bolt", "car", "jar", "ring", "rod", "widget"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_WORDS = (
    "agg batch big column data filter fast group hash join merge order query "
    "row scan slow small sort stream table the value vector window"
).split()

STAR_TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]


def _ts(rng: np.random.Generator, n: int, lo: str, hi: str) -> pa.Array:
    lo_s = np.datetime64(lo, "s").astype(np.int64)
    hi_s = np.datetime64(hi, "s").astype(np.int64)
    days = rng.integers(0, (hi_s - lo_s) // 86400 + 1, n)
    return pa.array((lo_s + days * 86400) * 1_000_000, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def star_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The TPC-H-like star schema at scale ``sf``, deterministic in ``seed``."""
    rng = np.random.default_rng([seed, 1])
    n = {k: max(10, int(v * sf)) for k, v in _BASE_ROWS.items()}
    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    customer = pa.table({
        "c_custkey": np.arange(n["customer"], dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
        "c_acctbal": _money(rng, n["customer"], -999.99, 9999.99),
        "c_mktsegment": rng.choice(_SEGMENTS, n["customer"]),
    })
    supplier = pa.table({
        "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
        "s_acctbal": _money(rng, n["supplier"], -999.99, 9999.99),
    })
    n_part = n["part"]
    part = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_ADJ, n_part), rng.choice(_NOUN, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + np.arange(n_part) * 0.1, 2),
    })
    n_ord = n["orders"]
    orders = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000, 500000),
        "o_orderdate": _ts(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
    })
    n_li = n_ord * _LINES_PER_ORDER
    lineitem = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n["supplier"], n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900, 100000),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts(rng, n_li, "1995-01-02", "2001-11-04"),
    })
    return {
        "region": region, "nation": nation, "customer": customer, "supplier": supplier,
        "part": part, "orders": orders, "lineitem": lineitem,
    }


def chain_source(seed: int, rows: int, n_parts: int, n_customers: int) -> pa.Table:
    """Source of the write chain: ``rows`` rows whose foreign keys follow a
    Zipf-like skew and whose text length are both set by ``seed``."""
    rng = np.random.default_rng([seed, 2])
    skew = rng.uniform(0.6, 1.4)  # rank-frequency exponent of the keys
    text_words = int(rng.integers(10, 13))  # mean words per text value

    def skewed(k: int) -> np.ndarray:
        w = 1.0 / np.arange(1, k + 1) ** skew
        return rng.choice(rng.permutation(k), rows, p=w / w.sum()).astype(np.int64)

    lengths = rng.poisson(text_words, rows) + 1
    words = rng.choice(_WORDS, int(lengths.sum()))
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    return pa.table({
        "id": np.arange(rows, dtype=np.int64),
        "nk": skewed(25),
        "pk": skewed(n_parts),
        "ck": skewed(n_customers),
        "amount": rng.integers(1, 10_000, rows).astype(np.int64),
        "txt": [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(rows)],
    })


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
