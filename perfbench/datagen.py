"""Seeded synthetic tables in the shape of the engine's TPC-H-like fixtures.

The benchmark reads no data from outside its checkout, so it writes its
own parquet tables: the columns, types and value ranges of the
repository's test tables described in FIXTURES.md §A (``region``,
``nation``, ``customer``, ``part``, ``orders``, ``lineitem``, ``events``).
``scale=0.1`` gives the sf0.1 row counts (150k orders, 15k customers, 20k
parts, 600k line items, 100k events).

Every float is rounded to cents so the oracles' decimal bridges are exact,
and every timestamp is a naive microsecond timestamp, as in the fixtures.
The same ``(seed, scale)`` always writes byte-identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS_PER_SCALE_UNIT = {
    "customer": 150_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
}
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
PART_WORDS = ["large", "hot", "small", "steel", "brass", "ring", "bolt", "nut"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_DAY_US = 86_400 * 1_000_000


def rows(table: str, scale: float) -> int:
    return max(int(round(ROWS_PER_SCALE_UNIT[table] * scale)), 10)


def _ts(base: str, offsets_us: np.ndarray) -> pa.Array:
    start = np.datetime64(base, "us").astype(np.int64)
    return pa.array(start + offsets_us.astype(np.int64), type=pa.timestamp("us"))


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def customer(rng: np.random.Generator, n: int) -> pa.Table:
    keys = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "c_custkey": keys,
            "c_name": [f"Customer#{k:09d}" for k in keys],
            "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
            "c_acctbal": _cents(rng, -999.99, 9999.99, n),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n)],
        }
    )


def part(rng: np.random.Generator, n: int) -> pa.Table:
    words = np.array(PART_WORDS)
    names = np.char.add(
        np.char.add(words[rng.integers(0, 4, n)], " "), words[rng.integers(4, 8, n)]
    )
    return pa.table(
        {
            "p_partkey": np.arange(n, dtype=np.int64),
            "p_name": names,
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n).astype(str)),
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n)],
            "p_size": rng.integers(1, 51, n).astype(np.int32),
            "p_retailprice": _cents(rng, 900.0, 2100.0, n),
        }
    )


def orders(rng: np.random.Generator, n: int, n_customers: int) -> pa.Table:
    return pa.table(
        {
            "o_orderkey": np.arange(n, dtype=np.int64),
            "o_custkey": rng.integers(0, n_customers, n).astype(np.int64),
            "o_orderstatus": np.array(STATUSES)[rng.integers(0, 3, n)],
            "o_totalprice": _cents(rng, 850.0, 500_000.0, n),
            "o_orderdate": _ts("1995-01-01", rng.integers(0, 2403, n) * _DAY_US),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n)],
        }
    )


def lineitem(rng: np.random.Generator, n: int, n_orders: int, n_parts: int) -> pa.Table:
    flags = np.array(["A", "N", "R"])
    return pa.table(
        {
            "l_orderkey": rng.integers(0, n_orders, n).astype(np.int64),
            "l_partkey": rng.integers(0, n_parts, n).astype(np.int64),
            "l_suppkey": rng.integers(0, 1000, n).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _cents(rng, 900.0, 105_000.0, n),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": flags[rng.integers(0, 3, n)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
            "l_shipdate": _ts("1995-01-02", rng.integers(0, 2499, n) * _DAY_US),
        }
    )


def events(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    # distinct, shuffled timestamps: the dedup oracles order by (ts, event_id)
    offsets = np.sort(rng.choice(30 * _DAY_US, size=n, replace=False))
    rng.shuffle(offsets)
    ks = rng.integers(0, 100, n)
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": _ts("2024-01-01", offsets),
            "user_id": rng.integers(0, n_users, n).astype(np.int64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
            "value": _cents(rng, 0.0, 500.0, n),
            "props": [f'{{"k": {k}}}' for k in ks],
        }
    )


def write_tables(out_dir: str, seed: int, scale: float, tables=None) -> dict[str, int]:
    """Write the named tables (default: all) as ``<out_dir>/<name>.parquet``
    and return their row counts."""
    n_cust, n_part, n_ord = rows("customer", scale), rows("part", scale), rows("orders", scale)
    builders = {
        "region": lambda rng: pa.table(
            {
                "r_regionkey": np.arange(5, dtype=np.int32),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": lambda rng: pa.table(
            {
                "n_nationkey": np.arange(25, dtype=np.int32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype(np.int32),
            }
        ),
        "customer": lambda rng: customer(rng, n_cust),
        "part": lambda rng: part(rng, n_part),
        "orders": lambda rng: orders(rng, n_ord, n_cust),
        "lineitem": lambda rng: lineitem(rng, rows("lineitem", scale), n_ord, n_part),
        "events": lambda rng: events(rng, rows("events", scale), max(n_cust // 10, 10)),
    }
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for index, (name, build) in enumerate(builders.items()):
        if tables is not None and name not in tables:
            continue
        # one generator per table, so any subset reads the same values
        table = build(np.random.default_rng([seed, index]))
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
