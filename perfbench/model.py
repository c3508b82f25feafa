"""Seeded CDC change generator and the reduction model of its final state.

The generator writes Debezium envelope lines for three tables.  Each file
mixes updates of Zipf-skewed keys (so a hot key changes several times in
one micro-batch), inserts of new keys and deletes, plus a small seeded
share of malformed lines that the stream's quarantine must catch.  From
``evolve_at`` on, ``part`` rows carry a new column ``p_comment``.

Where each number comes from:

* key skew: YCSB's Zipfian constant 0.99 (Cooper et al., "Benchmarking
  Cloud Serving Systems with YCSB", SoCC 2010; ``ZIPFIAN_CONSTANT`` of its
  ``ZipfianGenerator``), bounded to the table's snapshot keys in a seeded
  random order, as YCSB's scrambled Zipfian spreads the hot keys;
* the update/insert/delete mix: the engine's flagship fixture
  (``fixtures.debezium_orders_envelopes``) changes, per 100 keys, 20 keys
  once and 5 of them a second time (25 updates) and deletes 10; inserts
  match the deletes so each table keeps its size;
* which table changes: every snapshot row is equally likely, so a table's
  share of the events is its share of the rows;
* the malformed share (1 %) is a choice, not a measured figure: no public
  figure for malformed lines in a CDC feed was found.  It gives every
  micro-batch of the stream workload lines for the quarantine to catch.

The expected state is the reduction model of ``tests/test_property_cdc.py``
carried across batches: inserts append, the latest update per key replaces
the row, deletes remove it.  The engine applies those routes in the order
insert → upsert → delete within a micro-batch, and which files share a
micro-batch depends on timing.  The generator therefore never touches a
key after deleting it and only inserts keys that never existed; under
those two rules any grouping of the files into batches gives the state
this model computes by applying the files one event at a time.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

import numpy as np

T0 = 1_700_000_000_000
DB = "testdb"
#: YCSB's Zipfian constant: the key of popularity rank k is updated with
#: weight 1 / k**0.99 (the hottest of 30,000 keys draws about 9 %)
ZIPF_THETA = 0.99
#: updates, inserts and deletes per 100 keys, after the flagship fixture
OP_WEIGHTS = {"u": 25, "c": 10, "d": 10}
#: share of change events followed by a malformed line (a choice, see above)
MALFORMED_SHARE = 0.01
MALFORMED = ["", "null", '{"op": "u", "after": "{\\"x\\": 1']

TABLES = {
    "orders": {"pk": "o_orderkey", "timestamps": ["o_orderdate"]},
    "customer": {"pk": "c_custkey", "timestamps": []},
    "part": {"pk": "p_partkey", "timestamps": []},
}
EVOLVING_TABLE, NEW_COLUMN = "part", "p_comment"


def _zipf_cdf(n: int):
    """Cumulative probabilities of popularity ranks 0..n-1 under a Zipf
    law bounded to n keys."""
    weights = 1.0 / np.arange(1, n + 1, dtype=float) ** ZIPF_THETA
    cdf = np.cumsum(weights)
    return cdf / cdf[-1]


def tables_config() -> list[dict]:
    """tables.json-shaped config of the three tables."""
    return [
        {
            "db": DB,
            "table": name,
            "primary_key": spec["pk"],
            "timestamp.fields": spec["timestamps"],
            "precombine_key": "ts_ms",
        }
        for name, spec in TABLES.items()
    ]


def _cents(rng, lo, hi) -> float:
    return round(float(rng.uniform(lo, hi)), 2)


def _mutate(table: str, row: dict, rng) -> dict:
    row = dict(row)
    if table == "orders":
        row["o_totalprice"] = _cents(rng, 850.0, 500_000.0)
        row["o_orderstatus"] = ["F", "O", "P"][int(rng.integers(0, 3))]
    elif table == "customer":
        row["c_acctbal"] = _cents(rng, -999.99, 9999.99)
    else:
        row["p_retailprice"] = _cents(rng, 900.0, 2100.0)
    return row


def _new_row(table: str, key: int, rng, n_customers: int) -> dict:
    if table == "orders":
        day = int(rng.integers(0, 2403))
        date = np.datetime64("1995-01-01") + np.timedelta64(day, "D")
        return {
            "o_orderkey": key,
            "o_custkey": int(rng.integers(0, n_customers)),
            "o_orderstatus": "O",
            "o_totalprice": _cents(rng, 850.0, 500_000.0),
            "o_orderdate": f"{date} 00:00:00.000000",
            "o_orderpriority": "3-MEDIUM",
        }
    if table == "customer":
        return {
            "c_custkey": key,
            "c_name": f"Customer#{key:09d}",
            "c_nationkey": int(rng.integers(0, 25)),
            "c_acctbal": _cents(rng, -999.99, 9999.99),
            "c_mktsegment": "BUILDING",
        }
    return {
        "p_partkey": key,
        "p_name": "new part",
        "p_brand": "Brand#1",
        "p_type": "PROMO",
        "p_size": int(rng.integers(1, 51)),
        "p_retailprice": _cents(rng, 900.0, 2100.0),
    }


def envelope(table: str, op: str, before, after, ts_ms: int) -> str:
    return json.dumps(
        {
            "before": None if before is None else json.dumps(before),
            "after": None if after is None else json.dumps(after),
            "source": json.dumps({"db": DB, "table": table}),
            "op": op,
            "ts_ms": ts_ms,
            "transaction": None,
        }
    )


@dataclass
class FileStats:
    lines: list
    events: int = 0
    malformed: int = 0
    #: (table, key) of each update, for the dedup collapse ratio
    upserts: list = field(default_factory=list)


class ChangeGenerator:
    """Generates change files and keeps the model state they lead to."""

    def __init__(self, snapshots: dict, seed: int, evolve_at: int | None = None):
        self.rng = np.random.default_rng([seed, 99])
        self.rows = {t: {r[TABLES[t]["pk"]]: r for r in rows} for t, rows in snapshots.items()}
        self.ranked = {t: self.rng.permutation(sorted(rows)) for t, rows in self.rows.items()}
        self.zipf_cdf = {t: _zipf_cdf(len(ranked)) for t, ranked in self.ranked.items()}
        self.next_key = {t: (max(rows) + 1 if rows else 0) for t, rows in self.rows.items()}
        self.deleted = {t: set() for t in self.rows}
        self.evolve_at = evolve_at
        self.ts = T0
        self.files_made = 0
        names = list(TABLES)
        weights = np.array([len(self.rows[t]) for t in names], dtype=float)
        self._names, self._weights = names, weights / weights.sum()
        ops = list(OP_WEIGHTS)
        op_weights = np.array([OP_WEIGHTS[o] for o in ops], dtype=float)
        self._ops, self._op_cdf = ops, np.cumsum(op_weights / op_weights.sum())

    def _live_key(self, table: str, skewed: bool) -> int:
        """A snapshot key not deleted yet: Zipf-skewed for updates,
        uniform for deletes."""
        ranked = self.ranked[table]
        while True:
            if skewed:
                rank = int(np.searchsorted(self.zipf_cdf[table], self.rng.random(), side="right"))
            else:
                rank = int(self.rng.integers(0, len(ranked)))
            key = int(ranked[min(rank, len(ranked) - 1)])
            if key not in self.deleted[table]:
                return key

    def make_file(self, n_events: int, drop_deletes: bool = False) -> FileStats:
        """One file of ``n_events`` change events (plus malformed lines).
        With ``drop_deletes`` the model forgets this file's deletes — a
        deliberately wrong expected state."""
        rng = self.rng
        evolved = self.evolve_at is not None and self.files_made >= self.evolve_at
        stats = FileStats(lines=[])
        n_customers = max(len(self.rows.get("customer", {})), 1)
        for _ in range(n_events):
            table = self._names[int(rng.choice(len(self._names), p=self._weights))]
            rows = self.rows[table]
            self.ts += 1
            op = self._ops[int(np.searchsorted(self._op_cdf, rng.random(), side="right"))]
            if op == "u":
                key = self._live_key(table, skewed=True)
                before, after = rows[key], _mutate(table, rows[key], rng)
                stats.upserts.append((table, key))
            elif op == "c":
                key = self.next_key[table]
                self.next_key[table] += 1
                before, after = None, _new_row(table, key, rng, n_customers)
            else:
                key = self._live_key(table, skewed=False)
                before, after = rows[key], None
            if after is not None and evolved and table == EVOLVING_TABLE:
                after[NEW_COLUMN] = f"note {int(rng.integers(0, 1000))}"
            stats.lines.append(envelope(table, op, before, after, self.ts))
            stats.events += 1
            if op == "d":
                self.deleted[table].add(key)
                if not drop_deletes:
                    del rows[key]
            else:
                rows[key] = after
            if rng.random() < MALFORMED_SHARE:
                stats.lines.append(MALFORMED[int(rng.integers(0, len(MALFORMED)))])
                stats.malformed += 1
        self.files_made += 1
        return stats

    def expected_rows(self, table: str, columns: list[str]) -> list[tuple]:
        """The model state of ``table`` as sorted tuples in ``columns``
        order, rendered like ``tools/check_oracles.normalize``."""
        out = []
        for row in self.rows[table].values():
            vals = []
            for c in columns:
                v = row.get(c)
                vals.append("NULL" if v is None else repr(v) if isinstance(v, float) else str(v))
            out.append(tuple(vals))
        out.sort()
        return out
