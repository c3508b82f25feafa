"""Property-based CDC semantics: random event batches must match the pure
reduction model (SURVEY §5.2 — duplicate keys, delete-then-insert,
multi-op interleavings).

Batch semantics under test (reference transaction_log_util.py:78-168):
routes apply in insert → upsert → delete order within a batch; the upsert
route dedups to the latest change per key by ts_ms; merge replaces every
existing row of a matched key with the single update row; delete drops
every row whose key appears on the delete route.
"""

import json

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from cdc_data_lake_pyspark_spark.apply import MemoryTableSink
from cdc_data_lake_pyspark_spark.pipeline import CdcPipeline

CONFIG = [{"db": "testdb", "table": "t", "primary_key": "k"}]

events_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=4),        # key
        st.sampled_from(["r", "c", "u", "d"]),        # op
        st.integers(min_value=0, max_value=99),       # value
    ),
    max_size=25,
)


def _envelope(key: int, op: str, val: int, ts: int) -> str:
    payload = json.dumps({"k": key, "v": val})
    return json.dumps(
        {
            "before": payload if op == "d" else None,
            "after": None if op == "d" else payload,
            "source": json.dumps({"db": "testdb", "table": "t"}),
            "op": op,
            "ts_ms": ts,
            "transaction": None,
        }
    )


def reduce_batch(rows: list[dict], events, guard: bool = False) -> list[dict]:
    """The reduction model for one batch: the table after it, as a list of
    row dicts keyed ``k``.

    ``rows`` is the table before the batch; ``events`` are ``(key, op,
    image, ts)`` tuples, ``image`` being the row (the ``before`` image for
    deletes).  With ``guard`` (the pipeline's ``ts_guard``) every row also
    carries its change's ``ts``: the merge keeps, per key, the newest of
    the table's rows and the update (the update wins a tie), and a delete
    removes only rows at or before its latest ``ts`` for that key.
    """

    def stamped(image, ts):
        return dict(image, ts=ts) if guard else dict(image)

    ins = [stamped(p, ts) for (k, op, p, ts) in events if op in ("r", "c")]
    ups: dict[int, dict] = {}
    for k, op, p, ts in sorted(events, key=lambda e: e[3]):
        if op == "u":
            ups[k] = stamped(p, ts)  # later event (higher ts) wins
    table = rows + ins
    if ups and guard:
        newest: dict[int, tuple] = {}
        for src, row in [(0, r) for r in table] + [(1, r) for r in ups.values()]:
            rank = (row["ts"], src)
            if row["k"] not in newest or rank > newest[row["k"]][0]:
                newest[row["k"]] = (rank, row)
        table = [row for _, row in newest.values()]
    elif ups:
        table = [r for r in table if r["k"] not in ups] + list(ups.values())
    dels: dict[int, int] = {}
    for k, op, p, ts in events:
        if op == "d":
            dels[k] = max(dels.get(k, ts), ts)
    if guard:
        return [r for r in table if r["k"] not in dels or r["ts"] > dels[r["k"]]]
    return [r for r in table if r["k"] not in dels]


def _expected(events) -> list[tuple[int, int]]:
    """The reduction model: sorted (k, v) multiset of the final state."""
    batch = [(k, op, {"k": k, "v": v}, ts) for ts, (k, op, v) in enumerate(events)]
    return sorted((r["k"], r["v"]) for r in reduce_batch([], batch))


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(events=events_strategy)
def test_random_batches_match_reduction_model(spark, events):
    values = [
        (_envelope(k, op, v, ts),) for ts, (k, op, v) in enumerate(events)
    ]
    sink = MemoryTableSink()
    pipe = CdcPipeline(config=CONFIG, sink=sink)
    if values:
        batch = spark.createDataFrame(values, "value string")
        pipe.process_batch(batch)
    if ("testdb", "t") in sink.tables:
        got = sorted(
            (r.k, r.v) for r in sink.read(spark, "testdb", "t").collect()
        )
    else:
        got = []
    assert got == _expected(events)
