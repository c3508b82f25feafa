"""``bulk_snapshot``: one large Debezium batch through ``process_batch``.

The batch is the engine's own flagship fixture (``debezium_orders_envelopes``)
over a synthetic ``orders`` table, prepared untimed and spread over every
core, as ``bench.py`` does for ``BENCH_PREPARED``.  The table is the same on
every seed; the seed only permutes the order of the events.  Each pass
applies the whole batch to a fresh ``MemoryTableSink`` (closed loop, one
batch per pass) and its final state is checked against
``ORDERS_FINAL_STATE_SQL`` run by DuckDB on the same parquet file.

Nothing is cleaned up between passes.  The memory sink keeps each table as
a ``localCheckpoint``, whose blocks Spark frees only once a JVM collection
finds the dropped table unreachable; the passes bear that cost, as an
application applying batch after batch would.
"""

from __future__ import annotations

import os
import time

import datagen
from common import Context, Result, cpu_s, jvm_gc_s, jvm_pid, median, timed

#: 0.05 is half of sf0.1: 75k orders, 101,250 change events
SCALE = 0.05
SMOKE_SCALE = 0.002
#: the table does not depend on the run's seed; only the event order does
TABLE_SEED = 7
SETUP_REPEATS = 3
WARMUP_PASSES = 3


def prepare(spark, data_dir: str, seed: int):
    """The envelope batch, in a seeded order, checkpointed on every core."""
    from pyspark.sql import functions as F

    from cdc_data_lake_pyspark_spark.fixtures import debezium_orders_envelopes

    par = spark.sparkContext.defaultParallelism
    order = F.xxhash64(F.col("value"), F.lit(seed))
    env = debezium_orders_envelopes(spark, data_dir)
    return (
        env.repartition(par, order)
        .sortWithinPartitions(order)
        .localCheckpoint(eager=True)
    )


def fingerprint(df) -> tuple:
    """Order-insensitive digest of a frame: row count plus two sums of a
    per-row hash over every column rendered as text."""
    from pyspark.sql import functions as F

    cols = sorted(df.columns)
    h = F.xxhash64(*[F.col(c).cast("string") for c in cols])
    row = df.select(h.alias("h")).agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor("h").alias("x"),
        F.sum(F.col("h").bitwiseAND(F.lit(0xFFFFFFFF))).alias("s"),
    ).first()
    return tuple(cols), row["n"], row["x"], row["s"]


def expected_fingerprint(spark, data_dir: str, fault) -> tuple:
    import duckdb

    from cdc_data_lake_pyspark_spark.fixtures import ORDERS_FINAL_STATE_SQL

    sql = ORDERS_FINAL_STATE_SQL
    if fault == "drop_delete":
        # the expected state forgets the deletes
        sql = sql.replace("WHERE o_orderkey % 10 <> 9", "")
        if sql == ORDERS_FINAL_STATE_SQL:
            raise RuntimeError("fault drop_delete did not apply")
    con = duckdb.connect()
    try:
        path = os.path.join(data_dir, "orders.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW orders AS SELECT * FROM read_parquet('{path}')")
        table = con.execute(sql).arrow()
    finally:
        con.close()
    return fingerprint(spark.createDataFrame(table.to_pandas()))


def collapse_ratio(data_dir: str) -> float:
    """Distinct upsert keys ÷ upsert events, from the fixture's own rules
    (``key % 10 in (7, 8)`` updates once, ``key % 20 == 7`` twice)."""
    import pyarrow.parquet as pq

    keys = pq.read_table(os.path.join(data_dir, "orders.parquet"), columns=["o_orderkey"])
    k = keys.column(0).to_numpy()
    once = ((k % 10 == 7) | (k % 10 == 8)).sum()
    twice = (k % 20 == 7).sum()
    return float(once) / float(once + twice) if once else 0.0


def run(ctx: Context) -> Result:
    from cdc_data_lake_pyspark_spark.apply import MemoryTableSink
    from cdc_data_lake_pyspark_spark.fixtures import ORDERS_TABLE_CONFIG
    from cdc_data_lake_pyspark_spark.pipeline import CdcPipeline

    spark = ctx.spark
    res = Result()
    data_dir = os.path.join(ctx.work_dir, "bulk-data")
    datagen.write_tables(
        data_dir, TABLE_SEED, SMOKE_SCALE if ctx.smoke else SCALE, tables=["orders"]
    )

    setup_walls = []
    env = None
    for _ in range(1 if ctx.smoke else SETUP_REPEATS):
        if env is not None:
            env.unpersist()
        wall, env = timed(prepare, spark, data_dir, ctx.seed)
        setup_walls.append(wall)
    events = env.count()
    expected = expected_fingerprint(spark, data_dir, ctx.fault)
    pids = [os.getpid(), jvm_pid(spark)]
    cpu_walls, gc_walls = [], []

    def one_pass(batch_id: int):
        sink = MemoryTableSink()
        if ctx.tracer is not None:
            ctx.tracer.wrap_sink(sink)
        pipe = CdcPipeline(config=ORDERS_TABLE_CONFIG, sink=sink)
        cpu0, gc0 = cpu_s(pids), jvm_gc_s(spark)
        wall, _ = timed(pipe.process_batch, env, batch_id)
        cpu_walls.append(cpu_s(pids) - cpu0)
        if batch_id >= 0:
            gc_walls.append(jvm_gc_s(spark) - gc0)
        got = fingerprint(sink.tables[("testdb", "orders")])
        res.check(got == expected, f"pass {batch_id}: state {got[1:]} != {expected[1:]}")
        return wall

    # warm-up passes: JIT and codegen of this plan shape, counted in set-up
    warm_s = sum(one_pass(-1 - i) for i in range(1 if ctx.smoke else WARMUP_PASSES))
    walls = []
    deadline = time.perf_counter() + ctx.seconds
    while len(walls) < 3 or time.perf_counter() < deadline:
        walls.append(one_pass(len(walls)))
        if ctx.smoke and len(walls) >= 2:
            break

    batch_s = median(walls)
    res.metrics["throughput_per_s"] = (events / batch_s, "1/s")
    res.metrics["setup_s"] = (ctx.session_start_s + median(setup_walls) + warm_s, "s")
    res.extra.update(
        {
            "bulk_events_per_s": (events / batch_s, "1/s"),
            "batch_p50_s": (batch_s, "s"),
            "events": events,
            "passes": len(walls),
            "pass_walls_s": [round(w, 4) for w in walls],
            "warmup_pass_s": round(warm_s, 4),
            "setup_repeats_s": [round(w, 4) for w in setup_walls],
            # CPU seconds of the JVM and this process per pass, warm-up
            # passes first: falls as the JIT warms, rises with contention
            "pass_cpu_s": [round(c, 2) for c in cpu_walls],
            "batch_ids": list(range(len(walls))),
        }
    )
    res.layers["dedup.collapse_ratio"] = collapse_ratio(data_dir)
    res.layers["jvm.gc_s"] = median(gc_walls)
    env.unpersist()
    return res
