"""``query_core``: the nine non-CDC queries of ``bench.CORE`` at sf0.1.

One client runs passes over the nine registry queries (closed loop), each
materialized through the ``noop`` sink as ``bench.py`` does; the seed
shuffles the query order of every pass.  The queries use the same
``latest_change_per_key``, ``merge_into`` and ``delete_matching`` operators
as the CDC path, on static tables, with no pipeline, runner or sink.  Each
query's result is checked once per run against its DuckDB oracle from the
registry.
"""

from __future__ import annotations

import os
import random
import time

import datagen
from common import Context, Result, jvm_gc_s, median, timed

SCALE = 0.1
SMOKE_SCALE = 0.002
TABLES = ["region", "nation", "customer", "orders", "lineitem", "events"]
SETUP_REPEATS = 3


def core_names() -> list[str]:
    import bench

    return [n for n in bench.CORE if not n.startswith("cdc_")]


def register_tables(spark, data_dir: str) -> None:
    """First touch of every input table: listing and footer reads."""
    for t in TABLES:
        spark.read.parquet(os.path.join(data_dir, f"{t}.parquet")).schema


def check_oracles(spark, registry, oracles, names, data_dir, res: Result, fault) -> None:
    import duckdb

    from check_oracles import normalize

    con = duckdb.connect()
    try:
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet").replace("'", "''")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        for name in names:
            got = normalize(registry[name](spark, data_dir).toPandas())
            want = normalize(con.sql(oracles[name]).df())
            if fault == "wrong_query" and name == names[0]:
                want = (want[0], want[1][1:])
            res.check(got == want, f"{name}: {len(got[1])} rows vs oracle {len(want[1])}")
    finally:
        con.close()


def run(ctx: Context) -> Result:
    from cdc_data_lake_pyspark_spark import queries as q

    spark = ctx.spark
    res = Result()
    data_dir = os.path.join(ctx.work_dir, "query-data")
    datagen.write_tables(data_dir, ctx.seed, SMOKE_SCALE if ctx.smoke else SCALE, tables=TABLES)
    registry, oracles = q.queries(), q.oracle_sql()
    names = core_names()
    order_rng = random.Random(ctx.seed)

    def run_query(name: str, batch_id: int) -> float:
        df = registry[name](spark, data_dir)
        if ctx.tracer is None:
            wall, _ = timed(df.write.format("noop").mode("overwrite").save)
            return wall
        ctx.tracer.batch_id = batch_id
        with ctx.tracer.span(f"queries.{name}") as rec:
            df.write.format("noop").mode("overwrite").save()
        return rec["end"] - rec["start"]

    prep = [timed(register_tables, spark, data_dir)[0] for _ in range(1 if ctx.smoke else SETUP_REPEATS)]
    t0 = time.perf_counter()
    for name in names:
        run_query(name, -1)
    warm_s = time.perf_counter() - t0

    per_query = {n: [] for n in names}
    passes, gc_walls = [], []
    deadline = time.perf_counter() + ctx.seconds
    while len(passes) < (1 if ctx.smoke else 3) or time.perf_counter() < deadline:
        order = names[:]
        order_rng.shuffle(order)
        total = 0.0
        gc0 = jvm_gc_s(spark)
        for name in order:
            wall = run_query(name, len(passes))
            per_query[name].append(wall)
            total += wall
        passes.append(total)
        gc_walls.append(jvm_gc_s(spark) - gc0)

    check_oracles(spark, registry, oracles, names, data_dir, res, ctx.fault)

    res.metrics["throughput_per_s"] = (len(names) / median(passes), "1/s")
    res.metrics["setup_s"] = (ctx.session_start_s + median(prep) + warm_s, "s")
    res.extra.update(
        {
            "query_pass_s": (median(passes), "s"),
            "query_pass_walls_s": [round(p, 4) for p in passes],
            "warmup_pass_s": round(warm_s, 4),
            "batch_ids": list(range(len(passes))),
        }
    )
    for name, walls in per_query.items():
        res.layers[f"queries.{name}_s"] = median(walls)
    res.layers["jvm.gc_s"] = median(gc_walls)
    return res
