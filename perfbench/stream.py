"""``stream_multi_table``: a CDC backlog drained through ``start_cdc_stream``.

Set-up writes snapshots of ``orders``, ``customer`` and ``part`` into a
``ParquetTableSink`` lake and writes every change file of the run into the
stream's source directory, with strictly increasing modification times.
The stream is the engine's own ``start_cdc_stream`` with a real
``writeStream`` → ``foreachBatch`` → quarantine gate →
``CdcPipeline.process_batch``, on Spark's default trigger (the next
micro-batch starts as soon as the last one ends), reading the files with
the source's backpressure cap ``maxFilesPerTrigger``: every micro-batch
takes exactly ``FILES_PER_BATCH`` files in order, like a consumer catching
up on a lagging topic under ``maxOffsetsPerTrigger``.  Equal batches make
each batch's cost comparable, and a busy second counts only the engine's
own speed (with files arriving on a schedule instead, the engine's batches
grow or shrink to match the arrival rate, which then sets the throughput).

Commit latency is each micro-batch's ``triggerExecution`` from Spark's own
progress reports.  After the stream drains, three fixed read queries run
over the lake, and the lake, the quarantine and the query results are
checked against the generator's reduction model.
"""

from __future__ import annotations

import glob
import json
import os
import time
from dataclasses import dataclass

import datagen
import model
from check_oracles import normalize
from common import Context, Result, data_files, jvm_gc_s, median, tail

#: lake size: 0.02 of sf1 is 30k orders, 3k customers, 4k parts
SCALE = 0.02
SMOKE_SCALE = 0.002
EVENTS_PER_FILE = 300
#: 1,800 change events per micro-batch
FILES_PER_BATCH = 6
#: seconds of run per micro-batch, to size the run from ``--seconds``
SECONDS_PER_BATCH = 3.0
#: change files of the warm-up, one batch each through the gate and pipeline
WARMUP_FILES = 1
SETUP_REPEATS = 3
LAKE_QUERY_REPEATS = 2


def _snapshot_rows(data_dir: str) -> dict:
    import pyarrow.parquet as pq

    snaps = {}
    for table, spec in model.TABLES.items():
        rows = pq.read_table(os.path.join(data_dir, f"{table}.parquet")).to_pylist()
        for row in rows:
            for c in spec["timestamps"]:
                row[c] = f"{row[c]:%Y-%m-%d %H:%M:%S.%f}"
        snaps[table] = rows
    return snaps


def preload(spark, sink, cfg, data_dir: str) -> None:
    """Snapshot tables into the lake through the sink's own append."""
    for table in model.TABLES:
        df = spark.read.parquet(os.path.join(data_dir, f"{table}.parquet"))
        sink.append(cfg.get(model.DB, table), df)


def _write_files(gen, n_files: int, out_dir: str, fault) -> list:
    os.makedirs(out_dir, exist_ok=True)
    files = []
    for i in range(n_files):
        drop = fault == "drop_delete" and i == n_files - 1
        stats = gen.make_file(EVENTS_PER_FILE, drop_deletes=drop)
        path = os.path.join(out_dir, f"changes-{i:05d}.json")
        with open(path, "w") as f:
            f.write("\n".join(stats.lines) + "\n")
        files.append((path, stats))
    return files


def _stage_in_order(files) -> None:
    """Strictly increasing modification times, one second apart, so the
    file source (which takes the oldest files first) reads them in order."""
    start = time.time() - len(files) - 1
    for i, (path, _stats) in enumerate(files):
        os.utime(path, (start + i, start + i))


def file_batches(checkpoint: str) -> dict[str, int]:
    """File name -> id of the micro-batch that read it, from the file
    source's metadata log."""
    out = {}
    for path in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        with open(path) as f:
            for line in f:
                if not line.startswith("{"):
                    continue
                entry = json.loads(line)
                out[os.path.basename(entry["path"])] = entry["batchId"]
    return out


def run_stream(spark, pipeline, dirs, files_per_batch: int):
    """Drain the source directory through one stream; return the progress
    reports of the micro-batches that had input."""
    from cdc_data_lake_pyspark_spark.sources.files import read_json_lines_stream
    from cdc_data_lake_pyspark_spark.streaming.runner import start_cdc_stream

    source = read_json_lines_stream(spark, dirs["source"], max_files_per_trigger=files_per_batch)
    query = start_cdc_stream(
        source,
        pipeline,
        dirs["checkpoint"],
        trigger_seconds=None,
        query_name=f"perfbench_{os.path.basename(dirs['checkpoint'])}",
        quarantine_dir=dirs["quarantine"],
    )
    try:
        query.processAllAvailable()
        return [p for p in query.recentProgress if p["numInputRows"] > 0]
    finally:
        query.stop()


def _lake_queries(spark, root: str, hot_key: int):
    from pyspark.sql import functions as F

    orders = spark.read.parquet(os.path.join(root, model.DB, "orders"))
    customer = spark.read.parquet(os.path.join(root, model.DB, "customer"))
    money = lambda c: F.sum(F.col(c).cast("decimal(18,2)")).cast("double")  # noqa: E731
    scan = orders.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"), money("o_totalprice").alias("total")
    )
    join = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"), money("o_totalprice").alias("total"))
    )
    point = orders.filter(F.col("o_orderkey") == hot_key).select("o_orderkey", "o_totalprice")
    return {
        "scan": sorted(tuple(r) for r in scan.collect()),
        "join": sorted(tuple(r) for r in join.collect()),
        "point": sorted(tuple(r) for r in point.collect()),
    }


def _expected_lake_queries(gen, hot_key: int):
    from decimal import Decimal

    def agg(group_of):
        acc = {}
        for row in gen.rows["orders"].values():
            g = group_of(row)
            if g is None:
                continue
            n, total = acc.get(g, (0, Decimal(0)))
            acc[g] = (n + 1, total + Decimal(str(row["o_totalprice"])))
        return sorted((g, n, float(t)) for g, (n, t) in acc.items())

    segment = {k: r["c_mktsegment"] for k, r in gen.rows["customer"].items()}
    hot = gen.rows["orders"].get(hot_key)
    return {
        "scan": agg(lambda r: r["o_orderstatus"]),
        "join": agg(lambda r: segment.get(r["o_custkey"])),
        "point": [] if hot is None else [(hot_key, hot["o_totalprice"])],
    }


def _lake_state(spark, root: str, table: str):
    from pyspark.sql import functions as F

    df = spark.read.parquet(os.path.join(root, model.DB, table))
    cols = sorted(df.columns)
    proj = [
        F.date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(c)
        if c in model.TABLES[table]["timestamps"]
        else F.col(c)
        for c in cols
    ]
    return normalize(df.select(*proj).toPandas())


def quarantined_in(spark, quarantine_dir: str, batch_ids) -> int:
    """Quarantined rows of the given micro-batches."""
    from pyspark.sql import functions as F

    from cdc_data_lake_pyspark_spark.streaming.quarantine import read_quarantine

    q = read_quarantine(spark, quarantine_dir)
    return q.filter(F.col("_batch_id").isin(list(batch_ids))).count()


@dataclass
class Staged:
    dirs: dict
    sink: object
    gen: model.ChangeGenerator
    files: list
    pipeline: object
    preload_walls: list


def _stage(ctx: Context, name: str, scale: float, seed: int, n_files: int,
           fault=None, preloads: int = 1) -> Staged:
    """Data, lake, pipeline and change files of one stream.  The snapshot
    preload runs ``preloads`` times into fresh lakes; the last one is used."""
    from cdc_data_lake_pyspark_spark.apply import ParquetTableSink
    from cdc_data_lake_pyspark_spark.config import load_tables_config
    from cdc_data_lake_pyspark_spark.pipeline import CdcPipeline

    base = os.path.join(ctx.work_dir, name)
    dirs = {k: os.path.join(base, k) for k in ("data", "source", "checkpoint", "quarantine")}
    datagen.write_tables(dirs["data"], seed, scale, tables=list(model.TABLES))
    cfg = load_tables_config(model.tables_config())
    walls = []
    for i in range(preloads):
        dirs["lake"] = os.path.join(base, f"lake{i}")
        sink = ParquetTableSink(dirs["lake"])
        t0 = time.perf_counter()
        preload(ctx.spark, sink, cfg, dirs["data"])
        walls.append(time.perf_counter() - t0)
    gen = model.ChangeGenerator(
        _snapshot_rows(dirs["data"]), seed, evolve_at=max(n_files // 2, 1)
    )
    files = _write_files(gen, n_files, dirs["source"], fault)
    _stage_in_order(files)
    pipeline = CdcPipeline(config=model.tables_config(), sink=sink)
    return Staged(dirs, sink, gen, files, pipeline, walls)


def warm_up(ctx: Context) -> None:
    """JIT and codegen warm-up: a few small batches through the same
    quarantine gate and pipeline, on a small lake of the same schema."""
    from cdc_data_lake_pyspark_spark.sources.files import read_json_lines_batch
    from cdc_data_lake_pyspark_spark.streaming.quarantine import with_quarantine
    from cdc_data_lake_pyspark_spark.streaming.runner import envelope_checks

    st = _stage(ctx, "warmup", SMOKE_SCALE, ctx.seed + 1, WARMUP_FILES)
    gate = with_quarantine(st.pipeline.process_batch, envelope_checks(), st.dirs["quarantine"])
    for i, (path, _stats) in enumerate(st.files):
        gate(read_json_lines_batch(ctx.spark, path), i)


def run(ctx: Context) -> Result:
    spark = ctx.spark
    res = Result()
    scale = SMOKE_SCALE if ctx.smoke else SCALE
    per_batch = 2 if ctx.smoke else FILES_PER_BATCH
    # the first batch is left out of the metrics, so at least three
    batches = 2 if ctx.smoke else max(3, int(round(ctx.seconds / SECONDS_PER_BATCH)))
    n_files = batches * per_batch

    phase = {}
    t_phase = time.perf_counter()
    if not ctx.smoke:
        warm_up(ctx)
        if ctx.tracer is not None:
            ctx.tracer.spans.clear()
    phase["warmup"] = time.perf_counter() - t_phase

    st = _stage(ctx, "stream", scale, ctx.seed, n_files, ctx.fault,
                preloads=1 if ctx.smoke else SETUP_REPEATS)
    dirs, sink, gen, files, pipeline = st.dirs, st.sink, st.gen, st.files, st.pipeline
    preload_walls = st.preload_walls
    phase["setup"] = time.perf_counter() - t_phase - phase["warmup"]
    if ctx.tracer is not None:
        ctx.tracer.wrap_sink(sink)
    malformed = sum(s.malformed for _, s in files)
    events = sum(s.events for _, s in files)

    t_run, gc0 = time.perf_counter(), jvm_gc_s(spark)
    progress = run_stream(spark, pipeline, dirs, per_batch)
    run_wall, gc_s = time.perf_counter() - t_run, jvm_gc_s(spark) - gc0

    read_by = file_batches(dirs["checkpoint"])
    lines_in = {}
    for path, stats in files:
        name = os.path.basename(path)
        batch = read_by.get(name)
        res.check(batch is not None, f"file {name} was not read by the stream")
        lines_in[batch] = lines_in.get(batch, 0) + len(stats.lines)
    # each micro-batch's input rows are the lines of the files it read
    for p in progress:
        want = lines_in.get(p["batchId"], 0)
        res.check(p["numInputRows"] == want,
                  f"micro-batch {p['batchId']}: {p['numInputRows']} rows, its files hold {want}")

    # -- correctness: lake, quarantine, read queries ---------------------
    t_phase = time.perf_counter()
    for table in model.TABLES:
        cols, got = _lake_state(spark, dirs["lake"], table)
        want = gen.expected_rows(table, cols)
        res.check(got == want, f"table {table}: {len(got)} rows vs {len(want)} expected")
    from cdc_data_lake_pyspark_spark.streaming.quarantine import read_quarantine

    quarantined = read_quarantine(spark, dirs["quarantine"]).count()
    expected_quarantine = malformed + (1 if ctx.fault == "wrong_quarantine" else 0)
    res.check(quarantined == expected_quarantine,
              f"quarantine holds {quarantined} rows, {expected_quarantine} injected")

    hot_key = int(gen.ranked["orders"][0])
    want_q = _expected_lake_queries(gen, hot_key)
    lake_walls = []
    for _ in range(1 if ctx.smoke else LAKE_QUERY_REPEATS):
        t0 = time.perf_counter()
        got_q = _lake_queries(spark, dirs["lake"], hot_key)
        lake_walls.append(time.perf_counter() - t0)
        for q in ("scan", "join", "point"):
            res.check(got_q[q] == want_q[q], f"lake query {q}: {got_q[q][:3]} vs {want_q[q][:3]}")
    phase["check"] = time.perf_counter() - t_phase
    res.extra["phase_s"] = {k: round(v, 3) for k, v in phase.items()}

    # -- metrics -------------------------------------------------------
    # the first micro-batch of a new query also pays the source's and the
    # checkpoint's start-up; throughput, commit latency and the layers are
    # over the batches after it
    steady = progress[1:] or progress
    steady_commit = [_seconds(p, "triggerExecution") for p in steady]
    steady_rows = sum(p["numInputRows"] for p in steady)
    steady_bad = quarantined_in(spark, dirs["quarantine"], [p["batchId"] for p in steady])
    res.metrics["throughput_per_s"] = (
        (steady_rows - steady_bad) / sum(steady_commit), "1/s"
    )
    res.metrics["setup_s"] = (
        ctx.session_start_s + median(preload_walls) + phase["warmup"], "s"
    )
    lake = data_files(dirs["lake"])
    upserts = []
    for path, stats in files:
        batch = read_by.get(os.path.basename(path))
        upserts.extend((batch, table, key) for table, key in stats.upserts)
    res.extra.update(
        {
            "commit_latency_p50_s": (median(steady_commit), "s"),
            "commit_latency_tail": tail(steady_commit),
            "lake_query_s": (median(lake_walls), "s"),
            "events": events,
            "files": len(files),
            "micro_batches": len(progress),
            "run_wall_s": round(run_wall, 3),
            "malformed_injected": malformed,
            "quarantined": quarantined,
            "commit_walls_s": [round(_seconds(p, "triggerExecution"), 3) for p in progress],
        }
    )
    res.extra["batch_ids"] = [p["batchId"] for p in steady]
    res.layers.update(
        {
            "runner.overhead_s": median(
                [_seconds(p, "triggerExecution") - _seconds(p, "addBatch") for p in steady]
            ),
            "sources.list_s": median([_seconds(p, "latestOffset", "getBatch") for p in steady]),
            "quarantine.rows": float(quarantined),
            "apply.lake_files": float(len(lake)),
            "jvm.gc_s": gc_s / max(len(progress), 1),
            "dedup.collapse_ratio": _collapse(upserts),
        }
    )
    res.extra["envelope_bytes_applied"] = sum(
        os.path.getsize(p) for p, _ in files
        if read_by.get(os.path.basename(p)) in set(res.extra["batch_ids"])
    )
    res.extra["lake_bytes"] = sum(lake.values())
    return res


def _seconds(progress: dict, *names: str) -> float:
    """Sum of the named ``durationMs`` entries of a progress report, in s."""
    return sum(progress["durationMs"].get(n, 0) for n in names) / 1000.0


def _collapse(upserts) -> float:
    """Distinct (batch, table, key) ÷ upsert events: how much the per-key
    dedup collapses, from the generator's ground truth."""
    return len(set(upserts)) / len(upserts) if upserts else 0.0
