"""Benchmark of the CDC engine: one workload per run, one JSON result line.

Usage (from the repository root)::

    python3 perfbench/run.py --workload bulk_snapshot --seed 1 --seconds 12 --trace 0

Workloads: ``bulk_snapshot`` (bulk.py), ``stream_multi_table`` (stream.py)
and ``query_core`` (core_queries.py).  ``--trace 0`` measures the
end-to-end metrics of ``BENCHMARK.json``; ``--trace 1`` is a separate run
that wraps the engine's layers in spans (spans.py) and reports the
per-layer metrics instead.  Every run checks the engine's output against an
independent expected state; a mismatch counts in ``failed``.

The last line of standard output is the result object.  The line before it
is a report with every metric the workload measured, by name and unit, and
the machine's noise readings.  Everything the run writes lives in a
private directory under the repository root, removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("bulk_snapshot", "stream_multi_table", "query_core")
FAULTS = ("drop_delete", "wrong_quarantine", "wrong_query")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs and few passes: checks the plumbing, not speed")
    ap.add_argument("--fault", choices=FAULTS,
                    help="make the expected state wrong on purpose (tests the checker)")
    ap.add_argument("--spans-out", help="keep the traced run's span file here")
    ap.add_argument("--event-log-out", help="keep the traced run's Spark event log here")
    return ap.parse_args(argv)


def noise_readings() -> dict:
    """Core count and the repository bench's contention probes, taken
    before the session starts: the multi-core steal ratio (about 1 on an
    idle machine, ``bench.STEAL_FLAG_RATIO`` flags a stolen one) and the
    single-core sentinel."""
    import bench

    base = bench.steal_base()
    draw = bench.steal_draw(base)
    return {
        "nproc": os.cpu_count(),
        "steal_base_s": base,
        "steal_draw": draw,
        "steal_flagged": draw > bench.STEAL_FLAG_RATIO,
        "sentinel_draw_s": bench.sentinel_draw(),
    }


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from ``/proc/stat``:
    the hypervisor's steal shows here, not in the probes above."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return (fields[7] if len(fields) > 7 else 0), sum(fields)


def _metric_block(names_units, values: dict, fill_missing: bool) -> dict:
    block = {}
    for name, unit in names_units:
        if name not in values:
            if not fill_missing:
                raise KeyError(f"workload did not measure {name}")
            value = 0.0
        else:
            value = values[name]
        block[name] = {"value": float(value), "unit": unit}
    return block


def run_workload(spark, args, work_dir: str, session_start_s: float, tracer=None):
    """Run one workload on a live session; return its ``Result``."""
    from common import Context

    if args.workload == "bulk_snapshot":
        import bulk as workload
    elif args.workload == "stream_multi_table":
        import stream as workload
    else:
        import core_queries as workload
    ctx = Context(
        spark=spark, work_dir=work_dir, seed=args.seed, seconds=args.seconds,
        smoke=args.smoke, fault=args.fault, tracer=tracer,
        session_start_s=session_start_s,
    )
    return workload.run(ctx)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "cdc_data_lake_pyspark_spark")):
        print("perfbench: the engine package is not next to perfbench/", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    # the oracle comparison is the repository's own tools/check_oracles.py
    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tools")]
    from common import jvm_pid, peak_rss_mb, start_session, stop_session

    # a terminated run still stops the JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work_dir = tempfile.mkdtemp(prefix=".perfbench-run-", dir=ROOT)
    os.environ["TMPDIR"] = work_dir
    tempfile.tempdir = None
    spark = tracer = None
    try:
        noise = noise_readings()
        event_log = os.path.join(work_dir, "event-log") if args.trace else None
        t0 = time.perf_counter()
        spark = start_session(work_dir, event_log)
        session_start_s = time.perf_counter() - t0
        if args.trace:
            from spans import Tracer

            tracer = Tracer(spark)
            tracer.install()
        steal0, total0 = cpu_ticks()
        result = run_workload(spark, args, work_dir, session_start_s, tracer)
        steal1, total1 = cpu_ticks()
        noise["cpu_steal_share"] = (steal1 - steal0) / max(total1 - total0, 1)
        result.extra["peak_rss_mb"] = (peak_rss_mb(jvm_pid(spark)), "MB")
        if tracer is not None:
            tracer.uninstall()
        stop_session(spark)
        spark = None
        if tracer is not None:
            import report

            spans_path = os.path.join(work_dir, "spans.jsonl")
            tracer.dump(spans_path)
            prof = report.read_event_log(event_log)
            add_layers(result, tracer.spans, prof)
            print(report.table(tracer.spans, result.extra.get("batch_ids"), prof), file=sys.stderr)
            if args.spans_out:
                shutil.copyfile(spans_path, args.spans_out)
            if args.event_log_out:
                shutil.copytree(event_log, args.event_log_out, dirs_exist_ok=True)
    finally:
        try:
            if spark is not None:
                stop_session(spark)
        finally:
            shutil.rmtree(work_dir, ignore_errors=True)

    e2e = [(m["name"], m["unit"]) for m in spec["end_to_end"]]
    layers = [(m["name"], m["unit"]) for m in spec["per_layer"]]
    everything = dict(result.extra)
    everything.update(result.metrics)
    report_line = {
        "report": {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "noise": noise,
            "failed_ratio": result.failed / max(result.attempted, 1),
            "problems": result.problems[:10],
            "metrics": everything,
            "layers": result.layers,
        }
    }
    print(json.dumps(report_line, default=str))
    if args.trace:
        metrics = _metric_block(layers, result.layers, fill_missing=True)
    else:
        metrics = _metric_block(e2e, {k: v[0] for k, v in result.metrics.items()}, False)
    print(json.dumps({
        "correct": result.failed == 0,
        "attempted": max(result.attempted, 1),
        "failed": result.failed,
        "metrics": metrics,
    }))
    return 0


def add_layers(result, spans, prof) -> None:
    """Per-layer metrics of a traced run, from its spans and event log."""
    import report

    batches = result.extra.get("batch_ids") or sorted(
        {s["batch_id"] for s in spans if s["batch_id"] is not None and s["batch_id"] >= 0}
    )
    result.layers.update(report.layer_metrics(spans, batches))
    result.layers["spark.jobs_per_batch"] = report.jobs_per_batch(spans, batches, prof["jobs"])
    written = [s["attrs"].get("bytes_written", 0) for s in spans if s["batch_id"] in set(batches)]
    if any(written):
        result.layers["apply.bytes_written"] = sum(written) / max(len(batches), 1)
        applied = result.extra.get("envelope_bytes_applied")
        if applied:
            result.layers["apply.write_amp"] = sum(written) / applied


if __name__ == "__main__":
    sys.exit(main())
