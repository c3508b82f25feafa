"""Per-layer numbers from a span file, and the per-layer report table.

``layer_metrics`` turns the spans of a traced run into the ``per_layer``
metrics of ``BENCHMARK.json``.  Run as a script, this module prints one
table per workload from span files kept with ``run.py --spans-out``::

    python3 perfbench/run.py --workload bulk_snapshot --seed 1 --seconds 12 \\
        --trace 1 --spans-out /tmp/bulk.jsonl --event-log-out /tmp/bulk-log
    python3 perfbench/report.py /tmp/bulk.jsonl --event-log /tmp/bulk-log

The table gives, per span name: calls, total and per-batch median self
time (span minus the part of it its child spans cover), Spark jobs, and,
with an event log, task time and shuffle bytes of the jobs each span ran.
``--overhead TRACED UNTRACED`` compares the end-to-end numbers of a traced
and an untraced run on the same seed (their captured standard output).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from collections import defaultdict

from common import median

#: span names whose per-batch wall sums become ``<layer>_s`` metrics
_WALLS = {
    "router.inventory_s": ("router.inventory",),
    "schema.infer_s": ("schema.infer_and_parse", "schema.infer"),
    "apply.flush_s": ("apply.flush",),
    "apply.append_s": ("apply.append",),
    "apply.merge_s": ("apply.merge",),
    "apply.delete_s": ("apply.delete",),
    "apply.exists_read_s": ("apply.exists_read",),
}
_INFER = ("schema.infer_and_parse", "schema.infer")


def load(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the union of its children's
    intervals (clipped to the span)."""
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for c in children[s["id"]]
        ):
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def _by_batch(spans, batches):
    grouped = defaultdict(list)
    for s in spans:
        if s["batch_id"] in batches:
            grouped[s["batch_id"]].append(s)
    return grouped


def layer_metrics(spans: list[dict], batches) -> dict[str, float]:
    """Per-batch medians of each layer over the given batch ids."""
    batches = set(batches)
    grouped = _by_batch(spans, batches)
    per_batch = defaultdict(list)
    for bid in sorted(batches):
        ss = grouped.get(bid, [])
        dur = lambda names: sum(s["end"] - s["start"] for s in ss if s["name"] in names)  # noqa: E731
        batch_s = dur(("pipeline.process_batch",))
        apply_s = dur(("pipeline.apply_changes",))
        per_batch["pipeline.batch_s"].append(batch_s)
        per_batch["pipeline.pre_apply_s"].append(batch_s - apply_s)
        for metric, names in _WALLS.items():
            per_batch[metric].append(dur(names))
        per_batch["schema.infer_jobs"].append(sum(s["name"] in _INFER for s in ss))
        gate_s = dur(("quarantine.gate",))
        per_batch["quarantine.gate_s"].append(gate_s - batch_s if gate_s else 0.0)
        # per-table wall: first to last span of that table inside the apply
        tables = defaultdict(list)
        for s in ss:
            table = s["attrs"].get("table")
            if table and s["name"] not in ("pipeline.apply_changes", "pipeline.process_batch"):
                tables[table].append(s)
        if tables:
            # Σ per-table walls ÷ the wall of the per-table phase, from the
            # first table's start to the last table's end: 1.0 when the
            # tables run one after another, up to #tables when they overlap
            table_spans = [s for group in tables.values() for s in group]
            phase = max(s["end"] for s in table_spans) - min(s["start"] for s in table_spans)
            walls = [
                max(s["end"] for s in group) - min(s["start"] for s in group)
                for group in tables.values()
            ]
            if phase > 0:
                per_batch["pipeline.table_overlap"].append(sum(walls) / phase)
    out = {name: median(values) for name, values in per_batch.items()}
    out["schema.infer_skippable"] = infer_skippable([s for b in grouped.values() for s in b])
    return out


def infer_skippable(spans: list[dict]) -> float:
    """Upsert inference jobs whose payload columns are all already target
    columns ÷ all upsert inference jobs.  The target's columns come from
    the sink read the pipeline makes right after the inference."""
    by_thread = defaultdict(list)
    for s in spans:
        by_thread[s["thread"]].append(s)
    total = skippable = 0
    for ss in by_thread.values():
        ss.sort(key=lambda s: s["start"])
        for i, s in enumerate(ss):
            if s["name"] != "schema.infer_and_parse" or s["attrs"].get("route") != "upsert":
                continue
            total += 1
            payload = set(s["attrs"].get("columns", [])) - {"ts_ms"}
            target = next(
                (
                    r["attrs"].get("columns")
                    for r in ss[i + 1:]
                    if r["name"] == "apply.exists_read"
                    and r["attrs"].get("op") == "read"
                    and r["attrs"].get("table") == s["attrs"].get("table")
                ),
                None,
            )
            if target is not None and payload <= set(target):
                skippable += 1
    return skippable / total if total else 0.0


def jobs_per_batch(spans, batches, jobs: dict) -> float:
    """Median number of Spark jobs submitted while a batch's outermost
    span was open."""
    roots = defaultdict(list)
    for s in spans:
        if s["batch_id"] in batches and s["parent"] is None:
            roots[s["batch_id"]].append((s["start"] * 1000, s["end"] * 1000))
    counts = []
    for bid in batches:
        windows = roots.get(bid, [])
        counts.append(
            sum(
                1
                for j in jobs.values()
                if j.get("t0") and any(lo <= j["t0"] <= hi for lo, hi in windows)
            )
        )
    return median(counts)


def span_costs(prof: dict) -> dict[int, dict]:
    """Span id -> Spark jobs, task seconds and shuffle bytes of the jobs
    submitted under that span's job description."""
    stage_to_span = {}
    out = defaultdict(lambda: defaultdict(float))
    for job in prof["jobs"].values():
        desc = job.get("desc") or ""
        if not desc.startswith("span:"):
            continue
        sid = int(desc.split(":", 1)[1])
        out[sid]["jobs"] += 1
        for stage_id in job.get("stage_ids", []):
            stage_to_span[stage_id] = sid
    for (stage_id, _attempt), stage in prof["stages"].items():
        sid = stage_to_span.get(stage_id)
        agg = stage.get("agg")
        if sid is None or not agg:
            continue
        out[sid]["task_s"] += agg.get("task_ms", 0) / 1000.0
        out[sid]["shuffle_mb"] += (
            agg.get("shuffle_read_b", 0) + agg.get("shuffle_write_b", 0)
        ) / 1e6
    return out


def read_event_log(log_dir: str) -> dict:
    """The event log parsed by the repository's own profiler."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if root not in sys.path:
        sys.path.insert(0, root)
    from tools.profile_query import parse_event_log

    return parse_event_log(log_dir)


def table(spans: list[dict], batches=None, prof: dict | None = None) -> str:
    """The per-layer table: one row per span name."""
    if batches is not None:
        batches = set(batches)
        spans = [s for s in spans if s["batch_id"] in batches]
    selfs = self_times(spans)
    costs = span_costs(prof) if prof else {}
    rows = defaultdict(lambda: {"calls": 0, "self": 0.0, "jobs": 0.0, "task_s": 0.0,
                                "shuffle_mb": 0.0, "per_batch": defaultdict(float)})
    for s in spans:
        r = rows[s["name"]]
        r["calls"] += 1
        r["self"] += selfs[s["id"]]
        r["per_batch"][s["batch_id"]] += selfs[s["id"]]
        for k in ("jobs", "task_s", "shuffle_mb"):
            r[k] += costs.get(s["id"], {}).get(k, 0.0)
    n_batches = len({s["batch_id"] for s in spans}) or 1
    roots = sum(s["end"] - s["start"] for s in spans if s["parent"] is None)
    lines = [
        f"{'span':<32} {'calls':>6} {'self_s':>8} {'self/batch':>10} {'share':>6} "
        f"{'jobs':>6} {'task_s':>8} {'shufMB':>8}"
    ]
    for name, r in sorted(rows.items(), key=lambda kv: -kv[1]["self"]):
        lines.append(
            f"{name:<32} {r['calls']:>6} {r['self']:>8.3f} "
            f"{median(list(r['per_batch'].values())):>10.4f} "
            f"{(r['self'] / roots if roots else 0):>6.1%} {r['jobs']:>6.0f} "
            f"{r['task_s']:>8.2f} {r['shuffle_mb']:>8.2f}"
        )
    total_self = sum(r["self"] for r in rows.values())
    lines.append(
        f"batches {n_batches}; outermost spans {roots:.3f} s; "
        f"sum of self times {total_self:.3f} s "
        f"({(total_self / roots if roots else 0):.1%} of the outermost spans; "
        "above 100 % where tables run in parallel)"
    )
    return "\n".join(lines)


def report_line(path: str) -> dict:
    """The report object of a run's captured standard output."""
    with open(path) as f:
        lines = f.read().strip().splitlines()
    return json.loads(lines[-2])["report"]


def overhead(traced: dict, untraced: dict) -> dict:
    """Traced minus untraced value, and its share of the untraced value,
    of every measured end-to-end number both report lines carry."""
    out = {}
    for name, t in traced["metrics"].items():
        u = untraced["metrics"].get(name)
        # measured numbers are [value, unit] pairs; lists of samples are not
        if (isinstance(t, list) and isinstance(u, list) and len(t) == 2
                and isinstance(t[1], str) and isinstance(t[0], (int, float))):
            out[name] = {"traced": t[0], "untraced": u[0], "diff": t[0] - u[0],
                         "share": (t[0] - u[0]) / u[0] if u[0] else None, "unit": t[1]}
    return out


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("spans", nargs="*", help="span files written by run.py --spans-out")
    ap.add_argument("--event-log", help="the run's Spark event log directory")
    ap.add_argument("--overhead", nargs=2, metavar=("TRACED", "UNTRACED"),
                    help="captured output of a traced and an untraced run on the same seed")
    args = ap.parse_args(argv)
    prof = read_event_log(args.event_log) if args.event_log else None
    for path in args.spans:
        print(f"== {path}")
        print(table(load(path), prof=prof))
    if args.overhead:
        traced, untraced = (report_line(p) for p in args.overhead)
        print(f"== tracing overhead, {traced['workload']} seed {traced['seed']}")
        for name, o in overhead(traced, untraced).items():
            share = "" if o["share"] is None else f" ({o['share']:+.1%})"
            print(f"{name:<24} traced {o['traced']:.4g} untraced {o['untraced']:.4g} "
                  f"diff {o['diff']:+.4g} {o['unit']}{share}")


if __name__ == "__main__":
    main()
