"""Tests of the benchmark itself.

The model and report tests are pure Python.  The run tests start
``perfbench/run.py`` in smoke mode (tiny inputs, a few batches), each in its
own process with its own Spark session, and take about half a minute each::

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import random
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

import model  # noqa: E402
import report  # noqa: E402
from common import tail  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


# -- the reduction model -----------------------------------------------------


def _snapshots(n: int) -> dict:
    rng = random.Random(5)
    return {
        "orders": [
            {"o_orderkey": k, "o_custkey": rng.randrange(n), "o_orderstatus": "O",
             "o_totalprice": 100.0 + k, "o_orderdate": "1995-01-01 00:00:00.000000",
             "o_orderpriority": "5-LOW"}
            for k in range(n)
        ],
        "customer": [
            {"c_custkey": k, "c_name": f"c{k}", "c_nationkey": 1, "c_acctbal": 1.0,
             "c_mktsegment": "BUILDING"}
            for k in range(n)
        ],
        "part": [
            {"p_partkey": k, "p_name": "p", "p_brand": "b", "p_type": "t", "p_size": 1,
             "p_retailprice": 9.0}
            for k in range(n)
        ],
    }


def _apply_batch(state: dict, lines: list[str]) -> None:
    """The engine's batch semantics, per table: inserts append, the
    latest update per key replaces every row of that key, deletes drop
    every row of their keys (tests/test_property_cdc.py, per batch)."""
    events = []
    for line in lines:
        try:
            env = json.loads(line)
        except json.JSONDecodeError:
            continue
        if isinstance(env, dict):
            events.append(env)
    for table, spec in model.TABLES.items():
        pk = spec["pk"]
        mine = [e for e in events if json.loads(e["source"])["table"] == table]
        rows = state[table]
        rows.extend(json.loads(e["after"]) for e in mine if e["op"] in ("r", "c"))
        ups = {}
        for e in sorted((e for e in mine if e["op"] == "u"), key=lambda e: e["ts_ms"]):
            after = json.loads(e["after"])
            ups[after[pk]] = after
        rows[:] = [r for r in rows if r[pk] not in ups] + list(ups.values())
        dels = {json.loads(e["before"])[pk] for e in mine if e["op"] == "d"}
        rows[:] = [r for r in rows if r[pk] not in dels]


@pytest.mark.parametrize("grouping_seed", [0, 1, 2])
def test_any_batching_of_the_files_reaches_the_model_state(grouping_seed):
    gen = model.ChangeGenerator(_snapshots(200), seed=3, evolve_at=4)
    files = [gen.make_file(150).lines for _ in range(10)]
    state = {t: [dict(r) for r in rows] for t, rows in _snapshots(200).items()}
    rng = random.Random(grouping_seed)
    i = 0
    while i < len(files):
        size = rng.randint(1, 4)
        _apply_batch(state, [line for f in files[i:i + size] for line in f])
        i += size
    for table, spec in model.TABLES.items():
        key = lambda r: r[spec["pk"]]  # noqa: E731
        assert sorted(state[table], key=key) == sorted(gen.rows[table].values(), key=key)
    assert any(model.NEW_COLUMN in r for r in gen.rows["part"].values())


def test_generator_counts_malformed_lines_and_hot_keys():
    gen = model.ChangeGenerator(_snapshots(500), seed=1)
    stats = gen.make_file(2000)
    bad = [line for line in stats.lines if line.strip() in ("", "null") or not line.endswith("}")]
    assert stats.malformed == len(bad) > 0
    keys = [k for t, k in stats.upserts if t == "orders"]
    assert len(set(keys)) < len(keys)  # several changes per hot key


def test_drop_deletes_leaves_deleted_rows_in_the_model():
    a = model.ChangeGenerator(_snapshots(300), seed=2)
    b = model.ChangeGenerator(_snapshots(300), seed=2)
    a.make_file(300)
    b.make_file(300, drop_deletes=True)
    assert sum(map(len, b.rows.values())) > sum(map(len, a.rows.values()))


# -- statistics and the report -------------------------------------------


def test_tail_needs_ten_samples_beyond_it():
    assert tail(list(range(10))) is None
    pct, value, n = tail(list(range(100)))
    assert (value, n) == (89, 100) and pct == 90.0


def test_self_time_subtracts_the_union_of_children():
    spans = [
        {"id": 1, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "start": 1.0, "end": 4.0},
        {"id": 3, "parent": 1, "start": 3.0, "end": 6.0},  # overlaps 2
        {"id": 4, "parent": 3, "start": 3.5, "end": 4.5},
    ]
    st = report.self_times(spans)
    assert st == pytest.approx({1: 5.0, 2: 3.0, 3: 2.0, 4: 1.0})


# -- runs of the benchmark -------------------------------------------------


def _run(workload: str, *extra: str, cwd: str = ROOT):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
           "--seed", "3", "--seconds", "2", "--smoke", *extra]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def _result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = proc.stdout.strip().splitlines()
    out = json.loads(lines[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    report_line = json.loads(lines[-2])["report"]
    return out, report_line


def _assert_metrics(out: dict, kind: str) -> None:
    names = {m["name"]: m["unit"] for m in SPEC[kind]}
    assert set(out["metrics"]) == set(names)
    for name, m in out["metrics"].items():
        assert m["unit"] == names[name]
        assert isinstance(m["value"], float)


@pytest.mark.parametrize("workload", ["bulk_snapshot", "stream_multi_table", "query_core"])
def test_smoke_run_is_correct_and_prints_every_metric(workload):
    out, rep = _result(_run(workload))
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1, rep["problems"]
    _assert_metrics(out, "end_to_end")
    for name, _unit in [(m["name"], m["unit"]) for m in SPEC["end_to_end"]]:
        assert out["metrics"][name]["value"] > 0
    noise = rep["noise"]
    assert noise["nproc"] == os.cpu_count()
    assert noise["steal_base_s"] > 0 and noise["steal_draw"] > 0 and noise["sentinel_draw_s"] > 0
    assert isinstance(noise["steal_flagged"], bool)
    assert 0.0 <= noise["cpu_steal_share"] <= 1.0


def test_traced_smoke_run_prints_every_layer():
    out, rep = _result(_run("stream_multi_table", "--trace", "1"))
    assert out["correct"], rep["problems"]
    _assert_metrics(out, "per_layer")
    m = {k: v["value"] for k, v in out["metrics"].items()}
    assert m["pipeline.batch_s"] > 0 and m["quarantine.rows"] > 0
    assert m["spark.jobs_per_batch"] > 0 and m["apply.bytes_written"] > 0


@pytest.mark.parametrize(
    "workload,fault",
    [
        ("bulk_snapshot", "drop_delete"),
        ("stream_multi_table", "drop_delete"),
        ("stream_multi_table", "wrong_quarantine"),
        ("query_core", "wrong_query"),
    ],
)
def test_a_wrong_expected_state_counts_as_failed(workload, fault):
    out, rep = _result(_run(workload, "--fault", fault))
    assert not out["correct"]
    assert out["failed"] >= 1 and rep["failed_ratio"] > 0


def test_without_the_engine_the_run_fails_without_a_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run("bulk_snapshot", cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
    assert sorted(os.listdir(tmp_path)) == ["BENCHMARK.json", "perfbench"]
