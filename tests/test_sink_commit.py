"""The local sinks' commit model: one commit per table per batch.

``ParquetTableSink`` buffers a batch's merge and delete (and appends that
follow them or change the schema) as one plan per table and rewrites the
table once at ``flush``; ``MemoryTableSink`` shares that implementation and
checkpoints instead.  These tests pin the commit count, the job-free
read-back, the crash-safe swap and the parity of both sinks with the
reduction model of ``tests/test_property_cdc.py``.
"""

import json
import logging
import os
import uuid

import pytest
from pyspark.sql import types as T

from cdc_data_lake_pyspark_spark.apply import MemoryTableSink, ParquetTableSink
from cdc_data_lake_pyspark_spark.config import load_tables_config
from cdc_data_lake_pyspark_spark.pipeline import CdcPipeline
from tests.test_property_cdc import reduce_batch

_TABLES = ("a", "b", "c")
_CONFIG = [{"db": "d", "table": t, "primary_key": "k"} for t in _TABLES]


def _cfg(table="t"):
    return load_tables_config([{"db": "d", "table": table, "primary_key": "k"}]).get("d", table)


def _env(table, k, op, image, ts):
    payload = json.dumps(image)
    return json.dumps(
        {
            "before": payload if op == "d" else None,
            "after": None if op == "d" else payload,
            "source": json.dumps({"db": "d", "table": table}),
            "op": op,
            "ts_ms": ts,
            "transaction": None,
        }
    )


def _batch(spark, events, table="t"):
    rows = [(_env(table, k, op, image, ts),) for k, op, image, ts in events]
    return spark.createDataFrame(rows, "value string")


def _rows(df, cols=("k", "v")):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def _count_overwrites(sink):
    calls = []
    real = sink._overwrite

    def counting(df, path):
        calls.append(os.path.basename(path))
        real(df, path)

    sink._overwrite = counting
    return calls


def test_one_overwrite_per_table_per_batch(spark, tmp_path):
    sink = ParquetTableSink(str(tmp_path))
    for t in _TABLES:
        sink.append(_cfg(t), spark.createDataFrame([(1, 10), (2, 20)], "k long, v long"))
    calls = _count_overwrites(sink)
    pipe = CdcPipeline(config=_CONFIG, sink=sink)

    # insert, update and delete routes on every table: one rewrite each
    events = []
    for i, t in enumerate(_TABLES):
        ts = 10 * i
        events += [
            _env(t, 3, "c", {"k": 3, "v": 30}, ts + 1),
            _env(t, 1, "u", {"k": 1, "v": 11}, ts + 2),
            _env(t, 2, "d", {"k": 2, "v": 20}, ts + 3),
        ]
    pipe.process_batch(spark.createDataFrame([(e,) for e in events], "value string"))
    assert sorted(calls) == sorted(_TABLES)
    for t in _TABLES:
        assert _rows(sink.read(spark, "d", t)) == [(1, 11), (3, 30)]

    # an append-only batch with an unchanged schema adds files in place
    calls.clear()
    events = [_env(t, 4, "c", {"k": 4, "v": 40}, 100) for t in _TABLES]
    pipe.process_batch(spark.createDataFrame([(e,) for e in events], "value string"))
    assert calls == []
    for t in _TABLES:
        assert _rows(sink.read(spark, "d", t)) == [(1, 11), (3, 30), (4, 40)]


def _jobs_during(spark, fn):
    """Run ``fn`` and return the Spark jobs it submitted."""
    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "sink read-back probe")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return sc.statusTracker().getJobIdsForGroup(group)


def test_read_back_submits_no_job_and_matches_parquet_schema(spark, tmp_path):
    schema = T.StructType(
        [
            T.StructField("k", T.LongType(), False),
            T.StructField("v", T.StringType(), True),
            T.StructField("ts", T.TimestampType(), True),
            T.StructField("tags", T.ArrayType(T.StringType(), False), False),
        ]
    )
    cfg = _cfg()
    sink = ParquetTableSink(str(tmp_path))
    path = os.path.join(str(tmp_path), "d", "t")

    def check(step):
        read = {}
        jobs = _jobs_during(
            spark, lambda: read.update(exists=sink.exists("d", "t"), df=sink.read(spark, "d", "t"))
        )
        assert jobs == [], f"{step}: read-back ran Spark jobs"
        assert read["exists"]
        assert read["df"].schema == spark.read.parquet(path).schema, step

    import datetime

    when = datetime.datetime(2024, 1, 2, 3, 4, 5)
    sink.create_if_not_exists(cfg, schema)
    check("create")
    sink.append(cfg, spark.createDataFrame([(1, "a", when, ["x"])], schema))
    check("append")
    evolved = T.StructType(schema.fields + [T.StructField("w", T.IntegerType(), True)])
    sink.append(cfg, spark.createDataFrame([(2, "b", when, [], 7)], evolved))
    sink.flush(cfg)
    check("column evolution")
    sink.merge(cfg, spark.createDataFrame([(1, "A", when, ["y"], 8)], evolved))
    sink.flush(cfg)
    check("merge")
    sink.delete(cfg, spark.createDataFrame([(2,)], "k long"))
    sink.flush(cfg)
    check("delete")
    assert _rows(sink.read(spark, "d", "t"), ("k", "v", "w")) == [(1, "A", 8)]


def test_append_without_flush_is_on_disk(spark, tmp_path):
    cfg = _cfg()
    sink = ParquetTableSink(str(tmp_path))
    path = os.path.join(str(tmp_path), "d", "t")
    sink.append(cfg, spark.createDataFrame([(1, 10)], "k long, v long"))
    sink.append(cfg, spark.createDataFrame([(2, 20)], "k long, v long"))
    assert _rows(spark.read.parquet(path)) == [(1, 10), (2, 20)]


def test_crash_inside_swap_keeps_pre_batch_rows(spark, tmp_path, monkeypatch):
    cfg = _cfg()
    root = str(tmp_path)
    path = os.path.join(root, "d", "t")
    sink = ParquetTableSink(root)
    sink.append(cfg, spark.createDataFrame([(1, 10), (2, 20)], "k long, v long"))
    sink.merge(cfg, spark.createDataFrame([(1, 11)], "k long, v long"))
    sink.delete(cfg, spark.createDataFrame([(2,)], "k long"))

    real_replace = os.replace

    def crash_on_swap_in(src, dst):
        if src.endswith("._cow_tmp"):
            raise OSError("crash between the two renames")
        return real_replace(src, dst)

    monkeypatch.setattr(os, "replace", crash_on_swap_in)
    with pytest.raises(OSError, match="crash between"):
        sink.flush(cfg)
    monkeypatch.undo()
    assert not os.path.isdir(path)  # the crash window: live table moved aside

    # a restarted sink finds the table and its pre-batch rows
    restarted = ParquetTableSink(root)
    assert restarted.exists("d", "t")
    assert _rows(restarted.read(spark, "d", "t")) == [(1, 10), (2, 20)]
    # the failed flush dropped the batch from the original sink too
    assert _rows(sink.read(spark, "d", "t")) == [(1, 10), (2, 20)]

    # replaying the batch converges, and no aside copy is left behind
    restarted.merge(cfg, spark.createDataFrame([(1, 11)], "k long, v long"))
    restarted.delete(cfg, spark.createDataFrame([(2,)], "k long"))
    restarted.flush(cfg)
    assert _rows(restarted.read(spark, "d", "t")) == [(1, 11)]
    assert sorted(os.listdir(os.path.join(root, "d"))) == ["t"]


def test_failed_flush_under_continue_on_error_drops_the_batch(spark, tmp_path, caplog):
    cfg = _cfg()
    sink = ParquetTableSink(str(tmp_path), continue_on_error=True)
    sink.append(cfg, spark.createDataFrame([(1, 10)], "k long, v long"))
    sink.merge(cfg, spark.createDataFrame([(1, 11), (2, 20)], "k long, v long"))

    def fail(df, path):
        raise RuntimeError("disk full")

    sink._overwrite = fail
    with caplog.at_level(logging.ERROR, "cdc_data_lake_pyspark_spark.apply"):
        sink.flush(cfg)  # logged, not raised
    assert any("flush" in r.getMessage() for r in caplog.records)
    assert _rows(sink.read(spark, "d", "t")) == [(1, 10)]


# -- parity of the local sinks with the reduction model -------------------

#: (key, op, image, ts) per batch; ts rises across the whole stream
_STREAM = [
    [
        (1, "c", {"k": 1, "v": 10}, 1),
        (2, "c", {"k": 2, "v": 20}, 2),
        (3, "c", {"k": 3, "v": 30}, 3),
        (4, "r", {"k": 4, "v": 40}, 4),
    ],
    [
        # several changes to one key, an insert updated in its own batch,
        # and a key deleted twice
        (1, "u", {"k": 1, "v": 11}, 10),
        (1, "u", {"k": 1, "v": 12}, 11),
        (5, "c", {"k": 5, "v": 50}, 12),
        (5, "u", {"k": 5, "v": 51}, 13),
        (2, "d", {"k": 2, "v": 20}, 14),
        (2, "d", {"k": 2, "v": 20}, 15),
        (3, "u", {"k": 3, "v": 31}, 16),
    ],
    [
        # a column added mid-stream, on both the insert and upsert routes
        (6, "c", {"k": 6, "v": 60, "w": "y"}, 20),
        (3, "u", {"k": 3, "v": 32, "w": "x"}, 21),
        (4, "d", {"k": 4, "v": 40}, 22),
        (1, "u", {"k": 1, "v": 13}, 23),
        (99, "d", {"k": 99, "v": 0}, 24),
    ],
    [
        # a delete older than a same-batch update: the guard keeps the update
        (3, "d", {"k": 3, "v": 32}, 30),
        (3, "u", {"k": 3, "v": 33, "w": "z"}, 31),
        (5, "d", {"k": 5, "v": 51}, 32),
        (5, "d", {"k": 5, "v": 51}, 33),
        (2, "c", {"k": 2, "v": 21}, 34),
        (6, "u", {"k": 6, "v": 61}, 35),
    ],
]


@pytest.mark.parametrize("ts_guard", [None, "_cdc_ts_ms"])
@pytest.mark.parametrize("kind", ["memory", "parquet"])
def test_local_sinks_match_reduction_model(spark, tmp_path, kind, ts_guard):
    sink = MemoryTableSink() if kind == "memory" else ParquetTableSink(str(tmp_path))
    pipe = CdcPipeline(
        config=[{"db": "d", "table": "t", "primary_key": "k"}], sink=sink, ts_guard=ts_guard
    )
    model: list[dict] = []
    for events in _STREAM:
        pipe.process_batch(_batch(spark, events))
        model = reduce_batch(model, events, guard=ts_guard is not None)
    got = sink.read(spark, "d", "t")
    assert {"k", "v", "w"} <= set(got.columns)
    want = sorted((r["k"], r["v"], r.get("w")) for r in model)
    assert _rows(got, ("k", "v", "w")) == want
