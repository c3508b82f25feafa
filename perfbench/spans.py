"""Spans around the engine's layers, recorded from the benchmark's side.

A traced run calls :meth:`Tracer.install`, which replaces the engine's
public functions and sink methods with wrappers that time each call.  The
engine itself is unchanged; the wrappers are removed again by
:meth:`Tracer.uninstall`.

Each span records its name, start and end (epoch seconds), the span that
was open when it started (its parent), the thread, the batch it belongs to
and a few attributes.  Spans stay in memory until :meth:`Tracer.dump`.

The pipeline applies tables from a thread pool, so a worker thread starts
with no open span; its spans take the open ``pipeline.apply_changes`` span
as their parent.  Each span also sets the Spark job description
``span:<id>`` while it is open, so that the report can charge the jobs in
the run's event log, their task time and shuffle bytes to the span that
ran them.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager

from common import data_files

#: (module path, attribute, span name) of wrapped module-level functions.
#: ``pipeline`` imports its helpers by name, so they are wrapped where the
#: pipeline looks them up.
_FUNCTIONS = [
    ("cdc_data_lake_pyspark_spark.pipeline", "table_op_inventory", "router.inventory"),
    ("cdc_data_lake_pyspark_spark.pipeline", "slice_table", "router.slice_table"),
    ("cdc_data_lake_pyspark_spark.pipeline", "infer_and_parse_json", "schema.infer_and_parse"),
    ("cdc_data_lake_pyspark_spark.pipeline", "infer_json_schema", "schema.infer"),
    ("cdc_data_lake_pyspark_spark.pipeline", "parse_payload", "schema.parse_payload"),
    ("cdc_data_lake_pyspark_spark.pipeline", "latest_change_per_key", "dedup.latest_change_per_key"),
    ("cdc_data_lake_pyspark_spark.apply", "merge_into", "apply.merge_into"),
    ("cdc_data_lake_pyspark_spark.apply", "delete_matching", "apply.delete_matching"),
]

#: sink methods and their span names
_SINK_METHODS = {
    "append": "apply.append",
    "merge": "apply.merge",
    "delete": "apply.delete",
    "flush": "apply.flush",
    "exists": "apply.exists_read",
    "read": "apply.exists_read",
    "create_if_not_exists": "apply.create",
}


#: spans that start a batch or its apply: no table is current yet
_BATCH_SCOPES = ("pipeline.apply_changes",)
#: spans that record the columns of the frame they return
_RECORD_COLUMNS = ("schema.infer_and_parse", "schema.infer", "apply.exists_read")


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self.batch_id = None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._fanout_parent = None
        self._undo: list = []

    # -- spans ---------------------------------------------------------

    def _stack(self) -> list:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else self._fanout_parent
        sid = next(self._ids)
        record = {
            "id": sid,
            "parent": parent,
            "name": name,
            "batch_id": self.batch_id,
            "thread": threading.get_ident(),
            "attrs": attrs,
        }
        previous_desc = self._label(f"span:{sid}")
        stack.append(sid)
        if name == "pipeline.apply_changes":
            self._fanout_parent = sid
        record["start"] = time.time()
        try:
            yield record
        finally:
            record["end"] = time.time()
            stack.pop()
            if name == "pipeline.apply_changes":
                self._fanout_parent = None
            self._label(previous_desc, restore=True)
            with self._lock:
                self.spans.append(record)

    def _label(self, desc, restore: bool = False):
        """Set this thread's Spark job description; return the old one."""
        sc = self.spark.sparkContext
        old = None if restore else sc.getLocalProperty("spark.job.description")
        sc.setLocalProperty("spark.job.description", desc)
        return old

    def wrap(self, fn, name: str, attrs_of=None, table_dir=None):
        """``fn`` inside a span named ``name``.  ``attrs_of(*args)`` gives
        the span's attributes; ``table_dir(cfg)`` names a table directory
        whose newly written data-file bytes the span records."""
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            attrs = attrs_of(*args, **kwargs) if attrs_of else {}
            # spans inside one table's apply carry that table's name
            if name == "router.slice_table":
                tracer._local.table = attrs["table"]
            elif name in _BATCH_SCOPES:
                tracer._local.table = None
            attrs.setdefault("table", getattr(tracer._local, "table", None))
            with tracer.span(name, **attrs) as rec:
                before = data_files(table_dir(args[0])) if table_dir else None
                out = fn(*args, **kwargs)
                if before is not None:
                    after = data_files(table_dir(args[0]))
                    rec["attrs"]["bytes_written"] = sum(
                        size for n, size in after.items() if n not in before
                    )
                if hasattr(out, "columns") and name in _RECORD_COLUMNS:
                    rec["attrs"]["columns"] = list(out.columns)
                return out

        return traced

    # -- installing wrappers -------------------------------------------

    def _patch(self, owner, attr, value) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def install(self) -> None:
        import importlib

        from cdc_data_lake_pyspark_spark import pipeline
        from cdc_data_lake_pyspark_spark.streaming import quarantine

        for module_name, attr, span_name in _FUNCTIONS:
            module = importlib.import_module(module_name)
            self._patch(module, attr, self.wrap(getattr(module, attr), span_name, _ATTRS.get(attr)))
        parsers = {fmt: self.wrap(fn, "envelope.parse") for fmt, fn in pipeline._PARSERS.items()}
        self._patch(pipeline, "_PARSERS", parsers)

        tracer = self
        process_batch = pipeline.CdcPipeline.process_batch

        def traced_process_batch(self_, batch_df, batch_id=0):
            if not tracer._stack():
                tracer.batch_id = batch_id
            tracer._local.table = None
            with tracer.span("pipeline.process_batch"):
                return process_batch(self_, batch_df, batch_id)

        self._patch(pipeline.CdcPipeline, "process_batch", traced_process_batch)
        self._patch(
            pipeline.CdcPipeline,
            "apply_changes",
            self.wrap(pipeline.CdcPipeline.apply_changes, "pipeline.apply_changes"),
        )

        with_quarantine = quarantine.with_quarantine

        def traced_with_quarantine(process, checks, quarantine_dir):
            gate = with_quarantine(process, checks, quarantine_dir)

            def traced_gate(batch_df, batch_id=-1):
                tracer.batch_id = batch_id
                with tracer.span("quarantine.gate"):
                    return gate(batch_df, batch_id)

            return traced_gate

        self._patch(quarantine, "with_quarantine", traced_with_quarantine)

    def wrap_sink(self, sink) -> None:
        """Time every call into one sink instance.  For a sink that keeps
        each table in a directory, writes also record the bytes of the
        data files they added."""
        paths = getattr(sink, "_path", None)
        for method, span_name in _SINK_METHODS.items():
            table_dir = None
            if paths is not None and method in ("append", "merge", "delete"):
                table_dir = lambda cfg: paths(cfg.db, cfg.table)  # noqa: E731
            setattr(
                sink,
                method,
                self.wrap(getattr(sink, method), span_name, _sink_attrs(method), table_dir),
            )

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, value = self._undo.pop()
            setattr(owner, attr, value)

    # -- output ----------------------------------------------------------

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for span in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(span, default=str) + "\n")


def _sink_attrs(method):
    if method in ("exists", "read"):
        def attrs(*args, **kwargs):
            db, table = (args[1], args[2]) if method == "read" else (args[0], args[1])
            return {"op": method, "table": f"{db}.{table}"}
    else:
        def attrs(cfg, *args, **kwargs):
            return {"table": cfg.qualified_name}
    return attrs


def _slice_attrs(changes, db, table):
    return {"table": f"{db}.{table}"}


def _infer_attrs(df, json_col, keep_cols=()):
    # with no ts_guard the pipeline keeps ``ts_ms`` only on the upsert
    # route, so the carried columns tell the two routes apart
    return {"route": "upsert" if "ts_ms" in list(keep_cols) else "insert"}


_ATTRS = {
    "slice_table": _slice_attrs,
    "infer_and_parse_json": _infer_attrs,
}
