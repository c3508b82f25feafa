"""The CDC batch pipeline: parse → route → per-table → dedup → apply.

This is the engine's equivalent of the reference's ``processBatch``
(``transaction_log_process/transaction_log_util.py:55-168``), rebuilt as a
library:

* ONE logical pipeline behind all entry points (the reference has 6 thin
  scripts around the same flow — SURVEY §3 takeaway);
* batch is cached once and re-used across routes (reference ``cache()`` at
  ``transaction_log_util.py:58``);
* single driver round-trip for the (db, table, route) inventory instead of
  the reference's per-route distinct/collect/first storm (SURVEY §4.2.1);
  an empty inventory is the empty-batch short-circuit (reference
  ``isEmpty()``, ``:56,86,115,150``) without a job of its own;
* per-table: payload schema (inferred over the whole slice, or the sink's
  authoritative schema for upserts — ``:138-145``), timestamp-field casts
  (``:195-200``), PK dedup (``:267-273``), then append / merge / delete via
  the sink.

Delete-route key extraction parses the ``before`` image
(``transaction_log_util.py:161-167``) and projects only the PK columns.

Order of application within a batch follows the reference: inserts, then
upserts, then deletes (``transaction_log_util.py:78-168``).
"""

from __future__ import annotations

import logging
from dataclasses import dataclass
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from cdc_data_lake_pyspark_spark.config import TablesConfig, load_tables_config
from cdc_data_lake_pyspark_spark.dedup import latest_change_per_key
from cdc_data_lake_pyspark_spark.envelope import parse_debezium, parse_dms
from cdc_data_lake_pyspark_spark.router import (
    ROUTE_DELETE,
    ROUTE_INSERT,
    ROUTE_UPSERT,
    slice_table,
    table_op_inventory,
    with_route,
)
from cdc_data_lake_pyspark_spark.schema import (
    align_to_schema,
    cast_timestamp_fields,
    infer_and_parse_json,
    infer_json_schema,
    merge_schemas,
    parse_payload,
)
from cdc_data_lake_pyspark_spark.apply import TableSink

logger = logging.getLogger(__name__)

_PARSERS = {"debezium": parse_debezium, "dms": parse_dms}


@dataclass
class CdcPipeline:
    """Wire-format-agnostic CDC micro-batch processor.

    Parameters
    ----------
    config : per-table config (tables.json shape) — see ``config.py``
    sink : TableSink receiving append/merge/delete
    cdc_format : 'debezium' | 'dms'
    ts_guard : optional column name for the cross-batch out-of-order merge
        guard (``None`` reproduces reference behavior; ``'_cdc_ts_ms'``
        enables the guard using the envelope timestamp, which is then
        retained in the sink table — fixing the reference's silent
        last-batch-wins bug, SURVEY §2.5).
    schema_sample_rows : rows used for payload-schema inference
        (None = whole slice; 1 = reference's first-row behavior).
    """

    config: TablesConfig
    sink: TableSink
    cdc_format: str = "debezium"
    ts_guard: Optional[str] = None
    schema_sample_rows: Optional[int] = None
    # Tables in a batch are independent — apply them concurrently from a
    # small thread pool so per-table sink flushes overlap instead of
    # paying serial job-submission latency (1 = sequential).  Threads only
    # drive job submission; the cluster still schedules the work.
    max_parallel_tables: int = 8

    def __post_init__(self):
        self.config = load_tables_config(self.config)
        if self.cdc_format not in _PARSERS:
            raise ValueError(f"cdc_format must be one of {sorted(_PARSERS)}")

    # -- entry point ----------------------------------------------------

    def process_batch(self, batch_df: DataFrame, batch_id: int = 0) -> None:
        """``foreachBatch`` callback: apply one micro-batch of raw envelope
        strings (column ``value``) to the sink."""
        # A batch inherits the source's partitioning (e.g. #Kafka
        # partitions), which can be far below the cluster's core count.
        # Everything downstream — parse, cache build, per-route scans —
        # runs at the batch's parallelism, so spread thin batches across
        # all cores first (raw strings shuffle cheaply; the expensive
        # parse then runs wide).
        target = batch_df.sparkSession.sparkContext.defaultParallelism
        if batch_df.rdd.getNumPartitions() < target:
            batch_df = batch_df.repartition(target)
        changes = _PARSERS[self.cdc_format](batch_df)
        self.apply_changes(changes, batch_id)

    def apply_changes(self, changes: DataFrame, batch_id: int = 0) -> None:
        """Apply a canonical change-event frame (db/table/op/ts_ms/before/
        after) to the sink."""
        routed = with_route(changes).filter(F.col("route").isNotNull())
        # Serialized cache: the batch is dominated by long JSON payload
        # strings, where building the default deserialized columnar cache
        # costs ~40% more than the serialized form (measured at sf0.1);
        # spills to disk instead of recomputing under memory pressure.
        routed = routed.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            inventory = sorted(
                table_op_inventory(routed), key=lambda e: (e.db, e.table)
            )
            if not inventory:
                return
            workers = min(self.max_parallel_tables, len(inventory))
            if workers <= 1:
                for entry in inventory:
                    self._apply_table(entry, routed)
            else:
                from concurrent.futures import (
                    FIRST_EXCEPTION,
                    ThreadPoolExecutor,
                    wait,
                )

                spark = routed.sparkSession
                jspark = spark._jsparkSession

                def _bound(entry):
                    # Spark's active session is thread-local; bind the
                    # shared session so sink code using
                    # SparkSession.getActiveSession() works off-main-thread
                    spark._jvm.SparkSession.setActiveSession(jspark)
                    self._apply_table(entry, routed)

                # Fail-fast like the serial path, but SAFELY: on the first
                # worker failure, cancel tables that haven't started (they
                # must not commit after the batch is reported failed —
                # checkpoint replay is the recovery path), let in-flight
                # tables finish (the `with` join guarantees none are still
                # running when the finally unpersists the batch cache),
                # and surface any secondary failures before re-raising the
                # first one.
                with ThreadPoolExecutor(max_workers=workers) as pool:
                    futures = {
                        pool.submit(_bound, e): e for e in inventory
                    }
                    done, pending = wait(futures, return_when=FIRST_EXCEPTION)
                    first_exc = next(
                        (f.exception() for f in done if f.exception()), None
                    )
                    if first_exc is not None:
                        for f in pending:
                            f.cancel()
                        done, _ = wait(futures)  # join in-flight workers
                        for f in done:
                            if f.cancelled():
                                continue
                            exc = f.exception()
                            if exc is not None and exc is not first_exc:
                                e = futures[f]
                                logging.getLogger(__name__).warning(
                                    "batch %s: table %s.%s also failed: %r",
                                    batch_id,
                                    e.db,
                                    e.table,
                                    exc,
                                )
                        raise first_exc
        finally:
            routed.unpersist()

    def _apply_table(self, entry, routed: DataFrame) -> None:
        """Apply one table's routes (insert → upsert → delete, the
        reference's order) and flush — the unit of per-table parallelism;
        within a table everything stays sequential."""
        cfg = self.config.get(entry.db, entry.table)
        tbl = slice_table(routed, entry.db, entry.table)
        if ROUTE_INSERT in entry.routes:
            self._apply_insert(cfg, tbl)
        if ROUTE_UPSERT in entry.routes:
            self._apply_upsert(cfg, tbl)
        if ROUTE_DELETE in entry.routes:
            self._apply_delete(cfg, tbl)
        # the table's commit point: buffering sinks write the batch's
        # plan here, once, while the batch cache is still alive
        self.sink.flush(cfg)

    # -- route appliers -------------------------------------------------

    def _parse_after(self, sliced: DataFrame, keep: list[str]) -> DataFrame:
        """ONE distributed JSON pass over a route slice: fused infer+parse
        (envelope columns ride inside the same pass) — or the reference's
        sampled two-step when ``schema_sample_rows`` is set."""
        if self.schema_sample_rows is None:
            return infer_and_parse_json(sliced, "after", keep_cols=keep)
        schema = infer_json_schema(
            sliced, "after", sample_rows=self.schema_sample_rows
        )
        return parse_payload(sliced, "after", schema, keep_cols=keep)

    def _apply_insert(self, cfg, tbl: DataFrame) -> None:
        sliced = tbl.filter(F.col("route") == ROUTE_INSERT)
        keep = ["ts_ms"] if self.ts_guard else []
        payload = self._parse_after(sliced, keep)
        payload = cast_timestamp_fields(payload, cfg.timestamp_fields)
        if self.ts_guard:
            payload = payload.withColumnRenamed("ts_ms", self.ts_guard)
        self.sink.create_if_not_exists(cfg, payload.schema)
        self.sink.append(cfg, payload)
        logger.info("insert applied: %s", cfg.qualified_name)

    def _apply_upsert(self, cfg, tbl: DataFrame) -> None:
        sliced = tbl.filter(F.col("route") == ROUTE_UPSERT)
        spark = tbl.sparkSession
        # ONE JSON pass: fused infer+parse with ts_ms carried through.
        # When the target exists, its schema stays authoritative for
        # existing columns (reference REFRESH TABLE + spark.table().schema,
        # :138-145) via a post-parse projection/cast — NOT a second parse;
        # columns first appearing in an update still evolve (the
        # reference's MERGE path silently drops them — SURVEY §1.3/§8).
        payload = self._parse_after(sliced, ["ts_ms"])
        if self.sink.exists(cfg.db, cfg.table):
            target_schema = self.sink.read(spark, cfg.db, cfg.table).schema
            evolved = merge_schemas(
                _strip_fields(target_schema, {self.ts_guard, "ts_ms"}),
                _strip_fields(payload.schema, {"ts_ms"}),
            )
            payload = align_to_schema(payload, evolved)
        payload = cast_timestamp_fields(payload, cfg.timestamp_fields)
        # precombine: the configured payload column decides which of several
        # changes to one key wins (reference tables.json `precombine_key`,
        # readme "table 配置参数"); envelope ts_ms breaks ties / is the
        # fallback when the column isn't present in this batch.
        order_by = ["ts_ms"]
        if cfg.precombine_key != "ts_ms":
            if cfg.precombine_key in payload.columns:
                order_by = [cfg.precombine_key, "ts_ms"]
            else:
                logger.warning(
                    "precombine_key %r not in %s payload; ordering by ts_ms",
                    cfg.precombine_key,
                    cfg.qualified_name,
                )
        deduped = latest_change_per_key(payload, cfg.primary_keys, order_by=order_by)
        if self.ts_guard:
            deduped = deduped.withColumnRenamed("ts_ms", self.ts_guard)
        else:
            # reference drops ts_ms before MERGE (:273)
            deduped = deduped.drop("ts_ms")
        # an upsert-only stream must still create the table (the reference
        # creates before MERGE, transaction_log_util.py:202-214; catalog
        # sinks can't merge into a missing table)
        self.sink.create_if_not_exists(cfg, deduped.schema)
        self.sink.merge(
            cfg, deduped, **({"ts_guard": self.ts_guard} if self.ts_guard else {})
        )
        logger.info("upsert applied: %s", cfg.qualified_name)

    def _apply_delete(self, cfg, tbl: DataFrame) -> None:
        sliced = tbl.filter(F.col("route") == ROUTE_DELETE)
        # DELETE only needs the PK columns.  When the target exists its
        # schema is authoritative for key types, so skip the whole-slice
        # inference pass entirely and give from_json a PK-only schema —
        # one narrow extraction instead of infer-everything +
        # parse-everything (a full extra scan of the batch JSON at scale).
        if not self.sink.exists(cfg.db, cfg.table):
            # nothing to delete from — and catalog sinks can't run DELETE
            # against a missing table
            logger.info("delete skipped (no table): %s", cfg.qualified_name)
            return
        target_pk_schema = None
        target_schema = self.sink.read(tbl.sparkSession, cfg.db, cfg.table).schema
        pk_fields = [f for f in target_schema.fields if f.name in cfg.primary_keys]
        if len(pk_fields) == len(cfg.primary_keys):
            from pyspark.sql import types as T

            target_pk_schema = T.StructType(pk_fields)
        schema = target_pk_schema or infer_json_schema(
            sliced, "before", sample_rows=self.schema_sample_rows
        )
        payload = parse_payload(sliced, "before", schema, keep_cols=["ts_ms"])
        # Only the PK columns matter for DELETE ... WHERE EXISTS.  A key
        # deleted several times in the batch needs no dedup: the
        # anti-join / EXISTS ignores repeats, and the guarded delete takes
        # the latest timestamp per key itself.
        if self.ts_guard:
            # Guarded delete: the delete's envelope timestamp rides along
            # and the sink removes only rows whose guard column is at or
            # before it — a stale delete can't remove a newer image, either
            # cross-batch or within this batch (inserts/upserts apply
            # first, carrying their own guard values).
            keys_df = payload.select(
                *cfg.primary_keys, F.col("ts_ms").alias(self.ts_guard)
            )
            self.sink.delete(cfg, keys_df, ts_guard=self.ts_guard)
        else:
            self.sink.delete(cfg, payload.select(*cfg.primary_keys))
        logger.info("delete applied: %s", cfg.qualified_name)


def _strip_fields(schema, names):
    from pyspark.sql import types as T

    names = {n for n in names if n}
    return T.StructType([f for f in schema.fields if f.name not in names])
