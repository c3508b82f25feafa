"""Applying routed CDC changes: append / merge (upsert) / delete.

Reference parity (SURVEY §2.4):

* J1 MERGE INTO — equi-join target×source on the PK (single or composite),
  ``WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *`` —
  SQL text at ``transaction_log_util.py:279-284``, composite ON built at
  ``:233-239``, shared writer ``WriteIcebergTable.py:158-163``.
* J2 DELETE via EXISTS (left-semi) — ``DELETE FROM t WHERE EXISTS (SELECT
  pk FROM tmp u WHERE t.pk = u.pk)`` — ``transaction_log_util.py:326-327``.
* S4 append with schema evolution — ``writeTo(...).option('merge-schema',
  'true').append()`` — ``transaction_log_util.py:216-218``.
* S5 CREATE TABLE IF NOT EXISTS with table properties —
  ``transaction_log_util.py:202-214``; with LOCATION
  ``WriteIcebergTable.py:91-104``.
* J3 error-tolerant execution — MERGE/DELETE wrapped in try/except
  log-and-continue (``transaction_log_util.py:291-298,328-333``) — exposed
  here as a sink policy flag, default FAIL-FAST.

Spark-first design: merge/delete are pure DataFrame transforms —

    merged  = updates ∪ (target ⟕anti updates on keys)
    deleted = target ⟕anti deletes on keys

not a full-outer join with per-column coalesce: the anti-join build side is
the (deduped, usually small) update set, which Spark auto-broadcasts under
AQE; at 100 TB the target is never shuffled when the update side fits the
broadcast threshold, and otherwise AQE picks a shuffled hash join keyed on
the PK — exactly the plan a lakehouse MERGE produces.  The SQL-text
generators for Iceberg/Delta sinks are kept (and unit-tested) for when a
MERGE-capable catalog is on the classpath; locally the parquet sink applies
the same semantics via the DataFrame path.
"""

from __future__ import annotations

import itertools
import logging
import os
import shutil
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cdc_data_lake_pyspark_spark.config import TableConfig
from cdc_data_lake_pyspark_spark.schema import align_to_schema, merge_schemas

logger = logging.getLogger(__name__)


# --------------------------------------------------------------------------
# Pure DataFrame semantics (the oracle-testable core)
# --------------------------------------------------------------------------


def merge_into(
    target: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
    ts_guard: Optional[str] = None,
) -> DataFrame:
    """Upsert ``updates`` into ``target`` on ``keys`` (J1).

    Equivalent to ``MERGE ... WHEN MATCHED THEN UPDATE SET * WHEN NOT
    MATCHED THEN INSERT *`` for a deduped source.  ``updates`` must already
    be unique per key (use :func:`dedup.latest_change_per_key`), matching
    the reference's MERGE_CARDINALITY_VIOLATION guard.

    ``ts_guard``: optional column name; when set, a matched target row is
    only replaced if ``update.ts_guard >= target.ts_guard`` — the
    cross-batch out-of-order protection the reference lacks (SURVEY §2.5
    "late/out-of-order data").  Both frames must carry the column.
    """
    keys = list(keys)
    if ts_guard is None:
        kept_target = target.join(updates.select(*keys), on=keys, how="left_anti")
        return updates.unionByName(kept_target, allowMissingColumns=True)
    # Guarded path: a matched-but-older update must LOSE — keep the target
    # row instead. Resolve per key with latest-wins on (guard, is_update).
    u = updates.withColumn("_src", F.lit(1))
    t = target.withColumn("_src", F.lit(0))
    both = u.unionByName(t, allowMissingColumns=True)
    payload = F.struct(*[F.col(c) for c in both.columns]).alias("_row")
    # updates win ties (>=): order by (guard, _src)
    ordering = F.struct(F.col(ts_guard), F.col("_src"))
    return (
        both.groupBy(*keys)
        .agg(F.max_by(payload, ordering).alias("_row"))
        .select("_row.*")
        .drop("_src")
    )


def delete_matching(
    target: DataFrame,
    deletes: DataFrame,
    keys: Sequence[str],
    ts_guard: Optional[str] = None,
) -> DataFrame:
    """Remove target rows whose key appears in ``deletes`` (J2) — the
    DataFrame form of ``DELETE FROM t WHERE EXISTS (...)``: a left
    anti-join, broadcast when the delete set is small.  Like ``EXISTS``,
    the anti-join ignores repeated keys in ``deletes``, so they need no
    dedup shuffle first.

    ``ts_guard``: optional column name carried by BOTH frames; when set, a
    matching key only deletes rows whose guard value is ``<=`` the delete's
    — the out-of-order protection for deletes (a stale delete arriving
    after a newer upsert must not remove the newer row).  Plan shape is
    unchanged: a left join on the key with a residual guard predicate, the
    (small, deduped) delete side still broadcasts.
    """
    keys = list(keys)
    if ts_guard is None:
        return target.join(deletes.select(*keys), on=keys, how="left_anti")
    d = (
        deletes.select(*keys, F.col(ts_guard).alias("_del_ts"))
        .groupBy(*keys)
        .agg(F.max("_del_ts").alias("_del_ts"))
    )
    return (
        target.join(d, on=keys, how="left")
        .filter(F.col("_del_ts").isNull() | (F.col("_del_ts") < F.col(ts_guard)))
        .drop("_del_ts")
    )


# --------------------------------------------------------------------------
# SQL-text generation for lakehouse sinks (Iceberg/Delta parity)
# --------------------------------------------------------------------------


def _quote(ident: str) -> str:
    return "`" + ident.replace("`", "``") + "`"


def build_on_condition(keys: Sequence[str], t: str = "t", u: str = "u") -> str:
    """Composite-key ON clause (reference comma-split builder,
    ``transaction_log_util.py:233-239``) with quoted identifiers."""
    return " AND ".join(f"{t}.{_quote(k)} = {u}.{_quote(k)}" for k in keys)


def build_merge_sql(
    target_table: str,
    source_view: str,
    keys: Sequence[str],
    ts_guard: Optional[str] = None,
) -> str:
    """``MERGE INTO`` text (reference ``transaction_log_util.py:279-284``),
    plus the optional timestamp guard on the MATCHED branch."""
    on = build_on_condition(keys)
    matched = "WHEN MATCHED"
    if ts_guard:
        matched += f" AND u.{_quote(ts_guard)} >= t.{_quote(ts_guard)}"
    return (
        f"MERGE INTO {target_table} t USING {source_view} u ON {on} "
        f"{matched} THEN UPDATE SET * "
        f"WHEN NOT MATCHED THEN INSERT *"
    )


def build_delete_sql(
    target_table: str,
    source_view: str,
    keys: Sequence[str],
    ts_guard: Optional[str] = None,
) -> str:
    """``DELETE FROM ... WHERE EXISTS`` text (reference
    ``transaction_log_util.py:326-327`` — the correct two-alias form, not
    the broken self-comparison in ``WriteIcebergTable.py:197``).  With
    ``ts_guard``, only target rows at-or-before the delete's timestamp
    match (stale deletes are inert)."""
    alias = target_table_alias(target_table)
    cond = build_on_condition(keys, t=alias, u="u")
    if ts_guard:
        cond += f" AND u.{_quote(ts_guard)} >= {alias}.{_quote(ts_guard)}"
    key_list = ", ".join(f"u.{_quote(k)}" for k in keys)
    return (
        f"DELETE FROM {target_table} {alias} WHERE EXISTS "
        f"(SELECT {key_list} FROM {source_view} u WHERE {cond})"
    )


def build_merge_statement_sequence(
    target_table: str,
    source_view: str,
    keys: Sequence[str],
    ts_guard: Optional[str] = None,
    using: str = "iceberg",
) -> list[str]:
    """The statements an upsert actually executes against a lakehouse
    catalog.

    On Iceberg, ``'write.spark.accept-any-schema'='true'`` (set at CREATE
    for append-path schema evolution) makes MERGE INTO fail analysis with
    UNRESOLVED_COLUMN on Spark 3.5+ (apache/iceberg#9827); the reference
    works around it by unsetting the property before the MERGE and
    restoring it after (``transaction_log_util.py:287-298``).  Delta has no
    such property, so the sequence is just the MERGE there.
    """
    merge = build_merge_sql(target_table, source_view, keys, ts_guard=ts_guard)
    if using != "iceberg":
        return [merge]
    prop = "'write.spark.accept-any-schema'"
    return [
        f"ALTER TABLE {target_table} UNSET TBLPROPERTIES ({prop})",
        merge,
        f"ALTER TABLE {target_table} SET TBLPROPERTIES ({prop}='true')",
    ]


def target_table_alias(target_table: str) -> str:
    return "t1"


def build_compaction_sql(catalog: str, db: str, table: str, using: str = "iceberg") -> str:
    """Small-file compaction statement for the lakehouse sink — the
    maintenance the reference leaves to the platform: Iceberg's
    ``rewrite_data_files`` procedure, Delta's ``OPTIMIZE``.  The parquet
    sink's equivalent is :meth:`ParquetTableSink.compact` (executed +
    tested); catalog procedures need the respective runtime, so this text
    is generated/unit-tested and run by :meth:`SqlTableSink.compact`."""
    if using == "delta":
        return f"OPTIMIZE {catalog}.{_quote(db)}.{_quote(table)}"
    # Iceberg stored procedure: table arg is a quoted string literal
    ident = f"{db}.{table}".replace("'", "''")
    return f"CALL {catalog}.system.rewrite_data_files(table => '{ident}')"


def build_create_table_sql(
    cfg: TableConfig,
    catalog: str,
    schema_ddl: str,
    using: str = "iceberg",
    location: Optional[str] = None,
) -> str:
    """``CREATE TABLE IF NOT EXISTS`` with the reference's table properties
    (``transaction_log_util.py:202-214``): v2 format, hash distribution,
    COW/MOR write modes, bounded metadata retention, accept-any-schema."""
    props = {
        "format-version": str(cfg.format_version),
        "write.distribution-mode": "hash",
        "write.merge.mode": cfg.merge_mode,
        "write.update.mode": cfg.update_mode,
        "write.delete.mode": cfg.delete_mode,
        "write.metadata.delete-after-commit.enabled": "true",
        "write.metadata.previous-versions-max": "10",
        "write.spark.accept-any-schema": "true",
    }
    props_sql = ", ".join(f"'{k}'='{v}'" for k, v in sorted(props.items()))
    loc = f" LOCATION '{location}'" if location else ""
    # identifier quoting matches SqlTableSink._qualified — a name needing
    # quoting must resolve to the SAME table at create and merge time
    return (
        f"CREATE TABLE IF NOT EXISTS {catalog}.{_quote(cfg.db)}.{_quote(cfg.table)} "
        f"({schema_ddl}) USING {using}{loc} TBLPROPERTIES ({props_sql})"
    )


# --------------------------------------------------------------------------
# TableSink protocol + local implementations
# --------------------------------------------------------------------------


class TableSink:
    """Minimal sink protocol the pipeline drives.

    Implementations must make ``append``/``merge``/``delete`` idempotent at
    the batch level where possible (merge-on-PK re-application converges,
    which is the reference's exactly-once story — SURVEY §2.5).
    """

    #: J3 policy — ``True`` mirrors the reference's log-and-continue.
    continue_on_error: bool = False

    def exists(self, db: str, table: str) -> bool:
        raise NotImplementedError

    def read(self, spark: SparkSession, db: str, table: str) -> DataFrame:
        raise NotImplementedError

    def create_if_not_exists(self, cfg: TableConfig, schema: T.StructType) -> None:
        raise NotImplementedError

    def append(self, cfg: TableConfig, df: DataFrame) -> None:
        raise NotImplementedError

    def merge(self, cfg: TableConfig, df: DataFrame, ts_guard=None) -> None:
        raise NotImplementedError

    def delete(self, cfg: TableConfig, keys_df: DataFrame, ts_guard=None) -> None:
        """Delete rows matching ``keys_df``'s keys; a key may repeat.  With
        ``ts_guard``, ``keys_df`` also carries the guard column and only
        target rows at-or-before the delete's timestamp (the latest one,
        for a repeated key) are removed."""
        raise NotImplementedError

    def flush(self, cfg: TableConfig) -> None:
        """Called once per table at the end of a batch, after all of that
        batch's mutations: the table's commit point.  Sinks that execute
        each statement (catalogs) ignore it.  The local sinks buffer a
        batch's mutations as one lazy plan per table and commit it here,
        so a batch costs one materialization (memory) or one copy-on-write
        rewrite (parquet) per table instead of one per mutation.  Under
        ``continue_on_error`` a failed flush is logged and that table's
        buffered mutations for the batch are dropped."""

    def _guard(self, action: str, fn) -> None:
        try:
            fn()
        except Exception:
            if not self.continue_on_error:
                raise
            logger.exception("sink %s failed (continue_on_error)", action)


class _BufferedSink(TableSink):
    """Apply semantics shared by the local sinks.

    A table's mutations within a batch build ONE lazy plan over its
    committed state — schema evolution (:func:`merge_schemas`), then
    :func:`merge_into` / :func:`delete_matching` — which :meth:`flush`
    commits.  ``exists`` and ``read`` see the pending plan.  Subclasses
    say where committed state lives (``_is_committed``, ``_read_committed``,
    ``_commit``) and may take an append with nothing pending straight into
    it (``_append_in_place``).
    """

    def __init__(self, continue_on_error: bool = False):
        self.continue_on_error = continue_on_error
        self._pending: dict[tuple[str, str], DataFrame] = {}

    def _is_committed(self, db: str, table: str) -> bool:
        raise NotImplementedError

    def _read_committed(self, spark: SparkSession, db: str, table: str) -> DataFrame:
        raise NotImplementedError

    def _commit(self, cfg: TableConfig, plan: DataFrame) -> None:
        raise NotImplementedError

    def _append_in_place(self, cfg: TableConfig, df: DataFrame) -> bool:
        return False

    def _exists(self, db: str, table: str) -> bool:
        return (db, table) in self._pending or self._is_committed(db, table)

    def _current(self, spark: SparkSession, db: str, table: str) -> DataFrame:
        plan = self._pending.get((db, table))
        return plan if plan is not None else self._read_committed(spark, db, table)

    def exists(self, db, table):
        return self._exists(db, table)

    def read(self, spark, db, table):
        return self._current(spark, db, table)

    def _stage(self, cfg: TableConfig, df: DataFrame, combine) -> None:
        """Pending plan := ``combine(current, df)``, both aligned to the
        evolved schema — or ``df`` itself when the table does not exist."""
        key = (cfg.db, cfg.table)
        if not self._exists(*key):
            self._pending[key] = df
            return
        base = self._current(df.sparkSession, *key)
        evolved = merge_schemas(base.schema, df.schema)
        self._pending[key] = combine(
            align_to_schema(base, evolved), align_to_schema(df, evolved)
        )

    def append(self, cfg, df):
        def _do():
            if (cfg.db, cfg.table) in self._pending or not self._append_in_place(cfg, df):
                self._stage(cfg, df, DataFrame.unionByName)

        self._guard("append", _do)

    def merge(self, cfg, df, ts_guard=None):
        def _combine(base, updates):
            return merge_into(base, updates, cfg.primary_keys, ts_guard=ts_guard)

        self._guard("merge", lambda: self._stage(cfg, df, _combine))

    def delete(self, cfg, keys_df, ts_guard=None):
        def _do():
            key = (cfg.db, cfg.table)
            if not self._exists(*key):
                return
            base = self._current(keys_df.sparkSession, *key)
            self._pending[key] = delete_matching(
                base, keys_df, cfg.primary_keys, ts_guard=ts_guard
            )

        self._guard("delete", _do)

    def flush(self, cfg):
        plan = self._pending.pop((cfg.db, cfg.table), None)
        if plan is not None:
            self._guard("flush", lambda: self._commit(cfg, plan))


class MemoryTableSink(_BufferedSink):
    """In-memory sink: committed tables are checkpointed DataFrames in
    ``tables``.

    Every mutation is buffered; :meth:`flush` (called by the pipeline once
    per table per batch) checkpoints the pending plan, so a batch of
    append+merge+delete costs one materialization instead of three.
    Reading an unflushed table is still correct — just lazy.
    """

    def __init__(self, continue_on_error: bool = False):
        super().__init__(continue_on_error)
        self.tables: dict[tuple[str, str], DataFrame] = {}

    def _is_committed(self, db, table):
        return (db, table) in self.tables

    def _read_committed(self, spark, db, table):
        return self.tables[(db, table)]

    def _commit(self, cfg, plan):
        # eager: the batch's source may be unpersisted right after
        self.tables[(cfg.db, cfg.table)] = plan.localCheckpoint()

    def create_if_not_exists(self, cfg, schema):
        if not self._exists(cfg.db, cfg.table):
            from cdc_data_lake_pyspark_spark.localrel import empty_frame

            spark = SparkSession.getActiveSession()
            self.tables[(cfg.db, cfg.table)] = empty_frame(spark, schema)


class SqlTableSink(TableSink):
    """Catalog-backed sink driving real row-level SQL (Iceberg/Delta).

    Uses the tested SQL generators: ``CREATE TABLE IF NOT EXISTS`` with the
    reference's table properties (``transaction_log_util.py:202-214``),
    DataFrameWriterV2 append with ``merge-schema`` (``:216-218``),
    ``MERGE INTO`` (``:279-284``) from a temp view, and ``DELETE ... WHERE
    EXISTS`` (``:326-327``).  Views are session-scoped temp views named
    ``tmp_<table>_{u|d}_<batch-part>`` like the reference's ephemeral
    relations (``:257-260``) and dropped after use (``:299-301``).

    Each statement commits on its own, so :meth:`flush` is a no-op here.
    Requires a MERGE-capable catalog: Iceberg or Delta in production, or
    the in-process LocalLake DSv2 catalog (``catalog/``), on which
    ``tests/test_locallake_catalog.py`` executes this sink end to end and
    checks its final state against :class:`MemoryTableSink`'s.
    """

    def __init__(
        self,
        catalog: str,
        using: str = "iceberg",
        location_root: Optional[str] = None,
        continue_on_error: bool = False,
    ):
        self.catalog = catalog
        self.using = using
        self.location_root = location_root
        self.continue_on_error = continue_on_error
        # itertools.count: atomic under the GIL, so concurrent per-table
        # threads (pipeline.max_parallel_tables) never mint the same view id
        self._seq = itertools.count(1)

    def _qualified(self, db: str, table: str) -> str:
        return f"{self.catalog}.{_quote(db)}.{_quote(table)}"

    def exists(self, db, table):
        spark = SparkSession.getActiveSession()
        return spark.catalog.tableExists(self._qualified(db, table))

    def read(self, spark, db, table):
        return spark.table(self._qualified(db, table))

    def create_if_not_exists(self, cfg, schema):
        spark = SparkSession.getActiveSession()
        ddl = ", ".join(
            f"{_quote(f.name)} {f.dataType.simpleString()}" for f in schema.fields
        )
        location = None
        if self.location_root:
            location = f"{self.location_root}/{cfg.db}/{cfg.table}"
        spark.sql(
            build_create_table_sql(
                cfg, self.catalog, ddl, using=self.using, location=location
            )
        )

    def append(self, cfg, df):
        self._guard(
            "append",
            lambda: df.writeTo(self._qualified(cfg.db, cfg.table))
            .option("merge-schema", "true")
            .option("check-ordering", "false")
            .append(),
        )

    def _with_view(self, df: DataFrame, suffix: str, fn) -> None:
        view = f"tmp_{suffix}_{next(self._seq)}"
        df.createOrReplaceTempView(view)
        try:
            fn(view)
        finally:
            df.sparkSession.catalog.dropTempView(view)

    def merge(self, cfg, df, ts_guard=None):
        target = self._qualified(cfg.db, cfg.table)

        def _run(view):
            # Iceberg needs the accept-any-schema UNSET/SET dance around
            # MERGE (apache/iceberg#9827; reference
            # transaction_log_util.py:287-298) — see
            # build_merge_statement_sequence.
            for stmt in build_merge_statement_sequence(
                target, view, cfg.primary_keys, ts_guard=ts_guard, using=self.using
            ):
                df.sparkSession.sql(stmt)

        self._guard("merge", lambda: self._with_view(df, f"{cfg.table}_u", _run))

    def delete(self, cfg, keys_df, ts_guard=None):
        target = self._qualified(cfg.db, cfg.table)

        def _do():
            self._with_view(
                keys_df,
                f"{cfg.table}_d",
                lambda view: keys_df.sparkSession.sql(
                    build_delete_sql(target, view, cfg.primary_keys, ts_guard=ts_guard)
                ),
            )

        self._guard("delete", _do)

    def compact(self, db: str, table: str) -> None:
        """Run the lakehouse maintenance statement (Iceberg
        ``rewrite_data_files`` / Delta ``OPTIMIZE``).  Requires the
        respective runtime's stored-procedure support; see
        :func:`build_compaction_sql`."""
        spark = SparkSession.getActiveSession()
        spark.sql(build_compaction_sql(self.catalog, db, table, using=self.using))


class ParquetTableSink(_BufferedSink):
    """Parquet-directory sink: each table is ``<root>/<db>/<table>``.

    Locally stands in for the Iceberg/Delta table with copy-on-write
    semantics (the reference's default ``write.merge.mode``,
    ``tables.json:6-8``).  On a real lakehouse the same pipeline calls a
    MERGE-capable sink with the SQL generated by
    :func:`build_merge_sql`/:func:`build_delete_sql`.

    Commit model: a batch's merge and delete, and any append that follows
    them or changes the table's schema, are buffered as one plan over the
    table's files; :meth:`flush` rewrites the table ONCE from that plan
    (write beside, then swap); a failed flush drops the plan, under
    ``continue_on_error`` too, so the table keeps its pre-batch state
    until the batch is replayed.  An append to a table with nothing pending
    and an unchanged schema adds its files at once, so callers that never
    flush still see it on disk.  The sink owns its directories: it reads
    them back with the schema it wrote (or inferred once), so ``read`` and
    ``exists`` launch no Spark job.
    """

    def __init__(self, root: str, continue_on_error: bool = False):
        super().__init__(continue_on_error)
        self.root = root
        self._schemas: dict[str, T.StructType] = {}

    def _path(self, db: str, table: str) -> str:
        return os.path.join(self.root, db, table)

    def _recover(self, path: str) -> None:
        """Finish a swap that a crash interrupted (see :meth:`_overwrite`):
        with no live directory the aside copy is the table's last committed
        state, so it moves back; beside a live one it is garbage."""
        aside = path + _ASIDE
        if os.path.isdir(aside):
            if os.path.isdir(path):
                shutil.rmtree(aside, ignore_errors=True)
            else:
                os.replace(aside, path)

    def _is_committed(self, db, table):
        path = self._path(db, table)
        self._recover(path)
        return os.path.isdir(path)

    def _schema(self, spark: SparkSession, path: str) -> T.StructType:
        schema = self._schemas.get(path)
        if schema is None:
            schema = self._schemas[path] = spark.read.parquet(path).schema
        return schema

    def _read_committed(self, spark, db, table):
        path = self._path(db, table)
        self._recover(path)
        return spark.read.schema(self._schema(spark, path)).parquet(path)

    def _write(self, df: DataFrame, path: str, mode: str) -> None:
        df.write.mode(mode).parquet(path)
        self._schemas[path] = df.schema

    def create_if_not_exists(self, cfg, schema):
        if not self._exists(cfg.db, cfg.table):
            from cdc_data_lake_pyspark_spark.localrel import empty_frame

            spark = SparkSession.getActiveSession()
            self._write(empty_frame(spark, schema), self._path(cfg.db, cfg.table), "overwrite")

    def _append_in_place(self, cfg, df):
        path = self._path(cfg.db, cfg.table)
        if not self._is_committed(cfg.db, cfg.table):
            self._write(df, path, "append")
            return True
        base_schema = self._schema(df.sparkSession, path)
        evolved = merge_schemas(base_schema, df.schema)
        if len(evolved.fields) != len(base_schema.fields):
            return False  # schema evolution rewrites the table at flush
        align_to_schema(df, base_schema).write.mode("append").parquet(path)
        return True

    def _commit(self, cfg, plan):
        self._overwrite(plan, self._path(cfg.db, cfg.table))

    def _overwrite(self, df: DataFrame, path: str) -> None:
        """Copy-on-write without a self-read hazard or a lost-table window:
        write beside, move the live directory aside, move the new one in,
        then delete the aside copy.  A crash between the two moves leaves
        only the aside copy, which :meth:`_recover` restores."""
        self._recover(path)
        tmp, aside = path + "._cow_tmp", path + _ASIDE
        df.write.mode("overwrite").parquet(tmp)
        if os.path.isdir(path):
            os.replace(path, aside)
        os.replace(tmp, path)
        self._schemas[path] = df.schema
        shutil.rmtree(aside, ignore_errors=True)

    def compact(self, db: str, table: str, target_files: int = 1) -> int:
        """Rewrite the table into ``target_files`` files and return the
        small-file count removed.  Streaming appends accumulate one file
        per batch per partition; periodic compaction is the parquet-sink
        stand-in for Iceberg's ``rewrite_data_files`` / Delta's
        ``OPTIMIZE`` (the reference leaves this to the lakehouse).
        """
        if not self._is_committed(db, table):
            return 0
        path = self._path(db, table)
        before = len(
            [f for f in os.listdir(path) if f.endswith(".parquet")]
        )
        spark = SparkSession.getActiveSession()
        df = self._read_committed(spark, db, table)
        self._overwrite(df.coalesce(target_files), path)
        after = len([f for f in os.listdir(path) if f.endswith(".parquet")])
        return max(before - after, 0)


#: suffix of a table directory moved aside during a copy-on-write swap
_ASIDE = "._cow_old"

