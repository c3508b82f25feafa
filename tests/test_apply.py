from pyspark.sql import Row

from cdc_data_lake_pyspark_spark.apply import (
    build_create_table_sql,
    build_delete_sql,
    build_merge_sql,
    build_merge_statement_sequence,
    delete_matching,
    merge_into,
)
from cdc_data_lake_pyspark_spark.config import TableConfig


def test_merge_into_upsert_semantics(spark):
    target = spark.createDataFrame(
        [Row(id=1, v="a"), Row(id=2, v="b"), Row(id=3, v="c")]
    )
    updates = spark.createDataFrame([Row(id=2, v="B2"), Row(id=4, v="d")])
    out = {r.id: r.v for r in merge_into(target, updates, ["id"]).collect()}
    assert out == {1: "a", 2: "B2", 3: "c", 4: "d"}


def test_merge_into_composite_key(spark):
    target = spark.createDataFrame([Row(a=1, b=1, v="x"), Row(a=1, b=2, v="y")])
    updates = spark.createDataFrame([Row(a=1, b=2, v="Y"), Row(a=2, b=1, v="z")])
    out = {(r.a, r.b): r.v for r in merge_into(target, updates, ["a", "b"]).collect()}
    assert out == {(1, 1): "x", (1, 2): "Y", (2, 1): "z"}


def test_merge_into_ts_guard_rejects_stale(spark):
    target = spark.createDataFrame([Row(id=1, v="new", ts=100), Row(id=2, v="b", ts=10)])
    updates = spark.createDataFrame(
        [Row(id=1, v="stale", ts=50), Row(id=2, v="B", ts=20), Row(id=3, v="c", ts=5)]
    )
    out = {r.id: (r.v, r.ts) for r in merge_into(target, updates, ["id"], ts_guard="ts").collect()}
    # id=1: stale update loses; id=2: newer update wins; id=3: not matched → insert
    assert out == {1: ("new", 100), 2: ("B", 20), 3: ("c", 5)}


def test_merge_into_ts_guard_tie_prefers_update(spark):
    target = spark.createDataFrame([Row(id=1, v="old", ts=100)])
    updates = spark.createDataFrame([Row(id=1, v="tie", ts=100)])
    out = merge_into(target, updates, ["id"], ts_guard="ts").collect()
    assert out[0].v == "tie"


def test_delete_matching(spark):
    target = spark.createDataFrame([Row(id=i, v=str(i)) for i in range(5)])
    deletes = spark.createDataFrame([Row(id=1), Row(id=3), Row(id=99)])
    out = sorted(r.id for r in delete_matching(target, deletes, ["id"]).collect())
    assert out == [0, 2, 4]


def test_delete_matching_duplicate_delete_keys(spark):
    """Repeated delete keys (a key deleted twice in one batch) delete once
    and never multiply target rows, guarded or not."""
    target = spark.createDataFrame([Row(id=i, ts=10) for i in range(4)])
    deletes = spark.createDataFrame(
        [Row(id=1, ts=20), Row(id=1, ts=20), Row(id=2, ts=5), Row(id=2, ts=30)]
    )
    out = sorted(r.id for r in delete_matching(target, deletes, ["id"]).collect())
    assert out == [0, 3]
    guarded = delete_matching(target, deletes, ["id"], ts_guard="ts").collect()
    assert sorted(r.id for r in guarded) == [0, 3]  # id=2: the latest delete wins


def test_delete_matching_ts_guard(spark):
    """A delete only removes rows at-or-before its timestamp; newer images
    survive a stale delete."""
    target = spark.createDataFrame(
        [Row(id=1, v="new", ts=100), Row(id=2, v="b", ts=10), Row(id=3, v="c", ts=10)]
    )
    deletes = spark.createDataFrame(
        [Row(id=1, ts=50), Row(id=2, ts=20), Row(id=3, ts=10)]  # 3: tie → delete wins
    )
    out = {r.id for r in delete_matching(target, deletes, ["id"], ts_guard="ts").collect()}
    assert out == {1}


def test_merge_statement_sequence_iceberg_unsets_accept_any_schema():
    """Spark 3.5+/Iceberg fails MERGE while 'write.spark.accept-any-schema'
    is set (apache/iceberg#9827); the sequence must mirror the reference's
    UNSET → MERGE → SET dance (transaction_log_util.py:287-298)."""
    stmts = build_merge_statement_sequence("c.`d`.`t`", "v", ["id"], using="iceberg")
    assert len(stmts) == 3
    assert stmts[0] == (
        "ALTER TABLE c.`d`.`t` UNSET TBLPROPERTIES ('write.spark.accept-any-schema')"
    )
    assert stmts[1].startswith("MERGE INTO c.`d`.`t` t USING v u")
    assert stmts[2] == (
        "ALTER TABLE c.`d`.`t` SET TBLPROPERTIES ('write.spark.accept-any-schema'='true')"
    )
    # non-iceberg sinks have no such property: plain MERGE
    assert build_merge_statement_sequence("c.d.t", "v", ["id"], using="delta") == [
        build_merge_sql("c.d.t", "v", ["id"])
    ]


def test_compaction_sql_text():
    from cdc_data_lake_pyspark_spark.apply import build_compaction_sql

    assert build_compaction_sql("glue", "db", "t") == (
        "CALL glue.system.rewrite_data_files(table => 'db.t')"
    )
    assert build_compaction_sql("c", "db", "t", using="delta") == "OPTIMIZE c.`db`.`t`"


def test_delete_sql_with_guard():
    sql = build_delete_sql("c.d.t", "v", ["id"], ts_guard="_cdc_ts_ms")
    assert "AND u.`_cdc_ts_ms` >= t1.`_cdc_ts_ms`" in sql


def test_merge_sql_text():
    sql = build_merge_sql("glue.db.t", "global_temp.src", ["k1", "k2"])
    assert sql == (
        "MERGE INTO glue.db.t t USING global_temp.src u "
        "ON t.`k1` = u.`k1` AND t.`k2` = u.`k2` "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    )


def test_merge_sql_with_guard():
    sql = build_merge_sql("c.d.t", "v", ["id"], ts_guard="ts_ms")
    assert "WHEN MATCHED AND u.`ts_ms` >= t.`ts_ms` THEN UPDATE SET *" in sql


def test_delete_sql_text():
    sql = build_delete_sql("c.d.t", "v", ["id"])
    assert sql == (
        "DELETE FROM c.d.t t1 WHERE EXISTS "
        "(SELECT u.`id` FROM v u WHERE t1.`id` = u.`id`)"
    )


def test_create_table_sql_properties():
    cfg = TableConfig(db="db", table="t", merge_mode="merge-on-read")
    sql = build_create_table_sql(cfg, "glue", "id BIGINT, v STRING")
    assert (
        "CREATE TABLE IF NOT EXISTS glue.`db`.`t` (id BIGINT, v STRING) USING iceberg"
        in sql
    )  # quoted identically to SqlTableSink._qualified (create/read/merge agree)
    assert "'format-version'='2'" in sql
    assert "'write.merge.mode'='merge-on-read'" in sql
    assert "'write.distribution-mode'='hash'" in sql
    assert "'write.spark.accept-any-schema'='true'" in sql


def test_parquet_sink_compaction(spark, tmp_path):
    """Streaming appends accumulate files; compact() rewrites to few files
    with identical content."""
    from cdc_data_lake_pyspark_spark.apply import ParquetTableSink
    from cdc_data_lake_pyspark_spark.config import load_tables_config

    cfg = load_tables_config(
        [{"db": "d", "table": "t", "primary_key": "k"}]
    ).get("d", "t")
    sink = ParquetTableSink(str(tmp_path))
    for i in range(4):  # 4 append batches -> many small files
        sink.append(cfg, spark.createDataFrame([(i, i * 10)], "k long, v long"))
    before = sorted(
        r.k for r in sink.read(spark, "d", "t").collect()
    )
    removed = sink.compact("d", "t", target_files=1)
    assert removed > 0
    after = sorted(r.k for r in sink.read(spark, "d", "t").collect())
    assert after == before == [0, 1, 2, 3]


def test_upsert_type_conflict_casts_to_target(spark):
    """Cross-batch type conflict: the sink schema is authoritative; an
    incompatible incoming value casts leniently (ANSI off) to null rather
    than failing the batch or mutating the column type."""
    import json as _json

    from cdc_data_lake_pyspark_spark.apply import MemoryTableSink
    from cdc_data_lake_pyspark_spark.pipeline import CdcPipeline

    def env(op, ts, key, val):
        payload = _json.dumps({"k": key, "v": val})
        return _json.dumps(
            {"before": None, "after": payload,
             "source": _json.dumps({"db": "testdb", "table": "t"}),
             "op": op, "ts_ms": ts, "transaction": None}
        )

    sink = MemoryTableSink()
    cfg = [{"db": "testdb", "table": "t", "primary_key": "k"}]
    pipe = CdcPipeline(config=cfg, sink=sink)
    pipe.process_batch(spark.createDataFrame([(env("r", 1, 1, 42),)], "value string"))
    assert dict(sink.read(spark, "testdb", "t").dtypes)["v"] == "bigint"
    # second batch: v arrives as a non-numeric string
    pipe.process_batch(
        spark.createDataFrame([(env("u", 2, 1, "not-a-number"),)], "value string")
    )
    out = sink.read(spark, "testdb", "t")
    assert dict(out.dtypes)["v"] == "bigint"  # target type is authoritative
    assert out.collect()[0].v is None  # lenient cast, batch survives
