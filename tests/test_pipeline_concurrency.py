"""The micro-batch runs its per-table Spark jobs concurrently: one topic
feeding two tables plus a second topic, checked for local-property
isolation between the writers' threads, for metrics equal to running the
tables one at a time, and for the ignoreErrors ordering guarantees."""

import os
import sys
import threading

import pytest
from pyspark import cloudpickle
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kafka_sink_spark.config import ColumnSpec, SinkConfig, TableConfig, TableSchema
from kafka_sink_spark.mapping.parser import parse_mapping
from kafka_sink_spark.streaming.pipeline import (
    SinkMetrics,
    process_micro_batch,
    start_sink_stream,
)

# Executor workers cannot import test modules by name.
cloudpickle.register_pickle_by_value(sys.modules[__name__])

RECORD_SCHEMA = (
    "topic string, partition int, offset long, timestamp timestamp, "
    "key string, value string"
)
TAG = "test.pipeline.tag"
VALUE_SCHEMAS = {
    "events": StructType([StructField("v", IntegerType())]),
    "alerts": StructType([StructField("msg", StringType())]),
}
SCHEMAS = {
    ("ks", "readings"): TableSchema(
        "ks", "readings",
        [ColumnSpec("pk", "bigint", primary_key=True), ColumnSpec("v", "int")],
    ),
    ("ks", "copies"): TableSchema(
        "ks", "copies",
        [ColumnSpec("pk", "bigint", primary_key=True), ColumnSpec("v2", "int")],
    ),
    ("ks", "alerts"): TableSchema(
        "ks", "alerts",
        [ColumnSpec("id", "bigint", primary_key=True), ColumnSpec("msg", "string")],
    ),
}
READINGS = TableConfig("events", "ks", "readings", parse_mapping("pk=key, v=value.v"))
COPIES = TableConfig("events", "ks", "copies", parse_mapping("pk=key, v2=value.v"))
ALERTS = TableConfig("alerts", "ks", "alerts", parse_mapping("id=key, msg=value.msg"))
MALFORMED = (3, 11)  # offsets of the events records whose value is not JSON
N_UNKNOWN = 3


def _records(spark, malformed=MALFORMED):
    rows = [
        ("events", 0, i, None, str(i),
         "not json" if i in malformed else f'{{"v": {i * 10}}}')
        for i in range(20)
    ]
    rows += [("alerts", 0, 100 + i, None, str(i), f'{{"msg": "a{i}"}}') for i in range(6)]
    rows += [("other", 0, 200 + i, None, str(i), "{}") for i in range(N_UNKNOWN)]
    return spark.createDataFrame(rows, RECORD_SCHEMA)


def _key(table):
    return f"{table.topic}|{table.keyspace}.{table.table}"


def _task_tags(rows):
    from pyspark import TaskContext

    yield TaskContext.get().getLocalProperty(TAG)


def _counters(metrics):
    snap = metrics.snapshot()
    for k in ("record_rate", "failed_record_rate", "failed_with_unknown_topic"):
        snap.pop(k)
    return snap


def test_concurrent_writers_keep_their_own_local_properties(spark, tmp_path):
    """Three writers run at once (a barrier holds each one until all have
    set their tag); each writer's tasks see only that writer's tag, and the
    merged counters equal those of running the tables one at a time."""
    src = str(tmp_path / "records")
    _records(spark).coalesce(1).write.parquet(src)
    tables = [READINGS, COPIES, ALERTS]
    cfg = SinkConfig(tables=tables)
    cfg.ignore_errors = "All"
    sc = spark.sparkContext
    barrier = threading.Barrier(len(tables))
    seen, dead = {}, {}

    def rows_stats(routed):
        n = routed.count()
        return {"rows": n, "batch_size_hist": {n: 1}}

    def tagging_writer(routed, table, schema):
        sc.setLocalProperty(TAG, _key(table))
        try:
            barrier.wait(timeout=60)
            seen[_key(table)] = set(routed.rdd.mapPartitions(_task_tags).collect())
            return rows_stats(routed)
        finally:
            sc.setLocalProperty(TAG, None)

    def error_sink(bad, table):
        dead[_key(table)] = sorted(r[0] for r in bad.select("offset").collect())

    persisted_before = sc._jsc.getPersistentRDDs().size()
    metrics = SinkMetrics()
    q = start_sink_stream(
        spark, spark.readStream.schema(RECORD_SCHEMA).parquet(src),
        cfg, SCHEMAS, str(tmp_path / "ckpt"), tagging_writer,
        value_schemas=VALUE_SCHEMAS, metrics=metrics, trigger_once=True,
        error_sink=error_sink,
    )
    q.awaitTermination(120)
    assert q.exception() is None

    assert seen == {_key(t): {_key(t)} for t in tables}
    assert dead == {_key(READINGS): list(MALFORMED), _key(COPIES): list(MALFORMED)}
    assert metrics.failed_with_unknown_topic == N_UNKNOWN
    # The shared decodes are released once the writers have returned.
    assert sc._jsc.getPersistentRDDs().size() == persisted_before

    serial = SinkMetrics()
    batch = spark.read.parquet(src)
    for table in tables:
        one = SinkConfig(tables=[table])
        one.ignore_errors = "All"
        process_micro_batch(
            batch, one, SCHEMAS, value_schemas=VALUE_SCHEMAS,
            writer=lambda routed, t, s: rows_stats(routed), metrics=serial,
        )
    assert _counters(metrics) == _counters(serial)
    assert metrics.record_count == {
        _key(READINGS): 18, _key(COPIES): 18, _key(ALERTS): 6
    }


def test_driver_mapping_error_in_second_table_runs_no_writer(spark):
    """ignoreErrors=Driver: the mapping error of the second table fails the
    batch before any table, the clean first one included, is written."""
    cfg = SinkConfig(tables=[ALERTS, READINGS, COPIES])
    cfg.ignore_errors = "Driver"
    calls, dead = [], []
    metrics = SinkMetrics()
    with pytest.raises(RuntimeError, match=r"failed mapping for events\|ks.readings"):
        process_micro_batch(
            _records(spark), cfg, SCHEMAS, value_schemas=VALUE_SCHEMAS,
            writer=lambda routed, t, s: calls.append(_key(t)),
            metrics=metrics,
            error_sink=lambda bad, t: dead.append(_key(t)),
        )
    assert calls == [] and dead == []
    assert metrics.record_count == {} and metrics.failed_record_count == {}


def test_none_write_failure_lets_siblings_finish_and_raises_first(spark):
    """ignoreErrors=None: every table's write runs even though two of them
    fail; the failure raised is the first one in config order."""
    cfg = SinkConfig(tables=[READINGS, COPIES, ALERTS])
    calls = []

    def writer(routed, table, schema):
        calls.append(_key(table))
        if table.table != "copies":
            raise RuntimeError(f"write failed for {_key(table)}")
        return {"rows": routed.count()}

    metrics = SinkMetrics()
    with pytest.raises(RuntimeError, match=r"write failed for events\|ks.readings"):
        process_micro_batch(
            _records(spark, malformed=()), cfg, SCHEMAS,
            value_schemas=VALUE_SCHEMAS, writer=writer, metrics=metrics,
        )
    assert sorted(calls) == sorted(_key(t) for t in cfg.tables)
    # Counters merge in config order up to the raised failure.
    assert metrics.record_count == {}
