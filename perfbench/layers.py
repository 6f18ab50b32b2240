"""The traced run: where a micro-batch's time goes, layer by layer.

Three sources, all from the benchmark's own files (no spans in the package):

1. Prefix timings. For every micro-batch file of the backlog, each stage of
   ``process_micro_batch`` is rebuilt from the package's public functions and
   forced with a noop write: the scan, the decode (``sources.avro`` or
   ``operators.records``), ``mapping.compiler.compile_mapping``,
   ``operators.writes`` routing, the writer's repartition+sort, and
   ``write_routed`` itself. A layer's time is its prefix minus the prefix
   before it. ``process_micro_batch(writer=None)`` minus the routed prefixes
   is the pipeline's own bookkeeping; its Spark jobs are counted from a job
   group and its ``DataFrame.count`` calls by wrapping the method.
2. Spans of one traced drain: micro-batches and their phases from
   ``StreamingQueryProgress.durationMs``, the writer and dead-letter calls,
   and one span per executor task from the session's records. Each span's
   self time is its duration minus the part its children cover.
3. One drain at ``local[1]`` for the single-thread baseline.

Seconds and counts are means per micro-batch, except ``tracing.overhead_s``
(traced drain wall time minus the mean of the untraced drains before and
after it) and ``parallel_speedup`` (local[1] over local[nproc] drain time).
"""

from __future__ import annotations

import datetime as dt
import json
import os
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


PER_LAYER_UNITS = {
    "sources.scan_s": "s",
    "sources.avro_decode_s": "s",
    "records.decode_s": "s",
    "mapping.compile_s": "s",
    "mapping.plan_build_s": "s",
    "writes.route_s": "s",
    "pipeline.bookkeeping_s": "s",
    "pipeline.spark_jobs": "count",
    "pipeline.count_calls": "count",
    "writer.s": "s",
    "writer.shuffle_s": "s",
    "writer.python_s": "s",
    "writer.statements": "count",
    "writer.frames": "count",
    "writer.singles": "count",
    "writer.statements_per_frame": "stmt/frame",
    "session.calls": "count",
    "session.wait_s": "s",
    "session.failed": "count",
    "streaming.commit_s": "s",
    "streaming.planning_s": "s",
    "streaming.add_batch_s": "s",
    "tracing.overhead_s": "s",
    "parallel_speedup": "x",
}


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


@contextmanager
def _counting_counts(cls):
    """Count ``cls.count`` calls made inside the block."""
    calls = [0]
    original = cls.count

    def count(self):
        calls[0] += 1
        return original(self)

    cls.count = count
    try:
        yield calls
    finally:
        cls.count = original


def _decode(sink, table, records: DataFrame) -> tuple[DataFrame, bool]:
    """The decode ``process_micro_batch`` picks for ``table``: the mapped
    records and whether the Avro path was used."""
    from kafka_sink_spark.sources.avro import decode_avro_records
    from kafka_sink_spark.operators.records import decode_records
    from kafka_sink_spark.streaming.pipeline import AVRO_CORRUPT, split_mapping_errors

    vs = sink.value_schemas.get(table.topic)
    if isinstance(vs, str):
        permissive = sink.config.ignore_errors == "All"
        dec = decode_avro_records(
            records,
            vs,
            options={"mode": "PERMISSIVE" if permissive else "FAILFAST"},
            corrupt_col=AVRO_CORRUPT if permissive else None,
        )
        if permissive:
            dec = dec.filter(~F.col(AVRO_CORRUPT)).drop(AVRO_CORRUPT)
        return dec, True
    good, _bad = split_mapping_errors(decode_records(records, value_schema=vs), table)
    return good, False


def prefix_split(spark, sink, backlog) -> dict:
    """Layer seconds and counts from noop-forced prefixes, summed over the
    backlog's micro-batch files."""
    from kafka_sink_spark.mapping.compiler import compile_mapping
    from kafka_sink_spark.operators.cassandra_writer import write_routed
    from kafka_sink_spark.operators.writes import add_ttl_writetime, route_writes
    from kafka_sink_spark.streaming.pipeline import SinkMetrics, process_micro_batch

    sc = spark.sparkContext
    acc = dict.fromkeys(
        ("scan", "avro", "decode", "map", "plan", "route", "bookkeeping", "jobs",
         "counts", "writer", "shuffle"), 0.0
    )
    for i, path in enumerate(backlog.paths):
        batch = spark.read.schema(sink.workload.record_schema).parquet(path)
        scan = _timed(lambda: _noop(batch))
        acc["scan"] += scan
        routed_total = 0.0
        for table in sink.config.tables:
            schema = sink.schemas[(table.keyspace, table.table)]
            t0 = time.perf_counter()
            decoded, avro = _decode(sink, table, batch.filter(F.col("topic") == table.topic))
            acc["plan"] += time.perf_counter() - t0
            p_dec = _timed(lambda: _noop(decoded))
            acc["avro" if avro else "decode"] += p_dec - scan
            t0 = time.perf_counter()
            mapped = compile_mapping(decoded, table, schema)
            acc["plan"] += time.perf_counter() - t0
            p_map = _timed(lambda: _noop(mapped))
            acc["map"] += p_map - p_dec
            t0 = time.perf_counter()
            routed = route_writes(add_ttl_writetime(mapped, table), table, schema)
            acc["plan"] += time.perf_counter() - t0
            p_route = _timed(lambda: _noop(routed))
            acc["route"] += p_route - p_map
            routed_total += p_route
            pk = [c for c in schema.partition_key if c in routed.columns]
            order = pk + [c for c in schema.primary_key if c not in pk]
            shuffled = routed.repartition(*pk).sortWithinPartitions(*order)
            acc["shuffle"] += _timed(lambda: _noop(shuffled)) - p_route

            def write():
                try:
                    write_routed(routed, table, schema, sink.config, sink.factory)
                except Exception as exc:
                    # Only the designed failure may end the write: a poisoned
                    # key fails its Spark job with the session's PoisonedWrite.
                    poisoned = backlog.batches[i].keys[
                        f"{table.topic}|{table.keyspace}.{table.table}"
                    ].poison
                    if not poisoned or "PoisonedWrite" not in str(exc):
                        raise

            acc["writer"] += _timed(write) - p_route
        group = f"perfbench-pipeline-{i}"
        sc.setJobGroup(group, "process_micro_batch(writer=None)")
        with _counting_counts(type(batch)) as calls:
            p_pipe = _timed(
                lambda: process_micro_batch(
                    batch, sink.config, sink.schemas,
                    value_schemas=sink.value_schemas, metrics=SinkMetrics(),
                )
            )
        sc.setJobGroup(f"perfbench-{i}", "prefixes")
        acc["jobs"] += len(sc.statusTracker().getJobIdsForGroup(group))
        acc["counts"] += calls[0]
        acc["bookkeeping"] += p_pipe - routed_total
    return acc


def _epoch(iso: str) -> float:
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def drain_spans(drain, records: list[dict]) -> list[dict]:
    """The span tree of one traced drain. Micro-batch phases are laid out in
    MicroBatchExecution's order from the batch's start, since durationMs
    carries lengths only."""
    spans = [dict(id="drain", name="stream.drain", start=drain.started,
                  end=drain.started + drain.wall_s, parent=None, batch=None)]
    phases = (
        ("streaming.planning", ("latestOffset",)),
        ("streaming.commit", ("walCommit",)),
        ("streaming.planning", ("getBatch", "queryPlanning")),
        ("streaming.add_batch", ("addBatch",)),
        ("streaming.commit", ("commitOffsets",)),
    )
    for p in drain.batches:
        d, t = p.durationMs, _epoch(p.timestamp)
        bid = f"b{p.batchId}"
        spans.append(dict(id=bid, name="streaming.batch", start=t,
                          end=t + d["triggerExecution"] / 1000.0, parent="drain",
                          batch=p.batchId))
        for j, (name, parts) in enumerate(phases):
            length = sum(d.get(k, 0) for k in parts) / 1000.0
            spans.append(dict(id=f"{bid}.{j}", name=name, start=t, end=t + length,
                              parent=bid, batch=p.batchId))
            t += length
    for j, s in enumerate(drain.spans):
        spans.append(dict(s, id=f"w{j}", parent=f"b{s['batch']}.3"))
    writers = {(s["batch"], s["key"]): s["id"] for s in spans if s["name"] == "writer.write_routed"}
    for j, r in enumerate(records):
        rid, _, rest = (r.get("tag") or "").partition(":")
        if rid != drain.round_id or r["start"] is None:
            continue
        batch, _, key = rest.partition(":")
        spans.append(dict(id=f"s{j}", name="session.task", start=r["start"], end=r["end"],
                          parent=writers.get((int(batch), key)), batch=int(batch),
                          key=key, pid=r["pid"], wait_s=r["wait_s"], failed=r["failed"]))
    return spans


def self_times(spans: list[dict]) -> dict:
    """Per span name: total and self seconds. Self time is the span's length
    minus the union of its children's intervals clipped to it, so parallel
    children (executor tasks) are not subtracted twice."""
    children: dict = {}
    for s in spans:
        children.setdefault(s.get("parent"), []).append(s)
    out: dict = {}
    for s in spans:
        covered, edge = 0.0, s["start"]
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], edge), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                edge = hi
        agg = out.setdefault(s["name"], {"n": 0, "total_s": 0.0, "self_s": 0.0})
        agg["n"] += 1
        agg["total_s"] += s["end"] - s["start"]
        agg["self_s"] += s["end"] - s["start"] - covered
    return out


def traced_run(workload, backlog, args, root, workdir, src, warm_src, base) -> dict:
    from perfbench.check import unexpected_failures
    from perfbench.harness import make_result, nproc, setup_once, verify
    from perfbench.session import read_records

    n = len(backlog.batches)
    spark, sink, _ = setup_once(workload, root, workdir, f"local[{nproc()}]", warm_src, 0)
    ckpt = os.path.join(workdir, "ckpt")
    # Untraced drains on both sides of the traced one: the JVM keeps warming
    # for several micro-batches after set-up, which would otherwise bias the
    # tracing overhead.
    before = sink.drain(spark, src, os.path.join(ckpt, "u"), "u")
    traced = sink.drain(spark, src, os.path.join(ckpt, "t"), "t", trace=True)
    after = sink.drain(spark, src, os.path.join(ckpt, "v"), "v")
    plain_s = (before.wall_s + after.wall_s) / 2
    split = prefix_split(spark, sink, backlog)
    spark.stop()
    spark, sink1, _ = setup_once(workload, root, workdir, "local[1]", warm_src, 1)
    single = sink1.drain(spark, src, os.path.join(ckpt, "s"), "s")
    spark.stop()

    drains = [before, traced, after, single]
    problems = verify(backlog, drains, workdir)
    records = read_records(os.path.join(workdir, "session"))
    spans = drain_spans(traced, records)
    selfs = self_times(spans)
    trace_path = os.path.join(base, f"trace-{workload.name}-{args.seed}.json")
    with open(trace_path, "w") as fh:
        json.dump({"workload": workload.name, "seed": args.seed,
                   "self_times": selfs, "spans": spans}, fh)

    tasks = [s for s in spans if s["name"] == "session.task"]
    recs = [r for r in records if (r.get("tag") or "").startswith("t:")]
    statements = sum(r["statements"] for r in recs)
    frames = sum(r["frames"] for r in recs)
    singles = sum(r["singles"] for r in recs)
    durations = [p.durationMs for p in traced.batches]

    def phase(*keys):
        return sum(d.get(k, 0) for d in durations for k in keys) / 1000.0 / n

    writer_s = split["writer"] / n
    shuffle_s = split["shuffle"] / n
    values = {
        "sources.scan_s": split["scan"] / n,
        "sources.avro_decode_s": split["avro"] / n,
        "records.decode_s": split["decode"] / n,
        "mapping.compile_s": split["map"] / n,
        "mapping.plan_build_s": split["plan"] / n,
        "writes.route_s": split["route"] / n,
        "pipeline.bookkeeping_s": split["bookkeeping"] / n,
        "pipeline.spark_jobs": split["jobs"] / n,
        "pipeline.count_calls": split["counts"] / n,
        "writer.s": writer_s,
        "writer.shuffle_s": shuffle_s,
        "writer.python_s": writer_s - shuffle_s,
        "writer.statements": statements / n,
        "writer.frames": frames / n,
        "writer.singles": singles / n,
        "writer.statements_per_frame": statements / max(frames + singles, 1),
        "session.calls": sum(r["calls"] for r in recs) / n,
        "session.wait_s": sum(s["wait_s"] for s in tasks) / n,
        "session.failed": sum(r["failed"] for r in recs) / n,
        "streaming.commit_s": phase("walCommit", "commitOffsets"),
        "streaming.planning_s": phase("queryPlanning", "getBatch", "latestOffset"),
        "streaming.add_batch_s": phase("addBatch"),
        "tracing.overhead_s": traced.wall_s - plain_s,
        "parallel_speedup": single.wall_s / plain_s,
    }
    print(f"workload {workload.name}: traced run, {n} micro-batches per drain; "
          f"local[{nproc()}] drains {before.wall_s:.3f} and {after.wall_s:.3f} s, "
          f"traced {traced.wall_s:.3f} s, "
          f"local[1] {single.wall_s:.3f} s")
    for name, unit in PER_LAYER_UNITS.items():
        print(f"{name} {values[name]:.6g} {unit}")
    print("self time per span name (s, summed over the traced drain):")
    for name, agg in sorted(selfs.items()):
        print(f"  {name:24s} n={agg['n']:4d} total {agg['total_s']:9.3f} self {agg['self_s']:9.3f}")
    print(f"spans written to {os.path.relpath(trace_path)}")
    for p in problems:
        print(f"INCORRECT {p}")
    return make_result(
        not problems, backlog.offered * len(drains), unexpected_failures(backlog, drains), values,
        PER_LAYER_UNITS,
    )
