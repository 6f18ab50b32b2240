"""Spark set-up, one stream drain, and the statistics the benchmark reports.

A drain is one closed-loop pass over a fixed backlog: a fresh checkpoint,
``streaming.pipeline.start_sink_stream`` over a parquet file stream with
``availableNow`` and one file per micro-batch, writing through
``operators.cassandra_writer.write_routed`` into the injected session.
"""

from __future__ import annotations

import os
import tempfile
import threading
import time
import zipfile
from dataclasses import dataclass, field

from perfbench.session import TAG_PROPERTY, DeadlineSessionFactory

PACKAGES = ("kafka_sink_spark", "perfbench")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def tail_percentile(samples, beyond: int = 10) -> tuple[float, float]:
    """The highest percentile of ``samples`` that still has ``beyond``
    samples above it: the (beyond+1)-th largest value, and its percentile
    (share of samples at or below it). Needs more than ``beyond`` samples."""
    s = sorted(samples)
    n = len(s)
    if n <= beyond:
        raise ValueError(f"{n} samples leave none with {beyond} beyond it")
    return s[n - beyond - 1], 100.0 * (n - beyond) / n


def package_zip(root: str, out_path: str) -> str:
    """Zip the engine and the benchmark for the Python workers
    (``SparkContext.addPyFile``): a worker started outside the checkout root
    cannot import them otherwise."""
    with zipfile.ZipFile(out_path, "w", zipfile.ZIP_DEFLATED, compresslevel=1) as zf:
        for pkg in PACKAGES:
            for dirpath, dirnames, filenames in os.walk(os.path.join(root, pkg)):
                dirnames[:] = [d for d in dirnames if d not in ("__pycache__", "tests")]
                for name in filenames:
                    if name.endswith(".py"):
                        path = os.path.join(dirpath, name)
                        zf.write(path, os.path.relpath(path, root))
    return out_path


def start_spark(master: str, workdir: str, pyfiles: str):
    """A SparkSession from the engine's ``get_spark``, with the console
    progress bar off and every scratch file inside ``workdir``."""
    from kafka_sink_spark.session import get_spark

    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Every JVM, the launcher's included, and the gateway's Python temp files
    # keep their scratch here.
    os.environ["_JAVA_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    spark = get_spark(
        app_name="perfbench",
        master=master,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
            "spark.sql.streaming.numRecentProgressUpdates": "100000",
        },
    )
    spark.sparkContext.setLogLevel("OFF")
    spark.sparkContext.addPyFile(pyfiles)
    return spark


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    JVM and the Python workers), polled from /proc. Each process counts its
    proportional set size, so pages that forked workers share count once."""

    def __init__(self, interval_s: float = 1.0):  # a sample costs ~25 ms of CPU
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def _tree_pss() -> int:
        parent = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                try:
                    with open(f"/proc/{name}/stat") as fh:
                        parent[int(name)] = int(fh.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    continue  # the process ended while being read
        root, total = os.getpid(), 0
        for pid in parent:
            p = pid
            while p and p != root:
                p = parent.get(p, 0)
            if p != root:
                continue
            try:
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    for line in fh:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except (OSError, ValueError):
                continue
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_pss())
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_bytes = max(self.peak_bytes, self._tree_pss())


@dataclass
class Drain:
    """What one drain produced."""

    round_id: str
    started: float  # wall clock
    wall_s: float
    batches: list  # StreamingQueryProgress of every micro-batch with input
    metrics: object  # SinkMetrics
    dead_letters: dict = field(default_factory=dict)  # key -> [offset]
    spans: list = field(default_factory=list)


class Sink:
    """The workload's connector, parsed and validated against the table
    schemas, plus the benchmark's writer and dead-letter callables."""

    def __init__(self, workload, session_dir: str):
        from kafka_sink_spark.config import parse_sink_config

        self.workload = workload
        self.config = parse_sink_config(workload.props())
        self.schemas = workload.table_schemas()
        for table in self.config.tables:
            table.validate_against(self.schemas[(table.keyspace, table.table)])
        self.value_schemas = workload.value_schemas()
        self.factory = DeadlineSessionFactory(
            workload.latency_s, workload.poison(), session_dir
        )

    def drain(self, spark, src: str, ckpt: str, round_id: str, trace: bool = False) -> Drain:
        """Run the sink stream over ``src`` until the backlog is drained."""
        from kafka_sink_spark.operators.cassandra_writer import write_routed
        from kafka_sink_spark.streaming.pipeline import SinkMetrics, start_sink_stream

        sc = spark.sparkContext
        n_tables = len(self.config.tables)
        metrics = SinkMetrics()
        dead: dict[str, list] = {}
        spans: list = []
        calls = {"writer": 0}

        def span(name, t0, batch, key, **extra):
            if trace:
                spans.append(
                    dict(name=name, start=t0, end=time.time(), batch=batch,
                         round=round_id, key=key, **extra)
                )

        def writer(routed, table, schema):
            batch = calls["writer"] // n_tables
            calls["writer"] += 1
            key = f"{table.topic}|{table.keyspace}.{table.table}"
            sc.setLocalProperty(TAG_PROPERTY, f"{round_id}:{batch}:{key}")
            t0 = time.time()
            try:
                return write_routed(routed, table, schema, self.config, self.factory)
            finally:
                sc.setLocalProperty(TAG_PROPERTY, None)
                span("writer.write_routed", t0, batch, key)

        def error_sink(bad, table):
            key = f"{table.topic}|{table.keyspace}.{table.table}"
            t0 = time.time()
            dead.setdefault(key, []).extend(r[0] for r in bad.select("offset").collect())
            span("pipeline.error_sink", t0, calls["writer"] // n_tables, key)

        stream = (
            spark.readStream.schema(self.workload.record_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        started, t0 = time.time(), time.perf_counter()
        q = start_sink_stream(
            spark,
            stream,
            self.config,
            self.schemas,
            ckpt,
            writer,
            value_schemas=self.value_schemas,
            metrics=metrics,
            trigger_once=True,
            error_sink=error_sink,
        )
        q.awaitTermination()
        wall = time.perf_counter() - t0
        if q.exception() is not None:
            raise RuntimeError(f"stream {round_id} failed: {q.exception()}")
        batches = [p for p in q.recentProgress if p.numInputRows > 0]
        return Drain(round_id, started, wall, batches, metrics, dead, spans)


def setup_once(workload, root: str, workdir: str, master: str, warm_src: str, rep: int):
    """JVM launch (when none runs yet), Spark session start, connector parse
    and validation, and one warm-up micro-batch through the full path.
    Returns (spark, sink, seconds)."""
    t0 = time.perf_counter()
    pyfiles = package_zip(root, os.path.join(workdir, f"pyfiles-{rep}.zip"))
    spark = start_spark(master, workdir, pyfiles)
    sink = Sink(workload, os.path.join(workdir, "session"))
    sink.drain(spark, warm_src, os.path.join(workdir, "ckpt", f"warm-{rep}"), f"warm{rep}")
    return spark, sink, time.perf_counter() - t0


def verify(backlog, drains, workdir: str) -> list[str]:
    """Every correctness problem of ``drains`` (see ``perfbench.check``)."""
    from perfbench.check import check_drain
    from perfbench.session import read_records

    records = read_records(os.path.join(workdir, "session"))
    problems = []
    for d in drains:
        problems += [f"{d.round_id}: {p}" for p in check_drain(backlog, d, records)]
    return problems


def host_steal_s() -> float:
    """CPU seconds the hypervisor gave to other guests so far (the steal
    column of /proc/stat), summed over CPUs."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def stop_jvm() -> None:
    """End the JVM behind the stopped Spark session and wait for it: it
    exits when its stdin closes. Its Python daemon exits with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def make_result(correct: bool, attempted: int, failed: int, values: dict, units: dict) -> dict:
    """The last line of a run: every metric in ``units``, no other."""
    if set(values) != set(units):
        raise ValueError(f"metrics {sorted(values)} != declared {sorted(units)}")
    return {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }


def failed_records(drains) -> int:
    """Σ failedRecordCount + failedWithUnknownTopic over ``drains``."""
    return sum(
        sum(d.metrics.failed_record_count.values()) + d.metrics.failed_with_unknown_topic
        for d in drains
    )


def batch_seconds(drains) -> list[float]:
    return [p.durationMs["triggerExecution"] / 1000.0 for d in drains for p in d.batches]
