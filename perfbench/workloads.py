"""The generated workloads and the answers expected from them.

Each workload writes a backlog of record files in the canonical Kafka record
columns (one parquet file per micro-batch) and, from the same generated
records, computes what the sink must do with them: per micro-batch and per
``topic|ks.table``, the statements, frames, singles and the digest of every
bound statement (``session.statement_digest``), plus the records that must
fail. None of it goes through the engine.

- ``ticks_json``: the reference's JSON perf workload (``perf/dse-sink.json``):
  one topic into ``stocks.ticks``, PK (symbol, ts), 300 symbols, one
  100,000-record micro-batch per drain.
- ``fanout_faults``: two configured topics and one unconfigured topic. JSON
  ``events`` fan out to a regular and a counter table with mapped ``__ttl``
  and ``__timestamp``; Avro ``alerts`` carry a UDT column. Tombstones,
  truncated payloads, Zipf-skewed devices, poison keys the injected session
  fails, and injected per-request latency.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.session import MASK, statement_digest, statement_prefix

BASE_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z
EPOCH = dt.datetime(1970, 1, 1)
WT = "message_internal_timestamp"
TTL = "message_internal_ttl"


@dataclass
class KeyExpect:
    """What one micro-batch must produce for one ``topic|ks.table``."""

    good: int = 0  # records that map (every routed statement)
    malformed: list[int] = field(default_factory=list)  # offsets, dead-lettered
    poison: int = 0  # records carrying a poisoned partition key
    frames: int = 0
    singles: int = 0
    digest: int = 0
    verbs: dict = field(default_factory=dict)

    def add(self, verb: str, prefix: str, values: tuple) -> None:
        self.good += 1
        self.verbs[verb] = self.verbs.get(verb, 0) + 1
        self.digest = (self.digest + statement_digest(prefix, values)) & MASK


@dataclass
class BatchExpect:
    offered: int = 0
    unknown: int = 0
    keys: dict[str, KeyExpect] = field(default_factory=dict)

    @property
    def poisoned(self) -> bool:
        return any(k.poison for k in self.keys.values())


@dataclass
class Backlog:
    paths: list[str]
    batches: list[BatchExpect]

    @property
    def offered(self) -> int:
        return sum(b.offered for b in self.batches)


def _frames(run_lengths, max_batch: int = 32) -> tuple[int, int]:
    """(frames, singles) for same-partition-key runs cut into chunks of
    ``max_batch``; a chunk of one is a single EXECUTE."""
    frames = singles = 0
    for n in run_lengths:
        full, rem = divmod(n, max_batch)
        frames += full + (1 if rem > 1 else 0)
        singles += 1 if rem == 1 else 0
    return frames, singles


def _ts(ms: int) -> dt.datetime:
    return EPOCH + dt.timedelta(milliseconds=ms)


def _write_batch(path: str, rows: list[tuple], binary: bool, mtime: float) -> None:
    """One micro-batch file: canonical record columns, rows as
    (topic, partition, offset, timestamp_ms, key, value)."""
    payload = pa.binary() if binary else pa.string()
    cols = list(zip(*rows))
    table = pa.table(
        {
            "topic": pa.array(cols[0], pa.string()),
            "partition": pa.array(cols[1], pa.int32()),
            "offset": pa.array(cols[2], pa.int64()),
            "timestamp": pa.array(
                [ms * 1000 for ms in cols[3]], pa.timestamp("us", tz="UTC")
            ),
            "key": pa.array(cols[4], payload),
            "value": pa.array(cols[5], payload),
        }
    )
    pq.write_table(table, path)
    os.utime(path, (mtime, mtime))  # file-source order = batch order


class Workload:
    """Base: subclasses define the connector config, table schemas, value
    schemas and ``_batch`` (the records and expectations of one batch)."""

    name = ""
    binary = False  # record key/value columns are BINARY (Avro) not STRING
    ignore_errors = "None"
    latency_s = 0.0
    records_per_batch = 0
    batches = 0
    # Seconds one drain of the backlog takes on a 4-core host. A run makes
    # round(seconds / drain_s) drains (at least one): a fixed amount of work,
    # so a run never measures a different number of drains than its peers.
    drain_s = 1.0

    def props(self) -> dict[str, str]:
        raise NotImplementedError

    def table_schemas(self) -> dict:
        raise NotImplementedError

    def value_schemas(self) -> dict:
        raise NotImplementedError

    def poison(self) -> frozenset:
        return frozenset()

    @property
    def record_schema(self) -> str:
        t = "binary" if self.binary else "string"
        return (
            "topic string, partition int, offset long, timestamp timestamp, "
            f"key {t}, value {t}"
        )

    def generate(self, seed: int, out_dir: str, batches: int | None = None) -> Backlog:
        """Write the backlog to ``out_dir`` and return its expectations. The
        same seed always gives the same files and the same expectations."""
        rng = random.Random(f"{self.name}:{seed}")
        self._setup(rng)
        os.makedirs(out_dir, exist_ok=True)
        n = self.batches if batches is None else batches
        size = self.records_per_batch
        mtime0 = BASE_MS / 1000.0
        paths, expects = [], []
        for b in range(n):
            rows, exp = self._batch(rng, b, b * size, size)
            path = os.path.join(out_dir, f"batch-{b:05d}.parquet")
            _write_batch(path, rows, self.binary, mtime0 + b)
            paths.append(path)
            expects.append(exp)
        return Backlog(paths, expects)

    def _setup(self, rng: random.Random) -> None:
        pass

    def _batch(self, rng: random.Random, b: int, offset0: int, size: int):
        raise NotImplementedError


# ----------------------------------------------------------------------------
# ticks_json
# ----------------------------------------------------------------------------


class TicksJson(Workload):
    name = "ticks_json"
    # Sized from the reference probe (a 300k-record micro-batch in ~6.7 s on
    # 4 cores), so the writer's row loop and the pipeline's own work outweigh
    # each Spark job's fixed cost.
    records_per_batch = 100_000
    batches = 1
    drain_s = 7.0
    n_symbols = 300  # ~330 ticks per symbol per micro-batch: full 32-statement frames
    topic = "ticks"
    key = "ticks|stocks.ticks"

    def props(self):
        return {
            "topic.ticks.stocks.ticks.mapping": (
                "symbol=value.symbol, ts=value.ts, exchange=value.exchange, "
                "industry=value.industry, name=key, value=value.value"
            ),
            "ignoreErrors": self.ignore_errors,
        }

    def table_schemas(self):
        from kafka_sink_spark.config import ColumnSpec, TableSchema

        return {
            ("stocks", "ticks"): TableSchema(
                "stocks",
                "ticks",
                [
                    ColumnSpec("symbol", "string", primary_key=True),
                    ColumnSpec("ts", "timestamp", primary_key=True),
                    ColumnSpec("exchange", "string"),
                    ColumnSpec("industry", "string"),
                    ColumnSpec("name", "string"),
                    ColumnSpec("value", "double"),
                ],
            )
        }

    def value_schemas(self):
        from pyspark.sql.types import DoubleType, StringType, StructField, StructType

        return {
            self.topic: StructType(
                [
                    StructField("symbol", StringType()),
                    StructField("ts", StringType()),
                    StructField("exchange", StringType()),
                    StructField("industry", StringType()),
                    StructField("value", DoubleType()),
                ]
            )
        }

    def _setup(self, rng):
        exchanges = ["NYSE", "NASDAQ", "LSE", "TSE", "HKEX"]
        industries = ["tech", "energy", "health", "finance", "retail", "telecom"]
        self.symbols = [
            (
                f"S{i:03d}",
                rng.choice(exchanges),
                rng.choice(industries),
                f"Company {i:03d} Holdings",
            )
            for i in range(self.n_symbols)
        ]
        self.prefix = statement_prefix(
            "INSERT",
            "stocks.ticks",
            ["symbol", "ts", "exchange", "industry", "name", "value", WT],
        )

    def _batch(self, rng, b, offset0, size):
        # The inner loop is written for speed: generation is not timed, but
        # it is paid by every run.
        rows, runs = [], [0] * self.n_symbols
        symbols, prefix, topic = self.symbols, self.prefix, self.topic
        rand, randrange, n = rng.random, rng.randrange, self.n_symbols
        digest = 0
        for off in range(offset0, offset0 + size):
            ms = BASE_MS + off
            k = randrange(n)
            symbol, exchange, industry, name = symbols[k]
            value = round(1 + 999 * rand(), 2)
            tick = _ts(ms - randrange(1000))
            doc = (
                f'{{"symbol": "{symbol}", "ts": "{tick.isoformat(timespec="milliseconds")}Z", '
                f'"exchange": "{exchange}", "industry": "{industry}", "value": {value!r}}}'
            )
            rows.append((topic, off % 4, off, ms, name, doc))
            # values in sorted marker order: exchange, industry, WT, name,
            # symbol, ts, value
            digest += statement_digest(
                prefix, (exchange, industry, ms * 1000, name, symbol, tick, value)
            )
            runs[k] += 1
        exp = BatchExpect(offered=size)
        exp.keys[self.key] = KeyExpect(
            good=size, digest=digest & MASK, verbs={"INSERT": size},
            **dict(zip(("frames", "singles"), _frames(runs))),
        )
        return rows, exp


# ----------------------------------------------------------------------------
# Avro binary encoding (fanout_faults' alerts topic)
# ----------------------------------------------------------------------------


def _zigzag(n: int) -> bytes:
    n = (n << 1) ^ (n >> 63)
    out = bytearray()
    while n & ~0x7F:
        out.append((n & 0x7F) | 0x80)
        n >>= 7
    out.append(n)
    return bytes(out)


def _avro_string(s: str) -> bytes:
    raw = s.encode()
    return _zigzag(len(raw)) + raw


# ----------------------------------------------------------------------------
# fanout_faults
# ----------------------------------------------------------------------------


class FanoutFaults(Workload):
    name = "fanout_faults"
    binary = True  # one stream carries JSON (UTF-8 bytes) and Avro values
    ignore_errors = "All"
    latency_s = 0.1  # with ~700 requests per task, the 500-request window binds
    records_per_batch = 2_000
    batches = 2
    drain_s = 11.0
    n_devices = 3_000
    zipf_s = 0.9
    readings = "events|sensors.readings"
    counts = "events|sensors.device_counts"
    alerts = "alerts|sensors.alerts"

    def props(self):
        return {
            "topic.events.sensors.readings.mapping": (
                "device=value.device, seq=value.seq, reading=value.reading, "
                "status=value.status, __ttl=value.ttl, __timestamp=value.ts_us"
            ),
            "topic.events.sensors.device_counts.mapping": "device=value.device, n=value.inc",
            "topic.alerts.sensors.alerts.mapping": (
                "alert_id=value.id, device=value.device, detail=value.detail"
            ),
            "ignoreErrors": self.ignore_errors,
        }

    def table_schemas(self):
        from kafka_sink_spark.config import ColumnSpec, TableSchema

        return {
            ("sensors", "readings"): TableSchema(
                "sensors",
                "readings",
                [
                    ColumnSpec("device", "string", primary_key=True),
                    ColumnSpec("seq", "bigint", primary_key=True),
                    ColumnSpec("reading", "double"),
                    ColumnSpec("status", "string"),
                ],
            ),
            ("sensors", "device_counts"): TableSchema(
                "sensors",
                "device_counts",
                [
                    ColumnSpec("device", "string", primary_key=True),
                    ColumnSpec("n", "bigint", counter=True),
                ],
            ),
            ("sensors", "alerts"): TableSchema(
                "sensors",
                "alerts",
                [
                    ColumnSpec("alert_id", "bigint", primary_key=True),
                    ColumnSpec("device", "string"),
                    ColumnSpec("detail", "struct<level:int,msg:string>"),
                ],
            ),
        }

    @staticmethod
    def avro_schema() -> str:
        detail = {
            "type": "record",
            "name": "Detail",
            "fields": [{"name": "level", "type": "int"}, {"name": "msg", "type": "string"}],
        }
        return json.dumps(
            {
                "type": "record",
                "name": "Alert",
                "fields": [
                    {"name": "id", "type": "long"},
                    {"name": "device", "type": ["null", "string"]},
                    {"name": "detail", "type": ["null", detail]},
                ],
            }
        )

    def value_schemas(self):
        from pyspark.sql.types import (
            DoubleType,
            LongType,
            StringType,
            StructField,
            StructType,
        )

        return {
            "events": StructType(
                [
                    StructField("device", StringType()),
                    StructField("seq", LongType()),
                    StructField("reading", DoubleType()),
                    StructField("status", StringType()),
                    StructField("ttl", LongType()),
                    StructField("ts_us", LongType()),
                    StructField("inc", LongType()),
                ]
            ),
            "alerts": self.avro_schema(),
        }

    def poison(self):
        return frozenset(self._poison_device(b) for b in range(self.batches))

    @staticmethod
    def _poison_device(b: int) -> str:
        return f"poison-{b:03d}"

    @staticmethod
    def _poisoned_batch(b: int) -> bool:
        return b % 2 == 1

    @staticmethod
    def _alert_payload(alert_id: int, device, detail) -> bytes:
        out = bytearray(_zigzag(alert_id))
        out += _zigzag(0) if device is None else _zigzag(1) + _avro_string(device)
        if detail is None:
            out += _zigzag(0)
        else:
            out += _zigzag(1) + _zigzag(detail[0]) + _avro_string(detail[1])
        return bytes(out)

    def _setup(self, rng):
        self.devices = [f"dev-{i:03d}" for i in range(self.n_devices)]
        weights = [1.0 / (i + 1) ** self.zipf_s for i in range(self.n_devices)]
        total, acc = sum(weights), 0.0
        self.cum = []
        for w in weights:
            acc += w
            self.cum.append(acc / total)
        self.p_insert = statement_prefix(
            "INSERT", "sensors.readings", ["device", "seq", "reading", "status", WT, TTL]
        )
        self.p_delete = statement_prefix("DELETE", "sensors.readings", ["device", "seq"])
        self.p_counter = statement_prefix("UPDATE", "sensors.device_counts", ["device", "n"])
        self.p_alert = statement_prefix(
            "INSERT", "sensors.alerts", ["alert_id", "device", "detail", WT]
        )
        self.p_alert_delete = statement_prefix("DELETE", "sensors.alerts", ["alert_id"])

    def _batch(self, rng, b, offset0, size):
        import bisect

        exp = BatchExpect(offered=size)
        readings = exp.keys.setdefault(self.readings, KeyExpect())
        counts = exp.keys.setdefault(self.counts, KeyExpect())
        alerts = exp.keys.setdefault(self.alerts, KeyExpect())
        # Exact shares per batch, placed at random: 5% unconfigured topic, 25%
        # Avro alerts, 1% truncated payloads (a quarter of them alerts), two
        # poison-keyed events in every other batch; ~10% tombstones by draw.
        slots = list(range(size))
        rng.shuffle(slots)
        cuts = [size // 20, size // 400, size // 100 - size // 400,
                2 if self._poisoned_batch(b) else 0, size // 4 - size // 400]
        roles, at = {}, 0
        for role, n in zip(("unknown", "bad_alert", "bad_event", "poison", "alert"), cuts):
            roles.update((i, role) for i in slots[at : at + n])
            at += n
        rows, device_runs = [], {}
        for i in range(size):
            off = offset0 + i
            ms = BASE_MS + off
            part = off % 4
            role = roles.get(i, "event")
            if role == "unknown":
                doc = {"device": rng.choice(self.devices), "who": "ops", "seq": off}
                rows.append(("audit", part, off, ms, None, json.dumps(doc).encode()))
                exp.unknown += 1
                continue
            to_alerts = role in ("alert", "bad_alert")
            if role.startswith("bad_"):
                # Truncated payloads: mapping errors, dead-lettered under All.
                if to_alerts:
                    raw = self._alert_payload(off, "dev-000", (1, "truncated"))[:-3]
                    alerts.malformed.append(off)
                else:
                    raw = json.dumps({"device": "dev-000", "seq": off})[:-7].encode()
                    readings.malformed.append(off)
                    counts.malformed.append(off)
                rows.append(("alerts" if to_alerts else "events", part, off, ms, None, raw))
                continue
            poison = role == "poison"
            device = (
                self._poison_device(b)
                if poison
                else self.devices[bisect.bisect_left(self.cum, rng.random())]
            )
            tombstone = rng.random() < 0.10 and not poison
            if to_alerts:
                detail = (rng.randrange(1, 6), f"threshold {rng.randrange(1000)} exceeded")
                if tombstone:
                    alerts.add("DELETE", self.p_alert_delete, (off,))
                    raw = self._alert_payload(off, None, None)
                else:
                    # sorted markers: alert_id, detail, device, WT
                    alerts.add("INSERT", self.p_alert, (off, detail, device, ms * 1000))
                    raw = self._alert_payload(off, device, detail)
                rows.append(("alerts", part, off, ms, None, raw))
                continue
            inc = rng.randrange(1, 6)
            ttl = rng.randrange(3600, 86400)
            ts_us = ms * 1000 + rng.randrange(1000)
            doc = {"device": device, "seq": off, "reading": None, "status": None,
                   "ttl": ttl, "ts_us": ts_us, "inc": inc}
            if tombstone:
                readings.add("DELETE", self.p_delete, (device, off))
            else:
                reading = round(rng.gauss(20.0, 5.0), 3)
                status = rng.choice(["ok", "warn", "degraded"])
                doc.update(reading=reading, status=status)
                # sorted markers: device, WT, TTL, reading, seq, status
                readings.add(
                    "INSERT", self.p_insert, (device, ts_us, ttl, reading, off, status)
                )
            counts.add("UPDATE", self.p_counter, (device, inc))
            if poison:
                readings.poison += 1
                counts.poison += 1
            device_runs[device] = device_runs.get(device, 0) + 1
            rows.append(("events", part, off, ms, None, json.dumps(doc).encode()))
        readings.frames, readings.singles = _frames(device_runs.values())
        counts.frames, counts.singles = _frames(device_runs.values())
        alerts.frames, alerts.singles = _frames([1] * alerts.good)
        return rows, exp


WORKLOADS = {w.name: w for w in (TicksJson, FanoutFaults)}
