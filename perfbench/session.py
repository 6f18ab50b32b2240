"""The injected Cassandra session: deadline futures, poison keys, per-task records.

``write_routed`` calls ``session_factory()`` once per partition on the
executor and drives the returned object through the Cassandra client surface
it uses: ``prepare``, ``execute_async`` and (without the real client package)
``execute_batch``. This session runs no threads. Each future completes at a
deadline fixed when it was submitted, so injected latency costs the caller
wall time spent blocked in ``result()``, but no CPU.

Every bound statement is reduced to a 64-bit digest of its verb, table, bind
marker names and values. The digests are summed per task, so a micro-batch's
digest does not depend on partitioning or submit order; ``workloads`` computes
the same digest from the generator's records.

When a task has awaited every future it submitted (or one failed, which ends
the task), the session appends one JSON line with its counters to
``<out_dir>/session-<pid>.jsonl``. The benchmark process reads those files
after each stream has stopped. The line doubles as the task's span: its
wall-clock start and end, and the ``perfbench.tag`` local property set around
the write.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import time

TAG_PROPERTY = "perfbench.tag"
MASK = (1 << 64) - 1  # digests are summed modulo 2**64
_TABLE_RE = re.compile(r"^\s*(?:INSERT\s+INTO|DELETE\s+FROM|UPDATE)\s+([\w.]+)", re.I)
_MARKER_RE = re.compile(r":(\w+)")


def statement_prefix(verb: str, table: str, markers) -> str:
    """The digest prefix of one prepared statement: verb, table and the bind
    marker names in sorted order."""
    return f"{verb.upper()} {table} {','.join(sorted(markers))}|"


def statement_digest(prefix: str, values: tuple) -> int:
    """64-bit digest of one bound statement; ``values`` are in the order of
    the sorted marker names. UDT values (Rows) digest as plain tuples."""
    canon = [tuple(v) if isinstance(v, tuple) else v for v in values]
    raw = hashlib.blake2b((prefix + repr(canon)).encode(), digest_size=8).digest()
    return int.from_bytes(raw, "little")


class PoisonedWrite(RuntimeError):
    """The failure a poisoned statement's future raises."""


class Prepared:
    """A prepared statement: the CQL text split into what the digest uses."""

    def __init__(self, cql: str):
        m = _TABLE_RE.match(cql)
        if m is None:
            raise ValueError(f"unrecognised statement: {cql!r}")
        self.cql = cql
        self.verb = cql.split(None, 1)[0].upper()
        self.markers = _MARKER_RE.findall(cql)
        self.sorted_markers = sorted(self.markers)
        self.prefix = statement_prefix(self.verb, m.group(1), self.markers)
        self.consistency_level = None

    def values(self, params) -> tuple:
        """Bound values in sorted-marker order, from named (dict) or
        positional binds alike, so the digest does not depend on how the
        writer binds."""
        if isinstance(params, dict):
            return tuple(params[m] for m in self.sorted_markers)
        by_name = dict(zip(self.markers, params))
        return tuple(by_name[m] for m in self.sorted_markers)


class DeadlineFuture:
    __slots__ = ("_session", "_deadline", "_error", "_done")

    def __init__(self, session: "DeadlineSession", deadline: float, error):
        self._session = session
        self._deadline = deadline
        self._error = error
        self._done = False

    def result(self):
        s = self._session
        if not self._done:
            self._done = True
            now = time.monotonic()
            if self._deadline > now:
                time.sleep(self._deadline - now)
                s.wait_s += time.monotonic() - now
            s.inflight -= 1
            if self._error is not None:
                s.failed += 1
                s.flush()
            elif s.inflight == 0:
                s.flush()
        if self._error is not None:
            raise self._error
        return None


class DeadlineSession:
    """One task's session. Counters accumulate until ``flush``."""

    def __init__(self, latency_s: float, poison: frozenset, out_dir: str | None):
        self.latency_s = latency_s
        self.poison = poison
        self.out_dir = out_dir
        self.peak_inflight = 0
        self.inflight = 0
        self._reset()

    def _reset(self) -> None:
        self.calls = self.statements = self.frames = self.singles = 0
        self.failed = 0
        self.wait_s = 0.0
        self.digest = 0
        self.verbs: dict[str, int] = {}
        self.t0 = None

    # -- Cassandra client surface -------------------------------------------
    def prepare(self, cql: str) -> Prepared:
        return Prepared(cql)

    def execute_async(self, prepared: Prepared, params):
        self.singles += 1
        return self._submit([(prepared, params)])

    def execute_batch(self, stmts, consistency_level=None):
        self.frames += 1
        return self._submit(stmts)

    # -- accounting ---------------------------------------------------------
    def _submit(self, stmts) -> DeadlineFuture:
        if self.t0 is None:
            self.t0 = time.time()
        self.calls += 1
        error = None
        digest = self.digest
        for prepared, params in stmts:
            values = prepared.values(params)
            if self.poison and any(
                type(v) is str and v in self.poison for v in values
            ):
                error = PoisonedWrite(f"poisoned key in {prepared.cql}")
            digest += statement_digest(prepared.prefix, values)
            self.verbs[prepared.verb] = self.verbs.get(prepared.verb, 0) + 1
        self.digest = digest & MASK
        self.statements += len(stmts)
        self.inflight += 1
        self.peak_inflight = max(self.peak_inflight, self.inflight)
        return DeadlineFuture(self, time.monotonic() + self.latency_s, error)

    def record(self) -> dict:
        return {
            "tag": _task_tag(),
            "pid": os.getpid(),
            "start": self.t0,
            "end": time.time(),
            "calls": self.calls,
            "statements": self.statements,
            "frames": self.frames,
            "singles": self.singles,
            "failed": self.failed,
            "wait_s": self.wait_s,
            "peak_inflight": self.peak_inflight,
            "digest": self.digest,
            "verbs": self.verbs,
        }

    def flush(self) -> None:
        """Append this task's counters since the last flush, then reset."""
        if self.calls and self.out_dir is not None:
            path = os.path.join(self.out_dir, f"session-{os.getpid()}.jsonl")
            with open(path, "a") as fh:
                fh.write(json.dumps(self.record()) + "\n")
        self._reset()


def _task_tag() -> str | None:
    from pyspark import TaskContext

    ctx = TaskContext.get()
    return ctx.getLocalProperty(TAG_PROPERTY) if ctx is not None else None


class DeadlineSessionFactory:
    """Picklable ``session_factory`` for ``write_routed``."""

    def __init__(self, latency_s: float = 0.0, poison=(), out_dir: str | None = None):
        self.latency_s = latency_s
        self.poison = frozenset(poison)
        self.out_dir = out_dir

    def __call__(self) -> DeadlineSession:
        return DeadlineSession(self.latency_s, self.poison, self.out_dir)


def read_records(out_dir: str) -> list[dict]:
    """Every task record the workers appended under ``out_dir``."""
    out = []
    for name in sorted(os.listdir(out_dir)):
        if name.startswith("session-") and name.endswith(".jsonl"):
            with open(os.path.join(out_dir, name)) as fh:
                out.extend(json.loads(line) for line in fh if line.strip())
    return out
