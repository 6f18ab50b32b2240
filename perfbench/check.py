"""Correctness of one drain against the generator's expectations.

- Sink counters: per ``topic|ks.table``, ``recordCount`` equals the records
  that map; ``failedRecordCount`` lies between the designed-bad records
  (malformed plus poison-keyed) and the whole-frame upper bound (malformed
  plus every mapped record of a micro-batch whose write failed);
  ``failedWithUnknownTopic`` equals the unconfigured-topic records. So every
  record offered is written, failed or unknown.
- Frames: the sink's batch-size histogram matches the expected frames and
  singles on workloads without failures.
- Dead letters: the offsets sent to ``error_sink`` are the malformed ones.
- Session: per micro-batch and table, the statements, frames, singles, verbs
  and statement digest the session saw equal the expectation, on every
  (batch, table) without a poison key; each poisoned one saw a failure.
"""

from __future__ import annotations

from perfbench.session import MASK
from perfbench.workloads import Backlog


def observed_by_batch(records: list[dict], round_id: str) -> dict:
    """Sum the session task records of one drain per (batch, key)."""
    out: dict = {}
    for r in records:
        tag = r.get("tag") or ""
        rid, _, rest = tag.partition(":")
        if rid != round_id:
            continue
        batch, _, key = rest.partition(":")
        o = out.setdefault(
            (int(batch), key),
            {"statements": 0, "frames": 0, "singles": 0, "failed": 0, "digest": 0, "verbs": {}},
        )
        for f in ("statements", "frames", "singles", "failed"):
            o[f] += r[f]
        o["digest"] = (o["digest"] + r["digest"]) & MASK
        for verb, n in r["verbs"].items():
            o["verbs"][verb] = o["verbs"].get(verb, 0) + n
    return out


def failure_bounds(backlog: Backlog, key: str) -> tuple[int, int]:
    """The least and the most ``failedRecordCount`` of ``key`` over one
    drain: the designed-bad records, and the whole-frame upper bound."""
    per = [(b, b.keys[key]) for b in backlog.batches if key in b.keys]
    bad = sum(len(k.malformed) for _, k in per)
    low = bad + sum(k.poison for _, k in per)
    high = bad + sum(k.good for b, k in per if b.poisoned)
    return low, high


def unexpected_failures(backlog: Backlog, drains) -> int:
    """Failed records beyond what the workload designs to fail (unknown
    topic, malformed, poison-keyed frames), summed over ``drains``: 0 when
    every drain is correct."""
    unknown = sum(b.unknown for b in backlog.batches)
    out = 0
    for d in drains:
        out += max(0, d.metrics.failed_with_unknown_topic - unknown)
        for key, failed in d.metrics.failed_record_count.items():
            out += max(0, failed - failure_bounds(backlog, key)[1])
    return out


def check_drain(backlog: Backlog, drain, records: list[dict]) -> list[str]:
    """Every mismatch between one drain and the expectations, as text."""
    problems: list[str] = []
    m = drain.metrics
    exp_keys = sorted({k for b in backlog.batches for k in b.keys})

    if len(drain.batches) != len(backlog.batches):
        problems.append(f"{len(drain.batches)} micro-batches, expected {len(backlog.batches)}")

    unknown = sum(b.unknown for b in backlog.batches)
    if m.failed_with_unknown_topic != unknown:
        problems.append(f"failedWithUnknownTopic {m.failed_with_unknown_topic} != {unknown}")

    for key in exp_keys:
        per = [b.keys[key] for b in backlog.batches]
        good = sum(k.good for k in per)
        low, high = failure_bounds(backlog, key)
        got = m.record_count.get(key, 0)
        failed = m.failed_record_count.get(key, 0)
        if got != good:
            problems.append(f"{key}: recordCount {got} != {good}")
        if not low <= failed <= high:
            problems.append(f"{key}: failedRecordCount {failed} outside [{low}, {high}]")
        dead = sorted(drain.dead_letters.get(key, []))
        malformed = sorted(o for k in per for o in k.malformed)
        if dead != malformed:
            problems.append(f"{key}: {len(dead)} dead letters, expected {len(malformed)} malformed")
        if not any(b.poisoned for b in backlog.batches):
            hist = m.batch_size_histogram.get(key, {})
            frames = sum(n for size, n in hist.items() if size > 1)
            singles = hist.get(1, 0)
            want = (sum(k.frames for k in per), sum(k.singles for k in per))
            if (frames, singles) != want:
                problems.append(f"{key}: (frames, singles) {(frames, singles)} != {want}")

    seen = observed_by_batch(records, drain.round_id)
    for i, b in enumerate(backlog.batches):
        for key, k in b.keys.items():
            o = seen.get((i, key))
            if k.poison:
                if o is None or o["failed"] < 1:
                    problems.append(f"batch {i} {key}: poisoned write did not fail")
                continue
            want = {"statements": k.good, "frames": k.frames, "singles": k.singles,
                    "failed": 0, "digest": k.digest, "verbs": k.verbs}
            o = o or {"statements": 0, "frames": 0, "singles": 0, "failed": 0,
                      "digest": 0, "verbs": {}}
            if o != want:
                diff = {f: (o[f], want[f]) for f in want if o[f] != want[f]}
                problems.append(f"batch {i} {key}: session saw {diff} (got, expected)")
    return problems
