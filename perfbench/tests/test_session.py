"""The injected deadline-future session: window accounting, latency without
CPU, failure injection and the statement digest."""

import json
import time

import pytest

from perfbench.session import (
    DeadlineSessionFactory,
    PoisonedWrite,
    read_records,
    statement_digest,
    statement_prefix,
)

INSERT = "INSERT INTO ks.t(k,v) VALUES (:k,:v) USING TIMESTAMP :message_internal_timestamp"


def drive(session, stmts, window):
    """The writer's submit pattern: await the oldest future once ``window``
    requests are in flight, then await the rest."""
    prepared = session.prepare(INSERT)
    futures = []
    for params in stmts:
        while len(futures) >= window:
            futures.pop(0).result()
        futures.append(session.execute_async(prepared, params))
    for fut in futures:
        fut.result()


def rows(n, poison_at=None):
    return [
        {"k": "bad" if i == poison_at else f"k{i}", "v": i, "message_internal_timestamp": i}
        for i in range(n)
    ]


def test_window_bounds_inflight_and_latency_costs_wall_not_cpu(tmp_path):
    session = DeadlineSessionFactory(latency_s=0.05, out_dir=str(tmp_path))()
    wall, cpu = time.perf_counter(), time.process_time()
    drive(session, rows(12), window=4)
    wall, cpu = time.perf_counter() - wall, time.process_time() - cpu
    assert session.peak_inflight == 4
    assert session.inflight == 0
    # 12 requests through a window of 4 at 50 ms each: three full waves.
    assert wall >= 0.14
    assert cpu < wall / 2
    [rec] = read_records(str(tmp_path))
    assert (rec["calls"], rec["statements"], rec["singles"], rec["frames"]) == (12, 12, 12, 0)
    assert rec["failed"] == 0 and rec["wait_s"] >= 0.1
    assert rec["verbs"] == {"INSERT": 12}


def test_zero_latency_never_waits(tmp_path):
    session = DeadlineSessionFactory(out_dir=str(tmp_path))()
    drive(session, rows(50), window=8)
    [rec] = read_records(str(tmp_path))
    assert rec["wait_s"] == 0.0 and rec["statements"] == 50


def test_poisoned_statement_fails_its_future_and_flushes(tmp_path):
    session = DeadlineSessionFactory(poison={"bad"}, out_dir=str(tmp_path))()
    with pytest.raises(PoisonedWrite):
        drive(session, rows(10, poison_at=3), window=500)
    [rec] = read_records(str(tmp_path))
    assert rec["failed"] == 1 and rec["statements"] == 10


def test_poison_in_a_batch_frame_fails_the_frame(tmp_path):
    session = DeadlineSessionFactory(poison={"bad"}, out_dir=str(tmp_path))()
    prepared = session.prepare(INSERT)
    ok = session.execute_batch([(prepared, p) for p in rows(3)])
    bad = session.execute_batch([(prepared, p) for p in rows(3, poison_at=1)])
    ok.result()
    with pytest.raises(PoisonedWrite):
        bad.result()
    [rec] = read_records(str(tmp_path))
    assert (rec["frames"], rec["statements"], rec["failed"]) == (2, 6, 1)


def test_digest_ignores_binding_style_and_order(tmp_path):
    a = DeadlineSessionFactory(out_dir=str(tmp_path / "a"))()
    b = DeadlineSessionFactory(out_dir=str(tmp_path / "b"))()
    (tmp_path / "a").mkdir()
    (tmp_path / "b").mkdir()
    pa, pb = a.prepare(INSERT), b.prepare(INSERT)
    futures = [
        a.execute_async(pa, {"v": i, "k": f"k{i}", "message_internal_timestamp": 7})
        for i in range(5)
    ] + [b.execute_async(pb, (f"k{i}", i, 7)) for i in reversed(range(5))]
    for fut in futures:
        fut.result()
    [ra], [rb] = read_records(str(tmp_path / "a")), read_records(str(tmp_path / "b"))
    assert ra["digest"] == rb["digest"]
    # The expectation side computes the same digest without a session.
    prefix = statement_prefix("INSERT", "ks.t", ["k", "v", "message_internal_timestamp"])
    want = sum(statement_digest(prefix, (f"k{i}", 7, i)) for i in range(5)) % 2**64
    assert ra["digest"] == want


def test_records_are_json_lines_per_process(tmp_path):
    session = DeadlineSessionFactory(out_dir=str(tmp_path))()
    drive(session, rows(2), window=10)
    drive(session, rows(3), window=10)
    files = list(tmp_path.iterdir())
    assert len(files) == 1 and files[0].name.startswith("session-")
    lines = [json.loads(x) for x in files[0].read_text().splitlines()]
    assert [r["statements"] for r in lines] == [2, 3]
