"""The benchmark's own pieces that need no Spark: the tail-percentile rule,
the generator's determinism, the correctness check, span self times and the
output schema."""

import json
import os
from types import SimpleNamespace

import pyarrow.parquet as pq
import pytest

from perfbench.check import check_drain, unexpected_failures
from perfbench.harness import make_result, tail_percentile
from perfbench.layers import PER_LAYER_UNITS, self_times
from perfbench.run import END_TO_END_UNITS
from perfbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# -- tail percentile ----------------------------------------------------------


def test_tail_is_the_value_with_ten_samples_beyond_it():
    value, pct = tail_percentile([float(i) for i in range(1, 101)])
    assert (value, pct) == (90.0, 90.0)
    value, pct = tail_percentile(list(range(11, 0, -1)))
    assert value == 1 and pct == pytest.approx(100 / 11)


def test_tail_needs_more_than_ten_samples():
    with pytest.raises(ValueError):
        tail_percentile([1.0] * 10)


# -- generator ----------------------------------------------------------------


def small(name):
    wl = WORKLOADS[name]()
    wl.records_per_batch, wl.batches = 300, 2
    return wl


def snapshot(backlog):
    return (
        [pq.read_table(p).to_pylist() for p in backlog.paths],
        [(b.offered, b.unknown, sorted((k, vars(e)) for k, e in b.keys.items()))
         for b in backlog.batches],
    )


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_generator_is_deterministic_per_seed(tmp_path, name):
    one = snapshot(small(name).generate(7, str(tmp_path / "a")))
    two = snapshot(small(name).generate(7, str(tmp_path / "b")))
    other = snapshot(small(name).generate(8, str(tmp_path / "c")))
    assert one == two
    assert one != other


def test_file_order_is_batch_order(tmp_path):
    backlog = small("ticks_json").generate(1, str(tmp_path))
    mtimes = [os.path.getmtime(p) for p in backlog.paths]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == len(mtimes)


def test_fanout_shares_are_exact(tmp_path):
    wl = small("fanout_faults")
    backlog = wl.generate(3, str(tmp_path))
    clean, poisoned = backlog.batches
    assert not clean.poisoned and poisoned.poisoned
    for b in backlog.batches:
        assert b.unknown == 300 // 20
        bad = {o for k in b.keys.values() for o in k.malformed}
        assert len(bad) == 300 // 100
    assert poisoned.keys[wl.readings].poison == 2
    assert poisoned.keys[wl.alerts].poison == 0


# -- correctness check --------------------------------------------------------


def fake_drain(wl, backlog, round_id="r0"):
    """A drain and session records exactly as the expectations say."""
    record_count, failed, hist, dead, records = {}, {}, {}, {}, []
    for i, b in enumerate(backlog.batches):
        for key, k in b.keys.items():
            record_count[key] = record_count.get(key, 0) + k.good
            failed[key] = failed.get(key, 0) + len(k.malformed) + (k.good if b.poisoned else 0)
            dead.setdefault(key, []).extend(k.malformed)
            h = hist.setdefault(key, {})
            h[1] = h.get(1, 0) + k.singles
            h[2] = h.get(2, 0) + k.frames
            records.append({
                "tag": f"{round_id}:{i}:{key}", "statements": k.good, "frames": k.frames,
                "singles": k.singles, "failed": int(k.poison > 0), "digest": k.digest,
                "verbs": dict(k.verbs),
            })
    metrics = SimpleNamespace(
        record_count=record_count, failed_record_count=failed, batch_size_histogram=hist,
        failed_with_unknown_topic=sum(b.unknown for b in backlog.batches),
    )
    drain = SimpleNamespace(round_id=round_id, metrics=metrics, dead_letters=dead,
                            batches=[None] * len(backlog.batches))
    return drain, records


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_check_accepts_the_expected_drain(tmp_path, name):
    wl = small(name)
    backlog = wl.generate(5, str(tmp_path))
    drain, records = fake_drain(wl, backlog)
    assert check_drain(backlog, drain, records) == []


def test_check_rejects_a_wrong_digest_and_a_lost_record(tmp_path):
    wl = small("ticks_json")
    backlog = wl.generate(5, str(tmp_path))
    drain, records = fake_drain(wl, backlog)
    records[0]["digest"] ^= 1
    drain.metrics.record_count[wl.key] -= 1
    problems = check_drain(backlog, drain, records)
    assert any("digest" in p for p in problems)
    assert any("recordCount" in p for p in problems)


def test_check_rejects_a_poisoned_write_that_did_not_fail(tmp_path):
    wl = small("fanout_faults")
    backlog = wl.generate(5, str(tmp_path))
    drain, records = fake_drain(wl, backlog)
    for r in records:
        r["failed"] = 0
    assert any("did not fail" in p for p in check_drain(backlog, drain, records))


def test_designed_failures_are_not_unexpected(tmp_path):
    wl = small("fanout_faults")
    backlog = wl.generate(5, str(tmp_path))
    drain, _ = fake_drain(wl, backlog)
    assert sum(drain.metrics.failed_record_count.values()) > 0
    assert unexpected_failures(backlog, [drain]) == 0
    drain.metrics.failed_record_count[wl.alerts] += 2
    drain.metrics.failed_with_unknown_topic += 1
    assert unexpected_failures(backlog, [drain]) == 3


# -- spans ----------------------------------------------------------------------


def test_self_time_subtracts_the_union_of_parallel_children():
    spans = [
        dict(id="w", name="writer", start=0.0, end=10.0, parent=None),
        dict(id="a", name="task", start=1.0, end=5.0, parent="w"),
        dict(id="b", name="task", start=2.0, end=6.0, parent="w"),
        dict(id="c", name="task", start=9.0, end=12.0, parent="w"),
    ]
    out = self_times(spans)
    assert out["writer"]["self_s"] == pytest.approx(10.0 - 5.0 - 1.0)
    assert out["task"] == {"n": 3, "total_s": 11.0, "self_s": 11.0}


# -- output schema ------------------------------------------------------------


def test_metric_names_and_units_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == PER_LAYER_UNITS
    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS)


def test_result_line_has_exactly_the_contract_keys():
    values = {name: 1.5 for name in END_TO_END_UNITS}
    out = json.loads(json.dumps(make_result(True, 10, 0, values, END_TO_END_UNITS)))
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["metrics"] == {n: {"value": 1.5, "unit": u} for n, u in END_TO_END_UNITS.items()}
    with pytest.raises(ValueError):
        make_result(True, 10, 0, {}, END_TO_END_UNITS)
