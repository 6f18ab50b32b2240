"""Sink-throughput benchmark: generated Kafka-shaped backlogs through the real
micro-batch path.

    python3 perfbench/run.py --workload ticks_json --seed 1 --seconds 10 --trace 0

Run from the repository root. Each run generates its workload's backlog from
``--seed`` (one parquet file per micro-batch, in the canonical Kafka record
columns), sets up Spark and the connector once from a cold start, then
drains the backlog through ``streaming.pipeline.start_sink_stream`` as many
times as fit in ``--seconds`` on a 4-core host (a fixed count per workload
and run length). The
Cassandra session is injected (``perfbench/session.py``). Every drain is
checked against the generator's own expectations (``perfbench/check.py``);
a mismatch fails the run.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` instead prints the
per-layer split (``perfbench/layers.py``) and writes the spans it recorded to
``.perfbench/trace-<workload>-<seed>.json``. The last line of standard output
is one JSON object: ``correct``, ``attempted``, ``failed``, ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from statistics import median

ROOT = os.getcwd()
sys.path.insert(0, ROOT)

# The reference's JSON endurance floor (BASELINE.md, perf/README.md:49):
# printed beside the result as a reference line, not used as a gate.
REFERENCE_FLOORS = {"ticks_json": 20_000}
END_TO_END_UNITS = {
    "records_per_s": "rec/s",
    "batch_p50_s": "s",
    "delivered_share": "ratio",
    "setup_s": "s",
    "peak_rss_mb": "MiB",
}


def measure(workload, args, workdir: str, src: str, warm_src: str):
    """Set up once from a cold start (the JVM launch included), then drain
    the backlog as many times as fit in ``seconds`` on a 4-core host.
    Returns (setup seconds, drains, peak RSS bytes over the drains, host CPU
    steal seconds over the drains)."""
    from perfbench.harness import RssSampler, host_steal_s, nproc, setup_once

    spark, sink, setup_s = setup_once(
        workload, ROOT, workdir, f"local[{nproc()}]", warm_src, 0
    )
    spark.sparkContext._jvm.System.gc()  # measure from a compacted heap
    n_drains = max(1, round(args.seconds / workload.drain_s))
    steal = host_steal_s()
    with RssSampler() as rss:
        drains = [
            sink.drain(spark, src, os.path.join(workdir, "ckpt", f"r{r}"), f"r{r}")
            for r in range(n_drains)
        ]
    spark.stop()
    return setup_s, drains, rss.peak_bytes, host_steal_s() - steal


def end_to_end(workload, backlog, args, gen_s, workdir, src, warm_src) -> dict:
    from perfbench.check import unexpected_failures
    from perfbench.harness import (
        batch_seconds, failed_records, make_result, tail_percentile, verify,
    )

    setup_s, drains, peak_rss, steal_s = measure(workload, args, workdir, src, warm_src)
    problems = verify(backlog, drains, workdir)
    offered = backlog.offered * len(drains)
    failed = failed_records(drains)
    secs = batch_seconds(drains)
    rps = offered / sum(d.wall_s for d in drains)
    print(f"workload {workload.name}: {len(drains)} drains of {backlog.offered} records, "
          f"{len(secs)} micro-batches, {args.seconds} s; host CPU steal during the drains "
          f"{steal_s:.2f} s")
    print(f"records_per_s {rps:.1f} rec/s")
    floor = REFERENCE_FLOORS.get(workload.name)
    if floor:
        print(f"  reference endurance floor {floor} rec/s (reference line, not a gate)")
    print(f"batch_p50_s {median(secs):.4f} s  (micro-batches: "
          + " ".join(f"{x:.2f}" for x in secs) + ")")
    if len(secs) > 10:
        tail, pct = tail_percentile(secs)
        print(f"batch_tail_s {tail:.4f} s  (p{pct:.1f}, 10 of {len(secs)} micro-batches beyond)")
    else:
        print(f"batch_tail_s unsupported: {len(secs)} micro-batches leave no percentile "
              "with 10 beyond it")
    print(f"failed_share {failed / offered:.6f} ratio  (delivered_share {1 - failed / offered:.6f})")
    print(f"setup_s {setup_s:.4f} s  (cold start; input generation {gen_s:.3f} s)")
    print(f"peak_rss_mb {peak_rss / 2**20:.1f} MiB")
    for p in problems:
        print(f"INCORRECT {p}")
    values = {
        "records_per_s": rps,
        "batch_p50_s": median(secs),
        "delivered_share": 1 - failed / offered,
        "setup_s": setup_s,
        "peak_rss_mb": peak_rss / 2**20,
    }
    return make_result(
        not problems, offered, unexpected_failures(backlog, drains), values, END_TO_END_UNITS
    )


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    os.environ["TZ"] = "UTC"  # workers render timestamps in local time
    time.tzset()
    import kafka_sink_spark  # noqa: F401  (fails outside a checkout)
    from perfbench.workloads import WORKLOADS

    workload = WORKLOADS[args.workload]()
    base = os.path.join(ROOT, ".perfbench")
    workdir = os.path.join(base, f"run-{os.getpid()}")
    os.makedirs(os.path.join(workdir, "session"))
    try:
        t0 = time.perf_counter()
        src, warm_src = os.path.join(workdir, "backlog"), os.path.join(workdir, "warm")
        backlog = workload.generate(args.seed, src)
        # The warm-up micro-batch is full-sized, from another seed: same shape,
        # other records. A smaller one leaves the JVM compiling through the
        # first measured drain, which then runs 30-40% slower than later ones.
        workload.generate(args.seed + 1_000_003, warm_src, batches=1)
        gen_s = time.perf_counter() - t0
        if args.trace:
            from perfbench.layers import traced_run

            result = traced_run(workload, backlog, args, ROOT, workdir, src, warm_src, base)
        else:
            result = end_to_end(workload, backlog, args, gen_s, workdir, src, warm_src)
    finally:
        from perfbench.harness import stop_jvm

        stop_jvm()
        shutil.rmtree(workdir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
