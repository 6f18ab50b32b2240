"""The substrate-cache registry (kafka_sink_spark/substrates.py) must cover
every module-level ``*_CACHE`` dict in the package, so the bench's cold mode
(SPARK_GRAFT_BENCH_COLD=1) can't silently miss a new memo — a substrate
cache that escapes ``clear_all()`` would make "cold" numbers quietly warm
again (r14 verdict ask #1: the memo accounting must stay auditable)."""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kafka_sink_spark.substrates import SUBSTRATE_CACHES, _caches, clear_all, sizes

PKG_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "kafka_sink_spark"
)

# Non-substrate caches: nothing materialized executor-side.
EXEMPT = {
    # unmaterialized parquet relations (schema-inference memo only)
    ("kafka_sink_spark.session", "_RELATION_CACHE"),
    # secure-connect bundle config string
    ("kafka_sink_spark.operators.cassandra_writer", "_BUNDLE_CACHE"),
}

_DECL = re.compile(r"^(_[A-Za-z0-9_]*_CACHE)\s*(?::[^=]+)?=\s*\{\}", re.M)


def _declared_caches() -> set[tuple[str, str]]:
    found = set()
    for root, _dirs, files in os.walk(PKG_DIR):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            rel = os.path.relpath(path, os.path.dirname(PKG_DIR))
            mod = rel[:-3].replace(os.sep, ".")
            if mod.endswith(".__init__"):
                mod = mod[: -len(".__init__")]
            with open(path) as f:
                src = f.read()
            for m in _DECL.finditer(src):
                found.add((mod, m.group(1)))
    return found


def test_every_declared_cache_is_registered_or_exempt():
    declared = _declared_caches()
    registered = set(SUBSTRATE_CACHES) | EXEMPT
    missing = declared - registered
    assert not missing, (
        f"substrate cache(s) {sorted(missing)} not registered in "
        "kafka_sink_spark/substrates.py (and not in the documented exemption "
        "list) — the bench cold mode would silently skip them"
    )
    stale = set(SUBSTRATE_CACHES) - declared
    assert not stale, f"registry references caches that no longer exist: {sorted(stale)}"


def test_clear_all_empties_every_registered_cache():
    # Simulate populated caches without a Spark session: plain sentinel
    # values exercise the walk; a stub with .unpersist exercises the
    # DataFrame path (including tuple/list-valued caches like the IVF-PQ
    # index).
    class Frame:
        def __init__(self):
            self.unpersisted = 0

        def unpersist(self, blocking=False):
            self.unpersisted += 1

    frames = []

    def make(i):
        f = Frame()
        frames.append(f)
        if i % 3 == 0:
            return (f, "x")
        if i % 3 == 1:
            return [f]
        return f

    # Earlier Spark tests legitimately fill these caches; start from empty so
    # the count below is the sentinels' alone.
    clear_all()
    for i, (_, cache) in enumerate(_caches()):
        cache[("app", "key")] = make(i)
    assert len(sizes()) == len(SUBSTRATE_CACHES)
    n = clear_all()
    assert n == len(SUBSTRATE_CACHES)
    assert sizes() == {}
    assert all(f.unpersisted == 1 for f in frames)
