"""The substrate memo (kafka_sink_spark/substrates.py) must own every
materialized module-level cache in the package, so the bench's cold mode
(SPARK_GRAFT_BENCH_COLD=1) can't silently miss one — a substrate cache that
escapes ``clear_all()`` would make "cold" numbers quietly warm again."""

from __future__ import annotations

import ast
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kafka_sink_spark import substrates
from kafka_sink_spark.substrates import clear_all, memo, sizes

PKG_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "kafka_sink_spark"
)

ALLOWED = {
    # the memo's own store
    ("kafka_sink_spark.substrates", "_SUBSTRATE_CACHE"),
    # unmaterialized parquet relations (schema-inference memo only)
    ("kafka_sink_spark.session", "_RELATION_CACHE"),
    # secure-connect bundle path
    ("kafka_sink_spark.operators.cassandra_writer", "_BUNDLE_CACHE"),
}


def _module_level_caches() -> set[tuple[str, str]]:
    found = set()
    for root, _dirs, files in os.walk(PKG_DIR):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            mod = os.path.relpath(path, os.path.dirname(PKG_DIR))[:-3]
            mod = mod.replace(os.sep, ".").removesuffix(".__init__")
            with open(path) as f:
                tree = ast.parse(f.read())
            for node in tree.body:
                if isinstance(node, ast.Assign):
                    targets = node.targets
                elif isinstance(node, (ast.AnnAssign, ast.AugAssign)):
                    targets = [node.target]
                else:
                    continue
                for t in targets:
                    for name in ast.walk(t):
                        if isinstance(name, ast.Name) and name.id.endswith("_CACHE"):
                            found.add((mod, name.id))
    return found


def test_no_module_level_cache_outside_the_memo():
    stray = _module_level_caches() - ALLOWED
    assert not stray, (
        f"module-level cache(s) {sorted(stray)}: materialize shared "
        "substrates through @substrates.memo so cold mode clears them"
    )


class _Frame:
    def __init__(self):
        self.unpersisted = 0

    def unpersist(self, blocking=False):
        self.unpersisted += 1


def test_memo_keys_on_bound_arguments_and_clear_all_unpersists_once(
    spark, monkeypatch
):
    monkeypatch.setattr(substrates, "_SUBSTRATE_CACHE", {})
    builds = []
    frames = []

    def frame():
        f = _Frame()
        frames.append(f)
        return f

    @memo
    def pair(spark, sf_dir, n=3, tag="x"):
        builds.append((sf_dir, n, tag))
        return (frame(), frame())

    @memo
    def ladder(spark, sf_dir):
        builds.append(sf_dir)
        return [frame(), pair(spark, sf_dir)[0]]  # shares a frame with pair

    @memo
    def broken(spark, sf_dir):
        builds.append("broken")
        raise ValueError(sf_dir)

    a = pair(spark, "d")
    # a keyword call with defaults spelled out hits the positional entry
    assert pair(spark, sf_dir="d", n=3, tag="x") is a
    assert pair(spark, "d", 3) is a
    # a changed hyperparameter misses
    assert pair(spark, "d", n=4) is not a
    ladder(spark, "d")
    assert builds == [("d", 3, "x"), ("d", 4, "x"), "d"]

    # a builder that raises leaves no entry and rebuilds on the next call
    for _ in range(2):
        try:
            broken(spark, "d")
        except ValueError:
            pass
    assert builds.count("broken") == 2
    assert {k.rsplit(".", 1)[-1]: n for k, n in sizes().items()} == {
        "pair": 2,
        "ladder": 1,
    }

    # tuple- and list-valued entries: every frame unpersisted exactly once,
    # even one that two entries hold
    assert clear_all() == 3
    assert sizes() == {}
    assert len(frames) == 5
    assert all(f.unpersisted == 1 for f in frames)
    # cleared entries rebuild
    pair(spark, "d")
    assert builds[-1] == ("d", 3, "x")
