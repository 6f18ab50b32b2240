"""The session-scoped memo for materialized shared substrates.

A substrate is a persisted or checkpointed DataFrame, or a tuple/list of
them, that several catalog queries read: the co-purchase edges, the BM25
scores, the trained IVF-PQ index and so on.  Its builder is decorated with
``@memo``, so K consumers of the same corpus pass in one Spark session pay
for ONE build.

Key rule: an entry is keyed by the builder, the session's ``applicationId``
and every argument of the builder, bound with ``inspect.signature`` and
defaults applied, so ``component_rows(emb, 1, 64)`` and
``component_rows(emb, m_subspaces=1, sub_len=64)`` share one entry.  A
DataFrame argument enters the key as its analyzed plan's
``semanticHash()``; a SparkSession argument enters only through the
``applicationId``, which comes from the first SparkSession or DataFrame
argument, so nothing crosses sessions.  A builder that raises stores
nothing.

Every entry lives in the one dict below, which makes the accounting
auditable:

- ``clear_all()`` drops every entry and unpersists its frames, so
  ``SPARK_GRAFT_BENCH_COLD=1`` bench runs re-pay every substrate build
  inside every rep.
- ``sizes()`` reports how many entries each builder holds, so a bench run
  can publish which substrates were actually materialized.

Two module caches are deliberately not memos, because they hold no
materialized frames: ``session._RELATION_CACHE`` memoizes unmaterialized
parquet relations (schema-inference round trips only), and
``operators.cassandra_writer._BUNDLE_CACHE`` holds a bundle path.
tests/test_substrate_registry.py fails on any other module-level
``*_CACHE``.
"""

from __future__ import annotations

import collections
import functools
import inspect

from pyspark.sql import DataFrame, SparkSession

# (builder name, applicationId, *bound arguments) -> materialized substrate.
_SUBSTRATE_CACHE: dict[tuple, object] = {}


def memo(fn):
    """Memoize the substrate builder ``fn`` per (session, arguments) — see
    the module docstring for the key rule."""
    sig = inspect.signature(fn)
    name = f"{fn.__module__.rsplit('.', 1)[-1]}.{fn.__qualname__}"

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        bound = sig.bind(*args, **kwargs)
        bound.apply_defaults()
        session, parts = None, []
        for v in bound.arguments.values():
            if isinstance(v, DataFrame):
                session = session or v.sparkSession
                parts.append(v._jdf.queryExecution().analyzed().semanticHash())
            elif isinstance(v, SparkSession):
                session = session or v
            else:
                parts.append(v)
        key = (name, session.sparkContext.applicationId, *parts)
        if key not in _SUBSTRATE_CACHE:
            _SUBSTRATE_CACHE[key] = fn(*args, **kwargs)
        return _SUBSTRATE_CACHE[key]

    return wrapper


def _unpersist(value, seen: set) -> None:
    """Unpersist a memo value: a DataFrame, or a tuple/list of them, each
    frame once.  Checkpointed frames have no cached plan to unpersist —
    dropping the reference is enough to force a rebuild."""
    if isinstance(value, (tuple, list)):
        for v in value:
            _unpersist(v, seen)
        return
    if id(value) in seen:
        return
    seen.add(id(value))
    unpersist = getattr(value, "unpersist", None)
    if callable(unpersist):
        try:
            unpersist(False)
        except Exception:
            pass  # session already stopped / never persisted


def clear_all() -> int:
    """Drop every substrate memo and unpersist its frames. Returns the
    number of entries cleared."""
    seen: set = set()
    for value in _SUBSTRATE_CACHE.values():
        _unpersist(value, seen)
    n = len(_SUBSTRATE_CACHE)
    _SUBSTRATE_CACHE.clear()
    return n


def sizes() -> dict[str, int]:
    """Entry count per builder (only non-empty ones) — bench provenance."""
    return dict(collections.Counter(key[0] for key in _SUBSTRATE_CACHE))
