"""Bounded persist registry shared by readers, operators and battery plans.

A caller persists a DataFrame under a *role*; each new registration under
the same (session, role) releases the previous cache, so repeated calls in
one session hold at most one cached copy per role instead of accumulating
blocks — while a second concurrent SparkSession (or thread) never
unpersists a DataFrame still backing another session's unevaluated result.
Mutation is lock-guarded; the registry is keyed by the owning
SparkSession's id so stopped sessions' entries can't collide with a
successor's. Released DataFrames keep their lineage: a plan still holding
one recomputes from source instead of failing.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame

_ACTIVE_CACHE: dict[tuple[int, str], DataFrame] = {}
_CACHE_LOCK = threading.Lock()


def persist_scoped(role: str, df: DataFrame) -> DataFrame:
    """Persist ``df`` as the session's one cached DataFrame for ``role``,
    unpersisting whatever held the role before."""
    key = (id(df.sparkSession), role)
    with _CACHE_LOCK:
        prev = _ACTIVE_CACHE.get(key)
        if prev is df:
            # Re-registering the SAME DataFrame (e.g. a caller eagerly
            # materialized it under this role before passing it down) is a
            # no-op — unpersist+repersist here would silently drop the
            # already-computed blocks and force a recompute.
            return df
        if prev is not None:
            prev.unpersist()
        out = df.persist()
        _ACTIVE_CACHE[key] = out
    return out


def scoped(spark, role: str) -> DataFrame | None:
    """The DataFrame currently registered for ``role`` in ``spark``, if any."""
    with _CACHE_LOCK:
        return _ACTIVE_CACHE.get((id(spark), role))


def release_caches() -> None:
    """Unpersist every registered cache (call after draining a batch of
    queries; tests assert this leaves zero cached RDDs)."""
    with _CACHE_LOCK:
        for df in _ACTIVE_CACHE.values():
            df.unpersist()
        _ACTIVE_CACHE.clear()
