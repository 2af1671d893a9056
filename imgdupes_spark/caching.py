"""The engine's one cache lifecycle: scoped pins for persisted and
checkpointed intermediates.

``DataFrame.persist``/``unpersist`` go through the SQL CacheManager, but
``localCheckpoint`` pins its RDD directly in the SparkContext's persistent-RDD
registry — ``df.unpersist()`` on a checkpointed DataFrame is a no-op, so a
checkpoint must be released by RDD id. Operators never call ``persist`` /
``localCheckpoint`` / ``unpersist`` themselves; they go through this module:

- ``scope()`` owns every pin made inside it and releases all of them on
  exit, errors included. The current scope lives in a ContextVar, so a
  driver thread started under ``contextvars.copy_context().run`` pins into
  its caller's scope.
- ``pin(df)`` persists ``df`` into the current scope. A DataFrame the caller
  already cached is returned as is and never released: the caller owns it.
  Callers keep their own eager ``count()`` where the cache must be
  materialized before concurrent stages read it.
- ``checkpoint(df, eager)`` localCheckpoints ``df`` into the current scope;
  the scope releases it by the RDD id of its LogicalRDD.
- ``release(df)`` drops one pin before its scope ends (connected components
  drops each round's checkpoint once the next one is materialized).
- ``@operator`` marks a public entry point. Called outside any scope, it
  opens one; if the operator pinned anything, its result is materialized
  with an eager localCheckpoint (the one RDD left to the caller, released
  when the result is GC'd) before the scope releases everything else.
  Called inside a scope, it returns the lazy plan and leaves its pins to the
  enclosing scope, which outlives the consumer that materializes the plan.

Pins are tracked explicitly; nothing diffs the global registry, which
could also release another thread's RDDs. ``persistent_rdd_ids`` and
``release_rdd_ids`` serve callers that account for RDDs from outside the
engine (leak checks, benchmarks).
"""

from __future__ import annotations

import contextlib
import functools
from contextvars import ContextVar

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

# id(df) -> (df, RDD id of a checkpoint | None for a persist), pin order
_SCOPE: ContextVar[dict | None] = ContextVar("imgdupes_cache_scope", default=None)


def persistent_rdd_ids(spark: SparkSession) -> set:
    """Ids of all currently persisted RDDs (caches AND local checkpoints)."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def release_rdd_ids(spark: SparkSession, ids: set) -> None:
    """Unpersist the given RDD ids (non-blocking). Ids already released (or
    collected by the ContextCleaner) are skipped. ONLY safe once nothing
    downstream can recompute through the checkpointed lineage — i.e. after
    the consumer has materialized its own persist/checkpoint."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for i in ids:
        if jmap.containsKey(i):
            jmap.get(i).unpersist(False)


def _pins() -> dict:
    pins = _SCOPE.get()
    if pins is None:
        raise RuntimeError("caching: pin/checkpoint/release outside caching.scope()")
    return pins


def _free(df: DataFrame, rdd_id: int | None) -> None:
    if rdd_id is None:
        df.unpersist()
    else:
        release_rdd_ids(df.sparkSession, {rdd_id})


@contextlib.contextmanager
def scope():
    """Own every pin made inside the block; release them all on exit."""
    pins: dict = {}
    token = _SCOPE.set(pins)
    try:
        yield pins
    finally:
        _SCOPE.reset(token)
        for df, rdd_id in reversed(list(pins.values())):
            _free(df, rdd_id)


def pin(df: DataFrame) -> DataFrame:
    """Persist ``df`` until the current scope ends (lazily: the caller
    decides whether to materialize it with a count)."""
    if df.storageLevel != StorageLevel.NONE:
        return df
    pins = _pins()
    df = df.persist()
    pins[id(df)] = (df, None)
    return df


def checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """localCheckpoint ``df`` (truncating its lineage) until the current
    scope ends."""
    pins = _pins()
    df = df.localCheckpoint(eager=eager)
    pins[id(df)] = (df, df._jdf.queryExecution().analyzed().rdd().id())
    return df


def release(df: DataFrame) -> None:
    """Release a pin of the current scope now; a DataFrame the scope does
    not own is left alone."""
    entry = _pins().pop(id(df), None)
    if entry is not None:
        _free(*entry)


def operator(fn):
    """Give a public entry point the scope contract (module docstring)."""

    @functools.wraps(fn)
    def run(*args, **kwargs):
        if _SCOPE.get() is not None:
            return fn(*args, **kwargs)
        with scope() as pins:
            out = fn(*args, **kwargs)
            return out.localCheckpoint(eager=True) if pins else out

    return run
