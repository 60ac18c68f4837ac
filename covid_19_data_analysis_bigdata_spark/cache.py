"""Session-scoped persist registry: persist-once-per-plan + LRU eviction.

Every ``.persist()`` in this package routes through :func:`cached` (as
``df.transform(cached)``).  Raw ``persist()`` has two failure modes in a
long-lived session that re-builds query DAGs per invocation:

1. **Duplicate cache entries / warnings.**  Re-running a query re-builds
   the same logical plan and persists it again; Spark's CacheManager
   logs ``Asked to cache already cached data`` and — when the plan
   contains higher-order-function lambdas whose canonicalization
   mismatches (observed round 5) — silently fails to reuse the prior
   materialization.  The registry keys on the plan's ``semanticHash``
   and returns the *original* DataFrame object on a hit, so reuse never
   depends on CacheManager canonicalization at all.

2. **Unbounded growth.**  63 persist sites × hundreds of registry
   queries would pin an ever-growing set of frames.  The registry is an
   LRU bounded at :data:`CAPACITY` plans; evicted frames are
   ``unpersist(blocking=False)``-ed.  Eviction is always safe: an
   evicted frame that is still referenced simply recomputes.

Cached outputs are sized by AQE.  Spark's default plans a persisted
frame with final-stage shuffle coalescing off, so a frame whose plan
ends in a shuffle keeps every ``spark.sql.shuffle.partitions``
partition, and each later scan of it runs that many tasks however few
rows it holds.  ``session.RUNTIME_CONFS`` sets
``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning``, so AQE
coalesces each cached output from its measured bytes: the ≤600-row
trade graph is stored as one partition, a large frame keeps its
parallelism.  No call site coalesces by hand.

Correctness guard: ``semanticHash`` is a 32-bit hash, so a hit is only
trusted after ``sameSemantics`` confirms the plans are equivalent;
colliding-but-different plans get separate bucket slots.

100 TB note: the registry lives on the driver and holds only DataFrame
handles (plans), never data — executor storage memory remains governed
by Spark's unified memory manager; bounding the number of live cached
plans bounds what that manager can be asked to retain.
"""

from __future__ import annotations

import threading
from collections import OrderedDict

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

__all__ = ["cached", "clear_cache", "cache_stats", "CAPACITY"]

#: Max number of distinct cached plans held live.  Generous enough that
#: a single query's frames (< 10) and a warm working set across a bench
#: sweep never evict each other mid-job.
CAPACITY = 96

_LOCK = threading.Lock()
#: (applicationId, semanticHash) -> list of persisted DataFrames whose
#: plans share that hash (list > 1 only on a genuine 32-bit collision).
_REGISTRY: "OrderedDict[tuple[str, int], list[DataFrame]]" = OrderedDict()
_HITS = 0
_MISSES = 0


def cached(df: DataFrame) -> DataFrame:
    """Return a persisted DataFrame for ``df``'s logical plan.

    On the first call for a plan, persists ``df`` and registers it; on
    subsequent calls with a semantically identical plan, returns the
    previously persisted object (no new cache entry, no CacheManager
    warning, guaranteed reuse of the same materialization).  Intended
    to be used as ``df.transform(cached)`` so call sites read like the
    ``.persist()`` they replace.
    """
    global _HITS, _MISSES
    try:
        app_id = df.sparkSession.sparkContext.applicationId
        key = (app_id, df.semanticHash())
    except Exception:
        # Defensive: if the developer-API surface is unavailable, fall
        # back to a plain persist (pre-registry behavior).
        return df.persist()
    with _LOCK:
        bucket = _REGISTRY.get(key)
        if bucket is not None:
            for old in bucket:
                try:
                    if not old.sameSemantics(df):
                        continue
                    # Self-heal: an external spark.catalog.clearCache()
                    # (e.g. a harness between queries) unpersists frames
                    # behind the registry's back; re-mark so the persist
                    # BARRIER (not just the speedup) is restored.
                    if old.storageLevel == StorageLevel.NONE:
                        old.persist()
                    _REGISTRY.move_to_end(key)
                    _HITS += 1
                    if old.columns == df.columns:
                        return old
                    # ``sameSemantics`` compares CANONICALIZED plans, in
                    # which output aliases are normalized away — two
                    # frames differing only in aliases (`tok` vs `t`)
                    # are semantically equal yet not interchangeable to
                    # callers that select by name (round-8 sweep: the
                    # retrieval token frame shadowed the curation one and
                    # broke three tf/idf queries).  Serve the SAME
                    # materialization under the caller's names: a bare
                    # positional rename over the cached frame — no new
                    # persist, so no `Asked to cache already cached
                    # data` from CacheManager's own canonical dedupe.
                    return old.toDF(*df.columns)
                except Exception:
                    continue
        _MISSES += 1
        df = df.persist()
        if bucket is None:
            _REGISTRY[key] = [df]
        else:
            bucket.append(df)
        _REGISTRY.move_to_end(key)
        while len(_REGISTRY) > CAPACITY:
            _, olds = _REGISTRY.popitem(last=False)
            for old in olds:
                try:
                    old.unpersist(blocking=False)
                except Exception:
                    pass
    return df


def uncache(df: DataFrame) -> None:
    """Unpersist and FORGET ``df``'s plan (registry entry included).

    Counterpart of :func:`cached` for owners that know a frame's
    lifetime has ended (round-10 advice fix: the ANN model memo evicts
    trained codebook/code frames at its cap, and without dropping the
    registry entry the executors keep the evicted frames' blocks alive
    for the rest of the session — a storage leak across many sf_dirs).
    Safe on never-cached frames and on frames from a dead session.
    """
    try:
        key = (df.sparkSession.sparkContext.applicationId, df.semanticHash())
    except Exception:
        try:
            df.unpersist(blocking=False)
        except Exception:
            pass
        return
    with _LOCK:
        olds = _REGISTRY.pop(key, None) or []
    for old in olds:
        try:
            old.unpersist(blocking=False)
        except Exception:
            pass


def clear_cache() -> None:
    """Unpersist and forget every registered frame (test/session teardown)."""
    with _LOCK:
        for bucket in _REGISTRY.values():
            for old in bucket:
                try:
                    old.unpersist(blocking=False)
                except Exception:
                    pass
        _REGISTRY.clear()


def cache_stats() -> dict[str, int]:
    """Registry observability: live plan count and hit/miss counters."""
    with _LOCK:
        return {"live": len(_REGISTRY), "hits": _HITS, "misses": _MISSES}
