"""Session-scoped persist registry (cache.py) behavior pins.

The registry is the round-8 persist lifecycle: persist-once-per-plan
(no `Asked to cache already cached data` warnings, guaranteed reuse of
the same materialization across re-built DAGs) + bounded LRU with
unpersist on eviction.
"""

import pytest
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from covid_19_data_analysis_bigdata_spark import cache
from covid_19_data_analysis_bigdata_spark.cache import cache_stats, cached


@pytest.fixture()
def fresh_registry():
    """Isolate each test from the session-wide registry state."""
    saved = dict(cache._REGISTRY)
    cache._REGISTRY.clear()
    yield
    cache.clear_cache()
    cache._REGISTRY.update(saved)


def test_same_plan_returns_same_object(spark, fresh_registry):
    a = spark.range(100).withColumn("v", F.col("id") * 2)
    b = spark.range(100).withColumn("v", F.col("id") * 2)
    ca = cached(a)
    cb = cached(b)
    assert ca is cb  # second build of the identical plan: registry hit
    assert ca.storageLevel != StorageLevel.NONE
    assert ca.count() == 100


def test_different_plans_cached_separately(spark, fresh_registry):
    ca = cached(spark.range(100).withColumn("v", F.col("id") * 2))
    cb = cached(spark.range(100).withColumn("v", F.col("id") * 3))
    assert ca is not cb
    assert ca.select(F.sum("v")).first()[0] == 9900
    assert cb.select(F.sum("v")).first()[0] == 14850


def test_lru_eviction_unpersists(spark, fresh_registry, monkeypatch):
    monkeypatch.setattr(cache, "CAPACITY", 2)
    frames = [cached(spark.range(10 + i)) for i in range(3)]
    # oldest evicted + unpersisted, newest two still cached
    assert frames[0].storageLevel == StorageLevel.NONE
    assert frames[1].storageLevel != StorageLevel.NONE
    assert frames[2].storageLevel != StorageLevel.NONE
    # evicted frame still computes correctly (just recomputes)
    assert frames[0].count() == 10


def test_hit_refreshes_lru_position(spark, fresh_registry, monkeypatch):
    monkeypatch.setattr(cache, "CAPACITY", 2)
    a = cached(spark.range(11))
    cached(spark.range(12))
    cached(spark.range(11))  # hit refreshes `a`
    cached(spark.range(13))  # evicts range(12), not `a`
    assert a.storageLevel != StorageLevel.NONE


def test_clear_cache_unpersists_all(spark, fresh_registry):
    a = cached(spark.range(7))
    cache.clear_cache()
    assert a.storageLevel == StorageLevel.NONE
    assert cache_stats()["live"] == 0


def test_stats_counters_move(spark, fresh_registry):
    before = cache_stats()
    cached(spark.range(1234))
    cached(spark.range(1234))
    after = cache_stats()
    assert after["misses"] == before["misses"] + 1
    assert after["hits"] == before["hits"] + 1


def test_alias_variants_share_one_materialization(spark, fresh_registry):
    """sameSemantics normalizes aliases away, but callers select by
    name (round-8 sweep regression: `tok` vs `t`).  An alias-variant
    hit must return the SAME cached materialization under the caller's
    names — one persist, zero CacheManager canonical-dedupe warnings."""
    before = cache_stats()
    a = cached(spark.range(50).select(F.col("id").alias("tok")))
    b = cached(spark.range(50).select(F.col("id").alias("t")))
    after = cache_stats()
    assert a.columns == ["tok"] and b.columns == ["t"]
    assert b.groupBy("t").count().count() == 50
    # one miss (a) + one hit (b): b rides a's cache entry
    assert after["misses"] == before["misses"] + 1
    assert after["hits"] == before["hits"] + 1
    assert cache_stats()["live"] == 1


def test_ann_model_memo_trains_once_per_session(spark, sf_dir):
    """Round-9 verdict task 2: the ANN family's trained frames
    (codebooks, codes, LUT, cell ranks) are memoized per (session,
    sf_dir) — a re-invoked query must return the IDENTICAL DataFrame
    handles (no plan rebuild, no retraining), and an external
    clearCache must self-heal persistence through the registry."""
    from covid_19_data_analysis_bigdata_spark.operators import textprep

    m1 = textprep._pq_model(spark, sf_dir)
    m2 = textprep._pq_model(spark, sf_dir)
    assert all(a is b for a, b in zip(m1, m2))
    c1 = textprep._ivf_cell_model(spark, sf_dir)
    c2 = textprep._ivf_cell_model(spark, sf_dir)
    assert all(a is b for a, b in zip(c1, c2))
    # and both composed queries share the one model: same codes handle
    codes = m1[2]
    codes.count()
    assert codes.storageLevel != StorageLevel.NONE
    # external clear wipes persistence behind the memo's back …
    spark.catalog.clearCache()
    from covid_19_data_analysis_bigdata_spark.cache import clear_cache

    clear_cache()
    assert codes.storageLevel == StorageLevel.NONE
    # … and the next fetch re-marks the SAME handles for persistence
    m3 = textprep._pq_model(spark, sf_dir)
    assert all(a is b for a, b in zip(m1, m3))
    assert m3[2].storageLevel != StorageLevel.NONE


def test_ann_memo_eviction_unpersists_registry_frames(spark, fresh_registry):
    """Round-10 advice fix: when the ANN model memo evicts an entry at
    _ANN_MEMO_CAP, the evicted frames' persisted blocks (held by the
    cache registry from earlier hand-outs) must be unpersisted —
    otherwise codebooks/codes from long-gone sf_dirs stay on executors
    for the whole session."""
    from covid_19_data_analysis_bigdata_spark.operators import textprep

    saved = dict(textprep._ANN_MODEL_MEMO)
    textprep._ANN_MODEL_MEMO.clear()
    try:
        handles = {}
        for i in range(textprep._ANN_MEMO_CAP + 1):
            (h,) = textprep._ann_memo(
                spark,
                f"/tmp/evict-fixture-{i}",
                "t",
                lambda i=i: (spark.range(100 + i),),
            )
            h.count()
            handles[i] = h
            assert h.storageLevel != StorageLevel.NONE
        # entry 0 was evicted by the CAP+1'th insert: its persisted
        # block AND registry entry are gone …
        assert handles[0].storageLevel == StorageLevel.NONE
        # … while the survivors keep theirs
        assert handles[1].storageLevel != StorageLevel.NONE
        assert handles[textprep._ANN_MEMO_CAP].storageLevel != StorageLevel.NONE
    finally:
        textprep._ANN_MODEL_MEMO.clear()
        textprep._ANN_MODEL_MEMO.update(saved)


_CACHED_PARTITIONING = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
_TRADE_GRAPH = ("graph_reciprocity", "graph_pagerank")


def _graph_rows_and_max_tasks(spark, sf_dir):
    """Run the trade-graph queries cold, then warm under a job group;
    return each query's sorted rows and the most tasks any warm stage
    completed (read from the status store)."""
    import uuid

    import __spark_entry__ as E

    qs = E.queries()
    for n in _TRADE_GRAPH:
        qs[n](spark, sf_dir).collect()
    sc = spark.sparkContext
    group = f"cached-partitioning-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        rows = {
            n: sorted(tuple(r) for r in qs[n](spark, sf_dir).collect())
            for n in _TRADE_GRAPH
        }
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    st = sc.statusTracker()
    stages = {
        s for j in st.getJobIdsForGroup(group) for s in st.getJobInfo(j).stageIds
    }
    assert stages, "the warm pass fired no stage"
    tasks = [st.getStageInfo(s).numCompletedTasks for s in stages]
    return rows, max(tasks)


def test_cached_trade_graph_scans_are_sized_by_aqe(
    spark, sf_dir, fresh_registry, monkeypatch
):
    """Persisted plans keep AQE's final-stage coalescing: warm
    ``graph_reciprocity`` + ``graph_pagerank`` run no stage wider than
    the session's parallelism (with Spark's default, the ≤600-row
    cached edge frames keep all ``spark.sql.shuffle.partitions``
    partitions and every rescan runs that many tasks), and the rows
    are identical with the setting off."""
    from covid_19_data_analysis_bigdata_spark import session

    cores = spark.sparkContext.defaultParallelism
    on_rows, on_max = _graph_rows_and_max_tasks(spark, sf_dir)
    assert on_max <= cores, (
        f"a warm trade-graph stage ran {on_max} tasks > {cores} cores"
    )

    # load_table re-applies RUNTIME_CONFS, so the off leg patches the
    # table as well as the live session; both are restored below.
    base = spark.conf.get(_CACHED_PARTITIONING)
    monkeypatch.setitem(session.RUNTIME_CONFS, _CACHED_PARTITIONING, "false")
    cache.clear_cache()
    spark.catalog.clearCache()
    try:
        spark.conf.set(_CACHED_PARTITIONING, "false")
        off_rows, off_max = _graph_rows_and_max_tasks(spark, sf_dir)
    finally:
        cache.clear_cache()
        spark.catalog.clearCache()
        spark.conf.set(_CACHED_PARTITIONING, base)
    assert off_rows == on_rows
    if int(spark.conf.get("spark.sql.shuffle.partitions")) > cores:
        # Control: with the setting off the same pass does run wider
        # stages, so the bound above is what the setting buys.
        assert off_max > cores
