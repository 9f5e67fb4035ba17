"""LRU bound on the serving-artifact cache (queries._SERVING_INDEXES).

The driver workload never reaches CAP; these tests exercise the eviction
machinery directly so the multi-tenant bound is pinned, not just
documented.
"""

from __future__ import annotations

from vector_database_api_spark.queries import (
    _BoundedServingCache,
    _unpersist_artifacts,
)


def _cached(df) -> bool:
    lvl = df.storageLevel
    return lvl.useMemory or lvl.useDisk


def test_eviction_unpersists_lru_entry(spark):
    cache = _BoundedServingCache()
    cache.CAP = 2
    dfs = []
    for i in range(3):
        df = spark.range(10 + i).persist()
        df.count()
        dfs.append(df)
    cache[("a",)] = dfs[0]
    cache[("b",)] = dfs[1]
    assert _cached(dfs[0]) and _cached(dfs[1])
    cache[("c",)] = dfs[2]  # evicts ("a",), the LRU
    assert ("a",) not in cache
    assert not _cached(dfs[0])
    assert _cached(dfs[1]) and _cached(dfs[2])
    for df in dfs:
        df.unpersist()


def test_eviction_releases_checkpoint_blocks(spark):
    """r10 verdict item 7: evicting a localCheckpoint-backed artifact
    (queries._artifact) must free its executor blocks DETERMINISTICALLY
    — plain unpersist() is a no-op on a checkpointed frame, so before
    the LogicalRDD release the blocks lingered until the ContextCleaner
    happened to GC the RDD.  Release is async; poll briefly."""
    import time

    from vector_database_api_spark.queries import _artifact

    sc = spark.sparkContext

    def cached_rdd_ids() -> set[int]:
        return {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}

    cache = _BoundedServingCache()
    cache.CAP = 1
    art = _artifact(spark.range(100).selectExpr("id", "id * 2 AS y"))
    rdd_id = art._jdf.queryExecution().analyzed().rdd().id()
    assert rdd_id in cached_rdd_ids()
    cache[("x",)] = art
    cache[("y",)] = spark.range(1).persist()  # evicts ("x",)
    assert ("x",) not in cache
    deadline = time.time() + 10
    while rdd_id in cached_rdd_ids() and time.time() < deadline:
        time.sleep(0.2)
    assert rdd_id not in cached_rdd_ids()
    _unpersist_artifacts(cache[("y",)])


def test_read_refreshes_recency(spark):
    cache = _BoundedServingCache()
    cache.CAP = 2
    a = spark.range(1).persist()
    b = spark.range(2).persist()
    c = spark.range(3).persist()
    a.count(), b.count(), c.count()
    cache[("a",)] = a
    cache[("b",)] = b
    _ = cache[("a",)]  # ("b",) becomes the LRU
    cache[("c",)] = c
    assert ("a",) in cache and ("b",) not in cache
    assert _cached(a) and not _cached(b) and _cached(c)
    for df in (a, b, c):
        df.unpersist()


def test_overwrite_existing_key_never_evicts(spark):
    cache = _BoundedServingCache()
    cache.CAP = 2
    a = spark.range(1).persist()
    b = spark.range(2).persist()
    a.count(), b.count()
    cache[("a",)] = a
    cache[("b",)] = b
    cache[("b",)] = b  # same key: no eviction
    assert ("a",) in cache and _cached(a)
    for df in (a, b):
        df.unpersist()


def test_unpersist_artifacts_handles_tuples_and_index_objects(spark):
    a = spark.range(1).persist()
    b = spark.range(2).persist()
    a.count(), b.count()
    _unpersist_artifacts((a, b))
    assert not _cached(a) and not _cached(b)

    class FakeIndex:
        pass

    idx = FakeIndex()
    idx.index_df = spark.range(3).persist()
    idx.index_df.count()
    _unpersist_artifacts(idx)
    assert not _cached(idx.index_df)
    # non-DataFrame entries are ignored without error
    _unpersist_artifacts(42)
    _unpersist_artifacts(None)


def test_unpersist_artifacts_sweeps_all_dataframe_attributes(spark):
    """r6 ADVICE regression: a PQIndex-shaped entry persists codes_df
    (not index_df) — eviction must free EVERY DataFrame-valued attribute
    of a cached index object, or eviction leaks its blocks."""
    from vector_database_api_spark.operators.pq import PQIndex

    codes = spark.range(4).persist()
    codes.count()
    idx = PQIndex.__new__(PQIndex)  # attribute shape only
    idx.codes_df = codes
    idx.codebooks = {0: [[0.0]]}
    _unpersist_artifacts(idx)
    assert not _cached(codes)


def _probe_builder(builds: list):
    """A `_serving_artifact` builder over spark.range that records every
    build body run."""
    from vector_database_api_spark.queries import _artifact, _serving_artifact

    @_serving_artifact
    def _cached_probe_range(spark, sf_dir):
        builds.append(sf_dir)
        return _artifact(spark.range(len(sf_dir)))

    return _cached_probe_range


def _fresh_cache(monkeypatch, cap: int = _BoundedServingCache.CAP):
    from vector_database_api_spark import queries as q

    cache = _BoundedServingCache()
    cache.CAP = cap
    monkeypatch.setattr(q, "_SERVING_INDEXES", cache)
    return cache


def _release(cache) -> None:
    for value in list(dict.values(cache)):
        _unpersist_artifacts(value)


def test_serving_artifact_builds_once_and_reads_through_cache(spark, monkeypatch):
    cache = _fresh_cache(monkeypatch)
    reads = []
    orig_getitem = _BoundedServingCache.__getitem__

    def getitem(self, key):
        reads.append(key)
        return orig_getitem(self, key)

    monkeypatch.setattr(_BoundedServingCache, "__getitem__", getitem)
    builds: list = []
    probe = _probe_builder(builds)
    first = probe(spark, "a")
    assert builds == ["a"]
    assert list(cache) == [("_cached_probe_range", "a")]
    n_reads = len(reads)
    second = probe(spark, "a")
    assert second is first
    assert builds == ["a"]  # served, not rebuilt
    assert reads[n_reads:] == [("_cached_probe_range", "a")]
    _release(cache)


def test_serving_artifact_keys_by_sf_dir(spark, monkeypatch):
    cache = _fresh_cache(monkeypatch)
    builds: list = []
    probe = _probe_builder(builds)
    a = probe(spark, "a")
    bb = probe(spark, "bb")
    assert builds == ["a", "bb"]
    assert set(cache) == {("_cached_probe_range", "a"), ("_cached_probe_range", "bb")}
    assert (a.count(), bb.count()) == (1, 2)
    _release(cache)


def test_serving_artifact_rebuilds_after_eviction(spark, monkeypatch):
    cache = _fresh_cache(monkeypatch, cap=1)
    builds: list = []
    probe = _probe_builder(builds)
    probe(spark, "a")
    probe(spark, "bb")  # evicts ("_cached_probe_range", "a")
    assert list(cache) == [("_cached_probe_range", "bb")]
    assert probe(spark, "a").count() == 1
    assert builds == ["a", "bb", "a"]
    _release(cache)
