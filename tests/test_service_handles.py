"""Serving handles: a warm search reads nothing from the warehouse, every
engine write is seen by the next search, and concurrent searches open
each library's handle once."""

from __future__ import annotations

import itertools
import sys
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql.readwriter import DataFrameReader

from vector_database_api_spark.config import EngineConfig
from vector_database_api_spark.service import ALL_INDEX_TYPES, VectorEngine
from vector_database_api_spark.streaming.maintenance import CHUNK_INGEST_SCHEMA

CFG = EngineConfig(embedding_dim=16, ivf_nlist=4, ivf_nprobe=2, default_k=5)
TOPICS = ["python", "ml", "databases"]
K = 30  # above every library size here: each search returns every hit


def _chunk(i, library_id, text, topic):
    return (f"c{i:02d}", library_id, f"d{i}", text, None, {"topic": topic})


@pytest.fixture()
def engine(spark, tmp_path):
    eng = VectorEngine(spark, str(tmp_path / "wh"), config=CFG)
    rows = [
        _chunk(
            i,
            "libA" if i < 16 else "libB",
            f"{TOPICS[i % 3]} document number {i} about {TOPICS[i % 3]}",
            TOPICS[i % 3],
        )
        for i in range(24)
    ]
    eng.ingest_chunks(spark.createDataFrame(rows, CHUNK_INGEST_SCHEMA))
    return eng


def _rows(df):
    return [tuple(r) for r in df.collect()]


@pytest.mark.parametrize("kind", ALL_INDEX_TYPES + (None,))
def test_fresh_results_after_every_write(engine, spark, kind):
    """A warm engine's search and search_timed after each kind of engine
    write equal those of a newly constructed engine on the same
    warehouse (ids, order and scores); search_after too on the bm25 and
    brute paths.  An ingested chunk is encoded into the built index."""
    if kind is not None:
        engine.index_library("libA", kind)
    new_text = "zebra quantum lighthouse"
    upd_text = "harbor violet meridian"

    def check(query_text, present=(), absent=()):
        fresh = VectorEngine(spark, engine.warehouse, config=CFG)
        got = engine.search("libA", query_text=query_text, k=K).collect()
        want = fresh.search("libA", query_text=query_text, k=K).collect()
        assert [tuple(r) for r in got] == [tuple(r) for r in want]
        timed = [
            [tuple(r) for r in eng.search_timed("libA", query_text=query_text, k=K)[0]]
            for eng in (engine, fresh)
        ]
        assert timed[0] == timed[1] == [tuple(r) for r in want]
        ids = {r["id"] for r in got}
        assert set(present) <= ids and not set(absent) & ids
        served = engine._handle("libA").kind
        if served in ("bm25", None) and len(want) > 1:
            score = "score" if served == "bm25" else "similarity"
            after = (want[0][score], want[0]["id"])
            assert _rows(
                engine.search_after("libA", *after, query_text=query_text, k=K)
            ) == _rows(fresh.search_after("libA", *after, query_text=query_text, k=K))

    check(new_text)  # warm the handle
    engine.ingest_chunks(
        spark.createDataFrame(
            [_chunk(99, "libA", new_text, "zoo")], CHUNK_INGEST_SCHEMA
        )
    )
    # every index here holds rows (ivf trains on 16 >= nlist chunks), so
    # the ingested chunk is found on every path
    check(new_text, present=["c99"])
    engine.update_chunk_texts("libA", {"c03": upd_text})
    check(upd_text, present=["c03"])
    engine.delete_chunks("libA", ["c03"])
    check(upd_text, absent=["c03"])
    if kind is not None:
        engine.index_library("libA", kind)  # rebuild
        check(new_text, present=["c99"])
    i = ALL_INDEX_TYPES.index(kind) if kind is not None else -1
    engine.index_library("libA", ALL_INDEX_TYPES[(i + 1) % len(ALL_INDEX_TYPES)])
    check(new_text, present=["c99"])


_GROUPS = itertools.count()


def _jobs_and_reads(spark, monkeypatch, fn):
    """(Spark jobs, DataFrameReader.parquet calls) of ``fn()``, the jobs
    counted through a job group as perfbench/tracing.stage_stats does."""
    reads = []
    orig = DataFrameReader.parquet

    def parquet(self, *paths, **options):
        reads.append(paths)
        return orig(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", parquet)
    sc = spark.sparkContext
    group = f"handle-probe-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
        monkeypatch.setattr(DataFrameReader, "parquet", orig)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group)), len(reads)


# (index kind or None for brute force, search params, jobs of the warm
# plan build): only the operators' own collect() calls remain —
# ql_dirichlet_search's per-term corpus-constant rows (operators/bm25.py);
# maxscore and blockmax build the "or" plan
WARM_JOBS = [
    ("lsh", {}, 0),
    ("ivf", {}, 0),
    ("pq", {}, 0),
    ("sq8", {}, 0),
    (None, {}, 0),
    ("bm25", {"mode": "or"}, 0),
    ("bm25", {"mode": "and"}, 0),
    ("bm25", {"mode": "or", "ranking": "ql"}, 2),
    ("bm25", {"mode": "and", "ranking": "ql"}, 2),
    ("bm25", {"mode": "maxscore"}, 0),
    ("bm25", {"mode": "blockmax"}, 0),
]


@pytest.mark.parametrize("kind,params,jobs", WARM_JOBS)
def test_warm_search_launches_no_read(engine, spark, monkeypatch, kind, params, jobs):
    """Once a library's handle is open, building a search plan reads no
    parquet and runs no job beyond the operator's own."""
    if kind is not None:
        engine.index_library("libA", kind)
    q = "python document about databases"

    def build():
        engine.search("libA", query_text=q, k=5, **params)

    build()  # opens the handle
    for _ in range(3):
        assert _jobs_and_reads(spark, monkeypatch, build) == (jobs, 0)


@pytest.mark.parametrize(
    "kind,params",
    [pytest.param(kind, {}, id=str(kind)) for kind in ("lsh", "ivf", "pq", "sq8", None)]
    + [
        pytest.param("bm25", {"mode": mode, "ranking": ranking}, id=f"bm25-{mode}-{ranking}")
        for mode in ("or", "and")
        for ranking in ("bm25", "ql")
    ],
)
def test_warm_driver_plane_runs_nothing(engine, spark, monkeypatch, kind, params):
    """Once a library's driver copy is loaded, search_timed on the
    driver-plane kinds and bm25 scoring modes launches no Spark job and
    reads no parquet."""
    if kind is not None:
        engine.index_library("libA", kind)
    q = "python document about databases"

    def timed():
        for filters in (None, {"topic": "ml"}):
            _, metrics = engine.search_timed(
                "libA", query_text=q, k=5, metadata_filters=filters, **params
            )
            assert metrics["plane"] == "driver"

    timed()  # opens the handle and loads the copy
    assert _jobs_and_reads(spark, monkeypatch, timed) == (0, 0)


def test_concurrent_searches_open_each_handle_once(engine, spark, monkeypatch):
    """4 threads x 5 search_timed calls over two libraries of different
    kinds: rows equal the serial results, the telemetry log holds every
    request, each library's handle is opened exactly once and each
    library's driver copy is loaded once."""
    engine.index_library("libA", "lsh")
    engine.index_library("libB", "bm25")
    calls = [
        ("libA" if (t + i) % 2 else "libB", f"{TOPICS[(t + i) % 3]} document {i}")
        for t in range(4)
        for i in range(5)
    ]
    serial = VectorEngine(spark, engine.warehouse, config=CFG)
    want = [serial.search_timed(lib, query_text=q, k=5)[0] for lib, q in calls]

    opened = []
    orig_open = engine._open_handle

    def counting_open(library_id):
        opened.append(library_id)
        return orig_open(library_id)

    monkeypatch.setattr(engine, "_open_handle", counting_open)
    loaded = []
    orig_load = engine._load_copy

    def counting_load(library_id, handle):
        loaded.append(library_id)
        return orig_load(library_id, handle)

    monkeypatch.setattr(engine, "_load_copy", counting_load)

    def run(t):
        return [
            engine.search_timed(lib, query_text=q, k=5)[0]
            for lib, q in calls[t * 5 : (t + 1) * 5]
        ]

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)  # interleave the threads' bytecode finely
    try:
        with ThreadPoolExecutor(4) as pool:
            parts = list(pool.map(run, range(4), timeout=600))
    finally:
        sys.setswitchinterval(interval)
    got = [rows for part in parts for rows in part]
    assert got == want
    assert len(engine._search_metrics) == min(20, engine.SEARCH_METRICS_CAP)
    assert sorted(opened) == ["libA", "libB"]
    assert sorted(loaded) == ["libA", "libB"]
    assert [m["plane"] for m in engine._search_metrics].count("driver") == 20
