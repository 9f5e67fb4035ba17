"""The driver plane of ``VectorEngine.search_timed``: on every kind and
bm25 scoring mode it serves, its rows equal ``search().collect()`` as
tuples (ids, order and every float) and its metrics equal the Spark
plane's; requests it must not serve fall back to the Spark plane with
the same rows."""

from __future__ import annotations

import itertools

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from vector_database_api_spark import service
from vector_database_api_spark.config import EngineConfig
from vector_database_api_spark.operators import bm25 as bm25_mod
from vector_database_api_spark.service import VectorEngine

CFG = EngineConfig(embedding_dim=16)
SCHEMA = StructType(
    [
        StructField("id", StringType()),
        StructField("library_id", StringType()),
        StructField("document_id", StringType()),
        StructField("text", StringType()),
        StructField("embedding", ArrayType(FloatType())),
        StructField("metadata", MapType(StringType(), StringType())),
        StructField("created_at", StringType()),
    ]
)
WORDS = "river stone cloud python spark vector index query music garden".split()
LANGS = ("en", "de", "fr")
N = 60  # chunks per library; k=100 asks for more than that
# (library, index_library kwargs; None = brute force)
PATHS = {
    "lsh-reference": {"index_type": "lsh", "lsh_profile": "reference"},
    "lsh-tuned": {"index_type": "lsh", "lsh_profile": "tuned"},
    "ivf-trained-p4": {"index_type": "ivf", "ivf_profile": "trained-p4"},
    "pq": {"index_type": "pq"},
    "sq8": {"index_type": "sq8"},
    "brute": None,
}
# bm25 libraries: their postings in one scan partition, and in several
# (built with shuffle-partition coalescing off, so the postings table is
# one file per shuffle partition)
TEXT_PATHS = {"bm25": True, "bm25-split": False}
FILTERS = (None, {"lang": "de"}, {"lang": "xx"})
KS = (1, 5, 100)
THRESHOLDS = (None, 0.1)
COALESCE = "spark.sql.adaptive.coalescePartitions.enabled"


def _rows(library_id, n=N, embedding=None, words=None):
    """Chunk rows of 6 words each, or of 1 to ``words`` words."""
    rng = np.random.default_rng(len(library_id))
    return [
        (
            f"{library_id}-{i:03d}",
            library_id,
            f"d{i}",
            " ".join(
                rng.choice(WORDS, size=int(rng.integers(1, words + 1)) if words else 6)
            ),
            embedding(i) if embedding else None,
            {"lang": LANGS[i % 3], "n": str(i)},
            f"2024-01-{1 + i % 28:02d}",
        )
        for i in range(n)
    ]


def _spark_plane(engine):
    """A second engine on the same warehouse that never loads a copy."""
    other = VectorEngine(engine.spark, engine.warehouse, config=CFG)
    other._load_copy = lambda library_id, handle: None
    return other


def _index_bm25(engine, library_id, coalesce):
    spark = engine.spark
    spark.conf.set(COALESCE, str(coalesce).lower())
    try:
        engine.index_library(library_id, "bm25")
    finally:
        spark.conf.set(COALESCE, "true")


@pytest.fixture(scope="module")
def engines(spark, tmp_path_factory):
    engine = VectorEngine(spark, str(tmp_path_factory.mktemp("local") / "wh"), CFG)
    rows = [r for lib in PATHS for r in _rows(lib)]
    rows += [r for lib in TEXT_PATHS for r in _rows(lib, words=12)]
    engine.ingest_chunks(spark.createDataFrame(rows, SCHEMA))
    for lib, kwargs in PATHS.items():
        if kwargs is not None:
            engine.index_library(lib, **kwargs)
    for lib, coalesce in TEXT_PATHS.items():
        _index_bm25(engine, lib, coalesce)
    return engine, _spark_plane(engine)


def _queries():
    rng = np.random.default_rng(3)
    # a text query, and an embedding of Python floats that float32 rounds
    return (
        {"query_text": "python vector garden"},
        {"query_embedding": [float(x) for x in rng.normal(size=16)]},
    )


def _same_plane_results(got, want):
    rows, metrics = got
    want_rows, want_metrics = want
    assert [tuple(r) for r in rows] == [tuple(r) for r in want_rows]
    for key in ("n_results", "best_score", "worst_score"):
        assert metrics[key] == want_metrics[key], key


@pytest.mark.parametrize("library_id", list(PATHS))
def test_driver_plane_equals_spark_plan(engines, library_id):
    """Every (query, filter, k) case, the threshold set on every other
    one; the Spark plane's rows are ``search().collect()``."""
    engine, spark_plane = engines
    cases = itertools.product(_queries(), FILTERS, KS)
    for i, (query, filters, k) in enumerate(cases):
        args = dict(
            k=k,
            metadata_filters=filters,
            similarity_threshold=THRESHOLDS[i % 2],
            **query,
        )
        got = engine.search_timed(library_id, **args)
        want = spark_plane.search_timed(library_id, **args)
        assert (got[1]["plane"], want[1]["plane"]) == ("driver", "spark")
        _same_plane_results(got, want)


def _scan_partitions(engine, library_id):
    """The number of partitions of the library's postings scan."""
    return engine._handle(library_id).text[0].rdd.getNumPartitions()


@pytest.mark.parametrize("library_id", list(TEXT_PATHS))
@pytest.mark.parametrize("ranking", ["bm25", "ql"])
@pytest.mark.parametrize("mode", ["or", "and"])
def test_bm25_driver_plane_equals_spark_plan(engines, library_id, mode, ranking):
    """Every (filter, k, threshold) case of a bm25 scoring mode, on a
    library whose postings are one scan partition and on one whose
    postings are several."""
    engine, spark_plane = engines
    cut = kept = 0
    for filters, k, thresholded in itertools.product(FILTERS, KS, (False, True)):
        args = dict(
            query_text="python vector garden",
            k=k,
            metadata_filters=filters,
            mode=mode,
            ranking=ranking,
        )
        if thresholded:
            # the middle score of the unthresholded result
            scores = [r[1] for r in engine.search_timed(library_id, **args)[0]]
            args["similarity_threshold"] = scores[len(scores) // 2] if scores else 0.0
        got = engine.search_timed(library_id, **args)
        want = spark_plane.search_timed(library_id, **args)
        assert (got[1]["plane"], want[1]["plane"]) == ("driver", "spark")
        _same_plane_results(got, want)
        if thresholded:
            cut += len(got[0]) < len(scores)
            kept += bool(got[0])
    assert cut and kept  # the threshold cuts some results and keeps some
    if not TEXT_PATHS[library_id]:
        assert _scan_partitions(engine, library_id) > 1


def test_bm25_driver_plane_after_writes(spark, tmp_path):
    """A split library after a text update and a delete, which append
    the rewritten postings as more files; once with the search plans
    run with coalescing off too."""
    engine = VectorEngine(spark, str(tmp_path / "wh"), config=CFG)
    engine.ingest_chunks(spark.createDataFrame(_rows("w", words=12), SCHEMA))
    _index_bm25(engine, "w", coalesce=False)

    def check():
        spark_plane = _spark_plane(engine)  # opened after the writes
        for mode, ranking, filters, k in itertools.product(
            ("or", "and"), ("bm25", "ql"), FILTERS[:2], (5, 100)
        ):
            args = dict(
                query_text="python vector garden spark", k=k,
                metadata_filters=filters, mode=mode, ranking=ranking,
            )
            got = engine.search_timed("w", **args)
            assert got[1]["plane"] == "driver"
            _same_plane_results(got, spark_plane.search_timed("w", **args))

    check()
    engine.update_chunk_texts("w", {"w-003": "python python garden", "w-010": "spark"})
    engine.delete_chunks("w", ["w-004", "w-011"])
    check()
    spark.conf.set(COALESCE, "false")
    try:
        check()
    finally:
        spark.conf.set(COALESCE, "true")


def test_bm25_driver_plane_edge_cases(engines, spark, tmp_path):
    """A blank query, absent terms, a text-only library whose chunks have
    NULL embeddings, and a request without query_text, which raises the
    same ValueError on both planes."""
    engine, spark_plane = engines
    for text in ("   ", "zebra", "python zebra", "Python  VECTOR python"):
        for mode, ranking in itertools.product(("or", "and"), ("bm25", "ql")):
            args = dict(query_text=text, k=10, mode=mode, ranking=ranking)
            got = engine.search_timed("bm25", **args)
            assert got[1]["plane"] == "driver"
            _same_plane_results(got, spark_plane.search_timed("bm25", **args))
    for eng in (engine, spark_plane):
        with pytest.raises(ValueError, match="a bm25 index searches by query_text"):
            eng.search_timed("bm25", query_embedding=[0.5] * 16, k=5)

    text_only = VectorEngine(spark, str(tmp_path / "wh"), config=CFG)
    text_only._embedder = lambda text: F.lit(None).cast("array<float>")
    text_only.ingest_chunks(spark.createDataFrame(_rows("t", words=12), SCHEMA))
    text_only.index_library("t", "bm25")
    assert text_only.chunks("t").filter(F.col("embedding").isNotNull()).count() == 0
    for mode, ranking in itertools.product(("or", "and"), ("bm25", "ql")):
        args = dict(
            query_text="river stone", k=20, mode=mode, ranking=ranking,
            metadata_filters={"lang": "fr"},
        )
        got = text_only.search_timed("t", **args)
        assert got[1]["plane"] == "driver" and got[0]
        _same_plane_results(got, _spark_plane(text_only).search_timed("t", **args))


def test_pruned_modes_take_the_spark_plane(engines):
    """maxscore and blockmax keep the Spark plane on a driver-served
    bm25 library."""
    engine, _ = engines
    for mode in ("maxscore", "blockmax"):
        assert _falls_back(
            engine, "bm25-split", query_text="python vector garden", k=5, mode=mode
        )


def _falls_back(engine, library_id, **args):
    rows, metrics = engine.search_timed(library_id, **args)
    assert metrics["plane"] == "spark"
    assert [tuple(r) for r in rows] == [
        tuple(r) for r in engine.search(library_id, **args).collect()
    ]
    return rows


@pytest.mark.parametrize(
    "filters",
    [{"lang_contains": "e"}, {"created_after": "2024-01-10"}],
)
def test_non_exact_filters_take_the_spark_plane(engines, filters):
    engine, _ = engines
    for library_id in ("lsh-tuned", "pq", "brute", "bm25"):
        assert _falls_back(
            engine, library_id, query_text="river stone", k=10,
            metadata_filters=filters,
        )


def test_unservable_libraries_take_the_spark_plane(spark, tmp_path, monkeypatch):
    """A NULL-element embedding, a library above LOCAL_MAX_ROWS and an
    emptied library are served by the Spark plane."""
    engine = VectorEngine(spark, str(tmp_path / "wh"), config=CFG)
    rng = np.random.default_rng(5)

    def holed(i):
        vec = [float(x) for x in rng.normal(size=16).astype(np.float32)]
        if i == 7:
            vec[3] = None
        return vec

    rows = _rows("holed", n=30, embedding=holed) + _rows("plain", n=30)
    engine.ingest_chunks(spark.createDataFrame(rows, SCHEMA))
    engine.index_library("plain", "pq")
    q = {"query_text": "cloud music", "k": 40}
    _falls_back(engine, "holed", **q)
    engine.index_library("holed", "lsh")
    _falls_back(engine, "holed", **q)
    assert engine._handle("holed").local is None

    assert engine.search_timed("plain", **q)[1]["plane"] == "driver"
    monkeypatch.setattr(service, "LOCAL_MAX_ROWS", 29)
    small = VectorEngine(spark, engine.warehouse, config=CFG)
    _falls_back(small, "plain", **q)
    monkeypatch.setattr(service, "LOCAL_MAX_ROWS", 30)
    _falls_back(small, "plain", **q)  # the misfit is remembered
    assert VectorEngine(spark, engine.warehouse, CFG).search_timed(
        "plain", **q
    )[1]["plane"] == "driver"

    engine.delete_chunks("plain", [r[0] for r in rows if r[1] == "plain"])
    assert _falls_back(engine, "plain", **q) == []
    log = engine.search_metrics_df()
    assert dict(log.dtypes)["plane"] == "string"
    assert [r["plane"] for r in log.collect()] == ["spark"] * 2 + ["driver", "spark"]


def test_spark_plane_scores_do_not_depend_on_the_postings_layout(spark, tmp_path):
    """One corpus indexed with its postings in one scan partition and in
    several: ``search()`` rows are bit-equal for every mode and ranking,
    and ``bm25_batch_search``'s per-query scores equal ``bm25_search``'s
    bit for bit."""
    rows = _rows("c", n=200, words=12)
    engines = []
    for coalesce in (True, False):
        eng = VectorEngine(spark, str(tmp_path / f"wh-{coalesce}"), config=CFG)
        eng.ingest_chunks(spark.createDataFrame(rows, SCHEMA))
        _index_bm25(eng, "c", coalesce)
        engines.append(eng)
    one, split = engines
    assert _scan_partitions(one, "c") == 1 and _scan_partitions(split, "c") > 1
    texts = (
        "python vector garden spark",
        "river stone cloud music index query",
        "garden music stone python cloud river spark",
    )
    cases = list(itertools.product(("or", "and"), ("bm25", "ql")))
    cases += [("maxscore", "bm25"), ("blockmax", "bm25")]
    for text, (mode, ranking) in itertools.product(texts, cases):
        args = dict(query_text=text, k=100, mode=mode, ranking=ranking)
        got = [tuple(r) for r in split.search("c", **args).collect()]
        assert got, args
        assert got == [tuple(r) for r in one.search("c", **args).collect()], args

    postings, doclens, n_docs, avgdl = split._handle("c").text
    term_lists = [bm25_mod.tokenize_query(t) for t in texts]
    batch = bm25_mod.bm25_batch_search(
        postings, doclens, n_docs, avgdl, term_lists, k=100
    ).collect()
    for qid, terms in enumerate(term_lists):
        single = bm25_mod.bm25_search(postings, doclens, n_docs, avgdl, terms, k=100)
        ranked = sorted(
            (r["rank"], r["id"], r["score"]) for r in batch if r["qid"] == qid
        )
        assert [(i, s) for _, i, s in ranked] == [tuple(r) for r in single.collect()]
