"""The driver plane of ``VectorEngine.search_timed``: on every kind it
serves, its rows equal ``search().collect()`` as tuples (ids, order and
every float) and its metrics equal the Spark plane's; requests it must
not serve fall back to the Spark plane with the same rows."""

from __future__ import annotations

import itertools

import numpy as np
import pytest
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
FILTERS = (None, {"lang": "de"}, {"lang": "xx"})
KS = (1, 5, 100)
THRESHOLDS = (None, 0.1)


def _rows(library_id, n=N, embedding=None):
    rng = np.random.default_rng(len(library_id))
    return [
        (
            f"{library_id}-{i:03d}",
            library_id,
            f"d{i}",
            " ".join(rng.choice(WORDS, size=6)),
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


@pytest.fixture(scope="module")
def engines(spark, tmp_path_factory):
    engine = VectorEngine(spark, str(tmp_path_factory.mktemp("local") / "wh"), CFG)
    rows = [r for lib in PATHS for r in _rows(lib)]
    engine.ingest_chunks(spark.createDataFrame(rows, SCHEMA))
    for lib, kwargs in PATHS.items():
        if kwargs is not None:
            engine.index_library(lib, **kwargs)
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
    for library_id in ("lsh-tuned", "pq", "brute"):
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
