"""IVF invariants (indexes.py:193-393): assignment totality, probe-search
equivalence to a simulation over OUR centroids/assignments, untrained-empty,
recall on clustered data."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from vector_database_api_spark.operators import ivf as I

DIM = 16
SCHEMA = StructType(
    [
        StructField("id", StringType()),
        StructField("embedding", ArrayType(FloatType())),
        StructField("metadata", MapType(StringType(), StringType())),
    ]
)


def _clustered(n_centers=6, per=20, seed=13):
    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(n_centers, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    return np.concatenate(
        [c + 0.12 * rng.normal(size=(per, DIM)) for c in centers]
    ).astype(np.float32)


@pytest.fixture(scope="module")
def built(spark):
    vecs = _clustered()
    rows = [
        (f"c{i:03d}", [float(x) for x in vecs[i]], {"par": str(i % 2)})
        for i in range(len(vecs))
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    index = I.build_ivf(df, nlist=6, nprobe=2, seed=1)
    return df, vecs, index


def _query_df(spark, vec):
    return spark.createDataFrame(
        [Row(query_embedding=[float(x) for x in vec])],
        StructType([StructField("query_embedding", ArrayType(FloatType()))]),
    )


def test_every_vector_assigned_exactly_once(built):
    _, vecs, index = built
    idx = index.index_df.toPandas()
    assert len(idx) == len(vecs)
    assert idx["id"].is_unique
    assert idx["cluster_id"].between(0, index.nlist - 1).all()
    assert index.trained
    assert index.centroids.shape == (index.nlist, DIM)


def test_search_matches_simulation(spark, built):
    """Given OUR centroids and assignments, the search must equal the
    reference algorithm simulated in NumPy (probe -> gather -> cosine
    re-rank -> top-k with id tie-break)."""
    df, vecs, index = built
    assign = {r["id"]: r["cluster_id"] for r in index.index_df.collect()}
    for qi in (0, 25, 70):
        q = vecs[qi]
        got = [
            r["id"]
            for r in I.ivf_search(index, _query_df(spark, q), q, k=8).collect()
        ]
        probed = set(I.probe_clusters(index, q))
        scored = []
        for cid, v in enumerate(vecs):
            vid = f"c{cid:03d}"
            if assign[vid] not in probed:
                continue
            vd, qd = v.astype(np.float64), q.astype(np.float64)
            sim = float(vd @ qd / (np.linalg.norm(vd) * np.linalg.norm(qd)))
            scored.append((vid, sim))
        scored.sort(key=lambda x: (-x[1], x[0]))
        assert got == [s[0] for s in scored[:8]], f"query {qi}"


def test_results_confined_to_probed_clusters(spark, built):
    df, vecs, index = built
    q = vecs[40]
    probed = set(I.probe_clusters(index, q))
    assign = {r["id"]: r["cluster_id"] for r in index.index_df.collect()}
    got = I.ivf_search(index, _query_df(spark, q), q, k=50).collect()
    assert got, "expected non-empty result"
    assert all(assign[r["id"]] in probed for r in got)


def test_metadata_filter_intersects_candidates(spark, built):
    df, vecs, index = built
    q = vecs[10]
    got = I.ivf_search(
        index,
        _query_df(spark, q),
        q,
        k=50,
        chunks=df,
        metadata_filters={"par": "1"},
    ).collect()
    assert got
    assert all(int(r["id"][1:]) % 2 == 1 for r in got)


def test_untrained_returns_empty(spark):
    rows = [(f"c{i}", [float(i), 0.0], {}) for i in range(3)]
    df = spark.createDataFrame(
        rows,
        StructType(
            [
                StructField("id", StringType()),
                StructField("embedding", ArrayType(FloatType())),
                StructField("metadata", MapType(StringType(), StringType())),
            ]
        ),
    )
    index = I.build_ivf(df, nlist=10, nprobe=2)
    assert not index.trained
    q = np.array([1.0, 0.0], dtype=np.float32)
    got = I.ivf_search(index, _query_df(spark, q), q, k=5).collect()
    assert got == []


def test_recall_on_clustered_data(spark, built):
    df, vecs, index = built
    hits = total = 0
    for qi in (0, 20, 40, 60, 80):
        q = vecs[qi]
        ivf_ids = set(
            r["id"] for r in I.ivf_search(index, _query_df(spark, q), q, k=10).collect()
        )
        v = vecs.astype(np.float64)
        qd = q.astype(np.float64)
        sims = v @ qd / (np.linalg.norm(v, axis=1) * np.linalg.norm(qd))
        brute = set(
            f"c{i:03d}"
            for i in sorted(range(len(v)), key=lambda i: (-sims[i], i))[:10]
        )
        hits += len(ivf_ids & brute)
        total += 10
    assert hits / total >= 0.6


def test_cluster_sizes(built):
    _, vecs, index = built
    sizes = I.cluster_sizes(index).toPandas()
    assert sizes["n"].sum() == len(vecs)
    assert len(sizes) <= index.nlist
