"""M2/M3 incremental maintenance: chunk delete/update keep chunks table and
index tables consistent (chunk_service.py:81-134 semantics)."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from vector_database_api_spark.config import EngineConfig
from vector_database_api_spark.operators import bm25 as bm25_mod
from vector_database_api_spark.operators import ivf as ivf_mod
from vector_database_api_spark.operators import lsh as lsh_mod
from vector_database_api_spark.operators import pq as pq_mod
from vector_database_api_spark.operators import sq as sq_mod
from vector_database_api_spark.service import (
    ALL_INDEX_TYPES,
    TEXT_KINDS,
    VectorEngine,
)
from vector_database_api_spark.streaming.maintenance import CHUNK_INGEST_SCHEMA

CFG = EngineConfig(embedding_dim=16, ivf_nlist=4, ivf_nprobe=4, default_k=5)


@pytest.fixture()
def engine(spark, tmp_path):
    eng = VectorEngine(spark, str(tmp_path / "wh"), config=CFG)
    rows = [
        (f"c{i:02d}", "libA" if i < 16 else "libB", f"d{i}", f"text number {i}", None, {})
        for i in range(24)
    ]
    eng.ingest_chunks(spark.createDataFrame(rows, CHUNK_INGEST_SCHEMA))
    return eng


def test_delete_chunks_unindexed(engine):
    engine.delete_chunks("libA", ["c00", "c01"])
    assert engine.chunks("libA").count() == 14
    # the other library is untouched by the partition-scoped rewrite
    assert engine.chunks("libB").count() == 8


def test_delete_chunks_with_lsh_index(engine, spark):
    engine.index_library("libA", "lsh")
    engine.delete_chunks("libA", ["c02", "c03"])
    idx = spark.read.parquet(engine._index_dir("lsh", "libA"))
    ids = {r["id"] for r in idx.select("id").distinct().collect()}
    assert "c02" not in ids and "c03" not in ids
    assert len(ids) == 14
    # search no longer returns deleted ids
    got = {r["id"] for r in engine.search("libA", query_text="text number 2", k=16).collect()}
    assert "c02" not in got


def test_update_chunk_text_reindexes_lsh(engine, spark):
    engine.index_library("libA", "lsh")
    engine.update_chunk_texts("libA", {"c05": "totally new content"})
    chunks = {r["id"]: r for r in engine.chunks("libA").collect()}
    assert chunks["c05"]["text"] == "totally new content"
    # index rows for c05 match a fresh hash of the new embedding
    planes = lsh_mod.generate_planes(CFG.embedding_dim, config=CFG)
    fresh = {
        (r["table_idx"], r["hash"])
        for r in lsh_mod.hash_table_df(
            engine.chunks("libA").filter(F.col("id") == "c05"), planes
        ).collect()
    }
    idx = spark.read.parquet(engine._index_dir("lsh", "libA"))
    stored = {
        (r["table_idx"], r["hash"])
        for r in idx.filter(F.col("id") == "c05").collect()
    }
    assert stored == fresh
    # incremental result identical to full rebuild
    rebuilt = {
        (r["id"], r["table_idx"], r["hash"])
        for r in lsh_mod.hash_table_df(engine.chunks("libA"), planes).collect()
    }
    incremental = {(r["id"], r["table_idx"], r["hash"]) for r in idx.collect()}
    assert incremental == rebuilt


def test_update_chunk_text_reassigns_ivf_with_frozen_centroids(engine, spark):
    engine.index_library("libA", "ivf")
    ivf_dir = engine._index_dir("ivf", "libA")
    _, centroids = engine._index_state(ivf_dir)
    engine.update_chunk_texts("libA", {"c06": "changed text entirely"})
    # centroids must NOT move (reference never retrains once trained)
    assert np.array_equal(engine._index_state(ivf_dir)[1], centroids)
    idx = spark.read.parquet(ivf_dir)
    assert idx.count() == 16
    row = idx.filter(F.col("id") == "c06").collect()[0]
    # assignment matches argmin against the frozen centroids
    emb = engine.chunks("libA").filter(F.col("id") == "c06").collect()[0]["embedding"]
    d = np.linalg.norm(centroids - np.asarray(emb, dtype=np.float64), axis=1)
    assert row["cluster_id"] == int(np.argmin(d))


def test_delete_all_chunks_empties_library(engine):
    ids = [f"c{i:02d}" for i in range(16, 24)]
    engine.delete_chunks("libB", ids)
    assert engine.chunks("libB").count() == 0
    assert engine.chunks("libA").count() == 16


def _row_set(df):
    """Rows as hashable (column, value) tuples, column order ignored."""
    return {
        tuple(
            (c, tuple(v) if isinstance(v, list) else v)
            for c, v in sorted(r.asDict().items())
        )
        for r in df.collect()
    }


def _rows(spark, path, sub, ids=None):
    """Index rows of one table under an index directory."""
    df = spark.read.parquet(os.path.join(path, sub))
    if ids is not None:
        df = df.filter(F.col("id").isin(ids))
    return _row_set(df)


def _state_files(warehouse):
    """{path: bytes} of every frozen-state file under the warehouse."""
    out = {}
    for root, _, files in os.walk(warehouse):
        for name in files:
            if name in ("_PROFILE.json", "_STATE.npy"):
                with open(os.path.join(root, name), "rb") as f:
                    out[os.path.join(root, name)] = f.read()
    return out


@pytest.mark.parametrize("kind", ALL_INDEX_TYPES)
def test_mutation_contract_every_kind(engine, spark, kind):
    """delete then update on every index kind: untouched rows stay
    byte-equal, the deleted id is gone, the updated id's rows are the
    kind's encoder applied with the STORED frozen state, that state is
    unchanged, and switching kinds leaves no state of the old kind."""
    engine.index_library("libA", kind, lsh_profile="tuned")
    path = engine._index_dir(kind, "libA")
    subs = ("postings", "doclens") if kind in TEXT_KINDS else ("",)
    before = {sub: _rows(spark, path, sub) for sub in subs}
    state_before = _state_files(engine.warehouse)
    profile, array = engine._index_state(path)
    if kind not in TEXT_KINDS:
        assert state_before  # every vector kind keeps frozen state

    engine.delete_chunks("libA", ["c03"])
    engine.update_chunk_texts("libA", {"c05": "a wholly new text"})

    changed = engine.chunks("libA").filter(F.col("id") == "c05")
    if kind in TEXT_KINDS:
        postings, doclens, _ = bm25_mod.build_bm25_index(changed)
        want = {"postings": postings, "doclens": doclens}
    elif kind == "lsh":
        want = {"": lsh_mod.hash_table_df(changed, engine._lsh_planes(profile))}
    elif kind == "ivf":
        want = {"": ivf_mod.assign_to_centroids(changed, array)}
    elif kind == "pq":
        want = {"": pq_mod.encode_codes(changed, array)}
    else:
        want = {"": sq_mod.encode_with_bounds(changed, array[0], array[1])}
    untouched = [f"c{i:02d}" for i in range(16) if i not in (3, 5)]
    for sub in subs:
        kept = {r for r in before[sub] if dict(r)["id"] in untouched}
        assert _rows(spark, path, sub, untouched) == kept
        assert _rows(spark, path, sub, ["c03"]) == set()
        got = _rows(spark, path, sub, ["c05"])
        assert got and got == _row_set(want[sub])
    if kind in TEXT_KINDS:
        stats = spark.read.parquet(os.path.join(path, "stats")).first()
        assert stats["n_docs"] == 15
    assert _state_files(engine.warehouse) == state_before

    other = ALL_INDEX_TYPES[(ALL_INDEX_TYPES.index(kind) + 1) % len(ALL_INDEX_TYPES)]
    engine.index_library("libA", other)
    assert not os.path.exists(path)
    new_dir = engine._index_dir(other, "libA")
    assert all(p.startswith(new_dir + os.sep) for p in _state_files(engine.warehouse))
