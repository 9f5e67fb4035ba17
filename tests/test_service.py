"""End-to-end engine lifecycle: ingest -> index -> search (the reference's
demo.py flow, hermetic)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from vector_database_api_spark.config import EngineConfig
from vector_database_api_spark.functions.embedding import text_to_vector
from vector_database_api_spark.service import VectorEngine
from vector_database_api_spark.streaming.maintenance import CHUNK_INGEST_SCHEMA

CFG = EngineConfig(embedding_dim=16, ivf_nlist=4, ivf_nprobe=2, default_k=5)

TOPICS = ["python", "ml", "databases"]


@pytest.fixture()
def engine(spark, tmp_path):
    eng = VectorEngine(spark, str(tmp_path / "wh"), config=CFG)
    rows = []
    for i in range(30):
        topic = TOPICS[i % 3]
        rows.append(
            (
                f"c{i:02d}",
                "libA" if i < 20 else "libB",
                f"d{i}",
                f"{topic} document number {i} about {topic}",
                None,
                {"topic": topic},
            )
        )
    eng.ingest_chunks(spark.createDataFrame(rows, CHUNK_INGEST_SCHEMA))
    return eng


def test_ingest_embeds_and_partitions(engine):
    chunks = engine.chunks()
    assert chunks.count() == 30
    assert chunks.filter("embedding IS NULL").count() == 0
    assert engine.chunks("libA").count() == 20


def test_brute_force_search_unindexed(engine):
    got = engine.search("libA", query_text="python document number 0 about python").collect()
    assert len(got) == CFG.default_k
    assert got[0]["id"] == "c00"  # exact text match ranks first
    assert got[0]["similarity"] == pytest.approx(1.0)


def test_filtered_search_semantics(engine):
    got = engine.search(
        "libA",
        query_text="ml document number 1 about ml",
        k=100,
        metadata_filters={"topic": "ml"},
    ).collect()
    # k filtered results, fewer than k allowed: libA has ~7 'ml' chunks
    assert 0 < len(got) < 100
    ids = {r["id"] for r in got}
    assert all(int(i[1:]) % 3 == 1 for i in ids)


def test_k_clamping(engine):
    assert len(engine.search("libA", query_text="x", k=-5).collect()) == CFG.default_k
    got = engine.search("libA", query_text="x", k=10 ** 6)
    assert len(got.collect()) <= CFG.max_k


def test_lsh_index_search_and_switch(engine):
    engine.index_library("libA", "lsh")
    got = engine.search("libA", query_text="python document number 0 about python", k=3).collect()
    assert len(got) <= 3 and got
    # switch lsh -> ivf -> search still works (test_basic.py:244-268 parity)
    engine.index_library("libA", "ivf")
    got2 = engine.search("libA", query_text="python document number 0 about python", k=3).collect()
    assert len(got2) <= 3
    # ivf trained (20 >= nlist=4): results confined + sane
    assert got2[0]["similarity"] >= got2[-1]["similarity"]


def test_ivf_untrained_returns_empty(engine, spark):
    # libB has 10 chunks; shrink further with an nlist above the count
    small_cfg = EngineConfig(embedding_dim=16, ivf_nlist=50, ivf_nprobe=2)
    eng2 = VectorEngine(spark, engine.warehouse, config=small_cfg)
    eng2.index_library("libB", "ivf")
    got = eng2.search("libB", query_text="anything").collect()
    assert got == []


def test_invalid_index_type_raises(engine):
    with pytest.raises(ValueError, match="Unknown index type"):
        engine.index_library("libA", "flat")


def test_search_requires_text_or_embedding(engine):
    with pytest.raises(ValueError, match="text or embedding"):
        engine.search("libA")


def test_search_by_embedding_matches_text(engine):
    text = "databases document number 2 about databases"
    vec = [float(x) for x in text_to_vector(text, CFG.embedding_dim)]
    by_text = [r["id"] for r in engine.search("libA", query_text=text).collect()]
    by_vec = [r["id"] for r in engine.search("libA", query_embedding=vec).collect()]
    assert by_text == by_vec


def test_pq_index_search(engine):
    """PQ extension type: build, filtered search, result-schema parity."""
    engine.index_library("libA", "pq")
    got = engine.search(
        "libA", query_text="python document number 0 about python", k=5
    ).collect()
    assert len(got) == 5
    assert got[0]["id"] == "c00"  # own text still ranks first post-quantization
    assert {"id", "similarity", "distance"} <= set(got[0].asDict())

    only_ml = engine.search(
        "libA",
        query_text="ml document number 1 about ml",
        k=100,
        metadata_filters={"topic": "ml"},
    ).collect()
    ids = {r["id"] for r in only_ml}
    assert ids and all(int(i[1:]) % 3 == 1 for i in ids)  # topic=ml rows only


def test_pq_index_mutations(engine):
    engine.index_library("libA", "pq")
    idx_before = {
        r["id"] for r in engine.spark.read.parquet(
            engine._index_dir("pq", "libA")
        ).collect()
    }
    assert "c03" in idx_before

    engine.delete_chunks("libA", ["c03"])
    idx_after = {
        r["id"] for r in engine.spark.read.parquet(
            engine._index_dir("pq", "libA")
        ).collect()
    }
    assert idx_after == idx_before - {"c03"}

    # text update re-encodes with frozen codebooks; the row whose text now
    # matches the query should win the search
    engine.update_chunk_texts("libA", {"c06": "unique needle phrase xyz"})
    got = engine.search("libA", query_text="unique needle phrase xyz", k=3).collect()
    assert got[0]["id"] == "c06"


def test_index_switch_drops_pq(engine):
    import os

    engine.index_library("libA", "pq")
    assert os.path.isdir(engine._index_dir("pq", "libA"))
    engine.index_library("libA", "lsh")
    assert not os.path.isdir(engine._index_dir("pq", "libA"))
    assert os.path.isdir(engine._index_dir("lsh", "libA"))


def test_similarity_threshold_filters_post_topk(engine, spark):
    """F7 (reference app/config.py:37, declared but never applied there):
    wired here as a post-top-k filter on every search path.  Default None
    keeps reference-observable behavior (no filtering)."""
    q = "python document number 0 about python"
    base = engine.search("libA", query_text=q, k=10).collect()
    assert len(base) == 10
    sims = sorted((r["similarity"] for r in base), reverse=True)
    # threshold between the best and worst similarity: strictly fewer rows,
    # all surviving rows >= threshold
    cut = (sims[0] + sims[-1]) / 2
    got = engine.search("libA", query_text=q, k=10, similarity_threshold=cut).collect()
    assert 0 < len(got) < 10
    assert all(r["similarity"] >= cut for r in got)
    # impossible threshold -> empty; threshold above-all -> unchanged
    assert engine.search("libA", query_text=q, k=10, similarity_threshold=2.0).count() == 0
    assert (
        engine.search("libA", query_text=q, k=10, similarity_threshold=-2.0).count() == 10
    )
    # config-level default is honored on the indexed path too
    cfg = EngineConfig(
        embedding_dim=16, ivf_nlist=4, ivf_nprobe=2, similarity_threshold=cut
    )
    eng2 = VectorEngine(spark, engine.warehouse, config=cfg)
    eng2.index_library("libA", "lsh")
    got_lsh = eng2.search("libA", query_text=q, k=10).collect()
    assert all(r["similarity"] >= cut for r in got_lsh)


def test_lsh_tuned_profile_selectable_and_persisted(engine):
    """config.LSH_PROFILES is a first-class index-build option: the tuned
    geometry is persisted with the index (search must hash with the same
    planes) and survives the overwrite in the mutation paths."""
    import json
    import os

    import pytest as _pytest

    engine.index_library("libA", "lsh", lsh_profile="tuned")
    lsh_dir = engine._index_dir("lsh", "libA")
    with open(os.path.join(lsh_dir, "_PROFILE.json")) as f:
        assert json.load(f) == {"num_tables": 8, "hash_length": 6}
    # hashes in the index match the tuned geometry (8 tables, 6-bit hashes)
    idx = engine.spark.read.parquet(lsh_dir)
    assert idx.select(F.countDistinct("table_idx")).first()[0] == 8
    assert idx.select(F.max(F.length("hash"))).first()[0] == 6

    got = engine.search("libA", query_text="python document number 0 about python", k=3).collect()
    assert got and got[0]["id"] == "c00"

    # profile survives the update path's directory overwrite
    engine.update_chunk_texts("libA", {"c05": "profile persistence probe"})
    assert os.path.exists(os.path.join(lsh_dir, "_PROFILE.json"))
    got2 = engine.search("libA", query_text="profile persistence probe", k=3).collect()
    assert got2 and got2[0]["id"] == "c05"

    with _pytest.raises(ValueError):
        engine.index_library("libA", "lsh", lsh_profile="nope")


def test_sq8_index_search(engine):
    """SQ8 extension type: build, filtered search, result-schema parity —
    8-bit quantization is tight enough that the own-text row still ranks
    first."""
    engine.index_library("libA", "sq8")
    got = engine.search(
        "libA", query_text="python document number 0 about python", k=5
    ).collect()
    assert len(got) == 5
    assert got[0]["id"] == "c00"
    assert {"id", "similarity", "distance"} <= set(got[0].asDict())

    only_ml = engine.search(
        "libA",
        query_text="ml document number 1 about ml",
        k=100,
        metadata_filters={"topic": "ml"},
    ).collect()
    ids = {r["id"] for r in only_ml}
    assert ids and all(int(i[1:]) % 3 == 1 for i in ids)


def test_sq8_index_mutations(engine):
    engine.index_library("libA", "sq8")
    idx_before = {
        r["id"] for r in engine.spark.read.parquet(
            engine._index_dir("sq8", "libA")
        ).collect()
    }
    assert "c03" in idx_before

    engine.delete_chunks("libA", ["c03"])
    idx_after = {
        r["id"] for r in engine.spark.read.parquet(
            engine._index_dir("sq8", "libA")
        ).collect()
    }
    assert idx_after == idx_before - {"c03"}

    # text update re-encodes with FROZEN bounds; the updated row should
    # win its own query post-re-encode
    engine.update_chunk_texts("libA", {"c06": "unique needle phrase xyz"})
    got = engine.search("libA", query_text="unique needle phrase xyz", k=3).collect()
    assert got[0]["id"] == "c06"
    # and the index switch away drops the sq8 table
    import os

    engine.index_library("libA", "lsh")
    assert not os.path.isdir(engine._index_dir("sq8", "libA"))


def test_bm25_index_search(engine):
    """BM25 keyword path through the same dispatch: build, text search,
    filter-then-search candidates, k-clamp, query_text requirement."""
    engine.index_library("libA", "bm25")
    got = engine.search("libA", query_text="python").collect()
    assert 0 < len(got) <= CFG.default_k
    # every python-topic doc ties (tf=2, equal dl) -> id tie-break
    assert got[0]["id"] == "c00"
    ids = {r["id"] for r in got}
    assert all(int(i[1:]) % 3 == 0 for i in ids)  # topic 'python' rows
    # the '0' token is unique to c00 -> multi-term query ranks it first
    top = engine.search(
        "libA", query_text="python document number 0 about python", k=3
    ).collect()
    assert top[0]["id"] == "c00"
    # filter-then-search: k filtered results (ml rows never match 'python')
    flt = engine.search(
        "libA",
        query_text="document",
        k=100,
        metadata_filters={"topic": "ml"},
    ).collect()
    assert 0 < len(flt) < 20
    assert all(int(r["id"][1:]) % 3 == 1 for r in flt)
    # a bm25 index cannot serve an embedding-only query
    with pytest.raises(ValueError):
        engine.search("libA", query_embedding=[0.0] * 16)
    # threshold applies on the path's native score scale
    base = engine.search("libA", query_text="python", k=10).collect()
    cut = (base[0]["score"] + base[-1]["score"]) / 2 + 1e-9
    assert engine.search(
        "libA", query_text="python", k=10, similarity_threshold=1e9
    ).count() == 0
    kept = engine.search(
        "libA", query_text="python", k=10, similarity_threshold=cut
    ).collect()
    assert all(r["score"] >= cut for r in kept)


def test_bm25_index_mutations(engine):
    """M2/M3 on the keyword artifact: delete removes postings rows;
    update re-tokenizes the patched doc; corpus stats re-aggregate."""
    engine.index_library("libA", "bm25")
    engine.delete_chunks("libA", ["c00"])
    got = engine.search("libA", query_text="python", k=20).collect()
    assert "c00" not in {r["id"] for r in got}
    engine.update_chunk_texts("libA", {"c01": "zanzibar zanzibar probe"})
    hit = engine.search("libA", query_text="zanzibar", k=5).collect()
    assert [r["id"] for r in hit] == ["c01"]
    # stats follow the mutations: n_docs dropped by the delete
    _, _, n_docs, _ = engine._read_text_index(
        engine._index_dir("bm25", "libA")
    )
    assert n_docs == 19


def test_hybrid_index_search(engine):
    """Two-leg hybrid through dispatch: RRF of the BM25 leg and the exact
    vector leg, metadata filter applied to BOTH legs before their top-k,
    threshold on the fused doc's cosine evidence."""
    engine.index_library("libA", "hybrid")
    q = "python document number 0 about python"
    got = engine.search("libA", query_text=q, k=5).collect()
    assert len(got) == 5
    assert set(got[0].asDict()) == {"id", "r_kw", "r_vec", "rrf", "similarity"}
    # c00 tops both legs (exact text match; unique '0' token) -> fused first
    assert got[0]["id"] == "c00"
    assert got[0]["r_kw"] == 1 and got[0]["r_vec"] == 1
    assert got[0]["similarity"] == pytest.approx(1.0)
    # fused order is (rrf desc, id)
    rrfs = [r["rrf"] for r in got]
    assert rrfs == sorted(rrfs, reverse=True)
    # filtered hybrid: both legs restricted -> only ml-topic ids survive
    flt = engine.search(
        "libA", query_text="document", k=10, metadata_filters={"topic": "ml"}
    ).collect()
    assert flt and all(int(r["id"][1:]) % 3 == 1 for r in flt)
    # threshold: keyword-only docs carry NULL similarity and are dropped
    thr = engine.search(
        "libA", query_text=q, k=5, similarity_threshold=-1.0
    ).collect()
    assert all(r["similarity"] is not None for r in thr)
    # embedding-only query still serves (keyword leg empty -> vector ranks)
    vec_only = engine.search(
        "libA",
        query_embedding=[float(x) for x in text_to_vector(q, 16)],
        k=3,
    ).collect()
    assert vec_only[0]["id"] == "c00" and vec_only[0]["r_kw"] is None


def test_hybrid_fusion_modes_match_operator_fusers(engine):
    """search(fusion=linear|combmnz) must equal the operator-level
    fusers applied to the SAME two legs (schema, ids and values) —
    offering extra fusion modes costs only the O(k) combiner; and
    non-hybrid paths reject a non-default fusion."""
    from vector_database_api_spark.operators.bm25 import (
        combmnz_fuse,
        linear_fuse,
    )
    from vector_database_api_spark.operators.knn import knn_brute_force

    engine.index_library("libA", "hybrid")
    q = "python document number 0 about python"
    chunks = engine.chunks("libA")
    kw_rows = engine._bm25_topk(
        engine._handle("libA"), chunks, q, 5, None
    ).collect()
    qdf = engine.spark.createDataFrame(
        [([float(x) for x in text_to_vector(q, 16)],)],
        "query_embedding array<float>",
    )
    vec_rows = (
        knn_brute_force(chunks, qdf, k=5).select("id", "similarity").collect()
    )
    kw_pairs = [(r["id"], r["score"]) for r in kw_rows]
    vec_pairs = [(r["id"], r["similarity"]) for r in vec_rows]

    lin = engine.search("libA", query_text=q, k=5, fusion="linear").collect()
    assert set(lin[0].asDict()) == {"id", "n_kw", "n_vec", "fused", "similarity"}
    exp_lin = linear_fuse(kw_pairs, vec_pairs)[:5]
    assert [(r["id"], r["n_kw"], r["n_vec"], r["fused"]) for r in lin] == [
        (d, nk, nv, raw) for d, nk, nv, raw in exp_lin
    ]

    mnz = engine.search("libA", query_text=q, k=5, fusion="combmnz").collect()
    assert set(mnz[0].asDict()) == {"id", "hits", "combmnz", "similarity"}
    exp_mnz = combmnz_fuse(kw_pairs, vec_pairs)[:5]
    assert [(r["id"], r["hits"], r["combmnz"]) for r in mnz] == [
        (d, h, raw) for d, h, raw in exp_mnz
    ]
    # the top consensus doc hits both legs
    assert mnz[0]["hits"] == 2 and mnz[0]["id"] == "c00"

    # telemetry carries the fusion dimension
    _, m = engine.search_timed("libA", query_text=q, k=3, fusion="combmnz")
    assert m["fusion"] == "combmnz" and m["n_results"] == 3
    assert "fusion" in engine.search_metrics_df().columns

    # validation: unknown fusion, and non-hybrid paths reject non-default
    with pytest.raises(ValueError, match="fusion must be"):
        engine.search("libA", query_text=q, fusion="borda")
    engine.index_library("libA", "lsh")
    with pytest.raises(ValueError, match="needs a built hybrid index"):
        engine.search("libA", query_text=q, fusion="linear")


def test_suggest_terms_prefix_autocomplete(engine):
    """suggest_terms ranks index terms under a prefix by (df DESC, term
    ASC); needs a text index; rejects an empty prefix."""
    engine.index_library("libA", "bm25")
    got = engine.suggest_terms("libA", "d", n=3).collect()
    assert [r["term"] for r in got][:2] == ["document", "databases"]
    # 'document' hits all 20 libA chunks, 'databases' its topic third
    assert got[0]["df"] == 20
    dfs = [r["df"] for r in got]
    assert dfs == sorted(dfs, reverse=True)
    assert engine.suggest_terms("libA", "zzz").collect() == []
    with pytest.raises(ValueError, match="non-empty"):
        engine.suggest_terms("libA", "")
    engine.index_library("libA", "lsh")
    with pytest.raises(ValueError, match="needs a bm25 or hybrid"):
        engine.suggest_terms("libA", "d")


def test_find_similar_by_id(engine):
    """find_similar: by='vector' ranks by cosine to the seed's own
    embedding with the seed excluded; by='text' is MLT from the stored
    text index; 404-analogue and validation errors."""
    sim = engine.find_similar("libA", "c00", k=3).collect()
    assert len(sim) == 3 and all(r["id"] != "c00" for r in sim)
    assert set(sim[0].asDict()) == {"id", "similarity", "distance"}
    sims = [r["similarity"] for r in sim]
    assert sims == sorted(sims, reverse=True)
    # matches the brute-force ranking with the seed dropped
    qdf = engine.spark.createDataFrame(
        [([float(x) for x in text_to_vector(
            "python document number 0 about python", 16)],)],
        "query_embedding array<float>",
    )
    from vector_database_api_spark.operators.knn import knn_brute_force

    expect = [
        r["id"]
        for r in knn_brute_force(engine.chunks("libA"), qdf, k=4).collect()
        if r["id"] != "c00"
    ][:3]
    assert [r["id"] for r in sim] == expect

    engine.index_library("libA", "bm25")
    sim_t = engine.find_similar("libA", "c00", k=3, by="text").collect()
    assert len(sim_t) == 3 and all(r["id"] != "c00" for r in sim_t)
    assert set(sim_t[0].asDict()) == {"id", "score"}
    # the seed's representative terms are python-topic tokens
    assert int(sim_t[0]["id"][1:]) % 3 == 0

    with pytest.raises(KeyError, match="not found"):
        engine.find_similar("libA", "nope")
    with pytest.raises(ValueError, match="by must be"):
        engine.find_similar("libA", "c00", by="graph")
    engine.index_library("libA", "lsh")
    with pytest.raises(ValueError, match="needs a bm25 or hybrid"):
        engine.find_similar("libA", "c00", by="text")


def test_index_switch_drops_text_indexes(engine):
    import os

    engine.index_library("libA", "hybrid")
    assert os.path.isdir(engine._index_dir("hybrid", "libA"))
    engine.index_library("libA", "bm25")
    assert not os.path.isdir(engine._index_dir("hybrid", "libA"))
    engine.index_library("libA", "lsh")
    assert not os.path.isdir(engine._index_dir("bm25", "libA"))


def test_ivf_trained_p4_profile(engine):
    """config.IVF_PROFILES is a first-class index-build option: the
    measured recommended serving layout (trained-p4: KMeans nlist=20,
    nprobe=4 — recall@2 0.59 on the ann_quality grid) is persisted with
    the index, used by search-time probing, and survives the mutation
    paths' directory overwrites."""
    import json
    import os

    engine.index_library("libA", "ivf", ivf_profile="trained-p4")
    ivf_dir = engine._index_dir("ivf", "libA")
    with open(os.path.join(ivf_dir, "_PROFILE.json")) as f:
        assert json.load(f) == {"nlist": 20, "nprobe": 4}
    # centroids honor the profile's nlist, not the config's (4)
    _, cents = engine._index_state(ivf_dir)
    assert cents.shape[0] == 20
    q = "python document number 0 about python"
    got = engine.search("libA", query_text=q, k=3).collect()
    # own-text query probes its own cell first -> exact match surfaces
    assert got and got[0]["id"] == "c00"
    assert got[0]["similarity"] == pytest.approx(1.0)

    # profile survives both mutation paths' overwrites
    engine.update_chunk_texts("libA", {"c05": "probe layout persistence"})
    engine.delete_chunks("libA", ["c07"])
    with open(os.path.join(ivf_dir, "_PROFILE.json")) as f:
        assert json.load(f) == {"nlist": 20, "nprobe": 4}
    got2 = engine.search(
        "libA", query_text="probe layout persistence", k=3
    ).collect()
    assert got2 and got2[0]["id"] == "c05"

    with pytest.raises(ValueError):
        engine.index_library("libA", "ivf", ivf_profile="nope")


def test_search_diversified_mmr(engine):
    """MMR serving path: k diversified picks from the relevance pool,
    rank-1 is the relevance argmax, scores are the exact greedy math of
    the oracle-checked registry query (shared operators/rerank.py), and
    the metadata filter restricts the pool (filter-then-diversify)."""
    from vector_database_api_spark.operators import rerank as rerank_mod

    q = "python document number 0 about python"
    got = engine.search_diversified("libA", query_text=q, k=3).collect()
    assert [r["mmr_rank"] for r in got] == [1, 2, 3]
    assert got[0]["id"] == "c00"  # relevance argmax leads
    assert got[0]["similarity"] == pytest.approx(1.0)
    # MMR scores replay the shared greedy over the same pool
    vec = {
        r["id"]: r["embedding"]
        for r in engine.chunks("libA")
        .join(
            engine.search("libA", query_text=q, k=12).select("id"),
            "id",
            "left_semi",
        )
        .collect()
    }
    qv = [float(x) for x in text_to_vector(q, CFG.embedding_dim)]
    rel = {i: rerank_mod.seq_cosine(v, qv) for i, v in vec.items()}
    want = rerank_mod.mmr_greedy(
        rel, rerank_mod.pairwise_cosines(vec), k=3
    )
    assert [(r["mmr_rank"], r["id"], r["mmr"]) for r in got] == want
    # filtered pool -> only matching-topic picks
    flt = engine.search_diversified(
        "libA", query_text=q, k=3, metadata_filters={"topic": "ml"}
    ).collect()
    assert flt and all(int(r["id"][1:]) % 3 == 1 for r in flt)


def test_facet_counts(engine):
    """Filter-then-facet: value counts per requested key over the
    filtered candidate set; missing keys contribute nothing."""
    rows = engine.facet_counts("libA", ["topic", "missing_key"]).collect()
    got = {
        (r["facet_key"], r["facet_value"]): r["n_chunks"] for r in rows
    }
    # libA: 20 chunks, topics cycle python/ml/databases from i=0
    assert got[("topic", "python")] == 7
    assert got[("topic", "ml")] == 7
    assert got[("topic", "databases")] == 6
    assert not any(k == "missing_key" for k, _ in got)
    # filtered: facet counts follow the candidate set
    flt = engine.facet_counts(
        "libA", ["topic"], metadata_filters={"topic": "ml"}
    ).collect()
    assert {(r["facet_key"], r["facet_value"], r["n_chunks"]) for r in flt} == {
        ("topic", "ml", 7)
    }
    with pytest.raises(ValueError):
        engine.facet_counts("libA", [])


def test_keyword_paths_empty_results(engine):
    """Degenerate inputs return empty frames, never errors: a filter
    matching nothing empties both hybrid legs; query terms absent from
    the corpus empty the bm25 path; an all-space query has no terms."""
    engine.index_library("libA", "hybrid")
    assert (
        engine.search(
            "libA",
            query_text="python",
            k=5,
            metadata_filters={"topic": "nonexistent"},
        ).count()
        == 0
    )
    engine.index_library("libA", "bm25")
    assert engine.search("libA", query_text="zzz qqq absent").count() == 0
    assert engine.search("libA", query_text="   ").count() == 0
    # diversified search over an emptied pool is empty too
    assert (
        engine.search_diversified(
            "libA",
            query_text="python",
            k=3,
            metadata_filters={"topic": "nonexistent"},
        ).count()
        == 0
    )


def test_search_with_snippets(engine):
    """Snippets attach to the regular dispatch result: same ids, best
    window contains the query terms that actually occur in the chunk."""
    engine.index_library("libA", "bm25")
    plain = engine.search("libA", query_text="python document", k=5).collect()
    got = engine.search_with_snippets(
        "libA", query_text="python document", k=5, snippet_window=4
    ).collect()
    assert {r["id"] for r in got} == {r["id"] for r in plain}
    texts = {
        r["id"]: r["text"]
        for r in engine.chunks("libA").select("id", "text").collect()
    }
    for r in got:
        toks = texts[r["id"]].lower().split(" ")
        window = toks[r["snip_start"] - 1 : r["snip_start"] - 1 + 4]
        assert r["snippet"] == " ".join(window)
        assert (
            sum(1 for t in window if t in ("python", "document"))
            == r["snip_hits"]
        )
        assert r["snip_hits"] >= 1  # every bm25 hit contains a query term


def test_search_collapsed_limits_per_key(engine):
    """At most per_key hits per metadata value; NULL-topic chunks would
    collapse together (libA chunks all carry a topic)."""
    got = engine.search_collapsed(
        "libA",
        collapse_key="topic",
        query_text="python document number 0 about python",
        k=5,
        per_key=1,
    ).collect()
    assert 0 < len(got) <= 5
    topics = [r["collapse_value"] for r in got]
    assert len(topics) == len(set(topics))  # per_key=1 -> all distinct
    assert all(r["collapse_rank"] == 1 for r in got)
    # collapsing never invents ids outside the retrieval pool
    pool = engine.search(
        "libA", query_text="python document number 0 about python", k=25
    ).collect()
    assert {r["id"] for r in got} <= {r["id"] for r in pool}


def test_search_autocut_prefix_of_ranked_result(engine):
    """Autocut returns a rank-exact prefix of the plain search result."""
    plain = sorted(
        engine.search(
            "libA", query_text="python document number 0 about python", k=5
        ).collect(),
        key=lambda r: (-r["similarity"], r["id"]),
    )
    got = engine.search_autocut(
        "libA", query_text="python document number 0 about python", k=5
    ).collect()
    assert 0 < len(got) <= len(plain)
    for i, r in enumerate(got):
        assert r["autocut_rank"] == i + 1
        assert r["id"] == plain[i]["id"]
    # the exact-match doc scores ~1.0, everything else far lower -> the
    # largest gap is right after rank 1 on this corpus
    assert got[0]["id"] == "c00"
    assert len(got) == 1


def test_search_expanded_rm3(engine):
    """RM3 through the keyword index: pass 1 feedback on the query, pass 2
    re-queries with index-derived expansion terms — which must exclude the
    query's own terms and score docs the literal query also reaches."""
    engine.index_library("libA", "bm25")
    meta = engine._index_meta("libA")
    postings, doclens, n_docs, avgdl = engine._read_text_index(meta[1])
    from vector_database_api_spark.operators import bm25 as bm25_mod

    terms = bm25_mod.tokenize_query("python document")
    fb = bm25_mod.bm25_search(
        postings, doclens, n_docs, avgdl, terms, k=10
    ).select("id")
    exp = bm25_mod.rm3_expansion(postings, doclens, terms, fb).collect()
    assert 0 < len(exp) <= 5
    assert not ({r["term"] for r in exp} & set(terms))
    assert all(r["wt"] > 0 for r in exp)

    got = engine.search_expanded("libA", query_text="python document", k=5)
    rows = got.collect()
    assert 0 < len(rows) <= 5
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert all(s > 0 for s in scores)


def test_search_expanded_filter_restricts_both_passes(engine):
    """The metadata filter applies to feedback retrieval AND the expanded
    re-query: every result satisfies it."""
    engine.index_library("libA", "bm25")
    got = engine.search_expanded(
        "libA",
        query_text="python document",
        k=10,
        metadata_filters={"topic": "ml"},
    ).collect()
    assert got
    assert all(int(r["id"][1:]) % 3 == 1 for r in got)  # ml chunks only


def test_search_expanded_requires_text_index(engine):
    engine.index_library("libA", "lsh")
    with pytest.raises(ValueError, match="bm25 or hybrid"):
        engine.search_expanded("libA", query_text="python document")


def test_search_expanded_selective_nqc_gate(engine):
    """min_nqc gates pass 2 (the selective-PRF query-drift guard): an
    unreachable threshold returns the PLAIN pass-1 top-k (id+score
    equal to search()); a zero threshold always expands (rows equal to
    the unconditional RM3 path); and the gate costs no extra pass —
    pass-1 rows are collected either way."""
    from vector_database_api_spark.operators import bm25 as bm25_mod

    engine.index_library("libA", "bm25")
    q = "python document"
    gated = engine.search_expanded(
        "libA", query_text=q, k=5, min_nqc=1e9
    ).collect()
    plain = engine.search("libA", query_text=q, k=5).collect()
    assert [(r["id"], r["score"]) for r in gated] == [
        (r["id"], r["score"]) for r in plain
    ]
    always = engine.search_expanded(
        "libA", query_text=q, k=5, min_nqc=0.0
    ).collect()
    uncond = engine.search_expanded("libA", query_text=q, k=5).collect()
    assert [(r["id"], r["score"]) for r in always] == [
        (r["id"], r["score"]) for r in uncond
    ]
    # the gate's NQC matches an independent recomputation on pass 1
    meta = engine._index_meta("libA")
    postings, doclens, n_docs, avgdl = engine._read_text_index(meta[1])
    scores = [
        r["score"]
        for r in bm25_mod.bm25_search(
            postings, doclens, n_docs, avgdl,
            bm25_mod.tokenize_query(q), k=10,
        ).collect()
    ]
    m = sum(scores) / len(scores)
    nqc = (sum((s - m) ** 2 for s in scores) / len(scores)) ** 0.5 / scores[0]
    # threshold just under the measured value expands; just over gates
    assert [
        (r["id"], r["score"])
        for r in engine.search_expanded(
            "libA", query_text=q, k=5, min_nqc=nqc * 0.99
        ).collect()
    ] == [(r["id"], r["score"]) for r in uncond]
    assert [
        (r["id"], r["score"])
        for r in engine.search_expanded(
            "libA", query_text=q, k=5, min_nqc=nqc * 1.01
        ).collect()
    ] == [(r["id"], r["score"]) for r in plain]


def test_search_after_paginates_brute_force(engine):
    """Two keyset pages == the top-2k in one shot, rank-exact, no overlap."""
    qt = "python document number 0 about python"
    page1 = engine.search("libA", query_text=qt, k=5).collect()
    last = page1[-1]
    page2 = engine.search_after(
        "libA",
        after_score=last["similarity"],
        after_id=last["id"],
        query_text=qt,
        k=5,
    ).collect()
    both = engine.search("libA", query_text=qt, k=10).collect()
    assert [r["id"] for r in page1 + page2] == [r["id"] for r in both]
    assert not {r["id"] for r in page1} & {r["id"] for r in page2}


def test_search_after_paginates_bm25(engine):
    engine.index_library("libA", "bm25")
    page1 = engine.search("libA", query_text="python document", k=3).collect()
    last = page1[-1]
    page2 = engine.search_after(
        "libA",
        after_score=last["score"],
        after_id=last["id"],
        query_text="python document",
        k=3,
    ).collect()
    both = engine.search("libA", query_text="python document", k=6).collect()
    assert [r["id"] for r in page1 + page2] == [r["id"] for r in both]


def test_search_after_rejects_ann_paths(engine):
    engine.index_library("libA", "lsh")
    with pytest.raises(ValueError, match="search_after supports"):
        engine.search_after(
            "libA", after_score=0.5, after_id="c00", query_text="x"
        )


def test_search_after_applies_similarity_threshold(engine):
    """r6 ADVICE: page 2 must honor the same F7 threshold contract as
    page 1 — a configured threshold can never resurface rows on page 2
    that page 1's contract filtered out.  Checked on both search_after
    paths (brute-force cursor on similarity, bm25 cursor on score)."""
    qt = "python document number 0 about python"
    page1 = engine.search("libA", query_text=qt, k=3).collect()
    last = page1[-1]
    unfiltered = engine.search_after(
        "libA", after_score=last["similarity"], after_id=last["id"],
        query_text=qt, k=5,
    ).collect()
    assert unfiltered
    cut = (unfiltered[0]["similarity"] + unfiltered[-1]["similarity"]) / 2
    got = engine.search_after(
        "libA", after_score=last["similarity"], after_id=last["id"],
        query_text=qt, k=5, similarity_threshold=cut,
    ).collect()
    assert len(got) < len(unfiltered)
    assert all(r["similarity"] >= cut for r in got)
    # impossible threshold -> empty page
    assert not engine.search_after(
        "libA", after_score=last["similarity"], after_id=last["id"],
        query_text=qt, k=5, similarity_threshold=2.0,
    ).collect()

    engine.index_library("libA", "bm25")
    kp1 = engine.search("libA", query_text="python document", k=3).collect()
    klast = kp1[-1]
    kw = engine.search_after(
        "libA", after_score=klast["score"], after_id=klast["id"],
        query_text="python document", k=3,
    ).collect()
    assert kw
    kcut = kw[0]["score"] + 1.0  # above every page-2 score
    assert not engine.search_after(
        "libA", after_score=klast["score"], after_id=klast["id"],
        query_text="python document", k=3, similarity_threshold=kcut,
    ).collect()


def test_search_autocut_does_not_mutate_result_schema(engine):
    """r6 ADVICE: StructType.add mutates in place — search_autocut must
    build a FRESH schema, leaving the dispatched search's schema object
    without a phantom autocut_rank field."""
    qt = "python document number 0 about python"
    result = engine.search("libA", query_text=qt, k=5)
    before = [f.name for f in result.schema.fields]
    got = engine.search_autocut("libA", query_text=qt, k=5).collect()
    assert got and got[0]["autocut_rank"] == 1
    # schema captured from an equivalent dispatch is untouched
    again = engine.search("libA", query_text=qt, k=5)
    assert [f.name for f in again.schema.fields] == before
    assert "autocut_rank" not in [f.name for f in again.schema.fields]


def test_search_mode_maxscore_equals_or_and_mode_and_is_conjunctive(engine):
    """r6 verdict task 5: MaxScore and conjunctive retrieval served
    through VectorEngine.search.  maxscore is dynamic PRUNING — results
    must equal mode="or" exactly (ids and scores: both paths add the
    same per-term contributions in query-term order, registry twin
    bm25_maxscore_topk hash-proves the algorithm); mode="and" keeps
    exactly the mode="or"-reachable docs containing EVERY query term,
    with identical scores (registry twin bm25_conjunctive_topk)."""
    engine.index_library("libA", "bm25")
    qt = "python document"
    plain = engine.search("libA", query_text=qt, k=8).collect()
    assert plain

    for mode in ("maxscore", "blockmax"):
        pruned = engine.search("libA", query_text=qt, k=8, mode=mode).collect()
        assert [tuple(r) for r in pruned] == [tuple(r) for r in plain], mode

    conj = engine.search("libA", query_text=qt, k=8, mode="and").collect()
    assert conj
    texts = {
        r["id"]: r["text"].lower().split(" ")
        for r in engine.chunks("libA").collect()
        if r["text"] is not None
    }
    terms = set(qt.split(" "))
    for r in conj:
        assert terms <= set(texts[r["id"]]), r["id"]
    # conjunctive == the or-ranked list restricted to all-terms docs
    or_scores = {r["id"]: r["score"] for r in plain}
    for r in conj:
        if r["id"] in or_scores:
            assert r["score"] == or_scores[r["id"]]
    # a term missing from the corpus empties the conjunction but not the
    # disjunction
    assert not engine.search(
        "libA", query_text="python zzzmissingterm", k=8, mode="and"
    ).collect()
    assert engine.search(
        "libA", query_text="python zzzmissingterm", k=8, mode="or"
    ).collect()

    # filter-then-search composes with both modes
    f_or = engine.search(
        "libA", query_text=qt, k=8, metadata_filters={"topic": "ml"}
    ).collect()
    f_ms = engine.search(
        "libA", query_text=qt, k=8, metadata_filters={"topic": "ml"},
        mode="maxscore",
    ).collect()
    assert [r["id"] for r in f_ms] == [r["id"] for r in f_or]


def test_search_mode_validation(engine):
    with pytest.raises(ValueError, match="mode must be"):
        engine.search("libA", query_text="x", mode="nope")
    engine.index_library("libA", "lsh")
    with pytest.raises(ValueError, match="needs a built bm25 index"):
        engine.search("libA", query_text="x", mode="maxscore")
    with pytest.raises(ValueError, match="needs a built bm25 index"):
        engine.search("libA", query_text="x", mode="and")


def test_search_timed_telemetry(engine):
    """Reference-parity per-request telemetry (search_service.py:59-66):
    search_timed returns the same rows as search() plus a metrics dict
    whose counters are computed from those rows, and the bounded request
    log is queryable as a DataFrame."""
    qt = "python document number 0 about python"
    plain = engine.search("libA", query_text=qt, k=5).collect()
    rows, m = engine.search_timed("libA", query_text=qt, k=5)
    assert [r["id"] for r in rows] == [r["id"] for r in plain]
    assert m["execution_time_ms"] > 0
    assert m["n_results"] == len(rows) == 5
    assert m["best_score"] >= m["worst_score"]
    assert m["mode"] == "or"

    # empty result: counters still defined, best/worst NULL
    _, m_empty = engine.search_timed(
        "libA", query_text=qt, k=5, similarity_threshold=2.0
    )
    assert m_empty["n_results"] == 0
    assert m_empty["best_score"] is None

    log = engine.search_metrics_df()
    got = log.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("execution_time_ms").alias("avg_ms"),
    ).collect()[0]
    assert got["n"] == 2
    assert got["avg_ms"] > 0

    # the ring is bounded
    engine._search_metrics.extend(
        [dict(m)] * (engine.SEARCH_METRICS_CAP + 10)
    )
    engine.search_timed("libA", query_text=qt, k=1)
    assert len(engine._search_metrics) == engine.SEARCH_METRICS_CAP


def test_search_after_conjunctive_and_maxscore_pages(engine):
    """Keyset pagination composes with both r7 modes: two conjunctive
    pages == the conjunctive top-2k in one shot, and mode='maxscore'
    (an accepted name of 'or') returns pages id-identical to mode='or'
    pagination."""
    engine.index_library("libA", "bm25")
    qt = "python document"
    both = engine.search("libA", query_text=qt, k=6, mode="and").collect()
    assert both
    page1 = engine.search("libA", query_text=qt, k=3, mode="and").collect()
    last = page1[-1]
    page2 = engine.search_after(
        "libA", after_score=last["score"], after_id=last["id"],
        query_text=qt, k=3, mode="and",
    ).collect()
    assert [r["id"] for r in page1 + page2] == [r["id"] for r in both]

    or_p1 = engine.search("libA", query_text=qt, k=3).collect()
    olast = or_p1[-1]
    or_p2 = engine.search_after(
        "libA", after_score=olast["score"], after_id=olast["id"],
        query_text=qt, k=3,
    ).collect()
    ms_p2 = engine.search_after(
        "libA", after_score=olast["score"], after_id=olast["id"],
        query_text=qt, k=3, mode="maxscore",
    ).collect()
    assert [r["id"] for r in ms_p2] == [r["id"] for r in or_p2]
    for a, b in zip(ms_p2, or_p2):
        assert abs(a["score"] - b["score"]) < 1e-9


def test_presentation_wrappers_compose_with_mode(engine):
    """mode='and'/'maxscore' compose through the presentation surface:
    snippets and autocut over a conjunctive/maxscore retrieval carry the
    restricted candidate set; maxscore-mode presentation equals
    or-mode (pruning lossless end-to-end)."""
    engine.index_library("libA", "bm25")
    qt = "python document"
    snip_and = engine.search_with_snippets(
        "libA", query_text=qt, k=5, mode="and"
    ).collect()
    assert snip_and
    and_ids = {
        r["id"] for r in engine.search("libA", query_text=qt, k=5, mode="and").collect()
    }
    assert {r["id"] for r in snip_and} <= and_ids

    cut_or = engine.search_autocut("libA", query_text=qt, k=5).collect()
    cut_ms = engine.search_autocut(
        "libA", query_text=qt, k=5, mode="maxscore"
    ).collect()
    assert [r["id"] for r in cut_ms] == [r["id"] for r in cut_or]

    col_ms = engine.search_collapsed(
        "libA", "topic", query_text=qt, k=5, mode="maxscore"
    ).collect()
    col_or = engine.search_collapsed(
        "libA", "topic", query_text=qt, k=5
    ).collect()
    assert [r["id"] for r in col_ms] == [r["id"] for r in col_or]


def test_search_mode_blockmax_equals_or_and_paginates(engine):
    """mode="blockmax" (an accepted name of "or") served through
    VectorEngine.search: results equal mode="or" exactly,
    filter-then-search composes, and pagination pages are id-identical
    to mode='or' pages."""
    engine.index_library("libA", "bm25")
    qt = "python document"
    plain = engine.search("libA", query_text=qt, k=8).collect()
    assert plain
    bmw = engine.search("libA", query_text=qt, k=8, mode="blockmax").collect()
    assert [r["id"] for r in bmw] == [r["id"] for r in plain]
    for a, b in zip(bmw, plain):
        assert abs(a["score"] - b["score"]) < 1e-9

    f_or = engine.search(
        "libA", query_text=qt, k=8, metadata_filters={"topic": "ml"}
    ).collect()
    f_bw = engine.search(
        "libA", query_text=qt, k=8, metadata_filters={"topic": "ml"},
        mode="blockmax",
    ).collect()
    assert [r["id"] for r in f_bw] == [r["id"] for r in f_or]

    or_p1 = engine.search("libA", query_text=qt, k=3).collect()
    olast = or_p1[-1]
    or_p2 = engine.search_after(
        "libA", after_score=olast["score"], after_id=olast["id"],
        query_text=qt, k=3,
    ).collect()
    bw_p2 = engine.search_after(
        "libA", after_score=olast["score"], after_id=olast["id"],
        query_text=qt, k=3, mode="blockmax",
    ).collect()
    assert [r["id"] for r in bw_p2] == [r["id"] for r in or_p2]


def test_search_ranking_ql(engine):
    """Dirichlet query-likelihood ranking served through
    VectorEngine.search(ranking="ql"): scores match an independent
    Python recomputation of the direct formula (the served path uses
    the Lucene decomposition, so this pins the algebra), conjunctive
    mode composes, keyset pagination is consistent, and the
    mode-matrix validation rejects QL + BM25-bound pruning."""
    import math

    engine.index_library("libA", "bm25")
    qt = "python document"
    res = engine.search("libA", query_text=qt, k=8, ranking="ql").collect()
    assert res

    texts = {
        r["id"]: r["text"].lower().split(" ")
        for r in engine.chunks("libA").collect()
        if r["text"] is not None
    }
    terms = [t for t in dict.fromkeys(qt.split(" ")) if t]
    total = sum(len(v) for v in texts.values())
    cf = {t: sum(v.count(t) for v in texts.values()) for t in terms}
    mu = 2000.0

    def ql(toks):
        return sum(
            math.log(
                (toks.count(t) + mu * (cf[t] / total)) / (len(toks) + mu)
            )
            for t in terms
            if cf[t] > 0
        )

    want = sorted(
        ((ql(v), i) for i, v in texts.items() if any(t in v for t in terms)),
        key=lambda x: (-x[0], x[1]),
    )[:8]
    assert [r["id"] for r in res] == [i for _, i in want]
    for r, (sc, _) in zip(res, want):
        assert abs(r["score"] - sc) < 1e-9

    conj = engine.search(
        "libA", query_text=qt, k=8, mode="and", ranking="ql"
    ).collect()
    assert conj
    for r in conj:
        assert set(terms) <= set(texts[r["id"]])

    p1 = engine.search("libA", query_text=qt, k=4, ranking="ql").collect()
    last = p1[-1]
    p2 = engine.search_after(
        "libA", after_score=last["score"], after_id=last["id"],
        query_text=qt, k=4, ranking="ql",
    ).collect()
    both = engine.search("libA", query_text=qt, k=8, ranking="ql").collect()
    assert [r["id"] for r in p1 + p2] == [r["id"] for r in both]

    with pytest.raises(ValueError, match="ranking must be"):
        engine.search("libA", query_text=qt, ranking="nope")
    with pytest.raises(ValueError, match="BM25 bounds"):
        engine.search("libA", query_text=qt, ranking="ql", mode="maxscore")
    with pytest.raises(ValueError, match="needs a built bm25"):
        engine.search("libB", query_text=qt, ranking="ql")


def test_hybrid_batch_matches_per_request_search(engine):
    """search_hybrid_batch (one data-parallel plan for N requests, the
    serving twin of registry `hybrid_batch_rrf_topk`) must return, per
    qid, EXACTLY what N independent search() calls on the hybrid index
    return: same ids, same leg ranks, bit-equal rrf (both sides are
    1/(60+r) + 1/(60+r) in the same order), same similarity doubles.
    Also pins the filtered form, the text-less (vector-only) request,
    the threshold contract, and the non-hybrid rejection."""
    engine.index_library("libA", "hybrid")
    reqs = [
        ("python document number 0 about python", None),
        ("ml document number 1 about ml", None),
        ("databases", None),
        (None, [float(x) for x in text_to_vector("python probe", 16)]),
    ]
    batch = engine.search_hybrid_batch("libA", reqs, k=5).collect()
    by_qid: dict[int, list] = {}
    for r in sorted(batch, key=lambda r: (r["qid"], r["rank"])):
        by_qid.setdefault(r["qid"], []).append(r)
    assert set(by_qid) == {0, 1, 2, 3}

    for qid, (qt, qe) in enumerate(reqs):
        single = engine.search(
            "libA", query_text=qt, query_embedding=qe, k=5
        ).collect()
        got = by_qid[qid]
        assert [r["id"] for r in got] == [r["id"] for r in single], qid
        for g, s in zip(got, single):
            assert g["r_kw"] == s["r_kw"] and g["r_vec"] == s["r_vec"], qid
            assert g["rrf"] == s["rrf"], qid  # bit-equal doubles
            if s["similarity"] is None:
                assert g["similarity"] is None
            else:
                assert g["similarity"] == s["similarity"], qid

    # filtered batch == filtered singles (both legs restricted pre-cut)
    flt = {"topic": "ml"}
    fbatch = engine.search_hybrid_batch(
        "libA", reqs[:2], k=5, metadata_filters=flt
    ).collect()
    for qid in (0, 1):
        single = engine.search(
            "libA", query_text=reqs[qid][0], k=5, metadata_filters=flt
        ).collect()
        rows = sorted(
            (r for r in fbatch if r["qid"] == qid), key=lambda r: r["rank"]
        )
        assert [(r["id"], r["r_kw"], r["r_vec"], r["rrf"]) for r in rows] == [
            (r["id"], r["r_kw"], r["r_vec"], r["rrf"]) for r in single
        ], qid
        assert all(int(r["id"][1:]) % 3 == 1 for r in rows)  # ml chunks

    # threshold drops keyword-only (NULL-similarity) docs, as in search()
    thr = engine.search_hybrid_batch(
        "libA", reqs[:1], k=5, similarity_threshold=-1.0
    ).collect()
    assert thr and all(r["similarity"] is not None for r in thr)

    # contract errors
    with pytest.raises(ValueError, match="hybrid"):
        engine.search_hybrid_batch("libB", reqs, k=5)
    with pytest.raises(ValueError, match="non-empty"):
        engine.search_hybrid_batch("libA", [], k=5)
    # r7 ADVICE: a (None, None) request must raise like search() does,
    # not silently embed the empty string
    with pytest.raises(ValueError, match="text or embedding"):
        engine.search_hybrid_batch("libA", reqs[:1] + [(None, None)], k=5)


def test_export_ltr_features_batch(engine):
    """export_ltr_features (the served twin of registry
    `ltr_feature_matrix_batch`): the pool is the union of the two
    k_pool legs per request, bm25 is run-censored (NULL outside the
    keyword top-k_pool), text-side features are exact, and the leg
    ranks agree with the engine's own retrievers."""
    engine.index_library("libA", "hybrid")
    reqs = [
        ("python document number 0 about python", None),
        (None, [float(x) for x in text_to_vector("python probe", 16)]),
    ]
    out = engine.export_ltr_features("libA", reqs, k_pool=5).collect()
    by_qid: dict[int, list] = {}
    for r in out:
        by_qid.setdefault(r["qid"], []).append(r)
    assert set(by_qid) == {0, 1}

    for qid, rows in by_qid.items():
        # pool = union of two <=5 legs
        assert 5 <= len(rows) <= 10
        kw_rows = [r for r in rows if r["r_kw"] is not None]
        vec_rows = [r for r in rows if r["r_vec"] is not None]
        assert sorted(r["r_kw"] for r in kw_rows) == list(
            range(1, len(kw_rows) + 1)
        )
        assert sorted(r["r_vec"] for r in vec_rows) == list(
            range(1, len(vec_rows) + 1)
        )
        for r in rows:
            # run-censored bm25: present iff the doc is in the kw leg
            assert (r["bm25"] is not None) == (r["r_kw"] is not None), r
            # exact text evidence, never NULL
            assert r["dl"] is not None and r["dl"] > 0
            assert r["tf_sum"] is not None and r["n_hit_terms"] is not None
            assert r["cos_sim"] is not None and r["n_chars"] > 0
            # a keyword-recalled doc must actually contain query terms
            if r["r_kw"] is not None and qid == 0:
                assert r["n_hit_terms"] > 0 and r["tf_sum"] > 0

    # the vector-only request has an empty term list: zero evidence is
    # a real zero, not missing
    assert all(r["tf_sum"] == 0 and r["n_hit_terms"] == 0 for r in by_qid[1])

    # dense-leg parity: the export's r_vec ordering == the engine's own
    # top-5 vector search
    dense = engine.search(
        "libA", query_embedding=reqs[1][1], k=5
    ).collect()
    got_vec = sorted(
        (r["r_vec"], r["id"]) for r in by_qid[1] if r["r_vec"] is not None
    )
    assert [i for _, i in got_vec] == [r["id"] for r in dense][: len(got_vec)]

    # contract errors
    with pytest.raises(ValueError, match="text or embedding"):
        engine.export_ltr_features("libA", [(None, None)])
    with pytest.raises(ValueError, match="non-empty"):
        engine.export_ltr_features("libA", [])
    with pytest.raises(ValueError, match="bm25 or hybrid"):
        engine.export_ltr_features("libB", reqs)

    # r10 pool lifecycle: the pool is persist()-materialized (never a
    # driver collect), exactly ONE pool stays cached, and a new export
    # unpersists the previous call's (a long-lived engine must not
    # accumulate cached pools)
    p1 = engine._ltr_pool
    assert p1 is not None and p1.storageLevel.useMemory
    out2 = engine.export_ltr_features("libA", reqs[:1], k_pool=3).collect()
    assert out2
    p2 = engine._ltr_pool
    assert p2 is not p1 and p2.storageLevel.useMemory
    assert not p1.storageLevel.useMemory  # previous slot released


def test_evaluate_search_matches_python_recompute(engine):
    """evaluate_search (served twin of the ir_eval registry pair, qrels
    as caller input): metrics over the engine's own fused top-10 must
    agree with an independent pure-Python trec_eval-style recompute;
    unjudged retrieved docs count rel 0; a request with no judged docs
    reports an all-zero row; rel grades are validated."""
    import math

    engine.index_library("libA", "hybrid")
    reqs = [
        ("python document number 0 about python", None),
        ("ml document number 1 about ml", None),
    ]
    qrels = [
        (0, "c00", 3),
        (0, "c03", 2),
        (0, "c06", 1),
        (0, "c99", 2),  # judged relevant but never retrievable
        (1, "c01", 3),
        (1, "c04", 2),
    ]
    got = {
        r["qid"]: r
        for r in engine.evaluate_search("libA", reqs, qrels).collect()
    }
    by_qid: dict[int, list[str]] = {}
    for r in sorted(
        engine.search_hybrid_batch("libA", reqs, k=10).collect(),
        key=lambda r: (r["qid"], r["rank"]),
    ):
        by_qid.setdefault(r["qid"], []).append(r["id"])
    qrels_map: dict[int, dict[str, int]] = {}
    for q_, i, rel in qrels:
        qrels_map.setdefault(q_, {})[i] = rel
    for qid in (0, 1):
        rel = qrels_map[qid]
        ranked = [rel.get(d, 0) for d in by_qid[qid]]
        graded = sorted((g for g in rel.values() if g > 0), reverse=True)
        n_rel = sum(1 for g in rel.values() if g >= 2)
        dcg = sum(
            (2.0**g - 1.0) / math.log(i + 2) for i, g in enumerate(ranked)
        )
        idcg = sum(
            (2.0**g - 1.0) / math.log(i + 2)
            for i, g in enumerate(graded[:10])
        )
        hits = [1 if g >= 2 else 0 for g in ranked]
        mrr = next((1.0 / (i + 1) for i, h in enumerate(hits) if h), 0.0)
        ap = (
            sum(
                sum(hits[: i + 1]) / (i + 1.0)
                for i, h in enumerate(hits)
                if h
            )
            / min(n_rel, 10)
            if n_rel
            else 0.0
        )
        m = got[qid]
        assert m["n_rel"] == n_rel
        assert m["ndcg10"] == pytest.approx(
            dcg / idcg if idcg else 0.0, abs=2e-6
        )
        assert m["mrr10"] == pytest.approx(mrr, abs=2e-6)
        assert m["map10"] == pytest.approx(ap, abs=2e-6)
        assert m["p10"] == pytest.approx(sum(hits) / 10.0, abs=2e-6)
        assert m["recall10"] == pytest.approx(
            sum(hits) / n_rel if n_rel else 0.0, abs=2e-6
        )

    # request with zero judged docs: an all-zero row, never NULL-poisoned
    only_q0 = engine.evaluate_search("libA", reqs, [(0, "c00", 3)]).collect()
    z = next(r for r in only_q0 if r["qid"] == 1)
    assert (z["n_rel"], z["ndcg10"], z["mrr10"], z["recall10"]) == (
        0,
        0.0,
        0.0,
        0.0,
    )

    with pytest.raises(ValueError, match="non-empty"):
        engine.evaluate_search("libA", reqs, [])
    with pytest.raises(ValueError, match="rel must be 0-3"):
        engine.evaluate_search("libA", reqs, [(0, "c00", 7)])

    # duplicate judgments collapse to the max grade per (qid, id) —
    # repeated identical rows are a no-op and conflicting grades take
    # the max, so denominators (n_rel/n1/n2/n3) never inflate and the
    # run join never fans out (r8 ADVICE)
    dup_qrels = qrels + [(0, "c00", 3), (0, "c00", 1), (1, "c04", 2)]
    base = sorted(
        engine.evaluate_search("libA", reqs, qrels).collect(),
        key=lambda r: r["qid"],
    )
    dup = sorted(
        engine.evaluate_search("libA", reqs, dup_qrels).collect(),
        key=lambda r: r["qid"],
    )
    assert [r.asDict() for r in base] == [r.asDict() for r in dup]


def test_batch_requests_reject_nonfinite_embeddings(engine):
    """r9 review: the batched dense legs run through grouped_topk,
    whose NaN fail-fast would abort the WHOLE batch job mid-flight on
    one bad vector.  Intake validation must therefore reject a
    non-finite caller-supplied embedding per request, naming the qid,
    before any job is launched — every batched entry point shares
    _batch_request_inputs."""
    import pytest

    engine.index_library("libA", "hybrid")
    dim = engine.config.embedding_dim
    good = [0.1] * dim
    for bad_val in (float("nan"), float("inf"), float("-inf")):
        bad = [0.1] * dim
        bad[3] = bad_val
        with pytest.raises(ValueError, match="request 1: .*non-finite"):
            engine.search_hybrid_batch(
                "libA", [(None, good), (None, bad)], k=5
            )
    # r9 ADVICE: a non-NUMERIC element (None/str) must raise the same
    # per-request ValueError naming the qid, not an opaque TypeError
    # from the float() coercion
    for bad_val in (None, "x"):
        bad = [0.1] * dim
        bad[3] = bad_val
        with pytest.raises(ValueError, match="request 1: .*non-numeric"):
            engine.search_hybrid_batch(
                "libA", [(None, good), (None, bad)], k=5
            )
    # finite requests still flow
    out = engine.search_hybrid_batch(
        "libA", [(None, good), ("python", None)], k=3
    ).collect()
    assert {r["qid"] for r in out} == {0, 1}
