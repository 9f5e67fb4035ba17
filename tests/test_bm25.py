"""BM25 inverted-index operator: build shape, scoring math (hand-checked
against the Lucene-flavored formula the oracle-checked queries.py family
uses), filter-then-search candidates, and RRF fusion."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from vector_database_api_spark.operators import bm25 as bm25_mod


@pytest.fixture()
def tiny_index(spark):
    docs = spark.createDataFrame(
        [
            ("a", "x y"),
            ("b", "x x z"),
            ("c", "y z z"),
            ("d", None),  # NULL text never enters the index
        ],
        "id string, text string",
    )
    return bm25_mod.build_bm25_index(docs)


def test_build_shapes(tiny_index):
    postings, doclens, stats = tiny_index
    p = {(r["term"], r["id"]): r["tf"] for r in postings.collect()}
    assert p == {
        ("x", "a"): 1,
        ("x", "b"): 2,
        ("y", "a"): 1,
        ("y", "c"): 1,
        ("z", "b"): 1,
        ("z", "c"): 2,
    }
    dl = {r["id"]: r["dl"] for r in doclens.collect()}
    assert dl == {"a": 2, "b": 3, "c": 3}
    s = stats.first()
    assert s["n_docs"] == 3
    assert s["avgdl"] == pytest.approx(8 / 3)


def _expected(tf: int, df: int, dl: int, n: int, avgdl: float) -> float:
    idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
    return idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))


def test_score_math_hand_checked(tiny_index):
    postings, doclens, _ = tiny_index
    got = {
        r["id"]: r["score"]
        for r in bm25_mod.bm25_search(
            postings, doclens, 3, 8 / 3, ["x", "z"], k=10
        ).collect()
    }
    n, avgdl = 3, 8 / 3
    assert got["a"] == pytest.approx(_expected(1, 2, 2, n, avgdl))
    assert got["b"] == pytest.approx(
        _expected(2, 2, 3, n, avgdl) + _expected(1, 2, 3, n, avgdl)
    )
    assert got["c"] == pytest.approx(_expected(2, 2, 3, n, avgdl))
    # b hits both terms and must outrank the single-term docs
    assert got["b"] > got["c"] > 0


def test_duplicate_and_empty_query_terms(tiny_index):
    postings, doclens, _ = tiny_index
    once = bm25_mod.bm25_search(postings, doclens, 3, 8 / 3, ["x"], k=10)
    twice = bm25_mod.bm25_search(
        postings, doclens, 3, 8 / 3, ["x", "", "x"], k=10
    )
    assert {(r["id"], r["score"]) for r in once.collect()} == {
        (r["id"], r["score"]) for r in twice.collect()
    }
    assert (
        bm25_mod.bm25_search(postings, doclens, 3, 8 / 3, [""], k=10).count()
        == 0
    )


def test_filter_then_search_keeps_corpus_df(tiny_index, spark):
    """Candidate restriction must not change idf: df stays corpus-level,
    so a doc's score is identical with and without the filter — only
    WHICH docs may appear changes (reference filter-then-search)."""
    postings, doclens, _ = tiny_index
    unfiltered = {
        r["id"]: r["score"]
        for r in bm25_mod.bm25_search(
            postings, doclens, 3, 8 / 3, ["x", "z"], k=10
        ).collect()
    }
    cand = spark.createDataFrame([("b",)], "id string")
    got = bm25_mod.bm25_search(
        postings, doclens, 3, 8 / 3, ["x", "z"], k=10, candidate_ids=cand
    ).collect()
    assert [r["id"] for r in got] == ["b"]
    assert got[0]["score"] == pytest.approx(unfiltered["b"])


def test_tokenize_query():
    assert bm25_mod.tokenize_query("Foo  bar foo") == ["foo", "bar"]
    assert bm25_mod.tokenize_query("") == []


def test_rrf_fuse_math_and_ties():
    kw = [("a", 9.0), ("b", 5.0)]
    vec = [("b", 0.9), ("c", 0.8)]
    fused = bm25_mod.rrf_fuse(kw, vec, rrf_k=60)
    as_map = {d: (rk, rv, raw) for d, rk, rv, raw in fused}
    assert as_map["a"] == (1, None, 1 / 61)
    assert as_map["b"] == (2, 1, 1 / 62 + 1 / 61)
    assert as_map["c"] == (None, 2, 1 / 62)
    # b hits both legs -> first; a vs c tie-break is on raw rrf (1/61 > 1/62)
    assert [d for d, *_ in fused] == ["b", "a", "c"]
    # equal-rrf tie (same rank in opposite legs) breaks by id
    fused2 = bm25_mod.rrf_fuse([("q", 1.0)], [("p", 1.0)], rrf_k=60)
    assert [d for d, *_ in fused2] == ["p", "q"]


def test_minmax_normalize():
    ranked = [("a", 9.0), ("b", 7.0), ("c", 5.0)]
    norms = bm25_mod.minmax_normalize(ranked)
    assert norms == {"a": 1.0, "b": 0.5, "c": 0.0}
    # constant-score leg (incl. k=1): everything normalizes to 1.0, not 0/0
    assert bm25_mod.minmax_normalize([("x", 3.0), ("y", 3.0)]) == {
        "x": 1.0,
        "y": 1.0,
    }
    assert bm25_mod.minmax_normalize([("only", 42.0)]) == {"only": 1.0}
    assert bm25_mod.minmax_normalize([]) == {}


def test_linear_fuse_weights_and_missing_legs():
    kw = [("a", 9.0), ("b", 5.0)]  # norms a=1.0, b=0.0
    vec = [("b", 0.9), ("c", 0.5)]  # norms b=1.0, c=0.0
    fused = bm25_mod.linear_fuse(kw, vec, w_kw=0.6, w_vec=0.4)
    as_map = {d: (nk, nv, raw) for d, nk, nv, raw in fused}
    assert as_map["a"] == (1.0, None, 0.6)  # missing vec leg -> 0.0, norm None
    assert as_map["b"] == (0.0, 1.0, 0.4)
    assert as_map["c"] == (None, 0.0, 0.0)
    assert [d for d, *_ in fused] == ["a", "b", "c"]
    # tie on fused raw breaks by id
    tied = bm25_mod.linear_fuse([("z", 1.0)], [("y", 1.0)], w_kw=0.5, w_vec=0.5)
    assert [d for d, *_ in tied] == ["y", "z"]


def test_combmnz_fuse_consensus_boost():
    kw = [("a", 9.0), ("b", 5.0)]  # norms a=1.0, b=0.0
    vec = [("b", 0.9), ("c", 0.5)]  # norms b=1.0, c=0.0
    fused = bm25_mod.combmnz_fuse(kw, vec)
    as_map = {d: (hits, raw) for d, hits, raw in fused}
    # b's consensus (2 legs) doubles its normalized sum: (0.0 + 1.0) * 2
    assert as_map["b"] == (2, 2.0)
    assert as_map["a"] == (1, 1.0)
    assert as_map["c"] == (1, 0.0)
    assert [d for d, *_ in fused] == ["b", "a", "c"]


def test_streaming_bm25_index_matches_batch(spark, tmp_path):
    """M1 keyword-index maintenance: streamed postings/doclens equal a
    batch build over the same chunks, and the served search over the
    streamed index returns the same top-k as over the batch index."""
    import vector_database_api_spark.streaming.maintenance as M

    rows = [
        (f"c{i:02d}", "libS", f"d{i}", f"topic{i % 3} word{i} shared text", None, {})
        for i in range(24)
    ]
    src = str(tmp_path / "src")
    df = spark.createDataFrame(rows, M.CHUNK_INGEST_SCHEMA)
    for lo, hi in [(0, 8), (8, 16), (16, 24)]:
        df.filter(
            (F.expr("cast(substring(id, 2, 2) as int)") >= lo)
            & (F.expr("cast(substring(id, 2, 2) as int)") < hi)
        ).repartition(1).write.mode("append").parquet(src)

    index_dir = str(tmp_path / "kw_index")
    chunks_dir = str(tmp_path / "chunks")
    M.incremental_bm25_index_maintenance(
        M.read_chunk_stream(spark, src),
        index_dir,
        chunks_dir,
        str(tmp_path / "ckpt"),
        embedding_dim=16,
    ).awaitTermination(300)

    got_p = spark.read.parquet(index_dir + "/postings")
    got_d = spark.read.parquet(index_dir + "/doclens")
    want_p, want_d, _ = bm25_mod.build_bm25_index(df)
    key = lambda df_, cols: {tuple(r[c] for c in cols) for r in df_.collect()}
    assert key(got_p, ["term", "id", "tf"]) == key(want_p, ["term", "id", "tf"])
    assert key(got_d, ["id", "dl"]) == key(want_d, ["id", "dl"])

    n_docs, avgdl = M.bm25_index_serving_stats(spark, index_dir)
    assert n_docs == 24
    # served search over the streamed index == over the batch build
    terms = ["shared", "word3"]
    a = bm25_mod.bm25_search(got_p, got_d, n_docs, avgdl, terms, k=5).collect()
    b = bm25_mod.bm25_search(want_p, want_d, n_docs, avgdl, terms, k=5).collect()
    assert [(r["id"], r["score"]) for r in a] == [
        (r["id"], r["score"]) for r in b
    ]
    assert a[0]["id"] == "c03"  # the unique word03 doc leads
    # QL serving needs nothing beyond the same maintained artifacts
    # (cf_t from the term-filtered postings, total_tokens from the
    # stats) — streamed index == batch index under the LM model too
    qa = bm25_mod.ql_dirichlet_search(
        got_p, got_d, float(n_docs) * avgdl, terms, k=5
    ).collect()
    qb = bm25_mod.ql_dirichlet_search(
        want_p, want_d, float(n_docs) * avgdl, terms, k=5
    ).collect()
    assert [(r["id"], r["score"]) for r in qa] == [
        (r["id"], r["score"]) for r in qb
    ]


def test_conjunctive_operator_semantics(spark):
    """operator='and' == the 'or' result restricted to docs matching
    every term, scores unchanged; an absent term empties the AND but not
    the OR; invalid operator raises."""
    docs = spark.createDataFrame(
        [("a", "x y z"), ("b", "x x y"), ("c", "y z"), ("d", "x")],
        "id string, text string",
    )
    postings, doclens, stats = bm25_mod.build_bm25_index(docs)
    s = stats.first()
    n, avgdl = int(s["n_docs"]), float(s["avgdl"])
    disj = bm25_mod.bm25_search(postings, doclens, n, avgdl, ["x", "y"], k=10).collect()
    conj = bm25_mod.bm25_search(
        postings, doclens, n, avgdl, ["x", "y"], k=10, operator="and"
    ).collect()
    assert {r["id"] for r in conj} == {"a", "b"}
    disj_scores = {r["id"]: r["score"] for r in disj}
    for r in conj:
        assert r["score"] == disj_scores[r["id"]]
    assert not bm25_mod.bm25_search(
        postings, doclens, n, avgdl, ["x", "absent"], k=10, operator="and"
    ).collect()
    with pytest.raises(ValueError, match="operator"):
        bm25_mod.bm25_search(postings, doclens, n, avgdl, ["x"], operator="nor")


def test_ql_dirichlet_matches_direct_formula_on_random_corpora(spark):
    """Decomposition sweep: ql_dirichlet_search (Lucene LMDirichlet
    decomposition over matched postings) must reproduce the DIRECT
    formula sum_t ln((tf + mu*p_t)/(dl + mu)) computed in Python, on
    seeded random corpora for adversarial term sets — single term, all
    common, rare+common, corpus-absent term (dropped from the model),
    all-absent (empty result), conjunctive mode, and a keyset cursor."""
    import math
    import random

    rng = random.Random(99)
    vocab = [f"w{i}" for i in range(10)]
    rare = "rareterm"
    rows = []
    for i in range(80):
        n = rng.randint(1, 10)
        words = [vocab[min(int(rng.expovariate(0.5)), 9)] for _ in range(n)]
        if i % 13 == 0:
            words.append(rare)
        rows.append((f"d{i:03d}", " ".join(words)))
    docs = spark.createDataFrame(rows, "id string, text string")
    postings, doclens, stats = bm25_mod.build_bm25_index(docs)
    postings, doclens = postings.persist(), doclens.persist()
    s = stats.first()
    total = float(s["n_docs"]) * float(s["avgdl"])
    toks = {i: t.split(" ") for i, t in rows}
    cf = {}
    for t in set(w for ws in toks.values() for w in ws):
        cf[t] = sum(ws.count(t) for ws in toks.values())
    mu = 2000.0

    def direct(terms, operator="or"):
        model = [t for t in dict.fromkeys(terms) if cf.get(t, 0) > 0]
        if not model:
            return []
        out = []
        for i, ws in toks.items():
            matched = sum(1 for t in model if t in ws)
            need = len([t for t in dict.fromkeys(terms) if t])
            if matched == 0 or (operator == "and" and matched < need):
                continue
            sc = sum(
                math.log(
                    (ws.count(t) + mu * (cf[t] / total)) / (len(ws) + mu)
                )
                for t in model
            )
            out.append((i, sc))
        out.sort(key=lambda x: (-x[1], x[0]))
        return out

    term_sets = [
        [rare],
        ["w0", "w1", "w2"],
        [rare, "w0", "w4"],
        ["zzz_absent", "w3"],
        ["zzz_absent"],
    ]
    for terms in term_sets:
        for op in ("or", "and"):
            got = bm25_mod.ql_dirichlet_search(
                postings, doclens, total, terms, k=10, operator=op
            ).collect()
            want = direct(terms, op)[:10]
            assert [r["id"] for r in got] == [i for i, _ in want], (terms, op)
            for g, (_, sc) in zip(got, want):
                assert abs(g["score"] - sc) < 1e-9

    # keyset cursor: page 2 strictly-after page 1's last row == the
    # one-shot ranking's rows 6..10
    one_shot = bm25_mod.ql_dirichlet_search(
        postings, doclens, total, [rare, "w0"], k=10
    ).collect()
    if len(one_shot) > 5:
        last = one_shot[4]
        page2 = bm25_mod.ql_dirichlet_search(
            postings, doclens, total, [rare, "w0"], k=5,
            after=(last["score"], last["id"]),
        ).collect()
        assert [r["id"] for r in page2] == [r["id"] for r in one_shot[5:10]]
    postings.unpersist(), doclens.unpersist()


def test_stored_bounds_go_stale_under_ingest(spark):
    """Correctness-under-ingest for the pruning artifacts: a per-term
    score upper bound stored at epoch A can be VIOLATED after ingest —
    shorter new docs raise saturation (dl falls) and drift avgdl/df, so
    the new best doc can score above the old bound, and pruning with
    the stale artifact would silently drop it."""
    term = "q"
    epoch_a = spark.createDataFrame(
        [(f"a{i}", term + " " + " ".join(["pad"] * 9)) for i in range(20)]
        + [(f"z{i}", " ".join(["pad"] * 10)) for i in range(20)],
        "id string, text string",
    )
    pa, da, sa = bm25_mod.build_bm25_index(epoch_a)
    ra = sa.first()

    def max_contrib(postings, doclens, n_docs, avgdl):
        import math

        rows = (
            postings.filter(F.col("term") == term)
            .join(doclens, "id")
            .select("tf", "dl")
            .collect()
        )
        df = len(rows)
        idf = math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
        return max(
            idf
            * (r["tf"] * (bm25_mod.K1 + 1.0))
            / (
                r["tf"]
                + bm25_mod.K1
                * (1.0 - bm25_mod.B + bm25_mod.B * (r["dl"] / avgdl))
            )
            for r in rows
        )

    stored_bound = max_contrib(pa, da, int(ra["n_docs"]), float(ra["avgdl"]))

    # epoch B ingests very short docs containing the term: dl = 1 ->
    # saturation ~1, and corpus avgdl drops
    merged = epoch_a.unionByName(
        spark.createDataFrame(
            [(f"b{i}", term) for i in range(10)], "id string, text string"
        )
    )
    pm, dm, sm = bm25_mod.build_bm25_index(merged)
    rm = sm.first()
    new_max = max_contrib(pm, dm, int(rm["n_docs"]), float(rm["avgdl"]))
    assert new_max > stored_bound + 1e-9, (
        "construction failed: ingest did not raise the true bound"
    )
