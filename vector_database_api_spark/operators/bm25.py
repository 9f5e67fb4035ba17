"""BM25 inverted index + keyword scoring as DataFrame ops — the SERVED
form of the keyword-retrieval leg.

The reference's search surface is vector-only (``/root/reference/app/
services/search_service.py:112-153``); the BM25 family in ``queries.py``
(bm25_keyword_topk and the hybrid fusions) carries the oracle-checked
scoring math for a FIXED term set expressed as zero-shuffle HOF scans.
This module is the index a long-lived service builds once and queries
with ARBITRARY terms: a postings table (term, id, tf), a doc-length
table (id, dl), and the 1-row corpus statistics — the classic inverted
index, re-expressed relationally.

Scale shape (100 TB):

- build is ONE explode + one map-side-combinable aggregate over the
  corpus; the postings table is the write-once artifact (streaming
  upkeep of the same statistics: ``streaming/maintenance.py::
  incremental_bm25_stats_maintenance``);
- a query reads postings with ``term IN (...)`` — a pushed-down
  predicate over a term-sorted/partition-friendly store, touching only
  the query terms' posting lists, never the corpus;
- per-term document frequency comes from the term-filtered postings
  BEFORE any metadata-candidate restriction: index statistics are
  corpus-level, the filter restricts CANDIDATES (filter-then-search,
  search_service.py:88-110) — the same decision the registry's
  ``hybrid_rrf_filtered`` documents and oracle-checks;
- scoring is whole-stage-codegen arithmetic; top-k is
  ``TakeOrderedAndProject``;
- a document's score is ``0.0 + c(t1) + c(t2) + ...`` over the query
  terms in :func:`tokenize_query` order (:func:`term_order_sum`), so it
  depends on the query and the corpus only, never on how the postings
  are laid out in files or partitions: every operator here, and the
  driver plane of ``service.py``, returns the same double.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Lucene-flavored BM25, identical constants and idf form to the
# oracle-checked queries.py family (_bm25_contrib_sql)
K1 = 1.2
B = 0.75
# served Block-Max WAND granule (mode="blockmax"); the registry twin's
# contiguous-range granule is queries._BMW_BLOCK
BLOCKMAX_BLOCKS = 64
RRF_K = 60  # the standard RRF constant, shared by the single and batch paths
QL_MU = 2000.0  # Dirichlet prior of the served query-likelihood ranking


def tokens_expr(text_col: str) -> Column:
    """The family's shared tokenizer: lowercase whitespace split.  dl is
    the FULL split size (empty tokens included), matching
    queries._bm25_base so served scores equal the oracle-checked math."""
    return F.split(F.lower(F.col(text_col)), " ", -1)


def build_bm25_index(
    chunks: DataFrame, id_col: str = "id", text_col: str = "text"
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(postings, doclens, stats) for the corpus in ``chunks``.

    postings: (term, id, tf) — one row per distinct term per doc;
    doclens:  (id, dl) — dl the full token-array size;
    stats:    1 row (n_docs, avgdl).

    NULL text is excluded everywhere (the _bm25_base convention).  One
    corpus scan feeds all three: the token array is staged once per doc.
    """
    base = (
        chunks.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("id"), tokens_expr(text_col).alias("_toks"))
    )
    doclens = base.select("id", F.size("_toks").cast("long").alias("dl"))
    postings = (
        base.select("id", F.explode("_toks").alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term", "id")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    stats = doclens.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    return postings, doclens, stats


def tokenize_query(text: str) -> list[str]:
    """Query-side twin of :func:`tokens_expr`: lowercase whitespace
    split, empties dropped, first-occurrence order kept, deduped (a
    repeated query term must not double-count its contribution)."""
    return [t for t in dict.fromkeys(text.lower().split(" ")) if t]


def _bm25_idf(n_docs: int) -> Column:
    """Lucene's idf ln(1 + (N - df + 0.5) / (df + 0.5)) of a ``df`` column."""
    return F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )


def _bm25_tf_norm(avgdl: float, k1: float, b: float) -> Column:
    """BM25's saturated, length-normalised ``tf`` of a posting whose
    document length is ``dl``."""
    tf = F.col("tf").cast("double")
    return (
        tf
        * (k1 + 1.0)
        / (tf + k1 * ((1.0 - b) + b * (F.col("dl").cast("double") / float(avgdl))))
    )


def bm25_contrib(n_docs: int, avgdl: float, k1: float = K1, b: float = B) -> Column:
    """One posting's BM25 contribution from its term's ``df`` and its own
    ``tf`` and ``dl`` columns: the one expression the scoring operators
    here and the driver-plane copy of ``service.py`` evaluate, so every
    plane sums the same doubles."""
    return _bm25_idf(n_docs) * _bm25_tf_norm(avgdl, k1, b)


def ql_posting_exprs(total_tokens: float, mu: float) -> tuple[Column, Column]:
    """(matched, lp) of a posting joined to its term's collection
    frequency ``cf``: the Dirichlet matched-term part
    ln(1 + tf / (mu * p_t)) and the term's ln(mu * p_t), with
    p_t = cf / total_tokens (:func:`ql_dirichlet_search`)."""
    mu_p = F.lit(float(mu)) * (F.col("cf") / F.lit(float(total_tokens)))
    return F.log(F.lit(1.0) + F.col("tf").cast("double") / mu_p), F.log(mu_p)


def ql_doc_norm(mu: float) -> Column:
    """ln(dl + mu) of a ``dl`` column: the per-document QL normaliser."""
    return F.log(F.col("dl").cast("double") + F.lit(float(mu)))


def ql_model_constant(lp_by_term: dict[str, float], terms: list[str]) -> tuple[float, int]:
    """(sum_t ln(mu * p_t), number of model terms) over the query terms
    present in ``lp_by_term``, added one by one in query-term order, so
    the constant does not depend on an aggregate's output order."""
    lp_sum, n_model_terms = 0.0, 0
    for t in terms:
        if t in lp_by_term:
            lp_sum += lp_by_term[t]
            n_model_terms += 1
    return lp_sum, n_model_terms


def term_order_sum(value: str, key: str, keys: list) -> Column:
    """The one summation rule of the scoring operators: per group (a
    document), ``0.0 + v(keys[0]) + v(keys[1]) + ...`` added left to
    right, where ``v(x)`` is the group's ``value`` on its row with
    ``key = x`` and 0.0 when it has none.  ``build_bm25_index`` writes one
    posting per (term, id), so each ``sum(when(key = x, value))`` adds at
    most one row and is exact in any aggregation order; the result does
    not depend on the rows' partitions or order."""
    total = F.lit(0.0)
    for x in keys:
        one = F.sum(F.when(F.col(key) == F.lit(x), F.col(value)))
        total = total + F.coalesce(one, F.lit(0.0))
    return total


def _query_postings(
    postings: DataFrame,
    terms: list[str],
    candidate_ids: DataFrame | None,
    stat: Column,
) -> tuple[DataFrame, DataFrame]:
    """(stats, hits): the query terms' per-term corpus statistic ``stat``
    (df or cf), computed from their postings BEFORE any candidate
    restriction, and those postings restricted to ``candidate_ids`` and
    joined to it (filter-then-search)."""
    hits = postings.filter(F.col("term").isin(terms))
    stats = hits.groupBy("term").agg(stat)
    if candidate_ids is not None:
        hits = hits.join(candidate_ids.select("id"), "id", "left_semi")
    return stats, hits.join(F.broadcast(stats), "term")


def _bm25_contribs(
    postings: DataFrame,
    doclens: DataFrame,
    n_docs: int,
    avgdl: float,
    terms: list[str],
    candidate_ids: DataFrame | None,
    k1: float,
    b: float,
) -> DataFrame:
    """(term, id, contrib): each query-term posting's BM25 contribution."""
    df = F.count(F.lit(1)).cast("double").alias("df")
    _, hits = _query_postings(postings, terms, candidate_ids, df)
    return hits.join(doclens, "id").select(
        "term", "id", bm25_contrib(n_docs, avgdl, k1, b).alias("contrib")
    )


def bm25_search(
    postings: DataFrame,
    doclens: DataFrame,
    n_docs: int,
    avgdl: float,
    query_terms: list[str],
    k: int = 10,
    candidate_ids: DataFrame | None = None,
    k1: float = K1,
    b: float = B,
    after: tuple | None = None,
    operator: str = "or",
) -> DataFrame:
    """Top-k (id, score) for ``query_terms`` against the index.

    ``after`` = (score, id) keyset cursor: only docs STRICTLY after that
    position in (score DESC, id ASC) order are returned — page N costs
    the same posting reads + TakeOrderedAndProject as page 1.

    ``candidate_ids`` (one ``id`` column) is the filter-then-search
    hook: when given, only those docs can score — but per-term df is
    computed from the term-filtered postings BEFORE the restriction
    (corpus-level statistics; the reference filters candidates, not the
    index).  k results are k FILTERED results, fewer allowed.

    ``operator="and"`` is conjunctive retrieval: only docs matching
    EVERY query term rank (a term absent from the corpus therefore
    empties the result) — same scores, intersected candidate set; the
    registry twin ``bm25_conjunctive_topk`` oracle-checks the
    semantics.  Postings hold one row per (term, id), so the per-doc
    matched-term count is a plain row count in the same aggregate.
    """
    spark = postings.sparkSession
    if operator not in ("or", "and"):
        raise ValueError(f"operator must be 'or' or 'and', got '{operator}'")
    terms = [t for t in dict.fromkeys(query_terms) if t]
    if not terms or n_docs == 0:
        return spark.createDataFrame([], "id string, score double")
    scored = (
        _bm25_contribs(postings, doclens, n_docs, avgdl, terms, candidate_ids, k1, b)
        .groupBy("id")
        .agg(
            term_order_sum("contrib", "term", terms).alias("score"),
            F.count(F.lit(1)).alias("_matched"),
        )
    )
    if operator == "and":
        scored = scored.filter(F.col("_matched") == len(terms))
    scored = scored.select("id", "score")
    if after is not None:
        scored = _after_filter(scored, after)
    return scored.orderBy(F.desc("score"), "id").limit(int(k))


def _after_filter(scored: DataFrame, after: tuple) -> DataFrame:
    """The strictly-after keyset cursor predicate on (score DESC, id ASC)
    order — shared by the plain and MaxScore search paths so page
    semantics are identical."""
    a_score, a_id = after
    return scored.filter(
        (F.col("score") < F.lit(float(a_score)))
        | (
            (F.col("score") == F.lit(float(a_score)))
            & (F.col("id") > F.lit(a_id))
        )
    )


def bm25_batch_search(
    postings: DataFrame,
    doclens: DataFrame,
    n_docs: int,
    avgdl: float,
    queries: list[list[str]],
    k: int = 10,
    candidate_ids: DataFrame | None = None,
    k1: float = K1,
    b: float = B,
) -> DataFrame:
    """Every query's BM25 top-k in ONE plan: (qid, id, score, rank),
    qid = the query's 0-based position in ``queries``.

    The per-request :func:`bm25_search` serves one query; a BATCH of
    requests (a query log, an evaluation run, the keyword legs of N
    hybrid requests) should be one Spark job, not N: the (qid, term)
    table is broadcast against the postings once, scoring groups by
    (qid, id), and the top-k cut is the skew-safe sharded reduce
    (``operators/skew.py::grouped_topk``).  A plain per-qid ranking
    window here would be postings-bounded — rows/qid = |union of the
    query terms' posting lists| — which is fine for content terms but
    degenerates to a corpus-sized single-task sort when an ARBITRARY
    user query contains a stop-word-frequent term (df ~ N); this is
    the served path, so the terms are user-controlled and the sharded
    form is the only shape that holds unconditionally (r8 verdict's
    boundedness audit).  Output is row-identical to the window form
    (tests/test_skew.py).  Statistics semantics
    match the single-request path exactly: per-term df comes from the
    term-filtered postings BEFORE any candidate restriction
    (corpus-level statistics), and ``candidate_ids`` restricts which
    docs may score (filter-then-search).  A query with no terms simply
    contributes no rows.  A query's terms are summed at their positions
    in it (:func:`term_order_sum`), and ordering per qid is (score DESC,
    id ASC), so every qid's scores and ranks equal the single path's bit
    for bit (pinned in tests/test_local_serving.py)."""
    spark = postings.sparkSession
    term_lists = [[t for t in dict.fromkeys(terms) if t] for terms in queries]
    qt_rows = [
        (qid, pos, t)
        for qid, terms in enumerate(term_lists)
        for pos, t in enumerate(terms)
    ]
    if not qt_rows or n_docs == 0:
        return spark.createDataFrame(
            [], "qid int, id string, score double, rank int"
        )
    qterms = spark.createDataFrame(qt_rows, "qid int, pos int, term string")
    hits = postings.join(F.broadcast(qterms), "term")
    df_t = (
        postings.join(
            F.broadcast(qterms.select("term").distinct()), "term", "left_semi"
        )
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("double").alias("df"))
    )
    if candidate_ids is not None:
        hits = hits.join(candidate_ids.select("id"), "id", "left_semi")
    contrib = bm25_contrib(n_docs, avgdl, k1, b)
    n_pos = max(len(terms) for terms in term_lists)
    scored = (
        hits.join(F.broadcast(df_t), "term")
        .join(doclens, "id")
        .select("qid", "id", "pos", contrib.alias("contrib"))
        .groupBy("qid", "id")
        .agg(term_order_sum("contrib", "pos", list(range(n_pos))).alias("score"))
    )
    from vector_database_api_spark.operators.skew import grouped_topk

    return grouped_topk(scored, "qid", "score", "id", int(k)).select(
        "qid", "id", "score", F.col("rank").cast("int").alias("rank")
    )


def bm25_maxscore_search(
    postings: DataFrame,
    doclens: DataFrame,
    n_docs: int,
    avgdl: float,
    query_terms: list[str],
    k: int = 10,
    candidate_ids: DataFrame | None = None,
    k1: float = K1,
    b: float = B,
    after: tuple | None = None,
    n_blocks: int | None = None,
) -> DataFrame:
    """MaxScore-pruned top-k over the postings index for ARBITRARY query
    terms — the served form of the registry's hash-proven-lossless
    ``bm25_maxscore_topk`` (Turtle & Flood's dynamic pruning; same
    adjudication, different artifact: the registry derives bounds from
    the pivoted-corpus artifact, serving derives them from the query
    terms' posting lists).  Results equal :func:`bm25_search` exactly
    (pinned in tests/test_service.py): a doc is pruned only when the sum
    of its matched terms' upper bounds cannot reach theta — the k-th
    best score among docs matching the highest-bound ("essential")
    term — so dropping it can never change the top-k (theta degrades to
    -inf when fewer than k essential docs exist: pruning becomes a
    lossless no-op).

    100 TB shape: every frame here is bounded by the query terms'
    posting lists (never the corpus); the per-(term,doc) contribution
    fact is built once and reused by the bound derivation, the
    essential leg, and final scoring; theta is in-plan (k-row top-k ->
    1-row aggregate, broadcast back); the win is skipping full scoring
    of the common-terms-only doc mass.  Filter-then-search composes the
    same way as :func:`bm25_search` (corpus-level df, candidates
    restricted).

    ``after`` = (score, id) keyset cursor, same contract as
    :func:`bm25_search`: theta is then the k-th best score among the
    CURSORED essential-term docs (the cursor composes before every
    top-k), so the lossless argument holds for the cursored ranking — a
    pruned doc's score is below the k cursored docs already at or above
    theta and can never appear on this page.

    ``n_blocks`` switches the bound granularity to BLOCK-MAX (Ding &
    Suel 2011, the registry twin ``bm25_blockmax_topk``): bounds are
    per (term, block) with block = hash(id) mod n_blocks, so a doc's
    bound sums the maxima of its OWN block — pointwise <= the
    corpus-wide per-term bound, hence a survivor set that is a SUBSET
    of MaxScore's with the same theta (still lossless: a doc's own
    contribution is one of the values its block's max ranges over).  A
    physical index would use contiguous doc-id ranges (the skip-pointer
    layout, as the registry artifact does over the BIGINT doc ids);
    over opaque string chunk ids, hash blocks give the same
    bound-tightening with the same guarantee.  The per-(term, block)
    bound table is |terms| x n_blocks rows — still query-bounded
    metadata."""
    spark = postings.sparkSession
    terms = [t for t in dict.fromkeys(query_terms) if t]
    if not terms or n_docs == 0:
        return spark.createDataFrame([], "id string, score double")
    contribs = _bm25_contribs(
        postings, doclens, n_docs, avgdl, terms, candidate_ids, k1, b
    )
    if n_blocks is not None:
        contribs = contribs.withColumn(
            "_blk", F.pmod(F.xxhash64(F.col("id")), F.lit(int(n_blocks)))
        )
        # per-(term, block) upper bounds — the block-max metadata; the
        # per-term global max (for essential-term selection) is its
        # max-over-blocks, identical to the MaxScore bound
        # NOT persisted: it is rebuilt by the doc_ub leg below, but the
        # rebuild is posting-list-bounded, and a per-request persist
        # with no unpersist hook is the r6 cache-leak class
        block_ubs = contribs.groupBy("term", "_blk").agg(
            F.max("contrib").alias("ub")
        )
        ub_rows = (
            block_ubs.groupBy("term")
            .agg(F.max("ub").alias("ub"))
            .collect()
        )
    else:
        # per-term upper bounds: |terms| rows — the serving twin of the
        # registry's _cached_bm25_maxscores artifact, derived from the
        # term-bounded posting lists only
        ub_rows = (
            contribs.groupBy("term")
            .agg(F.max("contrib").alias("ub"))
            .collect()
        )
    if not ub_rows:
        return spark.createDataFrame([], "id string, score double")
    ess = max(ub_rows, key=lambda r: r["ub"])["term"]
    ubs = spark.createDataFrame(ub_rows, "term string, ub double")
    ess_ids = contribs.filter(F.col("term") == ess).select("id")
    ess_scores = (
        contribs.join(ess_ids, "id", "left_semi")
        .groupBy("id")
        .agg(term_order_sum("contrib", "term", terms).alias("score"))
    )
    if after is not None:
        ess_scores = _after_filter(ess_scores, after)
    theta = (
        ess_scores.orderBy(F.desc("score"), "id")
        .limit(int(k))
        .agg(
            F.when(F.count(F.lit(1)) >= int(k), F.min("score"))
            .otherwise(F.lit(float("-inf")))
            .alias("theta")
        )
    )
    if n_blocks is not None:
        bounded = contribs.join(F.broadcast(block_ubs), ["term", "_blk"])
    else:
        bounded = contribs.join(F.broadcast(ubs), "term")
    doc_ub = bounded.groupBy("id").agg(
        term_order_sum("ub", "term", terms).alias("ub_sum")
    )
    # prune only STRICTLY below theta: ub_sum adds a bound >= each of the
    # doc's contributions in the same term order as its score, and
    # rounding is monotone, so ub_sum >= score exactly and every pruned
    # doc's score is strictly below theta
    survivors = (
        doc_ub.crossJoin(F.broadcast(theta))
        .filter(F.col("ub_sum") >= F.col("theta"))
        .select("id")
    )
    final = (
        contribs.join(survivors, "id", "left_semi")
        .groupBy("id")
        .agg(term_order_sum("contrib", "term", terms).alias("score"))
    )
    if after is not None:
        final = _after_filter(final, after)
    return final.orderBy(F.desc("score"), "id").limit(int(k))


def rrf_fuse(
    kw_ranked: list[tuple],
    vec_ranked: list[tuple],
    rrf_k: int = RRF_K,
) -> list[tuple]:
    """Reciprocal-rank fusion of two COLLECTED, already-ordered legs —
    the bounded O(k) coordinator step of every real hybrid engine
    (distributing ~2k rows would re-execute each leg's corpus-scan
    subtree for zero benefit; measured in queries.py::hybrid_rrf_fusion).

    Each leg is [(id, leg_score), ...] in rank order.  Returns
    [(id, r_kw, r_vec, rrf)] sorted by (-rrf, id); ranks are 1-based,
    None for a doc absent from a leg.  Pure double arithmetic
    (1/(rrf_k+r)) — bit-identical across Python, Spark and DuckDB.
    """
    r_kw = {row[0]: i + 1 for i, row in enumerate(kw_ranked)}
    r_vec = {row[0]: i + 1 for i, row in enumerate(vec_ranked)}
    fused = []
    for d in set(r_kw) | set(r_vec):
        rk, rv = r_kw.get(d), r_vec.get(d)
        raw = (1.0 / (rrf_k + rk) if rk else 0.0) + (
            1.0 / (rrf_k + rv) if rv else 0.0
        )
        fused.append((d, rk, rv, raw))
    fused.sort(key=lambda t: (-t[3], t[0]))
    return fused


def minmax_normalize(ranked: list[tuple]) -> dict:
    """{id: (score - min) / (max - min)} over one COLLECTED top-k leg —
    the per-leg score normalization CombSUM/CombMNZ-family fusion uses
    (Fox & Shaw 1994; Lee 1997 found min-max the most robust of the
    Comb normalizers).  A constant-score leg (max == min, e.g. k = 1)
    normalizes to 1.0 everywhere: the leg ranked those docs at its own
    maximum confidence, and 0/0 must not decide retrieval order.  Pure
    double arithmetic in leg order — bit-identical to the SQL oracle's
    (s - min)/(max - min)."""
    if not ranked:
        return {}
    scores = [row[1] for row in ranked]
    mn, mx = min(scores), max(scores)
    if mx > mn:
        return {row[0]: (row[1] - mn) / (mx - mn) for row in ranked}
    return {row[0]: 1.0 for row in ranked}


def linear_fuse(
    kw_ranked: list[tuple],
    vec_ranked: list[tuple],
    w_kw: float = 0.6,
    w_vec: float = 0.4,
) -> list[tuple]:
    """Weighted-linear score fusion of two collected legs over min-max
    normalized scores — the convex-combination hybrid (alpha-blending)
    every dense+sparse serving stack exposes as its tuning knob, next
    to rank-only RRF.  Each leg is [(id, score), ...] in rank order.
    Returns [(id, n_kw, n_vec, fused_raw)] sorted by (-fused_raw, id);
    norms are None for a doc absent from a leg (its contribution is
    0.0).  Fixed evaluation order (w_kw*n_kw + w_vec*n_vec) keeps the
    double math bit-identical to the SQL oracle."""
    n_kw = minmax_normalize(kw_ranked)
    n_vec = minmax_normalize(vec_ranked)
    fused = []
    for d in set(n_kw) | set(n_vec):
        nk, nv = n_kw.get(d), n_vec.get(d)
        raw = w_kw * (nk if nk is not None else 0.0) + w_vec * (
            nv if nv is not None else 0.0
        )
        fused.append((d, nk, nv, raw))
    fused.sort(key=lambda t: (-t[3], t[0]))
    return fused


def combmnz_fuse(kw_ranked: list[tuple], vec_ranked: list[tuple]) -> list[tuple]:
    """CombMNZ fusion (Fox & Shaw 1994): sum of min-max-normalized leg
    scores multiplied by the number of legs that retrieved the doc —
    the classic boost-the-consensus fusion that historically beat
    CombSUM on TREC runs.  Each leg is [(id, score), ...] in rank
    order.  Returns [(id, hits, combmnz_raw)] sorted by (-raw, id).
    (n_kw + n_vec) * hits in fixed order — bit-identical to the SQL
    oracle's arithmetic."""
    n_kw = minmax_normalize(kw_ranked)
    n_vec = minmax_normalize(vec_ranked)
    fused = []
    for d in set(n_kw) | set(n_vec):
        nk, nv = n_kw.get(d), n_vec.get(d)
        hits = (1 if nk is not None else 0) + (1 if nv is not None else 0)
        raw = ((nk if nk is not None else 0.0)
               + (nv if nv is not None else 0.0)) * hits
        fused.append((d, hits, raw))
    fused.sort(key=lambda t: (-t[2], t[0]))
    return fused


def ql_dirichlet_search(
    postings: DataFrame,
    doclens: DataFrame,
    total_tokens: float,
    query_terms: list[str],
    k: int = 10,
    candidate_ids: DataFrame | None = None,
    mu: float = QL_MU,
    after: tuple | None = None,
    operator: str = "or",
) -> DataFrame:
    """Dirichlet-smoothed query-likelihood top-k over the postings index
    (Zhai & Lafferty 2004) — the served form of the oracle-checked
    registry twin ``ql_dirichlet_topk``, making the scoring layer
    model-pluggable next to :func:`bm25_search`.

    score(d) = sum_t ln((tf + mu*p_t) / (dl + mu)) with p_t = cf_t /
    total_tokens, over ALL query terms including tf = 0 ones.  Scored
    from term-matched postings only via the Lucene LMDirichlet
    decomposition: sum_t ln((tf + mu*p_t)/(dl + mu)) =
    sum_matched ln(1 + tf/(mu*p_t)) + sum_t ln(mu*p_t) -
    |terms| * ln(dl + mu) — the first part is a per-matched-posting
    term, the rest depends only on dl and per-term constants, so every
    frame stays bounded by the query terms' posting lists (never a
    corpus scan for the tf = 0 smoothing mass).

    ``total_tokens`` is the collection token count — a statistics-
    artifact scalar (n_docs * avgdl; streaming-maintained like the BM25
    stats).  cf_t derives from the term-filtered postings BEFORE any
    candidate restriction (corpus-level collection LM, the
    filter-then-search convention).  Candidates are docs matching >= 1
    query term (``operator="or"``) or every term (``"and"``); a term
    with cf_t = 0 (absent from the corpus) has an undefined smoothed
    probability and is dropped from the model, matching engines that
    skip unknown terms.  ``after`` is the (score, id) keyset cursor,
    same contract as :func:`bm25_search`."""
    spark = postings.sparkSession
    if operator not in ("or", "and"):
        raise ValueError(f"operator must be 'or' or 'and', got '{operator}'")
    terms = [t for t in dict.fromkeys(query_terms) if t]
    if not terms or total_tokens <= 0:
        return spark.createDataFrame([], "id string, score double")
    cf = F.sum("tf").cast("double").alias("cf")
    cf_t, hits = _query_postings(postings, terms, candidate_ids, cf)
    matched, lp = ql_posting_exprs(total_tokens, mu)
    per_doc = (
        hits.select("term", "id", matched.alias("m"))
        .groupBy("id")
        .agg(
            term_order_sum("m", "term", terms).alias("m_sum"),
            F.count(F.lit(1)).alias("_matched"),
        )
    )
    # sum_t ln(mu*p_t) over the model's terms (cf_t > 0): |terms| rows
    lp_rows = cf_t.filter(F.col("cf") > 0).select("term", lp.alias("lp")).collect()
    lp_sum, n_model_terms = ql_model_constant(
        {r["term"]: r["lp"] for r in lp_rows}, terms
    )
    if n_model_terms == 0:
        return spark.createDataFrame([], "id string, score double")
    scored = (
        per_doc.join(doclens, "id")
        .select(
            "id",
            "_matched",
            (
                F.col("m_sum")
                + F.lit(lp_sum)
                - F.lit(float(n_model_terms)) * ql_doc_norm(mu)
            ).alias("score"),
        )
    )
    if operator == "and":
        scored = scored.filter(F.col("_matched") == len(terms))
    scored = scored.select("id", "score")
    if after is not None:
        scored = _after_filter(scored, after)
    return scored.orderBy(F.desc("score"), "id").limit(int(k))


def collect_parallel(*dfs: DataFrame) -> list[list]:
    """collect() several bounded top-k legs CONCURRENTLY — the fan-out a
    real hybrid engine does with its keyword and vector legs.  Spark
    schedules actions from separate driver threads as independent jobs
    (each leg's plan is unchanged), so wall-clock is max(legs) instead
    of sum(legs).  Results are positionally ordered like the inputs;
    any leg failure re-raises."""
    from concurrent.futures import ThreadPoolExecutor

    if len(dfs) == 1:
        return [dfs[0].collect()]
    with ThreadPoolExecutor(max_workers=len(dfs)) as pool:
        return [f.result() for f in [pool.submit(df.collect) for df in dfs]]


def rm3_expansion(
    postings: DataFrame,
    doclens: DataFrame,
    query_terms: list[str],
    feedback_ids: DataFrame,
    n_terms: int = 5,
    min_fb_df: int = 2,
    min_len: int = 3,
) -> DataFrame:
    """(term, wt) RM3 relevance-model expansion terms, computed FROM THE
    INDEX: join the feedback docs' posting rows (a broadcast semi-join of
    the <=fb_k feedback ids into the postings — feedback-bounded, never a
    corpus scan or a text re-tokenize), weight each term by
    sum(tf/dl) over the feedback docs, drop the original query terms,
    sub-``min_len``-char tokens, and terms in fewer than ``min_fb_df``
    feedback docs; keep the top ``n_terms`` by weight (term ASC ties).
    The registry twin (`queries.py::rm3_expansion_terms`) derives the
    same weights from raw text for its DuckDB oracle; this is the
    serving form a keyword engine actually runs."""
    fb = feedback_ids.select("id")
    fb_post = (
        postings.join(F.broadcast(fb), "id")
        .filter(
            (F.length("term") >= min_len)
            & (~F.col("term").isin([t for t in query_terms]))
        )
        .join(doclens, "id")
    )
    return (
        fb_post.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("fb_df"),
            F.sum(
                F.col("tf").cast("double") / F.col("dl").cast("double")
            ).alias("wt"),
        )
        .filter(F.col("fb_df") >= min_fb_df)
        .orderBy(F.desc("wt"), "term")
        .limit(int(n_terms))
        .select("term", "wt")
    )


def rm3_search(
    postings: DataFrame,
    doclens: DataFrame,
    n_docs: int,
    avgdl: float,
    expansion: DataFrame,
    k: int = 10,
    candidate_ids: DataFrame | None = None,
    k1: float = K1,
    b: float = B,
) -> DataFrame:
    """Top-k (id, score) for a WEIGHTED, data-dependent term set — the
    second pass of RM3 pseudo-relevance feedback.  ``expansion`` is a
    small (term, wt) frame (rm3_expansion's output): it broadcasts into
    the postings join, so only the expansion terms' posting lists are
    read; per-term df is computed from those lists BEFORE any candidate
    restriction (corpus-level statistics, the bm25_search convention);
    each contribution is wt x Lucene idf x BM25 tf saturation."""
    spark = postings.sparkSession
    if n_docs == 0:
        return spark.createDataFrame([], "id string, score double")
    hits = postings.join(F.broadcast(expansion), "term")
    df_t = hits.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("df")
    )
    if candidate_ids is not None:
        hits = hits.join(candidate_ids.select("id"), "id", "left_semi")
    contrib = F.col("wt") * _bm25_idf(n_docs) * _bm25_tf_norm(avgdl, k1, b)
    return (
        hits.join(F.broadcast(df_t), "term")
        .join(doclens, "id")
        .select("id", contrib.alias("contrib"))
        .groupBy("id")
        .agg(F.sum("contrib").alias("score"))
        .orderBy(F.desc("score"), "id")
        .limit(int(k))
    )
