"""Seeded op lists for each workload.  Pure: the inputs are plain data,
so the same seed gives the same ops without a Spark session.

Both workloads run closed loop with one client: the next op is sent when
the previous reply is in, the shape of a caller that waits on each REST
reply.  Ops are drawn in rounds that fill every slot of the workload once
in a seeded order (a slot is a serving path, or a registry query), so
every run holds the same mix whatever its seed.  A round is shorter than
the run length, so a run measures several rounds.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

# serve-read: one slot per serving path in every round, and two for bm25
# (below).  The lsh slot serves two libraries, one per LSH profile, and
# the brute-force slot two unindexed libraries; a request picks one of
# the two.
# (path = index kind or "brute", ((library, index_library kwargs), ...))
SERVE_PATHS: tuple[tuple[str, tuple[tuple[str, dict[str, str]], ...]], ...] = (
    ("lsh", (("src0", {"lsh_profile": "reference"}), ("src1", {"lsh_profile": "tuned"}))),
    ("ivf", (("src2", {"ivf_profile": "trained-p4"}),)),
    ("pq", (("src3", {}),)),
    ("sq8", (("src4", {}),)),
    ("bm25", (("src5", {}),)),
    ("brute", (("src6", {}), ("src7", {}))),
)
SERVE_KINDS = tuple(p for p, _ in SERVE_PATHS)
ANN_KINDS = tuple(p for p in SERVE_KINDS if p not in ("bm25", "brute"))
SERVE_K = (5, 10, 50)
FILTER_SHARE = 0.25
QUERY_WORDS = (3, 8)  # a query keeps this many of its chunk's words
# the pruned modes cost about 2.5x the scoring modes, so every round
# holds one bm25 search of each group rather than leaving the share to
# chance
BM25_SCORING = ("or", "and")
BM25_PRUNED = ("maxscore", "blockmax")
QL_SHARE = 0.25  # of the scoring-mode requests; QL has no pruned mode

# batch-registry: a fixed subset of the bench headline queries that have
# a DuckDB oracle, one per family, listed here so that it never changes.
# Three of the six (vector, dedup, retrieval) are served from the
# registry's artifact cache, so the window measures artifact hits.  The
# whole headline set (183 queries; about 1.1 s per query warm and 0.45 s
# steady at sf0.01 on 4 cores) does not fit one run of the benchmark.
BATCH_QUERIES: dict[str, str] = {
    "tpch": "q8_market_share",
    "vector": "knn_join_multiprobe_topk",
    "events": "calendar_profile",
    "dedup": "winnow_fingerprint_pairs",
    "llm": "quality_retention_sweep",
    "retrieval": "ltr_feature_matrix",
}
BATCH_NAMES: tuple[str, ...] = tuple(BATCH_QUERIES.values())

WORKLOADS = ("serve-read", "batch-registry")


@dataclass
class Op:
    op_id: str
    kind: str  # "search" | "query"
    path: str  # serving path, or registry query name
    library: str = ""
    query_text: str = ""
    k: int = 0
    filters: dict[str, str] | None = None
    params: dict[str, str] = field(default_factory=dict)

    @property
    def slot(self) -> str:
        """The op's slot in a round: its path or query, with bm25 split
        into its scoring and pruned mode groups."""
        if self.path != "bm25":
            return self.path
        return "bm25-pruned" if self.params["mode"] in BM25_PRUNED else "bm25-scoring"


def _query_text(rng: random.Random, text: str) -> str:
    """The chunk's text with all but 3 to 8 of its words dropped, in order."""
    words = text.split()
    n = min(rng.randint(*QUERY_WORDS), len(words))
    return " ".join(words[i] for i in sorted(rng.sample(range(len(words)), n)))


def serve_ops(
    seed: int,
    docs: dict[str, list[tuple[str, str, str]]],
    rounds: int,
    prefix: str = "op",
) -> list[Op]:
    """``rounds`` rounds, each one search per serving path and one more on
    bm25, in a seeded order; of the two bm25 searches one uses a scoring
    mode and one a pruned mode.  ``docs`` maps a library to its (id, text,
    lang) rows; the query text is one of them with words dropped, and a
    filter names the lang of a library row, so no filter is empty."""
    rng = random.Random(f"serve:{seed}:{prefix}")
    # (path, libraries, bm25 mode group; unused off bm25)
    slots = [(path, libs, BM25_SCORING) for path, libs in SERVE_PATHS]
    slots.append(("bm25", dict(SERVE_PATHS)["bm25"], BM25_PRUNED))
    ops: list[Op] = []
    for _ in range(rounds):
        order = list(slots)
        rng.shuffle(order)
        for path, libs, bm25_modes in order:
            lib = rng.choice(libs)[0]
            _, text, _ = rng.choice(docs[lib])
            filters = None
            if rng.random() < FILTER_SHARE:
                filters = {"lang": rng.choice(docs[lib])[2]}
            params: dict[str, str] = {}
            if path == "bm25":
                params["mode"] = rng.choice(bm25_modes)
                if bm25_modes is BM25_SCORING and rng.random() < QL_SHARE:
                    params["ranking"] = "ql"
            ops.append(Op(
                op_id=f"{prefix}-{len(ops)}", kind="search", path=path,
                library=lib, query_text=_query_text(rng, text),
                k=rng.choice(SERVE_K), filters=filters, params=params,
            ))
    return ops


def batch_ops(seed: int, rounds: int) -> list[Op]:
    """``rounds`` rounds over the registry subset, each in a seeded order."""
    rng = random.Random(f"batch:{seed}")
    ops: list[Op] = []
    for _ in range(rounds):
        order = list(BATCH_NAMES)
        rng.shuffle(order)
        ops.extend(Op(op_id=f"op-{len(ops)}", kind="query", path=n) for n in order)
    return ops


def round_length(workload: str) -> int:
    """Ops per round: one per serving path and one more on bm25, or one
    per registry query."""
    if workload == "serve-read":
        return len(SERVE_PATHS) + 1
    return len(BATCH_NAMES)
