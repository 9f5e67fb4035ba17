"""Correctness checks on search results, run outside the timed window.

The reference is numpy: exact cosine similarity over the library's
stored embeddings, in float64.  Spark accumulates the same products in
another order, so scores agree to ``TOL`` and ids may differ only among
rows tied with the k-th score.
"""

from __future__ import annotations

import numpy as np

TOL = 1e-6


class Library:
    """One library's rows as stored: ids, langs and an (n, d) float64
    embedding matrix (rows without an embedding are left out)."""

    def __init__(self, ids: list[str], langs: list[str | None], emb: np.ndarray) -> None:
        self.ids = np.asarray(ids, dtype=object)
        self.langs = np.asarray(langs, dtype=object)
        norms = np.linalg.norm(emb, axis=1)
        self.unit = emb / np.where(norms > 0, norms, 1.0)[:, None]
        self.id_set = set(ids)
        self.lang_of = dict(zip(ids, langs))

    def exact(self, q: np.ndarray, filters: dict[str, str] | None) -> tuple[np.ndarray, np.ndarray]:
        """(ids, cosine) of every candidate row, best first."""
        mask = np.ones(len(self.ids), dtype=bool)
        for key, value in (filters or {}).items():
            if key != "lang":
                raise ValueError(f"unsupported filter key {key}")
            mask &= self.langs == value
        qn = q / (np.linalg.norm(q) or 1.0)
        sims = self.unit[mask] @ qn
        order = np.lexsort((self.ids[mask], -sims))
        return self.ids[mask][order], sims[order]


def check_valid(rows: list[dict], lib: Library, k: int, filters: dict[str, str] | None,
                score_col: str) -> list[str]:
    """At most k rows, ids in the library, filters honoured, scores sorted."""
    problems = []
    if len(rows) > k:
        problems.append(f"{len(rows)} rows for k={k}")
    ids = [r["id"] for r in rows]
    stray = [i for i in ids if i not in lib.id_set]
    if stray:
        problems.append(f"ids not in library: {stray[:3]}")
    if len(set(ids)) != len(ids):
        problems.append("duplicate ids")
    for key, value in (filters or {}).items():
        bad = [i for i in ids if lib.lang_of.get(i) != value]
        if bad:
            problems.append(f"filter {key}={value} broken by {bad[:3]}")
    scores = [r[score_col] for r in rows]
    if any(a is None or b is None or b > a + TOL for a, b in zip(scores, scores[1:])):
        problems.append(f"{score_col} not sorted descending")
    return problems


def check_exact(rows: list[dict], lib: Library, q: np.ndarray, k: int,
                filters: dict[str, str] | None) -> list[str]:
    """Brute-force results must be the exact cosine top-k, up to ties at
    the k-th score, with matching similarity values."""
    ids, sims = lib.exact(q, filters)
    n = min(k, len(ids))
    problems = []
    if len(rows) != n:
        return [f"{len(rows)} rows, expected {n}"]
    if n == 0:
        return problems
    kth = sims[n - 1]
    sim_of = dict(zip(ids, sims))
    got = {r["id"] for r in rows}
    must = {i for i, s in zip(ids, sims) if s > kth + TOL}
    may = {i for i, s in zip(ids, sims) if s >= kth - TOL}
    if not must <= got:
        problems.append(f"missing exact top-k ids {sorted(must - got)[:3]}")
    if not got <= may:
        problems.append(f"ids outside exact top-k {sorted(got - may)[:3]}")
    for r in rows:
        if r["id"] in sim_of and abs(r["similarity"] - sim_of[r["id"]]) > TOL:
            problems.append(f"similarity of {r['id']}: {r['similarity']} vs {sim_of[r['id']]}")
            break
    return problems


def recall(rows: list[dict], lib: Library, q: np.ndarray, k: int,
           filters: dict[str, str] | None) -> float:
    """|returned ∩ exact top-k| / min(k, candidates); 1.0 when there are
    no candidates."""
    ids, _ = lib.exact(q, filters)
    n = min(k, len(ids))
    if n == 0:
        return 1.0
    return len({r["id"] for r in rows} & set(ids[:n])) / n


def same_ranking(a: list[dict], b: list[dict], score_col: str) -> list[str]:
    """Two keyword result lists must hold the same ids with the same
    scores (order among equal scores may differ)."""
    if len(a) != len(b):
        return [f"{len(a)} rows vs {len(b)}"]
    sa = sorted((round(r[score_col], 9), r["id"]) for r in a)
    sb = sorted((round(r[score_col], 9), r["id"]) for r in b)
    return [] if sa == sb else [f"rankings differ: {sa[:2]} vs {sb[:2]}"]
