"""Misra-Gries heavy hitters — bounded-state frequent items at scale.

Exact frequent-item queries (word_count, boilerplate_ngrams) shuffle one
row per distinct key; at 100 TB with billions of distinct tokens that
exchange dominates.  The Misra-Gries summary (Misra & Gries 1982; the
"frequent" sketch in Apache DataSketches) keeps at most ``k`` counters
per partition and guarantees every item with true frequency > n/k
survives, with per-item undercount ≤ n/k.

Spark-first shape — two-level, like every mergeable sketch here:

1. **Per-partition summaries** via ``mapInPandas``: one MG pass per
   Arrow batch stream, emitting ≤ k (item, count, batch_n) rows per
   partition — state is O(k) regardless of partition size.
2. **Merge** = groupBy(item).sum(count) over the ≤ k·partitions summary
   rows (tiny), minus the standard merged-error correction: summing
   per-partition MG counts keeps the guarantee because each partition's
   undercount is ≤ n_p/k and errors add to ≤ n/k.

The result depends on partition layout and intra-partition order (like
any MG deployment), so it is NOT oracle-hashable — its guarantees are
pinned by tests/test_frequency.py instead: superset-of-true-heavy-
hitters, undercount bound, and exactness when distinct items ≤ k.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MG_SCHEMA = "item string, est bigint, part_n bigint"


def _mg_pass(values: Iterator[str], k: int) -> tuple[dict[str, int], int]:
    """One sequential Misra-Gries pass: ≤ k counters, decrement-all on
    overflow.  Returns (counters, n_processed)."""
    counters: dict[str, int] = {}
    n = 0
    for v in values:
        n += 1
        if v in counters:
            counters[v] += 1
        elif len(counters) < k:
            counters[v] = 1
        else:
            dead = []
            for key in counters:
                counters[key] -= 1
                if counters[key] == 0:
                    dead.append(key)
            for key in dead:
                del counters[key]
    return counters, n


def heavy_hitters(df: DataFrame, col: str, k: int = 64) -> DataFrame:
    """(item, est, k) for the Misra-Gries heavy-hitter candidates of
    ``df[col]``: per-partition O(k) summaries, merged, then reduced back
    to ≤ k items by the standard mergeable-summaries step (subtract the
    (k+1)-largest merged est, keep positive — Agarwal et al. 2012), so
    the OUTPUT is bounded by k no matter how many partitions contributed
    (the raw merge can hold up to k·partitions candidates).  Guarantees
    (tested): any item with true count > n/k is present (if it were
    below the local threshold n_p/k in EVERY partition, summing would
    put it below n/k globally — contradiction; the merge reduction's
    extra decrement keeps total undercount ≤ n/(k+1)), and ``est`` ≤
    true count ≤ est + n/k.  The reduction sorts the merged summary in
    one partition — ≤ min(k·partitions, distinct) rows, tiny whenever
    the sketch is the right tool (k ≪ distinct universe)."""

    def summarize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict[str, int] = {}
        n = 0
        for pdf in batches:
            part, added = _mg_pass(iter(pdf[col].astype(str)), k)
            # fold this batch's counters into the partition's (MG merge:
            # add counts, then decrement by the (k+1)-largest if over k)
            for item, c in part.items():
                counters[item] = counters.get(item, 0) + c
            n += added
            if len(counters) > k:
                cut = sorted(counters.values(), reverse=True)[k]
                counters = {
                    i: c - cut for i, c in counters.items() if c - cut > 0
                }
        yield pd.DataFrame(
            {
                "item": list(counters),
                "est": list(counters.values()),
                "part_n": [n] * len(counters),
            }
        )

    summaries = df.select(F.col(col).alias(col)).mapInPandas(
        summarize, MG_SCHEMA
    )
    merged = summaries.groupBy("item").agg(F.sum("est").alias("est"))
    # (k+1)-largest merged est, 0 when fewer than k+1 candidates.  A
    # deterministic top-(k+1) (TakeOrderedAndProject: per-partition
    # heaps + driver merge) whose MIN is the boundary — NOT row_number
    # over a global Window, which would move the whole merged summary
    # to one task (the summary is bounded by k·partitions, but the
    # window-skew policy bans <global> windows outright and the top-k
    # form is strictly cheaper anyway).  The agg always yields exactly
    # one row, so the broadcast cross join can never wipe the result.
    topk1 = merged.orderBy(F.desc("est"), F.col("item")).limit(k + 1)
    cut = topk1.agg(
        F.when(F.count(F.lit(1)) == k + 1, F.min("est"))
        .otherwise(F.lit(0))
        .alias("_cut")
    )
    return (
        merged.crossJoin(F.broadcast(cut))
        .select("item", (F.col("est") - F.col("_cut")).alias("est"))
        .filter(F.col("est") > 0)
        .withColumn("k", F.lit(k))
    )


def frequent_items_two_pass(
    df: DataFrame,
    col: str,
    min_count: int,
    k: int = 4096,
    broadcast_item_limit: int = 1 << 16,
) -> DataFrame:
    """EXACT thresholded frequency via sketch-then-verify — the 100 TB
    shape for lexicon builds (boilerplate n-grams, stopword discovery):

    1. Misra-Gries candidates (O(k) state/partition, merge-reduced to
       ≤ k items total) — a SUPERSET of every item with true count
       > n/k, so provided ``min_count > n/k`` no qualifying item is
       missed.  The caller picks ``k > n / min_count``.
    2. Exact recount restricted to candidates: semi-join against the
       ≤ k-item candidate set, groupBy count, filter >= min_count.  The
       candidate side is broadcast only when ``k`` ≤
       ``broadcast_item_limit``; above that the semi-join runs as a
       shuffle join — a huge candidate set must never become a
       per-executor hashed relation.

    Returns (item, n) — bit-identical to the naive
    ``groupBy(col).count().filter(>= min_count)`` (tested), but the only
    per-distinct-key shuffle ever performed is over candidate rows, not
    the corpus's full distinct-item universe.  When the guarantee
    precondition fails (k too small for the observed n), the superset
    property can break; callers size k from corpus stats.

    PAYOFF CONDITION: the sketch path only beats the naive exact groupBy
    when ``k ≪ distinct(col)`` — equivalently, when ``min_count`` is a
    large fraction of n (rare-item thresholds force k toward n and the
    MG state toward O(n) per partition, at which point use the exact
    path; `queries._cached_boilerplate_lexicon` is such a caller and
    uses the exact groupBy).
    """
    cands = heavy_hitters(df, col, k=k).select(F.col("item").alias(col))
    build = F.broadcast(cands) if k <= broadcast_item_limit else cands
    exact = (
        df.join(build, col, "left_semi")
        .groupBy(col)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= min_count)
    )
    return exact.select(F.col(col).alias("item"), "n")
