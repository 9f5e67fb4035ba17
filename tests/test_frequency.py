"""Misra-Gries heavy hitters: the sketch guarantees, not a hash oracle —
the summary depends on partition layout, like any deployed MG."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vector_database_api_spark.operators.frequency import heavy_hitters
from vector_database_api_spark.sources.tables import load_table


def _true_counts(df, col):
    return {
        r["item"]: r["n"]
        for r in df.groupBy(F.col(col).alias("item"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }


def test_exact_when_distinct_leq_k(spark, sf_dir):
    """With k >= number of distinct items, MG degrades to exact counts."""
    ev = load_table(spark, sf_dir, "events").select("event_type")
    got = {
        r["item"]: r["est"]
        for r in heavy_hitters(ev, "event_type", k=64).collect()
    }
    assert got == _true_counts(ev, "event_type")


def test_guarantees_on_skewed_tokens(spark, sf_dir):
    """Words of the document corpus with a small k: every item with true
    count > n/k survives, and est <= true <= est + n/k."""
    words = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(F.split(F.lower("text"), " ")).alias("w"))
        .filter(F.col("w") != "")
    )
    k = 32
    true = _true_counts(words, "w")
    n = sum(true.values())
    got = {r["item"]: r["est"] for r in heavy_hitters(words, "w", k=k).collect()}

    must_survive = {w for w, c in true.items() if c > n / k}
    assert must_survive <= set(got), must_survive - set(got)
    for w, est in got.items():
        assert est <= true[w], (w, est, true[w])
        assert true[w] <= est + n / k, (w, est, true[w])


def test_partition_layout_insensitive_guarantee(spark, sf_dir):
    """The guarantee (not the exact estimates) holds under a different
    partitioning of the same data."""
    words = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(F.split(F.lower("text"), " ")).alias("w"))
        .filter(F.col("w") != "")
        .repartition(13)
    )
    k = 32
    true = _true_counts(words, "w")
    n = sum(true.values())
    got = {r["item"]: r["est"] for r in heavy_hitters(words, "w", k=k).collect()}
    must_survive = {w for w, c in true.items() if c > n / k}
    assert must_survive <= set(got)


def test_two_pass_equals_exact_lexicon(spark, sf_dir):
    """Sketch-then-verify == naive exact thresholded counts when k
    satisfies the superset precondition (k > n / min_count) — the
    equivalence that makes the MG path a drop-in replacement for an
    exact thresholded groupBy."""
    from vector_database_api_spark.operators.frequency import (
        frequent_items_two_pass,
    )

    words = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(F.split(F.lower("text"), " ")).alias("w"))
        .filter(F.col("w") != "")
    )
    min_count = 50
    n = words.count()
    k = max(64, int(2 * n / min_count))
    got = {
        r["item"]: r["n"]
        for r in frequent_items_two_pass(words, "w", min_count, k=k).collect()
    }
    want = {
        item: c for item, c in _true_counts(words, "w").items() if c >= min_count
    }
    assert got == want and len(want) > 0


def test_merged_summary_bounded_by_k(spark):
    """The raw per-partition merge can hold up to k x partitions items;
    the merge reduction must cap the OUTPUT at k (the bound the two-pass
    verify's broadcast decision relies on) while keeping the superset
    guarantee for heavy items."""
    import random

    rng = random.Random(7)
    # 40 partitions, heavy items h0..h4 plus a long tail of uniques
    rows = [(f"h{i % 5}",) for i in range(5000)] + [
        (f"tail{i}",) for i in range(3000)
    ]
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "w string").repartition(40)
    k = 16
    out = heavy_hitters(df, "w", k=k).collect()
    assert len(out) <= k, len(out)
    n = len(rows)
    true_heavy = {f"h{i}" for i in range(5)}  # each 1000 > n/k = 500
    assert true_heavy <= {r["item"] for r in out}
