"""Tests of the benchmark's pure parts: op lists, the latency statistic,
span arithmetic, metric names, input generation and the result checks.
No Spark session is started.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import dataclasses
import json
import os
import re

import numpy as np
import pytest

from perfbench import checks, datagen, run, stats, workloads

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
METRIC_NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _docs(seed: int = 0) -> dict[str, list[tuple[str, str, str]]]:
    t = datagen.tables(seed, 0.004, ("documents",))["documents"]
    out: dict[str, list] = {}
    for d, text, lang, src in zip(
        t["doc_id"].to_pylist(), t["text"].to_pylist(),
        t["lang"].to_pylist(), t["source"].to_pylist(),
    ):
        out.setdefault(src, []).append((str(d), text, lang))
    return out


def _dicts(ops):
    return [dataclasses.asdict(op) for op in ops]


def test_serve_ops_repeat_per_seed_and_differ_across_seeds():
    docs = _docs()
    a = workloads.serve_ops(7, docs, 5)
    assert _dicts(a) == _dicts(workloads.serve_ops(7, docs, 5))
    assert _dicts(a) != _dicts(workloads.serve_ops(8, docs, 5))


def test_serve_rounds_fix_the_mix():
    ops = workloads.serve_ops(3, _docs(), 4)
    per = workloads.round_length("serve-read")
    expected = sorted([p for p in workloads.SERVE_KINDS if p != "bm25"] + ["bm25-pruned", "bm25-scoring"])
    for r in range(4):
        rnd = ops[r * per:(r + 1) * per]
        assert sorted(op.slot for op in rnd) == expected
        assert all(op.k in workloads.SERVE_K for op in rnd)
    for op in ops:
        if op.params.get("mode") in workloads.BM25_PRUNED:
            assert "ranking" not in op.params


def test_batch_ops_repeat_per_seed_and_differ_across_seeds():
    a = workloads.batch_ops(1, 3)
    assert _dicts(a) == _dicts(workloads.batch_ops(1, 3))
    assert _dicts(a) != _dicts(workloads.batch_ops(2, 3))
    per = workloads.round_length("batch-registry")
    for r in range(3):
        assert sorted(op.path for op in a[r * per:(r + 1) * per]) == sorted(workloads.BATCH_NAMES)


def test_inputs_repeat_per_seed_and_differ_across_seeds():
    a = datagen.tables(5, 0.001)
    b = datagen.tables(5, 0.001)
    c = datagen.tables(6, 0.001)
    assert all(a[n].equals(b[n]) for n in datagen.ALL_TABLES)
    assert not a["documents"].equals(c["documents"])
    assert a["documents"].equals(datagen.tables(5, 0.001, ("documents",))["documents"])


def test_latency_statistic_weights_slots_alike():
    # a median over all six samples would sit between the cheap and the
    # dear slot and move with one extra sample of either
    samples = {"cheap": [10.0, 12.0, 11.0], "dear": [1000.0, 980.0, 1020.0]}
    assert stats.slot_median_geomean(samples) == pytest.approx((11.0 * 1000.0) ** 0.5)
    assert stats.slot_median_geomean({"one": [4.0, 2.0]}) == pytest.approx(3.0)


def test_percentile_matches_numpy():
    values = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0]
    for p in (0, 25, 50, 75, 90, 100):
        assert stats.percentile(values, p) == pytest.approx(np.percentile(values, p))


def test_union_length_merges_and_clips():
    assert stats.union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert stats.union_length([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == 2
    assert stats.union_length([], 0, 1) == 0


def test_self_time_subtracts_covered_child_time():
    S = stats.Span
    spans = [
        S("op", 0.0, 10.0, -1, "a"),
        S("child1", 1.0, 4.0, 0, "a"),
        S("child2", 3.0, 6.0, 0, "a"),  # overlaps child1: union is 5
        S("grandchild", 3.5, 5.0, 2, "a"),
        S("other", 20.0, 21.0, -1, "b"),
    ]
    assert stats.self_times(spans) == pytest.approx([5.0, 3.0, 1.5, 1.5, 1.0])


def test_metric_names_match_pattern_and_benchmark_json():
    names = list(run.E2E_UNITS) + list(run.LAYER_UNITS)
    assert len(names) == len(set(names))
    for name in names:
        assert METRIC_NAME.fullmatch(name), name
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.LAYER_UNITS
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)


def _library():
    rng = np.random.default_rng(0)
    emb = rng.standard_normal((30, 8))
    ids = [f"c{i}" for i in range(30)]
    langs = ["en" if i % 3 else "de" for i in range(30)]
    return checks.Library(ids, langs, emb), rng.standard_normal(8)


def test_exact_check_accepts_numpy_top_k_and_rejects_a_swap():
    lib, q = _library()
    ids, sims = lib.exact(q, {"lang": "en"})
    rows = [{"id": i, "similarity": float(s)} for i, s in zip(ids[:5], sims[:5])]
    assert checks.check_exact(rows, lib, q, 5, {"lang": "en"}) == []
    swapped = rows[:4] + [{"id": ids[7], "similarity": float(sims[7])}]
    assert checks.check_exact(swapped, lib, q, 5, {"lang": "en"})
    assert checks.recall(swapped, lib, q, 5, {"lang": "en"}) == pytest.approx(0.8)


def test_valid_check_catches_filter_order_and_size():
    lib, _ = _library()
    good = [{"id": "c1", "s": 0.9}, {"id": "c2", "s": 0.5}]
    assert checks.check_valid(good, lib, 2, {"lang": "en"}, "s") == []
    assert checks.check_valid(good, lib, 1, None, "s")
    assert checks.check_valid(good[::-1], lib, 2, None, "s")
    assert checks.check_valid([{"id": "c0", "s": 1.0}], lib, 2, {"lang": "en"}, "s")
    assert checks.check_valid([{"id": "zz", "s": 1.0}], lib, 2, None, "s")
