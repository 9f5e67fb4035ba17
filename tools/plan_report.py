"""Audit the physical plan of every bench headline query and emit a
markdown table (PLANS_AUDIT.md) of the scale-critical features:
top-k shape, broadcast/sort-merge join counts, shuffle count, filter
pushdown, and any Python evaluation nodes.

Plans are built (not executed) against $SPARK_GRAFT_SF_DIR, so the table
reflects exactly what the driver's bench run executes.  Usage::

    python tools/plan_report.py [sf_dir]

The report is written to PLANS_AUDIT.md in the current directory: run it
from a scratch directory and diff the result against the committed file.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# the Python workers inherit the environment, so executor UDFs import
# the package from any working directory
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)

from bench import HEADLINE
from vector_database_api_spark import queries as q
from vector_database_api_spark.plans.audit import audit_plan, capture_hint_errors
from vector_database_api_spark.session import get_spark

# Python evaluation is the slow path; these are the deliberate,
# name-pinned exceptions (Arrow-batched BLAS kernels and fake codecs —
# rationale in PLANS.md).  Anything NOT in this set appearing in a plan
# is a regression.
ALLOWED_PYTHON = {
    "srp_hash",          # bulk SRP hashing: one BLAS matmul per batch
    "all_hashes",        # same kernel, serving-path name (lsh.srp_hash_udf)
    "adc",               # PQ lookup-table gather
    "encode",            # PQ code assignment
    "embed",             # deterministic embedder (external-source seam)
    "chunkudtf",         # Python UDTF demonstration query (slow by design)
    "sig",               # SimHash signature: one BLAS matmul per batch
    "shingles",          # Arrow-batched word shingler (text.word_shingles_udf)
    "to_raw_gray",       # deterministic media codec (Arrow-batched, r4)
    "to_raw_pcm",        # deterministic audio codec (Arrow-batched, r4)
    "to_png",            # PNG encoder feeding the round-trip oracle (Arrow-batched, r4)
}
# As of round 4 every allowlisted seam is Arrow-batched (pandas_udf /
# mapInPandas) — no row-at-a-time BatchEvalPython remains in any plan.

# Window.partitionBy keys with BOUNDED per-key cardinality BY
# CONSTRUCTION: per-key row counts do not grow with corpus size because
# the key is a unique-entity id (one user's events, one document's
# terms, one order's lines).  A window over any key NOT listed here
# (and not covered by a declared bound, below) is a regression: window
# partitions run on a single task and AQE never skew-splits them
# (round-4 verdict: the span doc-frequency window serialized viral
# spans — rewritten to groupBy+join in round 5).  ``<global>`` (no
# partition spec) is never allowed on the bench surface.
#
# NOT in this set (r10, closing the r9 verdict's finding): enumerable
# DIM attributes (source/lang/split/o_orderpriority/c_mktsegment/
# s_nationkey/n_name).  An earlier comment here claimed their per-key
# counts "do not grow with corpus size" — FALSE: a dim key's per-key
# input is N/|dim|, linear in corpus size, and worse than a per-query
# key because the partitions are fewer and bigger (5 segments => 5
# tasks each sorting 20% of the table).  They moved to
# DECLARED_BOUND_KEYS: each use must declare what bounds the window's
# INPUT (e.g. a two-phase prefix scan's <=P-rows-per-key block-offset
# frame, operators/prefix.py) or shard via grouped_topk.
BOUNDED_WINDOW_KEYS = {
    "id",                               # unique chunk id: one chunk's rows
    "user_id",                          # one user's events
    "doc_id",                           # one document's terms/chunks
    "vec_id",                           # one vector's probe rows
    "o_custkey",                        # one customer's orders
    "l_orderkey", "o_orderkey",         # one order's lines
    "l_partkey", "ps_partkey",          # one part's suppliers (~4, SF-independent)
    "band", "probe_rank", "bucket",     # bounded index structure keys
    # windows sharded by operators/skew.py::grouped_topk report this
    # marker alone (plans/audit.py): per-task work is group/shards by
    # construction, whatever the co-partition keys' cardinality
    "_salt",
}

# Keys whose per-key input is NOT structurally bounded — the window
# partitions whatever the plan feeds it, which can be the whole scored
# corpus.  The r8 verdict found exactly that class shipped FOUR times
# because this gate blessed `qid` by name ("per-query top-k: k rows per
# key" — true of the window's OUTPUT, not its input); the r9 verdict
# found the same hole one tier down for enumerable dims (per-key input
# N/|dim|).  These keys now require the audit target to declare WHAT
# bounds the window's input in queries.WINDOW_BOUNDS; the declaration
# is rendered into PLANS_AUDIT.md so the claim is reviewable.  An
# undeclared window over them fails the gate (tests/test_plans.py pins
# this).  ``_pid`` is here too: a spark_partition_id captured after an
# explicit repartition bounds its window blocks at ~N/P rows — but the
# plan cannot prove the column's provenance, so each use declares it
# rather than being blessed by name.
DECLARED_BOUND_KEYS = {
    "qid", "query_id", "cluster_id",
    "source", "lang", "split",          # enumerable corpus facets
    "o_orderpriority", "c_mktsegment",  # TPC-H enumerable dims
    "s_nationkey", "n_name",            # per-nation (25 values)
    "_pid",                             # range-block id (operators/prefix.py)
}


def window_key_violations(name: str, specs) -> list[str]:
    """Violation strings for ``name``'s window partition specs: empty
    iff EVERY per-window spec is structurally bounded, sharded
    (`_salt`), or covered by declared input bounds (queries.
    WINDOW_BOUNDS entries for this audit target).

    ``specs`` is audit_plan's ``window_partition_specs`` — one key
    group per Window node.  (A flat collection of strings is accepted
    as a single spec, for single-window callers.)  The gate is
    per-spec, never on the union of a plan's window keys: a bounded
    key in one window must not mask an unbounded key in a DIFFERENT
    window of the same plan.

    Co-key rule (r10): a partition spec is the INTERSECTION of its
    keys — partitionBy(a, b) is at least as fine as partitionBy(a) —
    so a spec CONTAINING any structurally bounded unique-entity key is
    at most that key's per-entity row count, whatever the other keys
    are (e.g. (doc_id, doc_id_b, diag) <= one document's rows).  This
    is the same argument audit.py applies to `_salt` co-keys, stated
    once for the whole set instead of blessing every co-key name
    individually.  Caveat it shares with all by-name blessing: the
    per-entity bound is a claim about the FRAME (a doc's rows), which
    the plan string cannot verify — a frame that fans an entity key
    out (a pair join) weakens the bound to the fan size; declared
    bounds (WINDOW_BOUNDS) remain the strong, reviewable form."""
    specs = list(specs)
    if specs and all(isinstance(s, str) for s in specs):
        specs = [tuple(specs)]
    declared = q.WINDOW_BOUNDS.get(name, {})
    bad: list[str] = []
    for spec in specs:
        keyset = set(spec)
        if keyset & BOUNDED_WINDOW_KEYS:
            continue
        for key in sorted(keyset):
            if key in DECLARED_BOUND_KEYS:
                if not declared.get(key):
                    bad.append(f"window-over-undeclared-bound:{key}")
                continue
            bad.append(f"window-over-unbounded-key:{key}")
    return list(dict.fromkeys(bad))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("plan-report")
    rows = []
    violations = []
    registry = {**q.spark_queries(), **q.demo_queries()}
    # coordinator-fusion queries run their data-sized legs inside
    # collect(), invisible to an audit of the returned frame — each leg
    # is audited as its own "query:leg" row (queries.AUDIT_SUBPLANS)
    audit_targets: list[tuple[str, object]] = []
    for name in HEADLINE:
        audit_targets.append((name, registry[name]))
        for leg, fn in q.AUDIT_SUBPLANS.get(name, {}).items():
            audit_targets.append((f"{name}:{leg}", fn))
    for name, build in audit_targets:
        # any HintErrorLogger warning during build+plan means a join
        # hint was SILENTLY dropped (e.g. broadcast on an unsupported
        # build side) — the r6 defect class; hard-fail it here
        with capture_hint_errors(spark) as hint_errors:
            df = build(spark, sf_dir)
            a = audit_plan(df)
        if hint_errors:
            violations.append(
                (name, [f"dropped-hint:{m}" for m in hint_errors])
            )
        py = sorted(n.lower() for n in a["python_udf_names"])
        unexpected = [n for n in py if not any(al in n for al in ALLOWED_PYTHON)]
        if unexpected:
            violations.append((name, unexpected))
        wkeys = sorted(a["window_partition_keys"])  # display (union)
        bad_wkeys = window_key_violations(
            name, a["window_partition_specs"]  # gate (per window)
        )
        if bad_wkeys:
            violations.append((name, bad_wkeys))
        # Arrow grouped-map seams, rendered alongside the EvalPython names
        # (short tags: FlatMapCoGroupsInPandas -> cogroup, etc.)
        tags = {
            "FlatMapGroupsInPandas": "groupmap",
            "FlatMapCoGroupsInPandas": "cogroup",
            "MapInPandas": "mapinpandas",
            "FlatMapGroupsInPandasWithState": "groupstate",
        }
        py += [tags[k] for k in sorted(a["pandas_grouped_nodes"])]
        rows.append(
            (
                name,
                "topk" if a["take_ordered_topk"] else "—",
                a["broadcast_joins"],
                a["sort_merge_joins"],
                a["shuffles"],
                "yes" if a["pushed_filters"] else "—",
                ",".join(py) if py else "—",
                ",".join(wkeys) if wkeys else "—",
            )
        )

    with open("PLANS_AUDIT.md", "w") as f:
        f.write(
            "# PLANS_AUDIT — physical-plan features of every bench query\n\n"
            f"Generated by tools/plan_report.py against {sf_dir} "
            "(plan-build only, not executed).  Columns: distributed top-k "
            "shape, broadcast vs sort-merge join counts, shuffle count, "
            "parquet filter pushdown, Python eval nodes (allowed set in "
            "tools/plan_report.py — everything else is a regression), and "
            "Window partition keys (each must be structurally bounded "
            "(BOUNDED_WINDOW_KEYS), grouped_topk-sharded (`_salt`), or "
            "carry a declared input bound (queries.WINDOW_BOUNDS, "
            "rendered below the table) — window partitions run on one "
            "task and AQE never skew-splits them, so a window over an "
            "unbounded key is a scale regression).\n\n"
            "| query | top-k | bcast | smj | shuffles | pushdown | python "
            "| windowkeys |\n"
            "|---|---|---|---|---|---|---|---|\n"
        )
        for r in rows:
            f.write("| " + " | ".join(str(x) for x in r) + " |\n")
        used_bounds = [
            (name, key, q.WINDOW_BOUNDS[name][key])
            for (name, *_, wk) in rows
            if name in q.WINDOW_BOUNDS
            for key in sorted(set(wk.split(",")) & DECLARED_BOUND_KEYS)
            if key in q.WINDOW_BOUNDS[name]
        ]
        if used_bounds:
            f.write(
                "\n## Declared window-input bounds\n\n"
                "Window keys in DECLARED_BOUND_KEYS (qid/query_id/"
                "cluster_id) are NOT structurally bounded — the gate "
                "fails them unless the query declares what bounds the "
                "window's INPUT (queries.WINDOW_BOUNDS).  The "
                "declarations behind the rows above:\n\n"
            )
            for name, key, bound in used_bounds:
                f.write(f"- **{name}** `{key}`: {bound}\n")
        if violations:
            f.write(
                "\n**VIOLATIONS (unexpected Python / unbounded window "
                "key / dropped join hint):** "
            )
            f.write("; ".join(f"{n}: {u}" for n, u in violations) + "\n")
    print(
        f"wrote PLANS_AUDIT.md: {len(rows)} queries, "
        f"{sum(1 for r in rows if r[1] == 'topk')} top-k plans, "
        f"{len(violations)} violations"
    )
    if violations:
        sys.exit(1)


if __name__ == "__main__":
    main()
