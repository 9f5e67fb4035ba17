"""Streaming incremental index maintenance (M1) + watermarked windows.

The invariant that matters (SURVEY §2.9): after draining the stream, the
incrementally-maintained LSH index is IDENTICAL to a batch rebuild over the
accumulated chunks table — same seeded planes, same hash rows.
"""

from __future__ import annotations

import functools

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from vector_database_api_spark.functions.embedding import text_to_vector
from vector_database_api_spark.operators import lsh as L
from vector_database_api_spark.streaming import maintenance as M

DIM = 16


@pytest.fixture(scope="module")
def planes():
    return L.generate_planes(DIM, num_tables=4, hash_length=6, seed=3)


def _chunk_batch(spark, ids, with_embedding=False):
    rows = []
    for i in ids:
        emb = [float(x) for x in text_to_vector(f"text {i}", DIM)] if with_embedding else None
        rows.append((f"c{i}", "lib", f"d{i}", f"text {i}", emb, {"k": str(i)}))
    return spark.createDataFrame(rows, M.CHUNK_INGEST_SCHEMA)


def test_incremental_equals_batch_rebuild(spark, planes, tmp_path):
    src = str(tmp_path / "src")
    chunks_dir = str(tmp_path / "chunks")
    index_dir = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")

    # batch 1 lands before the stream starts
    _chunk_batch(spark, range(0, 5)).write.mode("append").parquet(src)
    encode = functools.partial(L.hash_table_df, planes=planes)
    q = M.incremental_index_maintenance(
        M.read_chunk_stream(spark, src), encode, chunks_dir, index_dir, ckpt,
        embedding_dim=DIM,
    )
    q.awaitTermination(120)

    # batch 2 arrives later; resume from the checkpoint
    _chunk_batch(spark, range(5, 12)).write.mode("append").parquet(src)
    q2 = M.incremental_index_maintenance(
        M.read_chunk_stream(spark, src), encode, chunks_dir, index_dir, ckpt,
        embedding_dim=DIM,
    )
    q2.awaitTermination(120)

    chunks = spark.read.parquet(chunks_dir)
    index = spark.read.parquet(index_dir)
    assert chunks.count() == 12
    # embeddings were filled by the deterministic embedder
    assert chunks.filter("embedding IS NULL").count() == 0

    incr = {
        (r["id"], r["table_idx"], r["hash"])
        for r in index.collect()
    }
    rebuild = {
        (r["id"], r["table_idx"], r["hash"])
        for r in L.hash_table_df(chunks, planes).collect()
    }
    assert incr == rebuild
    assert len(incr) == 12 * len(planes)


def test_windowed_event_counts_match_batch(spark, tmp_path):
    src = str(tmp_path / "events")
    events = spark.createDataFrame(
        pd.DataFrame(
            {
                "ts": pd.to_datetime(
                    ["2024-01-01 10:05", "2024-01-01 10:55", "2024-01-01 11:05",
                     "2024-01-01 10:20", "2024-01-01 12:40"]
                ),
                "event_type": ["click", "click", "click", "view", "view"],
                "value": [1.0, 2.0, 4.0, 8.0, 16.0],
            }
        )
    )
    events.write.mode("append").parquet(src)
    stream = M.read_event_stream(spark, src, events.schema)
    # append mode only emits windows the watermark has passed; a single
    # availableNow drain never advances it, so read the full state instead
    q = M.run_stream_to_memory(
        M.windowed_event_counts(stream), "win_counts", output_mode="complete"
    )
    q.awaitTermination(120)
    got = {
        (str(r["window_start"]), r["event_type"]): (r["n"], r["sum_value"])
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    want = {
        ("2024-01-01 10:00:00", "click"): (2, 3.0),
        ("2024-01-01 11:00:00", "click"): (1, 4.0),
        ("2024-01-01 10:00:00", "view"): (1, 8.0),
        ("2024-01-01 12:00:00", "view"): (1, 16.0),
    }
    assert got == want


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """The watermarked stream-stream interval join, drained with
    availableNow, must equal the batch range_join on the same data."""
    from vector_database_api_spark.operators import joins as batch_joins
    from vector_database_api_spark.streaming import joins as stream_joins

    src = str(tmp_path / "events2")
    events = spark.createDataFrame(
        pd.DataFrame(
            {
                "event_id": [1, 2, 3, 4, 5, 6],
                "user_id": [7, 7, 7, 8, 8, 9],
                "ts": pd.to_datetime(
                    [
                        "2024-01-01 10:00",  # 1: pairs with 2 (5 min)
                        "2024-01-01 10:05",  # 2
                        "2024-01-01 11:00",  # 3: too far from 1,2
                        "2024-01-01 10:00",  # 4: pairs with 5 (10 min exactly)
                        "2024-01-01 10:10",  # 5
                        "2024-01-01 10:00",  # 6: alone on its key
                    ]
                ),
            }
        )
    )
    # single file => one micro-batch: the file source (maxFilesPerTrigger=1)
    # otherwise splits part-files into separate batches in listing order,
    # and the advancing watermark can evict one side's buffered rows before
    # the file holding the matching row arrives
    events.repartition(1).write.mode("append").parquet(src)

    batch = {
        (r["user_id"], r["id_a"], r["id_b"])
        for r in batch_joins.range_join(
            spark.read.parquet(src), spark.read.parquet(src), on="user_id"
        ).collect()
    }
    assert batch == {(7, 1, 2), (8, 4, 5)}

    stream = M.read_event_stream(spark, src, events.schema)
    joined = stream_joins.stream_stream_interval_join(stream, stream)
    q = M.run_stream_to_memory(joined, "ss_join", output_mode="append")
    q.awaitTermination(120)
    got = {
        (r["user_id"], r["id_a"], r["id_b"])
        for r in spark.sql("SELECT * FROM ss_join").collect()
    }
    assert got == batch


def test_embedder_deterministic(spark):
    df = spark.createDataFrame([("hello",), ("hello",), ("world",)], "text string")
    from vector_database_api_spark.functions.embedding import embed_text

    out = df.select(embed_text("text", DIM).alias("e")).collect()
    assert out[0]["e"] == out[1]["e"]
    assert out[0]["e"] != out[2]["e"]
    assert len(out[0]["e"]) == DIM
    assert abs(float(np.linalg.norm(out[0]["e"])) - 1.0) < 1e-5


def test_incremental_pq_equals_batch_encode(spark, tmp_path):
    """Streaming PQ maintenance (frozen codebooks) must produce the same
    codes as a one-shot batch encode of the same rows."""
    import numpy as np

    from vector_database_api_spark.operators import pq as PQ
    from vector_database_api_spark.sources.tables import load_table

    embs = load_table(spark, sf_dir="/root/testdata/sf0.001", name="embeddings")
    base = embs.select(
        F.col("vec_id").cast("string").alias("id"),
        F.lit("libS").alias("library_id"),
        F.col("vec_id").cast("string").alias("document_id"),
        F.lit("t").alias("text"),
        F.col("embedding"),
        F.create_map().cast("map<string,string>").alias("metadata"),
    )
    index = PQ.build_pq(base, m=8, k=16, seed=42)

    src = str(tmp_path / "src")
    base.repartition(1).write.mode("append").parquet(src)
    stream = M.read_chunk_stream(spark, src)
    q = M.incremental_index_maintenance(
        stream,
        lambda batch: PQ.encode_codes(batch, index.codebooks),
        str(tmp_path / "chunks"),
        str(tmp_path / "codes"),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    streamed = {
        r["id"]: list(r["codes"])
        for r in spark.read.parquet(str(tmp_path / "codes")).collect()
    }
    batch = {r["id"]: list(r["codes"]) for r in index.codes_df.collect()}
    assert streamed == batch


def test_stream_static_enrich(spark, tmp_path):
    """Stream enriched with a broadcast static dimension: every output
    row carries its dimension attributes; unmatched keys survive (left)."""
    src = str(tmp_path / "ev")
    events = spark.createDataFrame(
        pd.DataFrame(
            {
                "event_id": [1, 2, 3],
                "user_id": [10, 20, 99],
                "value": [1.0, 2.0, 3.0],
            }
        )
    )
    events.repartition(1).write.mode("append").parquet(src)
    dim = spark.createDataFrame(
        [(10, "gold"), (20, "basic")], "user_id bigint, tier string"
    )
    stream = M.read_event_stream(
        spark, src, "event_id bigint, user_id bigint, value double"
    )
    enriched = M.stream_static_enrich(stream, dim, "user_id", ["tier"])
    q = M.run_stream_to_memory(enriched, "enriched_events")
    q.awaitTermination(120)
    got = {
        r["event_id"]: r["tier"]
        for r in spark.sql("SELECT * FROM enriched_events").collect()
    }
    assert got == {1: "gold", 2: "basic", 3: None}


def test_sliding_window_counts_match_batch(spark, tmp_path):
    """Sliding-mode windowed_event_counts (30 min window, 10 min slide)
    drained with availableNow must equal the batch sliding-window
    aggregation on the same rows — each event in exactly 3 windows."""
    src = str(tmp_path / "events_sliding")
    events = spark.createDataFrame(
        pd.DataFrame(
            {
                "ts": pd.to_datetime(
                    ["2024-01-01 10:05", "2024-01-01 10:12", "2024-01-01 10:25",
                     "2024-01-01 11:01", "2024-01-01 10:05"]
                ),
                "event_type": ["click", "click", "view", "view", "click"],
                "value": [1.0, 2.0, 4.0, 8.0, 16.0],
            }
        )
    )
    events.write.mode("append").parquet(src)
    stream = M.read_event_stream(spark, src, events.schema)
    q = M.run_stream_to_memory(
        M.windowed_event_counts(
            stream, window_length="30 minutes", slide_length="10 minutes"
        ),
        "sliding_counts",
        output_mode="complete",
    )
    q.awaitTermination(120)
    got = {
        (str(r["window_start"]), r["event_type"]): (r["n"], r["sum_value"])
        for r in spark.sql("SELECT * FROM sliding_counts").collect()
    }
    batch = (
        events.groupBy(
            F.window("ts", "30 minutes", "10 minutes").alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "sum_value")
    )
    want = {
        (str(r["window_start"]), r["event_type"]): (r["n"], r["sum_value"])
        for r in batch.collect()
    }
    assert got == want
    # every event appears in exactly length/slide = 3 windows
    assert sum(n for n, _ in got.values()) == 3 * 5


def test_incremental_sketch_equals_batch(spark, tmp_path):
    """Streaming HLL maintenance: after draining batches (including a
    restart), every (day, event_type) sketch estimate equals the estimate
    computed in one batch pass over all accumulated events — HLL union is
    exact w.r.t. the merged sketch state."""
    import datetime as dt

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    skdir = str(tmp_path / "sketches")

    def ev(rows):
        return spark.createDataFrame(
            pd.DataFrame(
                {
                    "user_id": [r[0] for r in rows],
                    "ts": [r[1] for r in rows],
                    "event_type": [r[2] for r in rows],
                }
            )
        )

    d1 = dt.datetime(2024, 1, 1, 10, 0)
    d2 = dt.datetime(2024, 1, 2, 10, 0)
    ev([(1, d1, "click"), (2, d1, "click"), (1, d1, "view")]).write.mode(
        "append"
    ).parquet(src)
    stream = M.read_event_stream(
        spark, src, "user_id bigint, ts timestamp, event_type string"
    )
    q = M.incremental_sketch_maintenance(spark, stream, skdir, ckpt)
    q.awaitTermination(120)

    # second drain: overlapping + new users, new day, fresh query instance
    ev(
        [(1, d1, "click"), (3, d1, "click"), (2, d2, "click"), (4, d2, "view")]
    ).write.mode("append").parquet(src)
    stream = M.read_event_stream(
        spark, src, "user_id bigint, ts timestamp, event_type string"
    )
    q = M.incremental_sketch_maintenance(spark, stream, skdir, ckpt)
    q.awaitTermination(120)

    got = {
        (str(r.day), r.event_type): r.est_users
        for r in M.sketch_estimates(spark, skdir).collect()
    }
    batch = spark.read.parquet(src)
    want = {
        (str(r.day), r.event_type): r.est
        for r in batch.groupBy(F.to_date("ts").alias("day"), "event_type")
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est"))
        .collect()
    }
    for k, v in want.items():
        assert got[k] == v, (k, got[k], v)
    # per-day rollup present and exact at this cardinality
    assert got[("2024-01-01", "__all__")] == 3
    assert got[("2024-01-02", "__all__")] == 2


def test_sketch_maintenance_recovers_from_crashed_overwrite(spark, tmp_path):
    """Crash seam: Spark's overwrite deletes sketch_dir before rewriting,
    so a crash mid-overwrite leaves only the staged copy complete.  The
    next batch must fold into the staged state, not rebuild from the one
    replayed batch (which would silently drop all prior history)."""
    import datetime as dt
    import shutil

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    skdir = str(tmp_path / "sketches")

    def ev(rows):
        return spark.createDataFrame(
            pd.DataFrame(
                {
                    "user_id": [r[0] for r in rows],
                    "ts": [r[1] for r in rows],
                    "event_type": [r[2] for r in rows],
                }
            )
        )

    d1 = dt.datetime(2024, 1, 1, 10, 0)
    d2 = dt.datetime(2024, 1, 2, 10, 0)
    ev([(1, d1, "click"), (2, d1, "click"), (3, d1, "click")]).write.mode(
        "append"
    ).parquet(src)
    stream = M.read_event_stream(
        spark, src, "user_id bigint, ts timestamp, event_type string"
    )
    M.incremental_sketch_maintenance(spark, stream, skdir, ckpt).awaitTermination(120)

    # simulate a crash during the final overwrite: sketch_dir wiped,
    # staged dir (written just before) intact
    shutil.rmtree(skdir)

    ev([(9, d2, "view")]).write.mode("append").parquet(src)
    stream = M.read_event_stream(
        spark, src, "user_id bigint, ts timestamp, event_type string"
    )
    M.incremental_sketch_maintenance(spark, stream, skdir, ckpt).awaitTermination(120)

    got = {
        (str(r.day), r.event_type): r.est_users
        for r in M.sketch_estimates(spark, skdir).collect()
    }
    # day-1 history survived the crash; day-2 batch folded in
    assert got[("2024-01-01", "click")] == 3
    assert got[("2024-01-02", "view")] == 1


def test_streaming_dedup_within_watermark_matches_batch(spark, tmp_path):
    """dropDuplicatesWithinWatermark: duplicate keys arriving within the
    watermark horizon are suppressed; the surviving set equals a batch
    dropDuplicates over the same feed."""
    import datetime as dt

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    base = dt.datetime(2024, 3, 1, 12, 0)
    rows = [
        (1, base, "click"),
        (1, base + dt.timedelta(minutes=5), "click"),   # dup within horizon
        (2, base + dt.timedelta(minutes=1), "view"),
        (3, base + dt.timedelta(minutes=2), "click"),
        (2, base + dt.timedelta(minutes=9), "view"),    # dup within horizon
    ]
    spark.createDataFrame(
        pd.DataFrame(
            {
                "user_id": [r[0] for r in rows],
                "ts": [r[1] for r in rows],
                "event_type": [r[2] for r in rows],
            }
        )
    ).write.mode("append").parquet(src)

    stream = M.read_event_stream(
        spark, src, "user_id bigint, ts timestamp, event_type string"
    )
    q = M.streaming_dedup_within_watermark(
        stream, out, ckpt, key_cols=["user_id"], watermark="1 hour"
    )
    q.awaitTermination(120)

    got = sorted(r.user_id for r in spark.read.parquet(out).collect())
    want = sorted(
        r.user_id
        for r in spark.read.parquet(src).dropDuplicates(["user_id"]).collect()
    )
    assert got == want == [1, 2, 3]


def test_session_window_counts_match_batch(spark, tmp_path):
    """Streaming session_window (gap-merged, watermark-bounded state)
    drained with availableNow equals the same aggregation run in batch —
    including a session that merges two files' events across micro-batch
    boundaries."""
    src = str(tmp_path / "sess_events")
    mk = lambda ts, uid, v: (pd.Timestamp(ts), uid, v)
    batch1 = pd.DataFrame(
        [mk("2024-01-01 10:00", 1, 1.0), mk("2024-01-01 11:00", 1, 2.0),
         mk("2024-01-01 10:30", 2, 4.0)],
        columns=["ts", "user_id", "value"],
    )
    batch2 = pd.DataFrame(
        # extends user 1's open session (gap < 4h) and opens a new one for 2
        [mk("2024-01-01 13:00", 1, 8.0), mk("2024-01-01 20:00", 2, 16.0)],
        columns=["ts", "user_id", "value"],
    )
    spark.createDataFrame(batch1).write.mode("append").parquet(src)
    spark.createDataFrame(batch2).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema

    stream = M.read_event_stream(spark, src, schema)
    q = M.run_stream_to_memory(
        M.session_window_counts(stream), "sess_counts", output_mode="complete"
    )
    q.awaitTermination(120)
    got = {
        (str(r["session_start"]), str(r["session_end"]), r["user_id"]):
            (r["n_events"], r["sum_value"])
        for r in spark.sql("SELECT * FROM sess_counts").collect()
    }

    # batch twin: same aggregation without watermark on the static table
    static = spark.read.parquet(src)
    want = {
        (str(r["session_start"]), str(r["session_end"]), r["user_id"]):
            (r["n_events"], r["sum_value"])
        for r in static.groupBy(
            F.session_window("ts", "4 hours").alias("w"), F.col("user_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id", "n_events", "sum_value",
        )
        .collect()
    }
    assert got == want and len(got) == 3
    # the cross-batch merge actually happened: user 1's three events
    # (two in batch 1, one in batch 2) form ONE gap-merged session
    u1 = [(k, v) for k, v in got.items() if k[2] == 1]
    assert len(u1) == 1 and u1[0][1] == (3, 11.0)


def test_incremental_sq_equals_batch_encode(spark, tmp_path):
    """Streaming SQ8 maintenance (frozen per-dim bounds) must produce the
    same codes as the batch encode of the same rows."""
    from vector_database_api_spark.operators import sq as SQ
    from vector_database_api_spark.sources.tables import load_table

    embs = load_table(spark, sf_dir="/root/testdata/sf0.001", name="embeddings")
    base = embs.select(
        F.col("vec_id").cast("string").alias("id"),
        F.lit("libQ").alias("library_id"),
        F.col("vec_id").cast("string").alias("document_id"),
        F.lit("t").alias("text"),
        F.col("embedding"),
        F.create_map().cast("map<string,string>").alias("metadata"),
    )
    index = SQ.build_sq(base)

    src = str(tmp_path / "src")
    base.repartition(1).write.mode("append").parquet(src)
    stream = M.read_chunk_stream(spark, src)
    q = M.incremental_index_maintenance(
        stream,
        lambda batch: SQ.encode_with_bounds(batch, index.vmins, index.vmaxs),
        str(tmp_path / "chunks"),
        str(tmp_path / "codes"),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    streamed = {
        r["id"]: list(r["codes"])
        for r in spark.read.parquet(str(tmp_path / "codes")).collect()
    }
    batch = {r["id"]: list(r["codes"]) for r in index.codes_df.collect()}
    assert streamed == batch


def test_incremental_frequency_maintenance_guarantees(spark, tmp_path):
    """Streaming Misra-Gries fold: after draining the stream, the stored
    summary satisfies the MG guarantees over ALL folded batches (heavy
    items survive, est <= true), and a restart with no new data leaves
    the summary unchanged (batch_id skip makes the non-idempotent merge
    safe)."""
    import json
    import pathlib

    src = str(tmp_path / "freq_events")
    rows1 = [("a",)] * 50 + [("b",)] * 30 + [(f"x{i}",) for i in range(40)]
    rows2 = [("a",)] * 60 + [("c",)] * 45 + [(f"y{i}",) for i in range(40)]
    spark.createDataFrame(rows1, "event_type string").repartition(1).write.mode(
        "append"
    ).parquet(src)
    spark.createDataFrame(rows2, "event_type string").repartition(1).write.mode(
        "append"
    ).parquet(src)
    schema = spark.read.parquet(src).schema

    summary_dir = str(tmp_path / "freq_summary")
    q = M.incremental_frequency_maintenance(
        spark,
        M.read_event_stream(spark, src, schema),
        summary_dir,
        str(tmp_path / "freq_ckpt"),
        col="event_type",
        k=8,
    )
    q.awaitTermination(120)

    got = {
        r["item"]: r["est"]
        for r in spark.read.parquet(summary_dir).collect()
    }
    true = {"a": 110, "b": 30, "c": 45}
    n = 265
    meta = json.loads(
        pathlib.Path(summary_dir + "_meta.json").read_text()
    )
    assert meta["n"] == n
    # heavy items (> n/k = 33.1) must survive; ests are lower bounds
    assert "a" in got and "c" in got
    for item, est in got.items():
        assert est <= true.get(item, 40)
    # restart on the fully-drained source: no new batches fold, summary
    # unchanged (checkpoint + batch_id skip)
    q2 = M.incremental_frequency_maintenance(
        spark,
        M.read_event_stream(spark, src, schema),
        summary_dir,
        str(tmp_path / "freq_ckpt"),
        col="event_type",
        k=8,
    )
    q2.awaitTermination(120)
    got2 = {
        r["item"]: r["est"]
        for r in spark.read.parquet(summary_dir).collect()
    }
    assert got2 == got


def test_near_dup_gate_matches_greedy_simulation(spark, tmp_path):
    """The streaming admission gate admits exactly the greedy-by-id set:
    a doc is rejected iff it verifies >= threshold against an admitted
    earlier doc (cross-batch via the signature table, within-batch via
    the verified pair list).  Chains keep their first element; replaying
    with no new files changes nothing."""
    import json
    import pathlib

    from vector_database_api_spark.operators.dedup import minhash_near_dup_pairs
    from vector_database_api_spark.sources.tables import load_table

    docs = (
        load_table(spark, "/root/testdata/sf0.001", "documents")
        .select("doc_id", "text")
        .filter(F.length("text") > 0)
    )
    src = str(tmp_path / "gate_src")
    # three arrival batches in doc_id order → greedy order == id order
    for lo, hi in [(0, 170), (170, 340), (340, 100000)]:
        docs.filter(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
        ).repartition(1).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema

    admitted_dir = str(tmp_path / "gate_admitted")
    sig_dir = str(tmp_path / "gate_sigs")
    q = M.incremental_near_dup_gate(
        spark,
        M.read_event_stream(spark, src, schema),
        admitted_dir,
        sig_dir,
        str(tmp_path / "gate_ckpt"),
        jaccard_threshold=0.5,
    )
    q.awaitTermination(300)

    got = {r["doc_id"] for r in spark.read.parquet(admitted_dir).collect()}

    # driver greedy simulation over the batch near-dup pair graph
    pairs = minhash_near_dup_pairs(docs, jaccard_threshold=0.5).collect()
    dup_of: dict = {}
    for r in pairs:
        dup_of.setdefault(r["id_b"], []).append(r["id_a"])
    want: set = set()
    for rid in sorted(r["doc_id"] for r in docs.collect()):
        if not any(a in want for a in dup_of.get(rid, [])):
            want.add(rid)
    assert got == want
    assert len(want) < docs.count()  # the corpus HAS near-dups to reject

    meta = json.loads(pathlib.Path(sig_dir + "_meta.json").read_text())
    assert meta["n_admitted"] == len(want)

    # restart with no new data: replay-safe, nothing double-admitted
    q2 = M.incremental_near_dup_gate(
        spark,
        M.read_event_stream(spark, src, schema),
        admitted_dir,
        sig_dir,
        str(tmp_path / "gate_ckpt"),
        jaccard_threshold=0.5,
    )
    q2.awaitTermination(300)
    assert {
        r["doc_id"] for r in spark.read.parquet(admitted_dir).collect()
    } == want


def test_near_dup_gate_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: a crash after the sink writes but
    before the meta commit replays the batch with the SAME batch_id.  The
    dynamic-partition-overwrite sinks must make that replay content-
    idempotent — no duplicate admitted rows, no self-rejection against
    the batch's own already-written signatures."""
    import json
    import pathlib
    import shutil

    from vector_database_api_spark.sources.tables import load_table
    from vector_database_api_spark.streaming.maintenance import (
        near_dup_gate_batch_processor,
    )

    docs = (
        load_table(spark, "/root/testdata/sf0.001", "documents")
        .select("doc_id", "text")
        .filter(F.length("text") > 0)
    )
    admitted_dir = str(tmp_path / "adm")
    sig_dir = str(tmp_path / "sigs")
    proc = near_dup_gate_batch_processor(
        admitted_dir, sig_dir, jaccard_threshold=0.5
    )
    b0 = docs.filter(F.col("doc_id") < 200)
    b1 = docs.filter(F.col("doc_id") >= 200)
    proc(b0, 0)
    proc(b1, 1)
    want = {r["doc_id"] for r in spark.read.parquet(admitted_dir).collect()}
    n_rows = spark.read.parquet(admitted_dir).count()
    assert n_rows == len(want)  # one row per admitted doc

    meta_path = pathlib.Path(sig_dir + "_meta.json")

    # crash A: both sinks committed, meta lost -> replay of batch 1
    meta_path.unlink()
    proc(b1, 1)
    assert {
        r["doc_id"] for r in spark.read.parquet(admitted_dir).collect()
    } == want
    assert spark.read.parquet(admitted_dir).count() == n_rows
    assert json.loads(meta_path.read_text())["last_batch_id"] == 1

    # crash B: admitted partition written, sig partition + meta lost
    # (crash between the two sink writes)
    shutil.rmtree(str(tmp_path / "sigs" / "_batch_id=1"))
    meta_path.unlink()
    proc(b1, 1)
    assert {
        r["doc_id"] for r in spark.read.parquet(admitted_dir).collect()
    } == want
    assert spark.read.parquet(admitted_dir).count() == n_rows
    # sig store rebuilt: every admitted doc's signature is present exactly once
    sig_ids = [r["id"] for r in spark.read.parquet(sig_dir).collect()]
    assert sorted(sig_ids) == sorted(want)

    # fully-committed batch: the meta fast-path skips it outright
    proc(b1, 1)
    assert spark.read.parquet(admitted_dir).count() == n_rows


def test_near_dup_gate_holds_at_10x_batch_size(spark, tmp_path):
    """The greedy admission loop collects only this batch's ids and
    verified pairs — state is O(|batch|), bounded by the micro-batch size
    a deployment configures (maxFilesPerTrigger / maxBytesPerTrigger).
    Feed one batch 10x the size of the stream test's batches (the whole
    sf0.01 corpus, 5000 docs) through the processor and pin the result
    against the driver-side greedy simulation."""
    from vector_database_api_spark.operators.dedup import minhash_near_dup_pairs
    from vector_database_api_spark.sources.tables import load_table
    from vector_database_api_spark.streaming.maintenance import (
        near_dup_gate_batch_processor,
    )

    docs = (
        load_table(spark, "/root/testdata/sf0.01", "documents")
        .select("doc_id", "text")
        .filter(F.length("text") > 0)
    )
    admitted_dir = str(tmp_path / "adm10x")
    sig_dir = str(tmp_path / "sigs10x")
    proc = near_dup_gate_batch_processor(
        admitted_dir, sig_dir, jaccard_threshold=0.5
    )
    proc(docs, 0)
    got = {r["doc_id"] for r in spark.read.parquet(admitted_dir).collect()}

    pairs = minhash_near_dup_pairs(docs, jaccard_threshold=0.5).collect()
    dup_of: dict = {}
    for r in pairs:
        dup_of.setdefault(r["id_b"], []).append(r["id_a"])
    want: set = set()
    for rid in sorted(r["doc_id"] for r in docs.collect()):
        if not any(a in want for a in dup_of.get(rid, [])):
            want.add(rid)
    assert got == want
    assert len(want) < docs.count()


def test_streaming_topic_model_matches_batch_and_replay(spark, tmp_path, sf_dir):
    """Streamed c-TF-IDF topic-model counts == batch recomputation over
    the same corpus (identical scorer, so scores match bit-for-bit),
    and crash-replay of a committed batch is a no-op."""
    from vector_database_api_spark.operators.quality import ctfidf_scores
    from vector_database_api_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    src = str(tmp_path / "src")
    for lo, hi in [(0, 20), (20, 35), (35, 10**9)]:
        docs.filter(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
        ).repartition(1).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema

    store = str(tmp_path / "topic_counts")
    M.incremental_topic_model_maintenance(
        spark,
        M.read_event_stream(spark, src, schema),
        store,
        str(tmp_path / "ckpt"),
    ).awaitTermination(300)

    streamed = {
        (r["source"], r["term"]): r["ctfidf"]
        for r in M.topic_model_serving(spark, store).collect()
    }

    batch_tc = (
        docs.filter(F.col("text").isNotNull())
        .select(
            "source",
            F.explode(F.split(F.lower(F.col("text")), " ", -1)).alias("term"),
        )
        .filter(F.length("term") >= 3)
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    batch = {
        (r["source"], r["term"]): r["ctfidf"]
        for r in ctfidf_scores(batch_tc).collect()
    }
    assert streamed == batch  # bit-exact: same counts, same scorer

    # crash-replay: reprocess batch 0's rows under the same batch id —
    # dynamic overwrite rewrites its own partition with identical content
    proc = M.topic_counts_batch_processor(store)
    proc(docs.filter(F.col("doc_id") < 20), 0)
    replayed = {
        (r["source"], r["term"]): r["ctfidf"]
        for r in M.topic_model_serving(spark, store).collect()
    }
    assert replayed == batch
