"""Incremental index maintenance + event-stream analytics.

Reference: index updates happen synchronously on every chunk mutation
(M1-M3: ``chunk_service.py:22-54,81-98,108-134`` -> ``IndexManager.add/
remove``).  The Spark-native equivalent is Structured Streaming over a
chunk-changes source with ``foreachBatch``: each micro-batch embeds new
text, appends to the ``chunks`` table, encodes it with the SAME frozen
state as the batch build (LSH planes, PQ codebooks, SQ8 bounds, or the
keyword postings), and appends the rows to the index table — so a search
over the maintained index equals a search over a full rebuild (tested in
tests/test_streaming.py).

The event-analytics surface (extended, SURVEY §7 stage 6) uses watermarked
tumbling windows — late data beyond the watermark is dropped by Spark's
state store, the standard answer to out-of-order events at scale.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from vector_database_api_spark.functions.embedding import make_embedder

CHUNK_INGEST_SCHEMA = StructType(
    [
        StructField("id", StringType()),
        StructField("library_id", StringType()),
        StructField("document_id", StringType()),
        StructField("text", StringType()),
        StructField("embedding", ArrayType(FloatType())),
        StructField("metadata", MapType(StringType(), StringType())),
    ]
)


def read_chunk_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    """File-based micro-batch source of chunk rows (the M1 ingestion feed).
    ``maxFilesPerTrigger=1`` keeps batches bounded regardless of how many
    files land between triggers."""
    return (
        spark.readStream.schema(CHUNK_INGEST_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
    )


def incremental_index_maintenance(
    chunk_stream: DataFrame,
    encode: Callable[[DataFrame], DataFrame | dict[str, DataFrame]],
    chunks_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    embedding_dim: int = 64,
) -> StreamingQuery:
    """M1 for every index kind: per micro-batch — embed missing
    embeddings, append to the chunks table, append ``encode(batch)`` to the
    index table.  ``encode`` is the kind's encoder under its FROZEN state
    (LSH: ``hash_table_df`` with the shared seeded planes; PQ:
    ``encode_codes`` with the codebooks; SQ8: ``encode_with_bounds`` with
    the per-dim bounds — incremental adds never retrain, like IVF's frozen
    centroids).  An encoder may return ``{table: rows}`` to append each
    under ``index_dir`` (the keyword index's postings/doclens).  Encoding
    is a pure function of (row, frozen state), so the streamed index
    equals a batch encode of the same rows (tested per kind).  Every write
    is an append-only file sink; exactly-once comes from the checkpoint +
    deterministic recompute."""
    import os

    embedder = make_embedder(embedding_dim)

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        batch = batch.withColumn(
            "embedding",
            F.coalesce(F.col("embedding"), embedder(F.col("text"))),
        )
        batch.persist()
        batch.write.mode("append").parquet(chunks_dir)
        rows = encode(batch)
        tables = rows if isinstance(rows, dict) else {"": rows}
        for sub, df in tables.items():
            df.write.mode("append").parquet(os.path.join(index_dir, sub))
        batch.unpersist()

    return (
        chunk_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_event_stream(spark: SparkSession, source_dir: str, schema) -> DataFrame:
    return (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(source_dir)
    )


def windowed_event_counts(
    events: DataFrame,
    watermark: str = "2 hours",
    window_length: str = "1 hour",
    ts_col: str = "ts",
    slide_length: str | None = None,
) -> DataFrame:
    """Watermarked tumbling- or sliding-window counts per event type —
    the streaming form of the batch ``events_hourly_window`` /
    ``events_sliding_window`` queries (same results when the stream is
    drained with availableNow).  With ``slide_length`` each event lands
    in length/slide overlapping windows; state per key stays bounded by
    the watermark either way."""
    win = (
        F.window(ts_col, window_length, slide_length)
        if slide_length
        else F.window(ts_col, window_length)
    )
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(win.alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n", "sum_value"
        )
    )


def session_window_counts(
    events: DataFrame,
    watermark: str = "2 hours",
    gap: str = "4 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Watermarked SESSION-window aggregation per user — the streaming
    form of the batch ``session_windows`` registry query (native
    ``session_window`` operator, gap-merged as events arrive).  Unlike
    fixed windows, session state merges adjacent windows whose gap
    closes; the watermark bounds how long an open session can wait for a
    late extension, so state stays bounded by the horizon.  Streamed
    (availableNow drain) equals the batch aggregation —
    tests/test_streaming.py::test_session_window_counts_match_batch."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("w"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


def run_stream_to_memory(
    df: DataFrame,
    query_name: str,
    output_mode: str = "append",
) -> StreamingQuery:
    """Drain a streaming DataFrame into an in-memory table (test harness)."""
    return (
        df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )


def stream_static_enrich(
    events: DataFrame,
    dim: DataFrame,
    on: str,
    dim_cols: list[str],
) -> DataFrame:
    """Stream-static join: enrich a stream with a slowly-changing
    dimension.  The static side is broadcast to every micro-batch task
    and RE-RESOLVED per batch (Spark re-plans the static relation each
    trigger, so a refreshed dimension table is picked up without
    restarting the stream) — no state store involved, unlike
    stream-stream joins."""
    return events.join(F.broadcast(dim.select(on, *dim_cols)), on, "left")


def incremental_sketch_maintenance(
    spark: SparkSession,
    events_stream: DataFrame,
    sketch_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Streaming distinct-user sketches: each micro-batch reduces to one
    HLL sketch per (day, event_type); ``hll_union_agg`` folds it into the
    stored sketch table (read-union-overwrite per batch — at 100 TB this
    is a MERGE on the tiny sketch table, never a scan of history).

    The stored table is the pre-aggregation form: dashboards estimate
    distinct users over any day/type slice by unioning a handful of
    sketches, while the raw event stream is never re-read.  Mergeability
    (union of partials == sketch of whole) is what makes the fold exact —
    pinned in tests/test_sketches.py and test_streaming.py.
    """
    from pathlib import Path

    staged_dir = sketch_dir + "_staged"

    def _readable(path: str) -> bool:
        p = Path(path)
        return (p / "_SUCCESS").exists() and any(p.glob("*.parquet"))

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        batch_sk = batch.groupBy(
            F.to_date("ts").alias("day"), "event_type"
        ).agg(F.hll_sketch_agg("user_id").alias("sketch"))
        # Crash recovery: Spark's overwrite deletes sketch_dir before
        # rewriting it, so a crash mid-overwrite leaves the only complete
        # copy of the folded history in the staged dir.  Fold the replayed
        # batch into whichever copy is complete (sketch_dir preferred) —
        # HLL union is idempotent, so re-merging the replayed batch into
        # the staged state (which may already contain it) is exact.
        prior_path = None
        if _readable(sketch_dir):
            prior_path = sketch_dir
        elif _readable(staged_dir):
            prior_path = staged_dir
        if prior_path is not None:
            prior = batch.sparkSession.read.parquet(prior_path)
            merged = (
                prior.unionByName(batch_sk)
                .groupBy("day", "event_type")
                .agg(F.hll_union_agg("sketch").alias("sketch"))
            )
        else:
            merged = batch_sk
        # local-only staging swap; transactional overwrite in production
        merged.write.mode("overwrite").parquet(staged_dir)
        final = batch.sparkSession.read.parquet(staged_dir)
        final.write.mode("overwrite").parquet(sketch_dir)

    return (
        events_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def streaming_dedup_within_watermark(
    events_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    key_cols: list[str] | None = None,
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> StreamingQuery:
    """Bounded-state streaming dedup: keep the first arrival of each key
    within the watermark horizon (``dropDuplicatesWithinWatermark``),
    append the survivors.  Complements ``stateful.streaming_exact_dedup``
    (custom first-per-fingerprint state, unbounded horizon): at
    100 TB/day this built-in keeps only keys younger than the watermark
    in the state store — the standard answer for at-least-once upstream
    feeds (e.g. a crawler that re-emits documents on retry) where dup
    arrivals cluster in time.
    """
    keyed = events_stream.withWatermark(ts_col, watermark)
    deduped = keyed.dropDuplicatesWithinWatermark(key_cols or ["user_id"])
    return (
        deduped.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def sketch_estimates(spark: SparkSession, sketch_dir: str) -> DataFrame:
    """Read the maintained sketch table and estimate distinct users per
    (day, event_type) plus re-aggregated per-day totals."""
    sk = spark.read.parquet(sketch_dir)
    per_slice = sk.select(
        "day",
        "event_type",
        F.hll_sketch_estimate("sketch").alias("est_users"),
    )
    per_day = (
        sk.groupBy("day")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("est_users"))
        .withColumn("event_type", F.lit("__all__"))
        .select("day", "event_type", "est_users")
    )
    return per_slice.unionByName(per_day)


def incremental_frequency_maintenance(
    spark: SparkSession,
    events_stream: DataFrame,
    summary_dir: str,
    checkpoint_dir: str,
    col: str = "event_type",
    k: int = 64,
) -> StreamingQuery:
    """Streaming Misra-Gries heavy hitters: each micro-batch reduces to a
    ≤k-row frequency summary (operators/frequency.py) which is MERGED
    into the stored summary — counter-add then the standard (k+1)-th-
    largest decrement, preserving the est ≤ true ≤ est + n/k guarantee
    over everything folded so far.

    Unlike the HLL fold (idempotent union), MG merge DOUBLE-COUNTS a
    replayed batch, so the processor records the last folded batch_id in
    the summary metadata and skips batches it has already seen — the
    standard foreachBatch exactly-once pattern for non-idempotent sinks.
    """
    import json as _json
    from pathlib import Path

    from vector_database_api_spark.operators.frequency import heavy_hitters

    meta_path = Path(summary_dir + "_meta.json")

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        meta = (
            _json.loads(meta_path.read_text())
            if meta_path.exists()
            else {"n": 0, "k": k, "last_batch_id": -1}
        )
        if batch_id <= meta["last_batch_id"]:
            return  # replayed batch: already folded, skip (non-idempotent merge)
        batch_n = batch.count()
        batch_summary = {
            r["item"]: r["est"]
            for r in heavy_hitters(batch, col, k=k).collect()
        }
        counters: dict[str, int] = {}
        if Path(summary_dir).exists() and any(Path(summary_dir).glob("*.parquet")):
            for r in batch.sparkSession.read.parquet(summary_dir).collect():
                counters[r["item"]] = r["est"]
        for item, c in batch_summary.items():
            counters[item] = counters.get(item, 0) + c
        if len(counters) > k:
            cut = sorted(counters.values(), reverse=True)[k]
            counters = {i: c - cut for i, c in counters.items() if c - cut > 0}
        out = batch.sparkSession.createDataFrame(
            [(i, c) for i, c in counters.items()], "item string, est bigint"
        )
        out.write.mode("overwrite").parquet(summary_dir)
        meta = {
            "n": meta["n"] + batch_n,
            "k": k,
            "last_batch_id": batch_id,
        }
        meta_path.write_text(_json.dumps(meta))

    return (
        events_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def near_dup_gate_batch_processor(
    admitted_dir: str,
    sig_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    num_perm: int = 32,
    bands: int = 8,
    jaccard_threshold: float = 0.5,
):
    """The foreachBatch processor behind :func:`incremental_near_dup_gate`,
    exposed at module level so tests can drive crash/replay scenarios
    directly (call ``process_batch(batch_df, batch_id)`` with the meta
    file deleted to simulate a crash between the sink writes and the meta
    commit — the dynamic-partition-overwrite sinks make the replay a
    no-op content-wise).

    Semantics and scale shape (shared with the streaming entry point):
    the ingest-time dedup a
    training-data pipeline runs so near-dups never enter the corpus:
    each arriving micro-batch is banded-LSH-matched against the stored
    signature table of everything admitted so far (plus itself), matches
    are exact-Jaccard verified, and only novel documents are appended —
    with their MinHash signatures — for future batches to check against.

    Admission semantics: greedy by (arrival order, id) — a document is
    rejected iff it verifies >= threshold against an already-ADMITTED
    document (earlier batch, or earlier id in this batch that was itself
    admitted).  Chains therefore keep their first element only: for
    A~B, B~C, A!~C arriving in order, A and C are admitted.  Pinned
    against a driver-side greedy simulation in tests/test_streaming.py.

    Scale shape: the history check is a distributed equi-join on
    (band_idx, band_val) against the signature table — per-batch work is
    |batch| x bands probe rows, never a history scan; the only driver
    state is this batch's verified pair list and rejected-id set (both
    bounded by micro-batch size).  Replay safety (foreachBatch is
    at-least-once): both sinks are partitioned by _batch_id and written
    with dynamic partition overwrite, so a replayed batch rewrites its own
    partition instead of appending duplicates; the meta file's
    last_batch_id (updated last, after both sinks) only short-circuits
    fully-committed batches, and the history join excludes the replaying
    batch's own partition.
    """
    import json as _json
    from pathlib import Path

    from vector_database_api_spark.operators.dedup import minhash_signatures

    rows_per_band = num_perm // bands
    meta_path = Path(sig_dir + "_meta.json")

    def banded(sigs: DataFrame) -> DataFrame:
        return sigs.select(
            "id",
            F.posexplode(
                F.array(
                    *[
                        F.expr(
                            f"array_join(slice(sig, {b * rows_per_band + 1},"
                            f" {rows_per_band}), '_')"
                        )
                        for b in range(bands)
                    ]
                )
            ).alias("band_idx", "band_val"),
        )

    def _jaccard(sh_a, sh_b) -> F.Column:
        inter = F.size(F.array_intersect(sh_a, sh_b)).cast("double")
        union = F.size(sh_a).cast("double") + F.size(sh_b).cast("double") - inter
        return inter / union

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        meta = (
            _json.loads(meta_path.read_text())
            if meta_path.exists()
            else {"last_batch_id": -1, "n_admitted": 0, "n_rejected": 0}
        )
        if batch_id <= meta["last_batch_id"]:
            return  # replayed batch — already admitted, skip (append sink)
        sess = batch.sparkSession
        sigs = minhash_signatures(
            batch, text_col, id_col, shingle_n, num_perm
        ).persist()

        # history rejects: banded candidates vs the stored signature
        # table, exact-Jaccard verified (distributed; driver sees ids only).
        # The sig store is partitioned by _batch_id and written with
        # dynamic partition overwrite, so a crashed-and-replayed batch may
        # have already written its own partition: filter history to
        # strictly-earlier batches or the batch would reject itself.
        rejected: set = set()
        sig_path = Path(sig_dir)
        if sig_path.exists() and any(sig_path.rglob("*.parquet")):
            hist = sess.read.parquet(sig_dir).filter(
                F.col("_batch_id") < F.lit(batch_id)
            )
            cand = (
                banded(sigs)
                .join(
                    banded(hist).select(
                        F.col("id").alias("hid"), "band_idx", "band_val"
                    ),
                    ["band_idx", "band_val"],
                )
                .select("id", "hid")
                .dropDuplicates()
            )
            verified = (
                cand.join(sigs.select("id", "shingles"), "id")
                .join(
                    hist.select(
                        F.col("id").alias("hid"), F.col("shingles").alias("hsh")
                    ),
                    "hid",
                )
                .filter(_jaccard(F.col("shingles"), F.col("hsh")) >= jaccard_threshold)
                .select("id")
                .distinct()
            )
            rejected = {r["id"] for r in verified.collect()}

        # within-batch verified pairs (bounded by micro-batch size), then
        # greedy admission in id order
        bb = banded(sigs)
        pairs_df = (
            bb.alias("a")
            .join(bb.alias("b"), ["band_idx", "band_val"])
            .filter(F.col("a.id") < F.col("b.id"))
            .select(F.col("a.id").alias("ia"), F.col("b.id").alias("ib"))
            .dropDuplicates()
            .join(
                sigs.select(F.col("id").alias("ia"), F.col("shingles").alias("sa")),
                "ia",
            )
            .join(
                sigs.select(F.col("id").alias("ib"), F.col("shingles").alias("sb")),
                "ib",
            )
            .filter(_jaccard(F.col("sa"), F.col("sb")) >= jaccard_threshold)
            .select("ia", "ib")
        )
        dup_of: dict = {}
        for r in pairs_df.collect():
            dup_of.setdefault(r["ib"], []).append(r["ia"])
        admitted: set = set()
        for rid in sorted(r["id"] for r in sigs.select("id").collect()):
            if rid in rejected:
                continue
            if any(a in admitted for a in dup_of.get(rid, [])):
                rejected.add(rid)
                continue
            admitted.add(rid)

        # Idempotent per-batch sinks: foreachBatch is at-least-once, so a
        # crash between the two writes and the meta update replays the
        # batch.  Both sinks are partitioned by _batch_id and written with
        # dynamic partition overwrite — a replay rewrites exactly its own
        # partition instead of appending duplicate admitted rows; the meta
        # file (the fast-skip guard) is updated last, only after both
        # sinks are durable.
        adm_list = list(admitted)
        with writer_guard(admitted_dir, sig_dir):
            (
                batch.filter(F.col(id_col).isin(adm_list))
                .withColumn("_batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("_batch_id")
                .parquet(admitted_dir)
            )
            (
                sigs.filter(F.col("id").isin(adm_list))
                .withColumn("_batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("_batch_id")
                .parquet(sig_dir)
            )
        sigs.unpersist()
        meta_path.write_text(
            _json.dumps(
                {
                    "last_batch_id": batch_id,
                    "n_admitted": meta["n_admitted"] + len(admitted),
                    "n_rejected": meta["n_rejected"] + len(rejected),
                }
            )
        )

    return process_batch


def incremental_near_dup_gate(
    spark: SparkSession,
    docs_stream: DataFrame,
    admitted_dir: str,
    sig_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    num_perm: int = 32,
    bands: int = 8,
    jaccard_threshold: float = 0.5,
) -> StreamingQuery:
    """Streaming near-duplicate ADMISSION GATE — semantics, scale shape,
    and replay safety documented on :func:`near_dup_gate_batch_processor`
    (the foreachBatch body, factored out for direct crash/replay
    testing)."""
    process_batch = near_dup_gate_batch_processor(
        admitted_dir,
        sig_dir,
        text_col=text_col,
        id_col=id_col,
        shingle_n=shingle_n,
        num_perm=num_perm,
        bands=bands,
        jaccard_threshold=jaccard_threshold,
    )
    return (
        docs_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def build_bigram_lm_artifact(
    docs: DataFrame,
    lm_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> dict:
    """Train the trusted-corpus bigram LM (operators/lm.py) and store it
    as the serving artifact the streaming quality gate scores against:
    ``{lm_dir}/uni`` (w, c1), ``{lm_dir}/big`` (bg, c2) parquet plus a
    ``{lm_dir}_meta.json`` holding the vocabulary size.  One batch job,
    vocabulary-bounded outputs; returns the meta dict."""
    import json as _json
    from pathlib import Path

    from vector_database_api_spark.operators.lm import train_bigram_lm

    uni, big = train_bigram_lm(docs, text_col, id_col)
    uni.write.mode("overwrite").parquet(lm_dir + "/uni")
    big.write.mode("overwrite").parquet(lm_dir + "/big")
    spark = docs.sparkSession
    meta = {"vocab_size": spark.read.parquet(lm_dir + "/uni").count()}
    Path(lm_dir + "_meta.json").write_text(_json.dumps(meta))
    return meta


def lm_gate_batch_processor(
    lm_dir: str,
    admitted_dir: str,
    quarantine_dir: str,
    threshold_bits: float,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """foreachBatch body of :func:`incremental_lm_quality_gate`, exposed
    at module level so tests drive crash/replay directly.

    Each arriving micro-batch is scored against the FROZEN trusted-LM
    artifact (per-token cross-entropy bits, operators/lm.py); documents
    at or under ``threshold_bits`` are admitted, the rest — including
    unscorable docs with < 2 tokens — are quarantined with their score
    for human triage.  Unlike the near-dup gate the LM gate is
    STATELESS across batches (the LM never changes mid-stream; retrain
    + swap the artifact dir to update it), so admission of a doc never
    depends on arrival order and replay only needs the per-batch sink
    discipline: both sinks partitioned by _batch_id with dynamic
    partition overwrite (a replayed batch rewrites its own partition),
    meta committed last as the fast-skip guard.

    Scale shape: two vocabulary-bounded LM joins + combinable rollups
    per batch; driver state is the meta counters only."""
    import json as _json
    from pathlib import Path

    from vector_database_api_spark.operators.lm import doc_cross_entropy

    meta_path = Path(admitted_dir + "_meta.json")

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        meta = (
            _json.loads(meta_path.read_text())
            if meta_path.exists()
            else {"last_batch_id": -1, "n_admitted": 0, "n_quarantined": 0}
        )
        if batch_id <= meta["last_batch_id"]:
            return  # fully-committed batch replayed — skip
        sess = batch.sparkSession
        lm_meta = _json.loads(Path(lm_dir + "_meta.json").read_text())
        uni = sess.read.parquet(lm_dir + "/uni")
        big = sess.read.parquet(lm_dir + "/big")
        scores = doc_cross_entropy(
            batch, uni, big, lm_meta["vocab_size"], text_col, id_col
        ).select(F.col("id").alias(id_col), "h_bits")
        judged = batch.join(scores, id_col, "left").persist()
        admitted = judged.filter(F.col("h_bits") <= threshold_bits)
        quarantined = judged.filter(
            F.col("h_bits").isNull() | (F.col("h_bits") > threshold_bits)
        )
        n_adm = admitted.count()
        n_quar = quarantined.count()
        with writer_guard(admitted_dir, quarantine_dir):
            for df, sink in (
                (admitted, admitted_dir),
                (quarantined, quarantine_dir),
            ):
                (
                    df.withColumn("_batch_id", F.lit(batch_id))
                    .write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy("_batch_id")
                    .parquet(sink)
                )
        judged.unpersist()
        meta_path.write_text(
            _json.dumps(
                {
                    "last_batch_id": batch_id,
                    "n_admitted": meta["n_admitted"] + n_adm,
                    "n_quarantined": meta["n_quarantined"] + n_quar,
                }
            )
        )

    return process_batch


def incremental_lm_quality_gate(
    spark: SparkSession,
    docs_stream: DataFrame,
    lm_dir: str,
    admitted_dir: str,
    quarantine_dir: str,
    checkpoint_dir: str,
    threshold_bits: float = 10.0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> StreamingQuery:
    """Streaming LM quality ADMISSION GATE — the ingest-time form of the
    batch `lm_cross_entropy_screen` query: score each arriving
    micro-batch against the stored trusted-corpus LM and route documents
    to admitted/quarantine sinks.  Semantics, replay safety, and scale
    shape documented on :func:`lm_gate_batch_processor`."""
    process_batch = lm_gate_batch_processor(
        lm_dir,
        admitted_dir,
        quarantine_dir,
        threshold_bits,
        text_col=text_col,
        id_col=id_col,
    )
    return (
        docs_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def bm25_stats_batch_processor(stats_dir: str, text_col: str = "text", id_col: str = "doc_id"):
    """foreachBatch body of :func:`incremental_bm25_stats_maintenance`,
    exposed at module level so tests drive crash/replay directly.

    Maintains the BM25 term-statistics artifact (per-term document
    frequency / term frequency + the corpus scalars N and sum(dl)) the
    keyword-retrieval leg serves from (`queries.py::_bm25_scored_docs`
    derives the same statistics inline for the batch query).  Each
    micro-batch writes ONLY its own PARTIAL aggregates, partitioned by
    ``_batch_id`` with dynamic partition overwrite, so a replayed batch
    rewrites its own partition with identical content — the sink is
    fully idempotent with no meta guard needed for correctness (meta
    carries ops counters only, committed last).  Serving merges the
    partials with combinable sums (:func:`bm25_stats_serving`) — the
    merge-on-read discipline that avoids rewriting a corpus-sized
    statistics table on every batch at 100 TB; a nightly compaction can
    fold partials without changing served values.

    Two sinks under ``stats_dir``: ``/terms`` (term, df, tf) and
    ``/corpus`` (n_docs, sum_dl)."""
    import json as _json
    from pathlib import Path

    meta_path = Path(stats_dir + "_meta.json")

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        meta = (
            _json.loads(meta_path.read_text())
            if meta_path.exists()
            else {"last_batch_id": -1, "n_docs": 0}
        )
        # NULL text never reaches the statistics: the batch query's
        # _bm25_base filters identically, so streamed stats == batch
        # stats even on corpora with NULL rows (ADVICE r5: Spark's
        # size(split(NULL)) is -1 while the oracle's avg ignores NULL)
        batch = batch.filter(F.col(text_col).isNotNull())
        toks = batch.select(
            F.col(id_col),
            F.explode(
                F.split(F.lower(F.col(text_col)), " ", -1)
            ).alias("term"),
        )
        term_partial = (
            toks.groupBy(F.col(id_col), "term")
            .agg(F.count(F.lit(1)).alias("c"))
            .groupBy("term")
            .agg(
                F.count(F.lit(1)).alias("df"),
                F.sum("c").alias("tf"),
            )
        )
        # the 1-row corpus partial is computed ONCE (first() runs the
        # aggregate) and re-emitted as a literal for the sink write, so
        # the meta counter below reuses it instead of re-counting the
        # batch — one pass over the batch total, not two
        corpus_row = batch.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.size(F.split(F.lower(F.col(text_col)), " ", -1)).cast("long")
            ).alias("sum_dl"),
        ).first()
        corpus_partial = batch.sparkSession.createDataFrame(
            [(corpus_row["n_docs"], corpus_row["sum_dl"])],
            "n_docs bigint, sum_dl bigint",
        )
        with writer_guard(stats_dir + "/terms", stats_dir + "/corpus"):
            for df, sink in (
                (term_partial, stats_dir + "/terms"),
                (corpus_partial, stats_dir + "/corpus"),
            ):
                (
                    df.withColumn("_batch_id", F.lit(batch_id))
                    .write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy("_batch_id")
                    .parquet(sink)
                )
        if batch_id > meta["last_batch_id"]:
            meta_path.write_text(
                _json.dumps(
                    {
                        "last_batch_id": batch_id,
                        "n_docs": meta["n_docs"] + int(corpus_row["n_docs"]),
                    }
                )
            )

    return process_batch


def incremental_bm25_stats_maintenance(
    spark: SparkSession,
    docs_stream: DataFrame,
    stats_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> StreamingQuery:
    """Streaming maintenance of the BM25 term-statistics artifact — the
    keyword-index twin of the M1 vector-index maintenance
    (`incremental_index_maintenance`): as documents arrive, the term df /
    tf table and the corpus scalars stay fresh without ever recomputing
    over the full corpus.  Semantics, replay safety, and scale shape on
    :func:`bm25_stats_batch_processor`."""
    process_batch = bm25_stats_batch_processor(
        stats_dir, text_col=text_col, id_col=id_col
    )
    return (
        docs_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def bm25_stats_serving(spark: SparkSession, stats_dir: str):
    """Merge the per-batch partials into served BM25 statistics:
    (terms_df, corpus_df) where terms = (term, df, tf) and corpus =
    (n_docs, avgdl).  Both merges are combinable sums (map-side
    partial aggregation), so serving cost scales with the number of
    distinct terms, never with corpus row count."""
    terms = (
        spark.read.parquet(stats_dir + "/terms")
        .groupBy("term")
        .agg(F.sum("df").alias("df"), F.sum("tf").alias("tf"))
    )
    corpus = spark.read.parquet(stats_dir + "/corpus").agg(
        F.sum("n_docs").alias("n_docs"),
        (
            F.sum("sum_dl").cast("double")
            / F.sum("n_docs").cast("double")
        ).alias("avgdl"),
    )
    return terms, corpus


def winnow_fp_batch_processor(store_dir: str, k: int = 12, w: int = 6):
    """foreachBatch body of :func:`incremental_winnow_maintenance`,
    exposed at module level so tests drive crash/replay directly.

    Maintains the winnowing fingerprint artifact (the (doc_id, source,
    nf, f) occurrence store `queries._cached_winnow_fingerprints` builds
    in batch) under ingest: each micro-batch fingerprints ONLY its own
    documents (the shared `operators.dedup.winnow_fingerprints` HOF
    chain — identical rows to the batch build) and writes them as its
    own ``_batch_id`` partition with dynamic partition overwrite, so a
    replayed batch rewrites identical content — fully idempotent, the
    established pattern of every artifact upkeep here.

    The df > 32 hot-fingerprint cap is NOT applied per batch: a batch
    cannot know a fingerprint's corpus-wide document frequency.  It is
    re-evaluated MERGE-ON-READ by :func:`winnow_fingerprints_serving`,
    so the cap always reflects the full corpus seen so far — a
    fingerprint that goes viral across many batches is still dropped at
    serve time (the uncapped store keeps upkeep append-only; a nightly
    compaction could fold partitions without changing served rows)."""
    from vector_database_api_spark.operators import dedup as dedup_mod

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        fp = dedup_mod.winnow_fingerprints(batch, k=k, w=w).persist()
        occ = dedup_mod.winnow_occurrences(fp)
        with writer_guard(store_dir):
            (
                occ.withColumn("_batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("_batch_id")
                .parquet(store_dir)
            )
        fp.unpersist()

    return process_batch


def incremental_winnow_maintenance(
    spark: SparkSession,
    docs_stream: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    k: int = 12,
    w: int = 6,
) -> StreamingQuery:
    """Streaming maintenance of the winnow fingerprint artifact — the
    last served artifact to gain an incremental path (BM25 stats,
    LSH/IVF/PQ/SQ8 indexes, sketches and frequency summaries already
    have one): as documents arrive, the fingerprint store stays fresh
    without ever re-fingerprinting the corpus.  Semantics, replay
    safety, and the merge-on-read hot cap on
    :func:`winnow_fp_batch_processor`."""
    process_batch = winnow_fp_batch_processor(store_dir, k=k, w=w)
    return (
        docs_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def winnow_fingerprints_serving(
    spark: SparkSession, store_dir: str, max_df: int = 32
) -> DataFrame:
    """Served view of the streamed fingerprint store: merge the
    per-batch partitions and re-apply the df > 32 hot cap over the FULL
    corpus seen so far (merge-on-read — rationale on
    :func:`winnow_fp_batch_processor`).  Row-identical to the batch
    artifact built over the same documents."""
    from vector_database_api_spark.operators import dedup as dedup_mod

    ex = spark.read.parquet(store_dir).select("doc_id", "source", "nf", "f")
    return dedup_mod.winnow_hot_cap(ex, max_df=max_df)


def xsub_gram_batch_processor(store_dir: str, k: int = 20):
    """foreachBatch body of :func:`incremental_xsub_maintenance`,
    exposed at module level so tests drive crash/replay directly.

    Maintains the exact-substring positional gram artifact (the
    (doc_id, source, pos, h) occurrence store
    `queries._cached_xsub_grams` builds in batch): each micro-batch
    hashes ONLY its own documents (`operators.dedup.kgram_positions` —
    a per-doc pure function, so streamed rows are identical to the
    batch build's) and writes them as its own ``_batch_id`` partition
    with dynamic partition overwrite — replay rewrites identical
    content, fully idempotent (the established upkeep pattern).

    NEITHER occurrence filter is applied per batch — and here that is
    not just the winnow hot-cap argument but a CORRECTNESS one in both
    directions: the [>=2] singleton prune counts corpus-wide
    occurrences, and a run shared by two documents arriving in
    DIFFERENT batches has one occurrence in each (a per-batch prune
    would silently drop the pair); symmetrically a gram that goes
    viral only across batches must still be capped.  Both filters are
    re-evaluated MERGE-ON-READ by :func:`xsub_grams_serving` over the
    full store."""
    from vector_database_api_spark.operators import dedup as dedup_mod

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        g = dedup_mod.kgram_positions(batch, k=k)
        with writer_guard(store_dir):
            (
                g.withColumn("_batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("_batch_id")
                .parquet(store_dir)
            )

    return process_batch


def incremental_xsub_maintenance(
    spark: SparkSession,
    docs_stream: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    k: int = 20,
) -> StreamingQuery:
    """Streaming maintenance of the exact-substring gram artifact — the
    r10 dedup family joins the same incremental discipline as every
    other served artifact (BM25 stats, LSH/IVF/PQ/SQ8, sketches,
    winnow): as documents arrive the positional index stays fresh
    without re-hashing the corpus.  Semantics, replay safety, and the
    merge-on-read occurrence filters on
    :func:`xsub_gram_batch_processor`."""
    process_batch = xsub_gram_batch_processor(store_dir, k=k)
    return (
        docs_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def xsub_grams_serving(
    spark: SparkSession, store_dir: str, max_df: int = 32
) -> DataFrame:
    """Served view of the streamed gram store: merge the per-batch
    partitions and apply BOTH occurrence filters over the FULL corpus
    seen so far (merge-on-read — rationale on
    :func:`xsub_gram_batch_processor`).  Row-identical to the batch
    artifact built over the same documents; feed straight into
    `operators.dedup.exact_substring_runs(…, max_df=None)`."""
    from vector_database_api_spark.operators import dedup as dedup_mod

    g = spark.read.parquet(store_dir).select("doc_id", "source", "pos", "h")
    return dedup_mod.prune_for_pairing(g, max_df=max_df)


def incremental_bm25_index_maintenance(
    chunk_stream: DataFrame,
    index_dir: str,
    chunks_dir: str,
    checkpoint_dir: str,
    embedding_dim: int = 64,
) -> StreamingQuery:
    """M1 for the keyword (bm25/hybrid) index: the shared
    `incremental_index_maintenance` driver with the batch's postings +
    doc lengths as its encoding, appended under ``index_dir`` (the layout
    `service.VectorEngine._read_text_index` reads).  Postings for a doc
    are a pure function of its text, so streamed tables equal a batch
    `build_bm25_index` over the same rows (tested).

    The 1-row corpus-stats table is NOT written per batch — a 1-row
    overwrite per micro-batch would be a read-modify-write race under
    replay.  Serving derives (n_docs, avgdl) from the doclens table with
    one combinable aggregate (:func:`bm25_index_serving_stats`) —
    artifact-sized, never a corpus rescan, the same merge-on-read
    discipline as the BM25 statistics and winnow artifacts."""
    from vector_database_api_spark.operators.bm25 import build_bm25_index

    def encode(batch: DataFrame) -> dict[str, DataFrame]:
        postings, doclens, _ = build_bm25_index(batch)
        return {"postings": postings, "doclens": doclens}

    return incremental_index_maintenance(
        chunk_stream, encode, chunks_dir, index_dir, checkpoint_dir, embedding_dim
    )


def bm25_index_serving_stats(spark: SparkSession, index_dir: str):
    """(n_docs, avgdl) derived from the streamed doclens table — one
    combinable aggregate over the artifact (merge-on-read; the batch
    build writes the same scalars as a stats parquet instead)."""
    import os

    row = (
        spark.read.parquet(os.path.join(index_dir, "doclens"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.avg("dl").alias("avgdl"),
        )
        .first()
    )
    return int(row["n_docs"]), float(row["avgdl"]) if row["avgdl"] is not None else 1.0


def topic_counts_batch_processor(
    store_dir: str,
    text_col: str = "text",
    class_col: str = "source",
    min_len: int = 3,
):
    """foreachBatch body of :func:`incremental_topic_model_maintenance`,
    exposed at module level so tests drive crash/replay directly.

    Maintains the (class, term, cnt) count table behind the c-TF-IDF
    topic-model artifact (queries.source_topic_keywords persists the
    derived scores per corpus; this keeps the upstream counts fresh
    under ingest).  Each micro-batch writes ONLY its own partial
    counts, partitioned by ``_batch_id`` with dynamic partition
    overwrite — a replayed batch rewrites its own partition with
    identical content, so the sink is idempotent with no meta guard.
    Serving merges partials with a combinable sum
    (:func:`topic_model_serving`) — merge-on-read, never a rewrite of
    the vocab-sized table per batch."""

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        tc = (
            batch.filter(F.col(text_col).isNotNull())
            .select(
                class_col,
                F.explode(
                    F.split(F.lower(F.col(text_col)), " ", -1)
                ).alias("term"),
            )
            .filter(F.length("term") >= min_len)
            .groupBy(class_col, "term")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        with writer_guard(store_dir):
            (
                tc.withColumn("_batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("_batch_id")
                .parquet(store_dir)
            )

    return process_batch


def incremental_topic_model_maintenance(
    spark: SparkSession,
    docs_stream: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    class_col: str = "source",
) -> StreamingQuery:
    """Streaming maintenance of the topic-model count table — the
    M1-family twin for the c-TF-IDF surface: as documents arrive, the
    per-class term counts stay fresh without recomputing the corpus
    explode.  Semantics, replay safety and scale shape on
    :func:`topic_counts_batch_processor`."""
    process_batch = topic_counts_batch_processor(
        store_dir, text_col=text_col, class_col=class_col
    )
    return (
        docs_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def topic_model_serving(
    spark: SparkSession, store_dir: str, class_col: str = "source"
) -> DataFrame:
    """(class, term, ctfidf) served from the streamed count partials:
    merge-on-read combinable sum, then the SAME scorer the batch query
    uses (operators/quality.py::ctfidf_scores) — streamed == batch is
    an identity of plans, pinned by tests/test_streaming.py."""
    from vector_database_api_spark.operators.quality import ctfidf_scores

    tc = (
        spark.read.parquet(store_dir)
        .groupBy(class_col, "term")
        .agg(F.sum("cnt").alias("cnt"))
    )
    return ctfidf_scores(tc, class_col)


# ---------------------------------------------------------------------------
# Store compaction: the nightly fold the merge-on-read artifacts assume
# ---------------------------------------------------------------------------

COMPACTED_BATCH_ID = -1


class CompactionInProgressError(RuntimeError):
    """A ``_batch_id``-partitioned store is mid-compaction (its
    ``._COMPACTING`` lock exists): writers must not interleave with the
    directory swap, and a second compactor must not race the first."""


def _compaction_lock(store_dir: str) -> str:
    return store_dir.rstrip("/") + "._COMPACTING"


def _pid_alive(pid: int) -> bool:
    """Liveness probe via ``kill(pid, 0)``.  Only ESRCH (no such
    process) means dead: EPERM means the pid IS alive under another
    uid (r8 ADVICE — treating any OSError as dead let a same-host
    multi-user deployment steal a live compactor's lock and delete a
    live writer's marker, silently breaking the mutual exclusion)."""
    import os

    if pid <= 0:
        return False
    try:
        os.kill(pid, 0)
        return True
    except ProcessLookupError:
        return False
    except PermissionError:
        return True  # alive, owned by another uid
    except OSError:
        return True  # unknown failure: never assume dead


def _lock_live(lock: str) -> bool:
    """Whether ``lock`` belongs to a live compactor.  The lock file
    carries the owner's pid; an empty file (the microscopic window
    between O_EXCL create and the pid write, or a kill inside it) is
    treated as live while younger than 60 s, dead after."""
    import os
    import time

    try:
        txt = open(lock).read().strip()
    except OSError:
        return os.path.exists(lock)
    if txt:
        try:
            return _pid_alive(int(txt))
        except ValueError:
            return True  # unparseable: never steal it
    try:
        return (time.time() - os.path.getmtime(lock)) < 60
    except OSError:
        return False


def _writer_marker(store_dir: str) -> str:
    import os
    import uuid

    return (
        store_dir.rstrip("/")
        + f"._WRITING.{os.getpid()}.{uuid.uuid4().hex[:8]}"
    )


def _live_writer_markers(store_dir: str) -> list[str]:
    """Writer markers for ``store_dir`` whose owning pid is still
    alive; markers from crashed writers are removed on the way (the
    same-host assumption every rename in this compactor already
    makes)."""
    import glob
    import os

    live = []
    for m in glob.glob(store_dir.rstrip("/") + "._WRITING.*"):
        try:
            pid = int(m.rsplit("._WRITING.", 1)[1].split(".")[0])
        except (ValueError, IndexError):
            live.append(m)  # unparseable: treat as live, never delete
            continue
        # _pid_alive's ESRCH-only death test (r8 ADVICE: EPERM means a
        # live writer under another uid — deleting its marker would
        # break the exclusion exactly when it matters)
        if _pid_alive(pid):
            live.append(m)
        else:
            try:
                os.remove(m)  # dead owner
            except OSError:
                pass
    return live


class writer_guard:
    """Writer-side half of the compaction exclusion — a context manager
    every ``foreachBatch`` processor wraps around its
    ``_batch_id``-partitioned sink writes.

    Two-flag protocol (the compactor holds the other flag): the writer
    FIRST drops a per-writer marker file next to each store, THEN
    checks the compactor's ``._COMPACTING`` lock — while the compactor
    FIRST acquires its lock, THEN checks for live markers.  Whatever
    the interleaving, at least one side sees the other's flag: a
    micro-batch that fires while a compaction is in flight raises
    :class:`CompactionInProgressError` before writing (the streaming
    checkpoint replays it on the next drain), and a compactor that
    starts while a micro-batch write is in flight refuses rather than
    renaming the directory out from under it (the r8 review found the
    original one-shot pre-write check only enforced the first
    direction).  Markers are pid-stamped; a crashed writer's stale
    marker is ignored/cleaned via pid-liveness."""

    def __init__(self, *store_dirs: str):
        self.store_dirs = store_dirs
        self.markers: list[str] = []

    def __enter__(self):
        import os

        for d in self.store_dirs:
            m = _writer_marker(d)
            parent = os.path.dirname(m)
            if parent:
                os.makedirs(parent, exist_ok=True)  # first-ever batch
            open(m, "w").close()
            self.markers.append(m)
        for d in self.store_dirs:
            lock = _compaction_lock(d)
            if os.path.exists(lock):
                if not _lock_live(lock) and os.path.exists(d):
                    # a crashed compactor's stale lock must not block
                    # ingest forever — but ONLY when the store dir is
                    # whole; if the crash left the store mid-swap
                    # (dir missing, data in .precompact), writing would
                    # recreate a store holding just this batch and
                    # strand the history, so stay excluded and let the
                    # next compaction run heal first
                    try:
                        os.remove(lock)
                    except OSError:
                        pass
                    continue
                self._cleanup()
                raise CompactionInProgressError(
                    f"store {d} is being compacted "
                    f"(lock {lock}); micro-batch writes "
                    "must wait for compaction to finish"
                )
        return self

    def __exit__(self, *exc):
        self._cleanup()
        return False

    def _cleanup(self) -> None:
        import os

        for m in self.markers:
            try:
                os.remove(m)
            except OSError:
                pass
        self.markers = []


def compact_batch_store(
    spark: SparkSession,
    store_dir: str,
    fold: Callable[[DataFrame], DataFrame] | None = None,
) -> dict:
    """Fold a ``_batch_id``-partitioned artifact store down to TWO
    partitions — the reserved compacted base (``_batch_id = -1``, an id
    Structured Streaming never assigns) plus the NEWEST live batch —
    without changing a single served row.

    Every merge-on-read store here (BM25 term stats, winnow
    fingerprints, topic counts) grows one partition per micro-batch; at
    100 TB that is thousands of partials whose per-file overhead
    eventually dominates the serve-time merge.  Their docstrings all
    promise "a nightly compaction can fold partials without changing
    served values" — this is that compaction.

    Replay contract (why the newest partition is NEVER folded): under a
    Structured Streaming checkpoint, only the single most recent batch
    can ever re-run — every earlier batch id is committed and will not
    be replayed.  The per-batch sinks' idempotence guarantee (dynamic
    partition overwrite rewrites a replayed batch's own partition with
    identical content) therefore only needs to hold for the newest
    partition, which compaction leaves verbatim.  Folding it too would
    double-count a replay: the replayed write would re-create the
    partition next to a base that already contains its rows.

    Scheduling contract — ENFORCED in BOTH directions (round 8): run
    between ``availableNow`` drains (the maintenance pattern used by
    every store here), never concurrently with an in-flight
    micro-batch.  Two-flag exclusion: the compactor holds an exclusive
    pid-stamped ``._COMPACTING`` lock for the whole fold+swap and,
    after acquiring it, refuses if any LIVE ``._WRITING.*`` marker
    exists; every ``_batch_id``-store writer wraps its sink writes in
    :class:`writer_guard`, which drops its marker FIRST and checks the
    lock SECOND — so whatever the interleaving, at least one side sees
    the other's flag.  A blocked micro-batch fails fast with
    :class:`CompactionInProgressError` (the streaming checkpoint
    replays it on the next drain; replay is idempotent by the
    dynamic-partition-overwrite discipline); a blocked compactor
    raises the same typed error.  Stale flags from crashed processes
    are pid-liveness-cleaned on either side.  The swap is two
    directory renames on a local/posix filesystem; an object-store
    deployment would version the directory and flip a manifest pointer
    instead — the fold itself is identical.

    ``fold``: optional combiner applied to the union of folded
    partitions (``_batch_id`` already dropped) — the SAME combinable
    aggregate the store's serving function applies, so serve-time
    merge(fold(x)) == merge(x) by associativity.  ``None`` keeps rows
    verbatim (append-only stores).

    Crash-safe at every step (pinned by tests/test_compaction.py): a
    leftover ``.compacting`` temp dir from a previous failed build is
    discarded and rebuilt; an EXCEPTION in the swap window between the
    two renames is undone in-process (``.precompact`` renamed back
    before the lock is released); a KILL in that window leaves the
    pid-stamped lock in place — writers stay excluded (a write would
    recreate a store holding only its own batch while the history sat
    stranded) — and the next compaction run detects the dead owner,
    clears the lock, and heals ``.precompact`` AT ENTRY, under the
    fresh lock.  Concurrency-safe: the lock is acquired exclusively
    (O_EXCL) BEFORE the heal, so two concurrent compactors can never
    race the recovery rename — the loser gets
    :class:`CompactionInProgressError`, and in-flight micro-batch
    writes are excluded in both directions via the
    :class:`writer_guard` two-flag protocol.
    """
    import contextlib
    import os
    import shutil

    old = store_dir + ".precompact"
    lock = _compaction_lock(store_dir)

    def _acquire() -> None:
        fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        os.write(fd, str(os.getpid()).encode())
        os.close(fd)

    # pid-stamped exclusive lock with dead-owner recovery: a lock whose
    # owning process no longer exists (a compactor killed mid-run) is
    # cleared and re-acquired; a LIVE owner raises the typed error.
    # Acquiring BEFORE the crash-heal below closes the r8 review's
    # recovery race (two concurrent compactors both entering the heal
    # branch and racing the rename — the loser now gets
    # CompactionInProgressError, never a raw FileNotFoundError).
    try:
        _acquire()
    except FileExistsError:
        if _lock_live(lock):
            raise CompactionInProgressError(
                f"store {store_dir} is already being compacted "
                f"(live lock {lock})"
            )
        os.remove(lock)  # dead owner; its half-done state heals below
        try:
            _acquire()
        except FileExistsError:
            raise CompactionInProgressError(
                f"store {store_dir}: lost the lock re-acquire race ({lock})"
            )
    try:
        # crash recovery (under the lock): a previous run died between
        # its two swap renames, leaving all data stranded in
        # .precompact and no store dir — restore before folding
        if not os.path.exists(store_dir) and os.path.exists(old):
            os.rename(old, store_dir)
        # refuse while any LIVE micro-batch writer is mid-write (the
        # other half of the two-flag protocol — see writer_guard);
        # markers from crashed writers are pid-cleaned
        live = _live_writer_markers(store_dir)
        if live:
            raise CompactionInProgressError(
                f"store {store_dir} has in-flight micro-batch writes "
                f"({', '.join(os.path.basename(m) for m in live)}); "
                "compaction must run between availableNow drains"
            )
        ids = sorted(
            r["_batch_id"]
            for r in spark.read.parquet(store_dir)
            .select("_batch_id")
            .distinct()
            .collect()
        )
        if not ids:
            return {
                "compacted": False,
                "folded_partitions": 0,
                "kept_batch_id": None,
            }
        newest = ids[-1]
        foldable = [i for i in ids if i != newest]
        if len(foldable) < 2:
            return {
                "compacted": False,
                "folded_partitions": 0,
                "kept_batch_id": newest,
            }

        df = spark.read.parquet(store_dir)
        folded = df.filter(F.col("_batch_id") != newest).drop("_batch_id")
        if fold is not None:
            folded = fold(folded)
        folded = folded.withColumn("_batch_id", F.lit(COMPACTED_BATCH_ID))
        kept = df.filter(F.col("_batch_id") == newest)

        tmp = store_dir + ".compacting"
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        (
            folded.unionByName(kept)
            .write.mode("overwrite")
            .partitionBy("_batch_id")
            .parquet(tmp)
        )
        if os.path.exists(old):
            shutil.rmtree(old)
        os.rename(store_dir, old)
        os.rename(tmp, store_dir)
        shutil.rmtree(old)
        return {
            "compacted": True,
            "folded_partitions": len(foldable),
            "kept_batch_id": newest,
        }
    finally:
        # undo a half-completed swap in-process (exception between the
        # two renames): the store must exist again before the lock is
        # released, else writers would recreate a store containing only
        # their own batch while the history sat stranded in .precompact
        # (the r8 review's silent-history-loss window)
        if not os.path.exists(store_dir) and os.path.exists(old):
            try:
                os.rename(old, store_dir)
            except OSError:
                pass
        # release when the store is healthy — or when NEITHER the store
        # nor .precompact exists (a compactor run against a never-created
        # or externally-deleted store: there is nothing to protect, and
        # keeping the lock would wedge every future writer_guard behind
        # a lock no later compaction can clear, r8 ADVICE).  The removal
        # itself is suppressed-on-OSError: a concurrently-cleaned lock
        # (the writer-side dead-owner TOCTOU window) must not raise from
        # finally and mask the real return value or original exception.
        if os.path.exists(store_dir) or not os.path.exists(old):
            with contextlib.suppress(OSError):
                os.remove(lock)
        # else: store missing but .precompact holds the data — leave the
        # lock so writers stay excluded; the next compactor's dead-owner
        # path clears it and heals at entry


def compact_bm25_stats(spark: SparkSession, stats_dir: str) -> dict:
    """Compact both BM25 statistics sinks.  The folds are the exact
    combinable sums :func:`bm25_stats_serving` applies at read time
    (term-keyed df/tf sums; corpus scalar sums), so serving output is
    bit-identical before and after by associativity of integer sums —
    pinned by tests/test_compaction.py."""

    def terms_fold(df: DataFrame) -> DataFrame:
        return df.groupBy("term").agg(
            F.sum("df").alias("df"), F.sum("tf").alias("tf")
        )

    def corpus_fold(df: DataFrame) -> DataFrame:
        return (
            df.agg(
                F.sum("n_docs").alias("n_docs"),
                F.sum("sum_dl").alias("sum_dl"),
            )
            # all-empty foldable partitions would fold to a NULL row;
            # serving's sums ignore it, but keep the store clean
            .where(F.col("n_docs").isNotNull())
        )

    return {
        "terms": compact_batch_store(spark, stats_dir + "/terms", terms_fold),
        "corpus": compact_batch_store(spark, stats_dir + "/corpus", corpus_fold),
    }


def compact_winnow_store(spark: SparkSession, store_dir: str) -> dict:
    """Compact the winnow fingerprint store.  The store is append-only
    occurrence rows (the df>32 hot cap is merge-on-read, never baked
    in), so the fold is row-preserving — compaction only collapses the
    per-batch partition fan-out."""
    return compact_batch_store(spark, store_dir, None)


def compact_xsub_store(spark: SparkSession, store_dir: str) -> dict:
    """Compact the exact-substring gram store.  Like the winnow store
    it is append-only occurrence rows (BOTH occurrence filters — the
    [>=2] singleton prune and the viral df cap — are merge-on-read,
    never baked in), so the fold is row-preserving: compaction only
    collapses the per-batch partition fan-out."""
    return compact_batch_store(spark, store_dir, None)


def compact_topic_store(
    spark: SparkSession, store_dir: str, class_col: str = "source"
) -> dict:
    """Compact the c-TF-IDF count store with the serving-side
    (class, term) count sum — :func:`topic_model_serving` output is
    unchanged by associativity."""

    def fold(df: DataFrame) -> DataFrame:
        return df.groupBy(class_col, "term").agg(F.sum("cnt").alias("cnt"))

    return compact_batch_store(spark, store_dir, fold)
