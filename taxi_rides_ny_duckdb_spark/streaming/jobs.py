"""Structured Streaming jobs (EXTENSION — the reference is batch-only,
SURVEY §2.9). Each job is a function: streaming DataFrame in →
streaming DataFrame out, so the same logic binds to any source
(parquet drops in tests, Kafka in production) and any sink.

Batch/stream symmetry: the batch analogs of these operators live in
``operators/windows.py`` — same window/gap semantics, so a backfill
(batch over history) and the live stream produce consistent results.

State & scale notes:
- Watermarks bound state: without them, windowed aggs and dedup state
  grow forever. Every stateful job here takes an explicit watermark.
- ``dropDuplicatesWithinWatermark`` keeps keys only inside the
  watermark horizon — the streaming analog of staging's
  row_number dedup (plans/staging.py).
- Output modes: windowed aggs use append (emit once the watermark
  passes window end) so downstream parquet sinks get immutable files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENTS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_events_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-drop streaming source over an events directory (schema must
    be explicit for readStream)."""
    return spark.readStream.schema(EVENTS_STREAM_SCHEMA).parquet(path)


def tumbling_counts(events: DataFrame, width: str = "10 minutes",
                    watermark: str = "30 minutes") -> DataFrame:
    """Windowed count+sum per event_type with late-data tolerance.

    The value sum is decimal-routed (functions/parity.dsum): streaming
    state accumulates in exact DECIMAL across micro-batches, so the
    final emission is bit-identical to a batch aggregation regardless
    of how the source splits into triggers — which is what lets the
    contract query carry a plain-SQL oracle."""
    from ..functions.parity import dsum

    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width).alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value"), 18, 6).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sliding_counts(events: DataFrame, width: str = "10 minutes",
                   slide: str = "5 minutes", watermark: str = "30 minutes") -> DataFrame:
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width, slide).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
    )


def session_windows(events: DataFrame, gap: str = "30 minutes",
                    watermark: str = "1 hour") -> DataFrame:
    """Native session windows (gap-merged per user) — the streaming
    analog of operators/windows.sessionize."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "total_value",
        )
    )


def windowed_value_histogram(events: DataFrame, value_col: str,
                             lo: float, hi: float, n_bins: int,
                             width: str = "1 day",
                             watermark: str = "30 minutes") -> DataFrame:
    """Per-tumbling-window fixed-bin histogram of a value column — the
    streaming EMIT side of a drift monitor. State per window is
    ≤ n_bins counters (the same clamp-binning as
    plans/profile.profile_drift_psi, so the emitted rows plug straight
    into ``plans/profile.drift_psi_grouped`` for scoring against a
    reference histogram out-of-band — the way production drift
    monitors are actually deployed: the stream ships tiny histograms,
    the comparator runs downstream). Exact integer counts ⇒ the final
    complete-mode emission over a finite drop equals the batch
    aggregation bit-for-bit, which is what lets the contract query
    carry a plain-SQL oracle. Output: (window_start, bin, n)."""
    w = (float(hi) - float(lo)) / n_bins
    b = F.least(
        F.greatest(
            F.floor((F.col(value_col).cast("double") - F.lit(float(lo))) / F.lit(w)),
            F.lit(0),
        ),
        F.lit(n_bins - 1),
    ).cast("int")
    return (
        events.where(F.col(value_col).isNotNull())
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", width).alias("w"), b.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "bin", "n")
    )


def dedup_within_watermark(events: DataFrame, keys: list[str] | None = None,
                           watermark: str = "30 minutes") -> DataFrame:
    """Stateful streaming dedup: exactly-one-survivor per key among
    events whose event-times fall inside the watermark horizon; state
    is evicted as the watermark advances (bounded memory)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys or ["event_id"]
    )


def view_click_join(views: DataFrame, clicks: DataFrame,
                    max_delay: str = "10 minutes",
                    watermark: str = "30 minutes") -> DataFrame:
    """Stream-stream inner join: each click matched to same-user views
    it followed within ``max_delay`` (attribution join). Both sides are
    watermarked and the join condition bounds event-time distance, so
    Spark can size the join state buffer and evict rows once the
    watermark passes — the required shape for an unbounded×unbounded
    join (an unconstrained stream-stream join would buffer forever).

    Batch symmetry: on static frames the same condition is the bucketed
    ``operators/temporal.range_join`` with views as intervals
    [view_ts, view_ts + max_delay]."""
    v = views.withWatermark("ts", watermark).select(
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("view_ts"),
        F.col("event_id").alias("view_id"),
    )
    c = clicks.withWatermark("ts", watermark).select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    return v.join(
        c,
        (F.col("v_user") == F.col("c_user"))
        & (F.col("click_ts") >= F.col("view_ts"))
        & (F.col("click_ts") <= F.col("view_ts") + F.expr(f"INTERVAL {max_delay}")),
    ).select(
        F.col("v_user").alias("user_id"), "view_id", "view_ts", "click_id", "click_ts"
    )


def stream_to_partitioned_parquet(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    partition_by: tuple[str, ...] = (),
):
    """Incremental streaming materialization: drive the stream with
    availableNow into a partitioned parquet directory via foreachBatch
    — the streaming analog of the runner's ``incremental``
    materialization.

    Exactly-once story: the checkpoint records committed batch ids, and
    foreachBatch re-delivers a batch only after a crash *before* its
    commit — the append is then repeated, so downstream readers must
    either tolerate duplicates or the batch write must be idempotent
    (e.g. dynamic partition overwrite keyed on batch-aligned
    partitions, or MERGE on a key in a transactional format). Plain
    append is used here because the parquet sink's own metadata log
    can't partition-prune at read time; at scale, partition_by gives
    readers pruning and the checkpoint gives the writer restartability.
    Blocks until all available input is processed; returns the query."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        w = batch_df.write.mode("append").format("parquet")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.save(path)

    q = (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def sized_state_partitions(path: str, target_bytes: int = 16 << 20,
                           floor: int = 1) -> int:
    """Shuffle-partition count for a stateful query over a file-drop
    source, sized to the drop (~16 MB of input per partition).
    Each shuffle partition owns one state-store instance per stateful
    operator — every one pays per-batch open/commit/snapshot I/O — so
    running a small backfill with a big-cluster partition count spends
    more time on empty state stores than on rows. The count is baked
    into the checkpoint at first start; a production job sizes this to
    the live key space / cluster, a backfill to its input. Measured on
    the ~2 MB, 100 k-row sf0.1 events drop (4 vCPUs, two traced runs):
    one ``dropDuplicatesWithinWatermark`` batch spends 0.88–0.93 s of
    summed state-commit task time on 4 stores and 0.03–0.04 s on 1.

    ``floor`` sets the minimum parallelism: JVM stateful operators
    (window aggs, stream-stream joins) are fine near 1 on small drops,
    but ``applyInPandasWithState`` forks one Arrow-batched Python
    worker per partition — its wall clock is Python-throughput-bound,
    so floor it at the worker parallelism you want (measured 4× faster
    at floor 8-16 than 1 on a 100 k-row drop)."""
    import os

    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(
            os.path.getsize(os.path.join(root, f))
            for f in files
            if f.endswith(".parquet")
        )
    return max(floor, total // target_bytes)


def run_to_memory_sink(stream_df: DataFrame, query_name: str,
                       output_mode: str = "append",
                       state_partitions: int | None = None,
                       no_data_batch: bool = True):
    """Drive a streaming query over all currently-available input and
    block until done (availableNow) — the deterministic harness used by
    tests and backfills. Returns the StreamingQuery (stopped).

    ``state_partitions`` temporarily overrides shuffle partitions for
    this query (see ``sized_state_partitions``). ``no_data_batch=False``
    skips the trailing empty micro-batch that only advances the
    watermark — sound ONLY when the output doesn't wait on watermark
    finalization (stream-stream inner joins emit on match; complete /
    update-mode aggs emit every batch; append-mode
    ``dropDuplicatesWithinWatermark`` emits a key's first row on
    arrival, so its trailing batch only evicts state). Jobs that emit
    on event-time timeout or append-mode windows (``inactivity_sessions``,
    ``tumbling_counts`` in append) MUST keep it on or their final rows
    never flush."""
    spark = stream_df.sparkSession
    overrides: dict[str, str] = {}
    if state_partitions is not None:
        overrides["spark.sql.shuffle.partitions"] = str(state_partitions)
    if not no_data_batch:
        overrides["spark.sql.streaming.noDataMicroBatches.enabled"] = "false"
    saved = {k: spark.conf.get(k, None) for k in overrides}
    for k, v in overrides.items():
        spark.conf.set(k, v)
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(query_name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    return q


DOCS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def read_documents_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-drop streaming source over a documents directory — the
    ingest edge of a streaming corpus pipeline (crawl dumps landing as
    parquet drops)."""
    return spark.readStream.schema(DOCS_STREAM_SCHEMA).parquet(path)


def stream_dedup_vs_history(
    docs: DataFrame,
    history_sigs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    num_perm: int = 32,
    num_bands: int = 8,
    shingle_n: int = 3,
    portable: bool = False,
) -> DataFrame:
    """Streaming incremental near-dup detection: incoming documents
    matched against a PERSISTED history signature index as they
    arrive — ``operators/dedup.incremental_minhash_dedup`` re-bound to
    a stream. The signature pass is pure narrow expressions (tokenize →
    shingle → hash folds, no shuffle), so it runs unchanged on a
    streaming frame; the band match is a STREAM-STATIC inner join —
    stateless, no watermark needed, each micro-batch probes the static
    band table and emits verified matches immediately.

    Batch/stream symmetry (this module's contract): over the same
    input this equals ``incremental_minhash_dedup(batch, history_sigs,
    ...)`` exactly — the oracled batch operator IS the backfill.

    The one stateful step is the cross-band de-dup of emitted pairs
    (a pair sharing k bands would otherwise emit k times):
    ``dropDuplicates`` keys state by (batch_id, history_id) — MATCH
    volume, not corpus volume. For a 24/7 deployment add an ingest-time
    column and use ``dropDuplicatesWithinWatermark`` to bound even
    that; the finite-drop harness keeps the exact form.

    Shingle arrays ride along the band explode (num_bands copies per
    doc, batch-sized only) so verification never re-joins the stream
    with itself — a stream-stream self-join would need watermarks and
    buffer state for no benefit.

    ``history_sigs`` must be a MATERIALIZED index — read back from
    storage (parquet/bucketed table), not a live
    ``minhash_signatures`` plan: streaming queries reject
    nondeterministic expressions anywhere in the plan, including the
    static join side, and the live signature plan carries the
    HOF-staging barrier (session.barrier_filter). Materialization is
    what production wants anyway — sign history once, probe it every
    micro-batch."""
    from ..functions.text import jaccard
    from ..operators.dedup import _band_key, minhash_signatures

    r = num_perm // num_bands
    bands = F.posexplode(
        F.array(*[_band_key(b, r, portable) for b in range(num_bands)])
    )
    bsigs = minhash_signatures(
        docs, text_col, id_col, num_perm, shingle_n, portable=portable
    )
    bb = bsigs.select(
        F.col(id_col).alias("batch_id"),
        F.col("shingles").alias("sh_b"),
        bands.alias("band_idx", "band_hash"),
    )
    hb = history_sigs.select(
        F.col(id_col).alias("history_id"),
        F.col("shingles").alias("sh_h"),
        bands.alias("band_idx", "band_hash"),
    )
    return (
        bb.join(hb, ["band_idx", "band_hash"])
        .withColumn("jaccard_sim", jaccard(F.col("sh_b"), F.col("sh_h")))
        .filter(F.col("jaccard_sim") >= threshold)
        .select("batch_id", "history_id", "jaccard_sim")
        .dropDuplicates(["batch_id", "history_id"])
    )


def stream_topk_shard_summaries(
    spark: SparkSession,
    src_dir: str,
    sink_dir: str,
    checkpoint: str,
    key_col: str = "user_id",
    k: int = 10,
    max_files_per_trigger: int = 1,
) -> None:
    """Streaming ingest side of the heavy-hitters rollup: every
    micro-batch collapses to its per-day top-K summary rows
    (operators/sketch.shard_topk_summaries — ≤ K+residual rows per
    (batch, day)) which APPEND to the artifact table; the fact rows are
    dropped at the edge. This is the deployment shape of the sketch
    trilogy: 100 TB of ingest crosses the wire as O(batches·K)
    summary rows, and any later "top talkers over day range X" is a
    rollup over the artifact — no fact rescan, ever.

    State story: there is NO streaming state at all — summaries are
    per-batch derived frames written by foreachBatch (the checkpoint
    only tracks committed batch ids for exactly-once appends on
    restart). Memory is bounded by the batch, not the stream.

    Batch/stream symmetry (what the contract oracle checks): when no
    calendar day is split across micro-batches (the source is written
    day-atomically; see the contract query), the appended summaries
    equal ``shard_topk_summaries(batch_table, day, key)`` EXACTLY —
    same counts, same K+1 cut, same residual bounds — because the
    summary of a (batch ∩ day) group with the whole day present is the
    summary of the day. Blocks until all available input is processed.
    """
    from ..operators.sketch import shard_topk_summaries

    stream = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(src_dir)
    )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # two_level=False: a micro-batch is already ingest-sized and
        # the Arrow pre-prune seam is wasted forking on per-batch data
        shard_topk_summaries(
            batch_df, F.date_trunc("day", F.col("ts")), key_col, k,
            two_level=False,
        ).write.mode("append").parquet(sink_dir)

    q = (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
