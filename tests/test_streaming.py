"""Structured Streaming jobs: drive each over the events parquet with
availableNow + memory sink and check against the batch analog —
batch/stream symmetry is the contract (streaming/jobs.py docstring)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from taxi_rides_ny_duckdb_spark.sources.registry import load, table_path
from taxi_rides_ny_duckdb_spark.streaming import jobs


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir, tmp_path_factory):
    # readStream wants a directory of files with a known (µs) schema;
    # rewrite the nanos-timestamp source once via the batch loader.
    out = str(tmp_path_factory.mktemp("events_stream"))
    load(spark, sf_dir, "events").write.mode("overwrite").parquet(out)
    return out


def test_tumbling_counts_stream_equals_batch(spark, sf_dir, events_dir):
    stream = jobs.tumbling_counts(jobs.read_events_stream(spark, events_dir))
    jobs.run_to_memory_sink(stream, "t_tumbling", output_mode="complete")
    got = spark.table("t_tumbling")

    batch = (
        load(spark, sf_dir, "events")
        .groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )
    g = {(r["window_start"], r["event_type"]): r["n_events"] for r in got.collect()}
    b = {(r["window_start"], r["event_type"]): r["n_events"] for r in batch.collect()}
    assert g == b


def test_session_windows_stream(spark, events_dir):
    stream = jobs.session_windows(jobs.read_events_stream(spark, events_dir))
    jobs.run_to_memory_sink(stream, "t_sessions", output_mode="complete")
    got = spark.table("t_sessions")
    assert got.count() > 0
    # session windows are per-user, disjoint, gap-separated
    rows = got.orderBy("user_id", "session_start").collect()
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    some_user_has_multiple = False
    for sess in by_user.values():
        for a, b in zip(sess, sess[1:]):
            some_user_has_multiple = True
            # next session starts ≥ 30min after previous one ends
            assert (b["session_start"] - a["session_end"]).total_seconds() >= 0
    assert some_user_has_multiple


def test_dedup_within_watermark(spark, events_dir, tmp_path_factory):
    # duplicate the input directory content → stream sees every event twice
    dup_dir = str(tmp_path_factory.mktemp("events_dup"))
    base = spark.read.parquet(events_dir)
    base.union(base).write.mode("overwrite").parquet(dup_dir)

    stream = jobs.dedup_within_watermark(
        jobs.read_events_stream(spark, dup_dir), keys=["event_id"], watermark="10 days"
    )
    jobs.run_to_memory_sink(stream, "t_dedup", output_mode="append")
    assert spark.table("t_dedup").count() == base.count()


def test_sliding_counts_stream(spark, events_dir):
    stream = jobs.sliding_counts(jobs.read_events_stream(spark, events_dir))
    jobs.run_to_memory_sink(stream, "t_sliding", output_mode="complete")
    got = spark.table("t_sliding")
    # each event lands in width/slide = 2 windows
    total_events = spark.read.parquet(events_dir).count()
    assert got.agg(F.sum("n_events")).first()[0] == 2 * total_events


@pytest.fixture(scope="module")
def chunked_events_dir(spark, sf_dir, tmp_path_factory):
    """Events split into 4 time-ordered parquet files so a
    maxFilesPerTrigger=1 stream sees them as 4 in-order micro-batches
    (no late data ⇒ stateful results comparable to batch analogs)."""
    out = tmp_path_factory.mktemp("events_chunks")
    pdf = load(spark, sf_dir, "events").toPandas().sort_values("ts").reset_index(drop=True)
    k = len(pdf) // 4
    for i in range(4):
        chunk = pdf.iloc[i * k : (i + 1) * k if i < 3 else len(pdf)]
        chunk.to_parquet(
            str(out / f"{i:02d}.parquet"),
            index=False,
            coerce_timestamps="us",
            allow_truncated_timestamps=True,
        )
    return str(out)


def _read_chunked(spark, path):
    from taxi_rides_ny_duckdb_spark.streaming import jobs

    return (
        spark.readStream.schema(jobs.EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


def test_running_user_totals_stateful(spark, sf_dir, chunked_events_dir):
    """applyInPandasWithState running totals: the LAST update row per
    user equals the batch groupBy — state accumulated across 4
    micro-batches."""
    from taxi_rides_ny_duckdb_spark.streaming import jobs, stateful

    stream = stateful.running_user_totals(_read_chunked(spark, chunked_events_dir))
    jobs.run_to_memory_sink(stream, "t_running", output_mode="update")
    got = spark.table("t_running").collect()
    # update mode: several rows per user; the final one is the total
    final: dict = {}
    for r in got:
        final[r["user_id"]] = (r["n_events"], r["total_value"])
    batch = (
        spark.read.parquet(chunked_events_dir)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.coalesce(F.col("value"), F.lit(0.0))).alias("tot"),
        )
        .collect()
    )
    assert len(final) == len(batch)
    multi_update = len(got) > len(final)  # state really crossed batches
    assert multi_update
    for r in batch:
        n, tot = final[r["user_id"]]
        assert n == r["n"]
        assert abs(tot - r["tot"]) < 1e-6


def test_inactivity_sessions_stateful(spark, sf_dir, chunked_events_dir):
    """Custom event-time-timeout sessionization: every emitted (closed)
    session matches the batch sessionize result exactly."""
    from taxi_rides_ny_duckdb_spark.operators.windows import sessionize
    from taxi_rides_ny_duckdb_spark.streaming import jobs, stateful

    stream = stateful.inactivity_sessions(
        _read_chunked(spark, chunked_events_dir), gap_minutes=30, watermark="1 minute"
    )
    jobs.run_to_memory_sink(stream, "t_inact", output_mode="append")
    got = spark.table("t_inact").collect()
    assert len(got) > 0  # the watermark closed at least the early sessions

    batch = (
        sessionize(spark.read.parquet(chunked_events_dir), gap_minutes=30)
        .groupBy("user_id", "session_seq")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .collect()
    )
    batch_by_key = {
        (r["user_id"], r["session_start"]): r for r in batch
    }
    for r in got:
        b = batch_by_key[(r["user_id"], r["session_start"])]
        assert r["session_end"] == b["session_end"]
        assert r["n_events"] == b["n_events"]


def test_stateful_state_survives_restart(spark, chunked_events_dir, tmp_path_factory):
    """Checkpoint recovery: stop the stateful query after half the
    input, restart with the same checkpoint over the full input — the
    restarted run must resume from persisted state, so final totals
    equal the batch aggregate over ALL data."""
    import shutil
    from pathlib import Path

    from taxi_rides_ny_duckdb_spark.streaming import jobs, stateful

    src = sorted(Path(chunked_events_dir).glob("*.parquet"))
    live = tmp_path_factory.mktemp("events_live")
    ckpt = str(tmp_path_factory.mktemp("ckpt"))
    out = str(tmp_path_factory.mktemp("restart_out"))

    def run_once():
        stream = stateful.running_user_totals(
            spark.readStream.schema(jobs.EVENTS_STREAM_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(live))
        )

        # memory sink can't recover from a checkpoint; foreachBatch can
        def sink(df, epoch_id):
            df.withColumn("__epoch", F.lit(epoch_id)).write.mode("append").parquet(out)

        q = (
            stream.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    for f in src[:2]:
        shutil.copy(f, live / f.name)
    run_once()

    for f in src[2:]:
        shutil.copy(f, live / f.name)
    run_once()

    # epoch ids keep increasing across the restart; a user's row at
    # their max epoch carries the running total including recovered
    # first-run state
    updates = spark.read.parquet(out).collect()
    assert max(r["__epoch"] for r in updates) >= 2, "no post-restart batches"
    final_b: dict = {}
    for r in sorted(updates, key=lambda r: r["__epoch"]):
        final_b[r["user_id"]] = (r["n_events"], r["total_value"])
    assert final_b, "nothing emitted"

    full = {
        r["user_id"]: (r["n"], r["tot"])
        for r in spark.read.parquet(str(live))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.coalesce(F.col("value"), F.lit(0.0))).alias("tot"),
        )
        .collect()
    }
    for uid, (n, tot) in final_b.items():
        assert n == full[uid][0], (uid, n, full[uid])
        assert abs(tot - full[uid][1]) < 1e-6


def test_stream_to_partitioned_parquet_incremental(spark, sf_dir, tmp_path):
    """foreachBatch sink: all available input lands once, partition
    layout is readable with pruning, and a restart with the same
    checkpoint is a no-op (no duplicate batches)."""
    from taxi_rides_ny_duckdb_spark.sources.registry import load
    from taxi_rides_ny_duckdb_spark.streaming import jobs

    src_dir = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    ev = load(spark, sf_dir, "events")
    ev.coalesce(1).write.parquet(src_dir)

    stream = jobs.read_events_stream(spark, src_dir)
    jobs.stream_to_partitioned_parquet(stream, out, ckpt, partition_by=("event_type",))
    got = spark.read.parquet(out)
    assert got.count() == ev.count()
    # partition pruning works: one event_type reads a subset
    one = got.filter(F.col("event_type") == "view").count()
    assert 0 < one < ev.count()

    # restart with same checkpoint: no new input -> nothing appended
    stream2 = jobs.read_events_stream(spark, src_dir)
    jobs.stream_to_partitioned_parquet(stream2, out, ckpt, partition_by=("event_type",))
    assert spark.read.parquet(out).count() == ev.count()


@pytest.fixture()
def late_events_dir(tmp_path_factory):
    """≥3 in-order micro-batches with LATE rows straddling the
    watermark (VERDICT r6 #7): batch 0 = users 1/2 at T..T+9min
    (event_ids 0-9 alternating user); batch 1 = user 3 at T+3h (ids
    100-104) — advances the watermark hours past batch 0; batch 2 =
    late NEW key (id 500, user 1, T+5min) behind the watermark;
    batch 3 = a late DUPLICATE of id 0 arriving after its state was
    evicted, plus user 4 at T+6h to advance the watermark again."""
    import os
    import time

    import pandas as pd

    base = pd.Timestamp("2024-01-01 00:00:00")
    out = tmp_path_factory.mktemp("late_events")

    def mk(fname, rows):
        pdf = pd.DataFrame(
            rows,
            columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
        )
        pdf.to_parquet(
            str(out / fname),
            index=False,
            coerce_timestamps="us",
            allow_truncated_timestamps=True,
        )

    mk("00.parquet", [(i, base + pd.Timedelta(minutes=i), 1 + (i % 2), "view", 1.0, "{}")
                      for i in range(10)])
    mk("01.parquet", [(100 + i, base + pd.Timedelta(hours=3, minutes=i), 3, "view", 1.0, "{}")
                      for i in range(5)])
    mk("02.parquet", [(500, base + pd.Timedelta(minutes=5), 1, "view", 1.0, "{}")])
    mk("03.parquet", [(0, base, 1, "view", 1.0, "{}"),
                      (300, base + pd.Timedelta(hours=6), 4, "view", 1.0, "{}")])
    # FileStreamSource orders by modification time — pin it explicitly
    now = time.time()
    for i, f in enumerate(sorted(os.listdir(out))):
        os.utime(str(out / f), (now + i, now + i))
    return str(out)


def test_dedup_watermark_eviction_multibatch(spark, late_events_dir):
    """dropDuplicatesWithinWatermark across ≥3 micro-batches, late rows
    straddling the watermark (VERDICT r6 #7). Observed-and-pinned
    semantics: (a) in-horizon duplicates are suppressed; (b) the
    operator's late-input filter runs on the ONE-BATCH-LAGGED watermark
    — id 500 (T+5min) slips through in batch 2 because the filter
    watermark is still behind batch 1's events, while id 0's very-late
    duplicate in batch 3 is DROPPED by the now-advanced filter
    (numRowsDroppedByWatermark), so nothing re-emits even though id 0's
    state was already evicted; (c) eviction is real and observable —
    numRowsRemoved fires as the watermark passes key expiry, and the
    final state holds only the newest key. Bounded memory + exactly-
    once-per-key output under this fixture."""
    stream = jobs.dedup_within_watermark(
        _read_chunked(spark, late_events_dir), keys=["event_id"], watermark="30 minutes"
    )
    q = jobs.run_to_memory_sink(stream, "t_dedup_evict", output_mode="append")
    from collections import Counter

    ids = Counter(r["event_id"] for r in spark.table("t_dedup_evict").collect())
    # every key exactly once: 0-9, 100-104, 500 (late but pre-filter-
    # advance), 300 — the late duplicate of id 0 never re-emits
    assert ids == {**{i: 1 for i in range(10)},
                   **{100 + i: 1 for i in range(5)}, 500: 1, 300: 1}
    progress = [p["stateOperators"][0] for p in q.recentProgress
                if p["stateOperators"]]
    # the late duplicate was dropped by the watermark input filter
    assert sum(p.get("numRowsDroppedByWatermark", 0) for p in progress) >= 1
    # state eviction observed (keys removed as the watermark passed)
    assert sum(p.get("numRowsRemoved", 0) for p in progress) >= 16
    # final state: only the T+6h key is still inside the horizon
    assert progress[-1]["numRowsTotal"] == 1, progress[-1]


def test_dedup_skipping_no_data_batch_keeps_rows(spark, sf_dir, chunked_events_dir):
    """Append-mode dropDuplicatesWithinWatermark emits a key's first row
    on arrival, so skipping the trailing watermark-only batch
    (``no_data_batch=False``, as ext_streaming_dedup runs) loses no
    row: over 4 in-order data batches and a horizon that covers the
    drop, the key-projected sink equals the default run's (and the
    batch key-distinct), and the skipping run has no 0-input batch."""

    def run(name, no_data_batch):
        stream = jobs.dedup_within_watermark(
            _read_chunked(spark, chunked_events_dir),
            keys=["user_id", "event_type"],
            watermark="365 days",
        )
        q = jobs.run_to_memory_sink(
            stream.select("user_id", "event_type"), name,
            output_mode="append", no_data_batch=no_data_batch,
        )
        rows = sorted(tuple(r) for r in spark.table(name).collect())
        return rows, [p["numInputRows"] for p in q.recentProgress]

    with_batch, inputs_on = run("t_dedup_nodata_on", True)
    without, inputs_off = run("t_dedup_nodata_off", False)
    keys = load(spark, sf_dir, "events").select("user_id", "event_type").distinct()
    assert without == with_batch == sorted(tuple(r) for r in keys.collect())
    assert len(inputs_off) == 4 and all(n > 0 for n in inputs_off), inputs_off
    # the default run does schedule the trailing batch the skip removes
    assert inputs_on == [*inputs_off, 0], inputs_on


def test_inactivity_sessions_late_rows_multibatch(spark, late_events_dir):
    """inactivity_sessions across 4 micro-batches: (a) event-time
    timeouts close sessions once the (one-batch-lagged) watermark
    passes last_event + gap; (b) late-row handling has TWO regimes,
    both pinned here — a row behind event order but still ahead of the
    lagged filter watermark (the minute-5 row in batch 2) reaches the
    update fn and is merged into the open session, while a row behind
    the advanced filter watermark (the T-row in batch 3) is dropped
    BEFORE the update fn, exactly like the dedup operator's filter —
    so the session keeps 6 events, not 7; (c) state for closed
    sessions is evicted (numRowsTotal shrinks to open sessions
    only)."""
    from taxi_rides_ny_duckdb_spark.streaming.stateful import inactivity_sessions

    stream = inactivity_sessions(
        _read_chunked(spark, late_events_dir), gap_minutes=30, watermark="1 hour"
    )
    q = jobs.run_to_memory_sink(
        stream, "t_sess_late", output_mode="append", state_partitions=4
    )
    import pandas as pd

    base = pd.Timestamp("2024-01-01 00:00:00")
    got = {
        r["user_id"]: (r["session_start"], r["session_end"], r["n_events"])
        for r in spark.table("t_sess_late").collect()
    }
    # user 1: 5 on-time events (minutes 0,2,4,6,8) + the late minute-5
    # row merged while the session was still open -> 6 events, same end
    assert got[1] == (base, base + pd.Timedelta(minutes=8), 6)
    # user 2: untouched by late data
    assert got[2] == (
        base + pd.Timedelta(minutes=1), base + pd.Timedelta(minutes=9), 5
    )
    # user 3 closes when the batch-3 watermark (T+5h) passes its deadline
    assert got[3] == (
        base + pd.Timedelta(hours=3), base + pd.Timedelta(hours=3, minutes=4), 5
    )
    # user 4's session is still open when input ends: not emitted...
    assert 4 not in got
    # ...and it is the ONLY state left — closed sessions were evicted
    last_state = q.recentProgress[-1]["stateOperators"][0]["numRowsTotal"]
    assert last_state == 1, last_state


def test_stream_dedup_vs_history_equals_batch(spark, tmp_path_factory):
    """stream_dedup_vs_history over maxFilesPerTrigger=1 micro-batches
    equals the batch incremental_minhash_dedup exactly — batch/stream
    symmetry for the r7 incremental-ingest operator. History index
    materialized to parquet (the streaming requirement AND the
    production shape)."""
    import random

    from taxi_rides_ny_duckdb_spark.operators.dedup import (
        incremental_minhash_dedup,
        minhash_signatures,
    )
    from taxi_rides_ny_duckdb_spark.streaming import jobs

    rng = random.Random(11)
    vocab = "red blue green gold iron wood salt rain moon star".split()
    rows = []
    for i in range(30):
        rows.append((i, " ".join(rng.choice(vocab) for _ in range(40)),
                     "en", "src", 0))
    # batch docs: 10 near-dups of history + 10 fresh
    for i in range(10):
        w = rows[i][1].split(); w[5] = "CHANGED"
        rows.append((100 + i, " ".join(w), "en", "src", 0))
    for i in range(10):
        rows.append((200 + i, " ".join(rng.choice(vocab) for _ in range(40)),
                     "en", "src", 0))
    df = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )
    history = df.filter(F.col("doc_id") < 100)
    batch = df.filter(F.col("doc_id") >= 100)

    idx_dir = str(tmp_path_factory.mktemp("hist_idx"))
    minhash_signatures(history, "text", "doc_id").write.mode("overwrite").parquet(idx_dir)
    hsigs = spark.read.parquet(idx_dir)

    batch_dir = str(tmp_path_factory.mktemp("batch_docs"))
    batch.repartition(3).write.mode("overwrite").parquet(batch_dir)  # ≥3 micro-batches

    stream = jobs.stream_dedup_vs_history(
        spark.readStream.schema(jobs.DOCS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(batch_dir),
        hsigs,
        threshold=0.5,
    )
    jobs.run_to_memory_sink(stream, "t_incr_dedup", output_mode="append")
    got = {
        (r["batch_id"], r["history_id"], round(r["jaccard_sim"], 9))
        for r in spark.table("t_incr_dedup").collect()
    }
    want = {
        (r["batch_id"], r["history_id"], round(r["jaccard_sim"], 9))
        for r in incremental_minhash_dedup(
            batch, hsigs, "text", "doc_id", threshold=0.5
        ).collect()
    }
    assert got == want and len(want) >= 8  # near-dups found, identical sets


def test_windowed_histogram_stream_equals_batch(spark, sf_dir, events_dir):
    """windowed_value_histogram over the stream equals the identical
    batch binning — exact integer counts make micro-batch splits
    invisible in complete mode."""
    stream = jobs.windowed_value_histogram(
        jobs.read_events_stream(spark, events_dir),
        "value", lo=0.0, hi=500.0, n_bins=10, width="1 day",
        watermark="365 days",
    )
    jobs.run_to_memory_sink(
        stream, "t_drift_hist", output_mode="complete", no_data_batch=False
    )
    got = {
        (r["window_start"], r["bin"]): r["n"]
        for r in spark.table("t_drift_hist").collect()
    }
    w = 500.0 / 10
    b = F.least(
        F.greatest(F.floor(F.col("value").cast("double") / F.lit(w)), F.lit(0)),
        F.lit(9),
    ).cast("int")
    batch = (
        load(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .groupBy(F.window("ts", "1 day").alias("w"), b.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    want = {
        (r["w"]["start"], r["bin"]): r["n"] for r in batch.collect()
    }
    assert got == want


def test_drift_psi_grouped_laws(spark):
    """drift_psi_grouped: a group identical to the reference scores 0;
    a shifted group scores positive and matches profile_drift_psi run
    pairwise on the same counts."""
    from taxi_rides_ny_duckdb_spark.plans.profile import (
        drift_psi_grouped,
        profile_drift_psi,
    )

    ref = spark.createDataFrame(
        [(0, 10), (1, 10), (2, 10), (3, 10)], ["bin", "n_ref"]
    )
    counts = spark.createDataFrame(
        [("same", 0, 10), ("same", 1, 10), ("same", 2, 10), ("same", 3, 10),
         ("shift", 0, 30), ("shift", 1, 10)],
        ["window_start", "bin", "n"],
    )
    out = {
        (r["window_start"], r["bin"]): r
        for r in drift_psi_grouped(counts, ref, n_bins=4).collect()
    }
    assert len(out) == 8  # full spine for both groups
    assert all(
        out[("same", b)]["psi_contrib_r"] == 0.0 for b in range(4)
    )
    assert out[("shift", 0)]["psi_total_r"] > 0.25
    # cross-check the shifted panel against the two-frame operator on
    # equivalent raw values (bin width 1 over [0, 4))
    base_rows = [(float(b),) for b in range(4) for _ in range(10)]
    other_rows = [(0.0,)] * 30 + [(1.0,)] * 10
    pair = {
        r["bin"]: r
        for r in profile_drift_psi(
            spark.createDataFrame(base_rows, ["x"]),
            spark.createDataFrame(other_rows, ["x"]),
            "x", lo=0.0, hi=4.0, n_bins=4,
        ).collect()
    }
    for b in range(4):
        assert pair[b]["psi_contrib_r"] == out[("shift", b)]["psi_contrib_r"]
        assert pair[b]["psi_total_r"] == out[("shift", b)]["psi_total_r"]


def test_streaming_funnel_multibatch_out_of_order_equals_batch(
    spark, tmp_path_factory
):
    """streaming_funnel over 3 in-order micro-batches whose CONTENT is
    event-time out of order (the views arrive in batch 2, AFTER their
    clicks/purchases were processed in batch 1) must converge to the
    batch funnel — the state keeps full per-stage time lists and
    re-walks, so a late predecessor retroactively validates successors.
    The last update-mode row per user is the converged funnel."""
    from datetime import datetime

    from taxi_rides_ny_duckdb_spark.operators.windows import funnel_stages
    from taxi_rides_ny_duckdb_spark.streaming import jobs, stateful

    T = lambda s: datetime(2024, 1, 1, 0, 0, s)
    # event-time order per user 1: view(10) click(20) purchase(30);
    # user 2: view(5) click(3 — before view, never counts) purchase(40)
    batch1 = [  # clicks + purchases FIRST
        (101, T(20), 1, "click", 0.0, ""),
        (102, T(30), 1, "purchase", 0.0, ""),
        (103, T(3), 2, "click", 0.0, ""),
        (104, T(40), 2, "purchase", 0.0, ""),
    ]
    batch2 = [  # the late views
        (105, T(10), 1, "view", 0.0, ""),
        (106, T(5), 2, "view", 0.0, ""),
    ]
    batch3 = [  # a later click for user 2 — completes view->click
        (107, T(50), 2, "click", 0.0, ""),
    ]
    d = tmp_path_factory.mktemp("funnel_stream")
    cols = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"
    for i, b in enumerate([batch1, batch2, batch3]):
        spark.createDataFrame(b, cols).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(d / f"b{i}"))
    # register the three drops as one dir of files, named in order
    import glob
    import shutil

    src = tmp_path_factory.mktemp("funnel_src")
    for i in range(3):
        f = glob.glob(str(d / f"b{i}" / "part-*.parquet"))[0]
        shutil.copy(f, str(src / f"{i:03d}.parquet"))

    stream = stateful.streaming_funnel(
        spark.readStream.schema(jobs.EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    jobs.run_to_memory_sink(stream, "t_stream_funnel", output_mode="update")
    rows = spark.table("t_stream_funnel").collect()
    # multi-batch: users re-emit per touched batch; keep the LAST row
    # per user (memory sink preserves batch order)
    last = {}
    for r in rows:
        last[r["user_id"]] = r
    all_events = spark.createDataFrame(batch1 + batch2 + batch3, cols)
    want = {
        r["user_id"]: r
        for r in funnel_stages(
            all_events, "user_id", "ts", "event_type",
            ["view", "click", "purchase"],
        ).collect()
    }
    assert set(last) == set(want)
    for u in want:
        for c in ("view_us", "click_us", "purchase_us", "stages_completed"):
            assert last[u][c] == want[u][c], (u, c, last[u][c], want[u][c])
    # and the out-of-order semantics specifically: user 2's click at
    # t=3 never counts (before the view at t=5); the batch-3 click at
    # t=50 does, and the purchase at t=40 precedes it -> chain stops
    assert last[2]["stages_completed"] == 2
    assert last[2]["purchase_us"] is None
    assert last[1]["stages_completed"] == 3


def test_stream_topk_summaries_equal_batch_form(spark, sf_dir, tmp_path_factory):
    """Multi-batch symmetry: with a day-atomic source and
    maxFilesPerTrigger=1, the appended per-batch summaries equal
    shard_topk_summaries over the whole static table row-for-row —
    the claim that lets the contract query reuse the batch oracle."""
    from taxi_rides_ny_duckdb_spark.operators.sketch import (
        shard_topk_summaries,
    )

    base = tmp_path_factory.mktemp("stream_topk")
    src, sink, ckpt = str(base / "src"), str(base / "sink"), str(base / "ckpt")
    ev = load(spark, sf_dir, "events")
    (
        ev.withColumn("__day", F.date_trunc("day", F.col("ts")))
        .repartition(6, F.col("__day"))
        .drop("__day")
        .write.parquet(src)
    )
    jobs.stream_topk_shard_summaries(spark, src, sink, ckpt, "user_id", k=10)
    got = sorted(
        map(tuple, spark.read.parquet(sink).collect())
    )
    want = sorted(
        map(
            tuple,
            shard_topk_summaries(
                ev, F.date_trunc("day", F.col("ts")), "user_id", k=10
            ).collect(),
        )
    )
    assert got == want
    # and it genuinely ran as multiple micro-batches (one per file)
    import glob

    n_files = len(glob.glob(f"{src}/*.parquet"))
    assert n_files >= 2  # day-atomic layout produced several batches
