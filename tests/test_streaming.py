"""Streaming smoke tests (SURVEY.md §5 item 3): the reference topology's
Structured Streaming forms run over deterministic file-source input with
trigger(availableNow), asserting the conservation invariant the reference
validates by hand (constant -n => steady-state rate == n, README.md:75-82).

Input determinism: the knob_batch replay generator is written to parquet
and re-read with readStream (multiple files => multiple micro-batches),
standing in for the Pub/Sub subscription source (SURVEY.md §2.1 S1).
"""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from pubsub_mapreduce_spark.sources.knobs import TOTAL_KNOBS, knob_batch
from pubsub_mapreduce_spark.sources.topic import FileTopic
from pubsub_mapreduce_spark.streaming.pipeline import (
    fan_out_stream,
    latest_per_key_stream,
    running_total_stream,
    snapshot_scale_stream,
    windowed_count_stream,
)
from pubsub_mapreduce_spark.streaming.sinks import DeviceConfigSink

N_CONST = 100
TICKS = 40  # 40 ticks x 200ms = 8s of simulated stream


@pytest.fixture(scope="module")
def knob_dir(spark, tmp_path_factory):
    """Deterministic knob stream on disk: 4 files => 4 micro-batches with
    maxFilesPerTrigger=1, so stateful operators cross batch boundaries."""
    path = str(tmp_path_factory.mktemp("knobs") / "stream")
    df = knob_batch(spark, n=N_CONST, ticks=TICKS, tick_ms=200)
    df.repartition(4, "ts").write.mode("overwrite").parquet(path)
    return path


def read_knob_stream(spark, path):
    schema = "id long, n long, ts timestamp"
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


def run_foreach_batch(df, writer, output_mode="update"):
    """Drain an availableNow query through foreachBatch, collecting
    (batch_id, rows) driver-side; returns them and the query."""
    batches: list[tuple[int, list]] = []

    def sink(batch_df, batch_id):
        batches.append((batch_id, batch_df.collect()))
        writer and writer(batch_df, batch_id)

    q = (
        df.writeStream.outputMode(output_mode)
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return batches, q


def final_per_key(batches, key="id"):
    """Last emitted row per key across update-mode batches."""
    out = {}
    for _, rows in sorted(batches, key=lambda b: b[0]):
        for r in rows:
            out[r[key]] = r
    return out


def test_lww_stream_matches_batch(spark, knob_dir):
    """T1 streaming (applyInPandasWithState) converges to the same
    latest-per-key answer as the batch max_by replay."""
    stream = read_knob_stream(spark, knob_dir)
    batches, _ = run_foreach_batch(latest_per_key_stream(stream), None)
    assert len(batches) >= 4, "expected one micro-batch per input file"
    got = {k: (r["n"], r["ts"]) for k, r in final_per_key(batches).items()}

    batch_df = spark.read.parquet(knob_dir)
    expect = {
        r["id"]: (r["n"], r["ts"])
        for r in batch_df.groupBy("id")
        .agg(
            F.max_by("n", "ts").alias("n"),
            F.max("ts").alias("ts"),
        )
        .collect()
    }
    assert got == expect


def test_windowed_count_stream_conserves(spark, knob_dir):
    """T4+T5 streaming: complete-mode windowed counts equal the batch
    groupBy — no rows lost or duplicated across micro-batches."""
    stream = read_knob_stream(spark, knob_dir)
    counted = windowed_count_stream(stream, window="1 second")
    q = (
        counted.writeStream.outputMode("complete")
        .format("memory")
        .queryName("wc")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["window_start"], r["id"]): r["cnt"]
        for r in spark.sql("select * from wc").collect()
    }
    expect = {
        (r["ws"], r["id"]): r["cnt"]
        for r in spark.read.parquet(knob_dir)
        .groupBy(F.window("ts", "1 second").start.alias("ws"), "id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert got == expect
    assert sum(got.values()) == TICKS * TOTAL_KNOBS


def test_fan_out_stream_conserves(spark, knob_dir):
    """T2 -> T3 streaming: exploded row count == sum of quotas (the
    flood.go:75-81 conservation property), quota = floor(n * 0.2)."""
    stream = read_knob_stream(spark, knob_dir)
    flood = snapshot_scale_stream(stream, delta=0.2)
    fanned = fan_out_stream(flood, n="quota")
    q = (
        fanned.writeStream.outputMode("append")
        .format("memory")
        .queryName("fan")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    per_knob = {
        r["id"]: r["c"]
        for r in spark.sql("select id, count(*) c from fan group by id").collect()
    }
    quota = N_CONST * 2 // 10  # floor(100 * 0.2)
    assert per_knob == {k: quota * TICKS for k in range(TOTAL_KNOBS)}


def test_running_total_and_rate_invariant(spark, knob_dir):
    """End-to-end T2->T3->T4->T6->T7: with constant n, the per-second rate
    equals floor(n*0.2)*5 == n (the README.md:75-82 hand-check), and the
    running total ends at quota * ticks per knob. T7 runs in its
    row-count form on the raw fanned stream — stateful-after-aggregation
    needs a topic boundary (see running_total_stream docstring)."""
    stream = read_knob_stream(spark, knob_dir)
    msgs = fan_out_stream(snapshot_scale_stream(stream, delta=0.2), n="quota")
    per_sec = windowed_count_stream(msgs, window="1 second")
    totals = running_total_stream(msgs, cnt_col=None)
    batches, _ = run_foreach_batch(totals, None)
    got = {k: r["total"] for k, r in final_per_key(batches).items()}
    quota = N_CONST * 2 // 10
    assert got == {k: quota * TICKS for k in range(TOTAL_KNOBS)}

    # steady-state rate: every full 1s window carries 5 ticks x quota == n
    q = (
        per_sec.writeStream.outputMode("complete")
        .format("memory")
        .queryName("rate")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rates = spark.sql("select cnt from rate").collect()
    assert rates and all(r["cnt"] == N_CONST for r in rates)


def test_two_stage_topology_through_topic(spark, tmp_path):
    """The reference's mapper->reducer Pub/Sub boundary, replayed as two
    chained streaming queries through an intermediate file 'topic':
    stage 1 (the mapper process) emits watermark-closed windowed partial
    counts to parquet; stage 2 (the reducer process) streams that topic
    into the stateful running-total accumulator. Conservation must hold
    end-to-end across the process boundary.

    A far-future sentinel tick pushes the watermark past all real data so
    stage 1 closes every real window (the sentinel's own window stays
    held — asserted absent)."""
    import time as _time

    src = str(tmp_path / "knobs_src")
    real = knob_batch(spark, n=N_CONST, ticks=TICKS, tick_ms=200)
    # time-ordered micro-batches: the file source processes oldest files
    # first, so sequential chunk writes give in-order event time and the
    # watermark only ever moves forward past CLOSED data (out-of-order
    # files would arrive behind the sentinel-advanced watermark and be
    # dropped as late — correct streaming semantics, wrong test intent)
    for lo in range(0, TICKS, 10):
        chunk = real.where(
            (F.col("ts") >= F.timestamp_seconds(F.lit(1_704_067_200 + lo * 0.2)))
            & (F.col("ts") < F.timestamp_seconds(F.lit(1_704_067_200 + (lo + 10) * 0.2)))
        )
        chunk.coalesce(1).write.mode("append").parquet(src)
        _time.sleep(0.05)
    sentinel = knob_batch(
        spark, n=5, ticks=1, tick_ms=200, start_epoch_s=1_704_070_800  # +1h
    )
    sentinel.coalesce(1).write.mode("append").parquet(src)

    stream = read_knob_stream(spark, src)
    msgs = fan_out_stream(snapshot_scale_stream(stream, delta=0.2), n="quota")
    partials = windowed_count_stream(msgs, window="1 second", watermark="2 seconds")
    topic = FileTopic(str(tmp_path / "reducer_topic"))
    q1 = topic.publish_stream(partials, checkpoint=str(tmp_path / "ckpt1"))
    q1.awaitTermination(120)

    quota = N_CONST * 2 // 10
    emitted = topic.read_batch(spark)
    # every real 1s window closed and emitted exactly once; sentinel held
    assert emitted.count() == 8 * TOTAL_KNOBS  # 40 ticks x 200ms = 8 windows
    assert emitted.agg(F.sum("cnt")).first()[0] == quota * TICKS * TOTAL_KNOBS

    stage2 = topic.subscribe(
        spark, "window_start timestamp, id long, cnt long", max_files_per_trigger=2
    )
    totals = running_total_stream(stage2, cnt_col="cnt")
    batches, _ = run_foreach_batch(totals, None)
    got = {k: r["total"] for k, r in final_per_key(batches).items()}
    assert got == {k: quota * TICKS for k in range(TOTAL_KNOBS)}


def test_watermark_protects_closed_windows(spark, tmp_path):
    """Watermark semantics pinned: once a window has been closed and
    emitted (append mode), a late replay of its rows can never re-emit
    or mutate it — each window appears EXACTLY once with its original
    count. This is the principled replacement for the reference's silent
    trust in timely arrival (SURVEY.md §2.5); note Spark's watermark lags
    one micro-batch, so a late row landing in the same batch that closes
    its window is still merged — the guarantee is per CLOSED window."""
    import time as _time

    src = str(tmp_path / "late_src")
    early = knob_batch(spark, n=1, ticks=5, tick_ms=200)  # t0 .. t0+1s
    future = knob_batch(spark, n=1, ticks=1, start_epoch_s=1_704_067_300)  # +100s
    future2 = knob_batch(spark, n=1, ticks=1, start_epoch_s=1_704_067_301)
    # batch order = file mtime order: early -> future (advances the
    # watermark) -> future2 (closes+emits the early windows) -> replay
    # (arrives behind the watermark, after eviction)
    for df in (early, future, future2, early):
        df.coalesce(1).write.mode("append").parquet(src)
        _time.sleep(1.1)

    stream = read_knob_stream(spark, src)
    counted = windowed_count_stream(stream, window="1 second", watermark="2 seconds")
    topic = FileTopic(str(tmp_path / "late_out"))
    q = topic.publish_stream(counted, checkpoint=str(tmp_path / "ckpt_late"))
    q.awaitTermination(120)

    out = topic.read_batch(spark)
    per_window = out.groupBy("window_start", "id").agg(F.sum("cnt").alias("c"))
    assert per_window.count() == out.count(), "a window was emitted twice"
    # early windows carry their original counts (ticks 0-4 over 1s
    # windows: 5 then ... never 10 = early+replay merged)
    assert out.agg(F.max("cnt")).first()[0] <= 5


T0_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z, on every window grid


def _write_tick_files(spark, src, *files):
    """One parquet file per entry of ``files``: ticks at the given ms
    offsets from T0_MS, three knob ids each. File mtimes fix the order
    in which maxFilesPerTrigger=1 reads them, one per micro-batch."""
    import glob

    seen: set[str] = set()
    for i, offsets in enumerate(files):
        ticks = spark.createDataFrame([(o,) for o in offsets], "off long")
        ticks.crossJoin(spark.range(3)).select(
            "id",
            F.lit(1).cast("long").alias("n"),
            F.timestamp_millis(F.lit(T0_MS) + F.col("off")).alias("ts"),
        ).coalesce(1).write.mode("append").parquet(src)
        (part,) = set(glob.glob(f"{src}/part-*")) - seen
        seen.add(part)
        os.utime(part, (1_700_000_000 + i, 1_700_000_000 + i))


def _struct_window_count(msgs, window, watermark):
    """Reference: the same count keyed on the window struct, with the
    watermark on ``ts``."""
    return (
        msgs.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("id"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("w.start").alias("window_start"), "id", "cnt")
    )


def _run_count(spark, src, count, window, watermark, mode):
    """(batch_id, sorted rows) per batch and numRowsDroppedByWatermark
    per batch of one availableNow run of ``count`` over ``src``."""
    batches, q = run_foreach_batch(
        count(read_knob_stream(spark, src), window, watermark), None, mode
    )
    dropped = {
        p["batchId"]: p["stateOperators"][0]["numRowsDroppedByWatermark"]
        for p in q.recentProgress
    }
    return sorted((i, sorted(rows)) for i, rows in batches), dropped


def test_windowed_count_stream_keys_partial_aggregate_on_primitives(
    spark, tmp_path
):
    """The partial aggregate of windowed_count_stream is keyed on the
    window start (a timestamp) and the long id, not on a window struct,
    which lets Spark use its two-level fast hash map."""
    src = str(tmp_path / "src")
    _write_tick_files(spark, src, [0, 50, 150])
    batches, q = run_foreach_batch(
        windowed_count_stream(read_knob_stream(spark, src)), None
    )
    got = sorted(
        (round(r["window_start"].timestamp() * 1000) - T0_MS, r["id"], r["cnt"])
        for _, rows in batches
        for r in rows
    )
    assert got == [(0, k, 2) for k in range(3)] + [(100, k, 1) for k in range(3)]
    plan = q._jsq.explainInternal(False)
    partial = [ln for ln in plan.splitlines() if "partial_count" in ln]
    assert len(partial) == 1, plan
    assert "keys=[window_start#" in partial[0] and ", id#" in partial[0], plan
    assert "named_struct" not in plan, plan


@pytest.mark.parametrize(
    "window, watermark, early, open_tick, close_tick, late",
    [
        ("1 second", "2 seconds", [0, 200, 400, 600, 800], 2500, 3000, 500),
        ("100 milliseconds", "2 seconds", [0, 50], 2050, 2100, 50),
    ],
    ids=["1s_2s", "100ms_2s"],
)
def test_window_start_key_matches_struct_window_key(
    spark, tmp_path, window, watermark, early, open_tick, close_tick, late
):
    """When the watermark is a whole number of windows, the window-start
    key with its watermark delayed by one more window closes a window in
    the same batch as the struct key and drops the same late rows. Each
    stream sits on the edge of the first window [t0, t0+w): early ticks
    in it, one later tick, a second copy of that tick, then a late row in
    the first window. The tick at ``open_tick`` leaves that window open
    (the late row is counted); the one at ``close_tick`` closes it in the
    copy's batch (the late row, one batch further, is dropped: Spark
    checks late rows against the previous batch's watermark). A delay of
    the watermark alone would close it at ``open_tick`` too. Update and
    append mode must give the same rows per batch and the same
    numRowsDroppedByWatermark."""
    for tick, closes in ((open_tick, False), (close_tick, True)):
        src = str(tmp_path / f"src_{tick}")
        _write_tick_files(spark, src, early, [tick], [tick], [late])
        for mode in ("update", "append"):
            old, old_dropped = _run_count(
                spark, src, _struct_window_count, window, watermark, mode
            )
            new, new_dropped = _run_count(
                spark, src, windowed_count_stream, window, watermark, mode
            )
            case = (tick, mode)
            assert new == old, case
            assert new_dropped == old_dropped, case
            assert sum(new_dropped.values()) == (3 if closes else 0), case
            emitted = any(rows for _, rows in new)
            assert emitted == (closes or mode == "update"), case


def test_window_start_key_never_closes_earlier_than_struct_key(spark, tmp_path):
    """At 100 ms/250 ms the watermark is not a whole number of windows:
    the window-start key then closes windows and drops late rows no
    earlier than the struct key. The tick at 380 ms (sent twice, so its
    watermark is in force before the late row arrives) closes
    [t0, t0+100ms) under the struct key (watermark 130 ms) but not under
    the window-start key (watermark 300 - 350 = -50 ms), so the late row
    at 50 ms is dropped by the one and counted by the other; the tick at
    1 s closes the window under both."""
    src = str(tmp_path / "src")
    _write_tick_files(spark, src, [0, 50], [380], [380], [50], [1000])
    args = ("100 milliseconds", "250 milliseconds")

    def upto(dropped, b):
        return sum(v for i, v in dropped.items() if i <= b)

    def closed(batches, b):
        return {
            (r["window_start"], r["id"]) for i, rows in batches if i <= b for r in rows
        }

    for mode in ("update", "append"):
        old, old_dropped = _run_count(spark, src, _struct_window_count, *args, mode)
        new, new_dropped = _run_count(spark, src, windowed_count_stream, *args, mode)
        for b in sorted(old_dropped.keys() | new_dropped.keys()):
            assert upto(new_dropped, b) <= upto(old_dropped, b), (mode, b)
            if mode == "append":
                assert closed(new, b) <= closed(old, b), b
        assert sum(new_dropped.values()) == 0 < sum(old_dropped.values()), mode
    # in append mode every window has closed by the final batch
    assert closed(new, max(new_dropped)) == closed(old, max(old_dropped))


def test_file_stream_batch_lists_its_files_without_a_job(spark, tmp_path):
    """A file-stream micro-batch of 40 files lists them on the driver
    under the session default: the batch runs its sink's job and no listing
    job. At Spark's own threshold of 32 paths it also runs a distributed
    listing job of one task per file."""
    from pubsub_mapreduce_spark.sources.knobs import parse_knob_messages

    topic = FileTopic(str(tmp_path / "topic"))
    topic.publish(
        spark.range(0, 40, 1, 40).select(
            F.format_string('{"id": %d, "n": 1, "ts": 1.5}', F.col("id") % 5)
            .alias("value")
        )
    )
    assert len([f for f in os.listdir(topic.path) if f.endswith(".parquet")]) == 40

    def jobs():
        q = (
            parse_knob_messages(topic.subscribe(spark, "value string"))
            .writeStream.format("noop")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        assert q.recentProgress[0]["numInputRows"] == 40
        return len(spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId)))

    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    default = spark.conf.get(key)
    assert jobs() == 1
    spark.conf.set(key, "32")
    try:
        assert jobs() == 2
    finally:
        spark.conf.set(key, default)


def test_session_window_stream_matches_batch(spark, knob_dir):
    """Gap-based session windows run UNCHANGED in Structured Streaming
    (the same session_window operator as the batch user_sessions): the
    streamed complete-mode result equals the batch groupBy."""
    gap = "1 second"
    stream = read_knob_stream(spark, knob_dir)
    sessions = (
        stream.groupBy(F.session_window("ts", gap).alias("w"), "id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("s"), F.col("w.end").alias("e"), "id", "n")
    )
    q = (
        sessions.writeStream.outputMode("complete")
        .format("memory")
        .queryName("sess")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["s"], r["e"], r["id"]): r["n"]
        for r in spark.sql("select * from sess").collect()
    }
    expect = {
        (r["s"], r["e"], r["id"]): r["n"]
        for r in spark.read.parquet(knob_dir)
        .groupBy(F.session_window("ts", gap).alias("w"), "id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("s"), F.col("w.end").alias("e"), "id", "n")
        .collect()
    }
    assert got == expect
    # 200ms ticks with a 1s gap never split: one session per knob
    assert len(got) == TOTAL_KNOBS


def test_checkpoint_restart_exactly_once(spark, tmp_path):
    """The C1 upgrade, demonstrated: stop a windowed-count query, add
    more input, restart from the SAME checkpoint — every message counted
    exactly once across the two runs (at-least-once redelivery would
    double-count the first run's files)."""
    src = str(tmp_path / "ckpt_src")
    ckpt = str(tmp_path / "ckpt")
    out = FileTopic(str(tmp_path / "ckpt_out"))

    first = knob_batch(spark, n=N_CONST, ticks=20, tick_ms=200)
    first.coalesce(1).write.mode("append").parquet(src)

    def run_once():
        stream = read_knob_stream(spark, src)
        counted = windowed_count_stream(stream, window="1 second")
        q = (
            counted.writeStream.outputMode("update")
            .foreachBatch(lambda df, bid: out.publish(df))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()  # run 1: processes the first 20 ticks, then stops

    second = knob_batch(
        spark, n=N_CONST, ticks=20, tick_ms=200,
        start_epoch_s=1_704_067_200 + 4,  # next 4s of stream
    )
    second.coalesce(1).write.mode("append").parquet(src)
    run_once()  # run 2: resumes from the checkpoint, sees ONLY new files

    final = (
        out.read_batch(spark)
        .groupBy("window_start", "id")
        .agg(F.max("cnt").alias("cnt"))  # update-mode: last emit per key wins
    )
    total = final.agg(F.sum("cnt")).first()[0]
    assert total == 40 * TOTAL_KNOBS, (
        f"expected every tick once, got {total} (double-counting = redelivery)"
    )


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Stream-stream interval join, both sides watermarked: matches found
    across interleaved micro-batches (requests held in join state until
    the watermark passes) must equal the one-shot batch join of the same
    data. Responses are delayed 300ms and every third tick is dropped, so
    both multi-match and no-match requests exist."""
    from pubsub_mapreduce_spark.streaming.joins import stream_interval_join

    base = knob_batch(spark, n=N_CONST, ticks=TICKS, tick_ms=200)
    tick = F.floor(F.col("ts").cast("double") * 5 + F.lit(0.5)).cast("long")
    req = base.select(
        "id", F.col("ts").alias("req_ts"), F.col("n").alias("req_n")
    )
    resp = base.where(tick % 3 != 0).select(
        "id",
        (F.col("ts") + F.expr("INTERVAL 300 MILLISECONDS")).alias("resp_ts"),
        F.col("n").alias("resp_n"),
    )
    req_dir, resp_dir = str(tmp_path / "req"), str(tmp_path / "resp")
    req.repartition(4, "req_ts").write.parquet(req_dir)
    resp.repartition(4, "resp_ts").write.parquet(resp_dir)

    def stream(path, schema):
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(path)
        )

    joined = stream_interval_join(
        stream(req_dir, "id long, req_ts timestamp, req_n long"),
        stream(resp_dir, "id long, resp_ts timestamp, resp_n long"),
        max_delay="1 second",
        watermark="30 seconds",
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("ssjoin")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = sorted(
        tuple(r) for r in spark.table("ssjoin").select(
            "id", "req_ts", "resp_ts"
        ).collect()
    )

    batch = stream_interval_join(
        spark.read.parquet(req_dir),
        spark.read.parquet(resp_dir),
        max_delay="1 second",
        watermark="30 seconds",  # no-op in batch
    )
    want = sorted(
        tuple(r) for r in batch.select("id", "req_ts", "resp_ts").collect()
    )
    assert got and got == want


def test_streaming_throughput_exceeds_local_baseline(spark, tmp_path):
    """BASELINE.md local sanity target: the reference sustains 10k
    msgs/sec on one machine (README.md:78). Our full T2->T3->T4 streaming
    replay over ~1M fanned messages must beat that with slack even on a
    contended box (generous floor: >= 10k msgs/sec end-to-end)."""
    import time as _time

    src = str(tmp_path / "tput_src")
    # 200 ticks x 5 knobs x quota 1000 = 1,000,000 messages after fan-out
    knob_batch(spark, n=5000, ticks=200, tick_ms=200).coalesce(4).write.parquet(src)

    stream = read_knob_stream(spark, src)
    msgs = fan_out_stream(snapshot_scale_stream(stream, delta=0.2), n="quota")
    per_sec = windowed_count_stream(msgs, window="1 second")
    t0 = _time.perf_counter()
    q = (
        per_sec.writeStream.outputMode("complete")
        .format("memory")
        .queryName("tput")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    wall = _time.perf_counter() - t0
    total = spark.sql("select sum(cnt) s from tput").first()["s"]
    assert total == 200 * 5 * 1000
    rate = total / wall
    assert rate >= 10_000, f"streaming replay at {rate:.0f} msgs/s < 10k baseline"


def test_device_config_sink_retry_and_suppression(spark):
    """K2 + T8: bounded retry then success; unchanged payload suppressed;
    empty batch suppressed; skip flag bypasses everything."""
    df = spark.createDataFrame([(0, 10), (1, 20)], "id long, cnt long")

    pushes: list[str] = []
    fails = {"left": 2}

    def flaky(payload: str) -> None:
        if fails["left"] > 0:
            fails["left"] -= 1
            raise IOError("transient")
        pushes.append(payload)

    sink = DeviceConfigSink(flaky, retry_wait_s=0.0)
    sink(df, 0)
    assert len(pushes) == 1  # succeeded on 3rd attempt
    sink(df, 1)
    assert len(pushes) == 1  # T8: identical payload suppressed
    sink(df.limit(0), 2)
    assert len(pushes) == 1  # empty batch suppressed
    sink(df.withColumn("cnt", F.col("cnt") * 2), 3)
    assert len(pushes) == 2  # changed payload pushes

    import base64
    import json

    decoded = json.loads(base64.b64decode(pushes[0]))
    assert decoded == {"mps": [10, 20], "total": 30}

    always_fail = DeviceConfigSink(
        lambda p: (_ for _ in ()).throw(IOError("down")),
        max_retries=3,
        retry_wait_s=0.0,
    )
    with pytest.raises(RuntimeError, match="after 3 retries"):
        always_fail(df, 0)

    skipped = DeviceConfigSink(pushes.append, skip=True)
    skipped(df, 0)
    assert len(pushes) == 2  # -skip-iot: no push


def test_end_to_end_latency_publish_to_sink(spark, tmp_path):
    """End-to-end freshness: publish a knob batch -> its windowed counts
    visible at the sink. The reference's own pipeline carries ~300ms of
    intentional batching (200ms knobs tick + 100ms mapper window) before
    network hops; our budget asserts the micro-batch path stays in the
    same order of magnitude — single-digit seconds on a cold local[32]
    JVM, not a per-batch recompile blowup. Measured per round so a
    regression in ANY stage (source listing, state store, sink) trips it."""
    import os
    import time

    src = str(tmp_path / "lat_src")
    os.makedirs(src, exist_ok=True)
    arrivals: list[float] = []

    def sink(bdf, _bid):
        if bdf.count() > 0:
            arrivals.append(time.monotonic())

    stream = read_knob_stream(spark, src)
    counted = windowed_count_stream(stream, window="1 second")
    q = (
        counted.writeStream.outputMode("update")
        .foreachBatch(sink)
        .trigger(processingTime="250 milliseconds")
        .start()
    )
    lat = []
    try:
        for round_i in range(3):
            t0 = time.monotonic()
            knob_batch(
                spark, n=N_CONST, ticks=4, tick_ms=200,
                start_epoch_s=1_704_067_200 + 10 * round_i,
            ).coalesce(1).write.mode("append").parquet(src)
            deadline = time.monotonic() + 60
            while len(arrivals) <= round_i and time.monotonic() < deadline:
                time.sleep(0.05)
            assert len(arrivals) > round_i, f"round {round_i}: no output in 60s"
            lat.append(arrivals[round_i] - t0)
    finally:
        q.stop()
    # warm rounds exclude JVM/codegen warmup; generous bound = not-broken,
    # printed value = the actual number for the bench record
    print(f"\nend-to-end latency per round (s): {[round(x, 3) for x in lat]}")
    assert min(lat[1:]) < 10.0, f"warm end-to-end latency too high: {lat}"


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """dedup_stream admits each content key once across micro-batches
    within the watermark horizon: batch 2 re-sends batch 1's rows plus
    fresh ones; only the fresh ones come through."""
    from pubsub_mapreduce_spark.streaming.pipeline import dedup_stream

    src = str(tmp_path / "dedup_src")
    b1 = knob_batch(spark, n=N_CONST, ticks=10, tick_ms=200)
    b1.coalesce(1).write.mode("append").parquet(src)
    # batch 2 = batch 1 duplicates + 10 new ticks
    b2_new = knob_batch(
        spark, n=N_CONST, ticks=10, tick_ms=200, start_epoch_s=1_704_067_200 + 2
    )
    b1.unionAll(b2_new).coalesce(1).write.mode("append").parquet(src)

    stream = read_knob_stream(spark, src)
    deduped = dedup_stream(stream, ["id", "ts"], watermark_col="ts")
    batches, _ = run_foreach_batch(deduped, None, output_mode="append")
    total = sum(len(rows) for _, rows in batches)
    assert total == 20 * TOTAL_KNOBS, (
        f"expected each (id, ts) admitted exactly once, got {total}"
    )


def test_stream_static_enrich_matches_batch_and_is_stateless(spark, knob_dir):
    """Stream-static broadcast enrichment: same rows as the batch join,
    no state store in the plan (stateless per micro-batch), unmatched
    stream rows kept with null dim columns under how='left'."""
    from pubsub_mapreduce_spark.streaming.joins import stream_static_enrich

    dim = spark.createDataFrame(
        [(i, f"knob-{i}") for i in range(TOTAL_KNOBS - 1)],  # one id unmatched
        "id long, knob_name string",
    )
    enriched = stream_static_enrich(read_knob_stream(spark, knob_dir), dim, key="id")
    batches, _ = run_foreach_batch(enriched, None, output_mode="append")
    got = sorted(
        (r["id"], r["n"], r["ts"], r["knob_name"])
        for _, rows in batches
        for r in rows
    )
    want = sorted(
        (r["id"], r["n"], r["ts"], r["knob_name"])
        for r in stream_static_enrich(
            spark.read.parquet(knob_dir), dim, key="id"
        ).collect()
    )
    assert got == want
    unmatched = [t for t in got if t[0] == TOTAL_KNOBS - 1]
    assert unmatched and all(t[3] is None for t in unmatched)
    # plan shape: broadcast, not shuffled; stateless (no state store)
    plan = stream_static_enrich(
        spark.read.parquet(knob_dir), dim, key="id"
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "StateStore" not in plan


def test_windowed_distinct_stream_matches_batch(spark, knob_dir):
    """Streaming windowed approx-distinct == the batch computation over
    the same rows: HLL sketches are deterministic functions of the
    input SET, so the micro-batch partial/final merge must land on the
    same estimate the one-shot batch aggregate produces."""
    from pubsub_mapreduce_spark.streaming.pipeline import distinct_ids_stream

    stream = read_knob_stream(spark, knob_dir)
    q = (
        distinct_ids_stream(stream, window="1 second", watermark="2 seconds")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("wdist")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["window_start"], r["approx_ids"])
        for r in spark.sql("select * from wdist").collect()
    }
    batch = spark.read.schema("id long, n long, ts timestamp").parquet(knob_dir)
    want = {
        (r["w"]["start"], r["approx_ids"])
        for r in batch.groupBy(F.window("ts", "1 second").alias("w"))
        .agg(F.approx_count_distinct("id").alias("approx_ids"))
        .collect()
    }
    # append mode emits only windows CLOSED below the watermark
    # (max_event_time - 2s), so up to watermark/window + 1 = 3 trailing
    # windows stay held; every emitted window must match batch exactly
    assert got
    assert got <= want, got - want
    assert len(want) - len(got) <= 3


def test_rowwise_simhash_matches_agg_form(spark, tables):
    """simhash_rowwise (the per-row streaming form) must equal the
    agg-based batch simhash bit-for-bit on the fixture corpus."""
    from pubsub_mapreduce_spark.operators.dedup import simhash, simhash_rowwise

    agg = {r["doc_id"]: r["simhash"] for r in simhash(tables["documents"]).collect()}
    row = {
        r["doc_id"]: r["simhash"]
        for r in simhash_rowwise(tables["documents"])
        .select("doc_id", "simhash")
        .collect()
    }
    assert agg == row


def test_streaming_near_dedup_by_fingerprint(spark, tmp_path):
    """near_dedup_stream admits ONE document per SimHash fingerprint
    within the horizon: whitespace/case variants of the same text (same
    fingerprint, different bytes) collapse; distinct texts pass. Plain
    content-hash dedup_stream would admit the variants."""
    import time as _t

    from pubsub_mapreduce_spark.streaming.pipeline import near_dedup_stream

    src = str(tmp_path / "docs_src")
    base = "The Quick Brown Fox Jumps Over The Lazy Dog " * 5
    rows = [
        (1, base, "2024-03-01 10:00:00"),
        (2, base.lower(), "2024-03-01 10:00:01"),          # case variant
        (3, "  " + base + "  ", "2024-03-01 10:00:02"),    # padding variant
        (4, "an entirely different document body here", "2024-03-01 10:00:03"),
    ]
    spark.createDataFrame(rows, "doc_id long, text string, ts_s string").select(
        "doc_id", "text", F.to_timestamp("ts_s").alias("ts")
    ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("doc_id long, text string, ts timestamp")
        .parquet(src)
    )
    out = near_dedup_stream(stream, text="text", watermark_col="ts")
    batches, _ = run_foreach_batch(out, None, output_mode="append")
    admitted = sorted(r["doc_id"] for _, rows_ in batches for r in rows_)
    # one of {1,2,3} (first arrival) + doc 4
    assert len(admitted) == 2 and 4 in admitted and admitted[0] in (1, 2, 3)


def test_device_config_sink_ledger_makes_replay_idempotent(spark, tmp_path):
    """After a crash, Structured Streaming REDELIVERS the last
    unacknowledged micro-batch (same batch_id) to a FRESH foreachBatch
    instance; the durable ledger must turn that replay into a no-op so
    the device-config push is effectively-once end to end."""
    from pubsub_mapreduce_spark.streaming.sinks import DeviceConfigSink

    batch = spark.createDataFrame([(0, 5), (1, 7)], "id long, cnt long")
    pushes = []
    ledger = str(tmp_path / "ledger")

    s1 = DeviceConfigSink(push=pushes.append, ledger_dir=ledger)
    s1(batch, batch_id=41)
    assert len(pushes) == 1

    # "crash": a brand-new sink instance (in-memory state lost) sees the
    # same batch replayed — the ledger suppresses the duplicate push
    s2 = DeviceConfigSink(push=pushes.append, ledger_dir=ledger)
    s2(batch, batch_id=41)
    assert len(pushes) == 1

    # the NEXT batch still pushes
    s2(spark.createDataFrame([(0, 9)], "id long, cnt long"), batch_id=42)
    assert len(pushes) == 2

    # without a ledger the replay duplicates (the hazard being guarded)
    pushes2 = []
    u1 = DeviceConfigSink(push=pushes2.append)
    u1(batch, batch_id=41)
    u2 = DeviceConfigSink(push=pushes2.append)
    u2(batch, batch_id=41)
    assert len(pushes2) == 2


def test_checkpoint_file_manager_is_filesystem_api_and_keeps_checksums(spark, tmp_path):
    """The session's checkpoint I/O goes through Hadoop's FileSystem API
    (atomic ``rename(2)`` on ``file://``, no ``readlink`` fork per
    rename), and the state store still writes its checksum files beside
    every delta: Spark's ``1.delta.crc`` and Hadoop's ``.1.delta.crc``."""
    import os

    jvm = spark._jvm
    checkpointing = jvm.org.apache.spark.sql.execution.streaming.checkpointing
    manager = checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(f"file://{tmp_path}"),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )
    assert manager.getClass().getSimpleName() == "FileSystemBasedCheckpointFileManager"

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    knob_batch(spark, n=10, ticks=5, tick_ms=200).coalesce(1).write.parquet(src)
    counted = windowed_count_stream(
        read_knob_stream(spark, src), window="100 milliseconds"
    )
    q = (
        counted.writeStream.outputMode("update")
        .format("noop")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    files = set(os.listdir(os.path.join(ckpt, "state", "0", "0")))
    assert {"1.delta", "1.delta.crc", ".1.delta.crc"} <= files


def test_device_config_sink_payloads_byte_identical(spark):
    """The driver-side encoder pushes the exact strings the former
    Spark-side encoder (``array_sort(collect_list(struct(id, value)))``
    then ``base64(to_json(...))``) produced for the same batches: ids in
    order, ties on an id ordered by value, the ``total`` column, and no
    push for an empty batch. Longer payloads are not split into lines."""
    import base64
    import json

    shapes = [
        # two ids in one window, arriving out of id order
        (
            [("2024-01-01 00:00:00", 1, 7), ("2024-01-01 00:00:00", 0, 5)],
            "window_start string, id int, cnt long",
            "cnt",
            ["eyJtcHMiOls1LDddLCJ0b3RhbCI6MTJ9"],
        ),
        # one id in two windows: the tie on id is ordered by value
        (
            [("2024-01-01 00:00:00.1", 3, 9), ("2024-01-01 00:00:00", 3, 4)],
            "window_start string, id int, cnt long",
            "cnt",
            ["eyJtcHMiOls0LDldLCJ0b3RhbCI6MTN9"],
        ),
        # fed by running_total_stream
        (
            [(2, 30), (0, 10), (1, 20)],
            "id long, total long",
            "total",
            ["eyJtcHMiOlsxMCwyMCwzMF0sInRvdGFsIjo2MH0="],
        ),
        ([], "id long, cnt long", "cnt", []),
    ]
    for rows, schema, value_col, want in shapes:
        pushes: list[str] = []
        DeviceConfigSink(pushes.append, value_col=value_col)(
            spark.createDataFrame(rows, schema), 0
        )
        assert pushes == want, (rows, value_col)

    # a long payload stays on one line, as Go's encoding/base64 writes it
    pushes = []
    DeviceConfigSink(pushes.append)(
        spark.createDataFrame(
            [(i % 5, 20000 + i) for i in range(60)], "id long, cnt long"
        ),
        0,
    )
    mps = sorted(range(20000, 20060), key=lambda c: ((c - 20000) % 5, c))
    assert "\n" not in pushes[0]
    assert json.loads(base64.b64decode(pushes[0])) == {"mps": mps, "total": sum(mps)}


def test_topology_restart_with_sink_ledger_pushes_each_batch_once(spark, tmp_path):
    """The paper's topology (FileTopic -> parse -> scale -> fan-out ->
    100 ms count -> DeviceConfigSink) on a processing-time trigger is
    crashed mid-stream right after a push, before Spark commits that
    batch. More ticks are published, and it restarts from the same
    checkpoint and sink ledger. Spark replays the uncommitted batch under
    the same id; the ledger turns its push into a no-op. Every knob of
    every tick is counted exactly once across both runs, and no batch id
    is pushed twice."""
    import base64
    import json
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pubsub_mapreduce_spark.sources.knobs import parse_knob_messages

    topic_dir = str(tmp_path / "topic")
    ckpt = str(tmp_path / "ckpt")
    ledger = str(tmp_path / "ledger")
    os.makedirs(topic_dir)
    t0 = 1_704_067_200.05  # ticks sit mid-window

    def n_of(k):
        return 50 + 5 * k  # quota 10 + k: every batch's payload differs

    def publish(ticks):
        for k in ticks:
            lines = [
                json.dumps({"id": i, "n": n_of(k), "ts": t0 + 0.2 * k})
                for i in range(TOTAL_KNOBS)
            ]
            if k % 4 == 1:
                lines.append("not json")  # poison: dropped, never fatal
            tmp = os.path.join(topic_dir, f".tick-{k:04d}.parquet")
            pq.write_table(pa.table({"value": lines}), tmp)
            os.rename(tmp, os.path.join(topic_dir, f"tick-{k:04d}.parquet"))

    delivered: list[tuple[int, list]] = []  # (batch id, rows) per sink call
    pushes: list[tuple[int, str]] = []  # (batch id, payload)

    def start(crash_after_push: int | None = None):
        current = {"bid": None}
        sink = DeviceConfigSink(
            push=lambda p: pushes.append((current["bid"], p)), ledger_dir=ledger
        )

        def run_batch(batch_df, batch_id):
            rows = batch_df.select("window_start", "id", "cnt").collect()
            delivered.append((batch_id, rows))
            current["bid"] = batch_id
            sink(batch_df, batch_id)
            if len(pushes) == crash_after_push:
                raise RuntimeError("simulated crash after the push")

        raw = FileTopic(topic_dir).subscribe(
            spark, "value string", max_files_per_trigger=2
        )
        counts = windowed_count_stream(
            fan_out_stream(snapshot_scale_stream(parse_knob_messages(raw), delta=0.2)),
            window="100 milliseconds",
        )
        return (
            counts.writeStream.outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="200 milliseconds")
            .foreachBatch(run_batch)
            .start()
        )

    publish(range(10))
    q = start(crash_after_push=2)
    deadline = time.monotonic() + 60
    while q.isActive and time.monotonic() < deadline:
        time.sleep(0.05)
    assert not q.isActive and q.exception() is not None, "run 1 did not crash"
    crashed = pushes[-1][0]
    first_run = len(delivered)

    publish(range(10, 20))
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    replayed = [bid for bid, _ in delivered[first_run:]]
    assert replayed[0] == crashed, "the uncommitted batch was not replayed"
    pushed_ids = [bid for bid, _ in pushes]
    assert len(pushed_ids) == len(set(pushed_ids)), f"pushed twice: {pushed_ids}"

    # update mode: the last emit per (window, knob) is its count
    final = {}
    for _, rows in delivered:
        for r in rows:
            final[(r["window_start"], r["id"])] = r["cnt"]
    quotas = [n_of(k) // 5 for k in range(20) for _ in range(TOTAL_KNOBS)]
    assert sorted(final.values()) == sorted(quotas)
    assert sum(final.values()) == sum(quotas)
    # every batch that carried rows reached the device once
    with_rows = {bid for bid, rows in delivered if rows}
    assert set(pushed_ids) == with_rows
    for bid, payload in pushes:
        body = json.loads(base64.b64decode(payload))
        rows = next(rows for b, rows in delivered if b == bid)
        assert body["total"] == sum(r["cnt"] for r in rows)


def test_funnel_stream_matches_greedy_batch_reference(spark, tmp_path):
    """Stateful streaming funnel == the earliest-transition semantics of
    the batch funnel: per-user reached stages and transition times agree
    with a sequential reference over time-ordered replay (state carries
    stage+last_ts across micro-batches)."""
    from pubsub_mapreduce_spark.io import load_tables
    from pubsub_mapreduce_spark.streaming.pipeline import funnel_stream
    from tests.conftest import SF_SMALL

    events = load_tables(spark, SF_SMALL)["events"].select(
        "event_id", "ts", "user_id", "event_type"
    )
    # time-ordered replay in 4 files -> 4 micro-batches
    rows = sorted(events.collect(), key=lambda r: (r["ts"], r["event_id"]))
    d = tmp_path / "replay"
    d.mkdir()
    chunk = (len(rows) + 3) // 4
    for i in range(4):
        spark.createDataFrame(
            rows[i * chunk : (i + 1) * chunk], events.schema
        ).coalesce(1).write.mode("overwrite").parquet(str(d / f"f{i}"))
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d) + "/f*")
    )
    q = (
        funnel_stream(stream)
        .writeStream.format("memory")
        .queryName("funnel_stream_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    q.stop()
    got = {
        (r["user_id"], r["stage"]): r["ts_s"]
        for r in spark.sql("select * from funnel_stream_t").collect()
    }
    # sequential greedy reference over the fully ordered event log
    steps, horizon = ("view", "click", "purchase"), 3600.0
    expect = {}
    st: dict[int, tuple[int, float]] = {}
    for r in rows:
        stage, last = st.get(r["user_id"], (0, float("-inf")))
        ts_s = r["ts"].timestamp()
        if stage < 3 and r["event_type"] == steps[stage] and (
            stage == 0 or last <= ts_s <= last + horizon
        ):
            stage += 1
            st[r["user_id"]] = (stage, ts_s)
            expect[(r["user_id"], stage)] = ts_s
    assert got == expect


def test_sessionize_stream_closes_by_gap_and_timeout(spark, tmp_path):
    """Sessions close inline when the next event exceeds the gap, and
    via event-time TIMEOUT (state eviction) once the watermark passes;
    a far-future sentinel in the last micro-batch forces the timeouts
    so every real session flushes. The sentinel's own in-flight session
    stays in state (never emitted)."""
    from pyspark.sql import functions as F

    from pubsub_mapreduce_spark.streaming.pipeline import sessionize_stream

    base = 1_700_000_000
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        [(u, float(base + t)) for u, t in rows], "user_id long, tsec double"
    ).select("user_id", F.timestamp_seconds("tsec").alias("ts"))
    d = tmp_path / "sess"
    d.mkdir()
    # u1: session A (0, 5, 10), gap > 30 -> session B (100, 105)
    # u2: one session (50, 60)
    mk([(1, 0), (1, 5), (2, 50)]).coalesce(1).write.parquet(str(d / "f0"))
    mk([(1, 10), (2, 60), (1, 100)]).coalesce(1).write.parquet(str(d / "f1"))
    mk([(1, 105)]).coalesce(1).write.parquet(str(d / "f2"))
    mk([(99, 10_000_000)]).coalesce(1).write.parquet(str(d / "f3"))  # sentinel
    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d) + "/f*")
    )
    q = (
        sessionize_stream(stream, gap_s=30.0, watermark="10 seconds")
        .writeStream.format("memory")
        .queryName("sessionize_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    q.stop()
    got = {
        (r["user_id"], r["session_start_s"] - base): (
            r["session_end_s"] - base,
            r["n_events"],
        )
        for r in spark.sql("select * from sessionize_t").collect()
    }
    assert got == {
        (1, 0.0): (10.0, 3),    # closed inline by the 100s event
        (1, 100.0): (105.0, 2),  # closed by timeout at the sentinel batch
        (2, 50.0): (60.0, 2),    # closed by timeout
    }


def test_stream_stream_left_outer_emits_unmatched_after_watermark(spark, tmp_path):
    """leftOuter stream-stream join: unmatched requests surface with
    null response columns once the watermark passes their join horizon
    (a sentinel batch advances the watermark); matched requests join
    normally and never also emit an outer row."""
    from pyspark.sql import functions as F

    from pubsub_mapreduce_spark.streaming.joins import stream_interval_join

    base = 1_700_000_000
    mk = lambda rows, tcol: spark.createDataFrame(  # noqa: E731
        [(i, float(base + t)) for i, t in rows], "id long, tsec double"
    ).select("id", F.timestamp_seconds("tsec").alias(tcol))
    rd, sd = tmp_path / "req", tmp_path / "resp"
    rd.mkdir(); sd.mkdir()
    # req 1 gets a response in-window; req 2 never does
    mk([(1, 0), (2, 1)], "req_ts").coalesce(1).write.parquet(str(rd / "f0"))
    mk([(1, 4)], "resp_ts").coalesce(1).write.parquet(str(sd / "f0"))
    # sentinel far in the future pushes both watermarks
    mk([(900, 100000)], "req_ts").coalesce(1).write.parquet(str(rd / "f1"))
    mk([(901, 100000)], "resp_ts").coalesce(1).write.parquet(str(sd / "f1"))
    req = (
        spark.readStream.schema("id long, req_ts timestamp")
        .option("maxFilesPerTrigger", 1).parquet(str(rd) + "/f*")
    )
    resp = (
        spark.readStream.schema("id long, resp_ts timestamp")
        .option("maxFilesPerTrigger", 1).parquet(str(sd) + "/f*")
    )
    joined = stream_interval_join(
        req, resp, max_delay="10 seconds", watermark="5 seconds",
        join_type="leftOuter",
    )
    q = (
        joined.writeStream.format("memory").queryName("souter")
        .outputMode("append").trigger(availableNow=True).start()
    )
    assert q.awaitTermination(180)
    q.stop()
    got = {
        r["id"]: (None if r["resp_ts"] is None
                  else r["resp_ts"].timestamp() - base)
        for r in spark.sql("select * from souter").collect()
    }
    assert got[1] == 4.0        # matched within the 10s horizon
    assert got.get(2, "missing") is None  # flushed as outer after watermark


def test_lsh_ingest_stream_matches_sequential_batch(spark, tmp_path):
    """The streaming LSH ingest loop (stored index, foreachBatch) must
    admit exactly the docs a sequential batch application of
    minhash_lsh_incremental admits over the same batch split — and a
    replayed batch (ledger hit) must not duplicate the store."""
    from pyspark.sql import functions as F

    from pubsub_mapreduce_spark.io import load_tables
    from pubsub_mapreduce_spark.operators.dedup import minhash_lsh_incremental
    from pubsub_mapreduce_spark.streaming.ingest_dedup import (
        LshIngest,
        start_lsh_ingest,
    )
    from tests.conftest import SF_MED

    docs = load_tables(spark, SF_MED)["documents"]
    # three "crawl" files -> three micro-batches, in doc_id order so the
    # greedy first-wins rule is deterministic across stream and batch
    src = str(tmp_path / "crawl")
    batches = [docs.where((F.col("doc_id") % 3) == i) for i in range(3)]
    import time as _time

    for i, b in enumerate(batches):
        # distinct mtimes: the file source orders micro-batches by
        # modification time, and the greedy rule is order-sensitive
        b.coalesce(1).write.mode("append").parquet(src)
        _time.sleep(1.1)
    store = str(tmp_path / "store")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = start_lsh_ingest(stream, store, str(tmp_path / "ckpt"))
    assert q.awaitTermination(300)

    # sequential-batch reference with the same greedy rule, in the
    # same (write-order) batch sequence
    got = spark.read.parquet(store + "/admitted")
    admitted_ids = {r["doc_id"] for r in got.select("doc_id").collect()}
    corpus_ids: list[int] = []
    for i in range(3):
        batch = batches[i]
        corpus = (
            docs.where(F.col("doc_id").isin(corpus_ids))
            if corpus_ids
            else docs.limit(0)
        )
        dup = (
            minhash_lsh_incremental(batch, corpus)
            .select(F.col("new_id").alias("doc_id"))
            .distinct()
        )
        adm = batch.join(dup, "doc_id", "left_anti")
        corpus_ids += [r["doc_id"] for r in adm.select("doc_id").collect()]
        spark.catalog.clearCache()  # per-iteration LSH caches are single-use
    expected_ids = set(corpus_ids)
    assert admitted_ids == expected_ids and admitted_ids

    # ledger idempotency: replaying batch 0 must be a no-op
    n_before = got.count()
    LshIngest(store)(batches[0], 0)
    assert spark.read.parquet(store + "/admitted").count() == n_before


def test_heavy_hitters_stream_spacesaving_guarantees(spark, tmp_path):
    """Sharded space-saving over a 4-batch replay of the events fixture:
    (1) every emitted entry bounds its key's true count within
    [cnt_hi - err, cnt_hi]; (2) no false negatives — every key with
    true count > ceil(shard_len / capacity) appears in its shard's
    final table; (3) state stays bounded: <= capacity rows per shard."""
    import math

    from pubsub_mapreduce_spark.io import load_tables
    from pubsub_mapreduce_spark.streaming.pipeline import heavy_hitters_stream
    from tests.conftest import SF_SMALL

    capacity, n_shards = 16, 4
    events = load_tables(spark, SF_SMALL)["events"].select("event_id", "user_id")
    rows = sorted(events.collect(), key=lambda r: r["event_id"])
    d = tmp_path / "hh_replay"
    d.mkdir()
    chunk = (len(rows) + 3) // 4
    for i in range(4):
        spark.createDataFrame(
            rows[i * chunk : (i + 1) * chunk], events.schema
        ).coalesce(1).write.mode("overwrite").parquet(str(d / f"f{i}"))
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d) + "/f*")
    )
    q = (
        heavy_hitters_stream(stream, capacity=capacity, n_shards=n_shards)
        .writeStream.format("memory")
        .queryName("hh_stream_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    q.stop()
    out = spark.sql("select * from hh_stream_t").collect()
    # latest snapshot per shard
    last_seq: dict = {}
    for r in out:
        last_seq[r["shard"]] = max(last_seq.get(r["shard"], 0), r["seq"])
    final = [r for r in out if r["seq"] == last_seq[r["shard"]]]
    # exact truth + shard assignment computed with the same engine hash
    truth = {
        (r["shard"], r["k"]): r["cnt"]
        for r in spark.sql(
            f"""select pmod(xxhash64(user_id), {n_shards}) as shard,
                       cast(user_id as long) as k, count(*) as cnt
                from parquet.`{d}/f*` group by 1, 2"""
        ).collect()
    }
    shard_len: dict = {}
    for (sh, _k), c in truth.items():
        shard_len[sh] = shard_len.get(sh, 0) + c
    per_shard: dict = {}
    for r in final:
        per_shard.setdefault(r["shard"], set()).add(r["key"])
        exact = truth[(r["shard"], r["key"])]
        assert r["cnt_hi"] - r["err"] <= exact <= r["cnt_hi"], r
    for sh, keys in per_shard.items():
        assert len(keys) <= capacity
        thr = math.ceil(shard_len[sh] / capacity)
        missed = {
            k
            for (s, k), c in truth.items()
            if s == sh and c > thr and k not in keys
        }
        assert not missed, (sh, thr, missed)


def test_cms_maintain_stream_equals_batch(spark, tmp_path):
    """Streaming CMS maintenance over a 4-batch replay must converge to
    EXACTLY the batch-built sketch over the whole fixture (cell-wise
    merge is lossless), and a replayed batch must be a no-op (ledger
    effectively-once)."""
    from pubsub_mapreduce_spark.io import load_tables
    from pubsub_mapreduce_spark.operators.sketches import cms_build
    from pubsub_mapreduce_spark.streaming.sketch_maintain import (
        CmsMaintain,
        start_cms_maintain,
    )
    from tests.conftest import SF_SMALL

    events = load_tables(spark, SF_SMALL)["events"].select("event_id", "user_id")
    rows = sorted(events.collect(), key=lambda r: r["event_id"])
    d = tmp_path / "cms_replay"
    d.mkdir()
    chunk = (len(rows) + 3) // 4
    for i in range(4):
        spark.createDataFrame(
            rows[i * chunk : (i + 1) * chunk], events.schema
        ).coalesce(1).write.mode("overwrite").parquet(str(d / f"f{i}"))
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d) + "/f*")
    )
    store = str(tmp_path / "cms_store")
    q = start_cms_maintain(stream, store, str(tmp_path / "cms_ckpt"))
    assert q.awaitTermination(180)
    q.stop()
    from pubsub_mapreduce_spark.streaming.store import store_read

    got = {
        (r["d"], r["cell"]): r["cnt"]
        for r in store_read(spark, store + "/cells").collect()
    }
    want = {
        (r["d"], r["cell"]): r["cnt"] for r in cms_build(events, "user_id").collect()
    }
    assert got == want
    # replayed batch: ledger makes it a no-op
    handler = CmsMaintain(store)
    handler(spark.createDataFrame(rows[:chunk], events.schema), 0)
    after = {
        (r["d"], r["cell"]): r["cnt"]
        for r in store_read(spark, store + "/cells").collect()
    }
    assert after == want


def test_vector_search_stream_equals_batch(spark, tmp_path):
    """Streaming IVF+PQ search over a 2-batch query replay must equal
    the batch operator row-for-row on the same query set (shared
    ivfpq_search kernel), and a replayed batch must not duplicate
    results (ledger)."""
    from pubsub_mapreduce_spark.io import load_tables
    from pubsub_mapreduce_spark.operators.similarity import ann_ivfpq_topk
    from pubsub_mapreduce_spark.streaming.vector_search import (
        start_vector_search,
    )
    from tests.conftest import SF_SMALL

    emb = load_tables(spark, SF_SMALL)["embeddings"]
    queries = (
        emb.where(F.col("vec_id") % 50 == 0)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").cast("array<double>").alias("q_emb"),
        )
        .collect()
    )
    d = tmp_path / "vs_replay"
    d.mkdir()
    half = (len(queries) + 1) // 2
    schema = "query_id long, q_emb array<double>"
    for i, chunk in enumerate([queries[:half], queries[half:]]):
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(d / f"f{i}"))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d) + "/f*")
    )
    out = str(tmp_path / "vs_out")
    q = start_vector_search(stream, emb, out, str(tmp_path / "vs_ckpt"))
    assert q.awaitTermination(240)
    q.stop()
    got = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["adist"])
        for r in spark.read.parquet(out + "/results").collect()
    }
    want = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["adist"])
        for r in ann_ivfpq_topk(emb).collect()
    }
    assert got == want
    n_rows = spark.read.parquet(out + "/results").count()
    assert n_rows == len(want)  # ledger kept replays out


def test_ema_stream_matches_batch_fold(spark, tmp_path):
    """Streaming EMA over a 4-batch ordered replay: the final per-user
    snapshot must equal the batch sorted-fold exactly (same integer
    arithmetic, O(1) state vs whole-history fold)."""
    from pubsub_mapreduce_spark.io import load_tables
    from pubsub_mapreduce_spark.operators.robust import user_value_ema
    from pubsub_mapreduce_spark.streaming.pipeline import ema_stream
    from tests.conftest import SF_SMALL

    events = load_tables(spark, SF_SMALL)["events"].select(
        "event_id", "ts", "user_id", "value"
    )
    rows = sorted(events.collect(), key=lambda r: (r["ts"], r["event_id"]))
    d = tmp_path / "ema_replay"
    d.mkdir()
    chunk = (len(rows) + 3) // 4
    for i in range(4):
        spark.createDataFrame(
            rows[i * chunk : (i + 1) * chunk], events.schema
        ).coalesce(1).write.mode("overwrite").parquet(str(d / f"f{i}"))
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d) + "/f*")
    )
    q = (
        ema_stream(stream)
        .writeStream.format("memory")
        .queryName("ema_stream_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    q.stop()
    out = spark.sql("select * from ema_stream_t").collect()
    latest: dict = {}
    for r in out:  # keep the snapshot with the highest n per user
        if r["user_id"] not in latest or r["n_events"] > latest[r["user_id"]]["n_events"]:
            latest[r["user_id"]] = r
    got = {
        u: (r["ema_cents"], r["last_cents"], r["n_events"])
        for u, r in latest.items()
    }
    want = {
        r["user_id"]: (r["ema_cents"], r["last_cents"], r["n_events"])
        for r in user_value_ema(events).collect()
    }
    assert got == want


def test_cusum_stream_matches_batch_fold(spark, tmp_path):
    """Streaming tabular CUSUM over a 4-batch ordered replay: final
    per-user (S+, S-, n, alarms) must equal the batch sorted fold
    exactly (robust.user_cusum_target)."""
    from pubsub_mapreduce_spark.io import load_tables
    from pubsub_mapreduce_spark.operators.robust import user_cusum_target
    from pubsub_mapreduce_spark.streaming.pipeline import cusum_stream
    from tests.conftest import SF_SMALL

    events = load_tables(spark, SF_SMALL)["events"].select(
        "event_id", "ts", "user_id", "value"
    )
    rows = sorted(events.collect(), key=lambda r: (r["ts"], r["event_id"]))
    d = tmp_path / "cusum_replay"
    d.mkdir()
    chunk = (len(rows) + 3) // 4
    for i in range(4):
        spark.createDataFrame(
            rows[i * chunk : (i + 1) * chunk], events.schema
        ).coalesce(1).write.mode("overwrite").parquet(str(d / f"f{i}"))
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d) + "/f*")
    )
    q = (
        cusum_stream(stream)
        .writeStream.format("memory")
        .queryName("cusum_stream_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    q.stop()
    out = spark.sql("select * from cusum_stream_t").collect()
    latest: dict = {}
    for r in out:
        if (
            r["user_id"] not in latest
            or r["n_events"] > latest[r["user_id"]]["n_events"]
        ):
            latest[r["user_id"]] = r
    got = {
        u: (r["cusum_pos"], r["cusum_neg"], r["n_events"], r["n_alarms"])
        for u, r in latest.items()
    }
    want = {
        r["user_id"]: (
            r["cusum_pos"],
            r["cusum_neg"],
            r["n_events"],
            r["n_alarms"],
        )
        for r in user_cusum_target(
            load_tables(spark, SF_SMALL)["events"]
        ).collect()
    }
    assert got == want


def test_dsir_stream_matches_batch_scores(spark, tmp_path):
    """Streaming DSIR ingest scoring over a 2-batch document replay
    must equal the batch dsir_score of the union against the same
    stored model (shared kernel), and a replay must not duplicate
    rows (ledger)."""
    from pubsub_mapreduce_spark.io import load_tables
    from pubsub_mapreduce_spark.operators.sampling import dsir_model, dsir_score
    from pubsub_mapreduce_spark.streaming.dsir_score import score_stream
    from tests.conftest import SF_SMALL

    docs = load_tables(spark, SF_SMALL)["documents"]
    reference = docs.where(F.col("doc_id") % 2 == 0)
    incoming = docs.where(F.col("doc_id") % 2 == 1).select(
        "doc_id", "text", "lang"
    )
    d = tmp_path / "dsir_replay"
    d.mkdir()
    rows = incoming.collect()
    half = (len(rows) + 1) // 2
    schema = "doc_id long, text string, lang string"
    for i, chunk in enumerate([rows[:half], rows[half:]]):
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(d / f"f{i}"))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d) + "/f*")
    )
    out = str(tmp_path / "dsir_out")
    q = score_stream(stream, reference, out, str(tmp_path / "dsir_ckpt"))
    assert q.awaitTermination(240)
    q.stop()
    got = {
        r["doc_id"]: (r["n_toks"], r["importance"])
        for r in spark.read.parquet(out + "/scores").collect()
    }
    want = {
        r["doc_id"]: (r["n_toks"], r["importance"])
        for r in dsir_score(incoming, dsir_model(reference)).collect()
    }
    assert got == want and len(got) > 0


def test_hll_maintain_stream_equals_batch(spark, tmp_path):
    """Streaming HLL maintenance over a 4-batch replay must converge to
    the SAME estimates as one sketch built over the whole fixture (HLL
    registers are per-bucket maxima — union is exact regardless of
    batching), and a replayed batch must be a no-op (ledger)."""
    from pubsub_mapreduce_spark.io import load_tables
    from pubsub_mapreduce_spark.streaming.hll_maintain import (
        HllMaintain,
        estimates,
        start_hll_maintain,
    )
    from tests.conftest import SF_SMALL

    events = load_tables(spark, SF_SMALL)["events"].select(
        "event_id", "user_id", "event_type"
    )
    rows = sorted(events.collect(), key=lambda r: r["event_id"])
    d = tmp_path / "hll_replay"
    d.mkdir()
    chunk = (len(rows) + 3) // 4
    for i in range(4):
        spark.createDataFrame(
            rows[i * chunk : (i + 1) * chunk], events.schema
        ).coalesce(1).write.mode("overwrite").parquet(str(d / f"f{i}"))
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d) + "/f*")
    )
    store = str(tmp_path / "hll_store")
    q = start_hll_maintain(stream, store, str(tmp_path / "hll_ckpt"))
    assert q.awaitTermination(180)
    q.stop()
    got = {
        r["event_type"]: r["approx_distinct"]
        for r in estimates(spark, store).collect()
    }
    want = {
        r["event_type"]: r["approx_distinct"]
        for r in events.groupBy("event_type")
        .agg(
            F.hll_sketch_estimate(
                F.hll_sketch_agg("user_id", F.lit(12))
            ).alias("approx_distinct")
        )
        .collect()
    }
    assert got == want
    # replayed batch: ledger makes it a no-op
    HllMaintain(store)(spark.createDataFrame(rows[:chunk], events.schema), 0)
    after = {
        r["event_type"]: r["approx_distinct"]
        for r in estimates(spark, store).collect()
    }
    assert after == want


def test_histogram_maintain_stream_equals_batch(spark, tmp_path):
    """Streaming histogram maintenance over a 4-batch replay must be
    BIT-EQUAL to the one-pass batch bucket counts (integer adds merge
    exactly, the strongest member of the maintain family), the stored
    table must answer the lower-median query, and a replayed batch
    must be a no-op (ledger)."""
    from pubsub_mapreduce_spark.io import load_tables
    from pubsub_mapreduce_spark.streaming.histogram_maintain import (
        HistogramMaintain,
        histogram,
        quantile_estimates,
        start_histogram_maintain,
    )
    from tests.conftest import SF_SMALL

    events = load_tables(spark, SF_SMALL)["events"].select(
        "event_id", "event_type", "value"
    )
    rows = sorted(events.collect(), key=lambda r: r["event_id"])
    d = tmp_path / "hist_replay"
    d.mkdir()
    chunk = (len(rows) + 3) // 4
    for i in range(4):
        spark.createDataFrame(
            rows[i * chunk : (i + 1) * chunk], events.schema
        ).coalesce(1).write.mode("overwrite").parquet(str(d / f"f{i}"))
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d) + "/f*")
    )
    store = str(tmp_path / "hist_store")
    q = start_histogram_maintain(stream, store, str(tmp_path / "hist_ckpt"))
    assert q.awaitTermination(180)
    q.stop()
    got = {
        (r["g"], r["bucket"]): r["cnt"]
        for r in histogram(spark, store).collect()
    }
    cents = F.round(F.col("value") * 100).cast("long")
    want = {
        (r["g"], r["bucket"]): r["cnt"]
        for r in events.select(
            F.col("event_type").alias("g"),
            ((cents - cents % 100) / 100).cast("long").alias("bucket"),
        )
        .groupBy("g", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .collect()
    }
    assert got == want and len(got) > 1
    # the stored table answers the median query per group
    med = {
        r["g"]: r["quantile_bucket"]
        for r in quantile_estimates(spark, store).collect()
    }
    assert set(med) == {g for g, _ in got}
    # replayed batch: ledger makes it a no-op
    HistogramMaintain(store)(
        spark.createDataFrame(rows[:chunk], events.schema), 0
    )
    after = {
        (r["g"], r["bucket"]): r["cnt"]
        for r in histogram(spark, store).collect()
    }
    assert after == got


def test_histogram_drift_alarms_from_store(spark, tmp_path):
    """Maintain a store from the fixture, then compare: against its own
    batch histogram the TV distance is exactly 0 (bit-equal merge) and
    no alarm fires; against a baseline shifted beyond the whole
    bucket range every group alarms at TV 1.0 (disjoint supports)."""
    from pubsub_mapreduce_spark.io import load_tables
    from pubsub_mapreduce_spark.streaming.histogram_maintain import (
        HistogramMaintain,
        drift_alarms,
        histogram,
    )
    from tests.conftest import SF_SMALL

    events = load_tables(spark, SF_SMALL)["events"].select(
        "event_type", "value"
    )
    store = str(tmp_path / "drift_store")
    HistogramMaintain(store)(events, 0)
    base = histogram(spark, store)
    same = drift_alarms(spark, store, base).collect()
    assert same and all(r["tv"] == 0.0 and not r["alarm"] for r in same)
    shifted = base.select(
        "g", (F.col("bucket") + 1000).alias("bucket"), "cnt"
    )
    moved = drift_alarms(spark, store, shifted).collect()
    assert moved and all(r["tv"] == 1.0 and r["alarm"] for r in moved)


def test_wau_estimates_from_day_sketches(spark, tmp_path):
    """Maintain day-keyed user HLLs over a 4-batch replay, then read
    trailing-7-day WAU estimates: every day's estimate must land
    within 5% of the exact rolling WAU (lg_k=12 sketches), report days
    must match the exact op's spine exactly, and batching must not
    matter (union is register-lossless)."""
    from pubsub_mapreduce_spark.io import load_tables
    from pubsub_mapreduce_spark.operators.relational import rolling_wau
    from pubsub_mapreduce_spark.streaming.hll_maintain import (
        start_hll_maintain,
        wau_estimates,
    )
    from tests.conftest import SF_SMALL

    events = (
        load_tables(spark, SF_SMALL)["events"]
        .select(
            "event_id",
            "user_id",
            F.to_date("ts").cast("string").alias("day"),
        )
    )
    rows = sorted(events.collect(), key=lambda r: r["event_id"])
    d = tmp_path / "wau_replay"
    d.mkdir()
    chunk = (len(rows) + 3) // 4
    for i in range(4):
        spark.createDataFrame(
            rows[i * chunk : (i + 1) * chunk], events.schema
        ).coalesce(1).write.mode("overwrite").parquet(str(d / f"f{i}"))
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d) + "/f*")
    )
    store = str(tmp_path / "wau_store")
    q = start_hll_maintain(
        stream, store, str(tmp_path / "wau_ckpt"), group="day"
    )
    assert q.awaitTermination(180)
    q.stop()
    est = {
        r["day"]: r["wau_est"]
        for r in wau_estimates(spark, store).collect()
    }
    exact = {
        r["day"]: r["wau"]
        for r in rolling_wau(
            {"events": load_tables(spark, SF_SMALL)["events"]}
        ).collect()
    }
    assert set(est) == set(exact)
    for day, w in exact.items():
        assert abs(est[day] - w) <= max(2.0, 0.05 * w), (day, est[day], w)


def test_topk_maintain_space_saving_guarantees(spark, tmp_path):
    """Space-Saving top-k maintained over a 4-batch replay must honor
    its deterministic guarantees against exact batch counts:
    cnt - err <= true <= cnt for every reported key, every key with
    true frequency > N/K is reported, and a replayed batch is a no-op
    (ledger effectively-once)."""
    from pubsub_mapreduce_spark.io import load_tables
    from pubsub_mapreduce_spark.streaming.topk_maintain import (
        TopKMaintain,
        start_topk_maintain,
        topk,
    )
    from tests.conftest import SF_SMALL

    K = 8
    events = load_tables(spark, SF_SMALL)["events"].select(
        "event_id", "event_type", "user_id"
    )
    rows = sorted(events.collect(), key=lambda r: r["event_id"])
    d = tmp_path / "tk_replay"
    d.mkdir()
    chunk = (len(rows) + 3) // 4
    for i in range(4):
        spark.createDataFrame(
            rows[i * chunk : (i + 1) * chunk], events.schema
        ).coalesce(1).write.mode("overwrite").parquet(str(d / f"f{i}"))
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d) + "/f*")
    )
    store = str(tmp_path / "tk_store")
    q = start_topk_maintain(stream, store, str(tmp_path / "tk_ckpt"), k=K)
    assert q.awaitTermination(180)
    q.stop()

    exact = {
        (r["event_type"], str(r["user_id"])): r["n"]
        for r in events.groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    totals = {}
    for (g, _), n in exact.items():
        totals[g] = totals.get(g, 0) + n
    got = topk(spark, store).collect()
    assert got, "summary must not be empty"
    per_group = {}
    for r in got:
        per_group.setdefault(r["group"], set()).add(r["key"])
        true = exact.get((r["group"], r["key"]), 0)
        assert r["cnt_lo"] <= true <= r["cnt"], (r, true)
    for g, n_total in totals.items():
        assert len(per_group.get(g, ())) <= K
        for (gg, k), n in exact.items():
            if gg == g and n > n_total / K:
                assert k in per_group[g], (g, k, n, n_total)

    # replayed batch: ledger makes it a no-op
    before = sorted(map(tuple, got))
    handler = TopKMaintain(store, k=K)
    handler(spark.createDataFrame(rows[:chunk], events.schema), 0)
    assert sorted(map(tuple, topk(spark, store).collect())) == before


def test_topk_maintain_min_monotone_and_capacity(spark, tmp_path):
    """Adversarial small-K merge: keys dropped at a cut re-enter at
    delta + m (m = group min at entry) so their reported count can
    only OVERestimate; the summary never exceeds K rows per group."""
    from pubsub_mapreduce_spark.streaming.topk_maintain import (
        TopKMaintain,
        topk,
    )

    K = 2
    store = str(tmp_path / "tk2")
    handler = TopKMaintain(store, key="k", group="g", k=K)
    schema = "g string, k string"
    # batch 0: a x3, b x2, c x1 -> keep (a,3)(b,2); c dropped
    handler(
        spark.createDataFrame(
            [("x", "a")] * 3 + [("x", "b")] * 2 + [("x", "c")], schema
        ),
        0,
    )
    # batch 1: c x4 -> c enters at 4 + m(=2), evicting b
    handler(spark.createDataFrame([("x", "c")] * 4, schema), 1)
    got = {r["key"]: (r["cnt"], r["cnt_lo"]) for r in topk(spark, store).collect()}
    assert set(got) == {"a", "c"}
    assert got["c"][0] == 6 and got["c"][1] == 4  # err records the absorbed 2
    assert got["c"][0] >= 5 >= got["c"][1]  # true total c = 5 inside bounds
    assert got["a"] == (3, 3)


def test_attribution_join_stream_equals_batch(spark, tmp_path):
    """Watermarked stream-stream interval join over a 3-file replay of
    each side must emit EXACTLY the batch join's pairs (all data is
    inside the watermark horizon under availableNow)."""
    from pubsub_mapreduce_spark.io import load_tables
    from pubsub_mapreduce_spark.streaming.attribution_join import (
        attribution_join,
        start_attribution_join,
    )
    from tests.conftest import SF_SMALL

    ev = load_tables(spark, SF_SMALL)["events"].select(
        "event_id", "user_id", "ts", "event_type"
    )
    clicks = ev.where(F.col("event_type") == "click").drop("event_type")
    purchases = ev.where(F.col("event_type") == "purchase").drop(
        "event_type"
    )
    d = tmp_path / "attr"
    for name, df in (("c", clicks), ("p", purchases)):
        rows = sorted(df.collect(), key=lambda r: r["event_id"])
        chunk = (len(rows) + 2) // 3
        for i in range(3):
            (d / name).mkdir(parents=True, exist_ok=True)
            spark.createDataFrame(
                rows[i * chunk : (i + 1) * chunk], df.schema
            ).coalesce(1).write.mode("overwrite").parquet(
                str(d / name / f"f{i}")
            )
    cs = (
        spark.readStream.schema(clicks.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d / "c") + "/f*")
    )
    ps = (
        spark.readStream.schema(purchases.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d / "p") + "/f*")
    )
    out_dir = str(tmp_path / "attr_out")
    # watermark wider than the fixture's 30-day span: no state eviction
    # can fire mid-replay, so the equality pin is deterministic (the
    # production default trades completeness for bounded state).
    q = start_attribution_join(
        cs, ps, out_dir, str(tmp_path / "attr_ckpt"),
        window_s=3600, watermark="40 days",
    )
    assert q.awaitTermination(180)
    q.stop()
    got = {
        (r["purchase_id"], r["click_id"])
        for r in spark.read.parquet(out_dir).collect()
    }
    want = {
        (r["purchase_id"], r["click_id"])
        for r in attribution_join(clicks, purchases, 3600).collect()
    }
    assert got == want and want, "stream result must equal batch join"


def test_topk_maintain_state_bounded_at_scale(spark, tmp_path):
    """10x-scale state bound (VERDICT r4 #5): 200k rows across 5k
    distinct keys and 4 groups must leave AT MOST |groups| x K rows in
    the store after EVERY batch, and planted heavy hitters (> N/K of
    their group) must survive the churn."""
    from pubsub_mapreduce_spark.streaming.topk_maintain import (
        TopKMaintain,
        topk,
    )

    K = 8
    store = str(tmp_path / "tk_scale")
    handler = TopKMaintain(store, key="k", group="g", k=K)
    # deterministic synthetic batches: per batch, 50k tail rows spread
    # over 5k keys + a planted hot key per group with ~20% of the mass
    n_batches, tail_n, hot_n = 4, 12_500, 3_500
    groups = ["g0", "g1", "g2", "g3"]
    for b in range(n_batches):
        rows = (
            spark.range(tail_n * len(groups))
            .select(
                F.concat(F.lit("g"), (F.col("id") % 4).cast("string")).alias("g"),
                F.concat(
                    F.lit("k"),
                    F.pmod(F.xxhash64("id", F.lit(b)), 5000).cast("string"),
                ).alias("k"),
            )
            .unionAll(
                spark.range(hot_n * len(groups)).select(
                    F.concat(
                        F.lit("g"), (F.col("id") % 4).cast("string")
                    ).alias("g"),
                    F.concat(
                        F.lit("hot"), (F.col("id") % 4).cast("string")
                    ).alias("k"),
                )
            )
        )
        handler(rows, b)
        state = topk(spark, store).collect()
        per_group = {}
        for r in state:
            per_group[r["group"]] = per_group.get(r["group"], 0) + 1
        assert all(c <= K for c in per_group.values()), per_group
        assert len(state) <= len(groups) * K
    # hot keys carry ~22% of each group's mass (>> N/K = 12.5%): the
    # Space-Saving guarantee says they MUST be in the summary
    final = topk(spark, store).collect()
    keys_by_group = {}
    for r in final:
        keys_by_group.setdefault(r["group"], set()).add(r["key"])
    for i, g in enumerate(groups):
        assert f"hot{i}" in keys_by_group[g], (g, keys_by_group[g])
        # overcount-only bound: reported cnt >= true count
        hot = [r for r in final if r["group"] == g and r["key"] == f"hot{i}"][0]
        assert hot["cnt"] >= n_batches * hot_n
        assert hot["cnt_lo"] <= n_batches * hot_n


def test_attribution_join_state_evicted_past_watermark(spark, tmp_path):
    """The range condition must BOUND the stream-stream join state: two
    event waves 30 days apart (window 1h, watermark 10min) — after the
    late wave's watermark passes, wave-1 state is evicted, so the final
    state row count tracks the horizon, not history."""
    import datetime

    from pubsub_mapreduce_spark.streaming.attribution_join import (
        start_attribution_join,
    )

    base = datetime.datetime(2024, 1, 1)
    waves = [
        (base, 1000),
        (base + datetime.timedelta(days=30), 100),
        (base + datetime.timedelta(days=60), 10),
    ]
    d = tmp_path / "attr_scale"
    schema = "event_id long, user_id long, ts timestamp"
    eid = 0
    for i, (t0, n) in enumerate(waves):
        for name in ("c", "p"):
            rows = []
            for j in range(n):
                rows.append(
                    (eid, j % 50, t0 + datetime.timedelta(seconds=j % 1800))
                )
                eid += 1
            (d / name).mkdir(parents=True, exist_ok=True)
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "overwrite"
            ).parquet(str(d / name / f"f{i}"))
    cs = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d / "c") + "/f*")
    )
    ps = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d / "p") + "/f*")
    )
    q = start_attribution_join(
        cs, ps, str(tmp_path / "attr_s_out"), str(tmp_path / "attr_s_ckpt"),
        window_s=3600, watermark="10 minutes",
    )
    assert q.awaitTermination(180)
    prog = [p for p in q.recentProgress if p.get("stateOperators")]
    q.stop()
    assert prog, "no state metrics captured"
    last = prog[-1]["stateOperators"][0]
    total_rows = 2 * sum(n for _, n in waves)
    # without eviction the join would buffer every row of both sides
    # (~2220); with the watermark bound only the newest wave's horizon
    # survives. Generous margin: well under half of history.
    assert last["numRowsTotal"] < total_rows / 2, last["numRowsTotal"]
    # and rows really were REMOVED by the watermark, not never-added
    removed = sum(
        p["stateOperators"][0].get("numRowsRemoved", 0) for p in prog
    )
    assert removed > 0


def test_session_agg_stream_equals_batch(spark, tmp_path):
    """Native session_window streaming aggregation: a 3-file replay
    plus a watermark-pushing sentinel must emit EXACTLY the batch
    sessionization of the real events (append mode finalizes a session
    once the watermark passes its end; the sentinel, a lone far-future
    event, closes every real session and is itself never emitted)."""
    import datetime

    from pubsub_mapreduce_spark.io import load_tables
    from pubsub_mapreduce_spark.streaming.session_agg import (
        session_stats,
        start_session_agg,
    )
    from tests.conftest import SF_SMALL

    ev = load_tables(spark, SF_SMALL)["events"].select(
        "event_id", "user_id", "ts", "value"
    )
    rows = sorted(ev.collect(), key=lambda r: r["event_id"])
    max_ts = max(r["ts"] for r in rows)
    d = tmp_path / "sess"
    d.mkdir()
    chunk = (len(rows) + 2) // 3
    for i in range(3):
        spark.createDataFrame(
            rows[i * chunk : (i + 1) * chunk], ev.schema
        ).coalesce(1).write.parquet(str(d / f"f{i}"))
    sentinel_user = 10**9
    spark.createDataFrame(
        [(10**9, sentinel_user, max_ts + datetime.timedelta(days=365), 0.0)],
        ev.schema,
    ).coalesce(1).write.parquet(str(d / "f3"))
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d) + "/f*")
    )
    out_dir = str(tmp_path / "sess_out")
    q = start_session_agg(
        stream, out_dir, str(tmp_path / "sess_ckpt"),
        gap="30 minutes", watermark="10 minutes",
    )
    assert q.awaitTermination(180)
    q.stop()
    got = {
        (
            r["user_id"],
            r["session_start_s"],
            r["session_end_s"],
            r["n_events"],
            r["session_value"],
        )
        for r in spark.read.parquet(out_dir).collect()
        if r["user_id"] != sentinel_user
    }
    want = {
        (
            r["user_id"],
            r["session_start_s"],
            r["session_end_s"],
            r["n_events"],
            r["session_value"],
        )
        for r in session_stats(ev).collect()
    }
    assert got == want and want, (len(got), len(want))


def test_session_agg_late_event_cannot_reopen_closed_session(spark, tmp_path):
    """Append-mode finalize-once contract: an event arriving AFTER the
    watermark passed its session's end must not re-emit or mutate the
    already-written session row (it is dropped as too-late state)."""
    import datetime

    from pubsub_mapreduce_spark.streaming.session_agg import (
        start_session_agg,
    )

    base = datetime.datetime(2024, 3, 1, 12, 0, 0)
    schema = "event_id long, user_id long, ts timestamp, value double"
    d = tmp_path / "late"
    d.mkdir()
    # f0: a 2-event session for user 7
    spark.createDataFrame(
        [(0, 7, base, 1.0), (1, 7, base + datetime.timedelta(minutes=5), 2.0)],
        schema,
    ).coalesce(1).write.parquet(str(d / "f0"))
    # f1 + f2: watermark pushers (other user). TWO of them because the
    # operative watermark lags one micro-batch — a late row landing in
    # the very batch that closes its window still merges (documented
    # gotcha); the guarantee is for windows closed BEFORE the batch.
    spark.createDataFrame(
        [(2, 99, base + datetime.timedelta(days=10), 0.0)], schema
    ).coalesce(1).write.parquet(str(d / "f1"))
    spark.createDataFrame(
        [(3, 99, base + datetime.timedelta(days=11), 0.0)], schema
    ).coalesce(1).write.parquet(str(d / "f2"))
    # f3: a LATE event that would have extended user 7's session
    spark.createDataFrame(
        [(4, 7, base + datetime.timedelta(minutes=10), 100.0)], schema
    ).coalesce(1).write.parquet(str(d / "f3"))
    # f4: final pusher so any (wrongly) accepted late state flushes
    spark.createDataFrame(
        [(5, 99, base + datetime.timedelta(days=20), 0.0)], schema
    ).coalesce(1).write.parquet(str(d / "f4"))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d) + "/f*")
    )
    out_dir = str(tmp_path / "late_out")
    q = start_session_agg(
        stream, out_dir, str(tmp_path / "late_ckpt"),
        gap="30 minutes", watermark="10 minutes",
    )
    assert q.awaitTermination(180)
    q.stop()
    rows = [
        r for r in spark.read.parquet(out_dir).collect() if r["user_id"] == 7
    ]
    # exactly ONE session for user 7, with only the two on-time events
    assert len(rows) == 1
    assert rows[0]["n_events"] == 2
    assert rows[0]["session_value"] == 3.0


def test_streak_maintain_stream_equals_batch(spark, tmp_path):
    """transformWithState streak tracker: a 3-file replay whose streaks
    BUILD ACROSS micro-batches must end at exactly the batch gaps-and-
    islands result (final emission per user == batch streak).

    Env-gated on protobuf availability: the transformWithState
    state-server protocol imports google.protobuf, which this
    container ships no wheel for — ``compat.ensure_protobuf()``
    resolves it from the Cloud SDK's pure-Python copy (see compat.py),
    under which this pin runs LIVE and bit-exact; where neither a
    wheel nor an SDK copy exists the test skips (TESTDATA.md). The
    batch twin runs unconditionally below."""
    import datetime

    from pubsub_mapreduce_spark.compat import ensure_protobuf

    ensure_protobuf()
    pytest.importorskip(
        "google.protobuf",
        reason="transformWithState needs protobuf; no wheel and no "
        "Cloud-SDK copy in this container",
    )

    from pubsub_mapreduce_spark.streaming.streak_maintain import (
        start_streak_maintain,
        streaks_batch,
    )

    base = datetime.datetime(2024, 5, 1, 12)
    day = datetime.timedelta(days=1)
    schema = "event_id long, user_id long, ts timestamp, event_type string"
    # user 1: days 0,1,2,4,5 (streak 2 ending day 5, built across files)
    # user 2: days 0, 2, 3, 4 (streak 3); user 3: day 1 only (streak 1)
    plan = {
        1: [0, 1, 2, 4, 5],
        2: [0, 2, 3, 4],
        3: [1],
    }
    rows = []
    eid = 0
    for u, ds in plan.items():
        for d in ds:
            rows.append((eid, u, base + d * day, "purchase")); eid += 1
            rows.append((eid, u, base + d * day, "view")); eid += 1
    rows.sort(key=lambda r: r[2])  # time order -> batches split mid-streak
    d3 = (len(rows) + 2) // 3
    d = tmp_path / "streak"
    d.mkdir()
    for i in range(3):
        spark.createDataFrame(
            rows[i * d3 : (i + 1) * d3], schema
        ).coalesce(1).write.parquet(str(d / f"f{i}"))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d) + "/f*")
    )
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        q = start_streak_maintain(
            stream, str(tmp_path / "streak_out"), str(tmp_path / "streak_ckpt")
        )
        assert q.awaitTermination(180)
        q.stop()
    finally:
        if prev is not None:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    import pyspark.sql.functions as SF

    emitted = spark.read.parquet(str(tmp_path / "streak_out"))
    final = {
        r["user_id"]: (r["streak"], r["last_day"])
        for r in emitted.withColumn(
            "rk",
            SF.row_number().over(
                __import__("pyspark.sql.window", fromlist=["Window"])
                .Window.partitionBy("user_id")
                .orderBy(SF.col("last_day").desc())
            ),
        )
        .where(SF.col("rk") == 1)
        .collect()
    }
    df = spark.createDataFrame(rows, schema)
    want = {
        r["user_id"]: (r["streak"], r["last_day"])
        for r in streaks_batch(df).collect()
    }
    assert final == want and len(want) == 3
    assert want[1][0] == 2 and want[2][0] == 3 and want[3][0] == 1


def test_streaks_batch_gaps_and_islands_semantics(spark):
    """The batch streak computation (registered as purchase_streaks)
    runs unconditionally even where the streaming twin is env-gated:
    same-day repeats don't extend, gaps reset, the reported streak is
    the island ending at the user's LATEST purchase day."""
    import datetime

    from pubsub_mapreduce_spark.streaming.streak_maintain import (
        streaks_batch,
    )

    base = datetime.datetime(2024, 5, 1, 12)
    day = datetime.timedelta(days=1)
    plan = {1: [0, 1, 2, 4, 5], 2: [0, 2, 3, 4], 3: [1, 1, 1]}
    rows, eid = [], 0
    for u, ds in plan.items():
        for d in ds:
            rows.append((eid, u, base + d * day, "purchase")); eid += 1
    rows.append((eid, 1, base, "view"))  # non-purchase never counts
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string"
    )
    got = {r["user_id"]: r["streak"] for r in streaks_batch(df).collect()}
    assert got == {1: 2, 2: 3, 3: 1}


def test_streak_processor_transitions_direct():
    """Direct execution of StreakProcessor.handleInputRows against a
    fake state handle — the state machine runs under pytest even where
    the transformWithState protocol is unavailable, and the monotone
    cross-batch fold is pinned: a later batch carrying a day at or
    before the stored last_day is SKIPPED (no backwards last_day, no
    spurious reset), extension and gap-reset still work."""
    import pandas as pd

    from pubsub_mapreduce_spark.streaming.streak_maintain import (
        StreakProcessor,
    )

    class FakeValueState:
        def __init__(self):
            self._v = None

        def exists(self):
            return self._v is not None

        def get(self):
            return self._v

        def update(self, v):
            self._v = tuple(v)

    def feed(proc, days):
        out = list(
            proc.handleInputRows(
                (1,), iter([pd.DataFrame({"day": days})]), None
            )
        )
        assert len(out) == 1
        row = out[0].iloc[0]
        return int(row["streak"]), int(row["last_day"])

    proc = StreakProcessor()
    proc._state = FakeValueState()
    # batch 1: days 10, 11 (out of order within batch -> sorted fold)
    assert feed(proc, [11, 10]) == (2, 11)
    # batch 2: duplicate day 11 + extension 12
    assert feed(proc, [11, 12]) == (3, 12)
    # batch 3: LATE day 9 only -> skipped entirely, state unchanged
    assert feed(proc, [9]) == (3, 12)
    # batch 4: late 9 mixed with extension 13 -> late skipped, 13 counts
    assert feed(proc, [9, 13]) == (4, 13)
    # batch 5: gap to 20 resets to 1
    assert feed(proc, [20]) == (1, 20)
    # empty batch emits nothing and leaves state intact
    assert (
        list(proc.handleInputRows((1,), iter([pd.DataFrame({"day": []})]), None))
        == []
    )
    assert proc._state.get() == (20, 1)


def test_rolling_spend_stream_equals_batch(spark, tmp_path):
    """transformWithState ListState maintainer: 3-file ordered replay of
    a purchase stream; each user's FINAL emission must equal the batch
    last-N window twin (sum + length + lifetime count)."""
    import datetime

    from pubsub_mapreduce_spark.compat import ensure_protobuf

    ensure_protobuf()
    pytest.importorskip(
        "google.protobuf",
        reason="transformWithState needs protobuf; no wheel and no "
        "Cloud-SDK copy in this container",
    )
    from pubsub_mapreduce_spark.streaming.feature_maintain import (
        rolling_spend_batch,
        rolling_spend_stream,
    )

    base = datetime.datetime(2024, 5, 1, 12)
    hour = datetime.timedelta(hours=1)
    schema = (
        "event_id long, user_id long, ts timestamp, event_type string,"
        " value double"
    )
    rows, eid = [], 0
    # user 1: 5 purchases (last-3 = 30+40+50), user 2: 2 (last-3 = both),
    # user 3: 1; interleaved views never count
    for u, vals in {1: [10, 20, 30, 40, 50], 2: [7, 9], 3: [5]}.items():
        for i, v in enumerate(vals):
            rows.append((eid, u, base + i * hour, "purchase", float(v)))
            eid += 1
            rows.append((eid, u, base + i * hour, "view", 99.0))
            eid += 1
    rows.sort(key=lambda r: (r[2], r[0]))
    d3 = (len(rows) + 2) // 3
    d = tmp_path / "roll"
    d.mkdir()
    for i in range(3):
        spark.createDataFrame(
            rows[i * d3 : (i + 1) * d3], schema
        ).coalesce(1).write.parquet(str(d / f"f{i}"))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d) + "/f*")
    )
    prev = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        q = (
            rolling_spend_stream(stream)
            .writeStream.format("parquet")
            .option("path", str(tmp_path / "roll_out"))
            .option("checkpointLocation", str(tmp_path / "roll_ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180)
        q.stop()
    finally:
        if prev is not None:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )
        else:
            spark.conf.unset(
                "spark.sql.streaming.stateStore.providerClass"
            )
    import pyspark.sql.functions as SF
    from pyspark.sql.window import Window

    emitted = spark.read.parquet(str(tmp_path / "roll_out"))
    final = {
        r["user_id"]: (r["n_purchases"], r["lastn_cents"], r["lastn_len"])
        for r in emitted.withColumn(
            "rk",
            SF.row_number().over(
                Window.partitionBy("user_id").orderBy(
                    SF.col("n_purchases").desc()
                )
            ),
        )
        .where(SF.col("rk") == 1)
        .collect()
    }
    df = spark.createDataFrame(rows, schema)
    want = {
        r["user_id"]: (r["n_purchases"], r["lastn_cents"], r["lastn_len"])
        for r in rolling_spend_batch(df).collect()
    }
    assert final == want and len(want) == 3
    assert want[1] == (5, 12000, 3)
    assert want[2] == (2, 1600, 2)
    assert want[3] == (1, 500, 1)


def test_favorite_type_stream_equals_batch(spark, tmp_path):
    """transformWithState MapState maintainer: per-user counter table
    built across 3 micro-batches; final argmax emission must equal the
    batch mode twin under the (count DESC, type ASC) tie-break."""
    import datetime

    from pubsub_mapreduce_spark.compat import ensure_protobuf

    ensure_protobuf()
    pytest.importorskip(
        "google.protobuf",
        reason="transformWithState needs protobuf; no wheel and no "
        "Cloud-SDK copy in this container",
    )
    from pubsub_mapreduce_spark.streaming.feature_maintain import (
        favorite_type_batch,
        favorite_type_stream,
    )

    base = datetime.datetime(2024, 6, 1)
    minute = datetime.timedelta(minutes=1)
    schema = "event_id long, user_id long, ts timestamp, event_type string"
    plan = {
        1: ["view", "view", "click", "purchase", "view"],  # fav view 3
        2: ["click", "purchase", "click", "purchase"],     # tie -> click
        3: ["error"],                                      # fav error 1
    }
    rows, eid = [], 0
    for u, types in plan.items():
        for i, t in enumerate(types):
            rows.append((eid, u, base + i * minute, t))
            eid += 1
    rows.sort(key=lambda r: (r[2], r[0]))
    d3 = (len(rows) + 2) // 3
    d = tmp_path / "fav"
    d.mkdir()
    for i in range(3):
        spark.createDataFrame(
            rows[i * d3 : (i + 1) * d3], schema
        ).coalesce(1).write.parquet(str(d / f"f{i}"))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d) + "/f*")
    )
    prev = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        q = (
            favorite_type_stream(stream)
            .writeStream.format("parquet")
            .option("path", str(tmp_path / "fav_out"))
            .option("checkpointLocation", str(tmp_path / "fav_ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180)
        q.stop()
    finally:
        if prev is not None:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )
        else:
            spark.conf.unset(
                "spark.sql.streaming.stateStore.providerClass"
            )
    import pyspark.sql.functions as SF
    from pyspark.sql.window import Window

    emitted = spark.read.parquet(str(tmp_path / "fav_out"))
    final = {
        r["user_id"]: (r["fav_type"], r["n_fav"], r["n_total"])
        for r in emitted.withColumn(
            "rk",
            SF.row_number().over(
                Window.partitionBy("user_id").orderBy(
                    SF.col("n_total").desc()
                )
            ),
        )
        .where(SF.col("rk") == 1)
        .collect()
    }
    df = spark.createDataFrame(rows, schema)
    want = {
        r["user_id"]: (r["fav_type"], r["n_fav"], r["n_total"])
        for r in favorite_type_batch(df).collect()
    }
    assert final == want and len(want) == 3
    assert want[1] == ("view", 3, 5)
    assert want[2] == ("click", 2, 4)  # 2-2 tie -> 'click' < 'purchase'
    assert want[3] == ("error", 1, 1)


def test_feature_processors_transitions_direct():
    """Direct execution of both new processors against fake state
    handles — ListState merge keeps the last N in (ts, eid) order
    across batches; MapState counters accumulate and the argmax
    tie-break matches the batch twin."""
    import pandas as pd

    from pubsub_mapreduce_spark.streaming.feature_maintain import (
        FavoriteTypeProcessor,
        RollingSpendProcessor,
    )

    class FakeValueState:
        def __init__(self):
            self._v = None

        def exists(self):
            return self._v is not None

        def get(self):
            return self._v

        def update(self, v):
            self._v = tuple(v)

    class FakeListState:
        def __init__(self):
            self._l = []

        def get(self):
            return iter(self._l)

        def put(self, l):
            self._l = [tuple(x) for x in l]

    class FakeMapState:
        def __init__(self):
            self._m = {}

        def containsKey(self, k):
            return tuple(k) in self._m

        def getValue(self, k):
            return self._m[tuple(k)]

        def updateValue(self, k, v):
            self._m[tuple(k)] = tuple(v)

        def iterator(self):
            return iter(self._m.items())

    rp = RollingSpendProcessor()
    rp._last, rp._count = FakeListState(), FakeValueState()

    def feed_roll(ts_eid_cents):
        out = list(
            rp.handleInputRows(
                (1,),
                iter(
                    [
                        pd.DataFrame(
                            ts_eid_cents,
                            columns=["ts_s", "eid", "cents"],
                        )
                    ]
                ),
                None,
            )
        )
        r = out[0].iloc[0]
        return (
            int(r["n_purchases"]),
            int(r["lastn_cents"]),
            int(r["lastn_len"]),
        )

    assert feed_roll([(10, 1, 100), (11, 2, 200)]) == (2, 300, 2)
    assert feed_roll([(12, 3, 300), (13, 4, 400)]) == (4, 900, 3)
    # same-second tie orders by eid: (14,6) after (14,5)
    assert feed_roll([(14, 6, 50), (14, 5, 10)]) == (6, 460, 3)

    fp = FavoriteTypeProcessor()
    fp._counts = FakeMapState()

    def feed_fav(types):
        out = list(
            fp.handleInputRows(
                (2,),
                iter([pd.DataFrame({"event_type": types})]),
                None,
            )
        )
        r = out[0].iloc[0]
        return (str(r["fav_type"]), int(r["n_fav"]), int(r["n_total"]))

    assert feed_fav(["view", "click"]) in {("click", 1, 2)}  # tie -> click
    assert feed_fav(["view", "view"]) == ("view", 3, 4)
    assert feed_fav(["click", "click", "purchase"]) == ("click", 3, 7)


def test_session_timer_stream_equals_batch(spark, tmp_path):
    """Event-time TIMERS (the fourth transformWithState primitive):
    gap-timeout sessionizer — intra-batch gaps emit immediately, the
    trailing open session per user closes from handleExpiredTimer when
    the watermark (pushed by a far-future sentinel) passes last+gap.
    Full closed-session set must equal the batch lag/gap-sum twin."""
    import datetime

    from pubsub_mapreduce_spark.compat import ensure_protobuf

    ensure_protobuf()
    pytest.importorskip(
        "google.protobuf",
        reason="transformWithState needs protobuf; no wheel and no "
        "Cloud-SDK copy in this container",
    )
    from pubsub_mapreduce_spark.streaming.session_timer_maintain import (
        sessions_batch,
        sessions_stream,
    )

    base = datetime.datetime(2024, 5, 1)
    m = datetime.timedelta(minutes=1)
    schema = "event_id long, user_id long, ts timestamp"
    rows, eid = [], 0
    # user 1: sessions of 3, 2, 1 events; user 2: three singletons
    for u, mins in {1: [0, 10, 20, 120, 125, 300], 2: [0, 60, 120]}.items():
        for mm in mins:
            rows.append((eid, u, base + mm * m))
            eid += 1
    rows.sort(key=lambda r: r[2])
    d = tmp_path / "sess"
    d.mkdir()
    d3 = (len(rows) + 2) // 3
    for i in range(3):
        chunk = rows[i * d3 : (i + 1) * d3]
        if i == 2:
            # sentinel pushes the final watermark past every close
            chunk = chunk + [
                (9999, 999, base + datetime.timedelta(days=10))
            ]
        spark.createDataFrame(chunk, schema).coalesce(1).write.parquet(
            str(d / f"f{i}")
        )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d) + "/f*")
    )
    prev = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        q = (
            sessions_stream(stream)
            .writeStream.format("parquet")
            .option("path", str(tmp_path / "sess_out"))
            .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180)
        q.stop()
    finally:
        if prev is not None:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )
        else:
            spark.conf.unset(
                "spark.sql.streaming.stateStore.providerClass"
            )
    import pyspark.sql.functions as SF

    emitted = spark.read.parquet(str(tmp_path / "sess_out")).where(
        SF.col("user_id") != 999
    )
    got = sorted(tuple(r) for r in emitted.collect())
    df = spark.createDataFrame(rows, schema)
    want = sorted(tuple(r) for r in sessions_batch(df).collect())
    assert got == want and len(want) == 6
    # session shape spot-checks: user 1 has a 3-event, a 2-event and a
    # trailing 1-event session (the trailing one ONLY a timer can close)
    by_user = {}
    for u, s, e, n in want:
        by_user.setdefault(u, []).append(n)
    assert sorted(by_user[1]) == [1, 2, 3]
    assert by_user[2] == [1, 1, 1]


def test_session_timer_processor_transitions_direct():
    """Direct execution of SessionTimerProcessor against fake state and
    timer handles: intra-batch gap emits immediately; the re-armed
    timer tracks the latest close boundary; a stale timer (expiry
    before last+gap) does NOT close a live session; the true-boundary
    expiry emits and clears."""
    import pandas as pd

    from pubsub_mapreduce_spark.streaming.session_timer_maintain import (
        GAP_MS,
        SessionTimerProcessor,
    )

    class FakeValueState:
        def __init__(self):
            self._v = None

        def exists(self):
            return self._v is not None

        def get(self):
            return self._v

        def update(self, v):
            self._v = tuple(v)

        def clear(self):
            self._v = None

    class FakeHandle:
        def __init__(self):
            self.timers = []

        def listTimers(self):
            return iter(list(self.timers))

        def deleteTimer(self, t):
            self.timers.remove(t)

        def registerTimer(self, t):
            self.timers.append(t)

    class FakeExpiry:
        def __init__(self, t):
            self._t = t

        def getExpiryTimeInMs(self):
            return self._t

    p = SessionTimerProcessor()
    p._handle, p._state = FakeHandle(), FakeValueState()

    def feed(ts_ms):
        return [
            tuple(int(x) for x in df.iloc[0][["start_ms", "end_ms", "n_events"]])
            for df in p.handleInputRows(
                (7,), iter([pd.DataFrame({"ts_ms": ts_ms})]), None
            )
        ]

    t0 = 1_000_000
    # one batch containing an intra-batch gap: first session emits NOW
    out = feed([t0, t0 + 60_000, t0 + GAP_MS + 120_000])
    assert out == [(t0, t0 + 60_000, 2)]
    assert p._handle.timers == [t0 + GAP_MS + 120_000 + GAP_MS]
    # stale expiry (before last+gap) must not close the live session
    assert list(
        p.handleExpiredTimer((7,), None, FakeExpiry(t0 + GAP_MS))
    ) == []
    assert p._state.exists()
    # true boundary closes and clears
    fired = list(
        p.handleExpiredTimer(
            (7,), None, FakeExpiry(t0 + GAP_MS + 120_000 + GAP_MS)
        )
    )
    assert len(fired) == 1
    r = fired[0].iloc[0]
    assert (int(r["start_ms"]), int(r["end_ms"]), int(r["n_events"])) == (
        t0 + GAP_MS + 120_000,
        t0 + GAP_MS + 120_000,
        1,
    )
    assert not p._state.exists()
