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
    rate_per_second_stream,
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


def subscribe_knobs(spark, path):
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
    stream = subscribe_knobs(spark, knob_dir)
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
    stream = subscribe_knobs(spark, knob_dir)
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
    stream = subscribe_knobs(spark, knob_dir)
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
    stream = subscribe_knobs(spark, knob_dir)
    msgs = fan_out_stream(snapshot_scale_stream(stream, delta=0.2), n="quota")
    per_sec = rate_per_second_stream(msgs)
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
    assert len(rates) == 8 * TOTAL_KNOBS  # 40 ticks x 200ms = 8 windows
    assert all(r["cnt"] == N_CONST for r in rates)


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

    stream = subscribe_knobs(spark, src)
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

    stream = subscribe_knobs(spark, src)
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
        count(subscribe_knobs(spark, src), window, watermark), None, mode
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
        windowed_count_stream(subscribe_knobs(spark, src)), None
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
    stream = subscribe_knobs(spark, knob_dir)
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
        stream = subscribe_knobs(spark, src)
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


def test_streaming_throughput_exceeds_local_baseline(spark, tmp_path):
    """BASELINE.md local sanity target: the reference sustains 10k
    msgs/sec on one machine (README.md:78). Our full T2->T3->T4 streaming
    replay over ~1M fanned messages must beat that with slack even on a
    contended box (generous floor: >= 10k msgs/sec end-to-end)."""
    import time as _time

    src = str(tmp_path / "tput_src")
    # 200 ticks x 5 knobs x quota 1000 = 1,000,000 messages after fan-out
    knob_batch(spark, n=5000, ticks=200, tick_ms=200).coalesce(4).write.parquet(src)

    stream = subscribe_knobs(spark, src)
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

    stream = subscribe_knobs(spark, src)
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
        subscribe_knobs(spark, src), window="100 milliseconds"
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


def test_streaks_batch_gaps_and_islands_semantics(spark):
    """The batch streak computation (registered as purchase_streaks):
    same-day repeats don't extend, gaps reset, the reported streak is
    the island ending at the user's LATEST purchase day."""
    import datetime

    from pubsub_mapreduce_spark.operators.relational import streaks_batch

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
