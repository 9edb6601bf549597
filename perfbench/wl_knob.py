"""knob_stream: the paper's topology fed by an open-loop generator.

A separate generator process publishes the knob messages of 5 knobs at
n = 200000 every 200 ms (1M fanned msgs/s) into a ``FileTopic``; Spark
runs parse_knob_messages -> snapshot_scale_stream -> fan_out_stream ->
windowed_count_stream(100 ms) in update mode into
``foreachBatch(DeviceConfigSink(push=recorder))``. Phase 1 drains a
pre-published backlog (throughput); phase 2 runs live, a few unmeasured
seconds and then the run length (latency from each tick's due time to the
sink's return).
"""

from __future__ import annotations

import base64
import json
import os
import subprocess
import sys
import time
from dataclasses import dataclass, field

import knobgen
from harness import HERE, Context, Result
from measure import (
    PHASES,
    batches_from_progress,
    median,
    nearest_rank,
    progress_metrics,
    window_to_tick,
)

BACKLOG_TICKS = 40  # 8 s of headline traffic: 8M fanned messages
DRAIN_ROUNDS = 2
WARMUP_TICKS = 20
WINDOW = "100 milliseconds"
WINDOW_S = 0.1
LIVE_LEAD_S = 0.3  # first live tick is due this long after the drain
# The live phase starts with this many seconds of ticks that are not
# measured: the first live micro-batches after the drains run measurably
# slower (still warming), and would otherwise set part of the latency.
LIVE_WARMUP_S = 4.0
QUOTA = int(knobgen.N * knobgen.DELTA)


def _start_generator(topic: str, seed: int, log: str) -> subprocess.Popen:
    """Start the generator process; it waits for its schedule on stdin."""
    return subprocess.Popen(
        [
            sys.executable,
            os.path.join(HERE, "knobgen.py"),
            "--topic", topic,
            "--seed", str(seed),
            "--log", log,
        ],
        stdin=subprocess.PIPE,
        text=True,
    )


@dataclass
class BatchRecord:
    batch_id: int
    returned: float  # epoch seconds the sink call returned
    call_s: float
    rows: list[tuple[float, int, int]]  # (window_start epoch s, id, cnt)
    pushed: bool


@dataclass
class SinkProbe:
    """The ``foreachBatch`` function: hands each micro-batch to the
    engine's ``DeviceConfigSink`` and records what reached it. The batch
    is persisted so the stateful plan runs once, for the recorded rows
    and the sink alike."""

    ctx: Context
    records: list[BatchRecord] = field(default_factory=list)
    payloads: list[tuple[int, str]] = field(default_factory=list)  # (batch id, payload)
    push_attempts: int = 0
    raised: int = 0

    def __post_init__(self) -> None:
        from pubsub_mapreduce_spark.streaming.sinks import DeviceConfigSink

        self.sink = DeviceConfigSink(push=self._push)
        self._batch = -1

    def _push(self, payload: str) -> None:
        self.push_attempts += 1
        self.payloads.append((self._batch, payload))

    def __call__(self, batch_df, batch_id: int) -> None:
        from pyspark.sql import functions as F

        batch_df.persist()
        try:
            rows = [
                (float(r[0]), int(r[1]), int(r[2]))
                for r in batch_df.select(
                    F.col("window_start").cast("double"), "id", "cnt"
                ).collect()
            ]
            self._batch = batch_id
            n_payloads = len(self.payloads)
            with self.ctx.tracer.span("sinks.DeviceConfigSink", op=f"batch-{batch_id}"):
                t = time.perf_counter()
                self.sink(batch_df, batch_id)
                call_s = time.perf_counter() - t
            returned = time.time()
        except Exception:
            self.raised += 1
            raise
        finally:
            batch_df.unpersist()
        self.records.append(
            BatchRecord(batch_id, returned, call_s, rows, len(self.payloads) > n_payloads)
        )


def _start_query(ctx: Context, topic_dir: str, checkpoint: str, probe: SinkProbe):
    from pubsub_mapreduce_spark.sources.knobs import parse_knob_messages
    from pubsub_mapreduce_spark.sources.topic import FileTopic
    from pubsub_mapreduce_spark.streaming.pipeline import (
        fan_out_stream,
        snapshot_scale_stream,
        windowed_count_stream,
    )

    tr = ctx.tracer
    with tr.span("sources.FileTopic.subscribe"):
        raw = FileTopic(topic_dir).subscribe(ctx.spark, "value string")
    with tr.span("sources.parse_knob_messages"):
        msgs = parse_knob_messages(raw)
    with tr.span("streaming.snapshot_scale_stream"):
        flood = snapshot_scale_stream(msgs, delta=knobgen.DELTA)
    with tr.span("streaming.fan_out_stream"):
        fanned = fan_out_stream(flood)
    with tr.span("streaming.windowed_count_stream"):
        counts = windowed_count_stream(fanned, window=WINDOW)
    return (
        counts.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint)
        .trigger(processingTime="200 milliseconds")
        .foreachBatch(probe)
        .start()
    )


def _t0(ticks: int) -> float:
    """Tick 0's due time when ``ticks`` ticks precede now: ticks sit
    mid-window, the last one due just before now."""
    now_w = int(time.time() / WINDOW_S) * WINDOW_S
    return now_w + WINDOW_S / 2 - ticks * knobgen.TICK_S


def _ticks(rows: list[tuple[float, int, int]], t0: float) -> set[int | None]:
    """The ticks a batch's result rows belong to."""
    return {window_to_tick(w, t0, knobgen.TICK_S, WINDOW_S) for w, _, _ in rows}


def _trace_batches(ctx: Context, batches) -> None:
    tr = ctx.tracer
    ids = {}
    for b in batches:
        end = b.start + b.durations_s.get("triggerExecution", 0.0)
        op = f"batch-{b.batch_id}"
        sid = tr.add("streaming.microbatch", b.start, end, op=op)
        ids[op] = sid
        t = b.start
        for phase in PHASES:
            d = b.durations_s.get(phase, 0.0)
            tr.add(f"streaming.{phase}", t, t + d, parent=sid, op=op)
            t += d
    for s in tr.spans:
        if s.name == "sinks.DeviceConfigSink" and s.op in ids:
            s.parent = ids[s.op]


def _stage(staging: str, t0: float, first: int, ticks: int, seed: int) -> list[dict]:
    """Write ticks ``first..first+ticks-1`` into ``staging``; the
    generator's log entries for them (landing time set on release)."""
    os.makedirs(staging, exist_ok=True)
    log = []
    for k in range(first, first + ticks):
        lines, valid = knobgen.tick_lines(seed, k, t0)
        knobgen.publish(staging, k, lines)
        log.append({"k": k, "due": t0 + k * knobgen.TICK_S, "landed": None, "valid": valid})
    return log


def _release(staging: str, topic: str, log: list[dict]) -> None:
    """Move staged tick files into the topic in one burst."""
    os.makedirs(topic, exist_ok=True)
    for name in sorted(os.listdir(staging)):
        os.rename(os.path.join(staging, name), os.path.join(topic, name))
    now = time.time()
    for e in log:
        e["landed"] = now


def _drain(
    work: str, topic: str, r: int, backlog: list[dict], probe: SinkProbe, t0: float, q, res: Result
) -> tuple[int, float] | None:
    """Land round ``r``'s backlog at once and process it. Returns the id
    of the first batch holding any of it and the time the sink returned
    the last such batch, or None when none did; a tick that never reached
    the sink is a failed check. Returns once the query is idle."""
    n_before = len(probe.records)
    ticks = {e["k"] for e in backlog}
    _release(os.path.join(work, f"staging{r}"), topic, backlog)
    q.processAllAvailable()
    got = [rec for rec in probe.records[n_before:] if _ticks(rec.rows, t0) & ticks]
    missing = ticks.difference(*(_ticks(rec.rows, t0) for rec in got))
    res.check(not missing, f"drain round {r}: {len(missing)} ticks never reached the sink")
    if not got:
        return None
    return min(rec.batch_id for rec in got), max(rec.returned for rec in got)


def run(ctx: Context) -> Result:
    topic = os.path.join(ctx.work, "topic")
    live_log = os.path.join(ctx.work, "live.log")
    gen = _start_generator(topic, ctx.seed, live_log)
    try:
        return _run(ctx, gen, topic, live_log)
    finally:
        if not gen.stdin.closed:
            gen.stdin.close()  # no schedule: the generator exits
        try:
            gen.wait(timeout=LIVE_WARMUP_S + ctx.seconds + 60)
        except subprocess.TimeoutExpired:
            gen.kill()
            gen.wait()


def _run(ctx: Context, gen: subprocess.Popen, topic: str, live_log_path: str) -> Result:
    res = Result()
    work = ctx.work
    tr = ctx.tracer
    # One timeline: warm-up ticks, then one backlog per drain round, the
    # last due just before now, then the live ticks.
    t0 = _t0(WARMUP_TICKS + (1 + DRAIN_ROUNDS) * BACKLOG_TICKS)

    # Set-up: stage each round's backlog, then start the query and warm
    # it on ticks of its own and on one unmeasured drain round: the first
    # rounds after start still run partly uncompiled code.
    backlogs = []
    for r in range(1 + DRAIN_ROUNDS):
        staging = os.path.join(work, f"staging{r}")
        t = time.perf_counter()
        with tr.span("setup.stage_backlog", op=f"round{r}"):
            backlogs.append(
                _stage(staging, t0, WARMUP_TICKS + r * BACKLOG_TICKS, BACKLOG_TICKS, ctx.seed)
            )
        res.prepare_s.append(time.perf_counter() - t)

    probe = SinkProbe(ctx)
    failed = 0
    t = time.perf_counter()
    with tr.span("setup.warmup"):
        warm = _stage(os.path.join(work, "warm"), t0, 0, WARMUP_TICKS, ctx.seed)
        _release(os.path.join(work, "warm"), topic, warm)
        q = _start_query(ctx, topic, os.path.join(work, "ckpt"), probe)
        q.processAllAvailable()
        _drain(work, topic, 0, backlogs[0], probe, t0, q, res)
    res.warmup_s = time.perf_counter() - t

    # Phase 1: each round's backlog lands at once on an idle query; time
    # from the start of the first batch that reads it until the sink has
    # all of it (the idle query's wait for its next trigger is left out).
    # Throughput is over all rounds.
    drained_msgs, drains = 0, []
    for r in range(1, 1 + DRAIN_ROUNDS):
        with tr.span("knob.drain", op=f"round{r}"):
            drains.append(_drain(work, topic, r, backlogs[r], probe, t0, q, res))
        drained_msgs += sum(len(e["valid"]) for e in backlogs[r]) * QUOTA

    # Phase 2: live, open loop, from the generator process: the warm-up
    # ticks, then the run length of measured ones.
    first_live = int((time.time() + LIVE_LEAD_S - t0) / knobgen.TICK_S) + 1
    first_measured = first_live + round(LIVE_WARMUP_S / knobgen.TICK_S)
    n_live = first_measured - first_live + max(1, round(ctx.seconds / knobgen.TICK_S))
    gen.stdin.write(json.dumps({"t0": t0, "first": first_live, "ticks": n_live}) + "\n")
    gen.stdin.close()
    with tr.span("knob.live"):
        if gen.wait(timeout=LIVE_WARMUP_S + ctx.seconds + 60) != 0:
            failed += 1
            res.errors.append(f"live generator exited with {gen.returncode}")
        # drain what the generator published, then stop between batches
        try:
            q.processAllAvailable()
        except Exception as e:  # StreamingQueryException: the query died
            res.errors.append(f"query failed: {e}"[:500])
        q.stop()
    if q.exception() is not None:
        failed += 1
    live = []
    if os.path.exists(live_log_path):
        with open(live_log_path) as f:
            live = json.load(f)
    res.measured_s = ctx.seconds
    backlog = warm + [e for b in backlogs for e in b]

    batches = batches_from_progress(q.recentProgress)
    start_of = {b.batch_id: b.start for b in batches}
    timed = [(start_of.get(d[0]), d[1]) if d else (None, None) for d in drains]
    res.check(all(start for start, _ in timed), "a drain round has no batch progress")
    drain_s = sum(end - start for start, end in timed if start)
    res.throughput_per_s = drained_msgs / drain_s if drain_s > 0 else 0.0
    if tr.enabled:
        _trace_batches(ctx, batches)

    # Correctness: every valid message of every published tick reaches
    # the sink exactly once as its quota; poison messages are dropped;
    # each pushed payload carries its batch's rows.
    expected = {(e["k"], i) for e in backlog + live for i in e["valid"]}
    due = {e["k"]: e["due"] for e in backlog + live}
    measured_ticks = {e["k"] for e in live if e["k"] >= first_measured}
    seen: dict[tuple[int, int], int] = {}
    lat, groups, lags = [], [], []
    rows_of = {}
    for r in probe.records:
        rows_of[r.batch_id] = r.rows
        oldest = None
        for w, knob, cnt in r.rows:
            k = window_to_tick(w, t0, knobgen.TICK_S, WINDOW_S)
            res.check(k is not None, f"window {w} holds no tick")
            res.check((k, knob) not in seen, f"tick {k} knob {knob} emitted twice")
            seen[(k, knob)] = cnt
            if k in measured_ticks:
                lat.append(r.returned - due[k])
                groups.append(r.batch_id)
                oldest = due[k] if oldest is None else min(oldest, due[k])
        if oldest is not None and r.batch_id in start_of:
            lags.append(start_of[r.batch_id] - oldest)
    delivered = sum(1 for key, cnt in seen.items() if key in expected and cnt == QUOTA)
    res.check(set(seen) == expected, f"sink saw {len(seen)} (tick, knob) keys, {len(expected)} published")
    res.check(
        sum(seen.values()) == QUOTA * len(expected),
        f"sink total {sum(seen.values())} != {QUOTA * len(expected)} published",
    )
    for batch_id, payload in probe.payloads:
        body = json.loads(base64.b64decode(payload))
        rows = rows_of.get(batch_id, [])
        res.check(body["total"] == sum(c for _, _, c in rows), f"batch {batch_id} payload total")
        res.check(body["mps"] == [c for _, c in sorted((i, c) for _, i, c in rows)], f"batch {batch_id} payload mps")
    res.check(bool(probe.payloads), "no payload reached the device")
    res.check(bool(lat), "no live result reached the sink")

    res.quality = delivered / len(expected) if expected else 0.0
    res.latency_s, res.latency_groups = lat, groups
    res.attempted = len(probe.records) + probe.raised
    res.failed = failed + probe.raised
    # open-loop validity: a generator a whole tick late broke the schedule
    late = sorted(e["landed"] - e["due"] for e in live)
    gen_late_p99 = nearest_rank(late, 99) if late else 0.0
    res.check(gen_late_p99 <= knobgen.TICK_S, f"generator ran {gen_late_p99:.3f} s late")
    res.layers = {
        **progress_metrics(batches),
        "sinks.call_s_p50": median([r.call_s for r in probe.records]),
        "sinks.pushes": float(len(probe.payloads)),
        "sinks.suppressed": float(sum(1 for r in probe.records if r.rows and not r.pushed)),
        "sinks.push_retries": float(probe.push_attempts - len(probe.payloads)),
        "sources.read_lag_p50_s": median(lags),
        "sources.gen_late_p99_s": gen_late_p99,
    }
    return res
