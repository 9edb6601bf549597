"""Structured Streaming forms of the reference pipeline T1-T8.

The batch forms (operators.pipeline) pin the semantics; these are the
unbounded-input implementations. Differences from the reference, by
design (SURVEY.md sections 2.5, 7):

- exactly-once state via checkpointing replaces at-least-once
  ack-after-process (C1) — a semantic upgrade;
- watermarks give principled late-data handling where the reference had
  only the LWW guard (T1) and silent drops;
- micro-batch barriers replace the reference's unsynchronized
  snapshot reads (C3) with consistent snapshots.

State sizing at scale: T1/T7 state is O(distinct keys) — tiny. The
windowed counts' state is O(keys x open windows), bounded by the
watermark horizon. Nothing here holds raw events in state.
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

LWW_STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("ts", DoubleType()),  # epoch seconds, reference wire unit
    ]
)
LWW_OUTPUT_SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField("n", LongType()),
        StructField("ts", TimestampType()),
    ]
)


def latest_per_key_stream(knobs: DataFrame) -> DataFrame:
    """T1 streaming — last-write-wins upsert keyed by knob id
    (knobs.go:58,92-103) via applyInPandasWithState.

    State per key: (n, ts_epoch). A batch's rows are reduced with the
    same strict ``<`` guard the reference uses (knobs.go:101: an equal
    timestamp does NOT replace the held value). Emits the key's current
    state each time the key appears in a micro-batch (update-mode
    semantics)."""

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            cur_n, cur_ts = state.get
        else:
            cur_n, cur_ts = 0, float("-inf")
        for pdf in pdfs:
            for n, ts in zip(pdf["n"], pdf["ts"]):
                ts_s = pd.Timestamp(ts).timestamp()
                if cur_ts < ts_s:  # strict: ties keep the held value
                    cur_n, cur_ts = int(n), ts_s
        state.update((cur_n, cur_ts))
        # floor to whole microseconds: Spark timestamps are us-precision,
        # and Arrow's safe cast rejects ns remainders from float seconds
        out_ts = pd.Timestamp(int(cur_ts * 1_000_000), unit="us", tz="UTC")
        yield pd.DataFrame({"id": [key[0]], "n": [cur_n], "ts": [out_ts]})

    return knobs.groupBy("id").applyInPandasWithState(
        update,
        outputStructType=LWW_OUTPUT_SCHEMA,
        stateStructType=LWW_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def snapshot_scale_stream(latest: DataFrame, delta: float = 0.2) -> DataFrame:
    """T2 streaming — per-trigger quota scaling + zero suppression
    (knobs.go:57-80). Stateless projection over the LWW stream; the
    200ms cadence is the trigger interval, set at ``writeStream`` time
    (trigger(processingTime='200 milliseconds'))."""
    return latest.withColumn(
        "quota", F.floor(F.col("n") * F.lit(delta)).cast("long")
    ).where(F.col("quota") > 0)


def fan_out_stream(
    flood: DataFrame, n: str = "quota", max_n: int = 1_000_000
) -> DataFrame:
    """T3 streaming — explode-by-count (flood.go:57-85). Stateless
    generator; Spark parallelizes across partitions exactly like the
    reference's 8 competing consumers (deploy:75).

    ``max_n`` (default 1e6, the reference's MaxOutstandingMessages,
    mapper.go:48-51) clamps per-row fan-out so a poison-but-parseable
    huge count cannot OOM an executor and kill the query — the streaming
    counterpart of the C1 drop-poison-and-continue contract."""
    n_col = F.least(F.col(n).cast("long"), F.lit(int(max_n)))
    return flood.select(
        "id",
        "ts",
        F.explode(F.when(n_col > 0, F.sequence(F.lit(1), n_col))).alias("seq"),
    ).select("id", "ts")


def windowed_count_stream(
    msgs: DataFrame,
    window: str = "100 milliseconds",
    watermark: str = "2 seconds",
) -> DataFrame:
    """T4+T5 streaming — tumbling count per (window, id) with watermark
    (mapper.go:64-86 + reducer.go:145-153). Catalyst splits this into
    partial and final HashAggregates across the shuffle — the reference's
    mapper/reducer pair — and the state store holds only open windows
    (bounded by the watermark, an upgrade over the reference's unbounded
    trust in timely arrival).

    The grouping key is primitive: each row's window start, a timestamp,
    next to the long ``id``. With a ``window`` struct as the key, the
    partial aggregate cannot use Spark's two-level fast hash map and
    falls back to hashing and comparing the key's bytes in a
    ``BytesToBytesMap``; with ``(timestamp, long)`` keys the fast map
    applies.

    The watermark sits on ``window_start`` with a delay of ``watermark``
    plus one ``window``. Spark evicts and drops a struct key once
    ``window.end <= wm`` and a plain key once ``key <= wm``. Window
    starts lie on the window grid, so when ``watermark`` is a whole
    number of windows (both defaults, and ``rate_per_second_stream``'s
    1 s / 2 s) both forms evict and emit the same windows in the same
    batches and drop the same late rows; for other delays this form
    never evicts or drops earlier than the struct form. Visible
    differences: the query progress's ``eventTime`` statistics and its
    watermark are window-aligned, and the state key schema differs, so
    Spark refuses to resume a checkpoint written by the struct form."""
    window_start = F.window("ts", window).start
    return (
        msgs.select(window_start.alias("window_start"), "id")
        .withWatermark("window_start", f"{watermark} {window}")
        .groupBy("window_start", "id")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def rate_per_second_stream(
    msgs: DataFrame, watermark: str = "2 seconds"
) -> DataFrame:
    """T6 streaming — 1s tumbling re-window (reducer.go:77-89): the
    per-second ``mps`` vector in long format. ``watermark`` is a whole
    number of seconds in the reference's use, so the window-start key of
    ``windowed_count_stream`` closes and drops exactly what a ``window``
    struct key would."""
    return windowed_count_stream(msgs, window="1 second", watermark=watermark)


RUNNING_TOTAL_STATE = StructType([StructField("total", LongType())])
RUNNING_TOTAL_OUTPUT = StructType(
    [
        StructField("id", LongType()),
        StructField("total", LongType()),
    ]
)


def running_total_stream(counts: DataFrame, cnt_col: str | None = "cnt") -> DataFrame:
    """T7 streaming — running total across all time (reducer.go:79,87)
    as an explicit stateful accumulator per key (sum state, O(keys)).
    The reference's single global counter is the degenerate key=constant
    case; keeping it keyed avoids the single-partition bottleneck.

    ``cnt_col=None`` counts raw rows instead of summing pre-aggregated
    counts. That form composes with the upstream stateless stages in ONE
    query: Spark rejects stateful-after-aggregation chaining in a single
    streaming plan (the reference crosses that boundary with a Pub/Sub
    topic, mapper->reducer). To replay the exact two-stage topology,
    chain two queries through an intermediate sink (foreachBatch /
    Kafka-like topic), or use this row-count form on the raw stream —
    same totals, one state store."""

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        total = state.get[0] if state.exists else 0
        for pdf in pdfs:
            total += int(pdf[cnt_col].sum()) if cnt_col else len(pdf)
        state.update((total,))
        yield pd.DataFrame({"id": [key[0]], "total": [total]})

    return counts.groupBy("id").applyInPandasWithState(
        update,
        outputStructType=RUNNING_TOTAL_OUTPUT,
        stateStructType=RUNNING_TOTAL_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def dedup_stream(
    df: DataFrame,
    key_cols: list[str],
    watermark_col: str = "ts",
    delay: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup: keep the FIRST arrival per key, drop later
    duplicates that land within the watermark horizon — the streaming
    form of ``operators.dedup.exact_dedup`` for an ingest pipeline that
    must not admit the same document twice.

    ``dropDuplicatesWithinWatermark`` (not ``dropDuplicates``): both keep
    first-arrival, but plain streaming dropDuplicates holds EVERY key
    seen forever — unbounded state on an unbounded corpus.  The
    WithinWatermark form evicts a key's state once the watermark passes
    its arrival, so state is O(keys per horizon), the only bound that
    survives a 100TB/day ingest.  The trade is explicit: a duplicate
    arriving later than ``delay`` after the original is admitted (dedup
    horizon = watermark, same contract as the reference's LWW guard
    which also only orders within its visibility window, knobs.go:101)."""
    return df.withWatermark(watermark_col, delay).dropDuplicatesWithinWatermark(
        key_cols
    )


def near_dedup_stream(
    docs: DataFrame,
    text: str = "text",
    watermark_col: str = "ts",
    delay: str = "10 minutes",
) -> DataFrame:
    """Streaming FINGERPRINT-level near-dedup: drop any document whose
    32-bit SimHash exactly matches one seen within the watermark
    horizon — boilerplate re-crawls, mirrored pages, and template spam
    collapse to identical fingerprints even when byte-level content
    differs (whitespace/case drift), which plain ``dedup_stream`` on
    the content hash admits.

    This is the streaming-feasible tier of the near-dup family: the
    SimHash is computed PER ROW (``dedup.simhash_rowwise`` — no
    per-micro-batch shuffle), and state is one fingerprint per horizon
    via ``dropDuplicatesWithinWatermark``. Hamming-distance pair tiers
    (block joins) stay batch: a streaming candidate join would need
    stream-stream self-joins with unbounded fingerprint state."""
    from ..operators.dedup import simhash_rowwise

    return (
        simhash_rowwise(docs, text=text)
        .withWatermark(watermark_col, delay)
        .dropDuplicatesWithinWatermark(["simhash"])
    )


def distinct_ids_stream(
    msgs: DataFrame,
    window: str = "1 second",
    watermark: str = "2 seconds",
) -> DataFrame:
    """Windowed APPROX-distinct ids in streaming (extension beyond the
    reference's count-only surface): how many distinct devices reported
    per window.

    approx_count_distinct (HLL++) is the only viable streaming form at
    scale: exact distinct would hold every key seen per open window in
    the state store (O(windows x keys)); the HLL buffer is a fixed
    ~1.5KB per window regardless of cardinality, merged across the
    partial/final aggregate split like any declarative agg. Estimate
    error ~2% default rsd; stream==batch parity is pinned in tests
    (identical input -> identical sketch -> identical estimate)."""
    return (
        msgs.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"))
        .agg(F.approx_count_distinct("id").alias("approx_ids"))
        .select(F.col("w.start").alias("window_start"), "approx_ids")
    )


FUNNEL_STATE_SCHEMA = StructType(
    [
        StructField("stage", LongType()),
        StructField("last_ts", DoubleType()),  # epoch seconds of last step
    ]
)
FUNNEL_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("stage", LongType()),
        StructField("ts_s", DoubleType()),
    ]
)


def funnel_stream(
    events: DataFrame,
    steps: tuple[str, ...] = ("view", "click", "purchase"),
    horizon_s: float = 3600.0,
) -> DataFrame:
    """Sequential pattern matching as a STATEFUL streaming operator —
    the live form of ``relational.funnel_conversion``: per user, advance
    through ``steps`` on the first qualifying event (each transition
    within ``horizon_s`` of the previous), emitting a row per stage
    reached. Greedy in event order == the batch form's staged minima
    (first qualifying event IS the minimum), so stream and batch agree
    row-for-row on ordered replay — pinned in tests.

    State per user is TWO scalars (stage, last step time) no matter how
    long the history: the batch form re-scans staged windows; the
    stream pays O(1) per event. Within a micro-batch rows are sorted by
    (event time, event_id); cross-batch order comes from the source
    (file replay here; per-key ordered partitions on a real broker)."""

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            stage, last_ts = state.get
        else:
            stage, last_ts = 0, float("-inf")
        rows: list[tuple[int, int, float]] = []
        batch = []
        for pdf in pdfs:
            for ts, eid, typ in zip(pdf["ts"], pdf["event_id"], pdf["event_type"]):
                batch.append((pd.Timestamp(ts).timestamp(), int(eid), str(typ)))
        batch.sort()
        for ts_s, _eid, typ in batch:
            if stage < len(steps) and typ == steps[stage]:
                if stage == 0 or (last_ts <= ts_s <= last_ts + horizon_s):
                    stage += 1
                    last_ts = ts_s
                    rows.append((key[0], stage, ts_s))
        state.update((stage, last_ts))
        if rows:
            yield pd.DataFrame(rows, columns=["user_id", "stage", "ts_s"])

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=FUNNEL_OUTPUT_SCHEMA,
        stateStructType=FUNNEL_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


SESSIONIZE_STATE_SCHEMA = StructType(
    [
        StructField("start", DoubleType()),
        StructField("last", DoubleType()),
        StructField("n", LongType()),
    ]
)
SESSIONIZE_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start_s", DoubleType()),
        StructField("session_end_s", DoubleType()),
        StructField("n_events", LongType()),
    ]
)


def sessionize_stream(
    events: DataFrame, gap_s: float = 30.0, watermark: str = "10 seconds"
) -> DataFrame:
    """Custom stateful sessionization with EXPLICIT state eviction —
    the mechanism ``F.session_window`` hides: per user, one (start,
    last, count) record in the state store; a session closes either
    inline (the next event arrives past the gap) or via an EVENT-TIME
    TIMEOUT when the watermark passes ``last + gap`` — so state for
    departed users is dropped, not held forever (the unbounded-state
    leak every hand-rolled sessionizer hits). Emits one row per CLOSED
    session; the in-flight session stays in state.

    State is three scalars per ACTIVE user — eviction means "active",
    not "ever seen", which is the difference between O(online users)
    and O(all users) state at 100TB-stream scale."""

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        rows: list[tuple[int, float, float, int]] = []
        if state.hasTimedOut:
            start, last, n = state.get
            rows.append((key[0], start, last, int(n)))
            state.remove()
        else:
            cur = state.get if state.exists else None
            batch: list[float] = []
            for pdf in pdfs:
                batch.extend(pd.Timestamp(ts).timestamp() for ts in pdf["ts"])
            batch.sort()
            for ts_s in batch:
                if cur is None:
                    cur = (ts_s, ts_s, 1)
                elif ts_s - cur[1] > gap_s:
                    rows.append((key[0], cur[0], cur[1], int(cur[2])))
                    cur = (ts_s, ts_s, 1)
                else:
                    cur = (cur[0], max(cur[1], ts_s), cur[2] + 1)
            if cur is not None:
                state.update(cur)
                state.setTimeoutTimestamp(int((cur[1] + gap_s) * 1000))
        if rows:
            yield pd.DataFrame(
                rows,
                columns=["user_id", "session_start_s", "session_end_s", "n_events"],
            )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=SESSIONIZE_OUTPUT_SCHEMA,
            stateStructType=SESSIONIZE_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


SPACESAVING_STATE_SCHEMA = StructType(
    [
        StructField("keys", StringType()),  # json-encoded table: k -> [cnt, err]
        StructField("seq", LongType()),
    ]
)
SPACESAVING_OUTPUT_SCHEMA = StructType(
    [
        StructField("shard", LongType()),
        StructField("seq", LongType()),
        StructField("key", LongType()),
        StructField("cnt_hi", LongType()),
        StructField("err", LongType()),
    ]
)


def heavy_hitters_stream(
    events: DataFrame,
    key: str = "user_id",
    capacity: int = 32,
    n_shards: int = 4,
) -> DataFrame:
    """Streaming heavy hitters via SHARDED space-saving (Metwally et
    al. 2005) — the live form of ``sketches.heavy_hitters`` for key
    spaces too large to count exactly in state. Each shard (keys hashed
    to ``n_shards`` groups) maintains a bounded table of at most
    ``capacity`` (key, cnt_hi, err) entries: a tracked key increments;
    an untracked key evicts the minimum entry, inheriting its count as
    the new entry's error bound. Invariants (pinned in tests):

    - true count is always within [cnt_hi - err, cnt_hi];
    - any key with true count > (shard stream length / capacity) IS in
      the table — no false negatives above the threshold, the
      space-saving guarantee;
    - state per shard is O(capacity) forever, regardless of stream
      length or cardinality.

    After each micro-batch every shard emits its full table stamped
    with a monotone ``seq`` — downstream takes the latest seq per
    shard (the table is a SNAPSHOT, not a delta). Sharding by key hash
    means per-key counts are exact-per-shard summaries and the global
    candidate set is the union of shard tables — the standard
    distributed decomposition, same shape the batch merge of per-node
    summaries would take."""
    import json

    def update(
        k: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            raw, seq = state.get
            table: dict[str, list[int]] = json.loads(raw)
        else:
            table, seq = {}, 0
        for pdf in pdfs:
            for kk in pdf["k"]:
                kk = str(int(kk))
                if kk in table:
                    table[kk][0] += 1
                elif len(table) < capacity:
                    table[kk] = [1, 0]
                else:
                    victim = min(table.items(), key=lambda kv: (kv[1][0], kv[0]))
                    m = victim[1][0]
                    del table[victim[0]]
                    table[kk] = [m + 1, m]
        seq += 1
        state.update((json.dumps(table), seq))
        yield pd.DataFrame(
            [
                (k[0], seq, int(kk), c, e)
                for kk, (c, e) in sorted(table.items())
            ],
            columns=["shard", "seq", "key", "cnt_hi", "err"],
        )

    shards = events.select(
        F.expr(f"pmod(xxhash64({key}), {n_shards})").alias("shard"),
        F.col(key).cast("long").alias("k"),
    )
    return shards.groupBy("shard").applyInPandasWithState(
        update,
        outputStructType=SPACESAVING_OUTPUT_SCHEMA,
        stateStructType=SPACESAVING_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


EMA_STATE_SCHEMA = StructType(
    [
        StructField("ema", LongType()),
        StructField("last", LongType()),
        StructField("n", LongType()),
    ]
)
EMA_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("ema_cents", LongType()),
        StructField("last_cents", LongType()),
        StructField("n_events", LongType()),
    ]
)


def ema_stream(events: DataFrame, shift: int = 2) -> DataFrame:
    """Live form of ``robust.user_value_ema``: per-user exponential
    smoothing with O(1) state (ema, last, n) — the batch form folds the
    whole sorted history; the stream pays one integer step per event
    and carries three longs per key forever. Same arithmetic
    (non-negative cents, integral division), so after an ordered replay
    the final per-user snapshot equals the batch fold EXACTLY — pinned
    in tests. Emits one snapshot row per active user per micro-batch
    (downstream keeps the latest n_events per user)."""
    denom = 1 << shift

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            ema, last, n = state.get
        else:
            ema, last, n = -1, 0, 0
        batch = []
        for pdf in pdfs:
            for ts, eid, v in zip(pdf["ts"], pdf["event_id"], pdf["value"]):
                cents = int(round(float(v) * 100))
                batch.append((pd.Timestamp(ts).timestamp(), int(eid), cents))
        batch.sort()
        for _ts, _eid, cents in batch:
            ema = cents if n == 0 else (cents + (denom - 1) * ema) // denom
            last = cents
            n += 1
        state.update((ema, last, n))
        yield pd.DataFrame(
            [(key[0], ema, last, n)],
            columns=["user_id", "ema_cents", "last_cents", "n_events"],
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=EMA_OUTPUT_SCHEMA,
        stateStructType=EMA_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


CUSUM_STATE_SCHEMA = StructType(
    [
        StructField("sp", LongType()),
        StructField("sn", LongType()),
        StructField("n", LongType()),
        StructField("na", LongType()),
    ]
)
CUSUM_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("cusum_pos", LongType()),
        StructField("cusum_neg", LongType()),
        StructField("n_alarms", LongType()),
    ]
)


def cusum_stream(
    events: DataFrame,
    target_cents: int = 25000,
    slack_cents: int = 2500,
    h_cents: int = 20000,
) -> DataFrame:
    """Live form of ``robust.user_cusum_target``: tabular CUSUM against
    a known reference, O(1) state per key (S+, S-, n, n_alarms) — the
    drift alarm runs ON the stream instead of on a nightly fold, with
    the restart-after-signal reset keeping state bounded forever.
    Same integer recursion, so after ordered replay the final per-user
    snapshot equals the batch fold EXACTLY (pinned). Emits one
    snapshot row per active user per micro-batch."""
    up = target_cents + slack_cents
    dn = target_cents - slack_cents

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            sp, sn, n, na = state.get
        else:
            sp, sn, n, na = 0, 0, 0, 0
        batch = []
        for pdf in pdfs:
            for ts, eid, v in zip(pdf["ts"], pdf["event_id"], pdf["value"]):
                cents = int(round(float(v) * 100))
                batch.append((pd.Timestamp(ts).timestamp(), int(eid), cents))
        batch.sort()
        for _ts, _eid, c in batch:
            sp1 = max(0, sp + (c - up))
            sn1 = max(0, sn + (dn - c))
            if sp1 > h_cents or sn1 > h_cents:
                sp, sn, na = 0, 0, na + 1
            else:
                sp, sn = sp1, sn1
            n += 1
        state.update((sp, sn, n, na))
        yield pd.DataFrame(
            [(key[0], n, sp, sn, na)],
            columns=["user_id", "n_events", "cusum_pos", "cusum_neg", "n_alarms"],
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=CUSUM_OUTPUT_SCHEMA,
        stateStructType=CUSUM_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
