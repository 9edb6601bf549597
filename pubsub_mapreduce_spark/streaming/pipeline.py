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
    chain two queries through an intermediate sink (foreachBatch or a
    ``FileTopic``), or use this row-count form on the raw stream —
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
