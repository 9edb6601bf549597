"""Gap-timeout sessionizer on ``transformWithState`` EVENT-TIME TIMERS
(ValueState plus one event-time timer per user). This is the
custom-state formulation a pipeline uses when a session close must
trigger arbitrary logic (feature writes, alerts) rather than an
aggregate row; its stream output is pinned equal to the batch
lag/gap-sum sessionization ``sessions_batch`` (tests/test_streaming.py).

Semantics: a session is a maximal run of a user's events with no gap
larger than ``GAP_MS``. Events arriving within a batch may close a
session immediately (intra-batch gap); the LAST open session per user
closes when the event-time watermark passes ``last_event + gap``,
which an event-time timer watches — no polling, no per-batch full
state scan.

100 TB notes: state is one (start, last, n) struct per ACTIVE user;
timers are RocksDB-backed and fire from the watermark, so idle users
cost nothing after their close fires and state is cleared. Emissions
are one row per closed session.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.stateful_processor import (
    StatefulProcessor,
    StatefulProcessorHandle,
)
from pyspark.sql.types import (
    LongType,
    StructField,
    StructType,
)

GAP_MS = 30 * 60 * 1000

OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("start_ms", LongType()),
        StructField("end_ms", LongType()),
        StructField("n_events", LongType()),
    ]
)

_STATE_SCHEMA = StructType(
    [
        StructField("start_ms", LongType()),
        StructField("last_ms", LongType()),
        StructField("n", LongType()),
    ]
)


class SessionTimerProcessor(StatefulProcessor):
    """ValueState (start, last, n) + ONE pending event-time timer at
    ``last + GAP_MS``. Intra-batch gaps emit immediately; the trailing
    open session emits from ``handleExpiredTimer`` when the watermark
    passes its close, then state clears."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._handle = handle
        self._state = handle.getValueState("sess", _STATE_SCHEMA)

    def _row(self, key, start, last, n):
        return pd.DataFrame(
            {
                "user_id": [int(key[0])],
                "start_ms": [int(start)],
                "end_ms": [int(last)],
                "n_events": [int(n)],
            }
        )

    def handleInputRows(self, key, rows, timerValues):
        ts = []
        for pdf in rows:
            ts.extend(int(t) for t in pdf["ts_ms"])
        if not ts:
            return
        ts.sort()
        if self._state.exists():
            start, last, n = (int(x) for x in self._state.get())
        else:
            start = last = n = None
        for t in ts:
            if start is None:
                start, last, n = t, t, 1
            elif t <= last + GAP_MS:
                n += 1
                if t > last:
                    last = t
            else:
                yield self._row(key, start, last, n)
                start, last, n = t, t, 1
        # one pending timer: re-arm at the new close boundary
        for tm in self._handle.listTimers():
            self._handle.deleteTimer(tm)
        self._handle.registerTimer(last + GAP_MS)
        self._state.update((start, last, n))

    def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
        if not self._state.exists():
            return
        start, last, n = (int(x) for x in self._state.get())
        # fire only for the boundary this timer was armed for — a
        # stale timer racing a re-arm must not close a live session
        if expiredTimerInfo.getExpiryTimeInMs() >= last + GAP_MS:
            self._state.clear()
            yield self._row(key, start, last, n)

    def close(self) -> None:
        pass


def sessions_stream(events_stream: DataFrame, watermark: str = "0 seconds"):
    """Event-time-timer sessionization over a watermarked event stream."""
    return (
        events_stream.withWatermark("ts", watermark)
        .select(
            "user_id",
            (F.unix_timestamp("ts") * 1000).alias("ts_ms"),
            "ts",
        )
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=SessionTimerProcessor(),
            outputStructType=OUT_SCHEMA,
            outputMode="append",
            timeMode="EventTime",
        )
    )


def sessions_batch(events: DataFrame, gap_ms: int = GAP_MS) -> DataFrame:
    """Order-insensitive batch twin: classic lag/gap-sum sessionization
    per user — one keyed shuffle, windows inside it."""
    from pyspark.sql import Window

    e = events.select(
        "user_id", (F.unix_timestamp("ts") * 1000).alias("ts_ms")
    )
    w = Window.partitionBy("user_id").orderBy("ts_ms")
    marked = e.select(
        "user_id",
        "ts_ms",
        F.when(
            F.col("ts_ms") - F.lag("ts_ms").over(w) > gap_ms, 1
        )
        .otherwise(0)
        .alias("new_sess"),
    )
    sess = marked.select(
        "user_id",
        "ts_ms",
        F.sum("new_sess")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("sid"),
    )
    return sess.groupBy("user_id", "sid").agg(
        F.min("ts_ms").cast("long").alias("start_ms"),
        F.max("ts_ms").cast("long").alias("end_ms"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    ).select("user_id", "start_ms", "end_ms", "n_events")
