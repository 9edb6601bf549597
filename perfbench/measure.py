"""Measurement helpers shared by the workloads: percentiles, spans,
Spark streaming progress extraction and process memory."""

from __future__ import annotations

import json
import math
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass
from datetime import datetime
from typing import Iterator, Sequence

# A tail percentile is reported only when at least this many samples (or
# sample groups) lie beyond it.
MIN_BEYOND = 10
TAIL_CANDIDATES = (99, 95, 90, 75, 50)


def nearest_rank(sorted_vals: Sequence[float], p: float) -> float:
    """The nearest-rank ``p``-th percentile of an ascending sequence."""
    if not sorted_vals:
        raise ValueError("no samples")
    i = max(0, math.ceil(p / 100.0 * len(sorted_vals)) - 1)
    return sorted_vals[i]


def tail_percentile(
    values: Sequence[float],
    groups: Sequence[object] | None = None,
    min_beyond: int = MIN_BEYOND,
) -> tuple[int, float] | None:
    """The highest percentile in ``TAIL_CANDIDATES`` with at least
    ``min_beyond`` samples strictly beyond its nearest-rank position, as
    ``(percentile, value)``; None when even the lowest candidate lacks
    them. With ``groups`` (one label per sample, e.g. the micro-batch a
    result row came from) the samples beyond are counted as distinct
    groups, because samples of one group are not independent."""
    order = sorted(range(len(values)), key=lambda i: values[i])
    for p in TAIL_CANDIDATES:
        if not order:
            return None
        pos = max(0, math.ceil(p / 100.0 * len(order)) - 1)
        beyond = order[pos + 1 :]
        n_beyond = len({groups[i] for i in beyond}) if groups is not None else len(beyond)
        if n_beyond >= min_beyond:
            return p, values[order[pos]]
    return None


def median(values: Sequence[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


def window_to_tick(
    window_start_s: float, t0: float, tick_s: float, window_s: float
) -> int | None:
    """The index ``k`` of the tick whose timestamp ``t0 + k * tick_s``
    falls in the window ``[window_start_s, window_start_s + window_s)``,
    or None when no tick does. Ticks are further apart than windows are
    wide, so at most one tick matches."""
    k = math.ceil((window_start_s - t0) / tick_s - 1e-6)
    ts = t0 + k * tick_s
    if window_start_s - 1e-6 <= ts < window_start_s + window_s - 1e-6:
        return k
    return None


def _epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


@dataclass
class BatchProgress:
    """One executed micro-batch, from ``StreamingQuery.recentProgress``."""

    batch_id: int
    start: float  # epoch seconds the trigger started
    rows: int
    durations_s: dict[str, float]
    state_rows_total: int
    state_memory_bytes: int
    state_commit_s: float


# durationMs phases in the order a micro-batch runs them
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


def batches_from_progress(progress: Sequence[dict]) -> list[BatchProgress]:
    """Executed micro-batches, one per batch id (the last report wins),
    in batch order. Idle reports (no ``addBatch`` phase) are skipped."""
    out: dict[int, BatchProgress] = {}
    for p in progress:
        d = p.get("durationMs") or {}
        if "addBatch" not in d:
            continue
        ops = p.get("stateOperators") or []
        out[p["batchId"]] = BatchProgress(
            batch_id=p["batchId"],
            start=_epoch(p["timestamp"]),
            rows=int(p.get("numInputRows") or 0),
            durations_s={k: v / 1000.0 for k, v in d.items()},
            state_rows_total=sum(int(o.get("numRowsTotal") or 0) for o in ops),
            state_memory_bytes=sum(int(o.get("memoryUsedBytes") or 0) for o in ops),
            state_commit_s=sum(int(o.get("commitTimeMs") or 0) for o in ops) / 1000.0,
        )
    return [out[k] for k in sorted(out)]


def progress_metrics(batches: Sequence[BatchProgress]) -> dict[str, float]:
    """Per-layer streaming metrics: medians over executed batches of each
    phase's time, plus batch count and the final state size."""
    def p50(key: str) -> float:
        return median([b.durations_s.get(key, 0.0) for b in batches])

    return {
        "streaming.batches": float(len(batches)),
        "streaming.rows_per_batch_p50": median([float(b.rows) for b in batches]),
        "streaming.add_batch_s_p50": p50("addBatch"),
        "streaming.query_planning_s_p50": p50("queryPlanning"),
        "streaming.wal_commit_s_p50": p50("walCommit"),
        "streaming.commit_offsets_s_p50": p50("commitOffsets"),
        "streaming.latest_offset_s_p50": p50("latestOffset"),
        "streaming.trigger_s_p50": p50("triggerExecution"),
        "streaming.state_commit_s_p50": median([b.state_commit_s for b in batches]),
        "streaming.state_rows_total": float(batches[-1].state_rows_total) if batches else 0.0,
        "streaming.state_memory_bytes": float(batches[-1].state_memory_bytes) if batches else 0.0,
    }


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None


class Tracer:
    """Spans kept in memory and written out at the end of the run.

    Disabled, ``span`` only yields: the end-to-end metrics are measured
    that way. ``overhead_s`` accumulates the time the tracing itself
    takes (span bookkeeping and the plan/job introspection run under
    ``overhead()``), which is what a traced run adds to an untraced one.
    Safe to use from several threads (Spark calls ``foreachBatch``
    functions on its own thread); each thread nests its own spans.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _new(self, name: str, start: float, end: float, parent: int | None, op: str | None) -> int:
        with self._lock:
            sid = len(self.spans)
            self.spans.append(Span(sid, name, start, end, parent, op))
        return sid

    @contextmanager
    def span(self, name: str, op: str | None = None) -> Iterator[None]:
        if not self.enabled:
            yield
            return
        start, c0 = time.time(), time.perf_counter()
        stack = self._stack()
        sid = self._new(name, start, start, stack[-1] if stack else None, op)
        stack.append(sid)
        c1 = time.perf_counter()
        try:
            yield
        finally:
            c2 = time.perf_counter()
            stack.pop()
            self.spans[sid].end = start + (c2 - c0)
            with self._lock:
                self.overhead_s += (c1 - c0) + (time.perf_counter() - c2)

    def add(
        self, name: str, start: float, end: float, parent: int | None = None, op: str | None = None
    ) -> int:
        """Record a span measured elsewhere (e.g. a micro-batch phase)."""
        if not self.enabled:
            return -1
        return self._new(name, start, end, parent, op)

    @contextmanager
    def overhead(self) -> Iterator[None]:
        """Time work done only because tracing is on."""
        c0 = time.perf_counter()
        try:
            yield
        finally:
            with self._lock:
                self.overhead_s += time.perf_counter() - c0

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def total(self, name: str) -> float:
        return sum(self.durations(name))

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


def vm_hwm_mb() -> float:
    """Peak resident set size (VmHWM) of this process, in MiB."""
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM in /proc/self/status")
