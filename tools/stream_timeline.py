"""Per-micro-batch timeline of a streaming query, read from a Spark
event log.

Usage:
  python tools/stream_timeline.py EVENT_LOG [--batch N ...]

EVENT_LOG is an uncompressed event log, as written with
``spark.eventLog.enabled=true``, ``spark.eventLog.dir=DIR`` and
``spark.eventLog.compress=false``: either one file or a rolling log's
directory (``DIR/eventlog_v2_<app id>``, Spark's default layout). For
every ``QueryProgressEvent`` it prints the batch's ``durationMs`` phases
in the order they run, then the SQL executions (named by their plan's
root node) and jobs that started inside the trigger, as millisecond
offsets from the trigger start, and each job's stages with their task
count, summed task run time and summed task CPU time. A job with no SQL
execution (a driver ``collect`` of an RDD, say) is listed on its own.
``--batch`` keeps only the given batch ids.
"""

from __future__ import annotations

import argparse
import datetime
import json
import os
from collections import defaultdict

# in the order a micro-batch runs them
PHASES = (
    "latestOffset",
    "walCommit",
    "getBatch",
    "queryPlanning",
    "addBatch",
    "commitOffsets",
)
PROGRESS = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"
SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"


def _epoch_ms(iso: str) -> float:
    t = datetime.datetime.fromisoformat(iso.replace("Z", "+00:00"))
    return t.timestamp() * 1000.0


def _events(path: str):
    if os.path.isdir(path):  # rolling log: events_<n>_<app id>, in order
        names = [n for n in os.listdir(path) if n.startswith("events_")]
        names.sort(key=lambda n: int(n.split("_")[1]))
        files = [os.path.join(path, n) for n in names]
    else:
        files = [path]
    for name in files:
        with open(name) as f:
            for line in f:
                yield json.loads(line)


def read_log(path: str) -> dict:
    """The events the timeline needs, keyed by id."""
    progress, sqls, jobs = [], {}, {}
    stages: dict = defaultdict(lambda: {"tasks": 0, "run_ms": 0.0, "cpu_ms": 0.0})
    for e in _events(path):
        kind = e["Event"]
        if kind == PROGRESS:
            progress.append(e["progress"])
        elif kind == SQL_START:
            plan = (e.get("physicalPlanDescription") or "").splitlines()
            sqls[e["executionId"]] = {
                "start": e["time"],
                "end": None,
                "root": plan[1].strip(" *") if len(plan) > 1 else "",
            }
        elif kind == SQL_END and e["executionId"] in sqls:
            sqls[e["executionId"]]["end"] = e["time"]
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            sql_id = props.get("spark.sql.execution.id")
            jobs[e["Job ID"]] = {
                "start": e["Submission Time"],
                "end": None,
                "sql": int(sql_id) if sql_id is not None else None,
                "stages": e["Stage IDs"],
            }
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            st = stages[info["Stage ID"]]
            st["name"] = info["Stage Name"]
            st["start"] = info.get("Submission Time")
            st["end"] = info.get("Completion Time")
        elif kind == "SparkListenerTaskEnd":
            st = stages[e["Stage ID"]]
            m = e.get("Task Metrics") or {}
            st["tasks"] += 1
            st["run_ms"] += m.get("Executor Run Time", 0)
            st["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
    return {"progress": progress, "sqls": sqls, "jobs": jobs, "stages": stages}


def _span(t0: float, start, end) -> str:
    if start is None:
        return "?"
    tail = f"{end - t0:+.0f}" if end is not None else "?"
    return f"{start - t0:+.0f}..{tail} ms"


def timeline(log: dict, batches: set[int] | None = None) -> list[str]:
    sqls, jobs, stages = log["sqls"], log["jobs"], log["stages"]
    out = []
    for p in log["progress"]:
        if batches is not None and p["batchId"] not in batches:
            continue
        d = p.get("durationMs") or {}
        t0 = _epoch_ms(p["timestamp"])
        t1 = t0 + d.get("triggerExecution", 0)
        phases = ", ".join(f"{k} {d[k]}" for k in PHASES if k in d)
        rows = sum(src.get("numInputRows", 0) for src in p.get("sources", []))
        out.append(
            f"batch {p['batchId']}  run {p['runId'][:8]}  rows {rows}"
            f"  trigger {d.get('triggerExecution', 0)} ms"
        )
        out.append(f"  phases (ms): {phases}")
        inside = lambda t: t is not None and t0 <= t <= t1  # noqa: E731
        own_jobs = sorted(j for j, v in jobs.items() if inside(v["start"]))
        own_sqls = sorted(s for s, v in sqls.items() if inside(v["start"]))
        groups = [(s, [j for j in own_jobs if jobs[j]["sql"] == s]) for s in own_sqls]
        orphans = [j for j in own_jobs if jobs[j]["sql"] not in own_sqls]
        if orphans:
            groups.append((None, orphans))
        for s, js in groups:
            if s is None:
                out.append("  jobs outside the batch's SQL executions")
            else:
                v = sqls[s]
                out.append(f"  sql {s}  {_span(t0, v['start'], v['end'])}  {v['root']}")
            for j in js:
                v = jobs[j]
                out.append(f"    job {j}  {_span(t0, v['start'], v['end'])}")
                for sid in v["stages"]:
                    st = stages.get(sid)
                    if st is None or "name" not in st:
                        continue  # skipped: its shuffle output was reused
                    out.append(
                        f"      stage {sid}  {_span(t0, st['start'], st['end'])}"
                        f"  tasks {st['tasks']}  run {st['run_ms']:.0f} ms"
                        f"  cpu {st['cpu_ms']:.0f} ms  {st['name'].rsplit('/', 1)[-1]}"
                    )
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("event_log")
    ap.add_argument("--batch", type=int, nargs="*", default=None)
    args = ap.parse_args()
    batches = set(args.batch) if args.batch else None
    print("\n".join(timeline(read_log(args.event_log), batches)))


if __name__ == "__main__":
    main()
