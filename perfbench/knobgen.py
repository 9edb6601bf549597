"""Open-loop knob message generator, run as its own single-threaded process.

Publishes the reference simulator's wire messages (``{"id", "n", "ts"}``
JSON, one per knob per tick) into a file topic: one parquet file per
tick with a single ``value`` string column, written under a hidden name
and renamed into place so the stream never reads a partial file. Each
tick is published when it is due, whatever the consumer is doing.

    python3 knobgen.py --topic DIR --seed S --log PATH

The process starts, imports what it needs, then reads its schedule as one
JSON line ``{"t0": EPOCH_S, "first": K, "ticks": N}`` from standard input,
so its start-up never delays a tick.

``ts`` is the tick's due time ``t0 + k * TICK_S``. The log records, per
tick, the due time, the time the file landed and the valid messages.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import time

KNOBS = 5  # util/util.go:10
N = 200_000  # per-knob rate, 5 x 200k = 1M fanned msgs/s
DELTA = 0.2  # knobs.go: quota = floor(n * delta) per 200 ms tick
TICK_S = 0.2  # knobs.go PUB_DELAY
POISON_P = 0.1  # chance that a tick also carries one malformed message


def tick_lines(seed: int, k: int, t0: float) -> tuple[list[str], list[int]]:
    """The messages of tick ``k``: one valid message per knob, plus, for
    a seeded share of ticks, one malformed one. Returns the lines and the
    knob ids of the valid messages."""
    rng = random.Random(f"{seed}:{k}")
    ts = t0 + k * TICK_S
    lines = [json.dumps({"id": i, "n": N, "ts": ts}) for i in range(KNOBS)]
    if rng.random() < POISON_P:
        bad = rng.choice(['{"id": 3, "n": 2000', "not json", '{"id": "x", "n": }'])
        lines.insert(rng.randrange(len(lines) + 1), bad)
    return lines, list(range(KNOBS))


def publish(topic: str, k: int, lines: list[str]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    tmp = os.path.join(topic, f".tick-{k:08d}.parquet")
    pq.write_table(pa.table({"value": lines}), tmp)
    os.rename(tmp, os.path.join(topic, f"tick-{k:08d}.parquet"))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--topic", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--log", required=True)
    a = ap.parse_args()
    import pyarrow as pa
    import pyarrow.parquet as pq

    # the first parquet write initializes the writer: pay it before any
    # tick is due
    pq.write_table(pa.table({"value": ["warm-up"]}), pa.BufferOutputStream())

    os.makedirs(a.topic, exist_ok=True)
    plan = json.loads(sys.stdin.readline())
    t0, first, ticks = float(plan["t0"]), int(plan["first"]), int(plan["ticks"])
    log = []
    for k in range(first, first + ticks):
        due = t0 + k * TICK_S
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        lines, valid = tick_lines(a.seed, k, t0)
        publish(a.topic, k, lines)
        log.append({"k": k, "due": due, "landed": time.time(), "valid": valid})
    tmp = a.log + ".tmp"
    with open(tmp, "w") as f:
        json.dump(log, f)
    os.replace(tmp, a.log)


if __name__ == "__main__":
    main()
