"""Benchmark of the pubsub_mapreduce_spark engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Workloads (see README.md): knob_stream,
tpch_sql, llm_curation. Inputs are generated from the seed; outputs are
checked after the timed region. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` —
the end-to-end metrics untraced, the per-layer metrics traced. Traced
runs also write their spans to ``perfbench/_work/spans-*.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("knob_stream", "tpch_sql", "llm_curation")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seconds <= 0:
        ap.error("--seconds must be positive")
    if not os.path.isfile(os.path.join(ROOT, "pubsub_mapreduce_spark", "__init__.py")):
        print(
            f"perfbench: no pubsub_mapreduce_spark package under {ROOT}; "
            "run from a checkout of the repository",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, ROOT)

    import harness
    from measure import Tracer, median

    work_root = os.path.join(HERE, "_work")
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # Spark, the JVM and Python's tempfile all keep scratch files here.
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"

    if args.workload == "knob_stream":
        import wl_knob as workload
    elif args.workload == "tpch_sql":
        import wl_sql as workload
    else:
        import wl_curation as workload

    tracer = Tracer(enabled=bool(args.trace))
    t = time.perf_counter()
    with tracer.span("session.get_spark"):
        spark, session = harness.start_session(work)
    session_s = time.perf_counter() - t
    print(json.dumps({"session": session}), flush=True)
    ctx = harness.Context(spark, tracer, args.seed, args.seconds, work)
    try:
        res = workload.run(ctx)
        mem = harness.peak_mem_mb(spark)
    finally:
        harness.stop_session(spark)

    for e in res.errors:
        ctx.log(f"check failed: {e}")
    if args.trace:
        metrics = {name: 0.0 for name in harness.PER_LAYER}
        metrics.update(res.layers)
        metrics.update(harness.tail_layers(res))
        metrics["session.start_s"] = session_s
        metrics["io.read_table_s"] = median(res.read_table_s)
        metrics["trace.spans"] = float(len(tracer.spans))
        metrics["trace.overhead_frac"] = tracer.overhead_s / max(res.measured_s, 1e-9)
        tracer.write(os.path.join(work_root, f"spans-{args.workload}-{args.seed}.jsonl"))
        units = harness.PER_LAYER
    else:
        metrics = {
            "setup_s": harness.setup_seconds(session_s, res),
            "peak_mem_mb": mem,
            "throughput_per_s": res.throughput_per_s,
            "latency_p50_s": median(res.latency_s),
            "quality": res.quality,
        }
        units = harness.E2E
    shutil.rmtree(work, ignore_errors=True)
    out = {
        "correct": not res.errors and res.failed == 0,
        "attempted": max(1, res.attempted),
        "failed": res.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
