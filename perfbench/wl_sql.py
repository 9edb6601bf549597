"""tpch_sql: a closed loop of one client running a fixed mix of the
engine's registered relational queries over seeded TPC-H-shaped tables.

Catalyst, AQE, shuffles and joins do all the work: no Python workers and
no streaming state. Each round runs the whole mix once, in an order set
by the seed. A run measures whole rounds, one per ROUND_NOMINAL_S of run
length: a count fixed by the run length, so a slow moment cannot change
how much warm work a run measures.
"""

from __future__ import annotations

import math
import random
import time

from harness import Context, Counts, Result, oracle_mismatches, prepare_dataset, run_call
from measure import median

QUERIES = (
    "q1_pricing_summary",
    "q6_forecast_revenue",
    "q3_shipping_priority",
    "q5_revenue_by_nation",
    "q9_product_profit",
    "q18_big_orders",
    "q21_waiting_suppliers",
    "q4_priority_exists",
    "window_top_orders",
    "cube_orders",
    "asof_latest_order",
    "anti_no_orders",
)
SF = 0.02  # 120k lineitems, 30k orders
FILLER_DOCS = 60  # documents/embeddings exist only because every table is read
PREPARE_REPS = 3
ROUND_NOMINAL_S = 5.0


def run(ctx: Context) -> Result:
    from __spark_entry__ import queries

    res = Result()
    data, _ = prepare_dataset(ctx, res, PREPARE_REPS, SF, FILLER_DOCS, FILLER_DOCS)
    qs = queries()
    spark = ctx.spark

    def call(name: str, op: str, counts: Counts | None = None):
        c = run_call(ctx, name, lambda: qs[name](spark, data), "relational", op, counts)
        res.attempted += 1
        if c.error:
            res.failed += 1
            res.errors.append(f"{name}: {c.error}")
        return c

    t = time.perf_counter()
    with ctx.tracer.span("setup.warmup"):
        for name in QUERIES:
            call(name, f"warmup.{name}")
    res.warmup_s = time.perf_counter() - t

    last = {}
    build, execute = [], []
    counts = Counts()
    t_meas = time.perf_counter()
    for rnd in range(max(1, math.ceil(ctx.seconds / ROUND_NOMINAL_S))):
        order = random.Random(f"{ctx.seed}:{rnd}").sample(QUERIES, len(QUERIES))
        calls = [
            call(name, f"r{rnd}.{name}", counts if rnd == 0 else None) for name in order
        ]
        res.latency_s += [c.total_s for c in calls]
        build.append(sum(c.build_s for c in calls))
        execute.append(sum(c.exec_s for c in calls))
        last.update((c.name, c) for c in calls)
    res.measured_s = time.perf_counter() - t_meas
    res.throughput_per_s = len(res.latency_s) / res.measured_s

    bad = oracle_mismatches(data, last)
    res.errors += [f"{n}: oracle mismatch: {why}" for n, why in bad.items()]
    res.quality = (len(QUERIES) - len(bad)) / len(QUERIES)
    res.layers = {
        "operators.plan_build_s": median(build),
        "operators.relational.exec_s": median(execute),
        **(counts.values if ctx.tracer.enabled else {}),
    }
    return res
