"""Profiling helper: time declared queries in isolation and dump their
formatted plans (measure first, noop sink, labeled jobs).

Usage:
  python tools/profile_query.py [--reps N] [--suffix before --plans-dir DIR] name...

Reads the fixture directory named by ``SPARK_GRAFT_SF_DIR`` (default
sf0.1). Prints one JSON line {"name": {"min": s, "times": [...]}} per
query plus a total. Plans go to <plans-dir>/<name>_<suffix>.txt when
--suffix is given; --suffix requires --plans-dir.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import __spark_entry__ as entrymod  # noqa: E402
from pubsub_mapreduce_spark.session import get_spark  # noqa: E402


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--suffix", default=None)
    ap.add_argument("--plans-dir", default=None)
    ap.add_argument("--no-warm", action="store_true")
    args = ap.parse_args()
    if args.suffix and not args.plans_dir:
        ap.error("--suffix requires --plans-dir")

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(
        app_name="profile",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    queries = entrymod.queries()

    if not args.no_warm:
        force(queries["q5_revenue_by_nation"](spark, sf_dir))

    out = {}
    for name in args.names:
        fn = queries[name]
        if args.suffix:
            os.makedirs(args.plans_dir, exist_ok=True)
            df = fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(
                os.path.join(args.plans_dir, f"{name}_{args.suffix}.txt"), "w"
            ) as f:
                f.write(plan)
        times = []
        for _ in range(args.reps):
            spark.sparkContext.setJobDescription(f"profile:{name}")
            t0 = time.perf_counter()
            force(fn(spark, sf_dir))
            times.append(round(time.perf_counter() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        out[name] = {"min": min(times), "times": times}
        print(json.dumps({name: out[name]}), flush=True)

    print(
        json.dumps(
            {
                "total_min_sum": round(sum(v["min"] for v in out.values()), 3),
                "n": len(out),
            }
        )
    )


if __name__ == "__main__":
    main()
