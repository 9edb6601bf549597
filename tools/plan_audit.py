"""Physical-plan inventory for every registered query.

The correctness sweep proves the ANSWERS; this artifact proves the
PLANS — for each ``queries()`` entry at sf0.001 (plan shape is
SF-independent; the tiny fixture keeps analysis fast), one line:

    name  shuffles=K  repeats=R  bcast=B  scans=S  cartesian=Y/N  codegen=C  plan=H

where ``shuffles`` counts KEYED exchanges (round-robin widening
excluded — ``plans.explain.keyed_shuffle_count``), ``repeats`` counts
keyed exchanges whose partitioning and input columns (expression ids
stripped) occur more than once with no ``ReusedExchange`` — a subtree
computed once per consumer (``plans.explain.repeated_exchanges``),
``bcast`` counts
broadcast joins, ``scans`` counts parquet scan nodes (a query that
re-scans a table it already aggregated shows up here), ``cartesian``
flags CartesianProduct nodes, ``codegen`` counts fused
whole-stage spans, and ``plan`` is the first 12 hex digits of the sha1
of the optimized logical plan with expression ids (``#123``) and
physical plan ids (``plan_id=123``, inside cached relations) stripped,
so a refactor that builds the same plans diffs clean across the whole
catalogue. Queries with more than one distinct aggregate get a
different fingerprint from run to run: Spark numbers the ``Expand``
groups it rewrites them into in no fixed order. Two runs' outputs diff line by line, so plan regressions (an
operator silently gaining a shuffle or losing a broadcast) diff like
correctness regressions. Run:

    python tools/plan_audit.py [SF_DIR] [PLANS_LOCAL.txt]
"""

import hashlib
import re
import sys

sys.path.insert(0, __file__.rsplit("/", 2)[0])

import __spark_entry__ as m
from pubsub_mapreduce_spark.plans.explain import (
    explain_str,
    keyed_shuffle_count,
    repeated_exchanges,
)
from pubsub_mapreduce_spark.session import get_spark


def plan_fingerprint(df) -> str:
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    # expression ids and the physical plan ids inside cached relations
    # come from process-wide counters
    plan = re.sub(r"#\d+|plan_id=\d+", "", plan)
    return hashlib.sha1(plan.encode()).hexdigest()[:12]


def audit_line(name, df) -> str:
    plan = explain_str(df)
    shuffles = keyed_shuffle_count(df)
    bcast = plan.count("BroadcastHashJoin") + plan.count(
        "BroadcastNestedLoopJoin"
    )
    scans = len(re.findall(r"\(\d+\) Scan parquet", plan))
    cartesian = "Y" if "CartesianProduct" in plan else "N"
    codegen = len(set(re.findall(r"codegen id : (\d+)", plan)))
    return (
        f"{name} shuffles={shuffles} repeats={repeated_exchanges(plan)} "
        f"bcast={bcast} scans={scans} "
        f"cartesian={cartesian} codegen={codegen} plan={plan_fingerprint(df)}"
    )


def main(sf_dir: str, out_path: str) -> int:
    spark = get_spark()
    qs = m.queries()
    n_cart, done = [], 0
    with open(out_path, "w") as out:
        print(f"# plan audit @ {sf_dir}", file=out, flush=True)
        for name, fn in qs.items():
            try:
                line = audit_line(name, fn(spark, sf_dir))
                if " cartesian=Y" in line:
                    n_cart.append(name)
                print(line, file=out, flush=True)
            except Exception as ex:  # noqa: BLE001 - report, keep auditing
                print(f"ERROR {name} {str(ex)[:120]!r}", file=out, flush=True)
            done += 1
            if done % 25 == 0:
                print(f"progress {done}", flush=True)
        print(
            f"# audited={done} cartesian={len(n_cart)} {n_cart}",
            file=out,
            flush=True,
        )
    print("audited:", done, "cartesian:", n_cart)
    return 0


if __name__ == "__main__":
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out = sys.argv[2] if len(sys.argv) > 2 else "PLANS_LOCAL.txt"
    raise SystemExit(main(sf, out))
