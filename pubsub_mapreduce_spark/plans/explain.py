"""Physical-plan introspection helpers.

The scale contract (100TB) is enforced in tests by asserting on plan
SHAPE, not just results: filters reach the parquet scan, dimension joins
broadcast, nothing degenerates to a cartesian product, hot paths stay in
whole-stage codegen. These helpers parse ``explain('formatted')`` output
so tests can pin those properties.
"""

from __future__ import annotations

import re
from collections import Counter

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    """The explain output as a string (Spark only prints it)."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), mode
    )


def assert_pushed_filters(df: DataFrame, *needles: str) -> None:
    """Assert the scan node reports PushedFilters containing each needle
    (column names are enough — exact predicate syntax varies by version)."""
    plan = explain_str(df)
    scan_lines = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    joined = "\n".join(scan_lines)
    assert scan_lines, f"no PushedFilters in plan:\n{plan}"
    for n in needles:
        assert n in joined, f"filter on {n!r} not pushed down:\n{joined}"


def assert_broadcast_join(df: DataFrame, min_count: int = 1) -> None:
    plan = explain_str(df)
    cnt = plan.count("BroadcastHashJoin") + plan.count("BroadcastNestedLoopJoin")
    assert cnt >= min_count, f"expected >= {min_count} broadcast joins:\n{plan}"


def assert_no_cartesian(df: DataFrame) -> None:
    plan = explain_str(df)
    assert "CartesianProduct" not in plan, f"cartesian product in plan:\n{plan}"


def assert_wholestage_codegen(df: DataFrame, min_spans: int = 1) -> None:
    """Formatted explain marks codegen'd nodes with ``[codegen id : N]``;
    distinct ids = distinct fused spans."""
    plan = explain_str(df)
    spans = set(re.findall(r"codegen id : (\d+)", plan))
    assert len(spans) >= min_spans, (
        f"expected >= {min_spans} WholeStageCodegen spans, got {len(spans)}:\n{plan}"
    )


def node_count(df: DataFrame, node: str) -> int:
    """How many physical nodes named ``node`` the plan contains (counted
    from formatted-explain detail headers ``(N) NodeName``, so tree and
    detail duplication doesn't double-count)."""
    plan = explain_str(df)
    return len(re.findall(rf"\(\d+\) {re.escape(node)}\b", plan))


def keyed_shuffle_count(df: DataFrame) -> int:
    """Exchanges excluding round-robin repartitions. ``io.widen`` inserts
    a RoundRobinPartitioning exchange purely to spread a single-row-group
    fixture scan across cores — a no-op at scale where scans already
    carry >= cores partitions — so the single-shuffle-per-key contract
    counts only keyed (hash/range) exchanges. SinglePartition exchanges
    are likewise excluded: they are the epilogue of a GLOBAL aggregate
    (one partial-agg row per upstream partition — #partitions rows total,
    e.g. the one-row corpus count query_subset's sample cap derives), not
    a data-sized keyed redistribution, and by definition not keyed."""
    plan = explain_str(df)
    headers = re.findall(r"\(\d+\) Exchange\b", plan)
    rr = plan.count("Arguments: RoundRobinPartitioning")
    sp = plan.count("Arguments: SinglePartition")
    return max(0, len(headers) - rr - sp)


def repeated_exchanges(plan: str) -> int:
    """How many keyed exchanges of a formatted plan repeat another one:
    same partitioning and same input columns once expression ids are
    stripped. Each member of a repeated group counts (4 copies -> 4).
    Such a group usually means one subtree is computed once per
    consumer — Catalyst has no cross-branch CSE, and branches that
    differ only in an inferred filter are not reused. An exchange AQE
    did reuse shows as a ``ReusedExchange`` node, not an ``Exchange``,
    so it never counts; in a plan not yet executed AQE has reused
    nothing, so a repeat there may still be reused at run time.
    Round-robin and single-partition exchanges are excluded, as in
    ``keyed_shuffle_count``."""
    keys: Counter[tuple[str, ...]] = Counter()
    for block in plan.split("\n\n"):
        if not re.match(r"\(\d+\) Exchange\n", block):
            continue
        inp = re.search(r"^Input \[\d+\]: (.*)$", block, re.M)
        args = re.search(r"^Arguments: (.*)$", block, re.M)
        if not args or args.group(1).startswith(("RoundRobinPartitioning", "SinglePartition")):
            continue
        key = tuple(
            re.sub(r"#\d+|, \[plan_id=\d+\]", "", m.group(1) if m else "")
            for m in (inp, args)
        )
        keys[key] += 1
    return sum(c for c in keys.values() if c > 1)


def assert_max_shuffles(df: DataFrame, n: int) -> None:
    """Assert the plan shuffles at most ``n`` times on a KEY (round-robin
    widening exchanges excluded — see keyed_shuffle_count). The scale
    contract for single-pass operators: one shuffle on the natural key,
    no more."""
    got = keyed_shuffle_count(df)
    assert got <= n, f"expected <= {n} keyed shuffle exchanges, got {got}"


def read_schemas(df: DataFrame) -> list[str]:
    """The ReadSchema struct string of every scan in the plan — for
    asserting column pruning reached the parquet reader."""
    plan = explain_str(df)
    return [
        ln.split("ReadSchema:", 1)[1].strip()
        for ln in plan.splitlines()
        if "ReadSchema:" in ln
    ]
