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
and the distinct-aggregate ``Expand`` put in canonical form
(``canonical_expands``), so a refactor that builds the same plans diffs
clean across the whole catalogue. Two runs' outputs diff line by line,
so plan regressions (an operator silently gaining a shuffle or losing
a broadcast) diff like correctness regressions. Run:

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


def _split_top(s: str) -> list[str]:
    """Split ``s`` on the commas outside any bracket or parenthesis."""
    out, depth, start = [], 0, 0
    for i, ch in enumerate(s):
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif ch == "," and depth == 0:
            out.append(s[start:i].strip())
            start = i + 1
    out.append(s[start:].strip())
    return out


def _canonical_list(s: str) -> str:
    """``[a, b, c]`` with its top-level items sorted."""
    return "[" + ", ".join(sorted(_split_top(s[1:-1]))) + "]"


def _bracket_end(s: str, start: int) -> int:
    depth = 0
    for i in range(start, len(s)):
        depth += s[i] == "["
        depth -= s[i] == "]"
        if depth == 0:
            return i + 1
    raise ValueError(f"unbalanced brackets in {s!r}")


def _depth(line: str) -> int:
    return len(line) - len(line.lstrip(" :+-"))


def canonical_expands(plan: str) -> str:
    """Put each distinct-aggregate ``Expand`` of an id-stripped plan
    string in one canonical form.

    Spark rewrites several distinct aggregates into an ``Expand`` that
    tags each group with a ``gid`` literal, and orders those groups and
    their columns by expression-id hashes, which differ from JVM to JVM.
    Here the ``Expand``'s columns are sorted, its rows are sorted and
    renumbered in that order (keeping the set of ``gid`` values), and
    its ancestors that read ``gid`` (the two aggregates above it) get
    the same renumbering and their grouping lists sorted. The pairing
    of each aggregate with its group survives, so a plan that pairs
    them differently still fingerprints differently. Plans without a
    ``gid`` ``Expand`` come back unchanged.
    """
    lines = plan.split("\n")
    for k, line in enumerate(lines):
        at = line.find("Expand [[")
        if at < 0:
            continue
        rows_end = _bracket_end(line, at + 7)
        cols_at = line.index("[", rows_end)
        cols_end = _bracket_end(line, cols_at)
        cols = _split_top(line[cols_at + 1 : cols_end - 1])
        if "gid" not in cols:
            continue
        rows = [
            _split_top(r[1:-1]) for r in _split_top(line[at + 8 : rows_end - 1])
        ]
        order = sorted(range(len(cols)), key=cols.__getitem__)
        g = cols.index("gid")
        rows = [[r[i] for i in order] for r in rows]
        g = order.index(g)
        old_gids = [r[g] for r in rows]
        rows.sort(key=lambda r: r[:g] + r[g + 1 :])
        renum = dict(zip((r[g] for r in rows), sorted(old_gids, key=int)))
        for r in rows:
            r[g] = renum[r[g]]
        lines[k] = (
            line[: at + 7]
            + "["
            + ", ".join("[" + ", ".join(r) + "]" for r in rows)
            + "], ["
            + ", ".join(cols[i] for i in order)
            + "]"
            + line[cols_end:]
        )
        depth = _depth(line)
        for j in range(k - 1, -1, -1):
            if _depth(lines[j]) >= depth:
                continue
            depth = _depth(lines[j])
            if not re.search(r"\bgid\b", lines[j]):
                break
            up = re.sub(
                r"\(gid = (\d+)\)",
                lambda m: f"(gid = {renum[m.group(1)]})",
                lines[j],
            )
            if up.lstrip(" :+-").startswith("Aggregate [") and "FILTER" not in up:
                head = up.index("Aggregate [") + 10
                grp_end = _bracket_end(up, head)
                res_at = up.index("[", grp_end)
                res_end = _bracket_end(up, res_at)
                up = (
                    up[:head]
                    + _canonical_list(up[head:grp_end])
                    + ", "
                    + _canonical_list(up[res_at:res_end])
                    + up[res_end:]
                )
            lines[j] = up
    return "\n".join(lines)


def plan_fingerprint(df) -> str:
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    # expression ids and the physical plan ids inside cached relations
    # come from process-wide counters
    plan = canonical_expands(re.sub(r"#\d+|plan_id=\d+", "", plan))
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
