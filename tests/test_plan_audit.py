"""tools/plan_audit.py's plan fingerprint: the distinct-aggregate
``Expand`` that Spark orders differently in each JVM fingerprints the
same, and a plan that pairs an aggregate with another group does not.
Pure string checks; no Spark session."""

from __future__ import annotations

import os
import sys

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)

from plan_audit import canonical_expands  # noqa: E402

# cramers_v's marginal counts, id-stripped, as two JVMs printed them
RUN_A = """\
:  :  :- Project [nL]
:  :  :  +- Filter ((rkL > 1) AND (ckL > 1))
:  :  :     +- Aggregate [first(sum(o)L, true) FILTER (WHERE (gid = 0)) AS nL, count(p) FILTER (WHERE (gid = 2)) AS rkL, count(s) FILTER (WHERE (gid = 1)) AS ckL]
:  :  :        +- Aggregate [s, p, gid], [s, p, gid, sum(oL) AS sum(o)L]
:  :  :           +- Expand [[null, null, 0, oL], [s, null, 1, null], [null, p, 2, null]], [s, p, gid, oL]
:  :  :              +- Aggregate [o_orderpriority, o_orderstatus], [o_orderpriority AS p, o_orderstatus AS s, count(1) AS oL]"""
RUN_B = """\
:  :  :- Project [nL]
:  :  :  +- Filter ((rkL > 1) AND (ckL > 1))
:  :  :     +- Aggregate [first(sum(o)L, true) FILTER (WHERE (gid = 0)) AS nL, count(p) FILTER (WHERE (gid = 1)) AS rkL, count(s) FILTER (WHERE (gid = 2)) AS ckL]
:  :  :        +- Aggregate [p, s, gid], [p, s, gid, sum(oL) AS sum(o)L]
:  :  :           +- Expand [[null, null, 0, oL], [p, null, 1, null], [null, s, 2, null]], [p, s, gid, oL]
:  :  :              +- Aggregate [o_orderpriority, o_orderstatus], [o_orderpriority AS p, o_orderstatus AS s, count(1) AS oL]"""


def test_expand_group_order_does_not_change_the_canonical_plan():
    assert RUN_A != RUN_B
    assert canonical_expands(RUN_A) == canonical_expands(RUN_B)


def test_expand_canonical_form_keeps_aggregate_group_pairing():
    # count(p) reads the s group and count(s) the p group
    swapped = RUN_A.replace("(gid = 2)) AS rkL", "(gid = 1)) AS rkL", 1).replace(
        "(gid = 1)) AS ckL", "(gid = 2)) AS ckL", 1
    )
    assert canonical_expands(swapped) != canonical_expands(RUN_A)


def test_plans_without_a_gid_expand_are_unchanged():
    rollup = (
        "Aggregate [c_mktsegment, c_nationkey, spark_grouping_id], [sum(c_acctbal) AS s]\n"
        "+- Expand [[c_acctbal, c_mktsegment, c_nationkey, 0], "
        "[c_acctbal, c_mktsegment, null, 1]], "
        "[c_acctbal, c_mktsegment, c_nationkey, spark_grouping_id]"
    )
    assert canonical_expands(rollup) == rollup
