"""Round-5 ADVICE regression pin: robust.spearman_types
day-intersection (ADVICE r4 low): ranks must be computed over the
SHARED day calendar, so the paired ranks are a permutation of 1..n of
the common subset even when the two types' calendars differ.
"""

from __future__ import annotations


def test_spearman_types_uses_shared_day_calendar(spark):
    """Two types with DIFFERENT day calendars: ranks must come from the
    day intersection. Construct series that are perfectly concordant on
    shared days but would rank differently over each type's own
    calendar (the extra non-shared day shifts x's ranks)."""
    import datetime

    from pubsub_mapreduce_spark.operators.robust import spearman_types

    rows = []
    eid = 0
    d = lambda i: datetime.datetime(2024, 1, 1 + i, 12, 0, 0)  # noqa: E731

    def add(t, day, n):
        nonlocal eid
        for _ in range(n):
            rows.append((eid, d(day), eid % 7, t, 1.0))
            eid += 1

    # shared days 0..3: x counts (2,4,6,8), y counts (1,3,5,7) -> on the
    # intersection both are strictly increasing => rho == 1 exactly.
    for day, (nx, ny) in enumerate(zip((2, 4, 6, 8), (1, 3, 5, 7))):
        add("click", day, nx)
        add("view", day, ny)
    # x-only day 4 with an INTERMEDIATE count (5): if ranks were
    # computed over x's own calendar (the pre-fix behavior), x's
    # shared-day ranks become 1,2,4,5 — not a permutation of 1..4 —
    # and rho drops to 7/sqrt(50) ~ 0.9899 instead of exactly 1.
    add("click", 4, 5)
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    out = {
        (r["ta"], r["tb"]): r["rho_plus1"]
        for r in spearman_types(df).collect()
    }
    key = ("click", "view")
    assert key in out
    assert abs(out[key] - 2.0) < 1e-12
