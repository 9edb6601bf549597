"""Robust statistics over the ``events`` stream: outlier detection and
winsorized aggregates — the data-quality screens a training-data or
metrics pipeline runs before anything downstream trusts ``value``.

Reference parity: the reference pipeline has no robust-stats stage (its
values are synthetic knobs, mapper.go/reducer.go), so these are part of
the beyond-reference training-data surface the brief asks for.

Cross-engine exactness strategy (same discipline as ``dedup`` /
``relational``): ``value`` is a 2-decimal quantity, so every comparison
runs on integer cents. The z-score test is algebraically cleared of
divisions and square roots —

    |x - mean| > k * sd
    <=> (n*x - S)^2 > k^2 * (n*Q - S^2)        (n, S=sum, Q=sum of squares)

— so the flag is a pure integer predicate, bit-identical in any engine
(DuckDB promotes to HUGEINT; Spark side is DECIMAL(38,0), exact up to
38 digits: at n=1e9 rows/group and cents<=1e6, n*Q ~ 1e27 — headroom to
~1e11 rows/group before precision clamping could bite).

Scale notes (100 TB): both operators are one shuffle on ``event_type``
(tiny key space -> broadcast the per-group stats back). The winsorizer
needs per-group order statistics: rather than a global sort, it uses a
window rank inside each type partition — at 1000 executors a single
skewed type is the risk, mitigated by the two-phase layout note in
``winsorized_stats``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import round_half_up

DEC = "decimal(38,0)"


def _cents(col: str = "value") -> F.Column:
    # 2-decimal doubles: value*100 is within 1e-9 of an integer, so any
    # round-mode (Spark HALF_UP here, DuckDB's round in the oracle)
    # lands on the same integer — never a .5 boundary.
    return F.round(F.col(col) * 100).cast("long")


def value_outliers(events: DataFrame, k: int = 3) -> DataFrame:
    """Per-``event_type`` k-sigma outliers, flagged with an integer-only
    predicate (module docstring): returns the flagged events with their
    group context and the side of the deviation.

    Plan: one partial-aggregated shuffle to the |types|-row stats
    table, then a broadcast join back onto the scan — the event side is
    never re-shuffled and flag evaluation stays map-side. A window over
    event_type measures the same locally (A/B at sf0.1, 5 interleaved
    reps: 0.51s broadcast vs 0.43s window median — the window saves the
    tiny agg+join at this size) but is the wrong shape at 100 TB: it
    shuffles EVERY event row and serializes each type into a single
    task, capping the whole job at |types| cores. Broadcast wins on the
    cluster; the local delta is noise-level.
    """
    c = events.select(
        "event_id", "event_type", _cents().alias("cents")
    )
    x = F.col("cents").cast(DEC)
    stats = c.groupBy("event_type").agg(
        F.count(F.lit(1)).cast(DEC).alias("n"),
        F.sum(x).alias("s"),
        F.sum(x * x).alias("q"),
    )
    lhs = (F.col("n") * F.col("cents").cast(DEC) - F.col("s"))
    rhs = F.lit(k * k).cast(DEC) * (
        F.col("n") * F.col("q") - F.col("s") * F.col("s")
    )
    return (
        c.join(F.broadcast(stats), "event_type")
        .where(lhs * lhs > rhs)
        .select(
            "event_type",
            "event_id",
            "cents",
            F.when(lhs > 0, F.lit("high")).otherwise(F.lit("low")).alias("side"),
            F.col("n").cast("long").alias("n_group"),
        )
    )


def winsorized_stats(events: DataFrame, p: float = 0.05) -> DataFrame:
    """Per-``event_type`` winsorized mean: clamp cents to the exact
    [p, 1-p] order statistics (type-1 quantile: the value at
    ``row_number = ceil(q*n)`` under ``ORDER BY cents, event_id`` —
    event_id tiebreak makes the rank, hence the cut points,
    engine-independent), then average the clamped values. Raw mean
    reported alongside for the contrast. Ratios are integer/integer
    divided once and rounded HALF_UP, so the twin engines agree on
    every output digit.

    Scale: the rank is a window inside each type partition — one
    shuffle on event_type. With few huge groups the per-type sort is
    the cost (Spark spills sorts; at 100 TB prefer writing events
    bucketed+sorted by (event_type, value) so the window degenerates
    to a merge scan — same layout trick as ``io.write_zordered``).
    """
    c = events.select("event_id", "event_type", _cents().alias("cents"))
    w = Window.partitionBy("event_type").orderBy("cents", "event_id")
    ranked = c.select(
        "event_type",
        "cents",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("n"),
    )
    lo_rn = F.greatest(F.lit(1), F.ceil(F.lit(p) * F.col("n")))
    hi_rn = F.ceil(F.lit(1.0 - p) * F.col("n"))
    cuts = (
        ranked.groupBy("event_type")
        .agg(
            F.max("n").alias("n"),
            F.max(F.when(F.col("rn") == lo_rn, F.col("cents"))).alias("lo_cents"),
            F.max(F.when(F.col("rn") == hi_rn, F.col("cents"))).alias("hi_cents"),
        )
    )
    clamped = (
        c.join(F.broadcast(cuts), "event_type")
        .select(
            "event_type",
            "n",
            "lo_cents",
            "hi_cents",
            F.greatest("lo_cents", F.least("hi_cents", F.col("cents"))).alias("wc"),
            F.col("cents"),
        )
    )
    return (
        clamped.groupBy("event_type", "n", "lo_cents", "hi_cents")
        .agg(
            round_half_up(F.sum("cents") / F.col("n"), 4).alias("mean_cents"),
            round_half_up(F.sum("wc") / F.col("n"), 4).alias("win_mean_cents"),
        )
        .select(
            "event_type", "n", "lo_cents", "hi_cents",
            "mean_cents", "win_mean_cents",
        )
    )


def mad_outliers(events: DataFrame, k: int = 5) -> DataFrame:
    """Median-absolute-deviation outliers per ``event_type`` — the
    robust twin of ``value_outliers`` (a handful of wild points inflate
    mean AND sd, masking each other; the median/MAD pair is immune up
    to 50% contamination). Flag rows where |cents - median| > k * MAD.

    Everything is an integer: the median and MAD are type-1 order
    statistics (value at ``row_number = ceil(n/2)`` under a
    (value, event_id) sort — deterministic ties), |cents - med| is an
    integer, and the flag is an integer comparison, so any engine
    agrees on every row. ``k`` is in raw MAD units (no 1.4826
    normal-consistency scaling — that constant is only meaningful
    against a normality assumption the robust estimator exists to
    avoid; pick k accordingly).

    Scale: two rank windows inside each type partition (median, then
    deviation median) — two keyed shuffles on event_type plus broadcast
    joins back; same skewed-type caveat and bucketed-layout remedy as
    ``winsorized_stats``.
    """
    c = events.select("event_id", "event_type", _cents().alias("cents"))
    w1 = Window.partitionBy("event_type").orderBy("cents", "event_id")
    ranked = c.select(
        "event_type",
        "cents",
        F.row_number().over(w1).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("n"),
    )
    med_rn = F.ceil(F.col("n") / F.lit(2))
    med = ranked.groupBy("event_type").agg(
        F.max(F.when(F.col("rn") == med_rn, F.col("cents"))).alias("med")
    )
    dev = c.join(F.broadcast(med), "event_type").select(
        "event_type",
        "event_id",
        "cents",
        "med",
        F.abs(F.col("cents") - F.col("med")).alias("dev"),
    )
    w2 = Window.partitionBy("event_type").orderBy("dev", "event_id")
    dranked = dev.select(
        "event_type",
        "dev",
        F.row_number().over(w2).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("n"),
    )
    mad = dranked.groupBy("event_type").agg(
        F.max(F.when(F.col("rn") == F.ceil(F.col("n") / F.lit(2)), F.col("dev"))).alias(
            "mad"
        )
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .where(F.col("dev") > F.lit(k) * F.col("mad"))
        .select("event_type", "event_id", "cents", "med", "mad", "dev")
    )


def seasonal_outliers(events: DataFrame, k: int = 3) -> DataFrame:
    """Seasonally-decomposed volume anomalies: daily event counts
    compared against the median/MAD of their OWN day-of-week cohort —
    the Monday dip is normal for Mondays, so a raw daily-count monitor
    (``value_outliers`` shape) either misses weekday anomalies or
    pages on every weekend. The robust per-cohort location/scale is
    the same integer order-statistic machinery as ``mad_outliers``.

    Day-of-week is derived as (days since 1992-01-01) % 7 — pure
    integer arithmetic, no locale/week-start convention to disagree
    on. Every day is emitted with its cohort stats and an is_outlier
    flag (flagging is a projection, not a filter, so quiet fixtures
    still produce a verifiable report). Two tiny keyed shuffles over
    the |days| relation; the only data-sized pass is the daily count."""
    daily = (
        events.select(
            F.datediff(F.to_date("ts"), F.lit("1992-01-01").cast("date")).alias("dn")
        )
        .groupBy("dn")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("dow", F.pmod(F.col("dn"), F.lit(7)).cast("int"))
        # |days|-sized; three downstream branches (median, deviation,
        # report) would each replay the events scan without this
        # (no cross-branch CSE in Catalyst — the covariance/closure
        # precedent): one materialization, one events pass total
        .localCheckpoint(eager=False)
    )
    w1 = Window.partitionBy("dow").orderBy("cnt", "dn")
    ranked = daily.select(
        "dow",
        "cnt",
        F.row_number().over(w1).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("dow")).alias("n"),
    )
    med = ranked.groupBy("dow").agg(
        F.max(F.when(F.col("rn") == F.ceil(F.col("n") / 2), F.col("cnt"))).alias("med")
    )
    dev = daily.join(F.broadcast(med), "dow").withColumn(
        "dev", F.abs(F.col("cnt") - F.col("med"))
    )
    w2 = Window.partitionBy("dow").orderBy("dev", "dn")
    dranked = dev.select(
        "dow",
        "dev",
        F.row_number().over(w2).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("dow")).alias("n"),
    )
    mad = dranked.groupBy("dow").agg(
        F.max(F.when(F.col("rn") == F.ceil(F.col("n") / 2), F.col("dev"))).alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "dow")
        .select(
            "dn",
            "dow",
            "cnt",
            "med",
            "mad",
            "dev",
            (F.col("dev") > F.lit(k) * F.col("mad")).alias("is_outlier"),
        )
    )


def user_value_ema(events: DataFrame, shift: int = 2) -> DataFrame:
    """Per-user exponential moving average of event values — the
    smoothed baseline an anomaly monitor compares fresh events against.
    alpha = 1/2^shift, in INTEGER cents:

        ema' = (cents + (2^shift - 1) * ema) div 2^shift

    EMA is a NON-ASSOCIATIVE recursion — no window frame computes it
    (running sums are associative; this is not). The scalable exact
    form is a per-key sorted fold: collect each user's (ts, value)
    history into an array (bounded by per-user event count, the same
    state assumption every stateful-stream operator makes), array_sort
    for deterministic (ts, event_id) order, and one codegen'd
    ``aggregate`` HOF — integer div keeps every step exact, so DuckDB's
    list_reduce mirror is bit-identical. One user-keyed shuffle.
    NON-NEGATIVE cents assumed (holds for the value domain). Measured
    on DuckDB v1.0.0: ``//`` also TRUNCATES toward zero (-7 // 4 =
    -1), matching Spark ``div`` even on negative dividends — the
    holt_forecast/user_cusum_target folds rely on that; this fold
    never sees a negative anyway.

    Returns the FINAL smoothed value per user plus the raw last value
    and count — the (key, baseline) table a monitor broadcasts."""
    denom = 1 << shift
    ev = events.select(
        "user_id",
        F.struct(
            F.col("ts").cast("double").alias("tt"),
            F.col("event_id").alias("eid"),
            _cents().alias("cents"),
        ).alias("rec"),
    )
    fold = F.expr(
        f"""aggregate(
              array_sort(collect_list(rec)),
              named_struct('ema', CAST(-1 AS BIGINT),
                           'last', CAST(0 AS BIGINT),
                           'n', CAST(0 AS BIGINT)),
              (acc, r) -> named_struct(
                'ema', CASE WHEN acc.n = 0 THEN r.cents
                            ELSE (r.cents + {denom - 1} * acc.ema)
                                 div {denom} END,
                'last', r.cents,
                'n', acc.n + 1))"""
    )
    return (
        ev.groupBy("user_id")
        .agg(fold.alias("s"))
        .select(
            "user_id",
            F.col("s.ema").alias("ema_cents"),
            F.col("s.last").alias("last_cents"),
            F.col("s.n").alias("n_events"),
        )
    )


def user_cusum(events: DataFrame) -> DataFrame:
    """Per-user CUSUM change-point estimate: the index (and timestamp)
    where the cumulative deviation from the user's own mean peaks — the
    standard offline single-change-point locator (argmax |CUSUM|).

    Exactness strategy: the running sum ``P_i`` stays in INTEGER cents
    (window sum over longs — exact in any engine/order), and the mean
    enters through ONE deterministic float expression per row,
    ``dev_i = P_i - i * (S/n)`` with ``S``, ``n``, ``i`` all integers —
    two IEEE ops in a fixed order, so Spark and the DuckDB oracle agree
    bit-for-bit. abs + round_half_up(4) for the emitted magnitude; the
    argmax tie-breaks on the earliest index, so selection is exact too.

    Scale: one user-keyed exchange; both windows (running sum and
    whole-partition S/n) reuse the SAME partitioning, and state per key
    is O(1). Reference analogue: T7's running total (reducer.go:79,87)
    turned into an analytic — the running aggregation reread as a
    change detector."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wall = Window.partitionBy("user_id")
    dev = F.col("p").cast("double") - F.col("i") * (
        F.col("s").cast("double") / F.col("n")
    )
    scored = (
        events.select("user_id", "ts", "event_id", _cents().alias("cents"))
        .select(
            "user_id",
            "ts",
            F.row_number().over(w).alias("i"),
            F.sum("cents").over(w).alias("p"),
            F.sum("cents").over(wall).alias("s"),
            F.count(F.lit(1)).over(wall).alias("n"),
        )
        .select(
            "user_id",
            "ts",
            "i",
            "n",
            round_half_up(F.abs(dev), 4).alias("abs_dev"),
        )
    )
    pick = Window.partitionBy("user_id").orderBy(
        F.desc("abs_dev"), F.asc("i")
    )
    return (
        scored.withColumn("rk", F.row_number().over(pick))
        .where(F.col("rk") == 1)
        .select(
            "user_id",
            F.col("n").alias("n_events"),
            F.col("i").alias("cp_idx"),
            F.unix_timestamp("ts").alias("cp_ts"),
            F.col("abs_dev").alias("cusum_max"),
        )
    )


def user_twap(events: DataFrame) -> DataFrame:
    """Per-user TIME-weighted average value (TWAP): each observation is
    held until the next one, so its weight is the gap to the successor
    in whole seconds; the final observation carries no forward interval
    and is excluded (standard left-closed TWAP). Contrast column
    ``mean_cents`` is the plain per-event mean over the same rows, so
    the burst-vs-steady bias is visible in one table.

    Integer-exact core: weights are BIGINT second gaps, values BIGINT
    cents, so both weighted and plain sums are exact; ONE mirrored
    division + round_half_up(4) per emitted ratio. One user-keyed
    exchange shared by the lead() window and the aggregate."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ts_s = F.unix_timestamp("ts")
    g = (
        events.select("user_id", "ts", "event_id", _cents().alias("cents"))
        .select(
            "user_id",
            "cents",
            (F.lead(ts_s).over(w) - ts_s).alias("gap_s"),
        )
        .where(F.col("gap_s").isNotNull())
    )
    return (
        g.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_held"),
            F.sum("gap_s").alias("held_s"),
            round_half_up(
                F.sum(F.col("cents") * F.col("gap_s")).cast("double")
                / F.sum("gap_s"),
                4,
            ).alias("twap_cents"),
            round_half_up(
                F.sum("cents").cast("double") / F.count(F.lit(1)), 4
            ).alias("mean_cents"),
        )
        # zero-total-weight guard: a user whose held observations all
        # fall in the same epoch second has sum(gap_s) = 0 — TWAP is
        # undefined (0/0: Spark NaN vs DuckDB NULL would diverge), so
        # the user is dropped, mirrored by HAVING in the oracle.
        .where(F.col("held_s") > 0)
    )


def trend_theil_sen(events: DataFrame) -> DataFrame:
    """Per-``event_type`` Theil–Sen trend: the MEDIAN of all pairwise
    slopes over the daily-count series — the robust alternative to OLS
    (up to ~29% wild days cannot move it), the right estimator for
    "is this event type growing?" over noisy product telemetry.

    Exactness: day index and counts are integers, every slope is ONE
    mirrored division ``CAST(c2-c1 AS DOUBLE)/(x2-x1)`` (bit-identical
    cross-engine), and the median is an ORDER STATISTIC (value at
    row_number = ceil(n/2) under (slope, x1, x2)) — selection, not
    averaging, so no float accumulation anywhere.

    Scale: pair expansion is quadratic in DAYS (calendar-bounded, not
    data-bounded — sf-invariant), keyed by event_type; at 100TB the
    same plan holds because the daily rollup collapses volume before
    the self-join. Clamp the window (e.g. last 365 days) to bound it
    further."""
    daily = events.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    x = daily.select(
        "event_type",
        F.datediff(F.col("d"), F.lit("1970-01-01")).alias("x"),
        "cnt",
    )
    a = x.alias("a")
    b = x.alias("b")
    slopes = (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.x") < F.col("b.x")),
        )
        .select(
            F.col("a.event_type").alias("event_type"),
            F.col("a.x").alias("x1"),
            F.col("b.x").alias("x2"),
            (
                (F.col("b.cnt") - F.col("a.cnt")).cast("double")
                / (F.col("b.x") - F.col("a.x"))
            ).alias("slope"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("slope", "x1", "x2")
    wn = Window.partitionBy("event_type")
    ranked = slopes.select(
        "event_type",
        "slope",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n_pairs"),
    )
    return (
        ranked.where(F.col("rn") == F.ceil(F.col("n_pairs") / 2))
        .select(
            "event_type",
            "n_pairs",
            round_half_up(F.col("slope"), 6).alias("slope_med"),
        )
    )


def holt_forecast(events: DataFrame) -> DataFrame:
    """Per-``event_type`` Holt linear (level + trend) smoothing over the
    daily-count series, with a one-step-ahead forecast — EMA's big
    sibling: EMA tracks a level; Holt also tracks where the level is
    HEADING, which is what capacity planning actually consumes.

    alpha = beta = 1/4 in INTEGER counts with truncating division, so
    every step is exact:

        l' = (c + 3*(l + b)) div 4
        b' = ((l' - l) + 3*b) div 4        (init: l = c0, b = 0)

    Like user_value_ema this is a NON-associative recursion — no window
    frame computes it — so the scalable exact form is the per-key
    sorted fold: daily counts collapse volume first (the array is
    calendar-bounded, not data-bounded), then ONE codegen'd
    ``aggregate`` HOF folds in day order. Trend can go NEGATIVE, but
    that is safe: DuckDB v1.0.0 integer ``//`` TRUNCATES toward zero
    (measured: ``-7 // 4 = -1``), exactly like Spark ``div``, so the
    oracle's plain ``// 4`` mirrors the fold bit-for-bit on signed
    steps too (same finding recorded for user_value_ema and in the
    verify skill notes)."""
    daily = events.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    rec = daily.select(
        "event_type",
        F.struct(
            F.datediff(F.col("d"), F.lit("1970-01-01")).alias("x"),
            F.col("cnt").alias("c"),
        ).alias("r"),
    )
    lp = "(r.c + 3 * (acc.l + acc.b)) div 4"
    fold = F.expr(
        f"""aggregate(
              array_sort(collect_list(r)),
              named_struct('l', CAST(0 AS BIGINT),
                           'b', CAST(0 AS BIGINT),
                           'n', CAST(0 AS BIGINT)),
              (acc, r) -> CASE WHEN acc.n = 0
                THEN named_struct('l', CAST(r.c AS BIGINT),
                                  'b', CAST(0 AS BIGINT),
                                  'n', CAST(1 AS BIGINT))
                ELSE named_struct(
                  'l', {lp},
                  'b', ((({lp}) - acc.l) + 3 * acc.b) div 4,
                  'n', acc.n + 1) END)"""
    )
    return (
        rec.groupBy("event_type")
        .agg(fold.alias("s"))
        .select(
            "event_type",
            F.col("s.n").alias("n_days"),
            F.col("s.l").alias("level"),
            F.col("s.b").alias("trend"),
            (F.col("s.l") + F.col("s.b")).alias("forecast_next"),
        )
    )


def type_correlation(events: DataFrame) -> DataFrame:
    """Pairwise Pearson correlation between event types' DAILY count
    series — "do errors spike with purchases?" — computed entirely
    from integer sums: n, Σx, Σy, Σxy, Σx², Σy² are BIGINT over the
    day-aligned join, and

        r = (n·Σxy − Σx·Σy) / (sqrt(n·Σx² − (Σx)²) · sqrt(n·Σy² − (Σy)²))

    is ONE mirrored float expression (IEEE sqrt correctly rounded), so
    even a correlation matrix is exactly value-hashable. Days missing
    for a type count as absent (inner join on day — pairwise-complete
    semantics, the standard choice).

    Scale: the daily rollup collapses volume first (calendar-bounded
    series); the pair join is |types|² × days — dimension-sized."""
    daily = events.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    a = daily.select(
        F.col("event_type").alias("ta"), "d", F.col("cnt").alias("x")
    )
    b = daily.select(
        F.col("event_type").alias("tb"), "d", F.col("cnt").alias("y")
    )
    j = a.join(b, "d").where(F.col("ta") < F.col("tb"))
    agg = j.groupBy("ta", "tb").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sx2"),
        F.sum(F.col("y") * F.col("y")).alias("sy2"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    dx = F.sqrt(
        (F.col("n") * F.col("sx2") - F.col("sx") * F.col("sx")).cast("double")
    )
    dy = F.sqrt(
        (F.col("n") * F.col("sy2") - F.col("sy") * F.col("sy")).cast("double")
    )
    return (
        agg
        # zero-variance guard (same integer predicate as daily_autocorr):
        # a constant series makes dx*dy = 0 and r undefined — drop the
        # pair BEFORE the division so no engine ever evaluates x/0
        # (Spark NaN vs DuckDB NULL would diverge).
        .where(
            (F.col("n") * F.col("sx2") - F.col("sx") * F.col("sx") > 0)
            & (F.col("n") * F.col("sy2") - F.col("sy") * F.col("sy") > 0)
        )
        .select(
            "ta",
            "tb",
            "n",
            round_half_up(num / (dx * dy) + F.lit(1.0), 6).alias("r_plus1"),
        )
    )


def user_cusum_target(
    events: DataFrame,
    target_cents: int = 25000,
    slack_cents: int = 2500,
    h_cents: int = 20000,
) -> DataFrame:
    """ONLINE (tabular) CUSUM against a known reference level — the
    deployable sibling of ``user_cusum`` (which locates a change
    offline against the series' own mean): per user, the classic
    one-sided pair

        S+ = max(0, S+ + (x - target - slack))
        S- = max(0, S- + (target - slack - x))

    with an ALARM whenever either side crosses ``h`` (then both reset
    — standard restart-after-signal). All integer cents, so the fold
    is exact; alarms and final statistics are pure functions of the
    ordered per-user series. Emits final S+/S-, event count, and the
    alarm count per user.

    Non-associative recursion -> per-key sorted HOF fold (the
    user_value_ema pattern). The oracle steps a recursive CTE: the
    alarm predicate couples S+ and S-, which is exactly the
    cross-field accumulator read DuckDB v1.0.0's in-place list_reduce
    gets wrong (holt_forecast finding)."""
    up = target_cents + slack_cents
    dn = target_cents - slack_cents
    ev = events.select(
        "user_id",
        F.struct(
            F.col("ts").cast("double").alias("tt"),
            F.col("event_id").alias("eid"),
            _cents().alias("c"),
        ).alias("r"),
    )
    sp1 = f"greatest(0L, acc.sp + (r.c - {up}))"
    sn1 = f"greatest(0L, acc.sn + ({dn} - r.c))"
    alarm = f"({sp1} > {h_cents} OR {sn1} > {h_cents})"
    fold = F.expr(
        f"""aggregate(
              array_sort(collect_list(r)),
              named_struct('sp', 0L, 'sn', 0L, 'n', 0L, 'na', 0L),
              (acc, r) -> named_struct(
                'sp', IF({alarm}, 0L, {sp1}),
                'sn', IF({alarm}, 0L, {sn1}),
                'n', acc.n + 1,
                'na', acc.na + IF({alarm}, 1L, 0L)))"""
    )
    return (
        ev.groupBy("user_id")
        .agg(fold.alias("s"))
        .select(
            "user_id",
            F.col("s.n").alias("n_events"),
            F.col("s.sp").alias("cusum_pos"),
            F.col("s.sn").alias("cusum_neg"),
            F.col("s.na").alias("n_alarms"),
        )
    )


def weighted_median(
    df: DataFrame,
    group: str,
    value: F.Column,
    weight: F.Column,
    tiebreak: str = "",
) -> DataFrame:
    """Per-group WEIGHTED median: the smallest value v whose cumulative
    weight reaches half the group total (lower weighted median) — the
    right central tendency when rows carry volume (a $5 part ordered
    10,000 times should pull the median more than a $900 part ordered
    once; the count-median ignores that).

    Pure order statistics on integers: weights pre-aggregate per
    (group, value) — the two-level trick (VERDICT r7 audit) — so the
    cumulative window runs over the per-group DISTINCT-VALUE spine
    (bounded by the value lattice, e.g. the cents price grid), never
    the row-sized relation a few-group ``partitionBy`` would push
    through one task each. Selection by ``2*cum >= total`` (integer
    cross-multiplication — no halving division to mirror). The
    crossing value is invariant under the aggregation (cumulative
    weight at a value's LAST row equals the aggregated cumulative), so
    this is bit-identical to the row-level window form — pinned in
    tests/test_round8_fixes.py. ``tiebreak`` is kept for API
    compatibility; aggregation collapses duplicate values, so the
    (g, v) order is already total."""
    del tiebreak  # duplicate values collapse in the (g, v) rollup
    d = df.select(
        F.col(group).alias("g"), value.alias("v"), weight.alias("w")
    )
    agg = d.groupBy("g", "v").agg(
        F.sum("w").alias("w"), F.count(F.lit(1)).alias("c")
    )
    wc = Window.partitionBy("g").orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wt = Window.partitionBy("g")
    c = agg.select(
        "g",
        "v",
        F.sum("w").over(wc).alias("cum"),
        F.sum("w").over(wt).alias("tot"),
        F.sum("c").over(wt).alias("n_rows"),
    ).where(F.lit(2) * F.col("cum") >= F.col("tot"))
    pick = Window.partitionBy("g").orderBy("v")
    return (
        c.withColumn("rn", F.row_number().over(pick))
        .where(F.col("rn") == 1)
        .select(
            F.col("g").alias(group),
            F.col("n_rows"),
            F.col("tot").alias("total_weight"),
            F.col("v").alias("weighted_median"),
        )
    )


def trend_report(events: DataFrame) -> DataFrame:
    """Robust-vs-OLS trend comparison per event type: the OLS slope
    from six integer moments (n, Σx, Σy, Σxy, Σx² over day indexes —
    one mirrored float expression, same family as type_correlation)
    joined with the Theil–Sen median slope. The DIVERGENCE between the
    two is the actionable signal: OLS chasing a few wild days while
    Theil–Sen holds steady means outliers, not trend — exactly what a
    capacity planner needs to see before believing a forecast.

    Daily rollup collapses volume first; OLS is one tiny aggregate,
    Theil–Sen the calendar-bounded pair median; the join is
    |event types| rows."""
    daily = events.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    x = daily.select(
        "event_type",
        F.datediff(F.col("d"), F.lit("1970-01-01")).alias("x"),
        F.col("cnt").alias("y"),
    )
    m = x.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sx2"),
    )
    ols = m.select(
        "event_type",
        F.col("n").alias("n_days"),
        round_half_up(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
                "double"
            )
            / (F.col("n") * F.col("sx2") - F.col("sx") * F.col("sx")),
            6,
        ).alias("slope_ols"),
    )
    ts_ = trend_theil_sen(events).select(
        "event_type", F.col("slope_med").alias("slope_theil_sen")
    )
    return ols.join(ts_, "event_type").select(
        "event_type",
        "n_days",
        "slope_ols",
        "slope_theil_sen",
        round_half_up(
            F.abs(F.col("slope_ols") - F.col("slope_theil_sen")), 6
        ).alias("divergence"),
    )


def daily_autocorr(events: DataFrame, max_lag: int = 7) -> DataFrame:
    """Lag-k autocorrelation of each event type's DAILY count series,
    k = 1..``max_lag`` — the seasonality detector (a weekly-cycled
    type shows r spiking at lag 7, a momentum-driven one decays
    smoothly, white noise sits at 0). Semantics: Pearson r between the
    pairs (x_t, x_{t+k}) over days where BOTH ends exist — the
    "lagged Pearson" form, which (unlike the textbook ACF that reuses
    one global mean) stays exact under missing days and mirrors
    ``type_correlation``'s arithmetic verbatim: n, Σx, Σy, Σxy, Σx²,
    Σy² are BIGINT over the day-aligned self-join, and r is ONE
    mirrored float expression (IEEE sqrt correctly rounded), so the
    whole correlogram is exactly value-hashable. Degenerate windows
    (zero variance on either end — constant series) are dropped by an
    INTEGER predicate on the two variance terms, not a float compare.

    Scale: the daily rollup collapses volume first; the lag spine is
    an explode of a literal sequence, and the self-join fans each
    daily row out |lags| times — |types| x days x max_lag rows,
    calendar-bounded regardless of event volume. Output +1 offset on
    r (r_plus1 in [0, 2]) sidesteps the -0.0 repr divergence, same as
    type_correlation."""
    daily = events.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    a = daily.select(
        "event_type",
        "d",
        F.col("cnt").alias("x"),
        F.explode(F.sequence(F.lit(1), F.lit(max_lag))).alias("lag"),
    )
    b = daily.select(
        F.col("event_type").alias("tb"),
        F.col("d").alias("db"),
        F.col("cnt").alias("y"),
    )
    j = a.join(
        b,
        (F.col("event_type") == F.col("tb"))
        & (F.col("db") == F.date_add(F.col("d"), F.col("lag"))),
    )
    agg = j.groupBy("event_type", "lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sx2"),
        F.sum(F.col("y") * F.col("y")).alias("sy2"),
    )
    vx = F.col("n") * F.col("sx2") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("sy2") - F.col("sy") * F.col("sy")
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    return (
        agg.where((vx > 0) & (vy > 0))
        .select(
            "event_type",
            "lag",
            "n",
            round_half_up(
                num / (F.sqrt(vx.cast("double")) * F.sqrt(vy.cast("double")))
                + F.lit(1.0),
                6,
            ).alias("r_plus1"),
        )
    )


def forecast_backtest(events: DataFrame, window: int = 7) -> DataFrame:
    """Rolling-origin forecast BACKTEST — the eval harness for the
    forecasting family (``holt_forecast`` fits; this measures): for
    every observed day past the warm-up, forecast the day's event count
    per type using ONLY prior days, under two baselines — naive-1
    (yesterday's count) and the trailing ``window``-day moving average —
    and report per-type MAE for both plus the skill ratio (MA error /
    naive error; < 1 means smoothing helps, the decision number behind
    choosing a forecaster before committing one at scale).

    Exactness discipline (the ``daily_autocorr`` arithmetic): errors
    accumulate as BIGINTs — naive error is |c_t − c_{t−1}|, the MA
    error is kept pre-division as |window·c_t − Σ_{t−w..t−1}c| — so
    the only floats are three final mirrored divisions. The warm-up
    (row_number > window) makes both forecasters evaluate on the SAME
    days, and a zero-total-naive-error type (perfectly constant
    series) is dropped by an INTEGER predicate before the skill
    division (the type_correlation zero-variance rule). "Rolling" is
    over OBSERVED days (ROWS frame, not RANGE): a gap day shortens
    nothing — documented, and mirrored exactly in the oracle.

    Scale: one daily-rollup shuffle collapses volume (|types × days|
    rows), the backtest itself is a per-type window over a
    calendar-bounded series — O(1) state per row, no replay of raw
    events, same envelope at 100TB."""
    daily = events.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("event_type").orderBy("d")
    w7 = w.rowsBetween(-window, -1)
    b = daily.select(
        "event_type",
        "cnt",
        F.row_number().over(w).alias("rn"),
        F.lag("cnt", 1).over(w).alias("prev"),
        F.sum("cnt").over(w7).alias("sw"),
    ).where(F.col("rn") > window)
    return (
        b.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_evals"),
            F.sum(F.abs(F.col("cnt") - F.col("prev"))).alias("e1"),
            F.sum(
                F.abs(F.lit(window) * F.col("cnt") - F.col("sw"))
            ).alias("ew"),
        )
        .where(F.col("e1") > 0)
        .select(
            "event_type",
            "n_evals",
            round_half_up(F.col("e1") / F.col("n_evals"), 4).alias(
                "mae_naive"
            ),
            round_half_up(
                F.col("ew") / (F.lit(window) * F.col("n_evals")), 4
            ).alias("mae_ma"),
            round_half_up(
                F.col("ew") / (F.lit(window) * F.col("e1")), 6
            ).alias("skill_ma_vs_naive"),
        )
    )


def survival_km(events: DataFrame, group: str = "event_type") -> DataFrame:
    """Kaplan–Meier survival curve for user churn, per group: treating
    each user's LAST active day as their churn event (right-censored if
    it falls on the corpus's final day — still alive as far as the data
    can tell), emit the KM step points (days with >= 1 churn) with the
    at-risk count, churn count, and the survival estimate
    S_t = Π_{s<=t} (1 − d_s/n_s). The retention statistic
    ``cohort_retention`` cannot give: censoring-correct curves that
    remain comparable across groups with different observation spans.

    Exactness: s/e/n are BIGINT prefix sums over the per-group day
    spine; S is a PRODUCT fold in day order — both engines multiply
    the same IEEE doubles in the same sequence (Spark: one ``aggregate``
    HOF per step prefix; oracle: a forward-only recursive CTE, the
    Holt discipline), so the raw doubles are bit-equal and exactly
    value-hashable. The O(steps²) prefix fold is calendar-bounded
    (|days|, never |rows|), the same envelope as every daily-series
    operator here: one user-keyed rollup collapses 100TB of events to
    |users| rows, everything after is |groups × days|-sized."""
    from pyspark.sql.functions import broadcast

    d0 = events.select(group, "user_id", F.to_date("ts").alias("day"))
    # ONE |users x groups|-sized rollup is the only |rows|-sized pass;
    # it feeds two consumers (the 1-row max-day scalar and the spine),
    # so a lazy localCheckpoint keeps the events scan from replaying
    # per branch (plan pin: exactly one events read)
    ul = (
        d0.groupBy(group, "user_id")
        .agg(F.min("day").alias("f"), F.max("day").alias("l"))
        .localCheckpoint(eager=False)
    )
    maxday = ul.agg(F.max("l").alias("__maxday"))
    ul2 = ul.join(broadcast(maxday))
    # start and churn contributions emit from ONE pass over the user
    # rollup (2-row explode per user), so the spine needs no self-join
    # of starts against churns — censored-only days enter as (0, 0)
    # rows, which the prefix sums and the d > 0 step filter ignore
    spine = (
        ul2.select(
            group,
            F.explode(
                F.array(
                    F.struct(
                        F.col("f").alias("day"),
                        F.lit(1).alias("s"),
                        F.lit(0).alias("d"),
                    ),
                    F.struct(
                        F.col("l").alias("day"),
                        F.lit(0).alias("s"),
                        (F.col("l") < F.col("__maxday"))
                        .cast("int")
                        .alias("d"),
                    ),
                )
            ).alias("x"),
        )
        .select(group, "x.day", "x.s", "x.d")
        .groupBy(group, "day")
        .agg(F.sum("s").alias("s"), F.sum("d").alias("d"))
    )
    w = (
        Window.partitionBy(group)
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wprev = (
        Window.partitionBy(group)
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    n_risk = F.sum("s").over(w) - F.coalesce(
        F.sum("d").over(wprev), F.lit(0)
    )
    steps = (
        spine.withColumn("n", n_risk)
        .where(F.col("d") > 0)
        .select(group, "day", "n", "d")
    )
    arr = steps.groupBy(group).agg(
        F.array_sort(
            F.collect_list(F.struct("day", "n", "d"))
        ).alias("arr")
    )
    km = arr.select(
        group,
        F.explode(
            F.expr(
                """transform(arr, (x, i) -> named_struct(
                     'day', x.day, 'n', x.n, 'd', x.d,
                     'surv', aggregate(
                       slice(arr, 1, i + 1), CAST(1.0 AS DOUBLE),
                       (acc, y) -> acc * (1.0 - CAST(y.d AS DOUBLE)
                                                / CAST(y.n AS DOUBLE)))))"""
            )
        ).alias("p"),
    )
    return km.select(
        group,
        F.col("p.day").cast("string").alias("day"),
        F.col("p.n").alias("n_risk"),
        F.col("p.d").alias("churned"),
        F.col("p.surv").alias("surv"),
    )


def ks_source_drift(docs: DataFrame, col: str = "n_chars") -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov drift test, one row per
    source: the KS distance between a source's distribution of ``col``
    and the REST of the corpus — the distribution-free "is this feed
    drifting?" monitor that histogram_drift's fixed-bin L1 only
    approximates (KS is the sup over EVERY threshold, so it cannot be
    hidden by bin placement).

    Exactness discipline: with c1(v)/c2(v) the cumulative counts at
    value v, D = max_v |c1/n1 - c2/n2| = max_v |n2*c1 - n1*c2| /
    (n1*n2) — the numerator is a pure BIGINT order statistic (the
    cross-multiplication trick the rank-selection oracles use), so the
    max is order-free and the ONE division happens at the end under
    round_half_up. Plan shape: one (source, value) rollup, one value
    rollup, a broadcast |sources|-row grid joined against the value
    spine, and per-source cumulative windows over the DISTINCT-VALUE
    relation — the windows order value counts, never rows, so the
    sort is bounded by the value domain (n_chars here; bucket
    unbounded doubles first). Sources covering the whole corpus or
    none of it are dropped by an integer predicate (n1, n2 > 0), the
    KS statistic being undefined there."""
    x = F.col(col).cast("long")
    base = docs.select(F.col("source"), x.alias("v")).where(
        F.col("v").isNotNull()
    )
    gv = base.groupBy("v").agg(F.count(F.lit(1)).alias("c_all"))
    sv = base.groupBy("source", "v").agg(F.count(F.lit(1)).alias("c_s"))
    srcs = base.groupBy("source").agg(F.count(F.lit(1)).alias("n1"))
    tot = base.agg(F.count(F.lit(1)).alias("n_total"))
    grid = (
        gv.crossJoin(F.broadcast(srcs))
        .join(sv, ["source", "v"], "left")
        .withColumn("c_s", F.coalesce("c_s", F.lit(0).cast("long")))
    )
    w = (
        Window.partitionBy("source")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = grid.select(
        "source",
        "n1",
        F.sum("c_s").over(w).alias("cum_s"),
        F.sum("c_all").over(w).alias("cum_all"),
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .withColumn("n2", F.col("n_total") - F.col("n1"))
        .where((F.col("n1") > 0) & (F.col("n2") > 0))
        .groupBy("source", "n1", "n2")
        .agg(
            F.max(
                F.abs(
                    F.col("n2") * F.col("cum_s")
                    - F.col("n1") * (F.col("cum_all") - F.col("cum_s"))
                )
            )
            .cast("long")
            .alias("d_num")
        )
        .select(
            "source",
            "n1",
            "n2",
            "d_num",
            round_half_up(
                F.col("d_num") / (F.col("n1") * F.col("n2")), 6
            ).alias("ks"),
        )
    )


def pettitt_changepoint(events: DataFrame) -> DataFrame:
    """Pettitt changepoint test per event type over the daily count
    series: the rank-based (distribution-free) single-changepoint
    locator — where did this metric's LEVEL shift? — complementing
    CUSUM (which needs a target mean) and Theil-Sen (monotone trend,
    not a step). Emits the split day t maximizing |U_t|, the statistic
    K = max|U_t|, and the series length.

    Exactness discipline: U_t = sum_{i<=t, j>t} sgn(x_i - x_j) is pure
    integer; the O(n^2) double sum collapses through the Pettitt
    recursion U_t = U_{t-1} + V_t with V_t = sum_{j != t}
    sgn(x_t - x_j), so the plan is ONE within-type day-pair self-join
    (|days|^2 per type — calendar-bounded regardless of event volume,
    the same budget as daily_autocorr's lag join) for the V_t column,
    then a prefix-sum window in day order. The argmax tie-breaks to
    the EARLIEST day via a row_number over (|U| DESC, day ASC) — both
    orderings integer/date, so the pick is engine-independent. t
    ranges over 1..n-1 (U_n = 0 identically); single-day types have
    no interior split and emit nothing. The day is emitted as an ISO
    string (raw DATE host dtypes diverge cross-engine)."""
    daily = events.where(F.col("ts").isNotNull()).groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    other = daily.select(
        F.col("event_type").alias("tb"),
        F.col("d").alias("db"),
        F.col("cnt").alias("y"),
    )
    sgn = (
        F.when(F.col("cnt") > F.col("y"), F.lit(1))
        .when(F.col("cnt") < F.col("y"), F.lit(-1))
        .otherwise(F.lit(0))
    )
    v = (
        daily.join(
            other,
            (F.col("event_type") == F.col("tb"))
            & (F.col("d") != F.col("db")),
        )
        .groupBy("event_type", "d")
        .agg(F.sum(sgn).cast("long").alias("v"))
    )
    wd = Window.partitionBy("event_type").orderBy("d")
    u = v.select(
        "event_type",
        "d",
        F.sum("v").over(wd).alias("u"),
        F.row_number().over(wd).alias("rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy("event_type"))
        .alias("n"),
    ).where(F.col("rn") < F.col("n"))
    pick = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("u")).desc(), F.col("d").asc()
    )
    return (
        u.withColumn("p", F.row_number().over(pick))
        .where(F.col("p") == 1)
        .select(
            "event_type",
            F.col("n").cast("long").alias("n_days"),
            F.date_format("d", "yyyy-MM-dd").alias("cp_day"),
            F.abs(F.col("u")).cast("long").alias("k_stat"),
        )
    )


def isotonic_calibration(
    events: DataFrame,
    positive: str = "purchase",
    n_buckets: int = 100,
) -> DataFrame:
    """Isotonic (monotone non-decreasing) calibration curve: empirical
    P(positive event | value bucket) fitted under a monotonicity
    constraint — the calibration step every score-driven sampler /
    reward model needs before its scores can be read as probabilities.
    Emits per bucket the raw rate and the isotonic fit.

    Instead of the sequential pool-adjacent-violators loop (stateful,
    order-dependent — hostile to both Catalyst and an SQL mirror), the
    fit uses the MINIMAX closed form of isotonic L2 regression:
    g(t) = max_{i<=t} min_{j>=i} avg(y_i..y_j), weighted by bucket
    counts. All interval averages come from BIGINT prefix sums over
    the bucket spine (<= n_buckets rows), the i x j expansion is a
    self-join on that bounded relation (<= n_buckets^2 rows — a
    constant, never data-sized), and each average is ONE division of
    exact integers — bit-equal across engines — so the min/max lattice
    over identical doubles is engine-independent and the whole curve
    value-hashes. Raw rate is rounded once (round_half_up); the fit is
    emitted at full double precision (identical bits both sides).

    Scale: the only data-sized work is the first bucket rollup; the
    value domain is clamped into [0, n_buckets-1] so the spine stays
    bounded whatever the value distribution."""
    cents = F.round(F.col("value") * 100).cast("long")
    bucket = F.least(
        F.lit(n_buckets - 1),
        F.greatest(F.lit(0), (cents - (cents % 100)) / 100),
    ).cast("long")
    per_b = events.where(F.col("value").isNotNull()).groupBy(
        bucket.alias("bucket")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(
            (F.col("event_type") == positive).cast("long")
        ).alias("pos"),
    )
    wb = (
        Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pre = per_b.select(
        "bucket",
        "n",
        "pos",
        F.sum("n").over(wb).alias("cw"),
        F.sum("pos").over(wb).alias("cs"),
    ).localCheckpoint(eager=False)
    lo = pre.select(
        F.col("bucket").alias("i"),
        (F.col("cw") - F.col("n")).alias("w_lo"),
        (F.col("cs") - F.col("pos")).alias("s_lo"),
    )
    hi = pre.select(
        F.col("bucket").alias("j"),
        F.col("cw").alias("w_hi"),
        F.col("cs").alias("s_hi"),
    )
    # avg(i..j) for every i <= j on the bounded spine: one division of
    # exact integers per pair
    pair_avg = (
        lo.join(hi, F.col("i") <= F.col("j"))
        .select(
            "i",
            "j",
            (
                (F.col("s_hi") - F.col("s_lo"))
                / (F.col("w_hi") - F.col("w_lo"))
            ).alias("a"),
        )
    )
    inner_min = pair_avg.groupBy("i").agg(F.min("a").alias("m"))
    fit = (
        pre.join(inner_min, F.col("bucket") >= F.col("i"))
        .groupBy("bucket", "n", "pos")
        .agg(F.max("m").alias("iso_rate"))
    )
    return fit.select(
        "bucket",
        "n",
        "pos",
        round_half_up(F.col("pos") / F.col("n"), 6).alias("raw_rate"),
        "iso_rate",
    )


def logrank_test(events: DataFrame, group: str = "event_type") -> DataFrame:
    """Pairwise log-rank test between every pair of groups' churn
    survival — the significance companion to ``survival_km``: KM draws
    the curves, this says whether two of them differ beyond chance
    (the standard A/B readout for retention experiments). Same churn
    framing: a user's last active day is their event, censored on the
    corpus's final day; staggered entry enters the risk set on the
    user's first day (left truncation handled by the risk-set
    definition itself).

    Per pair, over the shared calendar spine: O1 = observed group-1
    churns, E1 = sum over churn days of d_t*n1_t/n_t, V = sum of
    d_t*n1_t*n2_t*(n_t-d_t) / (n_t^2*(n_t-1)), chi2 = (O1-E1)^2/V.
    Exactness: every numerator/denominator is a BIGINT product, each
    day's term is ONE division of exact integers (bit-equal doubles on
    both engines), and the two sums fold in DAY ORDER via an aggregate
    HOF over the sorted day array (oracle: single-field list_reduce
    over a day-ordered list — no cross-field accumulator reads), so
    E1/V/chi2 value-hash at full precision. Int64 headroom: the V
    numerator d*n1*n2*(n-d) stays under 2^63 while n < ~55k users per
    pair-day; larger cohorts should pre-scale (the fixture and any
    per-day risk set this engine targets are far below).

    Scale: one |rows|-sized user rollup (shared, checkpointed), then
    everything is |groups x calendar-days| — the spine is an explode
    of a literal date sequence, pairs come from a broadcast
    |groups|^2 grid, and the folds run over per-pair day arrays
    (calendar-bounded)."""
    from pyspark.sql.functions import broadcast

    d0 = events.where(F.col("ts").isNotNull()).select(
        group, "user_id", F.to_date("ts").alias("day")
    )
    ul = (
        d0.groupBy(group, "user_id")
        .agg(F.min("day").alias("f"), F.max("day").alias("l"))
        .localCheckpoint(eager=False)
    )
    bounds = ul.agg(
        F.min("f").alias("__mn"), F.max("l").alias("__mx")
    )
    ul2 = ul.join(broadcast(bounds))
    sparse = (
        ul2.select(
            group,
            F.explode(
                F.array(
                    F.struct(
                        F.col("f").alias("day"),
                        F.lit(1).alias("s"),
                        F.lit(0).alias("d"),
                    ),
                    F.struct(
                        F.col("l").alias("day"),
                        F.lit(0).alias("s"),
                        (F.col("l") < F.col("__mx")).cast("int").alias("d"),
                    ),
                )
            ).alias("x"),
        )
        .select(group, "x.day", "x.s", "x.d")
        .groupBy(group, "day")
        .agg(F.sum("s").alias("s"), F.sum("d").alias("d"))
    )
    cal = (
        sparse.select(group)
        .distinct()
        .join(broadcast(bounds))
        .select(
            group,
            F.explode(
                F.expr("sequence(__mn, __mx, interval 1 day)")
            ).alias("day"),
        )
    )
    z = F.lit(0).cast("long")
    full = (
        cal.join(sparse, [group, "day"], "left")
        .select(
            group,
            "day",
            F.coalesce("s", z).alias("s"),
            F.coalesce("d", z).alias("d"),
        )
    )
    w = (
        Window.partitionBy(group)
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wprev = (
        Window.partitionBy(group)
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    nd = full.select(
        group,
        "day",
        "d",
        (
            F.sum("s").over(w)
            - F.coalesce(F.sum("d").over(wprev), z)
        ).alias("n"),
    ).localCheckpoint(eager=False)
    a = nd.select(
        F.col(group).alias("g1"),
        "day",
        F.col("n").alias("n1"),
        F.col("d").alias("d1"),
    )
    b = nd.select(
        F.col(group).alias("g2"),
        F.col("day").alias("day2"),
        F.col("n").alias("n2"),
        F.col("d").alias("d2"),
    )
    pairs = a.join(
        b, (F.col("day") == F.col("day2")) & (F.col("g1") < F.col("g2"))
    )
    n = F.col("n1") + F.col("n2")
    d = F.col("d1") + F.col("d2")
    terms = pairs.where((d > 0) & (n >= 2)).select(
        "g1",
        "g2",
        "day",
        "d1",
        "d2",
        (d * F.col("n1") / n).alias("e_term"),
        (
            (d * F.col("n1") * F.col("n2") * (n - d))
            / (n * n * (n - 1))
        ).alias("v_term"),
    )
    folded = terms.groupBy("g1", "g2").agg(
        F.sum("d1").cast("long").alias("o1"),
        F.sum("d2").cast("long").alias("o2"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("day", "e_term"))),
            F.lit(0.0),
            lambda acc, x: acc + x["e_term"],
        ).alias("e1"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("day", "v_term"))),
            F.lit(0.0),
            lambda acc, x: acc + x["v_term"],
        ).alias("v"),
    )
    chi2 = (F.col("o1") - F.col("e1")) * (
        F.col("o1") - F.col("e1")
    ) / F.col("v")
    return folded.where(F.col("v") > 0).select(
        "g1",
        "g2",
        "o1",
        "o2",
        "e1",
        "v",
        chi2.alias("chi2"),
        (chi2 > F.lit(3.841)).alias("significant"),
    )


def mwu_source_shift(docs: DataFrame, col: str = "n_chars") -> DataFrame:
    """Mann-Whitney U shift test per source (source vs rest of corpus)
    on ``col``, with the rank-biserial effect size and the tie-corrected
    normal-approximation z — KS (``ks_source_drift``) answers "do the
    distributions differ anywhere?"; this answers "is this source's
    metric systematically LARGER or smaller, and by how much?" — the
    direction and magnitude a mix rebalancer actually acts on.

    Integer discipline: with ties, U is a half-integer, so the engine
    carries 2*U1 = sum_v c1(v) * (2*rest_less(v) + rest_eq(v)) — pure
    BIGINT on the same distinct-value spine as the KS op (windows
    order value counts, never rows). The effect size ships as
    rb_plus1 = 2*U1/(n1*n2) = rank-biserial r + 1 in [0, 2] — one
    rounded division; the +1 offset sidesteps the -0.0 repr divergence
    (type_correlation convention), and rb_plus1 > 1 reads "this
    source's values run systematically larger than the rest".
    The z-score's tie-corrected variance uses
    the global tie term T = sum_v (c^3 - c): numerator
    (n+1)n(n-1) - T stays int64 (n < ~2M rows), converted ONCE per
    factor to double with an identical association order on both
    engines, and sqrt is IEEE-correctly-rounded — so even z
    value-hashes at full precision. Degenerate cases (empty side, all
    values tied corpus-wide) are dropped by integer predicates."""
    x = F.col(col).cast("long")
    base = docs.select(F.col("source"), x.alias("v")).where(
        F.col("v").isNotNull()
    )
    gv = base.groupBy("v").agg(F.count(F.lit(1)).alias("c_all"))
    sv = base.groupBy("source", "v").agg(F.count(F.lit(1)).alias("c_s"))
    srcs = base.groupBy("source").agg(F.count(F.lit(1)).alias("n1"))
    consts = gv.agg(
        F.sum("c_all").cast("long").alias("n_total"),
        F.sum(
            F.col("c_all") * F.col("c_all") * F.col("c_all")
            - F.col("c_all")
        )
        .cast("long")
        .alias("tie_t"),
    )
    grid = (
        gv.crossJoin(F.broadcast(srcs))
        .join(sv, ["source", "v"], "left")
        .withColumn("c_s", F.coalesce("c_s", F.lit(0).cast("long")))
    )
    w = (
        Window.partitionBy("source")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = grid.select(
        "source",
        "n1",
        "c_all",
        "c_s",
        (F.sum("c_all").over(w) - F.col("c_all")).alias("less_all"),
        (F.sum("c_s").over(w) - F.col("c_s")).alias("less_s"),
    )
    agg = (
        cum.groupBy("source", "n1")
        .agg(
            F.sum(
                F.col("c_s")
                * (
                    2 * (F.col("less_all") - F.col("less_s"))
                    + (F.col("c_all") - F.col("c_s"))
                )
            )
            .cast("long")
            .alias("u1_x2")
        )
        .crossJoin(F.broadcast(consts))
        .withColumn("n2", F.col("n_total") - F.col("n1"))
    )
    n = F.col("n_total")
    var_num = (n + 1) * n * (n - 1) - F.col("tie_t")
    z = (
        (F.col("u1_x2") - F.col("n1") * F.col("n2")) / F.lit(2.0)
    ) / F.sqrt(
        F.col("n1").cast("double")
        * F.col("n2").cast("double")
        * var_num.cast("double")
        / (F.lit(12.0) * n.cast("double") * (n - 1).cast("double"))
    )
    return (
        agg.where(
            (F.col("n1") > 0) & (F.col("n2") > 0) & (var_num > 0)
        )
        .select(
            "source",
            "n1",
            "n2",
            "u1_x2",
            round_half_up(
                F.col("u1_x2") / (F.col("n1") * F.col("n2")), 6
            ).alias("rb_plus1"),
            z.alias("z"),
            (F.abs(z) > F.lit(1.96)).alias("significant"),
        )
    )


def ols_slope_by_group(
    lineitem: DataFrame, part: DataFrame
) -> DataFrame:
    """Per-brand OLS regression of quantity on unit price — the
    price-sensitivity readout (does demand fall as price rises, and
    how steeply?) and the engine's plain-regression primitive beside
    the correlation family (type_correlation/acf share the same
    six-moment skeleton; this exposes slope+intercept instead of r).

    Exactness: x = unit price in floor-DOLLARS (cents div quantity
    div 100 — integer div mirrors DuckDB //; never engine round() on
    a computed ratio; dollars not cents so n*Σx² keeps int64 headroom
    to ~2e9 rows per group), y = quantity — both exact BIGINTs — so
    n, Σx, Σy, Σxy, Σx² are order-free integer sums and slope =
    (nΣxy − ΣxΣy) / (nΣx² − (Σx)²) is ONE division of exact integers;
    the intercept reuses the same bit-equal slope in an identically-
    associated expression, and the slope ships x1000 with a +1000
    offset (qty per $1000, -0.0-proof). Int64 headroom: Σx² of cents
    caps at ~2M rows per group at TPC-H price ranges — above that,
    pre-scale to dollars (documented trade, same as the covariance
    op). Degenerate groups (constant price) are dropped by the
    integer variance predicate. One join to decorate the brand
    (broadcast — |part| rows), one keyed rollup; slope/intercept are
    emitted rounded (round_half_up)."""
    from pyspark.sql.functions import broadcast

    # unit price in floor-cents via INTEGER div (cents are exact, and
    # div == DuckDB // — never engine round() on a computed ratio,
    # that's the known half-boundary divergence class)
    x = F.expr(
        "CAST(round(l_extendedprice * 100) AS BIGINT)"
        " div CAST(round(l_quantity) AS BIGINT) div 100"
    )
    joined = lineitem.where(
        F.col("l_quantity") > 0
    ).join(
        broadcast(
            part.select(
                F.col("p_partkey").alias("l_partkey"), "p_brand"
            )
        ),
        "l_partkey",
    ).select(
        "p_brand",
        x.cast("long").alias("x"),
        F.round(F.col("l_quantity")).cast("long").alias("y"),
    )
    agg = joined.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sx2"),
    )
    vx = F.col("n") * F.col("sx2") - F.col("sx") * F.col("sx")
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    slope = num / vx
    intercept = (F.col("sy") - slope * F.col("sx")) / F.col("n")
    return (
        agg.where(vx > 0)
        .select(
            "p_brand",
            "n",
            round_half_up(slope * 1000 + F.lit(1000.0), 4).alias(
                "slope_x1k_p1k"
            ),
            round_half_up(intercept, 4).alias("intercept_qty"),
        )
    )


def type_burstiness(events: DataFrame) -> DataFrame:
    """Fano factor (variance-to-mean of the daily count series) per
    event type — the burstiness readout: F ~ 1 is Poisson-like
    arrivals, F >> 1 means clumped/bursty traffic (retry storms,
    campaign spikes) and F < 1 means suspiciously regular (bots,
    schedulers). Complements pettitt (WHERE did the level shift) and
    acf (is it periodic) with HOW dispersed.

    Exactness: with daily counts x over n days, F = sigma^2 / mu =
    (n*Sx2 - Sx^2) / (n*Sx) — BIGINT moments, ONE division under
    round_half_up; the overdispersed verdict is the pure INTEGER
    predicate n*Sx2 - Sx^2 > n*Sx (F > 1 without touching floats).
    Empty/degenerate types (Sx = 0) are dropped by an integer guard.
    Calendar-bounded after the daily rollup, like every op in this
    family. NOTE: days with zero events do not appear in the rollup —
    the statistic is over ACTIVE days (documented contract; gap-filled
    variants can ride gap_fill_daily upstream)."""
    daily = events.where(F.col("ts").isNotNull()).groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.count(F.lit(1)).alias("x"))
    agg = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sx2"),
    )
    var_num = F.col("n") * F.col("sx2") - F.col("sx") * F.col("sx")
    return (
        agg.where(F.col("sx") > 0)
        .select(
            "event_type",
            F.col("n").alias("n_days"),
            "sx",
            round_half_up(
                var_num / (F.col("n") * F.col("sx")), 6
            ).alias("fano"),
            (var_num > F.col("n") * F.col("sx")).alias("overdispersed"),
        )
    )


def dow_uniformity(events: DataFrame) -> DataFrame:
    """Day-of-week uniformity chi-square per event type: are arrivals
    flat across the week, or is there a weekly cycle? The categorical
    companion to acf_daily's lag-7 correlogram (acf needs a long
    series; this pools ALL events into 7 cells and gets power from
    volume). chi2 = sum (O_i - n/7)^2 / (n/7) over the 7 dow cells =
    sum (7*O_i - n)^2 / (7*n) — the numerator is a BIGINT sum over at
    most 7 integers (absent cells contribute n^2 via O=0, handled by a
    7-row spine), ONE division at the end, and the significance
    verdict (df=6, alpha=0.05 -> 12.592) compares the same bit-equal
    double on both engines. Int64 headroom: (7*O - n)^2 caps at ~49n^2
    -> safe under ~360M events per type; larger types pre-aggregate.
    Scale: one dow rollup (7 rows per type), spine join, 7-row sums."""
    dow = events.where(F.col("ts").isNotNull()).select(
        "event_type", F.dayofweek("ts").cast("int").alias("dw")
    )
    cells = dow.groupBy("event_type", "dw").agg(
        F.count(F.lit(1)).cast("long").alias("o")
    )
    types = cells.groupBy("event_type").agg(
        F.sum("o").cast("long").alias("n")
    )
    spine = types.select(
        "event_type",
        "n",
        F.explode(F.sequence(F.lit(1), F.lit(7))).alias("dw"),
    )
    z = F.lit(0).cast("long")
    full = spine.join(cells, ["event_type", "dw"], "left").select(
        "event_type",
        "n",
        F.coalesce("o", z).alias("o"),
    )
    dev = 7 * F.col("o") - F.col("n")
    agg = full.groupBy("event_type", "n").agg(
        F.sum(dev * dev).cast("long").alias("chi_num")
    )
    chi2 = F.col("chi_num") / (7 * F.col("n"))
    return (
        agg.where(F.col("n") > 0)
        .select(
            "event_type",
            "n",
            "chi_num",
            round_half_up(chi2, 6).alias("chi2"),
            (chi2 > F.lit(12.592)).alias("weekly_pattern"),
        )
    )


def kendall_daily(orders: DataFrame) -> DataFrame:
    """Kendall tau-b between the DAILY order count and DAILY revenue
    series, per order priority: the rank-based twin of
    ``type_correlation``'s Pearson — robust to outlier days and to any
    monotone transform of either series, the association measure to
    trust when revenue is heavy-tailed.

    Integer discipline: every pair verdict is a SIGN comparison —
    concordant/discordant/tied counts are BIGINT sums of
    sign(dx)*sign(dy) cases (no products of deltas, so no overflow at
    any scale), and

        tau_b = (nc - nd) / (sqrt(n0 - n1) * sqrt(n0 - n2))

    is one mirrored float expression (IEEE sqrt) over integer factors;
    ships as tau_plus1 (the +1 offset sidesteps -0.0 repr divergence,
    ``type_correlation`` convention). Pairs with a zero-variance side
    are dropped by an integer predicate before any division.

    Scale: the daily rollup collapses volume first — the pair self-join
    is calendar-bounded (|days|^2/2 per priority, ~3M pairs for a
    7-year span regardless of row count), broadcast-joinable."""
    daily = orders.groupBy(
        "o_orderpriority", F.to_date("o_orderdate").alias("d")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("x"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).cast("long").alias("y"),
    )
    a = daily.select(
        F.col("o_orderpriority").alias("p"),
        F.col("d").alias("d1"), F.col("x").alias("x1"), F.col("y").alias("y1"),
    )
    b = daily.select(
        F.col("o_orderpriority").alias("p"),
        F.col("d").alias("d2"), F.col("x").alias("x2"), F.col("y").alias("y2"),
    )
    sx = F.signum((F.col("x1") - F.col("x2")).cast("double")).cast("int")
    sy = F.signum((F.col("y1") - F.col("y2")).cast("double")).cast("int")
    pairs = a.join(b, "p").where(F.col("d1") < F.col("d2"))
    one = F.lit(1).cast("long")
    z = F.lit(0).cast("long")
    agg = pairs.groupBy("p").agg(
        F.count(F.lit(1)).cast("long").alias("n0"),
        F.sum(F.when(sx * sy == 1, one).otherwise(z)).alias("nc"),
        F.sum(F.when(sx * sy == -1, one).otherwise(z)).alias("nd"),
        F.sum(F.when(sx == 0, one).otherwise(z)).alias("n1"),
        F.sum(F.when(sy == 0, one).otherwise(z)).alias("n2"),
    )
    tau = (F.col("nc") - F.col("nd")).cast("double") / (
        F.sqrt((F.col("n0") - F.col("n1")).cast("double"))
        * F.sqrt((F.col("n0") - F.col("n2")).cast("double"))
    )
    return (
        agg.where((F.col("n0") > F.col("n1")) & (F.col("n0") > F.col("n2")))
        .select(
            F.col("p").alias("o_orderpriority"),
            "n0", "nc", "nd", "n1", "n2",
            round_half_up(tau + F.lit(1.0), 6).alias("tau_plus1"),
        )
    )


def spearman_types(events: DataFrame) -> DataFrame:
    """Spearman rank correlation between event types' DAILY count
    series — ``type_correlation``'s Pearson on AVERAGE RANKS instead of
    raw counts, so one anomalous day cannot dominate the association.

    Integer discipline: the average rank of a value with ``less`` days
    strictly below it and ``ties`` days equal is (2*less + ties + 1)/2
    — carried DOUBLED (u = 2*less + ties + 1, an integer), so all six
    Pearson moments over (u, v) are BIGINT and

        rho = (n*Suv - Su*Sv) / (sqrt(n*Su2 - Su^2) * sqrt(n*Sv2 - Sv^2))

    is the same one mirrored float expression (the x2 scaling cancels).
    Headroom: u <= 2*|days| ~ 5e3, n*Suv ~ |days|^2 * u * v ~ 1.6e14 —
    int64-safe to ~100x longer calendars.

    Ranks are computed over each pair's SHARED-day intersection
    (ADVICE r4): ranking each type over its own calendar and then
    pairing only shared days leaves paired ranks that are not a
    permutation of 1..n of the common subset whenever the calendars
    differ — the statistic would not be the Spearman rho of the paired
    series. So the pair join on day comes FIRST (raw daily counts),
    and the doubled average ranks are windowed per (ta, tb) pair side.

    Scale: identical shape to type_correlation — daily rollup collapses
    volume first, the day-keyed pair join and the per-pair rank windows
    are |types|^2 x |days| regardless of row count."""
    daily = events.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    a = daily.select(
        F.col("event_type").alias("ta"), "d", F.col("cnt").alias("xc")
    )
    b = daily.select(
        F.col("event_type").alias("tb"), "d", F.col("cnt").alias("yc")
    )
    j = a.join(b, "d").where(F.col("ta") < F.col("tb"))
    # doubled average rank: min_rank + max_rank = 2*rank + ties - 1,
    # windowed over the pair's shared days only
    wx = Window.partitionBy("ta", "tb").orderBy("xc")
    wex = Window.partitionBy("ta", "tb", "xc")
    wy = Window.partitionBy("ta", "tb").orderBy("yc")
    wey = Window.partitionBy("ta", "tb", "yc")
    ranked = j.select(
        "ta",
        "tb",
        (2 * F.rank().over(wx) + F.count(F.lit(1)).over(wex) - 1)
        .cast("long")
        .alias("x"),
        (2 * F.rank().over(wy) + F.count(F.lit(1)).over(wey) - 1)
        .cast("long")
        .alias("y"),
    )
    agg = ranked.groupBy("ta", "tb").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sx2"),
        F.sum(F.col("y") * F.col("y")).alias("sy2"),
    )
    vx = F.col("n") * F.col("sx2") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("sy2") - F.col("sy") * F.col("sy")
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    return (
        agg.where((vx > 0) & (vy > 0))
        .select(
            "ta",
            "tb",
            "n",
            round_half_up(
                num / (F.sqrt(vx.cast("double")) * F.sqrt(vy.cast("double")))
                + F.lit(1.0),
                6,
            ).alias("rho_plus1"),
        )
    )


def cramers_v(orders: DataFrame) -> DataFrame:
    """Cramér's V association between order priority and order status —
    the [0, 1]-normalized chi-square for a categorical x categorical
    contingency table (chi2 alone grows with N; V is comparable across
    table sizes), the dependence screen run before treating two
    categorical features as independent.

    Exactness: cell/margin counts O, R, C and the total N are BIGINT;
    the per-cell term (O*N - R*C)^2 / (N*R*C) is float, so the
    cross-engine hazard is SUMMATION ORDER — solved by folding the
    cells in ONE deterministic sequence: cells are collected into a
    (priority, status)-sorted array (bounded: |priorities| x |statuses|
    rows) and chi2 accumulates via a sequential left fold
    (``F.aggregate`` here, ordered ``list_transform`` + ``list_reduce``
    in the oracle) — every intermediate IEEE op is order-pinned and
    bit-equal, the same discipline as the cosine fold mirrors.
    d = O*N - R*C stays exact in int64 up to N ~ 2^26 rows and converts
    losslessly below 2^53.

    Scale: one 15-cell rollup + two margin rollups; everything after
    the first aggregate is dimension-sized."""
    cells = orders.groupBy(
        F.col("o_orderpriority").alias("p"), F.col("o_orderstatus").alias("s")
    ).agg(F.count(F.lit(1)).cast("long").alias("o"))
    rows = cells.groupBy("p").agg(F.sum("o").alias("r"))
    colm = cells.groupBy("s").agg(F.sum("o").alias("c"))
    tot = cells.agg(
        F.sum("o").alias("n"),
        F.count_distinct("p").cast("long").alias("rk"),
        F.count_distinct("s").cast("long").alias("ck"),
    )
    full = (
        cells.join(rows, "p")
        .join(colm, "s")
        .crossJoin(F.broadcast(tot))
    )
    d = F.col("o") * F.col("n") - F.col("r") * F.col("c")
    terms = full.groupBy("n", "rk", "ck").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    "p",
                    "s",
                    d.cast("double").alias("d"),
                    (F.col("r") * F.col("c")).cast("double").alias("rc"),
                )
            )
        ).alias("cells")
    )
    nd = F.col("n").cast("double")
    chi2 = F.aggregate(
        F.col("cells"),
        F.lit(0.0),
        lambda acc, t: acc + (t["d"] / nd) * (t["d"] / t["rc"]),
    )
    v = F.sqrt(
        chi2
        / (nd * F.least(F.col("rk") - 1, F.col("ck") - 1).cast("double"))
    )
    return terms.where(
        (F.col("n") > 0) & (F.col("rk") > 1) & (F.col("ck") > 1)
    ).select(
        "n",
        F.col("rk").alias("n_priorities"),
        F.col("ck").alias("n_statuses"),
        round_half_up(chi2, 6).alias("chi2"),
        round_half_up(v, 6).alias("cramers_v"),
    )


def runs_test_daily(events: DataFrame) -> DataFrame:
    """Wald–Wolfowitz runs test per event type: is the daily count
    series random around its median, or does it cluster (trends /
    regimes -> few long runs) or oscillate (alternation -> many short
    runs)? The nonparametric randomness screen behind "is this metric
    stable or drifting" — complements dow_uniformity (fixed weekly
    cycle) and pettitt (single changepoint).

    Integer discipline: the LOWER MEDIAN is selected by window rank
    (row_number over (cnt, d) — deterministic, no division); days equal
    to the median are discarded (standard treatment), the remainder is
    signed above/below, and the run count R = 1 + sum[sign flips] is a
    pure integer lag comparison. The z-score clears the rational mean:

        z = (R*m - 2*n1*n2 - m) / (m * sqrt(var)),
        var = 2*n1*n2*(2*n1*n2 - m) / (m^2 * (m - 1)),  m = n1 + n2

    — integer numerator, each float factor converted once with a fixed
    association order (mwu_source_shift convention), int64-safe to
    ~3e9 kept days per type.

    Scale: daily rollup first; the rank window and lag run over a
    calendar-bounded series per type."""
    daily = events.where(F.col("ts").isNotNull()).groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    wr = Window.partitionBy("event_type").orderBy("cnt", "d")
    wn = Window.partitionBy("event_type")
    med = (
        daily.select(
            "event_type",
            "d",
            "cnt",
            F.row_number().over(wr).alias("rk"),
            F.count(F.lit(1)).over(wn).alias("nn"),
        )
        .where(F.col("rk") == F.expr("(nn + 1) div 2"))
        .select("event_type", F.col("cnt").alias("med"))
    )
    signed = (
        daily.join(med, "event_type")
        .where(F.col("cnt") != F.col("med"))
        .select(
            "event_type",
            "d",
            F.when(F.col("cnt") > F.col("med"), F.lit(1))
            .otherwise(F.lit(0))
            .alias("s"),
        )
    )
    wd = Window.partitionBy("event_type").orderBy("d")
    runs = signed.select(
        "event_type",
        "s",
        F.when(
            F.lag("s").over(wd).isNull() | (F.lag("s").over(wd) != F.col("s")),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("flip"),
    )
    one = F.lit(1).cast("long")
    z0 = F.lit(0).cast("long")
    agg = runs.groupBy("event_type").agg(
        F.sum("flip").cast("long").alias("r"),
        F.sum(F.when(F.col("s") == 1, one).otherwise(z0)).alias("n1"),
        F.sum(F.when(F.col("s") == 0, one).otherwise(z0)).alias("n2"),
    )
    m = F.col("n1") + F.col("n2")
    p2 = 2 * F.col("n1") * F.col("n2")
    var = (
        p2.cast("double")
        * (p2 - m).cast("double")
        / (m * m).cast("double")
        / (m - 1).cast("double")
    )
    z = (F.col("r") * m - p2 - m).cast("double") / (
        m.cast("double") * F.sqrt(var)
    )
    return (
        agg.where((F.col("n1") > 0) & (F.col("n2") > 0) & (m > 1) & (p2 > m))
        .select(
            "event_type",
            "r",
            "n1",
            "n2",
            round_half_up(z, 6).alias("z"),
            (F.abs(z) > F.lit(1.96)).alias("nonrandom"),
        )
    )


def cochran_armitage(events: DataFrame, n_variants: int = 4) -> DataFrame:
    """Cochran–Armitage trend test: is conversion rate MONOTONE across
    ordered experiment variants? The chi-square independence test
    (ab_health) asks "any difference?"; this asks the dose-response
    question an ordered rollout actually poses, with more power for a
    monotone alternative.

    Users are assigned to ``n_variants`` ordered buckets by the
    deterministic md5 hash (the ``ab_test`` assignment, stable
    cross-engine); converted = strictly more 'purchase' than 'error'
    events (an integer per-user predicate — the fixture's users all
    purchase at least once, so the naive any-purchase flag is
    degenerate-1 and the test vacuous). With scores
    t_i = i (0..k-1), per-variant exposed n_i and converted r_i:

        T     = sum_i t_i * (r_i * N - n_i * R)          (BIGINT)
        VarT' = R * (N - R) * (N * sum n_i t_i^2 - (sum n_i t_i)^2)
        z     = T / sqrt(VarT' / N)

    — T and every Var factor are exact int64 folds over k rows (N, R
    the grand totals), converted ONCE per factor to double with fixed
    association, IEEE sqrt. Headroom: N < ~2M users keeps R*(N-R)*...
    under 2^63 via the /N split (the variance product is carried as
    two doubles). Degenerate trends (all converted / none / one
    variant) drop by integer predicates.

    Scale: one user-level aggregate (conversion flag per user), one
    k-row rollup — dimension-sized after the first shuffle."""
    from ..operators.sampling import hash_bucket

    users = (
        events.groupBy("user_id")
        .agg(
            F.sum(
                (F.col("event_type") == "purchase").cast("long")
            ).alias("np"),
            F.sum(
                (F.col("event_type") == "error").cast("long")
            ).alias("ne"),
        )
        .select(
            hash_bucket(F.col("user_id"), n_variants).alias("variant"),
            (F.col("np") > F.col("ne")).cast("long").alias("conv"),
        )
    )
    per = users.groupBy("variant").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("conv").cast("long").alias("r"),
    )
    t = F.col("variant").cast("long")
    tot = per.agg(
        F.sum("n").cast("long").alias("nn"),
        F.sum("r").cast("long").alias("rr"),
        F.sum(t * F.col("n")).cast("long").alias("snt"),
        F.sum(t * t * F.col("n")).cast("long").alias("snt2"),
        F.sum(t * (F.col("r"))).cast("long").alias("srt"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    # T = sum t_i r_i N - R sum t_i n_i  (all from the totals row)
    bigt = F.col("srt") * F.col("nn") - F.col("rr") * F.col("snt")
    svar = F.col("nn") * F.col("snt2") - F.col("snt") * F.col("snt")
    z = bigt.cast("double") / F.sqrt(
        F.col("rr").cast("double")
        * (F.col("nn") - F.col("rr")).cast("double")
        * svar.cast("double")
        / F.col("nn").cast("double")
    )
    return tot.where(
        (F.col("rr") > 0)
        & (F.col("rr") < F.col("nn"))
        & (svar > 0)
        & (F.col("k") > 1)
    ).select(
        F.col("k").alias("n_variants"),
        F.col("nn").alias("n_users"),
        F.col("rr").alias("n_converted"),
        bigt.alias("t_num"),
        round_half_up(z, 6).alias("z"),
        (F.abs(z) > F.lit(1.96)).alias("trend"),
    )


def wasserstein_source_drift(
    docs: DataFrame, col: str = "n_chars"
) -> DataFrame:
    """1-D Wasserstein (earth-mover) distance per source vs the rest of
    the corpus on ``col`` — KS (``ks_source_drift``) reports the WORST
    single gap between the distributions; W1 integrates ALL the gaps,
    so it sees broad small shifts KS is blind to, and it is the metric
    distribution-matching mixers actually minimize.

        W1 = sum_i |F_s(v_i) - F_rest(v_i)| * (v_{i+1} - v_i)
           = (1/(n1*n2)) * sum_i |c1_i*n2 - c2_i*n1| * gap_i

    — cumulative counts ride the same distinct-value spine as the KS
    op (windows order VALUE COUNTS, never rows), the numerator is one
    BIGINT fold (|c1*n2 - c2*n1| <= n1*n2 ~ 2.5e9 at sf1.0, * gap
    <= value range — int64 headroom to ~1e5-wide ranges at millions of
    rows per side; wider ranges pre-bucket), and ONE division lands at
    the end. Sources with an empty complement drop by predicate.

    Scale: |distinct values| spine per source — bounded by the value
    domain, not the row count."""
    x = F.col(col).cast("long")
    base = docs.select(F.col("source"), x.alias("v")).where(
        F.col("v").isNotNull()
    )
    gv = base.groupBy("v").agg(F.count(F.lit(1)).alias("c_all"))
    sv = base.groupBy("source", "v").agg(F.count(F.lit(1)).alias("c_s"))
    srcs = base.groupBy("source").agg(F.count(F.lit(1)).alias("n1"))
    tot = gv.agg(F.sum("c_all").cast("long").alias("n_total"))
    grid = (
        gv.crossJoin(F.broadcast(srcs))
        .join(sv, ["source", "v"], "left")
        .withColumn("c_s", F.coalesce("c_s", F.lit(0).cast("long")))
    )
    w = (
        Window.partitionBy("source")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wl = Window.partitionBy("source").orderBy("v")
    cum = grid.select(
        "source",
        "n1",
        "v",
        F.sum("c_s").over(w).alias("cum_s"),
        F.sum("c_all").over(w).alias("cum_all"),
        (F.lead("v").over(wl) - F.col("v")).alias("gap"),
    ).where(F.col("gap").isNotNull())
    agg = (
        cum.crossJoin(F.broadcast(tot))
        .withColumn("n2", F.col("n_total") - F.col("n1"))
        .groupBy("source", "n1", "n2")
        .agg(
            F.sum(
                F.abs(
                    F.col("cum_s") * F.col("n2")
                    - (F.col("cum_all") - F.col("cum_s")) * F.col("n1")
                )
                * F.col("gap")
            )
            .cast("long")
            .alias("w1_num")
        )
    )
    return agg.where((F.col("n1") > 0) & (F.col("n2") > 0)).select(
        "source",
        "n1",
        "n2",
        "w1_num",
        round_half_up(
            F.col("w1_num") / (F.col("n1").cast("double") * F.col("n2")),
            6,
        ).alias("w1"),
    )


def theils_u(orders: DataFrame) -> DataFrame:
    """Theil's uncertainty coefficient U between order priority and
    order status, BOTH directions — the asymmetric companion to
    ``cramers_v``: U(X|Y) = (H(X) - H(X|Y)) / H(X) reads "knowing Y
    removes this fraction of X's entropy", and unlike V it tells you
    WHICH variable predicts which.

    Float discipline: every entropy is a sum of per-cell ln terms —
    accumulated by the same SEQUENTIAL fold as cramers_v (sorted
    margins / sorted cells, ``F.aggregate`` vs ``list_reduce``), so
    summation order is pinned; ln itself is the one library call both
    engines evaluate on identical exact-integer ratios (the tfidf
    oracle precedent), absorbed by the 1e6 rounding. Degenerate
    marginals (single category) drop by integer predicate.

    Scale: one 15-cell rollup + margin rollups; dimension-sized
    after the first aggregate."""
    cells = orders.groupBy(
        F.col("o_orderpriority").alias("p"), F.col("o_orderstatus").alias("s")
    ).agg(F.count(F.lit(1)).cast("long").alias("o"))
    rows = cells.groupBy("p").agg(F.sum("o").alias("r"))
    colm = cells.groupBy("s").agg(F.sum("o").alias("c"))
    tot = cells.agg(
        F.sum("o").alias("n"),
        F.count_distinct("p").cast("long").alias("rk"),
        F.count_distinct("s").cast("long").alias("ck"),
    )
    nd = F.col("n").cast("double")
    hx_arr = rows.groupBy().agg(
        F.array_sort(F.collect_list(F.struct("p", "r"))).alias("lp")
    )
    hy_arr = colm.groupBy().agg(
        F.array_sort(F.collect_list(F.struct("s", "c"))).alias("ls")
    )
    cell_arr = (
        cells.join(rows, "p")
        .join(colm, "s")
        .groupBy()
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "p",
                        "s",
                        F.col("o").cast("double").alias("o"),
                        F.col("r").cast("double").alias("r"),
                        F.col("c").cast("double").alias("c"),
                    )
                )
            ).alias("lc")
        )
    )
    j = (
        tot.crossJoin(F.broadcast(hx_arr))
        .crossJoin(F.broadcast(hy_arr))
        .crossJoin(F.broadcast(cell_arr))
    )
    hx = F.aggregate(
        F.col("lp"),
        F.lit(0.0),
        lambda a, t: a - (t["r"] / nd) * F.log(t["r"] / nd),
    )
    hy = F.aggregate(
        F.col("ls"),
        F.lit(0.0),
        lambda a, t: a - (t["c"] / nd) * F.log(t["c"] / nd),
    )
    # H(X|Y) over cells: -sum (o/n) ln(o/c); H(Y|X): -sum (o/n) ln(o/r)
    hxy = F.aggregate(
        F.col("lc"),
        F.lit(0.0),
        lambda a, t: a - (t["o"] / nd) * F.log(t["o"] / t["c"]),
    )
    hyx = F.aggregate(
        F.col("lc"),
        F.lit(0.0),
        lambda a, t: a - (t["o"] / nd) * F.log(t["o"] / t["r"]),
    )
    return j.where((F.col("rk") > 1) & (F.col("ck") > 1)).select(
        F.col("n").cast("long").alias("n"),
        round_half_up(hx, 6).alias("h_priority"),
        round_half_up(hy, 6).alias("h_status"),
        round_half_up((hx - hxy) / hx, 6).alias("u_priority_given_status"),
        round_half_up((hy - hyx) / hy, 6).alias("u_status_given_priority"),
    )


def kruskal_wallis(
    docs: DataFrame, col: str = "n_chars", group: str = "source"
) -> DataFrame:
    """Kruskal–Wallis H: the k-sample generalization of the Mann-
    Whitney shift test (``mwu_source_shift`` answers "does THIS source
    differ from the rest?"; this answers "do the sources differ AT ALL"
    in one omnibus rank test — the screen run before k pairwise MWUs).
    Tie-corrected:

        H = [ 12/(N(N+1)) * sum_g R_g^2/n_g - 3(N+1) ]
            / (1 - T/((N-1)N(N+1))),   T = sum_v (c_v^3 - c_v)

    Integer discipline: ranks ride the same distinct-value spine as
    mwu/ks — the DOUBLED average rank of value v is u(v) =
    2*less_all(v) + c_all(v) + 1, an integer, so each group's doubled
    rank sum R2_g = sum_v c_g(v) u(v) is BIGINT (R_g = R2_g/2 folds
    into the /4 below). The one float reduction sum_g R2_g^2/(4 n_g)
    runs as a SEQUENTIAL fold over the group-name-sorted list
    (cramers_v discipline), each term cast to double in a mirrored
    order, so H value-hashes exactly. Degenerate corpora (all values
    tied, or a single group) are dropped by integer predicates.

    Scale: ONE corpus-sized shuffle — the (group, value) rollup — then
    everything (value spine, tie constants, per-group rank sums, the
    fold) derives from that |G x V|-bounded relation. The rollup and
    the spine are lazily checkpointed: both feed two consumers, and
    Catalyst has no cross-branch CSE (the corpus scan would replay per
    branch otherwise)."""
    base = docs.select(
        F.col(group).alias("g"), F.col(col).cast("long").alias("v")
    ).where(F.col("v").isNotNull())
    sv = base.groupBy("g", "v").agg(
        F.count(F.lit(1)).cast("long").alias("c_g")
    ).localCheckpoint(eager=False)
    gv = sv.groupBy("v").agg(
        F.sum("c_g").cast("long").alias("c_all")
    ).localCheckpoint(eager=False)
    consts = gv.agg(
        F.sum("c_all").cast("long").alias("n"),
        F.sum(
            F.col("c_all") * F.col("c_all") * F.col("c_all") - F.col("c_all")
        )
        .cast("long")
        .alias("tie_t"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    spine = gv.select(
        "v",
        "c_all",
        (2 * (F.sum("c_all").over(w) - F.col("c_all")) + F.col("c_all") + 1)
        .cast("long")
        .alias("u"),
    )
    per_g = (
        sv.join(spine, "v")
        .groupBy("g")
        .agg(
            F.sum("c_g").cast("long").alias("ng"),
            F.sum(F.col("c_g") * F.col("u")).cast("long").alias("r2"),
        )
    )
    lst = per_g.agg(
        F.array_sort(F.collect_list(F.struct("g", "ng", "r2"))).alias("l"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    j = lst.crossJoin(F.broadcast(consts))
    s12 = F.aggregate(
        F.col("l"),
        F.lit(0.0),
        lambda a, t: a
        + (t["r2"].cast("double") * t["r2"].cast("double"))
        / (t["ng"].cast("double") * 4.0),
    )
    nd = F.col("n").cast("double")
    h_raw = F.lit(12.0) / (nd * (nd + 1.0)) * s12 - 3.0 * (nd + 1.0)
    corr = 1.0 - F.col("tie_t").cast("double") / (((nd - 1.0) * nd) * (nd + 1.0))
    return j.where(
        (F.col("k") > 1) & (F.col("n") > 2) & (corr > 0)
    ).select(
        "n",
        "k",
        "tie_t",
        round_half_up(h_raw / corr, 6).alias("h"),
    )


def mantel_haenszel(events: DataFrame) -> DataFrame:
    """Mantel–Haenszel stratified 2x2 analysis of the hash-assigned A/B
    experiment: per-DAY-OF-WEEK strata of (variant x purchased) counts
    (the weekly-mix confounder; the fixture events span a single month,
    so calendar months would collapse to one stratum) pooled into the
    common odds ratio and the CMH chi-square —

        OR_MH = sum_i (a_i d_i / n_i) / sum_i (b_i c_i / n_i)
        CMH   = (sum_i a_i - sum_i E_i)^2 / sum_i V_i

    with E_i = r1_i c1_i / n_i and V_i = r1_i r0_i c1_i c0_i /
    (n_i^2 (n_i - 1)). ``ab_test_report`` reads the pooled 2x2;
    Simpson's paradox lives exactly in that pooling — MH is the
    stratification-adjusted readout.

    Exactness: all eight margins per stratum are BIGINT; the four float
    reductions run as ONE sequential fold over the day-of-week-sorted
    strata list with a struct accumulator whose fields never read each
    other (forward-only, the DuckDB list_reduce-safe shape), every
    per-term division mirrored. Strata with n < 2 drop by integer
    predicate (their V denominator n^2 (n-1) would be zero; any
    stratum with n >= 2 contributes finite terms), and the final
    chi-square emits only under the aggregate sv > 0 guard. Scale: a
    7-row fold after one keyed rollup."""
    from .sampling import hash_bucket

    per = events.select(
        F.dayofweek("ts").cast("int").alias("m"),
        hash_bucket(F.col("user_id"), 2).alias("variant"),
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("conv"),
    )
    one = F.lit(1).cast("long")
    zero = F.lit(0).cast("long")
    cells = per.groupBy("m").agg(
        F.sum(F.when((F.col("variant") == 0) & (F.col("conv") == 1), one).otherwise(zero)).alias("a"),
        F.sum(F.when((F.col("variant") == 0) & (F.col("conv") == 0), one).otherwise(zero)).alias("b"),
        F.sum(F.when((F.col("variant") == 1) & (F.col("conv") == 1), one).otherwise(zero)).alias("c"),
        F.sum(F.when((F.col("variant") == 1) & (F.col("conv") == 0), one).otherwise(zero)).alias("d"),
    )
    ok = cells.where(F.col("a") + F.col("b") + F.col("c") + F.col("d") >= 2)
    lst = ok.agg(
        F.array_sort(
            F.collect_list(F.struct("m", "a", "b", "c", "d"))
        ).alias("l"),
        F.count(F.lit(1)).cast("long").alias("k_strata"),
        F.sum("a").cast("long").alias("sum_a"),
    )
    nd = lambda t: (  # noqa: E731
        t["a"] + t["b"] + t["c"] + t["d"]
    ).cast("double")

    def term_or_num(a, t):
        return a + (t["a"].cast("double") * t["d"].cast("double")) / nd(t)

    def term_or_den(a, t):
        return a + (t["b"].cast("double") * t["c"].cast("double")) / nd(t)

    def term_e(a, t):
        return a + (
            (t["a"] + t["b"]).cast("double") * (t["a"] + t["c"]).cast("double")
        ) / nd(t)

    def term_v(a, t):
        n = nd(t)
        return a + (
            (t["a"] + t["b"]).cast("double")
            * (t["c"] + t["d"]).cast("double")
            * (t["a"] + t["c"]).cast("double")
            * (t["b"] + t["d"]).cast("double")
        ) / ((n * n) * (n - 1.0))

    or_num = F.aggregate(F.col("l"), F.lit(0.0), term_or_num)
    or_den = F.aggregate(F.col("l"), F.lit(0.0), term_or_den)
    se = F.aggregate(F.col("l"), F.lit(0.0), term_e)
    sv = F.aggregate(F.col("l"), F.lit(0.0), term_v)
    dev = F.col("sum_a").cast("double") - se
    return lst.where((F.col("k_strata") > 0) & (or_den > 0) & (sv > 0)).select(
        "k_strata",
        "sum_a",
        round_half_up(or_num / or_den, 6).alias("or_mh"),
        round_half_up((dev * dev) / sv, 6).alias("cmh"),
    )


def theil_sen_daily(orders: DataFrame) -> DataFrame:
    """Theil–Sen robust trend of the daily order-count series: the
    MEDIAN of all pairwise slopes (c_j - c_i)/(x_j - x_i) — a 29%-
    breakdown estimator immune to the spike days that drag an OLS
    slope (the robust twin of q6_forecast_revenue's trend read).

    Exactness: counts and day indexes are integers, each slope is ONE
    double division of exact integers (bit-equal cross-engine), and
    the median is selected by ORDER BY value — tie order between equal
    doubles cannot change the selected VALUE; the even-n midpoint is
    the mean of two doubles (one add, one halving, both mirrored).

    Scale: the pair join is CALENDAR-bounded — C(|days|, 2) pairs
    regardless of row count (the kendall_daily argument; ~2.9M pairs
    for a 7-year span). The median's global sort runs on those pairs
    only; at extreme calendars, sample days or pre-bucket slopes —
    knobs, not redesigns."""
    daily = orders.groupBy(
        F.col("o_orderdate").alias("d")
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    x0 = daily.agg(F.min("d").alias("d0"))
    # round-robin widen the (1-partition after AQE) day spine so the
    # C(|days|, 2) nested-loop pair stage runs on every core instead of
    # one (optimization r9, guide §2.5/§2.6: the day spine is a
    # deterministic relation, so sort-before-repartition keeps retries
    # safe); the slope deltas are unchanged per pair.
    p = int(orders.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    idx = (
        daily.crossJoin(F.broadcast(x0))
        .select(F.datediff("d", "d0").cast("long").alias("x"), "cnt")
        .repartition(p)
    )
    a = idx.select(F.col("x").alias("x1"), F.col("cnt").alias("c1"))
    b = idx.select(F.col("x").alias("x2"), F.col("cnt").alias("c2"))
    pairs = a.join(b, F.col("x1") < F.col("x2")).select(
        (
            (F.col("c2") - F.col("c1")).cast("double")
            / (F.col("x2") - F.col("x1")).cast("double")
        ).alias("slope")
    )
    # median selection via the range-partitioned two-pass rank
    # (operators.rank): the former Window.orderBy ran the FULL pair
    # relation (quadratic in the calendar — 2.9M rows at sf0.1, ~10^8
    # at a 7-year x larger-span calendar) through ONE task
    # (Exchange SinglePartition). Rank order (slope asc) is not total
    # across ties, but only the VALUES at the two middle positions are
    # consumed and equal doubles are interchangeable — the selected
    # values (and their avg) are identical (A/B: bit-equal output,
    # 2.7s -> 2.0s at sf0.1). small_threshold=0 forces the scalable
    # path: the relation is pair-quadratic, never dimension-sized.
    # n_pairs rides along via with_total (ADVICE r9 / optimization
    # r10): the former separate pairs.agg(count) materialized the
    # quadratic nested-loop join a SECOND time — global_row_number
    # already checkpoints and counts the pair relation internally, so
    # the total is free off that copy (value-identical: the same count
    # of the same relation).
    from .rank import global_row_number

    rn = global_row_number(
        pairs, [F.col("slope").asc()], "rn", small_threshold=0,
        with_total="n_pairs",
    )
    mid = rn.where(
        (F.col("rn") == F.floor((F.col("n_pairs") + 1) / 2))
        | (F.col("rn") == F.floor(F.col("n_pairs") / 2) + 1)
    )
    return mid.groupBy("n_pairs").agg(
        round_half_up(F.avg("slope"), 6).alias("slope_med"),
        F.count(F.lit(1)).cast("long").alias("n_mid"),
    )


def cvm_source_drift(docs: DataFrame, col: str = "n_chars") -> DataFrame:
    """Exact two-sample Cramér–von Mises drift per source (source vs
    rest): the L2 companion completing the drift trio — KS
    (``ks_source_drift``) is the sup gap, Wasserstein the L1 area, CvM
    the variance-weighted squared gap

        T = sum_v c_all(v) * (n2*c1(v) - n1*c2(v))^2 / (N^2 * n1 * n2)

    — most sensitive to body (not tail) distribution shifts, the
    standard complement when KS misses a broad low-amplitude drift.

    Exactness: the numerator S = sum_v c_all * (n2*c1 - n1*c2)^2 is
    summed in DECIMAL(38,0) — exact, order-independent, equal to
    DuckDB's HUGEINT sum (headroom: diff^2 <= (n1*n2)^2 ~ 1e24 at
    N=1e6, x c_all x |V| well under 1e38) — and the ONE float step is
    the final mirrored division. Same |V|-bounded spine plan as KS:
    per-source cumulative windows over distinct values only."""
    x = F.col(col).cast("long")
    base = docs.select(F.col("source"), x.alias("v")).where(
        F.col("v").isNotNull()
    )
    gv = base.groupBy("v").agg(F.count(F.lit(1)).alias("c_all"))
    sv = base.groupBy("source", "v").agg(F.count(F.lit(1)).alias("c_s"))
    srcs = base.groupBy("source").agg(F.count(F.lit(1)).alias("n1"))
    tot = base.agg(F.count(F.lit(1)).alias("n_total"))
    grid = (
        gv.crossJoin(F.broadcast(srcs))
        .join(sv, ["source", "v"], "left")
        .withColumn("c_s", F.coalesce("c_s", F.lit(0).cast("long")))
    )
    w = (
        Window.partitionBy("source")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = grid.select(
        "source",
        "n1",
        "c_all",
        F.sum("c_s").over(w).alias("cum_s"),
        F.sum("c_all").over(w).alias("cum_all"),
    )
    diff = (
        F.col("n2") * F.col("cum_s")
        - F.col("n1") * (F.col("cum_all") - F.col("cum_s"))
    ).cast(DEC)
    agg = (
        cum.crossJoin(F.broadcast(tot))
        .withColumn("n2", F.col("n_total") - F.col("n1"))
        .where((F.col("n1") > 0) & (F.col("n2") > 0))
        .groupBy("source", "n1", "n2", "n_total")
        .agg(F.sum(F.col("c_all").cast(DEC) * diff * diff).alias("s"))
    )
    nd = F.col("n_total").cast("double")
    t = F.col("s").cast("double") / (
        ((nd * nd) * F.col("n1").cast("double")) * F.col("n2").cast("double")
    )
    return agg.select(
        "source",
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        round_half_up(t, 6).alias("cvm"),
    )


def jonckheere_terpstra(orders: DataFrame) -> DataFrame:
    """Jonckheere–Terpstra ordered-alternative test: is order VALUE
    monotonically associated with order PRIORITY (an ORDERED factor
    '1-URGENT' < ... < '5-LOW')? Kruskal–Wallis asks "any difference";
    JT asks the sharper dose-response question and wins power when the
    ordering is real (the cochran_armitage of continuous outcomes).

        JT = sum_{i<j} U_ij,  U_ij = #(x_i < y_j) + 1/2 #(x_i = y_j)

    Doubled-statistic discipline: 2*U_ij = sum_v c_j(v) * (2*less_i(v)
    + c_i(v)) is BIGINT on the shared value spine; the expectation
    2E = (N^2 - sum n_g^2)/2 is integer (N^2 - sum n^2 is even), so
    the z numerator is exact. The variance uses the standard untied
    form [N^2(2N+3) - sum n^2(2n+3)]/72 (documented approximation
    under heavy ties; both engines compute the identical formula),
    evaluated in mirrored doubles, z = num / (2*sqrt(var)).

    Scale: value spine + per-group cumulative windows (|G x V| rows),
    a |G^2 x V| pair-of-groups join (G = 5 priorities), and a G-sized
    fold for the variance term."""
    base = orders.select(
        F.col("o_orderpriority").alias("g"), _cents("o_totalprice").alias("v")
    ).where(F.col("v").isNotNull())
    sv = base.groupBy("g", "v").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    ).localCheckpoint(eager=False)
    gv = sv.groupBy("v").agg(F.lit(1).alias("one")).select("v")
    grid = (
        gv.crossJoin(F.broadcast(sv.select("g").distinct()))
        .join(sv, ["g", "v"], "left")
        .withColumn("c", F.coalesce("c", F.lit(0).cast("long")))
    )
    w = (
        Window.partitionBy("g")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = grid.select(
        "g",
        "v",
        "c",
        (F.sum("c").over(w) - F.col("c")).alias("less"),
    ).localCheckpoint(eager=False)
    a = cum.select(
        F.col("g").alias("gi"), "v",
        F.col("less").alias("less_i"), F.col("c").alias("c_i"),
    )
    b = sv.select(
        F.col("g").alias("gj"), "v", F.col("c").alias("c_j")
    )
    jt2 = (
        a.join(b, "v")
        .where(F.col("gi") < F.col("gj"))
        .agg(
            F.sum(
                F.col("c_j") * (2 * F.col("less_i") + F.col("c_i"))
            )
            .cast("long")
            .alias("jt2")
        )
    )
    per_g = sv.groupBy("g").agg(F.sum("c").cast("long").alias("ng"))
    consts = per_g.agg(
        F.sum("ng").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum(F.col("ng") * F.col("ng")).cast("long").alias("sn2"),
    )
    bsum = per_g.agg(
        F.array_sort(F.collect_list(F.struct("g", "ng"))).alias("l")
    ).select(
        F.aggregate(
            F.col("l"),
            F.lit(0.0),
            lambda acc, t: acc
            + (t["ng"].cast("double") * t["ng"].cast("double"))
            * (2.0 * t["ng"].cast("double") + 3.0),
        ).alias("bterm")
    )
    j = jt2.crossJoin(F.broadcast(consts)).crossJoin(F.broadcast(bsum))
    nd = F.col("n").cast("double")
    var = ((nd * nd) * (2.0 * nd + 3.0) - F.col("bterm")) / 72.0
    # 2E = (N^2 - sum n^2)/2 is exactly even — integer div keeps it BIGINT
    num = (F.col("jt2") - F.expr("(n * n - sn2) div 2")).cast("double")
    return j.where(var > 0).select(
        "n",
        "k",
        "jt2",
        round_half_up(num / (2.0 * F.sqrt(var)), 6).alias("z"),
    )


def hill_tail_index(orders: DataFrame, k: int = 500) -> DataFrame:
    """Hill estimator of the Pareto tail index of order value — HOW
    heavy is the heavy tail? (spend_gini summarizes inequality; the
    tail index alpha says whether moments even exist: alpha < 2 means
    variance-free spend, the regime where mean-based monitors lie).

        hill = (1/k) sum_{i=1..k} ln(x_(i) / x_(k+1)),   alpha = 1/hill

    over the top-k order statistics (cents, BIGINT). Selection is a
    deterministic row_number (value DESC, orderkey ASC); each ln is a
    correctly-rounded libm call on a double ratio of exact integers,
    and the sum runs as a rank-ordered sequential fold — exact
    cross-engine (theils_u discipline).

    Scale: top-(k+1) selection is a per-partition local top-k merged
    once (never a global sort of the corpus); the fold is k-sized."""
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    ranked = orders.select(
        cents.alias("x"), F.col("o_orderkey").alias("okey")
    ).select(
        "x",
        F.row_number()
        .over(Window.orderBy(F.col("x").desc(), F.col("okey").asc()))
        .alias("rn"),
    ).where(F.col("rn") <= k + 1)
    xk1 = ranked.where(F.col("rn") == k + 1).select(
        F.col("x").alias("xk1")
    )
    lst = (
        ranked.where(F.col("rn") <= k)
        .agg(
            F.array_sort(F.collect_list(F.struct("rn", "x"))).alias("l"),
            F.count(F.lit(1)).cast("long").alias("kk"),
        )
        .crossJoin(F.broadcast(xk1))
    )
    s = F.aggregate(
        F.col("l"),
        F.lit(0.0),
        lambda a, t: a
        + F.log(t["x"].cast("double") / F.col("xk1").cast("double")),
    )
    hill = s / F.col("kk").cast("double")
    return lst.where((F.col("kk") == k) & (F.col("xk1") > 0) & (s > 0)).select(
        F.col("kk").alias("k"),
        F.col("xk1").cast("long").alias("xk1_cents"),
        round_half_up(hill, 6).alias("hill"),
        round_half_up(F.lit(1.0) / hill, 6).alias("alpha"),
    )


def quantile_normalize(docs: DataFrame, col: str = "n_chars") -> DataFrame:
    """Quantile normalization of ``col`` across sources: every source's
    distribution is mapped onto the POOLED distribution (each value is
    replaced by the pooled value at its within-source quantile) — the
    classic batch-effect remover (microarray heritage), here the
    "make feeds comparable before thresholding" curation step.

    Deterministic integer selection: within a source, a value with
    doubled midrank u = 2*less + c + 1 (integer, ties share it) maps to
    pooled nearest-rank index idx = (u*N + n_s) div (2*n_s), and the
    pooled value at idx is looked up on the cumulative distinct-value
    spine (min v with cum >= idx) — every step integer, so the mapping
    value-hashes exactly.

    Scale: ALL heavy relations are bounded — the (source, value) rollup
    |S x V|, the pooled spine |V|, and the idx lookup joins idx ranges
    against the broadcast spine; docs then join the mapping map-side on
    (source, value). No global row-level sort anywhere."""
    base = docs.select(
        "doc_id", "source", F.col(col).cast("long").alias("v")
    ).where(F.col("v").isNotNull())
    sv = base.groupBy("source", "v").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    ).localCheckpoint(eager=False)
    gv = sv.groupBy("v").agg(F.sum("c").cast("long").alias("c_all"))
    ws = (
        Window.partitionBy("source")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ns = Window.partitionBy("source")
    idxd = sv.select(
        "source",
        "v",
        (2 * (F.sum("c").over(ws) - F.col("c")) + F.col("c") + 1).alias("u"),
        F.sum("c").over(ns).alias("n_s"),
    )
    tot = gv.agg(F.sum("c_all").cast("long").alias("n_total"))
    idxd = idxd.crossJoin(F.broadcast(tot)).select(
        "source",
        "v",
        F.expr("(u * n_total + n_s) div (2 * n_s)").alias("idx"),
    )
    wg = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    spine = gv.select(
        "v",
        (F.sum("c_all").over(wg) - F.col("c_all")).alias("cum_prev"),
        F.sum("c_all").over(wg).alias("cum"),
    )
    mapped = idxd.join(
        F.broadcast(spine.select(F.col("v").alias("v_norm"), "cum_prev", "cum")),
        (F.col("idx") > F.col("cum_prev")) & (F.col("idx") <= F.col("cum")),
    ).select("source", "v", "v_norm")
    return base.join(mapped, ["source", "v"]).select(
        "doc_id", "source", "v", "v_norm"
    )


def friedman_test(events: DataFrame) -> DataFrame:
    """Friedman test — the repeated-measures companion to
    ``kruskal_wallis`` (KW asks "do independent groups differ?"; this
    asks "do the k TREATMENTS differ when measured on the same
    blocks?"): blocks are calendar days, treatments are event types,
    the measurement is the day's count of that type (a day with no
    events of a type measures 0 — the block design is complete by
    construction over the day x type spine). Tie-corrected statistic,
    chi-square with k-1 df under H0:

        Q = (k-1) * sum_j (R_j - n(k+1)/2)^2
                  / (sum_ij r_ij^2 - n k (k+1)^2 / 4)

    Integer discipline: within-block DOUBLED midranks u = 2*less +
    ties + 1 (the quantile_normalize identity) make every rank an
    integer, so both the numerator sum_j (2R_j - n(k+1))^2 and the
    denominator sum u^2 - n k (k+1)^2 are exact BIGINTs (the /4 scale
    factors cancel between them), leaving ONE float division under
    round_half_up. Degenerate designs (k < 2, all-tied blocks) drop by
    integer predicate.

    Scale: one (day, type) rollup; ranking happens on the |days x k|
    grid (k is a handful), the per-treatment rollup is k rows, and the
    final fold is k-sized — nothing downstream of the first shuffle is
    corpus-sized."""
    base = events.select(
        F.date_trunc("day", "ts").alias("d"),
        F.col("event_type").alias("t"),
    )
    counts = base.groupBy("d", "t").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    days = counts.select("d").distinct()
    types = counts.select("t").distinct()
    grid = (
        days.crossJoin(F.broadcast(types))
        .join(counts, ["d", "t"], "left")
        .withColumn("c", F.coalesce("c", F.lit(0).cast("long")))
        .localCheckpoint(eager=False)
    )
    # doubled within-block midrank of c among the block's k values
    other = grid.select(
        F.col("d").alias("d2"), F.col("c").alias("c2")
    )
    u = (
        grid.join(other, F.col("d") == F.col("d2"))
        .groupBy("d", "t", "c")
        .agg(
            (
                2 * F.sum(F.when(F.col("c2") < F.col("c"), 1).otherwise(0))
                + F.sum(F.when(F.col("c2") == F.col("c"), 1).otherwise(0))
                + 1
            )
            .cast("long")
            .alias("u")
        )
    )
    per_t = u.groupBy("t").agg(
        F.sum("u").cast("long").alias("r2"),
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
    )
    usq = u.agg(
        F.sum(F.col("u") * F.col("u")).cast("long").alias("sum_u2")
    )
    lst = per_t.agg(
        F.array_sort(F.collect_list(F.struct("t", "r2"))).alias("l"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.max("n_blocks").cast("long").alias("n"),
    )
    j = lst.crossJoin(F.broadcast(usq))
    kk, nn = F.col("k"), F.col("n")
    # numerator (doubled scale): sum_j (2R_j - n(k+1))^2 == 4 * true num
    num4 = F.aggregate(
        F.col("l"),
        F.lit(0).cast("long"),
        lambda a, t: a
        + (t["r2"] - nn * (kk + 1)) * (t["r2"] - nn * (kk + 1)),
    )
    # denominator (doubled scale): sum u^2 - n k (k+1)^2 == 4 * true den
    den4 = F.col("sum_u2") - nn * kk * (kk + 1) * (kk + 1)
    q = (kk - 1).cast("double") * num4.cast("double") / den4.cast("double")
    return j.where((F.col("k") > 1) & (den4 > 0)).select(
        nn.alias("n_blocks"),
        kk.alias("k"),
        F.col("sum_u2"),
        round_half_up(q, 6).alias("q"),
    )


def cliffs_delta(
    docs: DataFrame, col: str = "n_chars", source: str = "src0"
) -> DataFrame:
    """Cliff's delta — the EFFECT SIZE the Mann–Whitney test omits
    (``mwu_source_shift`` says whether one source's length
    distribution differs; this says by HOW MUCH, on the robust
    [-1, 1] dominance scale):

        delta = (#{x > y} - #{x < y}) / (n_a * n_b)

    over all (source-doc, rest-doc) pairs — +1 means total dominance,
    0 stochastic equality. Standard magnitude labels (|d| < 0.147
    negligible, < 0.33 small, < 0.474 medium, else large).

    Integer discipline: the pair counts fold over the shared
    distinct-value spine (the mwu/ks plan) — gt = sum_v c_a(v) *
    less_b(v) via one cumulative window, all BIGINT; ONE final
    division under round_half_up. The magnitude CASE compares the
    rounded delta, so the label is a pure function of the emitted
    value. Scale: one (group, value) rollup; everything after is
    |V|-bounded."""
    base = docs.select(
        F.when(F.col("source") == source, F.lit("a"))
        .otherwise(F.lit("b"))
        .alias("g"),
        F.col(col).cast("long").alias("v"),
    ).where(F.col("v").isNotNull())
    sv = (
        base.groupBy("g", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    z = F.lit(0).cast("long")
    piv = (
        sv.groupBy("v")
        .agg(
            F.sum(F.when(F.col("g") == "a", F.col("c")).otherwise(z))
            .cast("long")
            .alias("ca"),
            F.sum(F.when(F.col("g") == "b", F.col("c")).otherwise(z))
            .cast("long")
            .alias("cb"),
        )
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = piv.select(
        "v",
        "ca",
        "cb",
        (F.sum("cb").over(w) - F.col("cb")).cast("long").alias("b_less"),
        (F.sum("ca").over(w) - F.col("ca")).cast("long").alias("a_less"),
    )
    agg = cum.agg(
        F.sum("ca").cast("long").alias("n_a"),
        F.sum("cb").cast("long").alias("n_b"),
        F.sum(F.col("ca") * F.col("b_less")).cast("long").alias("n_gt"),
        F.sum(F.col("cb") * F.col("a_less")).cast("long").alias("n_lt"),
        F.sum(F.col("ca") * F.col("cb")).cast("long").alias("n_eq"),
    )
    delta = round_half_up(
        (F.col("n_gt") - F.col("n_lt")).cast("double")
        / (F.col("n_a").cast("double") * F.col("n_b").cast("double")),
        6,
    )
    mag = (
        F.when(F.abs(delta) < 0.147, F.lit("negligible"))
        .when(F.abs(delta) < 0.33, F.lit("small"))
        .when(F.abs(delta) < 0.474, F.lit("medium"))
        .otherwise(F.lit("large"))
    )
    return agg.where((F.col("n_a") > 0) & (F.col("n_b") > 0)).select(
        "n_a",
        "n_b",
        "n_gt",
        "n_lt",
        "n_eq",
        delta.alias("delta"),
        mag.alias("magnitude"),
    )


def calibration_bins(events: DataFrame, n_bins: int = 10) -> DataFrame:
    """Reliability table (calibration curve) for "event value predicts
    purchase": events are ranked by value into ``n_bins`` equal-count
    bins (exact integer rank cuts — no quantile sketch), and each bin
    reports its observed purchase rate next to the overall base rate —
    the binned diagnostic ``isotonic_calibration`` fits a curve to.

    Exactness: bin of a row = (rank-1) * n_bins div N on the
    deterministic (value cents, event_id) ordering; counts are BIGINT
    and each rate is ONE division under round_half_up. Scale: one
    global sort-rank — at 100TB the rank comes from a range-partitioned
    sort (Spark's default exchange for a global window), everything
    after is |bins|-sized."""
    base = events.select(
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.col("event_id").alias("eid"),
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .cast("long")
        .alias("pos"),
    ).where(F.col("cents").isNotNull())
    n = base.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    ranked = base.select(
        "cents",
        "pos",
        F.row_number()
        .over(Window.orderBy(F.col("cents").asc(), F.col("eid").asc()))
        .cast("long")
        .alias("rn"),
    )
    binned = ranked.crossJoin(F.broadcast(n)).select(
        "cents",
        "pos",
        F.expr(f"(rn - 1) * {n_bins} div n_total").cast("int").alias("bin"),
    )
    per_bin = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("pos").cast("long").alias("n_pos"),
        F.min("cents").cast("long").alias("cents_min"),
        F.max("cents").cast("long").alias("cents_max"),
    )
    base_rate = binned.agg(
        (F.sum("pos").cast("double") / F.count(F.lit(1))).alias("base")
    )
    return per_bin.crossJoin(F.broadcast(base_rate)).select(
        "bin",
        "n",
        "n_pos",
        "cents_min",
        "cents_max",
        round_half_up(F.col("n_pos").cast("double") / F.col("n"), 6).alias(
            "pos_rate"
        ),
        round_half_up(F.col("base"), 6).alias("base_rate"),
    )


def mcnemar_purchase_shift(
    events: DataFrame,
    convert_type: str = "purchase",
    split_date: str = "2024-01-16",
    min_events: int = 7,
) -> DataFrame:
    """McNemar's paired-proportion test: did individual users CHANGE
    their heavy-buyer status (>= ``min_events`` ``convert_type``
    events in the half) between the first and second half of the
    observation window? The marginal rates can be identical while the
    same users flip in both directions — the within-subject question
    an unpaired chi-square (``ab_test``/``cochran_armitage``) cannot
    answer. Discordant cells only: chi2 = (b - c)^2 / (b + c), plus
    the Edwards continuity-corrected form (|b - c| - 1)^2 / (b + c).
    (An any-event flag is degenerate on dense panels — every user
    converts in both halves, b = c = 0 — the cochran_armitage
    any-purchase finding; the count threshold keeps the pairing
    informative.)

    Reference parity: beyond-reference experimentation surface (the
    reference's mapper.go/reducer.go compute no statistics).

    Exactness: the 2x2 paired table is four integer counts from one
    user-keyed aggregate; both statistics are ONE double division of
    exact integers, rounded once (round_half_up). Degenerate b+c == 0
    is dropped by an integer predicate.

    Scale: one shuffle on user_id (map-side partial max), then a
    single global rollup — no row-count-shaped state anywhere."""
    d = F.to_date("ts")
    per_user = events.groupBy("user_id").agg(
        (
            F.sum(
                F.when(
                    (F.col("event_type") == convert_type)
                    & (d < F.lit(split_date)),
                    1,
                ).otherwise(0)
            )
            >= min_events
        )
        .cast("int")
        .alias("x1"),
        (
            F.sum(
                F.when(
                    (F.col("event_type") == convert_type)
                    & (d >= F.lit(split_date)),
                    1,
                ).otherwise(0)
            )
            >= min_events
        )
        .cast("int")
        .alias("x2"),
    )
    cells = per_user.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum((1 - F.col("x1")) * (1 - F.col("x2"))).cast("long").alias("n00"),
        F.sum(F.col("x1") * (1 - F.col("x2"))).cast("long").alias("n10"),
        F.sum((1 - F.col("x1")) * F.col("x2")).cast("long").alias("n01"),
        F.sum(F.col("x1") * F.col("x2")).cast("long").alias("n11"),
    )
    b, c = F.col("n10"), F.col("n01")
    disc = (b + c).cast("double")
    cc = F.greatest(F.abs(b - c) - 1, F.lit(0).cast("long"))
    return cells.where((b + c) > 0).select(
        "n_users",
        "n00",
        "n10",
        "n01",
        "n11",
        round_half_up(((b - c) * (b - c)).cast("double") / disc, 6).alias(
            "chi2"
        ),
        round_half_up((cc * cc).cast("double") / disc, 6).alias("chi2_cc"),
    )


def cuped_adjustment(
    events: DataFrame,
    convert_type: str = "purchase",
    split_date: str = "2024-01-16",
    n_variants: int = 2,
) -> DataFrame:
    """CUPED variance reduction (Deng et al., WSDM'13): adjust each
    user's experiment-period spend Y by their PRE-period spend X via
    theta = cov(X, Y)/var(X), so the variant means are compared on
    Y - theta*(X - mean(X)) — the standard trick that cuts experiment
    runtime by the squared X/Y correlation. Emits per-variant raw and
    adjusted means plus the pooled theta and rho^2 (the variance
    fraction removed).

    Exactness: X and Y are per-user BIGINT cent sums; every pooled and
    per-variant moment (Sx, Sy, Sxx, Sxy, Syy) is an exact
    DECIMAL(38,0) sum of BIGINT products (|x*y| <= ~1e14 per user at
    any plausible per-user spend, summed exactly). theta, rho^2 and
    the adjusted means are pure double arithmetic over those exact
    integers with an identical association order in the DuckDB mirror.
    Variant assignment is the deterministic md5 bucket
    (``sampling.hash_bucket``) — engine-stable, as real assignment
    must be.

    Scale: one user-keyed aggregate (map-side combine), then TWO tiny
    rollups (pooled 1-row, per-variant |variants| rows) broadcast back
    together — no second fact scan, no row-shaped driver state."""
    from ..operators.sampling import hash_bucket

    d = F.to_date("ts")
    cents = _cents("value")
    per_user = (
        events.groupBy("user_id")
        .agg(
            F.sum(
                F.when(
                    (F.col("event_type") == convert_type)
                    & (d < F.lit(split_date)),
                    cents,
                ).otherwise(F.lit(0).cast("long"))
            )
            .cast("long")
            .alias("x"),
            F.sum(
                F.when(
                    (F.col("event_type") == convert_type)
                    & (d >= F.lit(split_date)),
                    cents,
                ).otherwise(F.lit(0).cast("long"))
            )
            .cast("long")
            .alias("y"),
        )
        .withColumn("variant", hash_bucket(F.col("user_id"), n_variants))
    )
    pooled = per_user.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("x").cast(DEC)).alias("sx"),
        F.sum(F.col("y").cast(DEC)).alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast(DEC)).alias("sxx"),
        F.sum((F.col("x") * F.col("y")).cast(DEC)).alias("sxy"),
        F.sum((F.col("y") * F.col("y")).cast(DEC)).alias("syy"),
    )
    per_var = per_user.groupBy("variant").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum(F.col("x").cast(DEC)).alias("svx"),
        F.sum(F.col("y").cast(DEC)).alias("svy"),
    )
    nd = F.col("n").cast(DEC)
    cov_n = (nd * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    varx_n = (nd * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    vary_n = (nd * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    theta = cov_n / varx_n
    nvd = F.col("n_users").cast("double")
    mean_y = F.col("svy").cast("double") / nvd / 100.0
    adj = (
        F.col("svy").cast("double")
        - theta
        * (
            F.col("svx").cast("double")
            - nvd * F.col("sx").cast("double") / F.col("n").cast("double")
        )
    ) / nvd / 100.0
    return (
        per_var.crossJoin(F.broadcast(pooled))
        .where((F.col("n") > 1) & (varx_n > 0) & (vary_n > 0))
        .select(
            "variant",
            "n_users",
            round_half_up(mean_y, 6).alias("mean_y"),
            round_half_up(adj, 6).alias("mean_y_adj"),
            round_half_up(theta, 6).alias("theta"),
            round_half_up(cov_n * cov_n / (varx_n * vary_n), 6).alias(
                "rho2"
            ),
        )
    )


def brown_forsythe(docs: DataFrame, col: str = "n_chars") -> DataFrame:
    """Brown-Forsythe homogeneity-of-variance test across sources: the
    one-way ANOVA F statistic on z = |v - median(source)| — Levene's
    test with the median center, the robust pre-check before any
    equal-variance assumption (and a drift screen in its own right: a
    source whose SPREAD shifts while its center holds fools every
    location test in the battery; this is the scale-shift detector).

    Exactness: per-source medians are nearest-rank LOWER medians picked
    by an integer cumulative predicate on the distinct-value spine
    (2*cum >= n_g + 1 form), so z is an exact integer per row; group
    sums Zg and squared sums SSg aggregate in DECIMAL(38,0). The one
    float stage — Q = sum_g Zg^2/n_g, then SSB/SSW/F — runs as a
    SEQUENTIAL fold over the source-sorted k-row group list (k tiny),
    mirrored term-for-term in DuckDB list_reduce. Degenerate SSW == 0
    or k < 2 drops by predicate.

    Scale: spine windows touch |distinct values| rows per source, the
    medians broadcast back onto one fact pass, and the fold folds k
    group rows — nothing row-shaped leaves the executors."""
    x = F.col(col).cast("long")
    base = docs.select(F.col("source"), x.alias("v")).where(
        F.col("v").isNotNull()
    )
    sv = base.groupBy("source", "v").agg(F.count(F.lit(1)).alias("c"))
    wcum = (
        Window.partitionBy("source")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = sv.select(
        "source",
        "v",
        F.sum("c").over(wcum).alias("cum"),
        F.sum("c").over(Window.partitionBy("source")).alias("n_g"),
    )
    med = (
        cum.where(2 * F.col("cum") >= F.col("n_g") + 1)
        .groupBy("source")
        .agg(F.min("v").alias("med"))
    )
    z = base.join(F.broadcast(med), "source").select(
        "source", F.abs(F.col("v") - F.col("med")).alias("z")
    )
    grp = z.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("ng"),
        F.sum(F.col("z").cast(DEC)).cast("long").alias("zg"),
        F.sum((F.col("z") * F.col("z")).cast(DEC)).alias("ssg"),
    )
    lst = grp.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("ng").cast("long").alias("n_total"),
        F.sum(F.col("zg").cast(DEC)).cast("double").alias("z_all"),
        F.sum("ssg").cast("double").alias("ss_all"),
        F.array_sort(F.collect_list(F.struct("source", "ng", "zg"))).alias(
            "l"
        ),
    )
    q = F.aggregate(
        F.col("l"),
        F.lit(0.0),
        lambda a, t: a
        + (t["zg"].cast("double") * t["zg"].cast("double"))
        / t["ng"].cast("double"),
    )
    nd = F.col("n_total").cast("double")
    kd = F.col("k").cast("double")
    withq = lst.withColumn("q", q)
    ssb = F.col("q") - F.col("z_all") * F.col("z_all") / nd
    ssw = F.col("ss_all") - F.col("q")
    return withq.where((F.col("k") > 1) & (ssw > 0)).select(
        "k",
        "n_total",
        round_half_up(ssb, 6).alias("ssb"),
        round_half_up(ssw, 6).alias("ssw"),
        round_half_up((nd - kd) / (kd - 1.0) * ssb / ssw, 6).alias("f_stat"),
    )


def ad_source_drift(docs: DataFrame, col: str = "n_chars") -> DataFrame:
    """Exact two-sample Anderson-Darling drift per source (source vs
    rest): the TAIL-weighted member completing the drift quartet — KS
    is the sup gap, Wasserstein the L1 area, CvM the variance-weighted
    L2, and AD re-weights the squared ECDF gap by 1/(F(1-F)), making
    it the most sensitive of the four to tail divergence (truncation,
    contamination by extreme lengths) that body-weighted tests miss.

    Tie-aware Scholz-Stephens form (k = 2); with two samples the two
    per-sample numerators coincide ((N*M2 - n2*B) = -(N*M1 - n1*B)),
    so

        A2 = (1/(n1*n2)) * sum_{j: B_j < N} l_j * (N*M_j - n1*B_j)^2
                                              / (B_j * (N - B_j))

    over the distinct-value spine (l_j tie count, M_j/B_j cumulative
    in-source/total counts).

    Exactness: M, B, l and the numerator are exact BIGINTs on the same
    |V|-bounded spine as KS/CvM; the per-j division forces float, so
    the j-sum runs as a SEQUENTIAL fold over the value-sorted spine
    list per source, mirrored in DuckDB list_reduce — the statistic
    value-hashes at full precision. Degenerate sides drop by integer
    predicate.

    Scale: the fold list is |distinct values| long per source — value-
    spine-bounded, never row-count-bounded; everything before it is
    two keyed aggregates and a broadcast cross of the |sources| row
    set."""
    x = F.col(col).cast("long")
    base = docs.select(F.col("source"), x.alias("v")).where(
        F.col("v").isNotNull()
    )
    gv = base.groupBy("v").agg(F.count(F.lit(1)).alias("c_all"))
    sv = base.groupBy("source", "v").agg(F.count(F.lit(1)).alias("c_s"))
    srcs = base.groupBy("source").agg(F.count(F.lit(1)).alias("n1"))
    tot = base.agg(F.count(F.lit(1)).alias("n_total"))
    grid = (
        gv.crossJoin(F.broadcast(srcs))
        .join(sv, ["source", "v"], "left")
        .withColumn("c_s", F.coalesce("c_s", F.lit(0).cast("long")))
    )
    w = (
        Window.partitionBy("source")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = grid.select(
        "source",
        "n1",
        F.col("c_all").cast("long").alias("l"),
        F.col("v"),
        F.sum("c_s").over(w).cast("long").alias("m"),
        F.sum("c_all").over(w).cast("long").alias("b"),
    )
    spine = (
        cum.crossJoin(F.broadcast(tot))
        .where((F.col("b") < F.col("n_total")))
        .select(
            "source",
            "n1",
            "n_total",
            F.struct(
                F.col("v"),
                F.col("l"),
                (
                    F.col("n_total") * F.col("m") - F.col("n1") * F.col("b")
                ).alias("num"),
                F.col("b"),
            ).alias("s"),
        )
    )
    lst = spine.groupBy("source", "n1", "n_total").agg(
        F.array_sort(F.collect_list("s")).alias("l")
    )
    nd = F.col("n_total").cast("double")
    acc = F.aggregate(
        F.col("l"),
        F.lit(0.0),
        lambda a, t: a
        + t["l"].cast("double")
        * (t["num"].cast("double") * t["num"].cast("double"))
        / (t["b"].cast("double") * (nd - t["b"].cast("double"))),
    )
    n2 = F.col("n_total") - F.col("n1")
    return (
        lst.where((F.col("n1") > 0) & (n2 > 0))
        .select(
            "source",
            F.col("n1").cast("long").alias("n1"),
            n2.cast("long").alias("n2"),
            round_half_up(
                acc / (F.col("n1").cast("double") * n2.cast("double")), 6
            ).alias("a2"),
        )
    )


def sprt_conversion(
    events: DataFrame,
    convert_type: str = "purchase",
    p0: float = 0.18,
    p1: float = 0.22,
    alpha: float = 0.05,
    beta: float = 0.05,
) -> DataFrame:
    """Wald's Sequential Probability Ratio Test on the daily conversion
    stream: H0 p = p0 vs H1 p = p1, the optimal always-valid early-stop
    rule for "is the conversion rate at its target?" monitoring —
    cumulative log-likelihood ratio per day against the
    ln((1-beta)/alpha) / ln(beta/(1-alpha)) boundaries, with the
    decision the pipeline would have taken at each close of day.

    Exactness: the Bernoulli LLR telescopes to a CLOSED FORM of the
    cumulative integer counts — llr_t = x_t*ln(p1/p0) +
    (n_t - x_t)*ln((1-p1)/(1-p0)) — so no per-day float recursion
    exists at all: two integer cumulative windows, two shared ln
    literals (correctly-rounded libm on identical IEEE quotients), one
    multiply-add. The boundaries are the same two-literal expressions
    on both engines.

    Scale: one day-keyed aggregate (|days| rows), one ordered window
    over it — the whole statistic lives on the calendar spine."""
    d = F.to_date("ts").cast("string")
    daily = events.groupBy(d.alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("n_d"),
        F.sum(
            F.when(F.col("event_type") == convert_type, 1).otherwise(0)
        )
        .cast("long")
        .alias("x_d"),
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = daily.select(
        "day",
        F.sum("n_d").over(w).cast("long").alias("n_cum"),
        F.sum("x_d").over(w).cast("long").alias("x_cum"),
    )
    import math

    # the four log-constants are computed ONCE in Python (libm) and
    # embedded as literals on BOTH engines — no reliance on engine-side
    # ln agreement for derived literals
    lr_pos = F.lit(math.log(p1 / p0))
    lr_neg = F.lit(math.log((1.0 - p1) / (1.0 - p0)))
    llr = (
        F.col("x_cum").cast("double") * lr_pos
        + (F.col("n_cum") - F.col("x_cum")).cast("double") * lr_neg
    )
    hi = F.lit(math.log((1.0 - beta) / alpha))
    lo = F.lit(math.log(beta / (1.0 - alpha)))
    return cum.select(
        "day",
        "n_cum",
        "x_cum",
        round_half_up(llr, 6).alias("llr"),
        F.when(llr >= hi, F.lit("accept_h1"))
        .when(llr <= lo, F.lit("accept_h0"))
        .otherwise(F.lit("continue"))
        .alias("decision"),
    )


def page_hinkley_drift(
    events: DataFrame, delta: float = 0.05, lam: float = 5.0
) -> DataFrame:
    """Page-Hinkley mean-drift detector over the daily mean event
    value: the classic streaming changepoint monitor — accumulate
    m_t = sum_{i<=t} (x_i - xbar_i - delta) against its running
    minimum and alarm when the gap clears lambda. Complements the
    battery's RETROSPECTIVE tests (pettitt locates a past change;
    CUSUM tracks a KNOWN target): PH needs no target and runs forward,
    the form an online monitor actually deploys.

    Exactness: x_t and the running mean make the recursion float and
    CROSS-FIELD (m_t needs xbar_t which needs the running sum), so the
    whole trajectory runs as ONE sequential fold over the day-ordered
    calendar list with an appending accumulator — and the DuckDB
    mirror is a RECURSIVE CTE (the list_reduce in-place-accumulator
    hazard documented in the Holt fold). Inputs to every float step
    are exact integers (day cent sums / counts).

    Scale: the fold list is |days| long — calendar-bounded. One
    day-keyed aggregate feeds it; at 100 TB the same plan holds with
    the day rollup the only shuffle."""
    d = F.to_date("ts").cast("string")
    daily = events.groupBy(d.alias("day")).agg(
        F.sum(_cents("value")).cast("long").alias("cents"),
        F.count(F.lit(1)).cast("long").alias("cnt"),
    )
    lst = daily.agg(
        F.array_sort(
            F.collect_list(F.struct("day", "cents", "cnt"))
        ).alias("l")
    )
    out_t = (
        "array<struct<day:string,x:double,ph:double,ph_min:double>>"
    )
    acc0 = F.struct(
        F.lit(0.0).alias("sum_x"),
        F.lit(0.0).alias("m"),
        F.lit(0.0).alias("mmin"),
        F.lit(0).cast("long").alias("t"),
        F.lit([]).cast(out_t).alias("out"),
    )

    def step(a, r):
        x = r["cents"].cast("double") / (100.0 * r["cnt"].cast("double"))
        t = a["t"] + 1
        sum_x = a["sum_x"] + x
        m = a["m"] + (x - sum_x / t.cast("double") - F.lit(delta))
        mmin = F.least(a["mmin"], m)
        row = F.struct(
            r["day"].alias("day"),
            x.alias("x"),
            m.alias("ph"),
            mmin.alias("ph_min"),
        )
        return F.struct(
            sum_x.alias("sum_x"),
            m.alias("m"),
            mmin.alias("mmin"),
            t.alias("t"),
            F.concat(a["out"], F.array(row)).alias("out"),
        )

    rows = lst.select(
        F.explode(F.aggregate(F.col("l"), acc0, step)["out"]).alias("r")
    )
    return rows.select(
        F.col("r.day").alias("day"),
        round_half_up(F.col("r.x"), 6).alias("x"),
        round_half_up(F.col("r.ph"), 6).alias("ph"),
        round_half_up(F.col("r.ph_min"), 6).alias("ph_min"),
        (F.col("r.ph") - F.col("r.ph_min") > F.lit(lam)).alias("alarm"),
    )


def mann_kendall(orders: DataFrame) -> DataFrame:
    """Mann–Kendall trend test on the daily order-count series — the
    HYPOTHESIS-TEST companion to ``theil_sen`` (that one estimates the
    slope; this one says whether a monotone trend exists at all, with a
    tie-corrected normal approximation):

        S     = sum_{i<j} sign(c_j - c_i)
        VarS  = [ n(n-1)(2n+5) - sum_t t(t-1)(2t+5) ] / 18
        Z     = (S - sign(S)) / sqrt(VarS)     (continuity-corrected)

    Integer discipline: daily counts are BIGINT, so S is an exact
    BIGINT pair fold and ``var18`` (= 18*VarS, emitted for audit) is an
    exact BIGINT from the count-of-counts tie rollup; the ONE float
    expression is the final Z under round_half_up. Degenerate series
    (all days tied -> var18 == 0) drop by integer predicate.

    Scale: the pair join is calendar-bounded — C(|days|, 2) pairs
    regardless of row count (the theil_sen envelope, ~2.9M pairs on a
    7-year fixture) — and the tie rollup rides the |distinct count|
    spine. Nothing downstream of the daily rollup is corpus-sized."""
    daily = (
        orders.select(F.date_trunc("day", "o_orderdate").alias("d"))
        .groupBy("d")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    a = daily.select(F.col("d").alias("d1"), F.col("c").alias("c1"))
    b = daily.select(F.col("d").alias("d2"), F.col("c").alias("c2"))
    s = (
        a.join(b, F.col("d1") < F.col("d2"))
        .agg(
            F.sum(
                F.when(F.col("c2") > F.col("c1"), 1)
                .when(F.col("c2") < F.col("c1"), -1)
                .otherwise(0)
            )
            .cast("long")
            .alias("s")
        )
    )
    consts = (
        daily.groupBy("c")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .agg(
            F.sum("t").cast("long").alias("n"),
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            )
            .cast("long")
            .alias("tie18"),
        )
    )
    j = s.crossJoin(F.broadcast(consts))
    nn = F.col("n")
    var18 = nn * (nn - 1) * (2 * nn + 5) - F.col("tie18")
    sc = F.col("s").cast("double")
    z = F.when(F.col("s") > 0, sc - 1.0).when(
        F.col("s") < 0, sc + 1.0
    ).otherwise(F.lit(0.0)) / F.sqrt(var18.cast("double") / 18.0)
    return j.where(var18 > 0).select(
        nn.alias("n_days"),
        F.col("s"),
        var18.alias("var18"),
        round_half_up(z, 6).alias("z"),
    )


def cochrans_q(events: DataFrame, min_days: int = 8) -> DataFrame:
    """Cochran's Q — the k-treatment generalization of McNemar
    (``mcnemar_purchase_shift`` compares TWO paired proportions; this
    asks whether ANY of the k event types differ in adoption when every
    user is their own block): blocks are users, treatments are event
    types, success = the user emitted that type on >= ``min_days``
    DISTINCT days (bare incidence saturates — every fixture user
    touches every type — so the threshold is what makes the design
    informative; it is part of the operator contract, not a tuning
    knob).

        Q = (k-1) * sum_j (k*C_j - N)^2 / ( k * (k*N - sum_b R_b^2) )

    (C_j = per-treatment success totals, R_b = per-block success
    counts, N = sum R_b; the k^2 scale factors between the textbook
    form and this one cancel exactly.)

    Integer discipline: successes are integer predicates on BIGINT
    day counts, so numerator and denominator are exact BIGINTs; the
    ONE float division sits under round_half_up. The degenerate
    all-blocks-uniform design (den == 0) drops by integer predicate.

    Scale: one (user, type) rollup — the corpus-sized shuffle — then a
    |users| x k grid completed by a broadcast type spine; everything
    after is |users|- or k-bounded, partial-aggregated map-side."""
    ut = (
        events.select(
            F.col("user_id").alias("b"),
            F.col("event_type").alias("t"),
            F.date_trunc("day", "ts").alias("d"),
        )
        .groupBy("b", "t")
        .agg(F.countDistinct("d").cast("long").alias("nd"))
    )
    types = ut.select("t").distinct()
    users = ut.select("b").distinct()
    grid = (
        users.crossJoin(F.broadcast(types))
        .join(ut, ["b", "t"], "left")
        .select(
            "b",
            "t",
            F.when(F.coalesce("nd", F.lit(0)) >= min_days, 1)
            .otherwise(0)
            .cast("long")
            .alias("x"),
        )
        .localCheckpoint(eager=False)
    )
    per_b = grid.groupBy("b").agg(F.sum("x").cast("long").alias("rb"))
    blocks = per_b.agg(
        F.sum("rb").cast("long").alias("n_succ"),
        F.sum(F.col("rb") * F.col("rb")).cast("long").alias("sum_rb2"),
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
    )
    per_t = grid.groupBy("t").agg(F.sum("x").cast("long").alias("cj"))
    lst = per_t.agg(
        F.array_sort(F.collect_list(F.struct("t", "cj"))).alias("l"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    j = lst.crossJoin(F.broadcast(blocks))
    kk, nnum = F.col("k"), F.col("n_succ")
    num = (kk - 1) * F.aggregate(
        F.col("l"),
        F.lit(0).cast("long"),
        lambda a, t: a
        + (kk * t["cj"] - nnum) * (kk * t["cj"] - nnum),
    )
    den = kk * (kk * nnum - F.col("sum_rb2"))
    return j.where((kk > 1) & (den > 0)).select(
        F.col("n_blocks"),
        kk.alias("k"),
        nnum.alias("n_succ"),
        round_half_up(num.cast("double") / den.cast("double"), 6).alias(
            "q"
        ),
    )


def _daily_ols_residuals(orders: DataFrame) -> DataFrame:
    """Shared machinery for the residual-diagnostic family
    (``durbin_watson``, ``ljung_box``): daily revenue in integer CENTS,
    exact DECIMAL OLS moments, mirrored double slope/intercept, and the
    QUANTIZED (1e-4 cents, BIGINT-in-DECIMAL) residual series with its
    lag-1 neighbor. Returns (n, b, t, eq, eq_prev) — one row per day
    with a full-window trend fit."""
    daily = (
        orders.select(
            F.date_trunc("day", "o_orderdate").alias("d"),
            _cents("o_totalprice").alias("cents"),
        )
        .groupBy("d")
        .agg(F.sum("cents").cast("long").alias("y"))
    )
    w_t = Window.orderBy("d")
    dt = daily.select(
        "d", "y", F.row_number().over(w_t).cast("long").alias("t")
    ).localCheckpoint(eager=False)
    m = dt.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("t").cast(DEC).alias("st"),
        F.sum(F.col("t") * F.col("t")).cast(DEC).alias("st2"),
        F.sum("y").cast(DEC).alias("sy"),
        F.sum(F.col("t").cast(DEC) * F.col("y").cast(DEC))
        .cast(DEC)
        .alias("sty"),
    )
    nn = F.col("n").cast(DEC)
    num_b = (nn * F.col("sty") - F.col("st") * F.col("sy")).cast("double")
    den_b = (nn * F.col("st2") - F.col("st") * F.col("st")).cast("double")
    b = num_b / den_b
    aa = (
        F.col("sy").cast("double") - b * F.col("st").cast("double")
    ) / F.col("n").cast("double")
    withm = dt.crossJoin(
        F.broadcast(m.select("n", b.alias("b"), aa.alias("a")))
    )
    e = (
        F.col("y").cast("double")
        - F.col("a")
        - F.col("b") * F.col("t").cast("double")
    )
    eq = F.floor(e * 10000.0 + F.lit(0.5)).cast(DEC)
    return withm.select(
        "n", "b", "t", eq.alias("eq"), F.lag(eq).over(w_t).alias("eq_prev")
    )


def durbin_watson(orders: DataFrame) -> DataFrame:
    """Durbin–Watson statistic on the residuals of the daily-revenue
    OLS trend — the serial-correlation audit the trend battery lacks
    (``acf_daily`` describes raw autocorrelation; this asks the
    regression question: AFTER removing the linear trend, do adjacent
    days still co-move? dw < 2 -> positive residual autocorrelation,
    the classic symptom of seasonality or level shifts under a line
    fit):

        dw = sum_t (e_t - e_{t-1})^2 / sum_t e_t^2

    Exactness: the OLS moments (n, St, St2, Sy, Sty) are exact
    DECIMAL(38,0) on integer day indexes and integer CENTS, so the
    slope/intercept doubles are single mirrored divisions of exact
    integers. Residuals are then QUANTIZED — e_t is computed in double
    (identical expression tree both engines, hence identical IEEE
    values) and immediately rounded to a BIGINT at 1e-4 cents — so
    both quadratic sums are exact DECIMAL reductions, immune to
    float-sum reassociation across partitions (the one hazard a
    naive double sum-of-squares has on a cluster). ONE float division
    at the end under round_half_up.

    Scale: one daily rollup shuffle; the residual window is
    calendar-bounded (|days| rows on one partition, the theil_sen
    envelope), and the moments are a broadcast 1-row aggregate."""
    res = _daily_ols_residuals(orders)
    out = res.groupBy("n", "b").agg(
        F.sum(F.col("eq") * F.col("eq")).cast(DEC).alias("sse"),
        F.sum(
            (F.col("eq") - F.col("eq_prev"))
            * (F.col("eq") - F.col("eq_prev"))
        )
        .cast(DEC)
        .alias("ssd"),
    )
    return out.where(F.col("sse") > 0).select(
        F.col("n").alias("n_days"),
        round_half_up(F.col("b"), 6).alias("slope_cents_per_day"),
        round_half_up(
            F.col("ssd").cast("double") / F.col("sse").cast("double"), 6
        ).alias("dw"),
    )


def dunn_posthoc(
    docs: DataFrame, col: str = "n_chars", group: str = "source"
) -> DataFrame:
    """Dunn's post-hoc pairwise comparisons — the follow-up
    ``kruskal_wallis`` demands (the omnibus H says "the sources
    differ"; this says WHICH pairs differ, on the same pooled-rank
    scale with the same tie correction):

        z_ab = (Rbar_a - Rbar_b)
               / sqrt( [ N(N+1)/12 - T/(12(N-1)) ] (1/n_a + 1/n_b) )

    with T = sum_v (c_v^3 - c_v) over pooled tie groups.

    Integer discipline: mean ranks ride the same doubled-midrank
    BIGINT spine as KW (Rbar = R2/(2n), each term a mirrored exact
    division), T and N are BIGINT, and the z expression is one
    mirrored float tree under round_half_up. Degenerate pools (N < 3)
    drop by integer predicate.

    Scale: identical envelope to kruskal_wallis — ONE corpus-sized
    (group, value) rollup, then a C(k, 2) self-join on the k-row
    per-group relation (k = |sources|, a constant)."""
    base = docs.select(
        F.col(group).alias("g"), F.col(col).cast("long").alias("v")
    ).where(F.col("v").isNotNull())
    sv = (
        base.groupBy("g", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("c_g"))
        .localCheckpoint(eager=False)
    )
    gv = (
        sv.groupBy("v")
        .agg(F.sum("c_g").cast("long").alias("c_all"))
        .localCheckpoint(eager=False)
    )
    consts = gv.agg(
        F.sum("c_all").cast("long").alias("n"),
        F.sum(
            F.col("c_all") * F.col("c_all") * F.col("c_all") - F.col("c_all")
        )
        .cast("long")
        .alias("tie_t"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    spine = gv.select(
        "v",
        (2 * (F.sum("c_all").over(w) - F.col("c_all")) + F.col("c_all") + 1)
        .cast("long")
        .alias("u"),
    )
    per_g = (
        sv.join(spine, "v")
        .groupBy("g")
        .agg(
            F.sum("c_g").cast("long").alias("ng"),
            F.sum(F.col("c_g") * F.col("u")).cast("long").alias("r2"),
        )
        .localCheckpoint(eager=False)
    )
    pa = per_g.select(
        F.col("g").alias("g_a"),
        F.col("ng").alias("na"),
        F.col("r2").alias("r2a"),
    )
    pb = per_g.select(
        F.col("g").alias("g_b"),
        F.col("ng").alias("nb"),
        F.col("r2").alias("r2b"),
    )
    # broadcast the k-row side: the inequality pair join would
    # otherwise plan as a CartesianProduct (correct but the wrong
    # node at scale — BNLJ keeps the big side partition-local)
    pairs = pa.join(F.broadcast(pb), F.col("g_a") < F.col("g_b")).crossJoin(
        F.broadcast(consts)
    )
    nd = F.col("n").cast("double")
    diff = F.col("r2a").cast("double") / (
        2.0 * F.col("na").cast("double")
    ) - F.col("r2b").cast("double") / (2.0 * F.col("nb").cast("double"))
    var = (
        nd * (nd + 1.0) / 12.0
        - F.col("tie_t").cast("double") / (12.0 * (nd - 1.0))
    ) * (
        1.0 / F.col("na").cast("double") + 1.0 / F.col("nb").cast("double")
    )
    return pairs.where((F.col("n") > 2) & (var > 0)).select(
        "g_a",
        "g_b",
        "na",
        "nb",
        round_half_up(diff / F.sqrt(var), 6).alias("z"),
    )


def ccf_daily(events: DataFrame, max_lag: int = 3) -> DataFrame:
    """Cross-correlation function between every PAIR of event types'
    daily count series, lags -``max_lag``..+``max_lag`` — the lead-lag
    detector ``daily_autocorr`` can't see (ACF asks "does a type
    predict ITSELF k days out?"; this asks "do clicks lead purchases,
    and by how many days?" — positive-lag peaks mean type_a leads
    type_b). Pairs are stored once (type_a < type_b); the reverse
    direction is the mirrored lag (r_ab(l) = r_ba(-l)), so the full
    matrix is derivable.

    Output contract (DROPPED-DAY convention): r is Pearson over only
    the day-offsets where BOTH types have >=1 event — the day-aligned
    join is INNER, so a day one type is silent on contributes nothing
    rather than a 0. This biases r for sparse types versus a
    zero-filled series and makes n vary by lag; it is the deliberate
    convention here (mirrored in the oracle), chosen so a type's dead
    calendar stretches don't manufacture correlation out of shared
    zeros. Zero-fill over a shared calendar spine if you need the
    classical signal-processing CCF.

    Exactness: identical arithmetic to daily_autocorr /
    type_correlation — BIGINT moments over the day-aligned join, ONE
    mirrored float expression, r_plus1 output to dodge the -0.0 repr
    divergence, zero-variance windows dropped by INTEGER predicate.

    Scale: daily rollup collapses volume first; the lag fan-out is
    |type pairs| x |days| x (2*max_lag+1) rows — calendar-bounded."""
    daily = events.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    a = daily.select(
        F.col("event_type").alias("type_a"),
        "d",
        F.col("cnt").alias("x"),
        F.explode(
            F.sequence(F.lit(-max_lag), F.lit(max_lag))
        ).alias("lag"),
    )
    b = daily.select(
        F.col("event_type").alias("type_b"),
        F.col("d").alias("db"),
        F.col("cnt").alias("y"),
    )
    j = a.join(
        b,
        (F.col("type_a") < F.col("type_b"))
        & (F.col("db") == F.date_add(F.col("d"), F.col("lag"))),
    )
    agg = j.groupBy("type_a", "type_b", "lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sx2"),
        F.sum(F.col("y") * F.col("y")).alias("sy2"),
    )
    vx = F.col("n") * F.col("sx2") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("sy2") - F.col("sy") * F.col("sy")
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    return (
        agg.where((vx > 0) & (vy > 0))
        .select(
            "type_a",
            "type_b",
            "lag",
            "n",
            round_half_up(
                num / (F.sqrt(vx.cast("double")) * F.sqrt(vy.cast("double")))
                + F.lit(1.0),
                6,
            ).alias("r_plus1"),
        )
    )


def stl_lite(orders: DataFrame) -> DataFrame:
    """Additive trend/seasonal/residual decomposition of the daily
    revenue series (classical decomposition, the non-iterative core of
    STL): trend = centered 7-day moving average, seasonal = day-of-week
    mean of the detrended series, residual = the rest — the
    decomposition behind every "is this dip seasonality or a real
    drop?" question (``seasonal_outliers`` flags; this EXPLAINS, one
    row per day).

    Exactness: the series is integer CENTS, so every component is an
    exact RATIONAL — trend = trend7/7 (windowed BIGINT sum), seasonal
    = sn/(7*sc) (BIGINT day-of-week rollup of the 7x-scaled detrended
    values), residual = (7*sc*y - sc*trend7 - sn)/(7*sc) — and each
    emitted double is ONE mirrored division of exact BIGINTs under
    round_half_up. Edge days without a full 7-day window are trimmed
    by an integer count predicate (count == 7), the classical
    convention.

    CONTIGUITY ASSUMPTION: the 7-ROW centered window (rowsBetween(-3,3))
    assumes a gapless daily calendar — on a series with missing days
    'trend7' silently spans more than 7 calendar days (the c7==7
    predicate only trims the series edges, it does not detect interior
    gaps). TPC-H orderdates are dense at every SF so this holds on the
    fixtures; on gapped data, gap-fill the day spine first
    (``gap_fill_daily``) or switch to a rangeBetween day window.

    Scale: one daily rollup shuffle; the moving-average window is
    calendar-bounded (the theil_sen envelope) and the seasonal rollup
    has 7 rows. Day emitted as an ISO string (never raw DATE in an
    oracle-compared result)."""
    daily = (
        orders.select(
            F.date_trunc("day", "o_orderdate").alias("d"),
            _cents("o_totalprice").alias("cents"),
        )
        .groupBy("d")
        .agg(F.sum("cents").cast("long").alias("y"))
    )
    w7 = Window.orderBy("d").rowsBetween(-3, 3)
    t = daily.select(
        "d",
        "y",
        F.sum("y").over(w7).cast("long").alias("trend7"),
        F.count(F.lit(1)).over(w7).cast("long").alias("c7"),
    ).where(F.col("c7") == 7)
    # Spark dayofweek is 1=Sunday..7; DuckDB dayofweek is 0=Sunday..6.
    t = t.withColumn(
        "dow", (F.dayofweek("d") - 1).cast("int")
    ).withColumn("detr7", 7 * F.col("y") - F.col("trend7"))
    seas = t.groupBy("dow").agg(
        F.sum("detr7").cast("long").alias("sn"),
        F.count(F.lit(1)).cast("long").alias("sc"),
    )
    j = t.join(F.broadcast(seas), "dow")
    den = (7 * F.col("sc")).cast("double")
    return j.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "y",
        round_half_up(F.col("trend7").cast("double") / 7.0, 6).alias(
            "trend"
        ),
        round_half_up(F.col("sn").cast("double") / den, 6).alias(
            "seasonal"
        ),
        round_half_up(
            (
                7 * F.col("sc") * F.col("y")
                - F.col("sc") * F.col("trend7")
                - F.col("sn")
            ).cast("double")
            / den,
            6,
        ).alias("residual"),
    )


def disparate_impact(t, min_orders: int = 10) -> DataFrame:
    """Four-fifths-rule disparate-impact audit over customer nations:
    selection = "placed at least ``min_orders`` orders" (the
    heavy-user screen a loyalty program or a training-label cut would
    apply — bare has-any-order saturates at 100% on the fixtures),
    rate_g = selected_g / n_g per nation, reference = the highest-rate
    nation (ties -> lowest nationkey), and the flag is the EEOC 80%
    screen — rate_g < 0.8 * rate_ref — the fairness gate a
    training-data pipeline runs before a protected attribute ships in
    a label or a sampling weight (``kanon_customers``/``t_closeness``
    audit privacy; this audits allocation).

    Integer discipline: the flag is the cross-multiplied INTEGER
    predicate 5 * sel_g * n_ref < 4 * sel_ref * n_g (no float
    boundary); rates and the DI ratio are mirrored divisions of exact
    BIGINTs under round_half_up. Reference choice rides a
    deterministic (rate desc, nationkey asc) window on the |nations|-
    row rollup — rate doubles are exact-integer divisions, identical
    cross-engine.

    Scale: one order-count rollup (keys only), one left join, ONE
    nation rollup; everything after is |nations|-sized."""
    per_cust = (
        t["orders"]
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
    )
    sel = (
        t["customer"]
        .join(per_cust, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy(F.col("c_nationkey").cast("int").alias("nationkey"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(
                F.when(
                    F.coalesce("n_orders", F.lit(0)) >= min_orders, 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("sel"),
        )
    )
    w = Window.orderBy(
        (F.col("sel").cast("double") / F.col("n").cast("double")).desc(),
        F.col("nationkey").asc(),
    )
    ranked = sel.withColumn("rn", F.row_number().over(w))
    ref = ranked.where(F.col("rn") == 1).select(
        F.col("sel").alias("sel_ref"), F.col("n").alias("n_ref")
    )
    j = ranked.crossJoin(F.broadcast(ref))
    return j.select(
        "nationkey",
        "n",
        "sel",
        round_half_up(
            F.col("sel").cast("double") / F.col("n").cast("double"), 6
        ).alias("rate"),
        # sel_ref == 0 (no group selects anyone) leaves the DI ratio
        # undefined — NULL, never a divide-by-zero (ANSI mode throws;
        # found by the Hypothesis brute-force pin)
        F.when(
            F.col("sel_ref") > 0,
            round_half_up(
                (F.col("sel") * F.col("n_ref")).cast("double")
                / (F.col("sel_ref") * F.col("n")).cast("double"),
                6,
            ),
        ).alias("di_ratio"),
        (
            5 * F.col("sel") * F.col("n_ref")
            < 4 * F.col("sel_ref") * F.col("n")
        ).alias("flag_80pct"),
    )


def brier_decomposition(events: DataFrame, n_bins: int = 10) -> DataFrame:
    """Murphy decomposition of the Brier score for the
    "value predicts purchase" forecaster that ``calibration_bins``
    tabulates: forecast p_i = the value's percentile rank (rank-1)/N on
    the deterministic (cents, event_id) ordering, binned into
    ``n_bins`` equal-count bins; then

        REL = (1/N) sum_b n_b (f_b - ybar_b)^2     (reliability)
        RES = (1/N) sum_b n_b (ybar_b - ybar)^2    (resolution)
        UNC = ybar (1 - ybar)                       (uncertainty)
        brier_binned = REL - RES + UNC

    — the one-row answer to "is the score bad because it's
    miscalibrated (REL) or because it can't discriminate (RES)?".

    Exactness: ranks, bin ids and counts are BIGINT; the per-bin
    forecast mean f_b = sum(rank-1) / (n_b * N) and observed rate
    ybar_b = pos_b / n_b are exact-integer divisions, and the two
    quadratic sums run as SEQUENTIAL folds over the bin-id-sorted
    10-row list (zipf discipline), mirrored term-for-term. ONE
    round_half_up per emitted column.

    Scale: identical envelope to calibration_bins — one global
    sort-rank (range-partitioned at scale), then |bins|-sized."""
    base = events.select(
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.col("event_id").alias("eid"),
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .cast("long")
        .alias("pos"),
    ).where(F.col("cents").isNotNull())
    n = base.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    ranked = base.select(
        "pos",
        F.row_number()
        .over(Window.orderBy(F.col("cents").asc(), F.col("eid").asc()))
        .cast("long")
        .alias("rn"),
    )
    binned = ranked.crossJoin(F.broadcast(n)).select(
        "pos",
        "n_total",
        (F.col("rn") - 1).alias("r0"),
        F.expr(f"(rn - 1) * {n_bins} div n_total").cast("long").alias("b"),
    )
    per_bin = binned.groupBy("b").agg(
        F.count(F.lit(1)).cast("long").alias("nb"),
        F.sum("pos").cast("long").alias("pb"),
        F.sum("r0").cast("long").alias("sr"),
        F.max("n_total").cast("long").alias("nt"),
    )
    lst = per_bin.agg(
        F.array_sort(
            F.collect_list(F.struct("b", "nb", "pb", "sr"))
        ).alias("l"),
        F.max("nt").cast("long").alias("n"),
        F.sum("pb").cast("long").alias("p"),
    )
    nd = F.col("n").cast("double")
    ybar = F.col("p").cast("double") / nd
    fb = lambda t: t["sr"].cast("double") / (  # noqa: E731
        t["nb"].cast("double") * nd
    )
    yb = lambda t: t["pb"].cast("double") / t["nb"].cast("double")  # noqa: E731
    rel = (
        F.aggregate(
            F.col("l"),
            F.lit(0.0),
            lambda a, t: a
            + t["nb"].cast("double") * (fb(t) - yb(t)) * (fb(t) - yb(t)),
        )
        / nd
    )
    res = (
        F.aggregate(
            F.col("l"),
            F.lit(0.0),
            lambda a, t: a
            + t["nb"].cast("double") * (yb(t) - ybar) * (yb(t) - ybar),
        )
        / nd
    )
    unc = ybar * (F.lit(1.0) - ybar)
    return lst.where(F.col("n") > 0).select(
        F.col("n").alias("n_events"),
        round_half_up(ybar, 6).alias("base_rate"),
        round_half_up(rel, 6).alias("reliability"),
        round_half_up(res, 6).alias("resolution"),
        round_half_up(unc, 6).alias("uncertainty"),
        round_half_up(rel - res + unc, 6).alias("brier_binned"),
    )


def lift_curve(events: DataFrame, n_bins: int = 10) -> DataFrame:
    """Cumulative-gains / lift table for the same value-ranked
    forecaster: rank events by value DESC into ``n_bins`` equal-count
    deciles and report, per decile, the cumulative share of all
    purchases captured and the lift over random targeting —
    ``calibration_bins`` asks "are the probabilities right?"; this
    asks the campaign question "how much of the outcome do the top
    k% hold?".

    Exactness: decile of a row = (rank-1) * n_bins div N on the
    deterministic (cents DESC, event_id ASC) ordering; cumulative
    sums ride a window over the |bins|-row rollup; capture and lift
    are mirrored divisions of exact BIGINTs under round_half_up.
    Degenerate corpora with zero positives drop by integer predicate.

    Scale: one global sort-rank, then |bins|-sized."""
    base = events.select(
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.col("event_id").alias("eid"),
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .cast("long")
        .alias("pos"),
    ).where(F.col("cents").isNotNull())
    n = base.agg(
        F.count(F.lit(1)).cast("long").alias("n_total"),
        F.sum("pos").cast("long").alias("p_total"),
    )
    ranked = base.select(
        "pos",
        F.row_number()
        .over(Window.orderBy(F.col("cents").desc(), F.col("eid").asc()))
        .cast("long")
        .alias("rn"),
    )
    binned = ranked.crossJoin(F.broadcast(n)).select(
        "pos",
        "n_total",
        "p_total",
        F.expr(f"(rn - 1) * {n_bins} div n_total").cast("int").alias(
            "decile"
        ),
    )
    per = binned.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("pos").cast("long").alias("n_pos"),
        F.max("n_total").cast("long").alias("nt"),
        F.max("p_total").cast("long").alias("pt"),
    )
    wc = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = per.select(
        "decile",
        "n",
        "n_pos",
        "nt",
        "pt",
        F.sum("n").over(wc).cast("long").alias("cum_n"),
        F.sum("n_pos").over(wc).cast("long").alias("cum_pos"),
    )
    return cum.where(F.col("pt") > 0).select(
        "decile",
        "n",
        "n_pos",
        "cum_pos",
        round_half_up(
            F.col("cum_pos").cast("double") / F.col("pt").cast("double"),
            6,
        ).alias("capture"),
        round_half_up(
            (F.col("cum_pos") * F.col("nt")).cast("double")
            / (F.col("cum_n") * F.col("pt")).cast("double"),
            6,
        ).alias("lift"),
    )


def ljung_box(orders: DataFrame, max_lag: int = 7) -> DataFrame:
    """Ljung–Box portmanteau terms on the daily-revenue OLS residuals —
    the multi-lag completion of the residual-diagnostic family
    (``durbin_watson`` sees lag 1; this tabulates lags 1..``max_lag``,
    with Q(m) = sum of the first m ``q_term`` values, chi-square_m
    under white-noise residuals):

        r_k    = sum_t e_t e_{t+k} / sum_t e_t^2
        q_term = n (n+2) r_k^2 / (n - k)

    Exactness: residuals are the same QUANTIZED BIGINT series
    durbin_watson reduces (``_daily_ols_residuals``), so both the
    lag-k cross sums and the energy are exact DECIMAL reductions;
    r_k and q_term are mirrored float expressions under
    round_half_up. Per-lag rows (not a windowed cumulative) keep
    every emitted double a function of exact integers — a windowed
    running double sum would expose engine summation-tree order.

    Scale: the lag join fans the |days|-row residual series out
    ``max_lag`` times — calendar-bounded (the acf_daily envelope)."""
    res = _daily_ols_residuals(orders).localCheckpoint(eager=False)
    sse = res.agg(F.sum(F.col("eq") * F.col("eq")).cast(DEC).alias("sse"))
    a = res.select(
        "n",
        "t",
        "eq",
        F.explode(F.sequence(F.lit(1), F.lit(max_lag))).alias("lag"),
    )
    b = res.select(F.col("t").alias("tb"), F.col("eq").alias("eqb"))
    lagged = a.join(b, F.col("tb") == F.col("t") + F.col("lag"))
    per = lagged.groupBy("lag").agg(
        F.max("n").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(F.col("eq") * F.col("eqb")).cast(DEC).alias("sk"),
    )
    j = per.crossJoin(F.broadcast(sse))
    nd = F.col("n").cast("double")
    r = F.col("sk").cast("double") / F.col("sse").cast("double")
    q_term = nd * (nd + 2.0) * r * r / (nd - F.col("lag").cast("double"))
    return j.where(F.col("sse") > 0).select(
        "lag",
        "n_pairs",
        round_half_up(r, 6).alias("r"),
        round_half_up(q_term, 6).alias("q_term"),
    )


def conformal_coverage(events: DataFrame) -> DataFrame:
    """Split-conformal interval audit: calibrate a [q05, q95] value
    interval on EVEN calendar days, measure its empirical coverage on
    ODD days — the exchangeability check behind every distribution-
    free prediction interval (a coverage far from the nominal 90%
    says the two halves are not exchangeable: drift, day-of-week
    structure, or a fat tail the quantiles missed).

    Exactness: quantile cuts are nearest-rank on integer cents with
    cross-multiplied INTEGER rank thresholds (lo = ceil(5n/100),
    hi = ceil(95n/100) over the deterministic (cents, event_id)
    order), the covered count is an integer BETWEEN predicate, and
    coverage is ONE mirrored division under round_half_up.

    Scale: one global sort-rank on the train half (range-partitioned
    at scale), one broadcast of the 1-row interval back onto the test
    scan."""
    base = events.select(
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.col("event_id").alias("eid"),
        (F.dayofmonth("ts") % 2 == 0).alias("is_train"),
    ).where(F.col("cents").isNotNull())
    train = base.where(F.col("is_train"))
    nt = train.agg(F.count(F.lit(1)).cast("long").alias("n_train"))
    ranked = train.select(
        "cents",
        F.row_number()
        .over(Window.orderBy(F.col("cents").asc(), F.col("eid").asc()))
        .cast("long")
        .alias("rn"),
    ).crossJoin(F.broadcast(nt))
    interval = ranked.agg(
        F.max("n_train").alias("n_train"),
        F.min(
            F.when(
                F.col("rn")
                == F.expr("(5 * n_train + 99) div 100"),
                F.col("cents"),
            )
        ).alias("lo_cents"),
        F.min(
            F.when(
                F.col("rn")
                == F.expr("(95 * n_train + 99) div 100"),
                F.col("cents"),
            )
        ).alias("hi_cents"),
    )
    test = base.where(~F.col("is_train"))
    scored = test.crossJoin(F.broadcast(interval))
    return scored.agg(
        F.max("n_train").cast("long").alias("n_train"),
        F.count(F.lit(1)).cast("long").alias("n_test"),
        F.max("lo_cents").cast("long").alias("lo_cents"),
        F.max("hi_cents").cast("long").alias("hi_cents"),
        F.sum(
            F.when(
                (F.col("cents") >= F.col("lo_cents"))
                & (F.col("cents") <= F.col("hi_cents")),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_covered"),
    ).where(
        (F.col("n_test") > 0) & F.col("n_train").isNotNull()
    ).select(
        "n_train",
        "n_test",
        "lo_cents",
        "hi_cents",
        "n_covered",
        round_half_up(
            F.col("n_covered").cast("double")
            / F.col("n_test").cast("double"),
            6,
        ).alias("coverage"),
    )


def weighted_quantiles(lineitem: DataFrame) -> DataFrame:
    """Quantity-weighted price quantiles (q25/q50/q75/q90): the
    smallest extended price whose cumulative QUANTITY share clears
    each cut — the volume-weighted generalization of
    ``weighted_median_price`` (a thin high-volume SKU moves these;
    an expensive one-off doesn't).

    Exactness: prices ride the integer-cents spine, weights are
    integer quantities, the cut test is the cross-multiplied INTEGER
    predicate 100 * cumw >= q * W (never a float share), and the
    per-q pick is an integer MIN over qualifying spine rows.

    Scale: one (cents) rollup — the corpus-sized shuffle — then a
    cumulative window over the |distinct price| spine and a 4-row
    broadcast quantile spine."""
    gv = (
        lineitem.select(
            F.round(F.col("l_extendedprice") * 100)
            .cast("long")
            .alias("cents"),
            F.col("l_quantity").cast("long").alias("qty"),
        )
        .groupBy("cents")
        .agg(F.sum("qty").cast("long").alias("w"))
    )
    wc = Window.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = gv.select(
        "cents",
        F.sum("w").over(wc).cast("long").alias("cumw"),
    ).crossJoin(
        F.broadcast(gv.agg(F.sum("w").cast("long").alias("wtot")))
    )
    spark = lineitem.sparkSession
    qs = spark.createDataFrame([(25,), (50,), (75,), (90,)], "q int")
    hit = cum.join(
        F.broadcast(qs),
        100 * F.col("cumw") >= F.col("q").cast("long") * F.col("wtot"),
    )
    return (
        hit.groupBy("q")
        .agg(
            F.min("cents").cast("long").alias("cents"),
            F.max("wtot").cast("long").alias("total_qty"),
        )
        .select(
            "q",
            "cents",
            "total_qty",
            (F.col("cents").cast("double") / 100.0).alias("price"),
        )
    )


def theil_index(t) -> DataFrame:
    """Theil T inequality of customer spend, DECOMPOSED by nation —
    the additive split ``spend_gini`` can't give (Gini doesn't
    decompose): per nation g, the within-group index

        T_g = sum_i (y_i / Y_g) * ln(n_g * y_i / Y_g)

    and the between-group term s_g * ln(s_g * N / n_g) with
    s_g = Y_g / Y; total inequality = sum_g s_g * T_g + sum_g
    between_g — "is spend inequality a between-nations story or a
    within-nation one?".

    Exactness: counts and spend are BIGINT; each member's within-group
    contribution is QUANTIZED to integer nanos — floor((y/Y_g) *
    ln(n_g*y/Y_g) * 1e9 + 0.5), a mirrored double expression on exact
    integers — so the per-group reduction is an exact BIGINT sum,
    order-free (the adamic_adar move; per-term quantization error
    <= 0.5e-9 * n_g is part of the operator's defined semantics).
    Emitted shares/terms are single mirrored expressions under
    round_half_up. Zero-spend members drop (ln undefined) by integer
    predicate.

    Scale: one custkey rollup, one broadcast nation-stats join back
    onto it, one nation rollup — no per-group collect anywhere, so
    group size is unbounded."""
    per_cust = (
        t["orders"]
        .groupBy("o_custkey")
        .agg(
            F.sum(_cents("o_totalprice")).cast("long").alias("cents")
        )
    )
    j = (
        per_cust.join(
            t["customer"],
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .select(
            F.col("c_nationkey").cast("int").alias("nationkey"),
            "cents",
        )
        .where(F.col("cents") > 0)
        .localCheckpoint(eager=False)
    )
    g = j.groupBy("nationkey").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("yg"),
    ).localCheckpoint(eager=False)
    tot = g.agg(
        F.sum("n").cast("long").alias("nn"),
        F.sum("yg").cast("long").alias("yy"),
    )
    m = F.floor(
        (F.col("cents").cast("double") / F.col("yg").cast("double"))
        * F.log(
            (F.col("n") * F.col("cents")).cast("double")
            / F.col("yg").cast("double")
        )
        * 1000000000.0
        + 0.5
    ).cast("long")
    w = (
        j.join(F.broadcast(g), "nationkey")
        .select("nationkey", m.alias("m"))
        .groupBy("nationkey")
        .agg(F.sum("m").cast("long").alias("micro"))
    )
    out = g.join(w, "nationkey").crossJoin(F.broadcast(tot))
    s_share = F.col("yg").cast("double") / F.col("yy").cast("double")
    between = s_share * F.log(
        F.col("yg").cast("double")
        * F.col("nn").cast("double")
        / (F.col("yy").cast("double") * F.col("n").cast("double"))
    )
    return out.select(
        "nationkey",
        "n",
        F.col("yg").alias("spend_cents"),
        round_half_up(s_share, 6).alias("s_share"),
        round_half_up(
            F.col("micro").cast("double") / 1000000000.0, 6
        ).alias("t_within"),
        round_half_up(between, 6).alias("t_between_term"),
    )


# --------------------------------------------------------------------
# round-7 additions: classical-test tail + inequality + control charts
# --------------------------------------------------------------------


def bartlett_test(orders: DataFrame) -> DataFrame:
    """Bartlett's test of variance homogeneity of order value across
    order priorities — the PARAMETRIC scale test completing the
    variance-family (``levene_variance``/``brown_forsythe`` are the
    robust members; Bartlett is the classical chi-square form, more
    powerful under normality and the one ANOVA textbooks gate on):

        T = [(N-k) ln s_p^2 - sum_i v_i ln s_i^2] / C,
        C = 1 + (sum_i 1/v_i - 1/(N-k)) / (3(k-1)),   v_i = n_i - 1

    Exactness: per-group moments are exact integers (cents, DECIMAL(38)
    squares); each s_i^2 = (n_i*Q_i - S_i^2)/(n_i*v_i) is ONE mirrored
    division of exact integers, and every cross-group reduction (the
    pooled variance, the ln sum, the 1/v_i sum) is a SEQUENTIAL fold
    over the priority-sorted group list — order pinned, value-hashes
    exactly. Groups with n_i < 2 drop by integer predicate.

    Scale: one keyed rollup to k=|priorities| rows; everything after
    is dimension-sized."""
    g = (
        orders.groupBy(F.col("o_orderpriority").alias("p"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(_cents("o_totalprice")).cast("long").alias("s"),
            F.sum(
                _cents("o_totalprice").cast(DEC)
                * _cents("o_totalprice").cast(DEC)
            )
            .cast(DEC)
            .alias("q"),
        )
        .where(F.col("n") >= 2)
    )
    arr = g.groupBy().agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    "p",
                    F.col("n").alias("n"),
                    # s2 = (n*Q - S^2) / (n*(n-1)): exact ints in, one
                    # mirrored double division out
                    (
                        (
                            F.col("n").cast(DEC) * F.col("q")
                            - F.col("s").cast(DEC) * F.col("s").cast(DEC)
                        ).cast("double")
                        / (F.col("n") * (F.col("n") - 1)).cast("double")
                    ).alias("s2"),
                )
            )
        ).alias("gs"),
        F.sum("n").cast("long").alias("nn"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    pooled_num = F.aggregate(
        F.col("gs"), F.lit(0.0), lambda a, t: a + (t["n"] - 1) * t["s2"]
    )
    s2p = pooled_num / (F.col("nn") - F.col("k")).cast("double")
    ln_sum = F.aggregate(
        F.col("gs"),
        F.lit(0.0),
        lambda a, t: a + (t["n"] - 1) * F.log(t["s2"]),
    )
    inv_sum = F.aggregate(
        F.col("gs"),
        F.lit(0.0),
        lambda a, t: a + F.lit(1.0) / (t["n"] - 1).cast("double"),
    )
    c = F.lit(1.0) + (
        inv_sum - F.lit(1.0) / (F.col("nn") - F.col("k")).cast("double")
    ) / (3.0 * (F.col("k") - 1).cast("double"))
    t_stat = (
        (F.col("nn") - F.col("k")).cast("double") * F.log(s2p) - ln_sum
    )
    return arr.where(
        (F.col("k") > 1)
        & F.aggregate(
            F.col("gs"),
            F.lit(True),
            lambda a, t: a & (t["s2"] > 0),
        )
    ).select(
        F.col("nn").alias("n"),
        F.col("k").alias("n_groups"),
        # variance reported in DOLLARS^2 (cents^2 / 1e4): keeps the
        # round_half_up long-quantization in range at any fixture SF
        round_half_up(s2p / 10000.0, 2).alias("pooled_var_usd2"),
        round_half_up(c, 6).alias("c_factor"),
        round_half_up(t_stat / c, 6).alias("chi2"),
    )


def grubbs_outlier(events: DataFrame) -> DataFrame:
    """Grubbs' statistic per event type over the DAILY-count series:
    G = max_t |x_t - mean| / sd — "is the single worst day a genuine
    outlier, or just the tail of normal variation?" — the one-point
    screen the MAD/CUSUM family doesn't give (MAD flags many points;
    Grubbs scores THE extreme one against a studentized bound).

    Exactness: the argmax day is chosen by an INTEGER ordering
    ((n*x - S)^2 DECIMAL desc, day asc — no float enters the pick);
    G itself is one mirrored sqrt of exact-integer ratios,
    G^2 = (n*x - S)^2 * (n-1) / (n * (n*Q - S^2)). Types with n < 3
    or zero variance drop by integer predicate.

    Scale: daily rollup, then a per-type window over calendar-bounded
    rows."""
    daily = (
        events.groupBy(
            F.col("event_type").alias("t"), F.to_date("ts").alias("d")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
        # calendar x types rows, two consumers -> one events scan
        .localCheckpoint(eager=False)
    )
    g = daily.groupBy("t").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
        F.sum(F.col("x").cast(DEC) * F.col("x").cast(DEC))
        .cast(DEC)
        .alias("q"),
    )
    j = daily.join(F.broadcast(g), "t")
    dev = F.col("n").cast(DEC) * F.col("x").cast(DEC) - F.col("s").cast(
        DEC
    )
    j = j.withColumn("dev2", (dev * dev).cast(DEC))
    w = Window.partitionBy("t").orderBy(
        F.col("dev2").desc(), F.col("d").asc()
    )
    top = j.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") == 1
    )
    var_num = (
        F.col("n").cast(DEC) * F.col("q")
        - F.col("s").cast(DEC) * F.col("s").cast(DEC)
    ).cast(DEC)
    g2 = (
        F.col("dev2").cast("double")
        * (F.col("n") - 1).cast("double")
        / (F.col("n").cast("double") * var_num.cast("double"))
    )
    return (
        top.where((F.col("n") >= 3) & (var_num > 0))
        .select(
            F.col("t").alias("event_type"),
            "n",
            F.date_format("d", "yyyy-MM-dd").alias("worst_day"),
            F.col("x").alias("cnt"),
            round_half_up(F.sqrt(g2), 6).alias("grubbs_g"),
        )
    )


def anova_oneway(orders: DataFrame) -> DataFrame:
    """Classical one-way ANOVA F across order priorities on order value
    — the parametric mean test the family lacked (``kruskal_wallis``
    is its rank twin, ``levene_variance``/``bartlett_test`` its
    variance preconditions):

        F = (SSB / (k-1)) / (SSW / (N-k)),
        SSB = sum_g S_g^2/n_g - S^2/N,   SSW = Q - sum_g S_g^2/n_g

    Exactness: all moments are exact integers (cents, DECIMAL(38)
    squares); sum_g S_g^2/n_g is a SEQUENTIAL fold over the
    priority-sorted group list of single mirrored divisions; SSB/SSW/F
    are mirrored float expressions of those. Output in cents^2 units.

    Scale: one keyed rollup to k rows + one grand rollup."""
    c = _cents("o_totalprice")
    g = orders.groupBy(F.col("o_orderpriority").alias("p")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(c).cast("long").alias("s"),
        F.sum(c.cast(DEC) * c.cast(DEC)).cast(DEC).alias("q"),
    )
    arr = g.groupBy().agg(
        F.array_sort(
            F.collect_list(F.struct("p", "n", "s"))
        ).alias("gs"),
        F.sum("n").cast("long").alias("nn"),
        F.sum("s").cast(DEC).alias("ss"),
        F.sum("q").cast(DEC).alias("qq"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    between_raw = F.aggregate(
        F.col("gs"),
        F.lit(0.0),
        lambda a, t: a
        + (t["s"].cast(DEC) * t["s"].cast(DEC)).cast("double")
        / t["n"].cast("double"),
    )
    ssb = between_raw - (F.col("ss") * F.col("ss")).cast(
        "double"
    ) / F.col("nn").cast("double")
    ssw = F.col("qq").cast("double") - between_raw
    f_stat = (ssb / (F.col("k") - 1).cast("double")) / (
        ssw / (F.col("nn") - F.col("k")).cast("double")
    )
    return arr.where(
        (F.col("k") > 1) & (F.col("nn") > F.col("k")) & (ssw > 0)
    ).select(
        F.col("nn").alias("n"),
        F.col("k").alias("n_groups"),
        # mean squares in DOLLARS^2 (cents^2 / 1e4): magnitude-safe for
        # the round_half_up long quantization (raw SS in cents^2
        # overflows it past ~1e16)
        round_half_up(
            ssb / (F.col("k") - 1).cast("double") / 10000.0, 2
        ).alias("ms_between_usd2"),
        round_half_up(
            ssw / (F.col("nn") - F.col("k")).cast("double") / 10000.0, 2
        ).alias("ms_within_usd2"),
        round_half_up(f_stat, 6).alias("f_stat"),
    )


def _type_dow_cells(events: DataFrame):
    """Shared contingency for mutual_information / g_test: event_type x
    day-of-week cell counts with margins — all exact BIGINTs. Spark
    dayofweek is 1=Sunday..7; minus 1 mirrors DuckDB's 0=Sunday..6
    (the stl_lite precedent)."""
    cells = (
        events.groupBy(
            F.col("event_type").alias("t"),
            (F.dayofweek(F.to_date("ts")) - 1).cast("int").alias("dow"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("o"))
        # <= |types| x 7 rows feeding four consumers: one events scan,
        # not four (Catalyst has no cross-branch CSE)
        .localCheckpoint(eager=False)
    )
    rows = cells.groupBy("t").agg(F.sum("o").cast("long").alias("r"))
    cols = cells.groupBy("dow").agg(F.sum("o").cast("long").alias("c"))
    tot = cells.agg(
        F.sum("o").cast("long").alias("n"),
        F.count_distinct("t").cast("long").alias("rk"),
        F.count_distinct("dow").cast("long").alias("ck"),
    )
    full = cells.join(rows, "t").join(cols, "dow")
    return full, rows, cols, tot


def mutual_information(events: DataFrame) -> DataFrame:
    """Plug-in mutual information between event type and day-of-week,
    with marginal entropies and the sqrt-normalized NMI — "how much
    does WHEN predict WHAT?" as one number in [0, 1] (``theils_u`` is
    the asymmetric cousin on a different pair; this is the symmetric
    standard for feature screens):

        MI = sum_ij (o/N) ln(N*o / (r_i*c_j)),
        NMI = MI / sqrt(H_type * H_dow)

    Exactness: every per-cell/per-margin term is QUANTIZED to integer
    nanos — floor(term * 1e9 + 0.5), a mirrored double expression on
    exact BIGINTs — so the reductions are exact BIGINT sums, ORDER-FREE
    (the theil_index move; no sorted fold needed). NMI is one mirrored
    float expression of the three quantized sums.

    Scale: one |types| x 7 rollup; dimension-sized after."""
    full, rows, cols, tot = _type_dow_cells(events)
    nano = lambda e: F.floor(e * 1000000000.0 + F.lit(0.5)).cast("long")
    j = full.crossJoin(F.broadcast(tot))
    nd = F.col("n").cast("double")
    mi_q = j.agg(
        F.sum(
            nano(
                (F.col("o").cast("double") / nd)
                * F.log(
                    (F.col("n") * F.col("o")).cast("double")
                    / (F.col("r") * F.col("c")).cast("double")
                )
            )
        )
        .cast("long")
        .alias("mi_nano")
    )
    ht_q = rows.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            nano(
                -(F.col("r").cast("double") / nd)
                * F.log(F.col("r").cast("double") / nd)
            )
        )
        .cast("long")
        .alias("ht_nano")
    )
    hd_q = cols.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            nano(
                -(F.col("c").cast("double") / nd)
                * F.log(F.col("c").cast("double") / nd)
            )
        )
        .cast("long")
        .alias("hd_nano")
    )
    out = (
        tot.crossJoin(F.broadcast(mi_q))
        .crossJoin(F.broadcast(ht_q))
        .crossJoin(F.broadcast(hd_q))
    )
    mi = F.col("mi_nano").cast("double") / 1000000000.0
    ht = F.col("ht_nano").cast("double") / 1000000000.0
    hd = F.col("hd_nano").cast("double") / 1000000000.0
    return out.where((F.col("rk") > 1) & (F.col("ck") > 1)).select(
        "n",
        F.col("rk").alias("n_types"),
        F.col("ck").alias("n_dows"),
        round_half_up(mi, 6).alias("mi"),
        round_half_up(ht, 6).alias("h_type"),
        round_half_up(hd, 6).alias("h_dow"),
        round_half_up(
            F.when(ht * hd > 0, mi / F.sqrt(ht * hd)).otherwise(
                F.lit(0.0)
            ),
            6,
        ).alias("nmi"),
    )


def g_test(events: DataFrame) -> DataFrame:
    """G-test (likelihood-ratio chi-square) of independence on the same
    event_type x day-of-week contingency as ``mutual_information`` —
    the additive test statisticians prefer over Pearson chi2 when cells
    are thin (G decomposes exactly across partitions of the table;
    G = 2*N*MI, which the two registered outputs let you check):

        G = 2 * sum_ij o * ln(o * N / (r_i * c_j)),  df = (r-1)(c-1)

    Exactness: per-cell terms quantized to integer MICROS (1e6 — o
    multiplies the log, so micro keeps 100TB-scale headroom inside
    BIGINT), exact order-free BIGINT sum, one mirrored division out.

    Scale: dimension-sized after the one contingency rollup."""
    full, _rows, _cols, tot = _type_dow_cells(events)
    j = full.crossJoin(F.broadcast(tot))
    term = F.floor(
        F.col("o").cast("double")
        * F.log(
            (F.col("o") * F.col("n")).cast("double")
            / (F.col("r") * F.col("c")).cast("double")
        )
        * 1000000.0
        + F.lit(0.5)
    ).cast("long")
    agg = j.groupBy("n", "rk", "ck").agg(
        F.sum(term).cast("long").alias("g_micro")
    )
    return agg.where((F.col("rk") > 1) & (F.col("ck") > 1)).select(
        "n",
        ((F.col("rk") - 1) * (F.col("ck") - 1)).cast("long").alias("df"),
        round_half_up(
            2.0 * F.col("g_micro").cast("double") / 1000000.0, 6
        ).alias("g_stat"),
    )


def ewma_control(events: DataFrame, lam: float = 0.3) -> DataFrame:
    """EWMA control chart over each event type's daily count series:
    z_t = lam*x_t + (1-lam)*z_{t-1} (z_1 = x_1), control limits
    mean +- 3*sd*sqrt(lam/(2-lam)) — the small-shift detector the
    CUSUM family complements (``page_hinkley`` alarms once; this
    emits the full monitored series with per-day breach flags, the
    chart an SRE actually plots).

    Exactness: the recursion is evaluated per day as a SEQUENTIAL fold
    over the day-sorted count PREFIX (init = first count, then
    lam*x + (1-lam)*acc — single-accumulator, forward-only, the
    user_ema-safe list_reduce shape in DuckDB); mean/sd come from
    exact BIGINT moments; the breach flag is a mirrored float
    comparison. O(days^2) fold steps per type — calendar-bounded by
    construction, never data-sized.

    Scale: one daily rollup shuffle; the fold runs over a per-type
    array that is calendar-bounded (~3.6k elements at a decade)."""
    daily = (
        events.groupBy(
            F.col("event_type").alias("t"), F.to_date("ts").alias("d")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
        .localCheckpoint(eager=False)
    )
    stats = daily.groupBy("t").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
        F.sum(F.col("x").cast(DEC) * F.col("x").cast(DEC))
        .cast(DEC)
        .alias("q"),
        F.array_sort(
            F.collect_list(
                F.struct("d", F.col("x").cast("double").alias("x"))
            )
        ).alias("xs"),
    )
    idx = daily.withColumn(
        "i",
        F.row_number().over(
            Window.partitionBy("t").orderBy("d")
        ),
    )
    j = idx.join(F.broadcast(stats), "t")
    lam_l = F.lit(float(lam))
    z = F.aggregate(
        F.slice(F.transform(F.col("xs"), lambda s: s["x"]), 2, F.col("i") - 1),
        F.element_at(F.col("xs"), 1)["x"],
        lambda acc, x: lam_l * x + (F.lit(1.0) - lam_l) * acc,
    )
    mean = F.col("s").cast("double") / F.col("n").cast("double")
    var_num = (
        F.col("n").cast(DEC) * F.col("q")
        - F.col("s").cast(DEC) * F.col("s").cast(DEC)
    ).cast("double")
    sd = F.sqrt(
        var_num / (F.col("n").cast("double") * (F.col("n") - 1).cast("double"))
    )
    limit = 3.0 * sd * F.sqrt(lam_l / (F.lit(2.0) - lam_l))
    return (
        j.where(F.col("n") >= 2)
        .select(
            F.col("t").alias("event_type"),
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            F.col("x").alias("cnt"),
            round_half_up(z, 6).alias("ewma"),
            F.when(
                F.abs(z - mean) > limit, F.lit(1)
            ).otherwise(F.lit(0)).cast("int").alias("breach"),
        )
    )


def hurst_rs(orders: DataFrame, windows: tuple = (8, 16, 32)) -> DataFrame:
    """Hurst exponent of the daily-revenue series via rescaled-range
    (R/S) analysis: split the series into tumbling windows of each
    size w, compute R/S per window (R = range of mean-adjusted
    cumulative sums, S = population sd), and fit ln(mean R/S) ~
    H * ln(w) — H > 0.5 reads "trending / long-memory", < 0.5
    "mean-reverting", the regime diagnostic behind capacity planning
    on heavy-tailed series.

    Exactness: within a window, n*cumsum_t - (t)*S is an exact BIGINT
    (cents), so R's max/min pick is INTEGER; R/S = (max-min) /
    sqrt(n*Q - S^2) is one mirrored float per window, QUANTIZED to
    nanos; per-size means are exact rationals of the BIGINT sums; the
    3-point log-log slope is a sequential fold over the size-sorted
    list. Windows shorter than w drop by integer predicate.

    Scale: one daily rollup; everything after is calendar-bounded."""
    daily = (
        orders.groupBy(F.date_trunc("day", "o_orderdate").alias("d"))
        .agg(F.sum(_cents("o_totalprice")).cast("long").alias("y"))
    )
    idx = daily.withColumn(
        "r", F.row_number().over(Window.orderBy("d")) - 1
    )
    sizes = F.explode(
        F.array(*[F.lit(int(w)) for w in windows])
    ).alias("w")
    e = idx.select("r", "y", sizes).withColumn(
        "win", F.expr("r div w")
    ).withColumn("tpos", (F.col("r") % F.col("w")).cast("long"))
    cw = Window.partitionBy("w", "win").orderBy("tpos")
    c = e.withColumn("cum", F.sum("y").over(cw).cast("long"))
    g = c.groupBy("w", "win").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("s"),
        F.sum(F.col("y").cast(DEC) * F.col("y").cast(DEC))
        .cast(DEC)
        .alias("q"),
    )
    # adj_t = n*cum_t - (tpos+1)*S: exact BIGINT; R*n = max - min
    adj = c.join(
        g.select("w", "win", "n", "s", "q"), ["w", "win"]
    ).withColumn(
        "adj",
        (
            F.col("n").cast(DEC) * F.col("cum").cast(DEC)
            - (F.col("tpos") + 1).cast(DEC) * F.col("s").cast(DEC)
        ).cast(DEC),
    )
    per_win = adj.groupBy("w", "win", "n", "s", "q").agg(
        F.max("adj").alias("mx"), F.min("adj").alias("mn")
    )
    var_num = (
        F.col("n").cast(DEC) * F.col("q")
        - F.col("s").cast(DEC) * F.col("s").cast(DEC)
    ).cast("double")
    # R/S = [(max-min adj)/n] / [sqrt(n*Q - S^2)/n]: the two 1/n
    # factors cancel exactly
    rs = (F.col("mx") - F.col("mn")).cast("double") / F.sqrt(var_num)
    q_rs = F.floor(rs * 1000000000.0 + F.lit(0.5)).cast("long")
    per_w = (
        per_win.where(
            (F.col("n") == F.col("w").cast("long")) & (var_num > 0)
        )
        .groupBy("w")
        .agg(
            F.sum(q_rs).cast("long").alias("rs_nano"),
            F.count(F.lit(1)).cast("long").alias("n_win"),
        )
        .withColumn(
            "mean_rs",
            F.col("rs_nano").cast("double")
            / (F.col("n_win").cast("double") * 1000000000.0),
        )
    )
    arr = per_w.groupBy().agg(
        F.array_sort(
            F.collect_list(F.struct("w", "mean_rs", "n_win"))
        ).alias("ps"),
        F.count(F.lit(1)).cast("long").alias("np"),
    )
    sx = F.aggregate(
        F.col("ps"), F.lit(0.0), lambda a, t: a + F.log(t["w"].cast("double"))
    )
    sy = F.aggregate(
        F.col("ps"), F.lit(0.0), lambda a, t: a + F.log(t["mean_rs"])
    )
    sxy = F.aggregate(
        F.col("ps"),
        F.lit(0.0),
        lambda a, t: a + F.log(t["w"].cast("double")) * F.log(t["mean_rs"]),
    )
    sx2 = F.aggregate(
        F.col("ps"),
        F.lit(0.0),
        lambda a, t: a
        + F.log(t["w"].cast("double")) * F.log(t["w"].cast("double")),
    )
    npd = F.col("np").cast("double")
    hurst = (npd * sxy - sx * sy) / (npd * sx2 - sx * sx)
    def _pick(wv):
        return lambda a, t: F.when(
            t["w"] == wv, a + t["mean_rs"]
        ).otherwise(a)

    wide = arr.select(
        "np",
        hurst.alias("h"),
        *[
            F.aggregate(F.col("ps"), F.lit(0.0), _pick(int(w))).alias(
                f"rs{int(w)}"
            )
            for w in windows
        ],
    )
    return wide.where(F.col("np") == len(windows)).select(
        *[
            round_half_up(F.col(f"rs{int(w)}"), 6).alias(f"rs{int(w)}")
            for w in windows
        ],
        round_half_up(F.col("h"), 6).alias("hurst"),
    )


def lorenz_deciles(t) -> DataFrame:
    """Lorenz-curve decile table of customer spend: customers ranked by
    total spend into ntile(10) buckets (ties broken by custkey — a
    DETERMINISTIC total order), per-decile share and cumulative share
    of total spend — the table behind ``spend_gini``'s single number
    ("the top decile holds X% of spend" is read straight off row 10).

    Exactness: spend is BIGINT cents; ntile over the (cents, custkey)
    integer ordering is engine-identical; shares are single mirrored
    divisions of BIGINT cumulative sums under round_half_up.

    Scale: per-customer rollup, then rank.global_ntile — above the
    adaptive cutover (rank.SMALL_RANK_THRESHOLD rows) a TRUE
    range-partitioned two-pass rank (per-partition row numbers + a
    broadcast P-row offset table), so the |customers|-sized relation
    never funnels through a single-partition window at scale; below
    it the plain window runs because the relation provably fits one
    task (VERDICT r7 fix; path equality pinned in
    tests/test_round8_fixes.py); deciles and shares are 10-row
    arithmetic."""
    from .rank import global_ntile

    per_cust = (
        t["orders"]
        .groupBy("o_custkey")
        .agg(F.sum(_cents("o_totalprice")).cast("long").alias("cents"))
    )
    d = global_ntile(
        per_cust,
        [F.col("cents").asc(), F.col("o_custkey").asc()],
        10,
        "decile",
    )
    g = d.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("cents").cast("long").alias("spend_cents"),
    ).localCheckpoint(eager=False)
    cw = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = g.agg(F.sum("spend_cents").cast("long").alias("tt"))
    return (
        g.withColumn("cum_cents", F.sum("spend_cents").over(cw).cast("long"))
        .crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "n_customers",
            "spend_cents",
            round_half_up(
                F.col("spend_cents").cast("double")
                / F.col("tt").cast("double"),
                6,
            ).alias("share"),
            round_half_up(
                F.col("cum_cents").cast("double")
                / F.col("tt").cast("double"),
                6,
            ).alias("cum_share"),
        )
    )


def atkinson_index(t) -> DataFrame:
    """Atkinson inequality index (inequality-aversion eps = 1) of
    customer spend per nation: A = 1 - geometric_mean(y) / mean(y) —
    the WELFARE-weighted member of the inequality family
    (``spend_gini`` weighs transfers equally; ``theil_index``
    decomposes; Atkinson at eps=1 prices inequality by log utility, so
    it reacts hardest to the poorest members).

    Exactness: spends are BIGINT cents; each member's ln(cents) is
    quantized to integer nanos (mirrored floor(ln*1e9 + 0.5)), so the
    per-nation reduction is an exact ORDER-FREE BIGINT sum; the
    geometric mean exp(sum/n/1e9) and the final ratio are one mirrored
    float expression. Zero-spend members drop (ln undefined) by
    integer predicate — the theil_index convention.

    Scale: one custkey rollup, one broadcast join, one nation rollup."""
    per_cust = (
        t["orders"]
        .groupBy("o_custkey")
        .agg(F.sum(_cents("o_totalprice")).cast("long").alias("cents"))
    )
    j = (
        per_cust.join(
            t["customer"], F.col("c_custkey") == F.col("o_custkey")
        )
        .select(
            F.col("c_nationkey").cast("int").alias("nationkey"), "cents"
        )
        .where(F.col("cents") > 0)
    )
    ln_nano = F.floor(
        F.log(F.col("cents").cast("double")) * 1000000000.0 + F.lit(0.5)
    ).cast("long")
    g = j.groupBy("nationkey").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("spend_cents"),
        F.sum(ln_nano).cast("long").alias("ln_nano"),
    )
    geo = F.exp(
        F.col("ln_nano").cast("double")
        / (F.col("n").cast("double") * 1000000000.0)
    )
    mean = F.col("spend_cents").cast("double") / F.col("n").cast("double")
    return g.select(
        "nationkey",
        "n",
        "spend_cents",
        round_half_up(geo, 2).alias("geo_mean_cents"),
        round_half_up(F.lit(1.0) - geo / mean, 6).alias("atkinson"),
    )


def nelson_aalen(events: DataFrame, group: str = "event_type") -> DataFrame:
    """Nelson–Aalen cumulative-hazard curve for user churn, per group —
    the additive companion to ``survival_km`` (KM multiplies survival
    fractions; NA sums hazard increments d_s/n_s, the estimator of
    choice for comparing cumulative risk and for small risk sets where
    KM's product degenerates), with Klein's variance sum d/n^2:

        H_t = sum_{s<=t} d_s / n_s,   Var_t = sum_{s<=t} d_s / n_s^2

    Same churn framing and risk-set arithmetic as survival_km (last
    active day = event, censored on the corpus's final day).

    Exactness: BIGINT risk sets; both prefix sums fold in DAY ORDER
    (aggregate HOF over the sorted step array; oracle: single-field
    list_reduce — forward-only, the user_ema-safe shape), so the raw
    doubles are bit-equal. Scale: one user rollup collapses volume;
    everything after is |groups x days|."""
    from pyspark.sql.functions import broadcast

    d0 = events.select(group, "user_id", F.to_date("ts").alias("day"))
    ul = (
        d0.groupBy(group, "user_id")
        .agg(F.min("day").alias("f"), F.max("day").alias("l"))
        .localCheckpoint(eager=False)
    )
    maxday = ul.agg(F.max("l").alias("__maxday"))
    ul2 = ul.join(broadcast(maxday))
    spine = (
        ul2.select(
            group,
            F.explode(
                F.array(
                    F.struct(
                        F.col("f").alias("day"),
                        F.lit(1).alias("s"),
                        F.lit(0).alias("d"),
                    ),
                    F.struct(
                        F.col("l").alias("day"),
                        F.lit(0).alias("s"),
                        (F.col("l") < F.col("__maxday"))
                        .cast("int")
                        .alias("d"),
                    ),
                )
            ).alias("x"),
        )
        .select(group, "x.day", "x.s", "x.d")
        .groupBy(group, "day")
        .agg(F.sum("s").alias("s"), F.sum("d").alias("d"))
    )
    w = (
        Window.partitionBy(group)
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wprev = (
        Window.partitionBy(group)
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    n_risk = F.sum("s").over(w) - F.coalesce(
        F.sum("d").over(wprev), F.lit(0)
    )
    steps = (
        spine.withColumn("n", n_risk)
        .where(F.col("d") > 0)
        .select(group, "day", "n", "d")
    )
    arr = steps.groupBy(group).agg(
        F.array_sort(F.collect_list(F.struct("day", "n", "d"))).alias(
            "arr"
        )
    )
    na = arr.select(
        group,
        F.explode(
            F.expr(
                """transform(arr, (x, i) -> named_struct(
                     'day', x.day, 'n', x.n, 'd', x.d,
                     'haz', aggregate(
                       slice(arr, 1, i + 1), CAST(0.0 AS DOUBLE),
                       (acc, y) -> acc + CAST(y.d AS DOUBLE)
                                         / CAST(y.n AS DOUBLE)),
                     'var', aggregate(
                       slice(arr, 1, i + 1), CAST(0.0 AS DOUBLE),
                       (acc, y) -> acc + CAST(y.d AS DOUBLE)
                                         / (CAST(y.n AS DOUBLE)
                                            * CAST(y.n AS DOUBLE)))))"""
            )
        ).alias("x"),
    )
    return na.select(
        group,
        F.date_format("x.day", "yyyy-MM-dd").alias("day"),
        F.col("x.n").cast("long").alias("n_risk"),
        F.col("x.d").cast("long").alias("n_churn"),
        round_half_up(F.col("x.haz"), 6).alias("cum_hazard"),
        round_half_up(F.col("x.var"), 6).alias("hazard_var"),
    )


def gehan_wilcoxon(events: DataFrame, group: str = "event_type") -> DataFrame:
    """Gehan–Breslow–Wilcoxon test between every pair of groups' churn
    survival — the EARLY-difference-weighted companion to
    ``logrank_test`` (log-rank weights every churn day equally, so late
    divergence dominates; Gehan weights each day by the at-risk count
    n_t, so a treatment that loses users in week 1 but converges later
    still flags):

        W = sum_t n_t (d1_t - E1_t),  VarW = sum_t n_t^2 V_t,
        chi2 = W^2 / VarW

    with E1/V the same hypergeometric terms as logrank_test, over the
    same shared calendar spine / risk-set arithmetic.

    Exactness: integer risk sets, one mirrored division per day term,
    day-ordered folds — logrank_test's discipline verbatim, with the
    n and n^2 weights as exact-integer multipliers. Int64 envelope:
    n^2 * d * n1 * n2 * (n-d) promotes through DOUBLE after one exact
    division, same association order both engines.

    Scale: identical to logrank_test — |rows|-sized user rollup, then
    |groups x days|."""
    from pyspark.sql.functions import broadcast

    d0 = events.where(F.col("ts").isNotNull()).select(
        group, "user_id", F.to_date("ts").alias("day")
    )
    ul = (
        d0.groupBy(group, "user_id")
        .agg(F.min("day").alias("f"), F.max("day").alias("l"))
        .localCheckpoint(eager=False)
    )
    bounds = ul.agg(F.min("f").alias("__mn"), F.max("l").alias("__mx"))
    ul2 = ul.join(broadcast(bounds))
    sparse = (
        ul2.select(
            group,
            F.explode(
                F.array(
                    F.struct(
                        F.col("f").alias("day"),
                        F.lit(1).alias("s"),
                        F.lit(0).alias("d"),
                    ),
                    F.struct(
                        F.col("l").alias("day"),
                        F.lit(0).alias("s"),
                        (F.col("l") < F.col("__mx")).cast("int").alias("d"),
                    ),
                )
            ).alias("x"),
        )
        .select(group, "x.day", "x.s", "x.d")
        .groupBy(group, "day")
        .agg(F.sum("s").alias("s"), F.sum("d").alias("d"))
    )
    cal = (
        sparse.select(group)
        .distinct()
        .join(broadcast(bounds))
        .select(
            group,
            F.explode(
                F.expr("sequence(__mn, __mx, interval 1 day)")
            ).alias("day"),
        )
    )
    z = F.lit(0).cast("long")
    full = cal.join(sparse, [group, "day"], "left").select(
        group,
        "day",
        F.coalesce("s", z).alias("s"),
        F.coalesce("d", z).alias("d"),
    )
    w = (
        Window.partitionBy(group)
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wprev = (
        Window.partitionBy(group)
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    nd = full.select(
        group,
        "day",
        "d",
        (
            F.sum("s").over(w) - F.coalesce(F.sum("d").over(wprev), z)
        ).alias("n"),
    ).localCheckpoint(eager=False)
    a = nd.select(
        F.col(group).alias("g1"),
        "day",
        F.col("n").alias("n1"),
        F.col("d").alias("d1"),
    )
    b = nd.select(
        F.col(group).alias("g2"),
        F.col("day").alias("day2"),
        F.col("n").alias("n2"),
        F.col("d").alias("d2"),
    )
    pairs = a.join(
        b, (F.col("day") == F.col("day2")) & (F.col("g1") < F.col("g2"))
    )
    n = F.col("n1") + F.col("n2")
    d = F.col("d1") + F.col("d2")
    terms = pairs.where((d > 0) & (n >= 2)).select(
        "g1",
        "g2",
        "day",
        "d1",
        "d2",
        (
            n.cast("double")
            * (F.col("d1").cast("double") - d * F.col("n1") / n)
        ).alias("w_term"),
        (
            (n * n).cast("double")
            * (
                (d * F.col("n1") * F.col("n2") * (n - d))
                / (n * n * (n - 1))
            )
        ).alias("v_term"),
    )
    folded = terms.groupBy("g1", "g2").agg(
        F.sum("d1").cast("long").alias("o1"),
        F.sum("d2").cast("long").alias("o2"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("day", "w_term"))),
            F.lit(0.0),
            lambda acc, x: acc + x["w_term"],
        ).alias("w_stat"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("day", "v_term"))),
            F.lit(0.0),
            lambda acc, x: acc + x["v_term"],
        ).alias("v_w"),
    )
    chi2 = (F.col("w_stat") * F.col("w_stat")) / F.col("v_w")
    return folded.where(F.col("v_w") > 0).select(
        "g1",
        "g2",
        "o1",
        "o2",
        round_half_up(F.col("w_stat"), 6).alias("w_stat"),
        round_half_up(F.col("v_w"), 6).alias("v_w"),
        round_half_up(chi2, 6).alias("chi2"),
        (chi2 > F.lit(3.841)).alias("significant"),
    )


def auc_scores(emb: DataFrame) -> DataFrame:
    """Exact ROC AUC of "embedding coordinate-sum projection predicts
    label == 1" (the all-ones-direction projection — the fixture
    embeddings are unit-norm, so the norm itself is constant) — the
    rank-sum (Mann–Whitney) formulation, tie-corrected by average
    ranks: AUC = U / (n_pos * n_neg) where 2U = sum over distinct
    score values v of pos_c(v) * (2*neg_below(v) + neg_eq(v)). The
    single-number ranking-quality gate a feature store runs before
    shipping a score (``retrieval_label_eval`` grades retrieval; this
    grades a SCALAR feature as a classifier).

    Exactness: scores quantized to integer micros (floor(norm*1e6 +
    0.5) — part of the operator's defined semantics, making ties and
    ranks engine-exact); everything after is pure BIGINT on the
    distinct-value spine (the mwu_source_shift machinery), one final
    division. Gini ships as gini_plus1 = 2*AUC in [0,2] (= Gini+1),
    dodging -0.0 repr (type_correlation convention).

    Scale: one distinct-value rollup; windows over the value spine,
    never rows."""
    scored = emb.select(
        F.floor(
            F.aggregate(
                F.col("embedding").cast("array<double>"),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            * 1000000.0
            + F.lit(0.5)
        )
        .cast("long")
        .alias("v"),
        (F.col("label") == 1).cast("int").alias("pos"),
    )
    gv = scored.groupBy("v").agg(
        F.sum("pos").cast("long").alias("pc"),
        F.sum(1 - F.col("pos")).cast("long").alias("nc"),
    ).localCheckpoint(eager=False)
    wv = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, -1
    )
    u2 = gv.select(
        (
            F.col("pc")
            * (
                2 * F.coalesce(F.sum("nc").over(wv), F.lit(0))
                + F.col("nc")
            )
        ).alias("t")
    ).agg(F.sum("t").cast("long").alias("u2"))
    tot = gv.agg(
        F.sum("pc").cast("long").alias("n_pos"),
        F.sum("nc").cast("long").alias("n_neg"),
    )
    j = tot.crossJoin(F.broadcast(u2))
    auc = F.col("u2").cast("double") / (
        2.0 * (F.col("n_pos") * F.col("n_neg")).cast("double")
    )
    return j.where((F.col("n_pos") > 0) & (F.col("n_neg") > 0)).select(
        "n_pos",
        "n_neg",
        round_half_up(auc, 6).alias("auc"),
        round_half_up(2.0 * auc, 6).alias("gini_plus1"),
    )


def pr_auc(emb: DataFrame) -> DataFrame:
    """Average precision (step-interpolated area under the precision-
    recall curve) of the same projection-predicts-label score as
    ``auc_scores`` — the imbalance-honest companion (ROC AUC flatters
    a classifier when negatives dominate; AP weights by the positive
    class):

        AP = sum over thresholds t (desc) of
             (tp_t - tp_prev) / n_pos * (tp_t / (tp_t + fp_t))

    Exactness: integer-micro scores; tp/fp cumulatives are BIGINT
    window sums over the distinct-score spine; each step's term is
    one mirrored double product; the sum folds in SCORE-DESC order
    (reverse-sorted list aggregate vs ORDER BY DESC list_reduce).

    Scale: distinct-value spine throughout."""
    scored = emb.select(
        F.floor(
            F.aggregate(
                F.col("embedding").cast("array<double>"),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            * 1000000.0
            + F.lit(0.5)
        )
        .cast("long")
        .alias("v"),
        (F.col("label") == 1).cast("int").alias("pos"),
    )
    gv = scored.groupBy("v").agg(
        F.sum("pos").cast("long").alias("pc"),
        F.sum(1 - F.col("pos")).cast("long").alias("nc"),
    ).localCheckpoint(eager=False)
    wd = Window.orderBy(F.col("v").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = gv.select(
        "v",
        "pc",
        F.sum("pc").over(wd).cast("long").alias("tp"),
        F.sum("nc").over(wd).cast("long").alias("fp"),
    )
    tot = gv.agg(
        F.sum("pc").cast("long").alias("n_pos"),
        F.sum("nc").cast("long").alias("n_neg"),
        F.count(F.lit(1)).cast("long").alias("n_thresholds"),
    )
    term = (
        F.col("pc").cast("double") / F.col("n_pos").cast("double")
    ) * (
        F.col("tp").cast("double")
        / (F.col("tp") + F.col("fp")).cast("double")
    )
    arr = (
        cum.crossJoin(F.broadcast(tot))
        .where(F.col("pc") > 0)
        .groupBy("n_pos", "n_neg", "n_thresholds")
        .agg(
            F.reverse(
                F.array_sort(
                    F.collect_list(F.struct("v", term.alias("t")))
                )
            ).alias("ts")
        )
    )
    ap = F.aggregate(
        F.col("ts"), F.lit(0.0), lambda acc, x: acc + x["t"]
    )
    return arr.where(F.col("n_pos") > 0).select(
        "n_pos",
        "n_neg",
        "n_thresholds",
        round_half_up(ap, 6).alias("average_precision"),
    )


def equalized_odds(t, min_orders: int = 10, bal_cut: float = 5000.0) -> DataFrame:
    """Equalized-odds audit over customer nations: classifier =
    "account balance >= ``bal_cut``", outcome = "placed at least
    ``min_orders`` orders" (the heavy-user label disparate_impact
    screens on) — per nation, TPR and FPR with signed gaps to the
    GLOBAL rates. Disparate impact checks selection RATES; equalized
    odds checks ERROR parity — a group can pass the 80% rule while the
    classifier is systematically blind to its true positives, which is
    exactly what the tpr_gap column exposes.

    Exactness: pure integer confusion counts; rates and signed gaps
    are single mirrored divisions/subtractions under round_half_up
    (signed-contract documented). Nations lacking both outcome classes
    drop by integer predicate.

    Scale: one custkey rollup, broadcast join, nation rollup + one
    global rollup broadcast back."""
    pc = (
        t["orders"]
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
    )
    j = t["customer"].join(
        pc, F.col("c_custkey") == F.col("o_custkey"), "left"
    ).select(
        F.col("c_nationkey").cast("int").alias("nationkey"),
        (F.coalesce("n_orders", F.lit(0)) >= min_orders)
        .cast("int")
        .alias("y"),
        (F.col("c_acctbal") >= bal_cut).cast("int").alias("p"),
    )
    g = j.groupBy("nationkey").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("y") * F.col("p")).cast("long").alias("tp"),
        F.sum(F.col("y") * (1 - F.col("p"))).cast("long").alias("fn"),
        F.sum((1 - F.col("y")) * F.col("p")).cast("long").alias("fp"),
        F.sum((1 - F.col("y")) * (1 - F.col("p")))
        .cast("long")
        .alias("tn"),
    ).localCheckpoint(eager=False)
    tot = g.agg(
        F.sum("tp").cast("long").alias("gtp"),
        F.sum("fn").cast("long").alias("gfn"),
        F.sum("fp").cast("long").alias("gfp"),
        F.sum("tn").cast("long").alias("gtn"),
    )
    jj = g.crossJoin(F.broadcast(tot))
    tpr = F.col("tp").cast("double") / (
        F.col("tp") + F.col("fn")
    ).cast("double")
    fpr = F.col("fp").cast("double") / (
        F.col("fp") + F.col("tn")
    ).cast("double")
    gtpr = F.col("gtp").cast("double") / (
        F.col("gtp") + F.col("gfn")
    ).cast("double")
    gfpr = F.col("gfp").cast("double") / (
        F.col("gfp") + F.col("gtn")
    ).cast("double")
    return (
        jj.where(
            (F.col("tp") + F.col("fn") > 0)
            & (F.col("fp") + F.col("tn") > 0)
        )
        .select(
            "nationkey",
            "n",
            "tp",
            "fn",
            "fp",
            "tn",
            round_half_up(tpr, 6).alias("tpr"),
            round_half_up(fpr, 6).alias("fpr"),
            round_half_up(tpr - gtpr, 6).alias("tpr_gap"),
            round_half_up(fpr - gfpr, 6).alias("fpr_gap"),
        )
    )


def ts_downsample_minmax(orders: DataFrame, n_buckets: int = 50) -> DataFrame:
    """M4-style min/max downsample of the daily-revenue series: the day
    spine split into ``n_buckets`` contiguous buckets (bucket =
    day_index * n_buckets div n_days), each emitting first/last/min/max
    — the downsample that PRESERVES EXTREMES for plotting and anomaly
    triage (plain per-bucket averaging erases exactly the spikes you
    resample to find; M4 is the standard dashboard reduction).

    Exactness: pure integer arithmetic — cents, integer bucket ids,
    first/last picked by integer day order (min_by/arg_min parity via
    self-contained window ranks). Scale: one daily rollup, one
    calendar-sized window pass; output is n_buckets rows regardless of
    input volume."""
    daily = (
        orders.groupBy(F.date_trunc("day", "o_orderdate").alias("d"))
        .agg(F.sum(_cents("o_totalprice")).cast("long").alias("y"))
    )
    idx = daily.withColumn(
        "r", F.row_number().over(Window.orderBy("d")) - 1
    ).localCheckpoint(eager=False)
    cnt = idx.agg(F.count(F.lit(1)).cast("long").alias("nd"))
    b = (
        idx.crossJoin(F.broadcast(cnt))
        .withColumn(
            "bucket",
            F.expr(f"CAST(r * {int(n_buckets)} AS BIGINT) div nd").cast(
                "int"
            ),
        )
    )
    wsp = Window.partitionBy("bucket")
    g = (
        b.withColumn("rmin", F.min("r").over(wsp))
        .withColumn("rmax", F.max("r").over(wsp))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.date_format(F.min("d"), "yyyy-MM-dd").alias("day_from"),
            F.date_format(F.max("d"), "yyyy-MM-dd").alias("day_to"),
            F.min("y").cast("long").alias("y_min"),
            F.max("y").cast("long").alias("y_max"),
            F.max(
                F.when(F.col("r") == F.col("rmin"), F.col("y"))
            )
            .cast("long")
            .alias("y_first"),
            F.max(
                F.when(F.col("r") == F.col("rmax"), F.col("y"))
            )
            .cast("long")
            .alias("y_last"),
        )
    )
    return g


def croston_forecast(
    events: DataFrame, alpha: float = 0.1
) -> DataFrame:
    """Croston's method for intermittent demand, per event type: on the
    ZERO-FILLED daily calendar, split the series into demand sizes z_k
    (counts on active days) and inter-demand intervals p_k (days since
    the previous active day; p_1 = the first active day's 1-based
    position), EWMA-smooth each with ``alpha``, and forecast
    level/interval demand per day — the standard estimator when a
    series is mostly zeros and plain EWMA chases the gaps
    (``ewma_control`` monitors a dense series; this FORECASTS a sparse
    one).

    Exactness: both recursions are single-accumulator forward-only
    folds over day-ordered lists (the user_ema-safe list_reduce
    shape), on exact-integer inputs; the forecast is one mirrored
    division. Types with no demand days drop by integer predicate.

    Scale: one daily rollup; folds run over per-type demand lists
    (calendar-bounded)."""
    from pyspark.sql.functions import broadcast

    daily = (
        events.groupBy(
            F.col("event_type").alias("t"), F.to_date("ts").alias("d")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
        .localCheckpoint(eager=False)
    )
    bounds = daily.agg(
        F.min("d").alias("__mn"), F.max("d").alias("__mx")
    )
    cal = (
        daily.select("t")
        .distinct()
        .join(broadcast(bounds))
        .select(
            "t",
            F.explode(
                F.expr("sequence(__mn, __mx, interval 1 day)")
            ).alias("d"),
        )
    )
    full = (
        cal.join(daily, ["t", "d"], "left")
        .select(
            "t", "d", F.coalesce("x", F.lit(0)).cast("long").alias("x")
        )
        .localCheckpoint(eager=False)
    )
    pos = full.withColumn(
        "i",
        F.row_number().over(Window.partitionBy("t").orderBy("d")),
    )
    dem = pos.where(F.col("x") > 0).withColumn(
        "gap",
        F.col("i")
        - F.coalesce(
            F.lag("i").over(Window.partitionBy("t").orderBy("i")),
            F.lit(0),
        ),
    )
    arr = dem.groupBy("t").agg(
        F.count(F.lit(1)).cast("long").alias("n_demands"),
        F.array_sort(
            F.collect_list(
                F.struct(
                    "i",
                    F.col("x").cast("double").alias("z"),
                    F.col("gap").cast("double").alias("g"),
                )
            )
        ).alias("zs"),
    )
    nd = full.groupBy("t").agg(
        F.count(F.lit(1)).cast("long").alias("n_days")
    )
    al = F.lit(float(alpha))
    level = F.aggregate(
        F.slice(
            F.transform(F.col("zs"), lambda s: s["z"]),
            2,
            F.size(F.col("zs")) - 1,
        ),
        F.element_at(F.col("zs"), 1)["z"],
        lambda acc, z: al * z + (F.lit(1.0) - al) * acc,
    )
    interval = F.aggregate(
        F.slice(
            F.transform(F.col("zs"), lambda s: s["g"]),
            2,
            F.size(F.col("zs")) - 1,
        ),
        F.element_at(F.col("zs"), 1)["g"],
        lambda acc, g: al * g + (F.lit(1.0) - al) * acc,
    )
    return (
        arr.join(nd, "t")
        .where(F.col("n_demands") >= 1)
        .select(
            F.col("t").alias("event_type"),
            "n_days",
            "n_demands",
            round_half_up(level, 6).alias("level"),
            round_half_up(interval, 6).alias("interval"),
            round_half_up(level / interval, 6).alias("forecast"),
        )
    )


def tukey_hsd(orders: DataFrame) -> DataFrame:
    """Tukey HSD q statistics for every pair of order priorities —
    the post-hoc that belongs to ``anova_oneway`` exactly as
    ``dunn_posthoc`` belongs to ``kruskal_wallis``: once the omnibus F
    flags A difference, q_ij = |mean_i - mean_j| /
    sqrt(MSW/2 * (1/n_i + 1/n_j)) says WHICH pairs differ, on the
    studentized-range scale (compare to q_crit from the k, N-k table;
    the statistic, not the table lookup, is the data-side work).

    Exactness: group moments are exact integers (cents, DECIMAL(38)
    squares); MSW reuses the ANOVA identity (Q - sum S_g^2/n_g) with
    the per-group terms folded in priority order; each pair row is one
    mirrored float expression. Zero-variance pools drop by predicate.

    Scale: one k-row rollup; the pair grid is k^2 dimension-sized."""
    c = _cents("o_totalprice")
    g = orders.groupBy(F.col("o_orderpriority").alias("p")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(c).cast("long").alias("s"),
        F.sum(c.cast(DEC) * c.cast(DEC)).cast(DEC).alias("q"),
    ).localCheckpoint(eager=False)
    arr = g.groupBy().agg(
        F.array_sort(F.collect_list(F.struct("p", "n", "s"))).alias(
            "gs"
        ),
        F.sum("n").cast("long").alias("nn"),
        F.sum("q").cast(DEC).alias("qq"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    between_raw = F.aggregate(
        F.col("gs"),
        F.lit(0.0),
        lambda a, t: a
        + (t["s"].cast(DEC) * t["s"].cast(DEC)).cast("double")
        / t["n"].cast("double"),
    )
    msw_row = arr.select(
        "nn",
        "k",
        (
            (F.col("qq").cast("double") - between_raw)
            / (F.col("nn") - F.col("k")).cast("double")
        ).alias("msw"),
    )
    a = g.select(
        F.col("p").alias("p1"),
        F.col("n").alias("n1"),
        F.col("s").alias("s1"),
    )
    b = g.select(
        F.col("p").alias("p2"),
        F.col("n").alias("n2"),
        F.col("s").alias("s2"),
    )
    pairs = a.join(b, F.col("p1") < F.col("p2")).crossJoin(
        F.broadcast(msw_row)
    )
    m1 = F.col("s1").cast("double") / F.col("n1").cast("double")
    m2 = F.col("s2").cast("double") / F.col("n2").cast("double")
    se = F.sqrt(
        F.col("msw")
        / 2.0
        * (
            F.lit(1.0) / F.col("n1").cast("double")
            + F.lit(1.0) / F.col("n2").cast("double")
        )
    )
    return pairs.where((F.col("msw") > 0) & (F.col("nn") > F.col("k"))).select(
        "p1",
        "p2",
        "n1",
        "n2",
        round_half_up((m1 - m2) / 100.0, 2).alias("mean_diff_usd"),
        round_half_up(F.abs(m1 - m2) / se, 6).alias("q_stat"),
    )


def chow_test(orders: DataFrame) -> DataFrame:
    """Chow structural-break test of the daily order-count series at
    the midpoint: fit y ~ t by OLS on each half and pooled, F =
    ((RSS_p - RSS_1 - RSS_2) / 2) / ((RSS_1 + RSS_2) / (n - 4)) — the
    "did the data-generating process CHANGE?" test the changepoint
    family's detectors (pettitt, page_hinkley) flag but don't
    formally score against a fitted trend.

    Exactness: per-segment regression moments are exact integers
    (DECIMAL squares); each RSS is ONE mirrored float expression
    RSS = (Cyy - Cty^2 / Ctt) / n of the centered BIGINT sums
    (C.. = n*S.. - S.*S.), and F is one more. Degenerate halves
    (constant t or n <= 4) drop by integer predicate.

    Scale: one daily rollup, one calendar-sized indexed pass, a 3-row
    moment rollup (half 1 / half 2 / pooled)."""
    daily = (
        orders.groupBy(F.date_trunc("day", "o_orderdate").alias("d"))
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
    )
    idx = daily.withColumn(
        "t", (F.row_number().over(Window.orderBy("d")) - 1).cast("long")
    ).localCheckpoint(eager=False)
    cnt = idx.agg(F.count(F.lit(1)).cast("long").alias("n_all"))
    seg = idx.crossJoin(F.broadcast(cnt)).select(
        "t",
        "y",
        F.when(F.col("t") < F.expr("n_all div 2"), F.lit(1))
        .otherwise(F.lit(2))
        .alias("half"),
    )
    both = seg.select("t", "y", F.explode(
        F.array(F.col("half"), F.lit(0))
    ).alias("grp"))  # grp 0 = pooled

    def moments(df):
        return df.groupBy("grp").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("t").cast("long").alias("st"),
            F.sum("y").cast("long").alias("sy"),
            F.sum(F.col("t").cast(DEC) * F.col("t").cast(DEC))
            .cast(DEC)
            .alias("stt"),
            F.sum(F.col("t").cast(DEC) * F.col("y").cast(DEC))
            .cast(DEC)
            .alias("sty"),
            F.sum(F.col("y").cast(DEC) * F.col("y").cast(DEC))
            .cast(DEC)
            .alias("syy"),
        )

    m = moments(both)
    ctt = (
        F.col("n").cast(DEC) * F.col("stt")
        - F.col("st").cast(DEC) * F.col("st").cast(DEC)
    ).cast("double")
    cty = (
        F.col("n").cast(DEC) * F.col("sty")
        - F.col("st").cast(DEC) * F.col("sy").cast(DEC)
    ).cast("double")
    cyy = (
        F.col("n").cast(DEC) * F.col("syy")
        - F.col("sy").cast(DEC) * F.col("sy").cast(DEC)
    ).cast("double")
    rss = (cyy - cty * cty / ctt) / F.col("n").cast("double")
    terms = m.where(ctt > 0).select(
        "grp", F.col("n").alias("n"), rss.alias("rss")
    )
    arr = terms.groupBy().agg(
        F.array_sort(F.collect_list(F.struct("grp", "n", "rss"))).alias(
            "xs"
        ),
        F.count(F.lit(1)).cast("long").alias("kk"),
    )

    def pick(grp):
        return F.element_at(
            F.filter(F.col("xs"), lambda t: t["grp"] == grp), 1
        )

    rss_p = pick(0)["rss"]
    rss_1 = pick(1)["rss"]
    rss_2 = pick(2)["rss"]
    n_all = pick(0)["n"]
    f_stat = ((rss_p - rss_1 - rss_2) / 2.0) / (
        (rss_1 + rss_2) / (n_all - 4).cast("double")
    )
    return arr.where(
        (F.col("kk") == 3) & (rss_1 + rss_2 > 0) & (n_all > 4)
    ).select(
        n_all.alias("n_days"),
        F.expr("element_at(filter(xs, t -> t.grp = 0), 1).n div 2")
        .cast("long")
        .alias("break_index"),
        round_half_up(rss_p, 6).alias("rss_pooled"),
        round_half_up(rss_1 + rss_2, 6).alias("rss_split"),
        round_half_up(f_stat, 6).alias("f_stat"),
    )


def granger_lite(events: DataFrame) -> DataFrame:
    """Lag-1 Granger-style predictability between the two BUSIEST event
    types (deterministic pick: count desc, type asc): does adding
    x_{t-1} (the other type's daily count) to y ~ y_{t-1} cut the
    residual sum of squares?

        F = (RSS_r - RSS_u) / (RSS_u / (n - 3))

    with the unrestricted fit solved in closed form from the centered
    2x2 normal equations — the DIRECTIONAL lead-lag test ``ccf_daily``
    only hints at (a CCF peak at +1 says "correlated at lag 1"; this
    says "x still helps AFTER y's own history is accounted for"). Both
    directions emitted (x->y and y->x).

    Exactness: zero-filled shared calendar; all centered moments are
    exact integers (C.. = n*S.. - S.*S., DECIMAL); RSS_r, RSS_u
    (via the explicit 2x2 inverse) and F are mirrored float
    expressions of those. Degenerate series (zero variance, singular
    normal matrix) drop by predicate.

    Scale: one daily rollup, one 2-type calendar join — everything
    after the rollup is calendar-sized."""
    from pyspark.sql.functions import broadcast

    daily = events.groupBy(
        F.col("event_type").alias("t"), F.to_date("ts").alias("d")
    ).agg(F.count(F.lit(1)).cast("long").alias("x")).localCheckpoint(
        eager=False
    )
    totals = daily.groupBy("t").agg(F.sum("x").cast("long").alias("tot"))
    ranked = totals.withColumn(
        "rk",
        F.row_number().over(
            Window.orderBy(F.col("tot").desc(), F.col("t").asc())
        ),
    ).where(F.col("rk") <= 2)
    bounds = daily.agg(F.min("d").alias("__mn"), F.max("d").alias("__mx"))
    cal = ranked.select("t", "rk").join(broadcast(bounds)).select(
        "t",
        "rk",
        F.explode(F.expr("sequence(__mn, __mx, interval 1 day)")).alias(
            "d"
        ),
    )
    filled = cal.join(daily, ["t", "d"], "left").select(
        "rk", "d", F.coalesce("x", F.lit(0)).cast("long").alias("x")
    )
    wide = (
        filled.groupBy("d")
        .pivot("rk", [1, 2])
        .agg(F.first("x"))
        .select(
            "d",
            F.col("1").alias("a"),
            F.col("2").alias("b"),
        )
        .localCheckpoint(eager=False)
    )
    w = Window.orderBy("d")
    lagged = wide.select(
        "d",
        F.col("a").alias("ya"),
        F.col("b").alias("yb"),
        F.lag("a").over(w).alias("la"),
        F.lag("b").over(w).alias("lb"),
    ).where(F.col("la").isNotNull())

    def direction(y, own_lag, other_lag, label):
        g = lagged.select(
            F.col(y).alias("y"),
            F.col(own_lag).alias("l1"),
            F.col(other_lag).alias("l2"),
        ).agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("y").cast("long").alias("sy"),
            F.sum("l1").cast("long").alias("s1"),
            F.sum("l2").cast("long").alias("s2"),
            F.sum(F.col("y").cast(DEC) * F.col("y").cast(DEC))
            .cast(DEC)
            .alias("syy"),
            F.sum(F.col("l1").cast(DEC) * F.col("l1").cast(DEC))
            .cast(DEC)
            .alias("s11"),
            F.sum(F.col("l2").cast(DEC) * F.col("l2").cast(DEC))
            .cast(DEC)
            .alias("s22"),
            F.sum(F.col("l1").cast(DEC) * F.col("l2").cast(DEC))
            .cast(DEC)
            .alias("s12"),
            F.sum(F.col("l1").cast(DEC) * F.col("y").cast(DEC))
            .cast(DEC)
            .alias("s1y"),
            F.sum(F.col("l2").cast(DEC) * F.col("y").cast(DEC))
            .cast(DEC)
            .alias("s2y"),
        )
        nD = F.col("n").cast(DEC)
        c11 = (nD * F.col("s11") - F.col("s1").cast(DEC) * F.col("s1").cast(DEC)).cast("double")
        c22 = (nD * F.col("s22") - F.col("s2").cast(DEC) * F.col("s2").cast(DEC)).cast("double")
        c12 = (nD * F.col("s12") - F.col("s1").cast(DEC) * F.col("s2").cast(DEC)).cast("double")
        c1y = (nD * F.col("s1y") - F.col("s1").cast(DEC) * F.col("sy").cast(DEC)).cast("double")
        c2y = (nD * F.col("s2y") - F.col("s2").cast(DEC) * F.col("sy").cast(DEC)).cast("double")
        cyy = (nD * F.col("syy") - F.col("sy").cast(DEC) * F.col("sy").cast(DEC)).cast("double")
        det = c11 * c22 - c12 * c12
        rss_r = cyy - c1y * c1y / c11
        rss_u = cyy - (
            c22 * c1y * c1y
            - 2.0 * c12 * c1y * c2y
            + c11 * c2y * c2y
        ) / det
        f_stat = (rss_r - rss_u) / (
            rss_u / (F.col("n") - 3).cast("double")
        )
        return g.where(
            (c11 > 0) & (det > 0) & (rss_u > 0) & (F.col("n") > 3)
        ).select(
            F.lit(label).alias("direction"),
            "n",
            round_half_up((rss_r - rss_u) / rss_r, 6).alias(
                "rss_reduction"
            ),
            round_half_up(f_stat, 6).alias("f_stat"),
        )

    return direction("ya", "la", "lb", "b_causes_a").unionByName(
        direction("yb", "lb", "la", "a_causes_b")
    )


def fisher_exact(t, min_orders: int = 10, bal_cut: float = 5000.0) -> DataFrame:
    """Fisher's EXACT test on the 2x2 (acctbal >= ``bal_cut``) x
    (placed >= ``min_orders`` orders) customer table — the
    small-sample companion to the chi-square family (``cramers_v`` /
    ``g_test`` are asymptotic; Fisher conditions on the margins and
    sums hypergeometric probabilities, valid at ANY cell size):

        p = sum over tables k with p(k) <= p(k_obs)*(1+1e-7) of p(k)

    computed WITHOUT factorials: probabilities relative to the
    distribution MODE via the hypergeometric ratio recurrence

        rel(k+1)/rel(k) = (R1-k)(C1-k) / ((k+1)(N-R1-C1+k+1)),

    folded OUTWARD from k_mode = floor((R1+1)(C1+1)/(N+2)) so every
    relative probability is <= 1 — far tails underflow to exact 0.0
    (IEEE-deterministic, mirrored; their true mass is < 1e-300) while
    the mode neighborhood that carries the p-value stays at full
    precision. The (1 + 1e-7) relative tolerance on the two-sided
    inclusion rule is the standard convention (scipy uses the same
    epsilon), mirrored verbatim so both engines include identical
    tables.

    Exactness: margins are exact BIGINTs; each ratio is one division
    of exact integers; the three folds (upward sum, downward sum,
    rel(k_obs)) run in a fixed k order on both engines — Spark
    aggregate HOFs with struct accumulators, DuckDB forward-only
    RECURSIVE CTEs (the Holt cross-field-state discipline). Degenerate
    margins drop by integer predicate.

    Scale: ONE customer/orders rollup to a 4-cell table; the folds run
    over the margin-bounded support. Fisher is a SMALL-TABLE test by
    design — at corpus scale you gate on g_test and reserve this for
    sliced cohorts, exactly the regime where the support stays in the
    thousands."""
    pc = (
        t["orders"]
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
    )
    j = t["customer"].join(
        pc, F.col("c_custkey") == F.col("o_custkey"), "left"
    ).select(
        (F.coalesce("n_orders", F.lit(0)) >= min_orders)
        .cast("int")
        .alias("y"),
        (F.col("c_acctbal") >= bal_cut).cast("int").alias("p"),
    )
    cells = j.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("r1"),
        F.sum("p").cast("long").alias("c1"),
        F.sum(F.col("y") * F.col("p")).cast("long").alias("k_obs"),
    )
    k_min = F.greatest(
        F.lit(0).cast("long"), F.col("r1") + F.col("c1") - F.col("n")
    )
    k_max = F.least(F.col("r1"), F.col("c1"))
    k_mode = F.greatest(
        k_min,
        F.least(
            k_max,
            F.expr("(r1 + 1) * (c1 + 1) div (n + 2)").cast("long"),
        ),
    )
    base = cells.select(
        "n",
        "r1",
        "c1",
        "k_obs",
        k_min.alias("kmin"),
        k_max.alias("kmax"),
        k_mode.alias("kmode"),
    ).where(
        (F.col("r1") > 0)
        & (F.col("r1") < F.col("n"))
        & (F.col("c1") > 0)
        & (F.col("c1") < F.col("n"))
    )

    def ratio(k):
        # rel(k+1) / rel(k): exact ints in, one double division out
        return (
            ((F.col("r1") - k) * (F.col("c1") - k)).cast("double")
            / (
                (k + 1)
                * (F.col("n") - F.col("r1") - F.col("c1") + k + 1)
            ).cast("double")
        )

    # rel(k_obs) relative to the mode: upward product of ratios for
    # k in [kmode, k_obs), or downward product of inverses for
    # k from kmode-1 down to k_obs
    up_obs = F.aggregate(
        F.sequence(F.col("kmode"), F.col("k_obs") - 1),
        F.lit(1.0),
        lambda acc, k: acc * ratio(k),
    )
    down_obs = F.aggregate(
        F.sequence(F.col("kmode") - 1, F.col("k_obs"), F.lit(-1)),
        F.lit(1.0),
        lambda acc, k: acc / ratio(k),
    )
    rel_obs = (
        F.when(F.col("k_obs") > F.col("kmode"), up_obs)
        .when(F.col("k_obs") < F.col("kmode"), down_obs)
        .otherwise(F.lit(1.0))
    )
    b2 = base.withColumn("rel_obs", rel_obs)
    thr = F.col("rel_obs") * (1.0 + 1e-7)
    init = F.struct(
        F.lit(1.0).alias("cur"),
        F.lit(1.0).alias("s_all"),
        F.when(F.lit(1.0) <= thr, F.lit(1.0))
        .otherwise(F.lit(0.0))
        .alias("s_le"),
    )

    def step_up(acc, k):
        nxt = acc["cur"] * ratio(k)
        return F.struct(
            nxt.alias("cur"),
            (acc["s_all"] + nxt).alias("s_all"),
            (
                acc["s_le"]
                + F.when(nxt <= thr, nxt).otherwise(F.lit(0.0))
            ).alias("s_le"),
        )

    def step_down(acc, k):
        nxt = acc["cur"] / ratio(k)
        return F.struct(
            nxt.alias("cur"),
            (acc["s_all"] + nxt).alias("s_all"),
            (
                acc["s_le"]
                + F.when(nxt <= thr, nxt).otherwise(F.lit(0.0))
            ).alias("s_le"),
        )

    # upward pass covers [kmode, kmax] (mode counted here); downward
    # pass covers [kmin, kmode-1] and starts from rel(mode)=1 with
    # zero-initialized sums
    init0 = F.struct(
        F.lit(1.0).alias("cur"),
        F.lit(0.0).alias("s_all"),
        F.lit(0.0).alias("s_le"),
    )
    up = F.aggregate(
        F.sequence(F.col("kmode"), F.col("kmax") - 1), init, step_up
    )
    down = F.when(
        F.col("kmode") > F.col("kmin"),
        F.aggregate(
            F.sequence(F.col("kmode") - 1, F.col("kmin"), F.lit(-1)),
            init0,
            step_down,
        ),
    ).otherwise(init0)
    folded = b2.withColumn("u", up).withColumn("dn", down)
    s_all = F.col("u")["s_all"] + F.col("dn")["s_all"]
    s_le = F.col("u")["s_le"] + F.col("dn")["s_le"]
    return folded.select(
        "n",
        "r1",
        "c1",
        "k_obs",
        (F.col("kmax") - F.col("kmin") + 1).alias("support"),
        round_half_up(s_le / s_all, 6).alias("p_two_sided"),
    )


# Acklam's rational approximation to the inverse normal CDF (the
# standard public-domain coefficients, e.g. as reproduced in Wichura
# AS241 discussions and countless numerics libraries). Shared between
# the Spark Column builder and the DuckDB SQL mirror so both engines
# evaluate EXACTLY the same literals in the same operation order —
# the whole approximation uses only -, *, /, sqrt and ln, all
# IEEE-deterministic on this stack (the house ln-fold precedent).
QNORM_A = (
    -3.969683028665376e+01, 2.209460984245205e+02,
    -2.759285104469687e+02, 1.383577518672690e+02,
    -3.066479806614716e+01, 2.506628277459239e+00,
)
QNORM_B = (
    -5.447609879822406e+01, 1.615858368580409e+02,
    -1.556989798598866e+02, 6.680131188771972e+01,
    -1.328068155288572e+01,
)
QNORM_C = (
    -7.784894002430293e-03, -3.223964580411365e-01,
    -2.400758277161838e+00, -2.549732539343734e+00,
    4.374664141464968e+00, 2.938163982698783e+00,
)
QNORM_D = (
    7.784695709041462e-03, 3.224671290700398e-01,
    2.445134137142996e+00, 3.754408661907416e+00,
)
QNORM_PLOW = 0.02425


def _qnorm_upper(p: F.Column, u: F.Column) -> F.Column:
    """Inverse normal CDF for p in (0.5, 1), given BOTH p and u = 1-p
    (each computed as ONE division of exact integers by the caller, so
    neither suffers 1-p cancellation). Central region |p-0.5| <=
    0.475: Horner rational in r = q^2; upper tail: the mirrored lower
    tail at u."""
    a1, a2, a3, a4, a5, a6 = [F.lit(v) for v in QNORM_A]
    b1, b2, b3, b4, b5 = [F.lit(v) for v in QNORM_B]
    c1, c2, c3, c4, c5, c6 = [F.lit(v) for v in QNORM_C]
    d1, d2, d3, d4 = [F.lit(v) for v in QNORM_D]
    q = p - F.lit(0.5)
    r = q * q
    num = ((((a1 * r + a2) * r + a3) * r + a4) * r + a5) * r + a6
    den = ((((b1 * r + b2) * r + b3) * r + b4) * r + b5) * r + F.lit(1.0)
    central = num * q / den
    ql = F.sqrt(F.lit(-2.0) * F.log(u))
    numt = ((((c1 * ql + c2) * ql + c3) * ql + c4) * ql + c5) * ql + c6
    dent = ((d1 * ql + d2) * ql + d3) * ql + d4
    tail = -(numt / (dent * ql + F.lit(1.0)))
    return F.when(u >= F.lit(QNORM_PLOW), central).otherwise(tail)


def qnorm_upper_sql(p: str, u: str) -> str:
    """DuckDB twin of ``_qnorm_upper``: the same Acklam literals
    (shortest-repr round-trip) in the same operation order. ``p`` and
    ``u`` are SQL expressions for the probability and its exact
    complement."""
    a1, a2, a3, a4, a5, a6 = [repr(v) for v in QNORM_A]
    b1, b2, b3, b4, b5 = [repr(v) for v in QNORM_B]
    c1, c2, c3, c4, c5, c6 = [repr(v) for v in QNORM_C]
    d1, d2, d3, d4 = [repr(v) for v in QNORM_D]
    q = f"(({p}) - 0.5)"
    r = f"({q} * {q})"
    num = (
        f"((((({a1}) * {r} + ({a2})) * {r} + ({a3})) * {r} + ({a4}))"
        f" * {r} + ({a5})) * {r} + ({a6})"
    )
    den = (
        f"((((({b1}) * {r} + ({b2})) * {r} + ({b3})) * {r} + ({b4}))"
        f" * {r} + ({b5})) * {r} + 1.0"
    )
    ql = f"sqrt(-2.0 * ln({u}))"
    numt = (
        f"((((({c1}) * {ql} + ({c2})) * {ql} + ({c3})) * {ql}"
        f" + ({c4})) * {ql} + ({c5})) * {ql} + ({c6})"
    )
    dent = (
        f"((({d1}) * {ql} + ({d2})) * {ql} + ({d3})) * {ql} + ({d4})"
    )
    return (
        f"CASE WHEN ({u}) >= {QNORM_PLOW!r}"
        f" THEN ({num}) * {q} / ({den})"
        f" ELSE -(({numt}) / (({dent}) * {ql} + 1.0)) END"
    )


def fligner_killeen(orders: DataFrame) -> DataFrame:
    """Fligner-Killeen variance-homogeneity test across order
    priorities — the RANK-based member of the spread-test family
    (``bartlett_test`` assumes normality, ``levene_variance`` uses
    mean deviations; FK ranks |x - median_g| and normal-scores them,
    making it the robust default R's fligner.test ships):

        a(v)  = qnorm(1/2 + avgrank(v) / (2(N+1)))   over pooled
                |x - med_g| residuals (average ranks on ties),
        X^2   = sum_j n_j (Abar_j - abar)^2 / V,
        V     = (sum a^2 - N abar^2) / (N - 1)

    Exactness: per-group LOWER medians are integer order statistics;
    residuals are exact cents; avg ranks live on the residual VALUE
    spine as exact integers (2*avgrank = 2*below + cnt + 1); each
    a(v) is the shared Acklam qnorm (literals + operation order
    identical cross-engine), then NANO-QUANTIZED so every downstream
    sum is an order-free BIGINT (the mutual_information discipline).

    Scale: residual values live on the cents price LATTICE (a constant
    of the schema, not of the data), so the value-spine windows and
    the spine itself stay bounded at any SF; group folds are k-sized.
    Reference: reference has no statistics surface (SURVEY.md 2.6)."""
    c = _cents("o_totalprice")
    d = orders.select(F.col("o_orderpriority").alias("g"), c.alias("x"))
    gv = d.groupBy("g", "x").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    wg = Window.partitionBy("g").orderBy("x").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wt = Window.partitionBy("g")
    med = (
        gv.select(
            "g",
            "x",
            F.sum("c").over(wg).alias("cum"),
            F.sum("c").over(wt).alias("ng"),
        )
        .where(F.lit(2) * F.col("cum") >= F.col("ng"))
        .groupBy("g")
        .agg(F.min("x").alias("med"))
    )
    resid = d.join(F.broadcast(med), "g").select(
        "g", F.abs(F.col("x") - F.col("med")).alias("v")
    )
    gvr = resid.groupBy("g", "v").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    ).localCheckpoint(eager=False)
    spine = gvr.groupBy("v").agg(F.sum("c").cast("long").alias("cnt"))
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    tot = gvr.agg(F.sum("c").cast("long").alias("n_all"))
    sp = (
        spine.select(
            "v",
            "cnt",
            F.coalesce(F.sum("cnt").over(wv), F.lit(0).cast("long")).alias(
                "below"
            ),
        )
        .crossJoin(F.broadcast(tot))
    )
    t2 = (F.lit(2) * F.col("below") + F.col("cnt") + 1).cast("double")
    den4 = (F.lit(4) * (F.col("n_all") + 1)).cast("double")
    p = F.lit(0.5) + t2 / den4
    u = (F.lit(2) * (F.col("n_all") + 1) - (
        F.lit(2) * F.col("below") + F.col("cnt") + 1
    )).cast("double") / den4
    a = _qnorm_upper(p, u)
    scores = sp.select(
        "v",
        F.floor(a * 1e9 + F.lit(0.5)).cast("long").alias("an"),
        F.floor(a * a * 1e9 + F.lit(0.5)).cast("long").alias("a2n"),
    )
    j = gvr.join(scores, "v")
    per_g = j.groupBy("g").agg(
        F.sum("c").cast("long").alias("ng"),
        F.sum(F.col("c").cast(DEC) * F.col("an").cast(DEC))
        .cast(DEC)
        .alias("sa"),
    )
    glob = j.agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("c").cast(DEC) * F.col("an").cast(DEC))
        .cast(DEC)
        .alias("sa_all"),
        F.sum(F.col("c").cast(DEC) * F.col("a2n").cast(DEC))
        .cast(DEC)
        .alias("s2_all"),
    )
    arr = per_g.crossJoin(F.broadcast(glob)).groupBy(
        "n", "sa_all", "s2_all"
    ).agg(
        F.array_sort(F.collect_list(F.struct("g", "ng", "sa"))).alias(
            "gs"
        ),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    nD = F.col("n").cast("double")
    abar = F.col("sa_all").cast("double") / (nD * 1e9)
    num = F.aggregate(
        F.col("gs"),
        F.lit(0.0),
        lambda acc, t: acc
        + t["ng"].cast("double")
        * (
            t["sa"].cast("double") / (t["ng"].cast("double") * 1e9)
            - abar
        )
        * (
            t["sa"].cast("double") / (t["ng"].cast("double") * 1e9)
            - abar
        ),
    )
    v_den = (
        F.col("s2_all").cast("double") / 1e9 - nD * abar * abar
    ) / (nD - F.lit(1.0))
    return arr.where((F.col("k") >= 2) & (F.col("n") > F.col("k"))).select(
        F.col("n").alias("n_rows"),
        F.col("k").alias("n_groups"),
        (F.col("k") - 1).cast("long").alias("df"),
        round_half_up(num / v_den, 6).alias("fk_stat"),
    )


def theta_forecast(
    orders: DataFrame, alpha: float = 0.3, horizons: tuple = (1, 7, 30)
) -> DataFrame:
    """Theta-method forecast of daily revenue (Assimakopoulos &
    Nikolopoulos's M3 winner, theta = (0, 2) with equal weights): the
    theta-2 line Z_t = 2 y_t - (a + b t) doubles local curvature, is
    smoothed by SES(alpha), and the h-step forecast averages that
    level with the theta-0 line (the OLS trend extrapolation):

        yhat(n-1+h) = (ses_level + a + b (n-1+h)) / 2

    — the dampened-trend alternative to ``holt_forecast`` (Holt's
    trend is recursive and chases recency; theta's is the GLOBAL OLS
    slope halved by the averaging, the M3-robust default).

    Exactness: y is BIGINT cents on the day-index spine; a and b come
    from exact centered integer moments; the SES fold is a
    single-accumulator forward recursion over the day-sorted array
    (user_ema-safe list_reduce shape — Z_t is recomputed per element
    from the broadcast a, b). Scale: one daily rollup; the fold is
    calendar-bounded."""
    daily = (
        orders.groupBy(F.date_trunc("day", "o_orderdate").alias("d"))
        .agg(F.sum(_cents("o_totalprice")).cast("long").alias("y"))
    )
    idx = daily.withColumn(
        "t", (F.row_number().over(Window.orderBy("d")) - 1).cast("long")
    )
    m = idx.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("t").cast("long").alias("st"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("t").cast(DEC) * F.col("t").cast(DEC))
        .cast(DEC)
        .alias("stt"),
        F.sum(F.col("t").cast(DEC) * F.col("y").cast(DEC))
        .cast(DEC)
        .alias("sty"),
        F.array_sort(
            F.collect_list(
                F.struct("t", F.col("y").cast("double").alias("y"))
            )
        ).alias("zs"),
    )
    ctt = (
        F.col("n").cast(DEC) * F.col("stt")
        - F.col("st").cast(DEC) * F.col("st").cast(DEC)
    ).cast("double")
    cty = (
        F.col("n").cast(DEC) * F.col("sty")
        - F.col("st").cast(DEC) * F.col("sy").cast(DEC)
    ).cast("double")
    b = cty / ctt
    a = (
        F.col("sy").cast("double")
        - b * F.col("st").cast("double")
    ) / F.col("n").cast("double")
    al = F.lit(float(alpha))

    def z_of(t_struct):
        return F.lit(2.0) * t_struct["y"] - (
            a + b * t_struct["t"].cast("double")
        )

    level = F.aggregate(
        F.slice(F.col("zs"), 2, F.size(F.col("zs")) - 1),
        z_of(F.element_at(F.col("zs"), 1)),
        lambda acc, s: al * (
            F.lit(2.0) * s["y"] - (a + b * s["t"].cast("double"))
        ) + (F.lit(1.0) - al) * acc,
    )
    nm1 = (F.col("n") - 1).cast("double")
    cols = [
        F.col("n").alias("n_days"),
        round_half_up(a / 100.0, 6).alias("intercept_usd"),
        round_half_up(b / 100.0, 6).alias("slope_usd"),
        round_half_up(level / 100.0, 6).alias("ses_level_usd"),
    ]
    for h in horizons:
        cols.append(
            round_half_up(
                (level + a + b * (nm1 + F.lit(float(h)))) / F.lit(2.0)
                / 100.0,
                6,
            ).alias(f"forecast_h{int(h)}_usd")
        )
    return m.where((F.col("n") >= 3) & (ctt > 0)).select(*cols)


def mood_median(orders: DataFrame) -> DataFrame:
    """Mood's median test across order priorities: the 2xk contingency
    of (x <= grand median) vs group, scored by Pearson chi-square —
    the crudest-but-assumption-free k-sample location test (Kruskal-
    Wallis uses full ranks; this only asks "which side of the pooled
    median", so it survives wild outliers and heavy censoring):

        X^2 = sum_cells (O - E)^2 / E,  E = n_g * side_total / N

    Exactness: the grand LOWER median is an integer order statistic on
    the cents value spine; O and the E numerators are exact integers;
    each cell term is one mirrored float expression folded in group
    order. Scale: value-spine rollup (price-lattice-bounded), then a
    k-row fold."""
    c = _cents("o_totalprice")
    d = orders.select(F.col("o_orderpriority").alias("g"), c.alias("x"))
    spine = d.groupBy("x").agg(F.count(F.lit(1)).cast("long").alias("c"))
    wv = Window.orderBy("x").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = spine.agg(F.sum("c").cast("long").alias("n_all"))
    med = (
        spine.select("x", F.sum("c").over(wv).alias("cum"))
        .crossJoin(F.broadcast(tot))
        .where(F.lit(2) * F.col("cum") >= F.col("n_all"))
        .agg(F.min("x").alias("med"))
    )
    cells = d.crossJoin(F.broadcast(med)).groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("ng"),
        F.sum((F.col("x") <= F.col("med")).cast("long"))
        .cast("long")
        .alias("le"),
    )
    arr = cells.groupBy().agg(
        F.array_sort(F.collect_list(F.struct("g", "ng", "le"))).alias(
            "gs"
        ),
        F.sum("ng").cast("long").alias("n"),
        F.sum("le").cast("long").alias("le_all"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    nD = F.col("n").cast("double")

    def term(t):
        # DECIMAL cross-products: ng * side_total overflows int64 at
        # warehouse row counts (DuckDB mirrors via HUGEINT)
        e_le = (
            t["ng"].cast(DEC) * F.col("le_all").cast(DEC)
        ).cast("double") / nD
        e_gt = (
            t["ng"].cast(DEC)
            * (F.col("n") - F.col("le_all")).cast(DEC)
        ).cast("double") / nD
        o_le = t["le"].cast("double")
        o_gt = (t["ng"] - t["le"]).cast("double")
        return (o_le - e_le) * (o_le - e_le) / e_le + (
            o_gt - e_gt
        ) * (o_gt - e_gt) / e_gt

    chi2 = F.aggregate(
        F.col("gs"), F.lit(0.0), lambda acc, t: acc + term(t)
    )
    return arr.where(
        (F.col("k") >= 2)
        & (F.col("le_all") > 0)
        & (F.col("le_all") < F.col("n"))
    ).select(
        F.col("n").alias("n_rows"),
        F.col("k").alias("n_groups"),
        (F.col("k") - 1).cast("long").alias("df"),
        F.col("le_all").alias("n_le_median"),
        round_half_up(chi2, 6).alias("chi2"),
    )


def adf_lite(orders: DataFrame) -> DataFrame:
    """Dickey-Fuller unit-root statistic (lag-0 "lite" form) for the
    daily order-count series: regress Delta y_t on (1, y_{t-1}) and
    report t(gamma) — the STATIONARITY gate the forecasting family
    (holt/croston/theta) should pass before trusting a trend, and the
    complement of ``kpss_lite`` (DF's null is a unit root; KPSS's null
    is stationarity — agreeing tests are evidence, disagreeing ones a
    warning).

        gamma = Cxy / Cxx,  t = gamma / se,
        se = sqrt((RSS / (n-2)) / (Cxx / n)),
        RSS = (Cyy - Cxy^2 / Cxx) / n

    Exactness: y and the lag live on the day-index spine; all C.. are
    exact centered BIGINT/DECIMAL moments; gamma, se, t are three
    mirrored float expressions. Scale: one daily rollup; the lag
    window runs over the calendar spine."""
    daily = (
        orders.groupBy(F.date_trunc("day", "o_orderdate").alias("d"))
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
    )
    w = Window.orderBy("d")
    lagged = daily.select(
        "y", F.lag("y").over(w).alias("x")
    ).where(F.col("x").isNotNull())
    m = lagged.select(
        (F.col("y") - F.col("x")).alias("dy"), "x"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("dy").cast("long").alias("sy"),
        F.sum(F.col("x").cast(DEC) * F.col("x").cast(DEC))
        .cast(DEC)
        .alias("sxx"),
        F.sum(F.col("x").cast(DEC) * F.col("dy").cast(DEC))
        .cast(DEC)
        .alias("sxy"),
        F.sum(F.col("dy").cast(DEC) * F.col("dy").cast(DEC))
        .cast(DEC)
        .alias("syy"),
    )
    cxx = (
        F.col("n").cast(DEC) * F.col("sxx")
        - F.col("sx").cast(DEC) * F.col("sx").cast(DEC)
    ).cast("double")
    cxy = (
        F.col("n").cast(DEC) * F.col("sxy")
        - F.col("sx").cast(DEC) * F.col("sy").cast(DEC)
    ).cast("double")
    cyy = (
        F.col("n").cast(DEC) * F.col("syy")
        - F.col("sy").cast(DEC) * F.col("sy").cast(DEC)
    ).cast("double")
    gamma = cxy / cxx
    rss = (cyy - cxy * cxy / cxx) / F.col("n").cast("double")
    se = F.sqrt(
        (rss / (F.col("n") - 2).cast("double"))
        / (cxx / F.col("n").cast("double"))
    )
    return m.where((cxx > 0) & (F.col("n") > 2) & (rss > 0)).select(
        F.col("n").alias("n_obs"),
        round_half_up(gamma, 6).alias("gamma"),
        round_half_up(se, 6).alias("se_gamma"),
        round_half_up(gamma / se, 6).alias("adf_t"),
    )


def kpss_lite(orders: DataFrame) -> DataFrame:
    """KPSS level-stationarity statistic (lag-0 "lite" form) of the
    daily order-count series: eta = sum_t S_t^2 / (n^2 sigma^2) over
    the partial sums S_t of the demeaned series — the null-reversed
    complement of ``adf_lite`` (KPSS's null IS stationarity; rejecting
    both, or neither, is the forecaster's warning light).

    Exactness: FULLY integer until one final division — n*S_t =
    n*cum_t - t*Sy is an exact BIGINT, its squares sum in DECIMAL, and

        eta = sum (n S_t)^2 / (n^2 (n Syy - Sy^2))

    cancels every 1/n^2 so the statistic is one division of two exact
    DECIMAL integers. Scale: one daily rollup; the cumulative window
    runs over the calendar spine."""
    daily = (
        orders.groupBy(F.date_trunc("day", "o_orderdate").alias("d"))
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
        .localCheckpoint(eager=False)
    )
    agg = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("y").cast(DEC) * F.col("y").cast(DEC))
        .cast(DEC)
        .alias("syy"),
    )
    w = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    idx = daily.select(
        F.row_number().over(Window.orderBy("d")).cast("long").alias("i"),
        F.sum("y").over(w).cast("long").alias("cum"),
    )
    ns = idx.crossJoin(F.broadcast(agg)).select(
        "n",
        "sy",
        "syy",
        (
            F.col("n").cast(DEC) * F.col("cum").cast(DEC)
            - F.col("i").cast(DEC) * F.col("sy").cast(DEC)
        ).cast(DEC).alias("nst"),
    )
    fin = ns.groupBy("n", "sy", "syy").agg(
        F.sum(F.col("nst") * F.col("nst")).cast(DEC).alias("q")
    )
    var_num = (
        F.col("n").cast(DEC) * F.col("syy")
        - F.col("sy").cast(DEC) * F.col("sy").cast(DEC)
    )
    eta = F.col("q").cast("double") / (
        F.col("n").cast(DEC) * F.col("n").cast(DEC) * var_num
    ).cast("double")
    return fin.where((var_num > 0) & (F.col("n") >= 3)).select(
        F.col("n").alias("n_days"),
        round_half_up(eta, 6).alias("kpss_eta"),
    )


def variance_ratio(
    orders: DataFrame, lags: tuple = (2, 5, 10)
) -> DataFrame:
    """Lo-MacKinlay variance-ratio diagnostics of the daily-revenue
    series: VR(q) = Var[y_t - y_{t-q}] / (q Var[y_t - y_{t-1}]) over
    overlapping differences — the random-walk test the long-memory
    read (``hurst_rs``) complements: VR ~ 1 says increments are
    uncorrelated, VR > 1 momentum, VR < 1 mean reversion.

    Exactness: both variances are exact centered DECIMAL moments of
    BIGINT differences (biased 1/m form, same convention both
    numerator and denominator):

        VR = (Cq / (nq*nq)) / (q * C1 / (m*m))

    — one float expression per lag. Scale: one daily rollup; each lag
    column is one window over the calendar spine."""
    daily = (
        orders.groupBy(F.date_trunc("day", "o_orderdate").alias("d"))
        .agg(F.sum(_cents("o_totalprice")).cast("long").alias("y"))
        .localCheckpoint(eager=False)
    )
    w = Window.orderBy("d")

    def centered(df, col):
        m = df.agg(
            F.count(F.lit(1)).cast("long").alias("m"),
            F.sum(col).cast("long").alias("s"),
            F.sum(F.col(col).cast(DEC) * F.col(col).cast(DEC))
            .cast(DEC)
            .alias("q"),
        )
        return m.select(
            "m",
            (
                F.col("m").cast(DEC) * F.col("q")
                - F.col("s").cast(DEC) * F.col("s").cast(DEC)
            ).cast(DEC).alias("c"),
        )

    d1 = daily.select(
        (F.col("y") - F.lag("y", 1).over(w)).alias("dy")
    ).where(F.col("dy").isNotNull())
    base = centered(d1, "dy").select(
        F.col("m").alias("m1"), F.col("c").alias("c1")
    )
    outs = []
    for q in lags:
        dq = daily.select(
            (F.col("y") - F.lag("y", int(q)).over(w)).alias("dq")
        ).where(F.col("dq").isNotNull())
        cq = centered(dq, "dq").select(
            F.col("m").alias("mq"), F.col("c").alias("cq")
        )
        vr = (
            F.col("cq").cast("double")
            / (F.col("mq").cast(DEC) * F.col("mq").cast(DEC)).cast(
                "double"
            )
        ) / (
            F.lit(float(q))
            * (
                F.col("c1").cast("double")
                / (F.col("m1").cast(DEC) * F.col("m1").cast(DEC)).cast(
                    "double"
                )
            )
        )
        outs.append(
            cq.crossJoin(F.broadcast(base))
            .where((F.col("c1") > 0) & (F.col("mq") >= 2))
            .select(
                F.lit(int(q)).cast("long").alias("q"),
                F.col("mq").alias("n_diffs"),
                round_half_up(vr, 6).alias("vr"),
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


def sign_test_drift(orders: DataFrame) -> DataFrame:
    """Exact two-sided sign test on the daily order-count increments:
    are up-days and down-days binomially balanced (p = 1/2), zeros
    dropped — the weakest-assumption drift detector (``mann_kendall``
    ranks all pairs; this only reads signs, so a single wild day
    cannot move it):

        p = sum over k with C(n,k) <= C(n,k_obs) of C(n,k) / 2^n

    computed factorial-free by the ``fisher_exact`` discipline:
    binomial masses relative to the MODE via the ratio recurrence
    rel(k+1)/rel(k) = (n-k)/(k+1), folded outward so far tails
    underflow to exact 0.0, and the scipy (1 + 1e-7) inclusion
    tolerance mirrored verbatim.

    Scale: one daily rollup; the folds run over the calendar-bounded
    support (n <= days)."""
    daily = (
        orders.groupBy(F.date_trunc("day", "o_orderdate").alias("d"))
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
    )
    w = Window.orderBy("d")
    diffs = daily.select(
        (F.col("y") - F.lag("y", 1).over(w)).alias("dy")
    ).where(F.col("dy").isNotNull() & (F.col("dy") != 0))
    base = diffs.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum((F.col("dy") > 0).cast("long")).cast("long").alias("up"),
    ).where(F.col("n") >= 1)
    kobs = F.col("up")
    kmode = F.expr("(n + 1) div 2").cast("long")

    def ratio(k):
        # rel(k+1) / rel(k) for Binomial(n, 1/2) masses
        return (F.col("n") - k).cast("double") / (k + 1).cast("double")

    up_obs = F.aggregate(
        F.sequence(F.col("kmode"), kobs - 1),
        F.lit(1.0),
        lambda acc, k: acc * ratio(k),
    )
    down_obs = F.aggregate(
        F.sequence(F.col("kmode") - 1, kobs, F.lit(-1)),
        F.lit(1.0),
        lambda acc, k: acc / ratio(k),
    )
    b2 = base.withColumn("kmode", kmode).withColumn(
        "rel_obs",
        F.when(kobs > F.col("kmode"), up_obs)
        .when(kobs < F.col("kmode"), down_obs)
        .otherwise(F.lit(1.0)),
    )
    thr = F.col("rel_obs") * (1.0 + 1e-7)
    init = F.struct(
        F.lit(1.0).alias("cur"),
        F.lit(1.0).alias("s_all"),
        F.when(F.lit(1.0) <= thr, F.lit(1.0))
        .otherwise(F.lit(0.0))
        .alias("s_le"),
    )
    init0 = F.struct(
        F.lit(1.0).alias("cur"),
        F.lit(0.0).alias("s_all"),
        F.lit(0.0).alias("s_le"),
    )

    def step(acc, nxt):
        return F.struct(
            nxt.alias("cur"),
            (acc["s_all"] + nxt).alias("s_all"),
            (
                acc["s_le"]
                + F.when(nxt <= thr, nxt).otherwise(F.lit(0.0))
            ).alias("s_le"),
        )

    up = F.aggregate(
        F.sequence(F.col("kmode"), F.col("n") - 1),
        init,
        lambda acc, k: step(acc, acc["cur"] * ratio(k)),
    )
    down = F.when(
        F.col("kmode") > 0,
        F.aggregate(
            F.sequence(F.col("kmode") - 1, F.lit(0), F.lit(-1)),
            init0,
            lambda acc, k: step(acc, acc["cur"] / ratio(k)),
        ),
    ).otherwise(init0)
    folded = b2.withColumn("u", up).withColumn("dn", down)
    s_all = F.col("u")["s_all"] + F.col("dn")["s_all"]
    s_le = F.col("u")["s_le"] + F.col("dn")["s_le"]
    return folded.select(
        F.col("n").alias("n_moves"),
        F.col("up").alias("n_up"),
        (F.col("n") - F.col("up")).alias("n_down"),
        round_half_up(s_le / s_all, 6).alias("p_two_sided"),
    )


# Embedded as shared literals so both engines parse identical doubles
# (the SPRT log-constant discipline).
EULER_GAMMA = 0.5772156649015329
PI = 3.141592653589793


def gumbel_maxima(orders: DataFrame, return_blocks: int = 12) -> DataFrame:
    """Extreme-value read of the revenue series: MONTHLY block maxima
    of daily revenue, fitted to a Gumbel distribution by the method of
    moments —

        beta = sd * sqrt(6) / pi,   mu = mean - gamma_E * beta,
        RL(T) = mu - beta * ln(-ln(1 - 1/T))

    — the "what is the worst month-peak we should expect in a year?"
    capacity question the mean/percentile family cannot answer (the
    return level extrapolates the TAIL law, not the bulk).

    Exactness: block maxima are BIGINT cents; mean/sd come from exact
    BIGINT/DECIMAL moments; pi and Euler's gamma are shared literals;
    ln/sqrt are the house libm-safe calls; every output is one
    mirrored float expression. Scale: daily rollup -> |months|-row
    maxima -> one aggregate."""
    daily = (
        orders.groupBy(F.date_trunc("day", "o_orderdate").alias("d"))
        .agg(F.sum(_cents("o_totalprice")).cast("long").alias("y"))
    )
    blocks = daily.groupBy(
        F.date_trunc("month", "d").alias("m")
    ).agg(F.max("y").cast("long").alias("mx"))
    agg = blocks.agg(
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
        F.sum("mx").cast("long").alias("s"),
        F.sum(F.col("mx").cast(DEC) * F.col("mx").cast(DEC))
        .cast(DEC)
        .alias("q"),
    )
    nD = F.col("n_blocks").cast("double")
    mean = F.col("s").cast("double") / nD
    var_num = (
        F.col("n_blocks").cast(DEC) * F.col("q")
        - F.col("s").cast(DEC) * F.col("s").cast(DEC)
    ).cast("double")
    sd = F.sqrt(var_num / (nD * (nD - F.lit(1.0))))
    beta = sd * F.sqrt(F.lit(6.0)) / F.lit(PI)
    mu = mean - F.lit(EULER_GAMMA) * beta
    t = float(return_blocks)
    rl = mu - beta * F.log(
        -F.log(F.lit(1.0) - F.lit(1.0) / F.lit(t))
    )
    return agg.where((F.col("n_blocks") >= 2) & (var_num > 0)).select(
        "n_blocks",
        round_half_up(mean / 100.0, 6).alias("mean_max_usd"),
        round_half_up(sd / 100.0, 6).alias("sd_max_usd"),
        round_half_up(mu / 100.0, 6).alias("mu_usd"),
        round_half_up(beta / 100.0, 6).alias("beta_usd"),
        round_half_up(rl / 100.0, 6).alias(
            f"return_level_{return_blocks}_usd"
        ),
    )


def cohens_d_family(
    orders: DataFrame, g1: str = "O", g2: str = "F"
) -> DataFrame:
    """Standardized effect sizes between two order-status cohorts'
    totalprice: Cohen's d (pooled sd), Hedges' g (small-sample
    corrected, J = 1 - 3/(4(n1+n2) - 9)) and Glass's delta (control-sd
    denominator) — the MAGNITUDE companion the significance family
    (t-ish tests, ``mwu_source_shift``) deliberately does not report:
    at warehouse n everything is "significant"; these say whether the
    difference is worth acting on.

    Exactness: all moments are exact BIGINT/DECIMAL cents; the pooled
    variance combines the two exact centered sums in one mirrored
    float expression; sqrt is correctly rounded. Scale: one 2-row
    rollup."""
    c = _cents("o_totalprice")
    d = orders.where(
        F.col("o_orderstatus").isin([g1, g2])
    ).select(F.col("o_orderstatus").alias("g"), c.alias("x"))
    m = d.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
        F.sum(F.col("x").cast(DEC) * F.col("x").cast(DEC))
        .cast(DEC)
        .alias("q"),
    )
    a = m.where(F.col("g") == g1).select(
        F.col("n").alias("n1"), F.col("s").alias("s1"),
        F.col("q").alias("q1"),
    )
    b = m.where(F.col("g") == g2).select(
        F.col("n").alias("n2"), F.col("s").alias("s2"),
        F.col("q").alias("q2"),
    )
    j = a.crossJoin(F.broadcast(b))

    def cvar(n, s, q):
        # centered sum of squares / n: (n q - s^2) / n as DOUBLE
        return (
            n.cast(DEC) * q - s.cast(DEC) * s.cast(DEC)
        ).cast("double") / n.cast("double")

    c1 = cvar(F.col("n1"), F.col("s1"), F.col("q1"))
    c2 = cvar(F.col("n2"), F.col("s2"), F.col("q2"))
    m1 = F.col("s1").cast("double") / F.col("n1").cast("double")
    m2 = F.col("s2").cast("double") / F.col("n2").cast("double")
    sp = F.sqrt(
        (c1 + c2) / (F.col("n1") + F.col("n2") - 2).cast("double")
    )
    s1 = F.sqrt(c1 / (F.col("n1") - 1).cast("double"))
    dd = (m1 - m2) / sp
    jfac = F.lit(1.0) - F.lit(3.0) / (
        F.lit(4.0) * (F.col("n1") + F.col("n2")).cast("double")
        - F.lit(9.0)
    )
    return j.where(
        (F.col("n1") >= 2) & (F.col("n2") >= 2) & (c1 > 0) & (c2 > 0)
    ).select(
        "n1",
        "n2",
        round_half_up((m1 - m2) / 100.0, 6).alias("mean_diff_usd"),
        round_half_up(dd, 6).alias("cohens_d"),
        round_half_up(jfac * dd, 6).alias("hedges_g"),
        round_half_up((m1 - m2) / s1, 6).alias("glass_delta"),
    )


def odds_ratio_ci(
    t, min_orders: int = 10, bal_cut: float = 5000.0
) -> DataFrame:
    """Odds ratio with the Katz log-interval on the SAME 2x2 table
    ``fisher_exact`` tests — the effect-size companion (Fisher says
    WHETHER balance and ordering associate; this says HOW STRONGLY,
    with a 95% interval):

        OR = ad / bc,
        ln OR +- 1.96 sqrt(1/a + 1/b + 1/c + 1/d)

    The interval ships in LOG space (ln_or / ln_lo / ln_hi): exp() is
    deliberately avoided so the only libm calls are the house-safe ln
    and sqrt. Exactness: cells are exact BIGINTs; ad and bc promote
    through DECIMAL; three mirrored float expressions. Scale: one
    customer/orders rollup to four cells."""
    pc = (
        t["orders"]
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
    )
    j = t["customer"].join(
        pc, F.col("c_custkey") == F.col("o_custkey"), "left"
    ).select(
        (F.coalesce("n_orders", F.lit(0)) >= min_orders)
        .cast("int")
        .alias("y"),
        (F.col("c_acctbal") >= bal_cut).cast("int").alias("p"),
    )
    cells = j.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("r1"),
        F.sum("p").cast("long").alias("c1"),
        F.sum(F.col("y") * F.col("p")).cast("long").alias("a"),
    ).select(
        "a",
        (F.col("r1") - F.col("a")).alias("b"),
        (F.col("c1") - F.col("a")).alias("c"),
        (F.col("n") - F.col("r1") - F.col("c1") + F.col("a")).alias(
            "d"
        ),
    )
    orx = (
        F.col("a").cast(DEC) * F.col("d").cast(DEC)
    ).cast("double") / (
        F.col("b").cast(DEC) * F.col("c").cast(DEC)
    ).cast("double")
    ln_or = F.log(orx)
    se = F.sqrt(
        F.lit(1.0) / F.col("a").cast("double")
        + F.lit(1.0) / F.col("b").cast("double")
        + F.lit(1.0) / F.col("c").cast("double")
        + F.lit(1.0) / F.col("d").cast("double")
    )
    return cells.where(
        (F.col("a") > 0) & (F.col("b") > 0) & (F.col("c") > 0)
        & (F.col("d") > 0)
    ).select(
        "a",
        "b",
        "c",
        "d",
        round_half_up(orx, 6).alias("odds_ratio"),
        round_half_up(ln_or, 6).alias("ln_or"),
        round_half_up(ln_or - F.lit(1.96) * se, 6).alias("ln_lo"),
        round_half_up(ln_or + F.lit(1.96) * se, 6).alias("ln_hi"),
    )


def jackknife_mean(orders: DataFrame) -> DataFrame:
    """Leave-one-DAY-out jackknife of the revenue-per-order RATIO
    estimator: theta = sum(revenue) / sum(orders) is a ratio of two
    totals, so its variance has no closed form — the jackknife
    recomputes theta with each day deleted and reads bias and standard
    error off the pseudo-value spread:

        theta_(-d) = (R - r_d) / (C - c_d),
        bias  = (n - 1)(mean theta_(-d) - theta),
        se    = sqrt((n - 1)/n * sum (theta_(-d) - mean)^2)

    — the resampling-free uncertainty quantifier a daily-KPI dashboard
    wants next to the point estimate (days, not rows, are the natural
    exchangeable unit here).

    Exactness: r_d, c_d, R, C are exact BIGINTs; each theta_(-d) is
    one division; both jackknife sums fold over the DAY-SORTED array
    (single-accumulator, list_reduce-safe). Scale: one daily rollup;
    folds are calendar-bounded."""
    daily = (
        orders.groupBy(F.date_trunc("day", "o_orderdate").alias("d"))
        .agg(
            F.sum(_cents("o_totalprice")).cast("long").alias("r"),
            F.count(F.lit(1)).cast("long").alias("c"),
        )
    )
    agg = daily.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("r").cast("long").alias("rr"),
        F.sum("c").cast("long").alias("cc"),
        F.array_sort(F.collect_list(F.struct("d", "r", "c"))).alias(
            "xs"
        ),
    )

    def loo(t):
        return (F.col("rr") - t["r"]).cast("double") / (
            F.col("cc") - t["c"]
        ).cast("double")

    s1 = F.aggregate(
        F.col("xs"), F.lit(0.0), lambda acc, t: acc + loo(t)
    )
    # MATERIALIZE the jackknife mean as a column before the second
    # fold: an expression containing s1's fold inlined inside the s2
    # lambda re-evaluates the whole first fold PER ELEMENT — O(days^2)
    # interpreted steps (measured 2.4s vs theta_forecast's 0.34s on
    # the same daily rollup; this two-stage form is ~0.4s).
    agg = agg.withColumn("jm", s1 / F.col("n").cast("double"))
    jm = F.col("jm")
    s2 = F.aggregate(
        F.col("xs"),
        F.lit(0.0),
        lambda acc, t: acc + (loo(t) - jm) * (loo(t) - jm),
    )
    theta = F.col("rr").cast("double") / F.col("cc").cast("double")
    nD = F.col("n").cast("double")
    se = F.sqrt((nD - F.lit(1.0)) / nD * s2)
    # every theta_(-d) needs C - c_d > 0: min day count < total
    ok = F.aggregate(
        F.col("xs"),
        F.lit(True),
        lambda acc, t: acc & (t["c"] < F.col("cc")),
    )
    return agg.where((F.col("n") >= 2) & ok).select(
        F.col("n").alias("n_days"),
        round_half_up(theta / 100.0, 6).alias("theta_usd"),
        round_half_up(jm / 100.0, 6).alias("jack_mean_usd"),
        round_half_up(
            (nD - F.lit(1.0)) * (jm - theta) / 100.0, 6
        ).alias("jack_bias_usd"),
        round_half_up(se / 100.0, 6).alias("jack_se_usd"),
    )


def permutation_shift(
    orders: DataFrame, n_perm: int = 200
) -> DataFrame:
    """Permutation test of the half-vs-half level shift in daily order
    counts, with DETERMINISTIC hash permutations: the observed
    statistic is |mean(second half) - mean(first half)|; each of the
    ``n_perm`` pseudo-permutations reassigns every day to a side by an
    md5 parity keyed on (k, day) — reproducible across reruns AND
    engines (the house md5 discipline), which real RNG permutation
    tests cannot promise:

        p = (1 + #{k : diff_k >= diff_obs}) / (n_perm + 1)

    (the add-one form that keeps p > 0 and is the standard
    permutation-test estimate). Sign tests read direction only;
    ``chow_test`` fits trends; this nonparametrically scores the
    LEVEL shift with no distributional assumption at all.

    Exactness: counts and group sizes are exact integers; each mean is
    one division; the >= comparison runs on identically-computed
    doubles. Scale: |days| x n_perm expansion of the DAILY rollup —
    calendar-bounded, never data-sized."""
    daily = (
        orders.groupBy(F.date_trunc("day", "o_orderdate").alias("d"))
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
        .localCheckpoint(eager=False)
    )
    idx = daily.withColumn(
        "i",
        F.row_number().over(Window.orderBy("d")).cast("long"),
    ).localCheckpoint(eager=False)
    tot = idx.agg(F.count(F.lit(1)).cast("long").alias("n"))
    halves = idx.crossJoin(F.broadcast(tot)).select(
        "d",
        "y",
        F.when(F.col("i") <= F.expr("n div 2"), F.lit(0))
        .otherwise(F.lit(1))
        .alias("h"),
        "n",
    )
    obs_row = halves.groupBy("n").agg(
        F.sum(F.when(F.col("h") == 0, F.col("y"))).cast("long").alias("s0"),
        F.sum(F.when(F.col("h") == 0, 1)).cast("long").alias("c0"),
        F.sum(F.when(F.col("h") == 1, F.col("y"))).cast("long").alias("s1"),
        F.sum(F.when(F.col("h") == 1, 1)).cast("long").alias("c1"),
    )
    obs = obs_row.select(
        "n",
        F.abs(
            F.col("s1").cast("double") / F.col("c1").cast("double")
            - F.col("s0").cast("double") / F.col("c0").cast("double")
        ).alias("obs_diff"),
    )
    ks = F.explode(
        F.sequence(F.lit(1), F.lit(int(n_perm)))
    ).alias("k")
    assigned = daily.select("d", "y", ks).select(
        "k",
        "y",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("k").cast("string"),
                            F.lit("|"),
                            F.date_format("d", "yyyy-MM-dd"),
                        ).cast("binary")
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 2
        ).alias("h"),
    )
    per_k = assigned.groupBy("k").agg(
        F.sum(F.when(F.col("h") == 0, F.col("y"))).cast("long").alias("s0"),
        F.sum(F.when(F.col("h") == 0, 1)).cast("long").alias("c0"),
        F.sum(F.when(F.col("h") == 1, F.col("y"))).cast("long").alias("s1"),
        F.sum(F.when(F.col("h") == 1, 1)).cast("long").alias("c1"),
    ).where((F.col("c0") > 0) & (F.col("c1") > 0))
    diffs = per_k.select(
        "k",
        F.abs(
            F.col("s1").cast("double") / F.col("c1").cast("double")
            - F.col("s0").cast("double") / F.col("c0").cast("double")
        ).alias("diff"),
    )
    counted = diffs.crossJoin(F.broadcast(obs)).agg(
        F.max("n").alias("n_days"),
        F.max("obs_diff").alias("obs_diff"),
        F.count(F.lit(1)).cast("long").alias("n_valid"),
        F.sum((F.col("diff") >= F.col("obs_diff")).cast("long"))
        .cast("long")
        .alias("n_ge"),
    )
    return counted.select(
        "n_days",
        round_half_up(F.col("obs_diff"), 6).alias("obs_diff"),
        F.col("n_valid"),
        "n_ge",
        round_half_up(
            (F.col("n_ge") + 1).cast("double")
            / (F.col("n_valid") + 1).cast("double"),
            6,
        ).alias("p_value"),
    )


def mcc_matthews(emb: DataFrame) -> DataFrame:
    """Matthews correlation coefficient (plus accuracy and F1) of the
    ``auc_scores`` heuristic classifier at the zero threshold: pred =
    (micro-quantized coordinate-sum projection >= 0), truth = (label
    == 1) — the CONFUSION-MATRIX summary beside the family's ranking
    metrics (``auc_scores`` grades the score's ORDERING; MCC grades
    the thresholded DECISION, and unlike accuracy stays honest under
    class imbalance):

        MCC = (TP*TN - FP*FN) / sqrt((TP+FP)(TP+FN)(TN+FP)(TN+FN))

    Exactness: the projection reuses auc_scores' exact micro
    quantization; all four cells are exact BIGINTs; products promote
    through DECIMAL (the 4-factor denominator overflows int64 at
    warehouse n); MCC/F1/accuracy are single mirrored float
    expressions. Scale: one per-vector map + a 4-cell rollup."""
    scored = emb.select(
        (
            F.floor(
                F.aggregate(
                    F.col("embedding").cast("array<double>"),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                )
                * 1000000.0
                + F.lit(0.5)
            ).cast("long")
            >= 0
        ).cast("int").alias("pred"),
        (F.col("label") == 1).cast("int").alias("y"),
    )
    cells = scored.agg(
        F.sum(F.col("pred") * F.col("y")).cast("long").alias("tp"),
        F.sum(F.col("pred") * (1 - F.col("y"))).cast("long").alias("fp"),
        F.sum((1 - F.col("pred")) * F.col("y")).cast("long").alias("fn"),
        F.sum((1 - F.col("pred")) * (1 - F.col("y")))
        .cast("long")
        .alias("tn"),
    )
    num = (
        F.col("tp").cast(DEC) * F.col("tn").cast(DEC)
        - F.col("fp").cast(DEC) * F.col("fn").cast(DEC)
    ).cast("double")
    den = F.sqrt(
        (
            (F.col("tp") + F.col("fp")).cast(DEC)
            * (F.col("tp") + F.col("fn")).cast(DEC)
            * (F.col("tn") + F.col("fp")).cast(DEC)
            * (F.col("tn") + F.col("fn")).cast(DEC)
        ).cast("double")
    )
    n = F.col("tp") + F.col("fp") + F.col("fn") + F.col("tn")
    acc = (F.col("tp") + F.col("tn")).cast("double") / n.cast("double")
    f1 = (F.lit(2.0) * F.col("tp").cast("double")) / (
        F.lit(2.0) * F.col("tp").cast("double")
        + F.col("fp").cast("double")
        + F.col("fn").cast("double")
    )
    return cells.where(den > 0).select(
        "tp",
        "fp",
        "fn",
        "tn",
        round_half_up(acc, 6).alias("accuracy"),
        round_half_up(f1, 6).alias("f1"),
        round_half_up(num / den, 6).alias("mcc"),
    )


def wilcoxon_signed_rank(orders: DataFrame) -> DataFrame:
    """Wilcoxon signed-rank test of the half-vs-half PAIRED daily
    order counts (day i of the first half paired with day i of the
    second): ranks of |d| with average ties, zeros dropped, normal
    approximation with the tie correction —

        z = (W+ - n(n+1)/4)
            / sqrt(n(n+1)(2n+1)/24 - sum(t^3 - t)/48)

    — the PAIRED member of the drift battery (``sign_test_drift``
    reads only signs; this weights by magnitude rank, and the pairing
    removes the weekday/seasonal component both halves share).

    Exactness: |d| ranks live on the difference VALUE spine as exact
    integers (2*avgrank = 2*below + cnt + 1, the fligner discipline);
    2*W+ is an exact BIGINT; the z expression is one mirrored float.
    Scale: calendar-bounded throughout."""
    daily = (
        orders.groupBy(F.date_trunc("day", "o_orderdate").alias("d"))
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
    )
    idx = daily.select(
        F.row_number().over(Window.orderBy("d")).cast("long").alias("i"),
        "y",
    ).localCheckpoint(eager=False)
    tot = idx.agg(F.count(F.lit(1)).cast("long").alias("m"))
    h = F.expr("m div 2")
    a = idx.crossJoin(F.broadcast(tot)).where(F.col("i") <= h).select(
        F.col("i").alias("p"), F.col("y").alias("y1")
    )
    b = idx.crossJoin(F.broadcast(tot)).where(F.col("i") > h).select(
        (F.col("i") - h).alias("p"), F.col("y").alias("y2")
    )
    diffs = (
        a.join(b, "p")
        .select((F.col("y2") - F.col("y1")).alias("dd"))
        .where(F.col("dd") != 0)
        .select(F.abs("dd").alias("v"), (F.col("dd") > 0).alias("pos"))
        .localCheckpoint(eager=False)
    )
    gv = diffs.groupBy("v").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum(F.col("pos").cast("long")).cast("long").alias("npos"),
    )
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    sp = gv.select(
        "v",
        "cnt",
        "npos",
        F.coalesce(F.sum("cnt").over(wv), F.lit(0).cast("long")).alias(
            "below"
        ),
    )
    # 2*avgrank(v) = 2*below + cnt + 1 ; 2*W+ = sum npos * that
    agg = sp.agg(
        F.sum("cnt").cast("long").alias("n"),
        F.sum(
            F.col("npos").cast(DEC)
            * (F.lit(2) * F.col("below") + F.col("cnt") + 1).cast(DEC)
        ).cast(DEC).alias("w2"),
        F.sum(
            (
                F.col("cnt").cast(DEC) * F.col("cnt").cast(DEC)
                - F.lit(1).cast(DEC)
            )
            * F.col("cnt").cast(DEC)
        ).cast(DEC).alias("tie3"),
    )
    nD = F.col("n").cast("double")
    w_plus = F.col("w2").cast("double") / 2.0
    mean_w = nD * (nD + 1.0) / 4.0
    var_w = nD * (nD + 1.0) * (2.0 * nD + 1.0) / 24.0 - F.col(
        "tie3"
    ).cast("double") / 48.0
    return agg.where((F.col("n") >= 2) & (var_w > 0)).select(
        F.col("n").alias("n_pairs"),
        round_half_up(w_plus, 6).alias("w_plus"),
        round_half_up(
            (w_plus - mean_w) / F.sqrt(var_w), 6
        ).alias("z"),
    )


def ansari_bradley(orders: DataFrame, g1: str = "O", g2: str = "F") -> DataFrame:
    """Ansari-Bradley SCALE test between two order-status cohorts'
    totalprice: ranks assigned from BOTH ends inward (score = min(r,
    N+1-r), average ties), so a group whose values crowd the extremes
    scores LOW and a tightly-centered one scores HIGH — the rank
    test for "same spread?" that needs no normality
    (``bartlett_test``'s assumption) and no mean-deviation moments
    (``levene_variance``'s):

        AB = sum of group-1 scores,
        z = (AB - n1 sbar) / sqrt(n1 n2 ssq / (N (N-1)))

    with sbar/ssq the exact score mean and centered sum of squares
    over ALL N scores (the permutation moments).

    Exactness: 2*score(v) = min(2*below + cnt + 1, 2(N+1) -
    (2*below + cnt + 1)) is an exact integer on the price value
    spine; every sum is BIGINT/DECIMAL; z is one mirrored float.
    Scale: price-lattice-bounded spine, k-row arithmetic after."""
    c = _cents("o_totalprice")
    d = orders.where(F.col("o_orderstatus").isin([g1, g2])).select(
        (F.col("o_orderstatus") == g1).cast("int").alias("in1"),
        c.alias("v"),
    )
    gv = d.groupBy("v").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum("in1").cast("long").alias("c1"),
    )
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    tot = gv.agg(
        F.sum("cnt").cast("long").alias("nn"),
        F.sum("c1").cast("long").alias("n1"),
    )
    sp = gv.select(
        "v",
        "cnt",
        "c1",
        F.coalesce(F.sum("cnt").over(wv), F.lit(0).cast("long")).alias(
            "below"
        ),
    ).crossJoin(F.broadcast(tot))
    t2 = F.lit(2) * F.col("below") + F.col("cnt") + 1
    s2 = F.least(t2, F.lit(2) * (F.col("nn") + 1) - t2)  # = 2*score
    agg = sp.groupBy("nn", "n1").agg(
        F.sum(F.col("c1").cast(DEC) * s2.cast(DEC)).cast(DEC).alias(
            "ab2"
        ),
        F.sum(F.col("cnt").cast(DEC) * s2.cast(DEC)).cast(DEC).alias(
            "st2"
        ),
        F.sum(
            F.col("cnt").cast(DEC) * s2.cast(DEC) * s2.cast(DEC)
        ).cast(DEC).alias("sq4"),
    )
    nD = F.col("nn").cast("double")
    n1D = F.col("n1").cast("double")
    n2D = (F.col("nn") - F.col("n1")).cast("double")
    ab = F.col("ab2").cast("double") / 2.0
    sbar = F.col("st2").cast("double") / 2.0 / nD
    # centered sum of squares of scores: sum s^2 - N sbar^2
    ssq = F.col("sq4").cast("double") / 4.0 - nD * sbar * sbar
    var_ab = n1D * n2D * ssq / (nD * (nD - 1.0))
    return agg.where(
        (F.col("n1") >= 1)
        & (F.col("n1") < F.col("nn"))
        & (ssq > 0)
    ).select(
        F.col("nn").alias("n_rows"),
        F.col("n1").alias("n_group1"),
        round_half_up(ab, 6).alias("ab_stat"),
        round_half_up((ab - n1D * sbar) / F.sqrt(var_ab), 6).alias(
            "z"
        ),
    )


def kendalls_w(events: DataFrame) -> DataFrame:
    """Kendall's coefficient of concordance W across weekday "judges":
    each of the m = 7 weekdays ranks the k event types by its daily-
    average... by its TOTAL count (average ties), and W in [0, 1] says
    how much the weekdays AGREE on the popularity ordering —

        W = (12 S) / (m^2 (k^3 - k) - m sum_j T_j),
        S = sum_i (R_i - m(k+1)/2)^2,  T_j = sum_ties (t^3 - t)

    (1 = identical rankings every day; ~0 = the weekday changes what
    users do). ``dow_uniformity`` tests VOLUME by weekday; this tests
    the ORDERING's stability — the seasonality readout a mix monitor
    wants.

    Exactness: within-judge average ranks are exact integers doubled
    (2R form); S's numerator is computed in DECIMAL as sum over items
    of (2 m R_i_sum... every term exact; ONE float division at the
    end. Scale: a (dow, type) rollup, then k x m arithmetic."""
    cells = (
        events.groupBy(
            F.dayofweek("ts").alias("j"),
            F.col("event_type").alias("it"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    # zero-fill: every (judge, item) cell exists so ranks are complete
    judges = cells.select("j").distinct()
    items = cells.select("it").distinct()
    full = (
        judges.crossJoin(items)
        .join(cells, ["j", "it"], "left")
        .select(
            "j", "it",
            F.coalesce("c", F.lit(0).cast("long")).alias("c"),
        )
        .localCheckpoint(eager=False)
    )
    # per judge: 2*avgrank over count ties
    perv = full.groupBy("j", "c").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.collect_list("it").alias("its"),
    )
    wj = Window.partitionBy("j").orderBy("c").rowsBetween(
        Window.unboundedPreceding, -1
    )
    ranked = perv.withColumn(
        "below",
        F.coalesce(F.sum("cnt").over(wj), F.lit(0).cast("long")),
    ).select(
        "j",
        F.explode("its").alias("it"),
        (F.lit(2) * F.col("below") + F.col("cnt") + 1).alias("r2"),
    )
    dims = ranked.agg(
        F.countDistinct("j").cast("long").alias("m"),
        F.countDistinct("it").cast("long").alias("k"),
    )
    per_item = ranked.groupBy("it").agg(
        F.sum("r2").cast("long").alias("r2sum")
    )
    ties = perv.groupBy("j").agg(
        F.sum(
            (
                F.col("cnt").cast(DEC) * F.col("cnt").cast(DEC)
                - F.lit(1).cast(DEC)
            )
            * F.col("cnt").cast(DEC)
        ).cast(DEC).alias("tj")
    ).agg(F.sum("tj").cast(DEC).alias("tt"))
    # S in 4x scale: sum (r2sum - m(k+1))^2 = 4 S
    s4 = per_item.crossJoin(F.broadcast(dims)).agg(
        F.sum(
            (
                F.col("r2sum").cast(DEC)
                - (F.col("m") * (F.col("k") + 1)).cast(DEC)
            )
            * (
                F.col("r2sum").cast(DEC)
                - (F.col("m") * (F.col("k") + 1)).cast(DEC)
            )
        ).cast(DEC).alias("s4"),
        F.max("m").alias("m"),
        F.max("k").alias("k"),
    )
    mD = F.col("m").cast("double")
    kD = F.col("k").cast("double")
    num = F.lit(12.0) * (F.col("s4").cast("double") / 4.0)
    den = mD * mD * (kD * kD * kD - kD) - mD * F.col("tt").cast(
        "double"
    )
    return s4.crossJoin(F.broadcast(ties)).where(
        (F.col("k") >= 2) & (den > 0)
    ).select(
        F.col("m").alias("n_judges"),
        F.col("k").alias("n_items"),
        round_half_up(num / den, 6).alias("kendalls_w"),
    )


def cronbach_alpha(events: DataFrame) -> DataFrame:
    """Cronbach's alpha of the daily count matrix (items = event
    types, cases = calendar days, zero-filled): the internal-
    consistency read "do the event types move together day over day?"

        alpha = k/(k-1) * (1 - sum_i var_i / var_total)

    with var_total the variance of the daily TOTAL — near 1 when one
    latent driver (site traffic) moves every type, near 0 (or
    negative) when types are independent — the one-number sanity
    check before averaging per-type health metrics into a composite
    score.

    Exactness: all variances are exact centered BIGINT/DECIMAL
    moments over the shared calendar; alpha is one mirrored float
    expression. Scale: one (type, day) rollup; everything after is
    |types| x |days| bounded."""
    cells = (
        events.groupBy(
            F.col("event_type").alias("it"), F.to_date("ts").alias("d")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    days = cells.select("d").distinct()
    items = cells.select("it").distinct()
    full = (
        items.crossJoin(days)
        .join(cells, ["it", "d"], "left")
        .select(
            "it", "d",
            F.coalesce("c", F.lit(0).cast("long")).alias("c"),
        )
        .localCheckpoint(eager=False)
    )
    per_item = full.groupBy("it").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("c").cast("long").alias("s"),
        F.sum(F.col("c").cast(DEC) * F.col("c").cast(DEC))
        .cast(DEC)
        .alias("q"),
    )
    # item variance numerators n*q - s^2 (all share the same n = days)
    item_var = per_item.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.max("n").alias("n"),
        F.sum(
            F.col("n").cast(DEC) * F.col("q")
            - F.col("s").cast(DEC) * F.col("s").cast(DEC)
        ).cast(DEC).alias("vsum_num"),
    )
    daily_tot = full.groupBy("d").agg(
        F.sum("c").cast("long").alias("t")
    )
    tot_var = daily_tot.agg(
        F.count(F.lit(1)).cast("long").alias("n2"),
        (
            F.count(F.lit(1)).cast(DEC)
            * F.sum(F.col("t").cast(DEC) * F.col("t").cast(DEC)).cast(
                DEC
            )
            - F.sum("t").cast(DEC) * F.sum("t").cast(DEC)
        ).cast(DEC).alias("vtot_num"),
    )
    j = item_var.crossJoin(F.broadcast(tot_var))
    kD = F.col("k").cast("double")
    # the shared n(n-1) denominators cancel in the ratio
    alpha = (
        kD
        / (kD - 1.0)
        * (
            F.lit(1.0)
            - F.col("vsum_num").cast("double")
            / F.col("vtot_num").cast("double")
        )
    )
    return j.where(
        (F.col("k") >= 2)
        & (F.col("n") >= 2)
        & (F.col("vtot_num") > 0)
    ).select(
        F.col("k").alias("n_items"),
        F.col("n").alias("n_days"),
        round_half_up(alpha, 6).alias("cronbach_alpha"),
    )


def anova_effect_sizes(orders: DataFrame) -> DataFrame:
    """Effect sizes for the priority ANOVA: eta^2 = SSB/SST and the
    less-biased omega^2 = (SSB - (k-1) MSW) / (SST + MSW) — the
    MAGNITUDE companion to ``anova_oneway``'s F (at warehouse n the F
    is always "significant"; these say what fraction of totalprice
    variance priority actually explains, which is what decides
    whether priority belongs in a model).

    Exactness: the same exact BIGINT/DECIMAL group moments as
    anova_oneway (SSB/SSW from the S_g^2/n_g fold in group order);
    both ratios are single mirrored float expressions. Scale: one
    k-row rollup."""
    c = _cents("o_totalprice")
    g = orders.groupBy(F.col("o_orderpriority").alias("p")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(c).cast("long").alias("s"),
        F.sum(c.cast(DEC) * c.cast(DEC)).cast(DEC).alias("q"),
    )
    arr = g.groupBy().agg(
        F.array_sort(F.collect_list(F.struct("p", "n", "s"))).alias(
            "gs"
        ),
        F.sum("n").cast("long").alias("nn"),
        F.sum("s").cast("long").alias("ss"),
        F.sum("q").cast(DEC).alias("qq"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    between_raw = F.aggregate(
        F.col("gs"),
        F.lit(0.0),
        lambda a, t: a
        + (t["s"].cast(DEC) * t["s"].cast(DEC)).cast("double")
        / t["n"].cast("double"),
    )
    nD = F.col("nn").cast("double")
    kD = F.col("k").cast("double")
    grand = (
        F.col("ss").cast(DEC) * F.col("ss").cast(DEC)
    ).cast("double") / nD
    sst = F.col("qq").cast("double") - grand
    ssb = between_raw - grand
    ssw = F.col("qq").cast("double") - between_raw
    msw = ssw / (nD - kD)
    return arr.where(
        (F.col("k") >= 2) & (F.col("nn") > F.col("k")) & (sst > 0)
    ).select(
        F.col("k").alias("n_groups"),
        F.col("nn").alias("n_rows"),
        round_half_up(ssb / sst, 6).alias("eta_sq"),
        round_half_up(
            (ssb - (kD - 1.0) * msw) / (sst + msw), 6
        ).alias("omega_sq"),
    )


def _hypergeom_two_sided_p(df: DataFrame) -> DataFrame:
    """Row-wise two-sided Fisher p (the ``fisher_exact`` mode-
    normalized factorial-free folds) for a relation carrying exact
    BIGINT columns (n, r1, c1, k_obs) — one p per ROW, so a grouped
    battery (one 2x2 per nation) reuses the single-table machinery
    unchanged. Adds ``p_raw`` (full-precision double). Degenerate
    margins must be filtered by the caller."""
    k_min = F.greatest(
        F.lit(0).cast("long"), F.col("r1") + F.col("c1") - F.col("n")
    )
    k_max = F.least(F.col("r1"), F.col("c1"))
    k_mode = F.greatest(
        k_min,
        F.least(
            k_max,
            F.expr("(r1 + 1) * (c1 + 1) div (n + 2)").cast("long"),
        ),
    )
    b = df.withColumn("kmin", k_min).withColumn(
        "kmax", k_max
    ).withColumn("kmode", k_mode)

    def ratio(k):
        return (
            ((F.col("r1") - k) * (F.col("c1") - k)).cast("double")
            / (
                (k + 1)
                * (F.col("n") - F.col("r1") - F.col("c1") + k + 1)
            ).cast("double")
        )

    up_obs = F.aggregate(
        F.sequence(F.col("kmode"), F.col("k_obs") - 1),
        F.lit(1.0),
        lambda acc, k: acc * ratio(k),
    )
    down_obs = F.aggregate(
        F.sequence(F.col("kmode") - 1, F.col("k_obs"), F.lit(-1)),
        F.lit(1.0),
        lambda acc, k: acc / ratio(k),
    )
    b = b.withColumn(
        "rel_obs",
        F.when(F.col("k_obs") > F.col("kmode"), up_obs)
        .when(F.col("k_obs") < F.col("kmode"), down_obs)
        .otherwise(F.lit(1.0)),
    )
    thr = F.col("rel_obs") * (1.0 + 1e-7)
    init = F.struct(
        F.lit(1.0).alias("cur"),
        F.lit(1.0).alias("s_all"),
        F.when(F.lit(1.0) <= thr, F.lit(1.0))
        .otherwise(F.lit(0.0))
        .alias("s_le"),
    )
    init0 = F.struct(
        F.lit(1.0).alias("cur"),
        F.lit(0.0).alias("s_all"),
        F.lit(0.0).alias("s_le"),
    )

    def step(acc, nxt):
        return F.struct(
            nxt.alias("cur"),
            (acc["s_all"] + nxt).alias("s_all"),
            (
                acc["s_le"]
                + F.when(nxt <= thr, nxt).otherwise(F.lit(0.0))
            ).alias("s_le"),
        )

    up = F.aggregate(
        F.sequence(F.col("kmode"), F.col("kmax") - 1),
        init,
        lambda acc, k: step(acc, acc["cur"] * ratio(k)),
    )
    down = F.when(
        F.col("kmode") > F.col("kmin"),
        F.aggregate(
            F.sequence(F.col("kmode") - 1, F.col("kmin"), F.lit(-1)),
            init0,
            lambda acc, k: step(acc, acc["cur"] / ratio(k)),
        ),
    ).otherwise(init0)
    b = b.withColumn("u", up).withColumn("dn", down)
    return b.withColumn(
        "p_raw",
        (F.col("u")["s_le"] + F.col("dn")["s_le"])
        / (F.col("u")["s_all"] + F.col("dn")["s_all"]),
    ).drop("u", "dn", "kmin", "kmax", "kmode", "rel_obs")


def bh_fdr(
    t, min_orders: int = 10, bal_cut: float = 5000.0,
    q_level: float = 0.1,
) -> DataFrame:
    """Benjamini-Hochberg FDR correction over a BATTERY of exact
    tests: one Fisher 2x2 per NATION ((acctbal >= cut) x (>= min
    orders) among that nation's customers), then the step-up rule —
    reject the ``r`` smallest p-values where r is the largest rank
    with p_(r) <= r q / m. THE missing piece once an engine can run a
    test per slice: 25 slices at alpha 0.05 expect a false positive
    every few runs, and BH is the standard correction a metrics
    platform applies before alerting.

    Exactness: each per-nation p is the exact hypergeometric fold
    (``fisher_exact`` machinery, row-wise); the BH comparison
    p * m <= r * q runs on identically-computed doubles; ranks break
    ties by nation name. Scale: one customer rollup; everything after
    is |nations|-sized."""
    pc = (
        t["orders"]
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
    )
    j = (
        t["customer"]
        .join(pc, F.col("c_custkey") == F.col("o_custkey"), "left")
        .join(
            F.broadcast(t["nation"].select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(
            F.col("n_name").alias("nation"),
            (F.coalesce("n_orders", F.lit(0)) >= min_orders)
            .cast("int")
            .alias("y"),
            (F.col("c_acctbal") >= bal_cut).cast("int").alias("p"),
        )
    )
    cells = j.groupBy("nation").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("r1"),
        F.sum("p").cast("long").alias("c1"),
        F.sum(F.col("y") * F.col("p")).cast("long").alias("k_obs"),
    ).where(
        (F.col("r1") > 0)
        & (F.col("r1") < F.col("n"))
        & (F.col("c1") > 0)
        & (F.col("c1") < F.col("n"))
    )
    scored = _hypergeom_two_sided_p(cells).localCheckpoint(eager=False)
    m = scored.agg(F.count(F.lit(1)).cast("long").alias("m"))
    w = Window.orderBy(F.col("p_raw").asc(), F.col("nation").asc())
    ranked = scored.crossJoin(F.broadcast(m)).withColumn(
        "rank", F.row_number().over(w).cast("long")
    )
    ok = F.col("p_raw") * F.col("m").cast("double") <= F.col(
        "rank"
    ).cast("double") * F.lit(float(q_level))
    wall = Window.orderBy("rank").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    final = ranked.withColumn(
        "k_max",
        F.max(F.when(ok, F.col("rank"))).over(wall),
    )
    return final.select(
        "nation",
        "n",
        "k_obs",
        round_half_up(F.col("p_raw"), 6).alias("p_two_sided"),
        "rank",
        F.coalesce(
            F.col("rank") <= F.col("k_max"), F.lit(False)
        ).alias("rejected"),
    )


def page_trend_l(orders: DataFrame) -> DataFrame:
    """Page's L test for an ORDERED monthly trend: each year is a
    judge ranking the 12 calendar months by order count (average
    ties), and L = sum_j j * R_j is large when the months' ranks
    increase with the calendar — the ordered-alternative companion to
    ``kendalls_w`` (W says the years AGREE; L says they agree WITH A
    MONOTONE SEASONAL DIRECTION, which is what separates seasonality
    from noise):

        z = (L - m k (k+1)^2 / 4)
            / sqrt(m k^2 (k+1) (k^2 - 1) / 144)

    (tie-averaged ranks with the standard no-tie moments — the
    textbook normal approximation; ties are rare in count data at
    volume). Exactness: 2R per (year, month) is an exact integer on
    the per-year count spine; 2L is an exact BIGINT; z is one
    mirrored float. Scale: a (year, month) rollup, then m x 12
    arithmetic."""
    cells = (
        orders.groupBy(
            F.year("o_orderdate").alias("j"),
            F.month("o_orderdate").alias("it"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    years = cells.select("j").distinct()
    months = cells.sparkSession.range(1, 13).select(
        F.col("id").cast("int").alias("it")
    )
    full = (
        years.crossJoin(months)
        .join(cells, ["j", "it"], "left")
        .select(
            "j", "it",
            F.coalesce("c", F.lit(0).cast("long")).alias("c"),
        )
    )
    perv = full.groupBy("j", "c").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.collect_list("it").alias("its"),
    )
    wj = Window.partitionBy("j").orderBy("c").rowsBetween(
        Window.unboundedPreceding, -1
    )
    ranked = perv.withColumn(
        "below",
        F.coalesce(F.sum("cnt").over(wj), F.lit(0).cast("long")),
    ).select(
        "j",
        F.explode("its").alias("it"),
        (F.lit(2) * F.col("below") + F.col("cnt") + 1).alias("r2"),
    )
    agg = ranked.agg(
        F.countDistinct("j").cast("long").alias("m"),
        F.sum(F.col("it").cast(DEC) * F.col("r2").cast(DEC))
        .cast(DEC)
        .alias("l2"),
    )
    mD = F.col("m").cast("double")
    kD = F.lit(12.0)
    l_stat = F.col("l2").cast("double") / 2.0
    mean_l = mD * kD * (kD + 1.0) * (kD + 1.0) / 4.0
    var_l = mD * kD * kD * (kD + 1.0) * (kD * kD - 1.0) / 144.0
    return agg.where(F.col("m") >= 1).select(
        F.col("m").alias("n_years"),
        F.lit(12).cast("long").alias("n_months"),
        round_half_up(l_stat, 6).alias("l_stat"),
        round_half_up((l_stat - mean_l) / F.sqrt(var_l), 6).alias(
            "z"
        ),
    )


def cox_mantel_hr(events: DataFrame, group: str = "event_type") -> DataFrame:
    """Pike/Cox-Mantel hazard-ratio estimate between every pair of
    groups' churn survival — the EFFECT SIZE beside the family's
    tests (``logrank_churn`` and ``gehan_wilcoxon`` say WHETHER the
    curves differ; HR = (O1/E1) / (O2/E2) says HOW MANY TIMES faster
    group 1 loses users), with the log-rank expectations as the
    baseline:

        E1 = sum_t d_t n1_t / n_t,   HR = (O1 / E1) / (O2 / E2)

    Exactness: risk sets and deaths are exact BIGINTs on the shared
    day spine; E1/E2 fold in day order (single-accumulator, the
    logrank discipline); HR and ln HR are mirrored float expressions.
    Scale: identical to logrank_churn — |groups x days| after the
    user rollup."""
    from pyspark.sql.functions import broadcast

    d0 = events.where(F.col("ts").isNotNull()).select(
        group, "user_id", F.to_date("ts").alias("day")
    )
    ul = (
        d0.groupBy(group, "user_id")
        .agg(F.min("day").alias("f"), F.max("day").alias("l"))
        .localCheckpoint(eager=False)
    )
    bounds = ul.agg(F.min("f").alias("__mn"), F.max("l").alias("__mx"))
    ul2 = ul.join(broadcast(bounds))
    sparse = (
        ul2.select(
            group,
            F.explode(
                F.array(
                    F.struct(
                        F.col("f").alias("day"),
                        F.lit(1).alias("s"),
                        F.lit(0).alias("d"),
                    ),
                    F.struct(
                        F.col("l").alias("day"),
                        F.lit(0).alias("s"),
                        (F.col("l") < F.col("__mx")).cast("int").alias(
                            "d"
                        ),
                    ),
                )
            ).alias("x"),
        )
        .select(group, "x.day", "x.s", "x.d")
        .groupBy(group, "day")
        .agg(F.sum("s").alias("s"), F.sum("d").alias("d"))
    )
    cal = (
        sparse.select(group)
        .distinct()
        .join(broadcast(bounds))
        .select(
            group,
            F.explode(
                F.expr("sequence(__mn, __mx, interval 1 day)")
            ).alias("day"),
        )
    )
    z = F.lit(0).cast("long")
    full = cal.join(sparse, [group, "day"], "left").select(
        group,
        "day",
        F.coalesce("s", z).alias("s"),
        F.coalesce("d", z).alias("d"),
    )
    w = (
        Window.partitionBy(group)
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wprev = (
        Window.partitionBy(group)
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    nd = full.select(
        group,
        "day",
        "d",
        (
            F.sum("s").over(w) - F.coalesce(F.sum("d").over(wprev), z)
        ).alias("n"),
    ).localCheckpoint(eager=False)
    a = nd.select(
        F.col(group).alias("g1"),
        "day",
        F.col("n").alias("n1"),
        F.col("d").alias("d1"),
    )
    b = nd.select(
        F.col(group).alias("g2"),
        F.col("day").alias("day2"),
        F.col("n").alias("n2"),
        F.col("d").alias("d2"),
    )
    pairs = a.join(
        b, (F.col("day") == F.col("day2")) & (F.col("g1") < F.col("g2"))
    )
    n = F.col("n1") + F.col("n2")
    d = F.col("d1") + F.col("d2")
    terms = pairs.where((d > 0) & (n >= 2) & (F.col("n1") > 0) & (F.col("n2") > 0)).select(
        "g1",
        "g2",
        "day",
        "d1",
        "d2",
        (d.cast("double") * F.col("n1") / n).alias("e1_term"),
        (d.cast("double") * F.col("n2") / n).alias("e2_term"),
    )
    folded = terms.groupBy("g1", "g2").agg(
        F.sum("d1").cast("long").alias("o1"),
        F.sum("d2").cast("long").alias("o2"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("day", "e1_term"))),
            F.lit(0.0),
            lambda acc, x: acc + x["e1_term"],
        ).alias("e1"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("day", "e2_term"))),
            F.lit(0.0),
            lambda acc, x: acc + x["e2_term"],
        ).alias("e2"),
    )
    hr = (
        F.col("o1").cast("double") / F.col("e1")
    ) / (F.col("o2").cast("double") / F.col("e2"))
    return folded.where(
        (F.col("o1") > 0) & (F.col("o2") > 0) & (F.col("e1") > 0)
        & (F.col("e2") > 0)
    ).select(
        "g1",
        "g2",
        "o1",
        "o2",
        round_half_up(F.col("e1"), 6).alias("e1"),
        round_half_up(F.col("e2"), 6).alias("e2"),
        round_half_up(hr, 6).alias("hazard_ratio"),
        round_half_up(F.log(hr), 6).alias("ln_hr"),
    )


def brunner_munzel(
    orders: DataFrame, g1: str = "O", g2: str = "F"
) -> DataFrame:
    """Brunner-Munzel rank test between two order-status cohorts'
    totalprice — the two-sample location test of choice when the
    groups may have UNEQUAL variances and shapes (Mann-Whitney's
    permutation argument needs exchangeability; BM studentizes the
    placement estimate, the rank-world Welch):

        p_hat = (Rbar2 - (n2+1)/2) / n1     (P(X1 < X2) + tie half),
        W = n1 n2 (Rbar2 - Rbar1)
            / ((n1 + n2) sqrt(n1 S1^2 + n2 S2^2))

    with S_i^2 the sample variance of (combined rank - within-group
    rank) in group i. Exactness: both rank systems live on the price
    value spine as exact integers (2*avgrank = 2*below + cnt + 1);
    all moments are BIGINT/DECIMAL in doubled units (the factor-4
    denominators are explicit); W and p_hat are single mirrored float
    expressions. Scale: price-lattice-bounded spine, 2-row arithmetic
    after."""
    c = _cents("o_totalprice")
    d = orders.where(F.col("o_orderstatus").isin([g1, g2])).select(
        (F.col("o_orderstatus") == g1).cast("int").alias("in1"),
        c.alias("v"),
    )
    gv = d.groupBy("v").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum("in1").cast("long").alias("c1"),
    ).localCheckpoint(eager=False)
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    sp = gv.select(
        "v",
        "cnt",
        "c1",
        (F.col("cnt") - F.col("c1")).alias("c2"),
        F.coalesce(F.sum("cnt").over(wv), F.lit(0).cast("long")).alias(
            "below"
        ),
        F.coalesce(F.sum("c1").over(wv), F.lit(0).cast("long")).alias(
            "below1"
        ),
        F.coalesce(
            F.sum(F.col("cnt") - F.col("c1")).over(wv),
            F.lit(0).cast("long"),
        ).alias("below2"),
    )
    # doubled ranks: combined 2R(v) and within-group 2H_g(v)
    r2 = F.lit(2) * F.col("below") + F.col("cnt") + 1
    h1 = F.lit(2) * F.col("below1") + F.col("c1") + 1
    h2 = F.lit(2) * F.col("below2") + F.col("c2") + 1
    x1 = (r2 - h1).cast(DEC)  # 2 * (R - H) for group-1 members at v
    x2 = (r2 - h2).cast(DEC)
    agg = sp.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
        F.sum(F.col("c1").cast(DEC) * r2.cast(DEC)).cast(DEC).alias(
            "sr1"
        ),
        F.sum(F.col("c2").cast(DEC) * r2.cast(DEC)).cast(DEC).alias(
            "sr2"
        ),
        F.sum(F.col("c1").cast(DEC) * x1).cast(DEC).alias("sx1"),
        F.sum(F.col("c2").cast(DEC) * x2).cast(DEC).alias("sx2"),
        F.sum(F.col("c1").cast(DEC) * x1 * x1).cast(DEC).alias("q1"),
        F.sum(F.col("c2").cast(DEC) * x2 * x2).cast(DEC).alias("q2"),
    )
    n1D = F.col("n1").cast("double")
    n2D = F.col("n2").cast("double")
    # sample variance of (R - H) per group from the doubled moments:
    # S^2 = (n sum X^2 - (sum X)^2) / (4 n (n-1)),  X = 2(R - H)
    s1sq = (
        F.col("n1").cast(DEC) * F.col("q1")
        - F.col("sx1") * F.col("sx1")
    ).cast("double") / (4.0 * n1D * (n1D - 1.0))
    s2sq = (
        F.col("n2").cast(DEC) * F.col("q2")
        - F.col("sx2") * F.col("sx2")
    ).cast("double") / (4.0 * n2D * (n2D - 1.0))
    rbar1 = F.col("sr1").cast("double") / (2.0 * n1D)
    rbar2 = F.col("sr2").cast("double") / (2.0 * n2D)
    p_hat = (rbar2 - (n2D + 1.0) / 2.0) / n1D
    denom = F.sqrt(n1D * s1sq + n2D * s2sq)
    w = (
        n1D * n2D * (rbar2 - rbar1) / ((n1D + n2D) * denom)
    )
    return agg.where(
        (F.col("n1") >= 2) & (F.col("n2") >= 2)
        & (n1D * s1sq + n2D * s2sq > 0)
    ).select(
        "n1",
        "n2",
        round_half_up(p_hat, 6).alias("p_hat"),
        round_half_up(w, 6).alias("w_stat"),
    )


def gesd_outliers(orders: DataFrame, k: int = 5) -> DataFrame:
    """Generalized ESD (Rosner) outlier sequence on the daily
    order-count series: ``k`` rounds of "remove the most extreme day,
    recompute mean/sd" — the MULTI-outlier escalation of
    ``grubbs_outlier`` (one masked outlier deflates Grubbs; GESD keeps
    peeling, and round i's statistic is compared to its own critical
    value downstream):

        R_i = max_t |y_t - mean_i| / sd_i    over the surviving days

    Exactness: the argmax each round compares |n*y - S| (exact BIGINT
    centered numerators — same denominator within a round, so the
    ordering is engine-exact; ties break on the earlier day); only the
    REPORTED R_i is a float. Scale: the surviving relation is
    calendar-sized; ``k`` fixed rounds of one aggregate + one
    anti-join each, localCheckpointed per round (the iterative-loop
    replay rule)."""
    cur = (
        orders.groupBy(F.date_trunc("day", "o_orderdate").alias("d"))
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
        .localCheckpoint(eager=False)
    )
    outs = []
    for i in range(1, int(k) + 1):
        m = cur.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("y").cast("long").alias("s"),
            F.sum(F.col("y").cast(DEC) * F.col("y").cast(DEC))
            .cast(DEC)
            .alias("q"),
        )
        scored = cur.crossJoin(F.broadcast(m)).select(
            "d",
            "y",
            "n",
            "s",
            "q",
            F.abs(
                F.col("n").cast(DEC) * F.col("y").cast(DEC)
                - F.col("s").cast(DEC)
            ).cast(DEC).alias("dev"),
        )
        sel = (
            scored.orderBy(F.col("dev").desc(), F.col("d").asc())
            .limit(1)
            .localCheckpoint(eager=False)
        )
        var_num = (
            F.col("n").cast(DEC) * F.col("q")
            - F.col("s").cast(DEC) * F.col("s").cast(DEC)
        ).cast("double")
        sd = F.sqrt(
            var_num
            / (F.col("n").cast("double") * (F.col("n") - 1).cast("double"))
        )
        outs.append(
            sel.where((F.col("n") >= 3) & (var_num > 0)).select(
                F.lit(i).cast("long").alias("round"),
                F.date_format("d", "yyyy-MM-dd").alias("day"),
                F.col("y").alias("cnt"),
                round_half_up(
                    F.col("dev").cast("double")
                    / (F.col("n").cast("double") * sd),
                    6,
                ).alias("r_stat"),
            )
        )
        cur = cur.join(
            sel.select(F.col("d").alias("__rm")),
            F.col("d") == F.col("__rm"),
            "left_anti",
        ).localCheckpoint(eager=False)
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


def pacf_daily(orders: DataFrame, max_lag: int = 5) -> DataFrame:
    """ACF and PACF of the daily order-count series to lag 5 — the
    Box-Jenkins identification pair (``acf_daily`` reads raw
    autocorrelation; the PACF via Durbin-Levinson says which AR order
    actually carries it: an AR(1) shows acf decaying but pacf cutting
    off after lag 1 — the model-order read a forecaster makes before
    trusting ``holt_forecast``/``theta_forecast``).

    Exactness: each r_k is one division of exact BIGINT/DECIMAL
    centered cross-moments (numerators in n-scaled units: sum over
    t > k of (n y_t - S)(n y_{t-k} - S), denominator sum over ALL t of
    (n y_t - S)^2); the Durbin-Levinson recursion is UNROLLED to five
    levels of plain double arithmetic, identical expression order both
    engines. Scale: one daily rollup; five lag windows over the
    calendar spine."""
    daily = (
        orders.groupBy(F.date_trunc("day", "o_orderdate").alias("d"))
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
        .localCheckpoint(eager=False)
    )
    m = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("s"),
    )
    w = Window.orderBy("d")
    lagged = daily.select(
        "d",
        "y",
        *[
            F.lag("y", i).over(w).alias(f"l{i}")
            for i in range(1, int(max_lag) + 1)
        ],
    ).crossJoin(F.broadcast(m))
    yc = F.col("n").cast(DEC) * F.col("y").cast(DEC) - F.col("s").cast(
        DEC
    )
    sums = lagged.agg(
        F.max("n").alias("n"),
        F.sum(yc * yc).cast(DEC).alias("g0"),
        *[
            F.sum(
                F.when(
                    F.col(f"l{i}").isNotNull(),
                    yc
                    * (
                        F.col("n").cast(DEC) * F.col(f"l{i}").cast(DEC)
                        - F.col("s").cast(DEC)
                    ),
                )
            ).cast(DEC).alias(f"g{i}")
            for i in range(1, int(max_lag) + 1)
        ],
    )
    r = sums
    for i in range(1, int(max_lag) + 1):
        r = r.withColumn(
            f"r{i}",
            F.col(f"g{i}").cast("double") / F.col("g0").cast("double"),
        )
    # Durbin-Levinson, unrolled (phi_kj columns in plain doubles)
    r = r.withColumn("p11", F.col("r1"))
    r = r.withColumn("v1", F.lit(1.0) - F.col("p11") * F.col("r1"))
    r = r.withColumn(
        "p22",
        (F.col("r2") - F.col("p11") * F.col("r1")) / F.col("v1"),
    )
    r = r.withColumn(
        "p21", F.col("p11") - F.col("p22") * F.col("p11")
    )
    r = r.withColumn(
        "v2",
        F.col("v1") * (F.lit(1.0) - F.col("p22") * F.col("p22")),
    )
    r = r.withColumn(
        "p33",
        (
            F.col("r3")
            - F.col("p21") * F.col("r2")
            - F.col("p22") * F.col("r1")
        )
        / F.col("v2"),
    )
    r = r.withColumn(
        "p31", F.col("p21") - F.col("p33") * F.col("p22")
    ).withColumn("p32", F.col("p22") - F.col("p33") * F.col("p21"))
    r = r.withColumn(
        "v3",
        F.col("v2") * (F.lit(1.0) - F.col("p33") * F.col("p33")),
    )
    r = r.withColumn(
        "p44",
        (
            F.col("r4")
            - F.col("p31") * F.col("r3")
            - F.col("p32") * F.col("r2")
            - F.col("p33") * F.col("r1")
        )
        / F.col("v3"),
    )
    r = (
        r.withColumn("p41", F.col("p31") - F.col("p44") * F.col("p33"))
        .withColumn("p42", F.col("p32") - F.col("p44") * F.col("p32"))
        .withColumn("p43", F.col("p33") - F.col("p44") * F.col("p31"))
    )
    r = r.withColumn(
        "v4",
        F.col("v3") * (F.lit(1.0) - F.col("p44") * F.col("p44")),
    )
    r = r.withColumn(
        "p55",
        (
            F.col("r5")
            - F.col("p41") * F.col("r4")
            - F.col("p42") * F.col("r3")
            - F.col("p43") * F.col("r2")
            - F.col("p44") * F.col("r1")
        )
        / F.col("v4"),
    )
    return r.where(
        (F.col("n") > 10)
        & (F.col("g0") > 0)
        & (F.col("v1") > 0)
        & (F.col("v2") > 0)
        & (F.col("v3") > 0)
        & (F.col("v4") > 0)
    ).select(
        F.col("n").alias("n_days"),
        *[
            round_half_up(F.col(f"r{i}"), 6).alias(f"acf_{i}")
            for i in range(1, int(max_lag) + 1)
        ],
        round_half_up(F.col("p11"), 6).alias("pacf_1"),
        round_half_up(F.col("p22"), 6).alias("pacf_2"),
        round_half_up(F.col("p33"), 6).alias("pacf_3"),
        round_half_up(F.col("p44"), 6).alias("pacf_4"),
        round_half_up(F.col("p55"), 6).alias("pacf_5"),
    )


TWO_PI = 6.283185307179586
HALF_PI = 1.5707963267948966


def periodogram_peaks(
    orders: DataFrame, periods: tuple = (7, 30)
) -> DataFrame:
    """Goertzel-style periodogram power at the WEEKLY and MONTHLY
    periods of the daily order-count series: C_p = sum Y_t cos(2 pi
    t/p), S_p = sum Y_t sin(2 pi t/p) over the demeaned series — the
    frequency-domain seasonality read (``dow_uniformity`` tests the
    weekday MARGINS; this measures how much of the series' energy sits
    AT the weekly/monthly line, detecting phase-locked cycles the
    margin test dilutes). strength = sqrt(C^2 + S^2) / sqrt(sum Y^2)
    in [0, ~1].

    Exactness: Y_t = n y_t - S is an exact BIGINT; each cos/sin term
    is MILLI-QUANTIZED (floor(term * 1e3 + 0.5)) so the sums are
    order-free BIGINTs (the mutual_information discipline — the
    quantization IS the operator's defined semantics); cosine is
    expressed as sin(x + pi/2) with shared literals, staying on the
    engine-proven sin path (the sine-codec precedent). Scale: one
    daily rollup; one pass per period over the calendar spine."""
    daily = (
        orders.groupBy(F.date_trunc("day", "o_orderdate").alias("d"))
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
        .localCheckpoint(eager=False)
    )
    m = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("s"),
    )
    idx = daily.withColumn(
        "t", (F.row_number().over(Window.orderBy("d")) - 1).cast("long")
    ).crossJoin(F.broadcast(m))
    yc = (
        F.col("n").cast(DEC) * F.col("y").cast(DEC)
        - F.col("s").cast(DEC)
    ).cast("double")
    outs = []
    for p in periods:
        ang = F.lit(TWO_PI) * F.col("t").cast("double") / F.lit(
            float(p)
        )
        cterm = yc * F.sin(ang + F.lit(HALF_PI))
        sterm = yc * F.sin(ang)
        per = idx.agg(
            F.max("n").alias("n"),
            F.sum(F.floor(cterm * 1e3 + F.lit(0.5)).cast(DEC))
            .cast(DEC)
            .alias("cm"),
            F.sum(F.floor(sterm * 1e3 + F.lit(0.5)).cast(DEC))
            .cast(DEC)
            .alias("sm"),
            F.sum(
                (
                    F.col("n").cast(DEC) * F.col("y").cast(DEC)
                    - F.col("s").cast(DEC)
                )
                * (
                    F.col("n").cast(DEC) * F.col("y").cast(DEC)
                    - F.col("s").cast(DEC)
                )
            ).cast(DEC).alias("ssq"),
        )
        strength = F.sqrt(
            F.col("cm").cast("double") * F.col("cm").cast("double")
            + F.col("sm").cast("double") * F.col("sm").cast("double")
        ) / (F.lit(1e3) * F.sqrt(F.col("ssq").cast("double")))
        outs.append(
            per.where((F.col("n") >= 2 * int(p)) & (F.col("ssq") > 0))
            .select(
                F.lit(int(p)).cast("long").alias("period"),
                F.col("n").alias("n_days"),
                F.col("cm").cast("double").alias("c_milli"),
                F.col("sm").cast("double").alias("s_milli"),
                round_half_up(strength, 6).alias("strength"),
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


def jarque_bera(orders: DataFrame) -> DataFrame:
    """Jarque-Bera normality test of the order-price distribution:

        g1 = m3 / m2^1.5,  g2 = m4 / m2^2 - 3,
        JB = n/6 * (g1^2 + g2^2 / 4)

    — the sanity gate before any z-score/sigma-rule downstream (half
    the family above assumes rough normality; JB measures how wrong
    that is, splitting the blame between skew and tail weight).

    Exactness: prices quantize to WHOLE currency units; the central
    power sums T_k = sum (x - c)^k are exact BIGINT/DECIMAL about an
    integer reference c = round(mean) (T4 <= 3e22 per row-group of
    deviations ~4e5 — DECIMAL(38,0)/HUGEINT headroom to ~1e15 rows,
    unlike n-scaled A_k = n^k m_k forms which blow 10^38 at sf0.1),
    then the binomial shift to the true mean runs in mirrored floats
    of exact integers:

        m2 = (T2 - e^2/n) / n
        m3 = (T3 - 3 e T2 / n + 2 e^3 / n^2) / n
        m4 = (T4 - 4 e T3 / n + 6 e^2 T2 / n^2 - 3 e^4 / n^3) / n

    with e = S1 - n c (|e| <= n/2). Scale: two aggregates over the
    scan (mean reference, then central sums). Reference: reference
    has no statistics surface (SURVEY.md 2.6)."""
    x = F.round(F.col("o_totalprice")).cast("long")
    d = orders.select(x.alias("x")).localCheckpoint(eager=False)
    m1 = d.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("x").cast(DEC)).cast("long").alias("s1"),
    ).select(
        "n",
        "s1",
        # c = floor(S1/n + 1/2) in pure integer arithmetic
        F.expr("(2 * s1 + n) div (2 * n)").cast("long").alias("c"),
    )
    u = (F.col("x") - F.col("c")).cast(DEC)
    t = d.crossJoin(F.broadcast(m1)).agg(
        F.max("n").alias("n"),
        F.max("c").alias("c"),
        (F.max("s1") - F.max("n").cast(DEC) * F.max("c").cast(DEC))
        .cast("long")
        .alias("e"),
        F.sum(u * u).cast(DEC).alias("t2"),
        F.sum(u * u * u).cast(DEC).alias("t3"),
        F.sum(u * u * u * u).cast(DEC).alias("t4"),
    )
    nD = F.col("n").cast("double")
    eD = F.col("e").cast("double")
    t2D = F.col("t2").cast("double")
    t3D = F.col("t3").cast("double")
    t4D = F.col("t4").cast("double")
    m2 = (t2D - eD * eD / nD) / nD
    m3 = (t3D - 3.0 * eD * t2D / nD + 2.0 * eD * eD * eD / (nD * nD)) / nD
    m4 = (
        t4D
        - 4.0 * eD * t3D / nD
        + 6.0 * eD * eD * t2D / (nD * nD)
        - 3.0 * eD * eD * eD * eD / (nD * nD * nD)
    ) / nD
    g1 = m3 / (m2 * F.sqrt(m2))
    g2 = m4 / (m2 * m2) - F.lit(3.0)
    jb = nD / 6.0 * (g1 * g1 + g2 * g2 / 4.0)
    return t.where((F.col("n") >= 4) & (F.col("t2") > 0)).select(
        "n",
        round_half_up(g1, 6).alias("skewness"),
        round_half_up(g2, 6).alias("ex_kurtosis"),
        round_half_up(jb, 6).alias("jb_stat"),
    )


def turning_point_test(orders: DataFrame) -> DataFrame:
    """Turning-point randomness test on the daily order-count series:
    T = #{t : y_{t-1} < y_t > y_{t+1} or y_{t-1} > y_t < y_{t+1}}
    (STRICT peaks/troughs — flat ties are not turning points, the
    convention stated here as part of the semantics), against the iid
    moments E[T] = 2(n-2)/3 and Var[T] = (16n - 29)/90:

        z = (T - E) / sqrt(Var)

    — the cheapest "is this series just noise" screen (a trending or
    seasonal series turns far less often than iid noise).

    Exactness: T is an integer over the day spine via lag/lead; z is
    one mirrored float. Scale: one daily rollup + one calendar-sized
    window pass."""
    daily = orders.groupBy(
        F.date_trunc("day", "o_orderdate").alias("d")
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    w = Window.orderBy("d")
    t = daily.select(
        "y",
        F.lag("y", 1).over(w).alias("p"),
        F.lead("y", 1).over(w).alias("q"),
    )
    turn = (
        (F.col("p").isNotNull())
        & (F.col("q").isNotNull())
        & (
            ((F.col("p") < F.col("y")) & (F.col("y") > F.col("q")))
            | ((F.col("p") > F.col("y")) & (F.col("y") < F.col("q")))
        )
    )
    agg = t.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(turn.cast("long")).cast("long").alias("t_obs"),
    )
    nD = F.col("n").cast("double")
    mean_t = 2.0 * (nD - 2.0) / 3.0
    var_t = (16.0 * nD - 29.0) / 90.0
    return agg.where(F.col("n") >= 4).select(
        F.col("n").alias("n_days"),
        "t_obs",
        round_half_up(mean_t, 6).alias("expected"),
        round_half_up(
            (F.col("t_obs").cast("double") - mean_t) / F.sqrt(var_t), 6
        ).alias("z"),
    )


def bartels_rank(orders: DataFrame) -> DataFrame:
    """Bartels' rank von Neumann ratio test for serial dependence in
    the daily order-count series — the rank-based (distribution-free)
    cousin of ``durbin_watson``:

        RVN = sum_t (R_t - R_{t+1})^2 / sum_t (R_t - Rbar)^2
        z   = (RVN - 2) / sqrt(4 (n-2) (5n^2 - 2n - 9)
                                / (5 n (n+1) (n-1)^2))

    with average ranks on ties. Exactness: 2R_t is an exact integer on
    the count VALUE spine (2*avgrank = 2*below + cnt + 1, the shared
    rank discipline) and 2*Rbar = n + 1 exactly even under ties, so
    both sums are exact BIGINTs (numerator and denominator each carry
    the same factor 4, which cancels); z is one mirrored float.
    Scale: one daily rollup; ranks via one value-spine join."""
    daily = (
        orders.groupBy(F.date_trunc("day", "o_orderdate").alias("d"))
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
        .localCheckpoint(eager=False)
    )
    spine = daily.groupBy("y").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    wv = Window.orderBy("y").rowsBetween(Window.unboundedPreceding, -1)
    r2m = spine.select(
        "y",
        (
            F.lit(2) * F.coalesce(F.sum("cnt").over(wv), F.lit(0))
            + F.col("cnt")
            + 1
        ).cast("long").alias("r2"),
    )
    cnt = daily.agg(F.count(F.lit(1)).cast("long").alias("n"))
    w = Window.orderBy("d")
    seq = (
        daily.join(F.broadcast(r2m), "y")
        .select("d", "r2")
        .withColumn("r2n", F.lead("r2", 1).over(w))
        .crossJoin(F.broadcast(cnt))
    )
    agg = seq.agg(
        F.max("n").alias("n"),
        F.sum(
            F.when(
                F.col("r2n").isNotNull(),
                (F.col("r2") - F.col("r2n"))
                * (F.col("r2") - F.col("r2n")),
            )
        ).cast("long").alias("num4"),
        F.sum(
            (F.col("r2") - (F.col("n") + 1))
            * (F.col("r2") - (F.col("n") + 1))
        ).cast("long").alias("den4"),
    )
    nD = F.col("n").cast("double")
    rvn = F.col("num4").cast("double") / F.col("den4").cast("double")
    var = (
        4.0
        * (nD - 2.0)
        * (5.0 * nD * nD - 2.0 * nD - 9.0)
        / (5.0 * nD * (nD + 1.0) * (nD - 1.0) * (nD - 1.0))
    )
    return agg.where((F.col("n") >= 10) & (F.col("den4") > 0)).select(
        F.col("n").alias("n_days"),
        round_half_up(rvn, 6).alias("rvn"),
        round_half_up((rvn - 2.0) / F.sqrt(var), 6).alias("z"),
    )


def cusum_squares(orders: DataFrame) -> DataFrame:
    """CUSUM-of-squares variance-changepoint scan (Brown-Durbin-Evans
    shape) on the centered daily order-count series: with
    z_t = n y_t - S (exact centered BIGINT) and c_t the running sum of
    z_t^2,

        stat = max_t | c_t / C  -  t / n |

    (C = total sum of squares) — where the cumulative VARIANCE share
    runs ahead of or behind the cumulative TIME share, the classic
    "did the volatility regime change, and when" read
    (``pettitt_changepoint`` locates a LEVEL shift; this locates a
    VARIANCE shift).

    Exactness: the deviation is compared as the exact integer
    | n c_t - t C | (cross-multiplied; one float division only for
    the reported stat), argmax ties break on the earlier day. Scale:
    one daily rollup + one calendar-sized prefix window."""
    daily = (
        orders.groupBy(F.date_trunc("day", "o_orderdate").alias("d"))
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
        .localCheckpoint(eager=False)
    )
    m = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("s"),
    )
    z = (
        F.col("n").cast(DEC) * F.col("y").cast(DEC)
        - F.col("s").cast(DEC)
    )
    w = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sq = daily.crossJoin(F.broadcast(m)).select(
        "d",
        "n",
        (z * z).cast(DEC).alias("z2"),
        F.row_number().over(Window.orderBy("d")).cast("long").alias("t"),
    )
    run = sq.select(
        "d",
        "n",
        "t",
        F.sum("z2").over(w).cast(DEC).alias("ct"),
    ).localCheckpoint(eager=False)  # 2 consumers (total + scan)
    tot = run.agg(F.max("ct").cast(DEC).alias("c_tot"))
    dev = run.crossJoin(F.broadcast(tot)).select(
        "d",
        "n",
        "t",
        F.abs(
            F.col("n").cast(DEC) * F.col("ct")
            - F.col("t").cast(DEC) * F.col("c_tot")
        ).cast(DEC).alias("dev_num"),
        (F.col("n").cast(DEC) * F.col("c_tot")).cast(DEC).alias("den"),
    )
    best = (
        dev.orderBy(F.col("dev_num").desc(), F.col("d").asc())
        .limit(1)
    )
    return best.where(F.col("den") > 0).select(
        F.col("n").alias("n_days"),
        F.date_format("d", "yyyy-MM-dd").alias("peak_day"),
        round_half_up(
            F.col("dev_num").cast("double") / F.col("den").cast("double"),
            6,
        ).alias("stat"),
    )


def foster_stuart(orders: DataFrame) -> DataFrame:
    """Foster-Stuart records test for trend on the daily order-count
    series: u_t = 1 iff y_t strictly exceeds every earlier day (upper
    record), l_t = 1 iff strictly below every earlier day;
    S = sum (u_t - l_t) over t >= 2, with iid variance
    Var[S] = sum_{t=2..n} 2/t:

        z = S / sqrt(Var)

    — a trend read from RECORD events only (robust to any monotone
    transform of the counts; a trending series keeps setting records,
    a stationary one stops at O(log n) of them).

    Exactness: records are strict integer comparisons against prefix
    max/min; each 2/t variance term is NANO-QUANTIZED
    (floor(2e9/t + 0.5)) so the sum is an order-free BIGINT — the
    quantization IS the stated semantics (mutual_information
    discipline). Scale: one daily rollup + one prefix window."""
    daily = orders.groupBy(
        F.date_trunc("day", "o_orderdate").alias("d")
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    wp = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, -1)
    rec = daily.select(
        "d",
        "y",
        F.max("y").over(wp).alias("pmax"),
        F.min("y").over(wp).alias("pmin"),
        F.row_number().over(Window.orderBy("d")).cast("long").alias("t"),
    )
    agg = rec.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(
            F.when(F.col("pmax").isNotNull() & (F.col("y") > F.col("pmax")), 1)
            .when(F.col("pmax").isNotNull() & (F.col("y") < F.col("pmin")), -1)
            .otherwise(0)
        ).cast("long").alias("s_stat"),
        F.sum(
            F.when(
                F.col("t") >= 2,
                F.floor(
                    F.lit(2e9) / F.col("t").cast("double") + F.lit(0.5)
                ),
            ).otherwise(F.lit(0))
        ).cast("long").alias("var_nano"),
    )
    return agg.where((F.col("n") >= 4) & (F.col("var_nano") > 0)).select(
        F.col("n").alias("n_days"),
        "s_stat",
        round_half_up(
            F.col("s_stat").cast("double")
            / F.sqrt(F.col("var_nano").cast("double") / 1e9),
            6,
        ).alias("z"),
    )


def dixon_q(orders: DataFrame) -> DataFrame:
    """Dixon's Q ratios for the daily order-count extremes:

        q_high = (y_(n) - y_(n-1)) / (y_(n) - y_(1))
        q_low  = (y_(2) - y_(1)) / (y_(n) - y_(1))

    — the gap-to-range screen for "is the most extreme day an
    outlier or just the tail" (``grubbs_outlier``/``gesd_outliers``
    answer in sigma units and need moments; Dixon's Q needs only four
    order statistics, the classic small-sample lab test, here read
    descriptively over the calendar).

    Exactness: the four order statistics are exact integers off the
    count value spine; each q is one mirrored division; the reported
    extreme days tie-break earliest. Scale: one daily rollup + one
    4-row bounded aggregate."""
    daily = (
        orders.groupBy(F.date_trunc("day", "o_orderdate").alias("d"))
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
        .localCheckpoint(eager=False)
    )
    os_ = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.max("y").cast("long").alias("y_n"),
        F.min("y").cast("long").alias("y_1"),
    )
    # multiset 2nd-highest / 2nd-lowest off the value spine: when the
    # extreme VALUE is duplicated across days, the neighbor order
    # statistic equals it and the gap is 0
    spine = daily.groupBy("y").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    hi2 = (
        spine.orderBy(F.col("y").desc())
        .limit(2)
        .agg(
            F.max(F.col("y")).cast("long").alias("h1"),
            F.max_by(F.col("c"), F.col("y")).cast("long").alias("c_h1"),
            F.min(F.col("y")).cast("long").alias("h2"),
        )
    )
    lo2 = (
        spine.orderBy(F.col("y").asc())
        .limit(2)
        .agg(
            F.min(F.col("y")).cast("long").alias("l1"),
            F.min_by(F.col("c"), F.col("y")).cast("long").alias("c_l1"),
            F.max(F.col("y")).cast("long").alias("l2"),
        )
    )
    dmax = (
        daily.orderBy(F.col("y").desc(), F.col("d").asc())
        .limit(1)
        .select(F.date_format("d", "yyyy-MM-dd").alias("day_max"))
    )
    dmin = (
        daily.orderBy(F.col("y").asc(), F.col("d").asc())
        .limit(1)
        .select(F.date_format("d", "yyyy-MM-dd").alias("day_min"))
    )
    j = (
        os_.crossJoin(F.broadcast(hi2))
        .crossJoin(F.broadcast(lo2))
        .crossJoin(F.broadcast(dmax))
        .crossJoin(F.broadcast(dmin))
    )
    rng = (F.col("y_n") - F.col("y_1")).cast("double")
    gap_hi = F.when(
        F.col("c_h1") > 1, F.lit(0).cast("long")
    ).otherwise(F.col("y_n") - F.col("h2"))
    gap_lo = F.when(
        F.col("c_l1") > 1, F.lit(0).cast("long")
    ).otherwise(F.col("l2") - F.col("y_1"))
    return j.where((F.col("n") >= 4) & (rng > 0)).select(
        F.col("n").alias("n_days"),
        F.col("y_1").alias("y_min"),
        F.col("y_n").alias("y_max"),
        "day_min",
        "day_max",
        round_half_up(gap_hi.cast("double") / rng, 6).alias("q_high"),
        round_half_up(gap_lo.cast("double") / rng, 6).alias("q_low"),
    )


def lttb_downsample(orders: DataFrame, n_out: int = 40) -> DataFrame:
    """Largest-Triangle-Three-Buckets downsample of the daily-revenue
    series (Steinarsson 2013), the FIXED-ANCHOR parallel variant: the
    first and last days are their own buckets; the middle days split
    into ``n_out - 2`` contiguous buckets; each bucket keeps the day
    maximizing the triangle area against the AVERAGE points of the
    two neighboring buckets (classic LTTB anchors on the previously
    SELECTED point — an inherently sequential chain; anchoring on the
    neighbor averages is the standard parallelization and is stated
    here as the semantics). The visually-faithful companion to
    ``ts_downsample_minmax``: min/max preserves extremes, LTTB
    preserves SHAPE (trend reversals, spike geometry).

    Exactness: with prev-bucket sums (sxp, syp, cp) and next-bucket
    sums (sxn, syn, cn), the triangle area scaled by 2 cp^2 cn is the
    exact integer cross product

        (sxp cn - sxn cp)(y cp - syp) - (sxp - x cp)(syn cp - syp cn)

    (positive scaling preserves the per-bucket argmax; ties break on
    the earlier day). Bucket ids are pure integer division. Scale:
    one daily rollup, one n_out-row broadcast join, one
    calendar-sized bucket-partitioned window; output <= n_out rows at
    any SF."""
    daily = (
        orders.groupBy(F.date_trunc("day", "o_orderdate").alias("d"))
        .agg(F.sum(_cents("o_totalprice")).cast("long").alias("y"))
    )
    idx = daily.withColumn(
        "t",
        (F.row_number().over(Window.orderBy("d")) - 1).cast("long"),
    ).localCheckpoint(eager=False)
    cnt = idx.agg(F.count(F.lit(1)).cast("long").alias("nd"))
    k = int(n_out)
    b = idx.crossJoin(F.broadcast(cnt)).withColumn(
        "bucket",
        F.when(F.col("t") == 0, F.lit(0))
        .when(F.col("t") == F.col("nd") - 1, F.lit(k - 1))
        .otherwise(
            F.lit(1)
            + F.expr(f"((t - 1) * {k - 2}) div (nd - 2)").cast("int")
        )
        .cast("int"),
    ).localCheckpoint(eager=False)
    aggs = b.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("c"),
        F.sum("t").cast("long").alias("sx"),
        F.sum(F.col("y").cast(DEC)).cast(DEC).alias("sy"),
    ).localCheckpoint(eager=False)
    prev = aggs.select(
        (F.col("bucket") + 1).alias("bucket"),
        F.col("c").alias("cp"),
        F.col("sx").alias("sxp"),
        F.col("sy").alias("syp"),
    )
    nxt = aggs.select(
        (F.col("bucket") - 1).alias("bucket"),
        F.col("c").alias("cn"),
        F.col("sx").alias("sxn"),
        F.col("sy").alias("syn"),
    )
    j = b.join(F.broadcast(prev), "bucket", "left").join(
        F.broadcast(nxt), "bucket", "left"
    )
    D_ = lambda c: F.col(c).cast(DEC)  # noqa: E731
    score = F.abs(
        (D_("sxp") * D_("cn") - D_("sxn") * D_("cp"))
        * (D_("y") * D_("cp") - D_("syp"))
        - (D_("sxp") - D_("t") * D_("cp"))
        * (D_("syn") * D_("cp") - D_("syp") * D_("cn"))
    ).cast(DEC)
    wb = Window.partitionBy("bucket").orderBy(
        F.desc(F.coalesce(score, F.lit(-1).cast(DEC))), F.col("t").asc()
    )
    return (
        j.withColumn("rn", F.row_number().over(wb))
        .where(F.col("rn") == 1)
        .select(
            "bucket",
            "t",
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            F.col("y").alias("y_cents"),
        )
    )


def hodges_lehmann_dow(orders: DataFrame) -> DataFrame:
    """Hodges-Lehmann shift estimate between WEEKEND and WEEKDAY daily
    order counts: the median of all pairwise differences
    (weekend_count - weekday_count) — the robust effect size behind
    the Wilcoxon/MWU family (``dow_uniformity`` tests WHETHER weekday
    margins differ; HL says BY HOW MANY orders/day, immune to outlier
    days where a mean difference is not).

    Exactness: both samples live on the integer count VALUE spine;
    the difference multiset is the weighted lattice cross join
    (|distinct weekend counts| x |distinct weekday counts| — value
    lattices, not data-sized), its median picked by exact cumulative
    weights; even-total medians average two integers (exact .0/.5
    double). Scale: one daily rollup; the cross join is
    lattice-bounded at any SF."""
    daily = (
        orders.groupBy(F.date_trunc("day", "o_orderdate").alias("d"))
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
        .select(
            "y",
            F.dayofweek("d").isin(1, 7).cast("int").alias("we"),
        )
        .localCheckpoint(eager=False)
    )
    sa = daily.where(F.col("we") == 1).groupBy("y").agg(
        F.count(F.lit(1)).cast("long").alias("ca")
    )
    sb = daily.where(F.col("we") == 0).groupBy("y").agg(
        F.count(F.lit(1)).cast("long").alias("cb")
    )
    diffs = (
        sa.crossJoin(
            sb.select(F.col("y").alias("yb"), "cb")
        )
        .select(
            (F.col("y") - F.col("yb")).alias("diff"),
            (F.col("ca") * F.col("cb")).alias("w"),
        )
        .groupBy("diff")
        .agg(F.sum("w").cast("long").alias("w"))
        .localCheckpoint(eager=False)
    )
    tot = diffs.agg(F.sum("w").cast("long").alias("t"))
    wv = Window.orderBy("diff").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = diffs.withColumn("cw", F.sum("w").over(wv)).crossJoin(
        F.broadcast(tot)
    ).localCheckpoint(eager=False)
    k1 = F.expr("(t + 1) div 2")
    k2 = F.expr("t div 2 + 1")
    d1 = (
        cum.where(F.col("cw") >= k1)
        .orderBy("diff")
        .limit(1)
        .select(F.col("diff").alias("d1"))
    )
    d2 = (
        cum.where(F.col("cw") >= k2)
        .orderBy("diff")
        .limit(1)
        .select(F.col("diff").alias("d2"))
    )
    counts = daily.agg(
        F.sum(F.col("we").cast("long")).cast("long").alias("n_weekend"),
        F.sum((1 - F.col("we")).cast("long")).cast("long").alias(
            "n_weekday"
        ),
    )
    return (
        counts.crossJoin(F.broadcast(d1))
        .crossJoin(F.broadcast(d2))
        .where((F.col("n_weekend") >= 1) & (F.col("n_weekday") >= 1))
        .select(
            "n_weekend",
            "n_weekday",
            (
                (F.col("d1") + F.col("d2")).cast("double") / F.lit(2.0)
            ).alias("hl_shift"),
        )
    )


def cucconi_test(
    orders: DataFrame, g1: str = "O", g2: str = "F"
) -> DataFrame:
    """Cucconi location-scale test between two order-status cohorts'
    totalprice — the joint "did the center OR the spread move" rank
    test (``brunner_munzel``/``mwu`` see location, ``ansari_bradley``
    sees scale; Cucconi sees both at once and predates Lepage):

        U = (6 sum R_j^2 - n2 (N+1)(2N+1)) / sd
        V = (6 sum (N+1-R_j)^2 - n2 (N+1)(2N+1)) / sd
        sd = sqrt(n1 n2 (N+1)(2N+1)(8N+11) / 5)
        rho = 2 (N^2 - 4) / ((2N+1)(8N+11)) - 1
        C = (U^2 + V^2 - 2 rho U V) / (2 (1 - rho^2))

    over the SECOND sample's pooled ranks R_j (average ranks on
    ties). Exactness: 2R lives on the cents value spine as exact
    integers, so sum R^2 = P/4 and sum (N+1-R)^2 = Q/4 with
    P = sum r2^2 and Q = sum (2(N+1) - r2)^2 exact DECIMAL; U and V
    carry the factor-4 scaling explicitly in mirrored floats. Scale:
    one value-spine rollup; everything after is O(1)."""
    d = orders.where(
        F.col("o_orderstatus").isin(g1, g2)
    ).select(
        (F.col("o_orderstatus") == g2).cast("int").alias("in2"),
        _cents("o_totalprice").alias("v"),
    )
    gv = d.groupBy("v").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum("in2").cast("long").alias("c2"),
    )
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    sp = gv.select(
        "v",
        "cnt",
        "c2",
        (
            F.lit(2) * F.coalesce(F.sum("cnt").over(wv), F.lit(0))
            + F.col("cnt")
            + 1
        ).cast("long").alias("r2"),
    )
    # Q = sum c2 * (2(N+1) - r2)^2 = 4 n2 (N+1)^2 - 4 (N+1) sum c2 r2
    #     + P — so ONE aggregate carries everything (no second pass)
    j = sp.agg(
        F.sum(F.col("cnt") - F.col("c2")).cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
        F.sum(
            F.col("c2").cast(DEC) * F.col("r2").cast(DEC)
            * F.col("r2").cast(DEC)
        ).cast(DEC).alias("p"),
        F.sum(F.col("c2").cast(DEC) * F.col("r2").cast(DEC))
        .cast(DEC)
        .alias("sr"),
    )
    nD = (F.col("n1") + F.col("n2")).cast("double")
    n2D = F.col("n2").cast("double")
    n1D = F.col("n1").cast("double")
    pD = F.col("p").cast("double")
    srD = F.col("sr").cast("double")
    qD = (
        4.0 * n2D * (nD + 1.0) * (nD + 1.0)
        - 4.0 * (nD + 1.0) * srD
        + pD
    )
    sd4 = 4.0 * F.sqrt(
        n1D * n2D * (nD + 1.0) * (2.0 * nD + 1.0)
        * (8.0 * nD + 11.0) / 5.0
    )
    u = (6.0 * pD - 4.0 * n2D * (nD + 1.0) * (2.0 * nD + 1.0)) / sd4
    v = (6.0 * qD - 4.0 * n2D * (nD + 1.0) * (2.0 * nD + 1.0)) / sd4
    rho = 2.0 * (nD * nD - 4.0) / (
        (2.0 * nD + 1.0) * (8.0 * nD + 11.0)
    ) - 1.0
    c = (u * u + v * v - 2.0 * rho * u * v) / (
        2.0 * (1.0 - rho * rho)
    )
    return j.where((F.col("n1") >= 2) & (F.col("n2") >= 2)).select(
        "n1",
        "n2",
        round_half_up(u, 6).alias("u"),
        round_half_up(v, 6).alias("v"),
        round_half_up(rho, 6).alias("rho"),
        round_half_up(c, 6).alias("c_stat"),
    )


def gamma_somers(lineitem: DataFrame) -> DataFrame:
    """Ordinal association between line-item QUANTITY and DISCOUNT:
    Goodman-Kruskal gamma, Somers' D (discount | quantity), and
    Kendall tau-b, all from the concordant/discordant pair counts on
    the (quantity x discount-percent) contingency lattice — "do
    bigger line items get bigger discounts", read three ways
    (``price_elasticity`` fits a slope; these are the rank-safe
    versions a pricing analyst quotes when the relation is monotone
    but not linear).

    Exactness: the lattice is schema-bounded (50 quantities x 11
    discount points), so the pair enumeration is a constant-size cell
    self-join; C, D and the tie terms are exact DECIMAL sums of count
    products; each coefficient is one mirrored float expression.
    Scale: one |lattice| rollup regardless of SF."""
    cells = (
        lineitem.select(
            F.col("l_quantity").cast("long").alias("q"),
            F.round(F.col("l_discount") * 100).cast("long").alias("dc"),
        )
        .groupBy("q", "dc")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .localCheckpoint(eager=False)
    )
    a = cells.select(
        F.col("q").alias("q1"), F.col("dc").alias("d1"),
        F.col("n").alias("m1"),
    )
    b = cells.select(
        F.col("q").alias("q2"), F.col("dc").alias("d2"),
        F.col("n").alias("m2"),
    )
    pairs = a.join(
        F.broadcast(b),
        (F.col("q1") < F.col("q2"))
        | ((F.col("q1") == F.col("q2")) & (F.col("d1") < F.col("d2"))),
    )
    w = (F.col("m1").cast(DEC) * F.col("m2").cast(DEC)).cast(DEC)
    agg = pairs.agg(
        F.sum(
            F.when(
                (F.col("q1") < F.col("q2")) & (F.col("d1") < F.col("d2")),
                w,
            )
        ).cast(DEC).alias("c"),
        F.sum(
            F.when(
                (F.col("q1") < F.col("q2")) & (F.col("d1") > F.col("d2")),
                w,
            )
        ).cast(DEC).alias("dd"),
        F.sum(
            F.when(
                (F.col("q1") < F.col("q2"))
                & (F.col("d1") == F.col("d2")),
                w,
            )
        ).cast(DEC).alias("ty"),
        F.sum(
            F.when(F.col("q1") == F.col("q2"), w)
        ).cast(DEC).alias("tx"),
    )
    cD = F.coalesce(F.col("c"), F.lit(0).cast(DEC)).cast("double")
    dD = F.coalesce(F.col("dd"), F.lit(0).cast(DEC)).cast("double")
    tyD = F.coalesce(F.col("ty"), F.lit(0).cast(DEC)).cast("double")
    txD = F.coalesce(F.col("tx"), F.lit(0).cast(DEC)).cast("double")
    gamma = (cD - dD) / (cD + dD)
    somers = (cD - dD) / (cD + dD + tyD)
    taub = (cD - dD) / F.sqrt(
        (cD + dD + txD) * (cD + dD + tyD)
    )
    return agg.where((cD + dD) > 0).select(
        F.col("c").cast("long").alias("concordant"),
        F.col("dd").cast("long").alias("discordant"),
        round_half_up(gamma, 6).alias("gamma"),
        round_half_up(somers, 6).alias("somers_d"),
        round_half_up(taub, 6).alias("tau_b"),
    )


def barnard_exact(
    t,
    min_orders: int = 10,
    bal_cut: float = 5000.0,
    arm_cap: int = 30,
    grid: int = 200,
) -> DataFrame:
    """Barnard's UNCONDITIONAL exact test on the 2x2 (acctbal >=
    ``bal_cut``) x (placed >= ``min_orders`` orders) table — the
    companion to ``fisher_exact`` that does NOT condition on the
    column margin: p = max over the nuisance success rate pi of
    P(tables scoring >= observed | pi), scored by the pooled Wald
    statistic

        T(a, b) = (a/n1 - b/n2)
                  / sqrt(phat (1 - phat) (1/n1 + 1/n2)),

    two-sided inclusion |T| >= |T_obs| (1 - 1e-7), pi on the
    ``1/grid .. (grid-1)/grid`` lattice (the scipy-style grid search;
    the grid is part of the stated semantics). Barnard dominates
    Fisher in power at small n — and ONLY small n matters: each arm
    is capped at ``arm_cap`` customers chosen by md5(custkey) order
    (deterministic cross-engine), both because the table enumeration
    is (n1+1)(n2+1) per grid point and because at large n the normal
    approximation supersedes the exact test anyway.

    Exactness: binomial pmfs enter only as MODE-FREE relative
    products Q(a) = prod_{j<a} ((n-j)/(j+1)) (pi/(1-pi)) — the
    fisher_exact ratio discipline, so no pow()/factorials; the
    normalization cancels in the ratio p(pi) = sum_incl Qa Qb /
    (sum Qa)(sum Qb); every fold multiplies in ascending j on both
    engines. Scale: two TakeOrdered caps + a grid x table explode of
    at most ``grid (arm_cap+1)^2`` rows — constants of the knobs, not
    the data."""
    md5k = F.md5(F.col("c_custkey").cast("string").cast("binary"))
    pc = (
        t["orders"]
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
    )
    j = (
        t["customer"]
        .join(pc, F.col("c_custkey") == F.col("o_custkey"), "left")
        .select(
            (F.coalesce("n_orders", F.lit(0)) >= min_orders)
            .cast("long")
            .alias("y"),
            (F.col("c_acctbal") >= bal_cut).cast("int").alias("arm1"),
            md5k.alias("h"),
        )
        .localCheckpoint(eager=False)
    )
    arm = lambda flag: (  # noqa: E731
        j.where(F.col("arm1") == flag)
        .orderBy("h")
        .limit(int(arm_cap))
        .agg(
            F.count(F.lit(1)).cast("long").alias(f"n{2 - flag}"),
            F.sum("y").cast("long").alias(f"k{2 - flag}"),
        )
    )
    base = arm(1).crossJoin(F.broadcast(arm(0)))
    n1D, n2D = F.col("n1").cast("double"), F.col("n2").cast("double")

    def t_stat(a, b):
        ph = (a + b).cast("double") / (
            F.col("n1") + F.col("n2")
        ).cast("double")
        num = a.cast("double") / n1D - b.cast("double") / n2D
        den = F.sqrt(
            ph * (F.lit(1.0) - ph) * (1.0 / n1D + 1.0 / n2D)
        )
        return F.when(den > 0, num / den).otherwise(F.lit(0.0))

    base = base.withColumn(
        "t_obs", t_stat(F.col("k1"), F.col("k2"))
    ).localCheckpoint(eager=False)
    g = base.select(
        "*",
        F.explode(F.sequence(F.lit(1), F.lit(int(grid) - 1))).alias(
            "jg"
        ),
    ).repartition(32, F.col("jg")).withColumn(
        "pi", F.col("jg").cast("double") / F.lit(float(grid))
    )

    def q_of(n_col, x):
        # Q(x) = fold of ((n-j)/(j+1)) * (pi/(1-pi)) for j in [0, x),
        # ascending j on both engines (Q(0) = 1 guarded by the caller)
        return F.aggregate(
            F.transform(
                F.sequence(F.lit(0), x - 1),
                lambda jj: (n_col - jj).cast("double")
                / (jj + 1).cast("double")
                * (
                    F.col("pi") / (F.lit(1.0) - F.col("pi"))
                ),
            ),
            F.lit(1.0),
            lambda acc, r: acc * r,
        )

    def q_arr(n_col):
        return F.transform(
            F.sequence(F.lit(0), n_col),
            lambda a: F.when(a == 0, F.lit(1.0)).otherwise(
                q_of(n_col, a)
            ),
        )

    # every float sum below is a DETERMINISTIC ascending fold over an
    # in-row array (never a shuffle aggregate of doubles): summation
    # order is part of the mirrored semantics
    g2 = g.withColumn("qa_arr", q_arr(F.col("n1"))).withColumn(
        "qb_arr", q_arr(F.col("n2"))
    )
    fsum = lambda arr: F.aggregate(  # noqa: E731
        arr, F.lit(0.0), lambda acc, x: acc + x
    )
    thr = F.abs(F.col("t_obs")) * (F.lit(1.0) - F.lit(1e-7))
    num = F.aggregate(
        F.sequence(F.lit(0), F.col("n1")),
        F.lit(0.0),
        lambda acc, a: acc
        + F.element_at(F.col("qa_arr"), (a + 1).cast("int"))
        * F.aggregate(
            F.sequence(F.lit(0), F.col("n2")),
            F.lit(0.0),
            lambda acc2, b: acc2
            + F.when(
                F.abs(t_stat(a, b)) >= thr,
                F.element_at(F.col("qb_arr"), (b + 1).cast("int")),
            ).otherwise(F.lit(0.0)),
        ),
    )
    per = g2.select(
        "n1",
        "k1",
        "n2",
        "k2",
        "t_obs",
        "pi",
        "jg",
        (num / (fsum(F.col("qa_arr")) * fsum(F.col("qb_arr")))).alias(
            "p"
        ),
    )
    return (
        per.orderBy(F.col("p").desc(), F.col("jg").asc())
        .limit(1)
        .select(
            "n1",
            "k1",
            "n2",
            "k2",
            round_half_up(F.col("t_obs"), 6).alias("t_obs"),
            round_half_up(F.col("pi"), 6).alias("pi_hat"),
            round_half_up(F.col("p"), 6).alias("p_barnard"),
        )
    )


def quade_test(orders: DataFrame) -> DataFrame:
    """Quade test for treatment differences across related blocks:
    years are blocks, calendar months are treatments (the
    ``friedman_test`` design), but blocks are WEIGHTED by how much
    they discriminate — Q_j = rank of block j's range — so one flat
    year cannot dilute a strong seasonal signal the way it does in
    Friedman:

        S_ij = Q_j (R_ij - (k+1)/2),  A = sum S^2,
        B = (1/n) sum_i (sum_j S_ij)^2,
        F = (n-1) B / (A - B)   ~ F(k-1, (n-1)(k-1))

    Exactness: within-block ranks and block-range ranks both live on
    value spines as doubled integers (2*avgrank = 2*below + cnt + 1),
    and (k+1)/2 doubles to the integer k+1 — so 4 S_ij = 2Q_j
    (2R_ij - (k+1)... doubled twice: 16 A and 16 n B are exact
    BIGINTs; F is one mirrored float. Scale: a (year, month) rollup;
    everything after is (n x 12)-sized."""
    cells = (
        orders.groupBy(
            F.year("o_orderdate").alias("j"),
            F.month("o_orderdate").alias("it"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    months = cells.sparkSession.range(1, 13).select(
        F.col("id").cast("int").alias("it")
    )
    full = (
        cells.select("j").distinct()
        .crossJoin(F.broadcast(months))
        .join(cells, ["j", "it"], "left")
        .select(
            "j", "it",
            F.coalesce("c", F.lit(0).cast("long")).alias("c"),
        )
        .localCheckpoint(eager=False)
    )
    # within-block average ranks off the per-block value spine
    perv = full.groupBy("j", "c").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.collect_list("it").alias("its"),
    )
    wj = Window.partitionBy("j").orderBy("c").rowsBetween(
        Window.unboundedPreceding, -1
    )
    ranked = perv.withColumn(
        "below",
        F.coalesce(F.sum("cnt").over(wj), F.lit(0).cast("long")),
    ).select(
        "j",
        F.explode("its").alias("it"),
        (F.lit(2) * F.col("below") + F.col("cnt") + 1).alias("r2"),
    )
    # block ranges and their average ranks across blocks
    rng = full.groupBy("j").agg(
        (F.max("c") - F.min("c")).cast("long").alias("rg")
    )
    rv = rng.groupBy("rg").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.collect_list("j").alias("js"),
    )
    wr = Window.orderBy("rg").rowsBetween(Window.unboundedPreceding, -1)
    q2 = rv.withColumn(
        "below",
        F.coalesce(F.sum("cnt").over(wr), F.lit(0).cast("long")),
    ).select(
        F.explode("js").alias("j"),
        (F.lit(2) * F.col("below") + F.col("cnt") + 1).alias("q2"),
    )
    s = ranked.join(F.broadcast(q2), "j").select(
        "j",
        "it",
        # 4 S_ij = q2 * (r2 - (k+1)) with k = 12
        (F.col("q2").cast(DEC) * (F.col("r2") - 13).cast(DEC))
        .cast(DEC)
        .alias("s4"),
    ).localCheckpoint(eager=False)
    a16 = s.agg(
        F.countDistinct("j").cast("long").alias("n"),
        F.sum(F.col("s4") * F.col("s4")).cast(DEC).alias("a16"),
    )
    b16 = s.groupBy("it").agg(
        F.sum("s4").cast(DEC).alias("si4")
    ).agg(
        F.sum(F.col("si4") * F.col("si4")).cast(DEC).alias("b16n")
    )
    j2 = a16.crossJoin(F.broadcast(b16))
    nD = F.col("n").cast("double")
    aF = F.col("a16").cast("double") / 16.0
    bF = F.col("b16n").cast("double") / (16.0 * nD)
    f_stat = (nD - 1.0) * bF / (aF - bF)
    return j2.where(
        (F.col("n") >= 2)
        & (F.col("a16").cast("double") / 16.0
           - F.col("b16n").cast("double") / (16.0 * F.col("n").cast("double"))
           > 0)
    ).select(
        F.col("n").alias("n_blocks"),
        F.lit(12).cast("long").alias("k_treatments"),
        F.lit(11).cast("long").alias("df1"),
        ((F.col("n") - 1) * 11).cast("long").alias("df2"),
        round_half_up(f_stat, 6).alias("f_stat"),
    )


def lepage_test(
    orders: DataFrame, g1: str = "O", g2: str = "F"
) -> DataFrame:
    """Lepage location-scale test between two order-status cohorts:
    D = z_W^2 + z_AB^2 — the squared-sum combination of the Wilcoxon
    rank-sum (location) and Ansari-Bradley (scale) standardized
    statistics, the older sibling of ``cucconi_test`` (both chase the
    same alternative; shipping both lets a metrics platform
    cross-check them the way R's nonpar suites do):

        W  = sum of sample-2 pooled ranks,  AB = sum of sample-2
        Ansari scores min(R, N+1-R),

    standardized with the classic no-tie moments (stated as the
    semantics; ties are broken by average ranks on the value spine).
    Exactness: 2W = sum r2 and 2AB = sum min(r2, 2(N+1) - r2) are
    exact BIGINTs off the cents spine; the N-parity case split for
    the AB moments is mirrored; D is one float expression. Scale: one
    value-spine rollup."""
    d = orders.where(
        F.col("o_orderstatus").isin(g1, g2)
    ).select(
        (F.col("o_orderstatus") == g2).cast("int").alias("in2"),
        _cents("o_totalprice").alias("v"),
    )
    gv = d.groupBy("v").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum("in2").cast("long").alias("c2"),
    )
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    sp = gv.select(
        "cnt",
        "c2",
        (
            F.lit(2) * F.coalesce(F.sum("cnt").over(wv), F.lit(0))
            + F.col("cnt")
            + 1
        ).cast("long").alias("r2"),
    ).localCheckpoint(eager=False)  # 2 consumers (total + moment agg)
    cnt_all = sp.agg(
        F.sum("cnt").cast("long").alias("nn"),
    )
    agg = sp.crossJoin(F.broadcast(cnt_all)).agg(
        F.max("nn").alias("nn"),
        F.sum(F.col("cnt") - F.col("c2")).cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
        F.sum(F.col("c2").cast(DEC) * F.col("r2").cast(DEC))
        .cast(DEC).alias("w2"),
        F.sum(
            F.col("c2").cast(DEC)
            * F.least(
                F.col("r2"),
                F.lit(2) * (F.col("nn") + 1) - F.col("r2"),
            ).cast(DEC)
        ).cast(DEC).alias("ab2"),
    )
    nD = F.col("nn").cast("double")
    n1D = F.col("n1").cast("double")
    n2D = F.col("n2").cast("double")
    wD = F.col("w2").cast("double") / 2.0
    abD = F.col("ab2").cast("double") / 2.0
    ew = n2D * (nD + 1.0) / 2.0
    vw = n1D * n2D * (nD + 1.0) / 12.0
    even = F.col("nn") % 2 == 0
    ea = F.when(even, n2D * (nD + 2.0) / 4.0).otherwise(
        n2D * (nD + 1.0) * (nD + 1.0) / (4.0 * nD)
    )
    va = F.when(
        even,
        n1D * n2D * (nD + 2.0) * (nD - 2.0) / (48.0 * (nD - 1.0)),
    ).otherwise(
        n1D * n2D * (nD + 1.0) * (3.0 + nD * nD) / (48.0 * nD * nD)
    )
    zw = (wD - ew) / F.sqrt(vw)
    za = (abD - ea) / F.sqrt(va)
    return agg.where(
        (F.col("n1") >= 2) & (F.col("n2") >= 2)
    ).select(
        "n1",
        "n2",
        round_half_up(zw, 6).alias("z_wilcoxon"),
        round_half_up(za, 6).alias("z_ansari"),
        round_half_up(zw * zw + za * za, 6).alias("d_stat"),
    )


def welch_anova(orders: DataFrame) -> DataFrame:
    """Welch's heteroscedastic one-way ANOVA of totalprice across
    order priorities — the unequal-variance F that ``anova_oneway``
    users switch to when ``bartlett_test``/``levene`` reject
    homogeneity (the k-group ``brunner_munzel`` move, parametric):

        w_j = n_j / s_j^2,  W = sum w,  m = sum w xbar / W,
        A = sum w (xbar - m)^2 / (k - 1),
        H = sum (1 - w/W)^2 / (n_j - 1),
        F = A / (1 + 2(k-2)/(k^2-1) H),
        df2 = (k^2 - 1) / (3 H)

    Exactness: group sums/squares are exact DECIMAL; every float sum
    runs as a SEQUENTIAL fold over the priority-sorted k-row list
    (the brown_forsythe idiom), each quantity its OWN fold — no
    cross-field accumulator state (the DuckDB list_reduce in-place
    trap). Groups with n_j < 2 or zero variance drop by predicate.
    Scale: one rollup; folds touch k rows."""
    grp = (
        orders.select(
            F.col("o_orderpriority").alias("g"),
            _cents("o_totalprice").alias("v"),
        )
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).cast("long").alias("ng"),
            F.sum(F.col("v").cast(DEC)).cast(DEC).alias("sg"),
            F.sum((F.col("v").cast(DEC) * F.col("v").cast(DEC)))
            .cast(DEC)
            .alias("qg"),
        )
        .where(
            (F.col("ng") >= 2)
            & (
                F.col("ng").cast(DEC) * F.col("qg")
                - F.col("sg") * F.col("sg")
                > 0
            )
        )
    )
    lst = grp.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("ng").cast("long").alias("n_total"),
        F.array_sort(
            F.collect_list(F.struct("g", "ng", "sg", "qg"))
        ).alias("l"),
    )

    def xbar(t):
        return t["sg"].cast("double") / t["ng"].cast("double")

    def wj(t):
        ngD = t["ng"].cast("double")
        s2 = (
            t["ng"].cast(DEC) * t["qg"] - t["sg"] * t["sg"]
        ).cast("double") / (ngD * (ngD - 1.0))
        return ngD / s2

    fold = lambda f: F.aggregate(  # noqa: E731
        F.col("l"), F.lit(0.0), lambda a, t: a + f(t)
    )
    withw = lst.withColumn("w_sum", fold(wj)).withColumn(
        "m_sum", fold(lambda t: wj(t) * xbar(t))
    )
    m = F.col("m_sum") / F.col("w_sum")
    withm = withw.withColumn(
        "a_sum", fold(lambda t: wj(t) * (xbar(t) - m) * (xbar(t) - m))
    ).withColumn(
        "h_sum",
        fold(
            lambda t: (
                (F.lit(1.0) - wj(t) / F.col("w_sum"))
                * (F.lit(1.0) - wj(t) / F.col("w_sum"))
            )
            / (t["ng"].cast("double") - 1.0)
        ),
    )
    kD = F.col("k").cast("double")
    a_stat = F.col("a_sum") / (kD - 1.0)
    denom = F.lit(1.0) + 2.0 * (kD - 2.0) / (kD * kD - 1.0) * F.col(
        "h_sum"
    )
    return withm.where((F.col("k") >= 2) & (F.col("h_sum") > 0)).select(
        "k",
        "n_total",
        round_half_up(a_stat / denom, 6).alias("f_stat"),
        round_half_up((kD * kD - 1.0) / (3.0 * F.col("h_sum")), 6)
        .alias("df2"),
    )


def yuen_t(
    orders: DataFrame, g1: str = "O", g2: str = "F", trim_pct: int = 10
) -> DataFrame:
    """Yuen's trimmed-mean t-test between two order-status cohorts'
    totalprice — the robust two-sample location test (plain Welch
    chases the heavy tail this table actually has; Yuen trims
    ``trim_pct``% from EACH end and standardizes with the winsorized
    variance):

        t  = (xt1 - xt2) / sqrt(d1 + d2),
        dj = s2w_j (n_j - 1) / (h_j (h_j - 1)),  h_j = n_j - 2 g_j

    with g_j = n_j * trim_pct div 100 (integer), trimmed means over
    ranks (g, n-g], winsorization replacing each trimmed tail by its
    boundary ORDER STATISTIC (nearest-rank, exact). Welch-
    Satterthwaite df. Exactness: all order statistics, overlap
    counts, winsorized sums and squared sums are exact integers off
    the per-group cents spine; t and df are mirrored floats. Scale:
    one value-spine rollup per group."""
    d = orders.where(F.col("o_orderstatus").isin(g1, g2)).select(
        F.col("o_orderstatus").alias("g"),
        _cents("o_totalprice").alias("v"),
    )
    sv = d.groupBy("g", "v").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    wb = Window.partitionBy("g").orderBy("v").rowsBetween(
        Window.unboundedPreceding, -1
    )
    wn = Window.partitionBy("g")
    sp = sv.select(
        "g",
        "v",
        "cnt",
        F.coalesce(F.sum("cnt").over(wb), F.lit(0).cast("long")).alias(
            "below"
        ),
        F.sum("cnt").over(wn).cast("long").alias("n"),
    )
    gt = F.expr(f"n * {int(trim_pct)} div 100")
    lo = (gt + 1).alias("lo")
    hi = (F.col("n") - gt).alias("hi")
    sp2 = sp.select(
        "g", "v", "cnt", "below", "n", gt.alias("gt"), lo, hi
    )
    ov = F.greatest(
        F.lit(0).cast("long"),
        F.least(F.col("below") + F.col("cnt"), F.col("hi"))
        - F.greatest(F.col("below") + 1, F.col("lo"))
        + 1,
    )
    per = sp2.groupBy("g").agg(
        F.max("n").alias("n"),
        F.max("gt").alias("gt"),
        F.sum(F.col("v").cast(DEC) * ov.cast(DEC)).cast(DEC).alias(
            "tsum"
        ),
        F.sum(
            F.col("v").cast(DEC) * F.col("v").cast(DEC) * ov.cast(DEC)
        ).cast(DEC).alias("tssq"),
        F.min(
            F.when(
                F.col("below") + F.col("cnt") >= F.col("lo"), F.col("v")
            )
        ).cast("long").alias("vlo"),
        F.min(
            F.when(
                F.col("below") + F.col("cnt") >= F.col("hi"), F.col("v")
            )
        ).cast("long").alias("vhi"),
    ).localCheckpoint(eager=False)  # 2 consumers (one per cohort)

    def side(gname, tag):
        p = per.where(F.col("g") == gname)
        return p.select(
            F.col("n").alias(f"n{tag}"),
            F.col("gt").alias(f"g{tag}"),
            F.col("tsum").alias(f"ts{tag}"),
            F.col("tssq").alias(f"tq{tag}"),
            F.col("vlo").alias(f"vl{tag}"),
            F.col("vhi").alias(f"vh{tag}"),
        )

    j = side(g1, "1").crossJoin(F.broadcast(side(g2, "2")))

    def stats(tag):
        n = F.col(f"n{tag}")
        gt_ = F.col(f"g{tag}")
        h = (n - 2 * gt_).cast("long")
        vl = F.col(f"vl{tag}").cast(DEC)
        vh = F.col(f"vh{tag}").cast(DEC)
        sw = (
            F.col(f"ts{tag}") + gt_.cast(DEC) * vl + gt_.cast(DEC) * vh
        ).cast(DEC)
        qw = (
            F.col(f"tq{tag}")
            + gt_.cast(DEC) * vl * vl
            + gt_.cast(DEC) * vh * vh
        ).cast(DEC)
        nD = n.cast("double")
        hD = h.cast("double")
        xt = F.col(f"ts{tag}").cast("double") / hD
        s2w = (n.cast(DEC) * qw - sw * sw).cast("double") / (
            nD * (nD - 1.0)
        )
        dj = s2w * (nD - 1.0) / (hD * (hD - 1.0))
        return h, xt, dj

    h1, xt1, d1 = stats("1")
    h2, xt2, d2 = stats("2")
    t = (xt1 - xt2) / F.sqrt(d1 + d2)
    df = (
        (d1 + d2) * (d1 + d2)
        / (
            d1 * d1 / (h1.cast("double") - 1.0)
            + d2 * d2 / (h2.cast("double") - 1.0)
        )
    )
    return j.where((h1 >= 2) & (h2 >= 2) & (d1 + d2 > 0)).select(
        F.col("n1"),
        F.col("n2"),
        h1.alias("h1"),
        h2.alias("h2"),
        round_half_up(xt1 / 100.0, 6).alias("trimmed_mean_1"),
        round_half_up(xt2 / 100.0, 6).alias("trimmed_mean_2"),
        round_half_up(t, 6).alias("t_stat"),
        round_half_up(df, 6).alias("df"),
    )


def seasonal_kendall(orders: DataFrame) -> DataFrame:
    """Seasonal Mann-Kendall trend test on MONTHLY order counts:
    within each calendar month, the MK S statistic over the years
    (sign of every cross-year pair), summed across the 12 seasons
    with summed tie-corrected variances — the trend test that does
    not mistake seasonality for trend (``mann_kendall`` on raw daily
    data conflates the two; the seasonal form compares January only
    with January):

        S = sum_m S_m,   Var = sum_m Var_m,
        Z = (S - sign(S)) / sqrt(Var)

    Exactness: the (year, month) grid is zero-filled; S and var18
    (= 18 Var) are exact BIGINTs (mann_kendall's tie rollup per
    season); Z is one mirrored float. Scale: a (year, month) rollup;
    pairs are 12 * C(n_years, 2)."""
    cells = (
        orders.groupBy(
            F.year("o_orderdate").alias("y"),
            F.month("o_orderdate").alias("m"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    months = cells.sparkSession.range(1, 13).select(
        F.col("id").cast("int").alias("m")
    )
    full = (
        cells.select("y").distinct()
        .crossJoin(F.broadcast(months))
        .join(cells, ["y", "m"], "left")
        .select(
            "y", "m",
            F.coalesce("c", F.lit(0).cast("long")).alias("c"),
        )
        .localCheckpoint(eager=False)
    )
    a = full.select("m", F.col("y").alias("y1"), F.col("c").alias("c1"))
    b = full.select(
        F.col("m").alias("m2"), F.col("y").alias("y2"),
        F.col("c").alias("c2"),
    )
    s = a.join(
        b, (F.col("m") == F.col("m2")) & (F.col("y1") < F.col("y2"))
    ).agg(
        F.sum(
            F.when(F.col("c2") > F.col("c1"), 1)
            .when(F.col("c2") < F.col("c1"), -1)
            .otherwise(0)
        ).cast("long").alias("s")
    )
    ties = full.groupBy("m", "c").agg(
        F.count(F.lit(1)).cast("long").alias("t")
    )
    var18 = ties.groupBy("m").agg(
        F.sum("t").cast("long").alias("nm"),
        F.sum(
            F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
        ).cast("long").alias("tt"),
    ).agg(
        F.max("nm").cast("long").alias("n_years"),
        F.sum(
            F.col("nm") * (F.col("nm") - 1) * (2 * F.col("nm") + 5)
            - F.col("tt")
        ).cast("long").alias("var18"),
    )
    j = s.crossJoin(F.broadcast(var18))
    sD = F.col("s").cast("double")
    corr = F.when(F.col("s") > 0, sD - 1.0).when(
        F.col("s") < 0, sD + 1.0
    ).otherwise(F.lit(0.0))
    return j.where(F.col("var18") > 0).select(
        "n_years",
        F.col("s").alias("s_stat"),
        "var18",
        round_half_up(
            corr / F.sqrt(F.col("var18").cast("double") / 18.0), 6
        ).alias("z"),
    )


def partial_corr(lineitem: DataFrame) -> DataFrame:
    """Pearson correlations and the PARTIAL correlation of line-item
    quantity and price given discount:

        r_xy.z = (r_xy - r_xz r_yz)
                 / sqrt((1 - r_xz^2)(1 - r_yz^2))

    — does quantity still track price once the discount channel is
    held fixed (``price_elasticity`` fits the raw slope; the partial
    answers the confounder question a pricing analyst actually
    asks). Exactness: all nine moment sums are exact DECIMAL(38,0)
    (quantity int, price cents, discount percent); each r is
    (n S_ab - S_a S_b) over the sqrt of the exact centered-moment
    product, every float mirrored. Scale: ONE aggregate over the
    scan."""
    d = lineitem.select(
        F.col("l_quantity").cast("long").alias("x"),
        _cents("l_extendedprice").alias("y"),
        F.round(F.col("l_discount") * 100).cast("long").alias("z"),
    )
    c = lambda n: F.col(n).cast(DEC)  # noqa: E731
    agg = d.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(c("x")).cast(DEC).alias("sx"),
        F.sum(c("y")).cast(DEC).alias("sy"),
        F.sum(c("z")).cast(DEC).alias("sz"),
        F.sum(c("x") * c("x")).cast(DEC).alias("sxx"),
        F.sum(c("y") * c("y")).cast(DEC).alias("syy"),
        F.sum(c("z") * c("z")).cast(DEC).alias("szz"),
        F.sum(c("x") * c("y")).cast(DEC).alias("sxy"),
        F.sum(c("x") * c("z")).cast(DEC).alias("sxz"),
        F.sum(c("y") * c("z")).cast(DEC).alias("syz"),
    )
    nD = F.col("n").cast(DEC)

    def r(ab, a, b, aa, bb):
        num = (nD * F.col(ab) - F.col(a) * F.col(b)).cast("double")
        da = (nD * F.col(aa) - F.col(a) * F.col(a)).cast("double")
        db = (nD * F.col(bb) - F.col(b) * F.col(b)).cast("double")
        return num / F.sqrt(da * db)

    rxy = r("sxy", "sx", "sy", "sxx", "syy")
    rxz = r("sxz", "sx", "sz", "sxx", "szz")
    ryz = r("syz", "sy", "sz", "syy", "szz")
    part = (rxy - rxz * ryz) / F.sqrt(
        (F.lit(1.0) - rxz * rxz) * (F.lit(1.0) - ryz * ryz)
    )
    return agg.where(F.col("n") >= 3).select(
        "n",
        round_half_up(rxy, 6).alias("r_qty_price"),
        round_half_up(rxz, 6).alias("r_qty_disc"),
        round_half_up(ryz, 6).alias("r_price_disc"),
        round_half_up(part, 6).alias("r_qty_price_given_disc"),
    )


def by_fdr(
    t, min_orders: int = 10, bal_cut: float = 5000.0,
    q_level: float = 0.1,
) -> DataFrame:
    """Benjamini-Yekutieli FDR correction over the per-nation exact
    Fisher battery — ``bh_fdr``'s dependence-safe sibling: BH assumes
    positive dependence across the slices; BY divides the budget by
    the harmonic c(m) = sum_{i<=m} 1/i and stays valid under ANY
    dependence (the correction a metrics platform switches to when
    slices share traffic). Step-up rule: reject the r smallest
    p-values where r is the largest rank with

        p_(r) <= r q / (m c(m)).

    Exactness: p's are the exact hypergeometric folds; c(m) is the
    NANO-QUANTIZED harmonic sum (foster_stuart discipline, exact
    BIGINT from a fold over 1..m); the comparison runs as
    p * m * c(m) <= r * q in identically-computed doubles. Scale:
    one customer rollup; |nations|-sized after."""
    pc = (
        t["orders"]
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
    )
    j = (
        t["customer"]
        .join(pc, F.col("c_custkey") == F.col("o_custkey"), "left")
        .join(
            F.broadcast(t["nation"].select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(
            F.col("n_name").alias("nation"),
            (F.coalesce("n_orders", F.lit(0)) >= min_orders)
            .cast("int")
            .alias("y"),
            (F.col("c_acctbal") >= bal_cut).cast("int").alias("p"),
        )
    )
    cells = j.groupBy("nation").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("r1"),
        F.sum("p").cast("long").alias("c1"),
        F.sum(F.col("y") * F.col("p")).cast("long").alias("k_obs"),
    ).where(
        (F.col("r1") > 0)
        & (F.col("r1") < F.col("n"))
        & (F.col("c1") > 0)
        & (F.col("c1") < F.col("n"))
    )
    scored = _hypergeom_two_sided_p(cells).localCheckpoint(eager=False)
    m = scored.agg(F.count(F.lit(1)).cast("long").alias("m")).select(
        "m",
        F.aggregate(
            F.sequence(F.lit(1), F.col("m")),
            F.lit(0).cast("long"),
            lambda acc, i: acc
            + F.floor(F.lit(1e9) / i.cast("double") + F.lit(0.5)).cast(
                "long"
            ),
        ).alias("cm_nano"),
    )
    w = Window.orderBy(F.col("p_raw").asc(), F.col("nation").asc())
    ranked = scored.crossJoin(F.broadcast(m)).withColumn(
        "rank", F.row_number().over(w).cast("long")
    )
    cmD = F.col("cm_nano").cast("double") / 1e9
    ok = (
        F.col("p_raw") * F.col("m").cast("double") * cmD
        <= F.col("rank").cast("double") * F.lit(float(q_level))
    )
    wall = Window.orderBy("rank").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    final = ranked.withColumn(
        "k_max",
        F.max(F.when(ok, F.col("rank"))).over(wall),
    )
    return final.select(
        "nation",
        "n",
        "k_obs",
        round_half_up(F.col("p_raw"), 6).alias("p_two_sided"),
        "rank",
        F.coalesce(
            F.col("rank") <= F.col("k_max"), F.lit(False)
        ).alias("rejected"),
    )
