"""Batch relational surface over the TPC-H-ish star schema.

The reference has no relational capability (SURVEY.md section 2.6); this
module is the north-star batch surface: scans, filters, joins
(broadcast/shuffle/semi/anti/outer), aggregation variants (distinct,
rollup), analytic windows, top-k, and set operations — all declarative
DataFrame ops so Catalyst gets predicate pushdown, column pruning, join
reordering, and AQE for free.

Float discipline: every floating-point output column is rounded (r2/r4/r6)
in BOTH the Spark query and its DuckDB oracle twin. Rounding alone is not
enough where the summand lattice is finer than the rounding target —
sums of PRODUCTS (revenue) and averages land exactly on rounding
boundaries, where summation-order noise (cross-engine AND run-to-run
within Spark) flips the result: those aggregate in DECIMAL (exact,
order-independent; see the helpers below). Sums of raw 2-dp columns
rounded to 2 dp are boundary-free (the true total sits ON the lattice,
half a cent from any boundary) and stay double.

Scale notes are per-query in docstrings; the recurring ones:
- dimension joins (region/nation/supplier/part) are broadcast-size at any
  SF that fits 10MB; customer stops broadcasting around SF10 and AQE
  switches it to shuffle join — both correct.
- top-k uses window row_number ONLY when per-group; global top-k uses
  orderBy().limit(k) which Spark executes as TakeOrderedAndProject (no
  full sort of 100TB).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from ..functions.text import round_half_up

Tables = dict[str, DataFrame]


def _r(col, n):
    return F.round(col, n)


# --- exact-decimal money arithmetic ------------------------------------
# Every fixture money/qty column is a 2-decimal value stored as double.
# A sum of RAW 2-dp values rounded to 2 dp is boundary-free (the true
# total sits ON the rounding lattice, 0.5 cents away from any boundary,
# and FP noise is ~1e-7). But a sum of PRODUCTS (revenue =
# price*(1-disc), a 1e-4 lattice) rounded to 2 dp lands exactly ON
# half-cent boundaries routinely, where summation-order noise — which
# differs between engines AND between Spark runs (AQE/partitioning) —
# flips round(). Same for averages (lattice/n). Decimal sums are exact
# and order-independent, so rounding is deterministic; it is also what
# TPC-H specifies for money. The driver's value-hash compare is exact,
# so "off by one ulp at a boundary" is a failed query, not noise.
#
# Cost, A/B'd warm at sf0.1 (part_supplier_stats shape): double 0.95s,
# decimal 1.51s, integer-cents long sum 1.11s. The cents variant was
# rejected: its final /1e4 double division reintroduces ulp error at
# exactly the half-cent boundaries being fixed (625-group A/B showed
# value divergence from the exact decimal result), and int64 unit-sums
# overflow around 1e18 units — reachable for global sums of the 1e-6
# lattice charge column at extreme SF. Decimal's ~1.6x map-side cost is
# the price of exactness at any scale.


def _dec(col: Column | str, scale: int = 4) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal(18,{scale})")


def _one() -> Column:
    return F.lit(1).cast("decimal(6,4)")


def _rev() -> Column:
    """Exact-decimal discounted revenue: price * (1 - discount)."""
    return _dec("l_extendedprice") * (_one() - _dec("l_discount"))


def _dsum(col: Column, n: int = 2) -> Column:
    """Exact decimal sum -> n-dp rounded double (order-independent)."""
    return F.round(F.sum(col), n).cast("double")


def _davg(col: Column, n: int) -> Column:
    """Deterministic average: exact decimal sum (cast double) / count —
    a single IEEE division both engines perform on identical inputs.
    Oracle twin: floor(CAST(sum(CAST(x AS DECIMAL(18,4))) AS DOUBLE)
    / count(*) * 1eN + 0.5) / 1eN."""
    return round_half_up(F.sum(col).cast("double") / F.count(F.lit(1)), n)


def q1_pricing_summary(t: Tables) -> DataFrame:
    """TPC-H Q1 shape: scan-heavy single-table aggregate. One shuffle on a
    4-value grouping key; partial aggregation collapses ~6B rows/TB to 4
    groups map-side, so the shuffle is bytes, not gigabytes."""
    l = t["lineitem"].where(F.col("l_shipdate") <= F.lit("1998-09-02"))
    return (
        l.groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum(_dec("l_quantity")).alias("sum_qty"),
            _dsum(_dec("l_extendedprice")).alias("sum_base_price"),
            _dsum(_rev()).alias("sum_disc_price"),
            _dsum(_rev() * (_one() + _dec("l_tax"))).alias("sum_charge"),
            _davg(_dec("l_quantity"), 4).alias("avg_qty"),
            _davg(_dec("l_extendedprice"), 4).alias("avg_price"),
            _davg(_dec("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def revenue_by_nation(t: Tables) -> DataFrame:
    """Flagship (TPC-H Q5 shape): 4-way star join + filtered aggregate.

    Join order: lineitem (fact) probe side; orders filtered by date range
    first (pushdown to scan), then customer -> nation -> region as
    broadcast dims. Catalyst/AQE picks broadcast-hash for every dim at
    test SF; at 100TB customer becomes a shuffle join on o_custkey and
    everything else stays broadcast."""
    orders = t["orders"].where(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01"))
    )
    nation_region = broadcast(
        t["nation"].join(
            broadcast(t["region"].where(F.col("r_name").isin("ASIA", "EUROPE"))),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
    )
    return (
        t["lineitem"]
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(nation_region, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("r_name", "n_name")
        .agg(
            _dsum(_rev()).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


def q3_shipping_priority(t: Tables) -> DataFrame:
    """TPC-H Q3 shape: join + aggregate + deterministic top-10.

    Global top-k after aggregation: orderBy + limit compiles to
    TakeOrderedAndProject — each partition keeps its local top 10 and the
    driver merges, no global sort. Fully deterministic tie-break on the
    key so LIMIT is stable across engines."""
    cust = t["customer"].where(F.col("c_mktsegment") == "BUILDING")
    orders = t["orders"].where(F.col("o_orderdate") < F.lit("2000-01-01"))
    li = t["lineitem"].where(F.col("l_shipdate") > F.lit("1996-03-15"))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_dsum(_rev()).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .select(
            "o_orderkey",
            F.unix_timestamp("o_orderdate").alias("o_orderdate_s"),
            "o_orderpriority",
            "revenue",
        )
    )


def part_supplier_stats(t: Tables) -> DataFrame:
    """Two broadcast dim joins on the fact table + multi-key aggregate
    (TPC-H Q9 flavor without the LIKE): revenue and volume per
    (supplier-nation, part-brand)."""
    return (
        t["lineitem"]
        .join(broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .join(broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", "p_brand")
        .agg(
            _dsum(_rev()).alias("revenue"),
            _r(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def customers_with_open_orders(t: Tables) -> DataFrame:
    """Left SEMI join (EXISTS): customers having at least one 'O' order.
    Semi joins shuffle only the keys of the probe side — at scale this is
    the cheapest existence test; Catalyst also rewrites IN-subqueries to
    this same plan."""
    open_orders = t["orders"].where(F.col("o_orderstatus") == "O")
    return (
        t["customer"]
        .join(open_orders, F.col("c_custkey") == F.col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


def customers_without_orders(t: Tables) -> DataFrame:
    """Left ANTI join (NOT EXISTS): customers with no OPEN ('O') orders.
    (Status-filtered so the result is non-vacuous on the fixtures — every
    customer has at least one order of some status.)"""
    open_orders = t["orders"].where(F.col("o_orderstatus") == "O")
    return (
        t["customer"]
        .join(open_orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name", F.round("c_acctbal", 2).alias("acctbal"))
    )


def nation_customer_counts(t: Tables) -> DataFrame:
    """LEFT OUTER join preserving empty nations + count distinct.
    count(c_custkey) (not count(*)) so unmatched nations report 0."""
    return (
        broadcast(t["nation"])
        .join(t["customer"], F.col("n_nationkey") == F.col("c_nationkey"), "left")
        .groupBy("n_nationkey", "n_name")
        .agg(
            F.count("c_custkey").alias("n_customers"),
            F.countDistinct("c_mktsegment").alias("n_segments"),
            _r(F.coalesce(F.sum("c_acctbal"), F.lit(0.0)), 2).alias("total_acctbal"),
        )
    )


def distinct_customers_per_status(t: Tables) -> DataFrame:
    """COUNT(DISTINCT) aggregate: Catalyst expands to a two-phase
    (expand + two aggregates) plan — dedup happens partially map-side, so
    the shuffle carries distinct (status, custkey) pairs, not raw rows."""
    return (
        t["orders"]
        .groupBy("o_orderstatus")
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.count(F.lit(1)).alias("n_orders"),
            _r(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


def acctbal_rollup(t: Tables) -> DataFrame:
    """ROLLUP (region, nation) over customer balances; grouping levels
    labeled via coalesce so the output carries no nulls (stable hashing).
    Spark executes rollup as a single Expand + aggregate — one shuffle."""
    joined = (
        t["customer"]
        .join(broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            _r(F.sum("c_acctbal"), 2).alias("sum_acctbal"),
            F.count(F.lit(1)).alias("n_customers"),
        )
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region"),
            F.coalesce("n_name", F.lit("ALL")).alias("nation"),
            "sum_acctbal",
            "n_customers",
        )
    )


def top_orders_per_customer(t: Tables, k: int = 3) -> DataFrame:
    """Per-group top-k via row_number window: partitioned by customer so
    the sort is within-partition after one shuffle. Deterministic
    tie-break (totalprice desc, orderkey asc)."""
    w = (
        F.row_number()
        .over(
            Window.partitionBy("o_custkey").orderBy(
                F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
            )
        )
        .alias("rk")
    )
    return (
        t["orders"]
        .select("o_custkey", "o_orderkey", _r(F.col("o_totalprice"), 2).alias("totalprice"), w)
        .where(F.col("rk") <= k)
    )


def purchase_and_error_users(t: Tables) -> DataFrame:
    """Set operations over the events stream table: (users who purchased
    INTERSECT users who errored, UNION high-value signups) EXCEPT users
    with a very-high-value error. Exercises all three Spark set ops
    (hash-based distinct set ops, one shuffle each on the full row)."""
    ev = t["events"]
    purchasers = ev.where(F.col("event_type") == "purchase").select("user_id")
    errorers = ev.where(F.col("event_type") == "error").select("user_id")
    big_signup = (
        ev.where((F.col("event_type") == "signup") & (F.col("value") > 150.0))
        .select("user_id")
    )
    big_error = (
        ev.where((F.col("event_type") == "error") & (F.col("value") > 330.0))
        .select("user_id")
    )
    return (
        purchasers.intersect(errorers)
        .union(big_signup)
        .distinct()
        .exceptAll(big_error.distinct())
    )


def orders_by_month(t: Tables) -> DataFrame:
    """String/date scalar surface: date_trunc/extract, concat, upper,
    substring — all codegen'd built-ins over one aggregate."""
    return (
        t["orders"]
        .groupBy(
            F.year("o_orderdate").alias("yr"),
            F.month("o_orderdate").alias("mo"),
            F.upper(F.substring("o_orderpriority", 1, 1)).alias("prio_initial"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _r(F.avg("o_totalprice"), 4).alias("avg_price"),
        )
    )


def orders_cube(t: Tables) -> DataFrame:
    """CUBE (orderstatus, year): all four grouping levels in one pass.
    Like rollup, Spark compiles this to a single Expand + HashAggregate —
    the input is scanned once and shuffled once regardless of how many
    grouping sets the cube expands to."""
    return (
        t["orders"]
        .cube(F.col("o_orderstatus"), F.year("o_orderdate").alias("yr"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _r(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce(F.col("yr").cast("int"), F.lit(-1)).alias("yr"),
            "n_orders",
            "total_price",
        )
    )


def orders_grouping_sets(t: Tables) -> DataFrame:
    """GROUPING SETS ((status, priority), (status), ()) — the general
    form that rollup/cube specialize. Still one Expand + one shuffled
    HashAggregate: Spark replicates each input row once per grouping set
    map-side, so adding sets widens the Expand, not the number of passes."""
    return (
        t["orders"]
        .groupingSets(
            [["o_orderstatus", "o_orderpriority"], ["o_orderstatus"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _r(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("prio"),
            "n_orders",
            "total_price",
        )
    )


def status_pivot_by_year(t: Tables) -> DataFrame:
    """PIVOT: one row per order-year, one revenue column per order status.

    Deliberately NOT ``groupBy().pivot()``: with the value set known,
    Spark's pivot plans TWO shuffled aggregates ((yr,status) partial sum,
    then pivotfirst on yr) — measured via explain. Conditional
    aggregation computes the identical result in ONE shuffle on yr, with
    the per-status sums folded map-side. (Without an explicit value set,
    ``pivot()`` is worse still: an extra distinct-collect job scans the
    fact table just to discover the columns.)"""

    def col_for(status: str):
        return _r(
            F.sum(F.when(F.col("o_orderstatus") == status, F.col("o_totalprice"))),
            2,
        ).alias(status)

    return (
        t["orders"]
        .withColumn("yr", F.year("o_orderdate").cast("int"))
        .groupBy("yr")
        .agg(*[col_for(s) for s in ("O", "F", "P")])
    )


def merge_upsert(
    target: DataFrame,
    updates: DataFrame,
    key: str,
    set_cols: dict[str, str],
) -> DataFrame:
    """MERGE INTO-style upsert (SCD type 1): apply an updates relation
    to a target table — matched keys take the update's values, unmatched
    updates insert, untouched target rows pass through, each row tagged
    with its action. The incremental-maintenance primitive behind
    keeping a 100TB table current without rewriting it: T1's
    last-write-wins generalized from a stream's state to a stored table.

    One full outer join on the key — both sides shuffle once on the
    same hash, matched rows meet partition-locally. At warehouse scale
    the physical overwrite then targets only the partitions holding
    changed keys (``io.overwrite_partitions``); this operator produces
    the logical merged relation plus the ``action`` audit column that
    decides which partitions those are.

    ``set_cols``: target column -> update-side column providing the new
    value (missing/unmatched fall back to the target's value)."""
    # explicit presence markers — sniffing nulls in data columns would
    # misclassify rows whose real values are null
    t2 = target.withColumn("__in_t", F.lit(1))
    u2 = updates.select(
        F.col(key),
        *[F.col(src).alias(f"__new_{c}") for c, src in set_cols.items()],
    ).withColumn("__in_u", F.lit(1))
    joined = t2.join(u2, on=key, how="full_outer")
    action = (
        F.when(F.col("__in_t").isNotNull() & F.col("__in_u").isNotNull(), "update")
        .when(F.col("__in_u").isNotNull(), "insert")
        .otherwise("keep")
    )
    out_cols = [F.col(key)]
    for c in target.columns:
        if c == key:
            continue
        if c in set_cols:
            out_cols.append(F.coalesce(F.col(f"__new_{c}"), F.col(c)).alias(c))
        else:
            out_cols.append(F.col(c))
    return joined.select(*out_cols, action.alias("action"))


def profile_table(
    df: DataFrame, num_cols: list[str], str_cols: list[str]
) -> DataFrame:
    """ANALYZE-style column profile: per column, null count, exact
    distinct count, and min/max (numeric columns as doubles, string
    columns as strings) — the statistics a catalog keeps so the
    optimizer can size joins and prune scans; here also the drift
    monitor a pipeline diffs between snapshots.

    One aggregate pass; Spark plans the N exact distincts via a single
    Expand (rows x N_cols) + one aggregation — fine into the terabytes.
    At 100TB swap ``countDistinct`` for ``approx_count_distinct`` (the
    HLL sketch path of sketches.py) and keep this exact form as the
    small-SF oracle."""
    from pyspark.sql.functions import broadcast

    from ..io import widen

    plain: list[Column] = [F.count(F.lit(1)).alias("__n")]
    for c in num_cols + str_cols:
        plain.append(F.count(F.when(F.col(c).isNull(), 1)).alias(f"__nn_{c}"))
        plain.append(F.min(c).alias(f"__mn_{c}"))
        plain.append(F.max(c).alias(f"__mx_{c}"))
    dist = [F.countDistinct(c).alias(f"__nd_{c}") for c in num_cols + str_cols]
    # TWO single-purpose aggregates joined at one row, not one combined
    # agg: mixing distinct and plain aggregates makes Catalyst route the
    # plain ones through the N+1x Expand the distincts need — measured
    # 1.2-2.1s combined vs 0.38s plain + 0.54s distinct at sf0.1. Two
    # optimal scans beat one pessimized scan; the approx swap below
    # collapses it back to one.
    wide = widen(df, 8).agg(*plain).crossJoin(broadcast(widen(df, 8).agg(*dist)))
    rows = []
    for c in num_cols:
        rows.append(
            f"struct('{c}' as col, __nn_{c} as n_nulls, __nd_{c} as n_distinct, "
            f"cast(__mn_{c} as double) as min_num, cast(__mx_{c} as double) as max_num, "
            f"cast(null as string) as min_str, cast(null as string) as max_str)"
        )
    for c in str_cols:
        rows.append(
            f"struct('{c}' as col, __nn_{c} as n_nulls, __nd_{c} as n_distinct, "
            f"cast(null as double) as min_num, cast(null as double) as max_num, "
            f"__mn_{c} as min_str, __mx_{c} as max_str)"
        )
    return wide.selectExpr(
        "__n as n_rows", f"inline(array({', '.join(rows)}))"
    ).select(
        "col", "n_rows", "n_nulls", "n_distinct",
        "min_num", "max_num", "min_str", "max_str",
    )


def dq_check(
    df: DataFrame, rules: dict[str, Column], n_rows_alias: str = "n_rows"
) -> DataFrame:
    """Data-quality gate (expectations-lite): evaluate named boolean
    rules over a table in ONE scan and report violations per rule —
    the contract check a pipeline runs before publishing a snapshot.
    Returns long format (rule, n_violations, violation_rate).

    All row-local rules fold into a single partial-agg'd pass
    (conditional counts); cross-table rules (referential integrity)
    and uniqueness need their own join/aggregate and are composed by
    the caller via union — see the registered ``dq_orders`` query."""
    agg = df.agg(
        F.count(F.lit(1)).alias(n_rows_alias),
        *[
            F.count(F.when(~cond, 1)).alias(f"__v_{name}")
            for name, cond in rules.items()
        ],
    )
    stacked = ", ".join(
        f"'{name}', __v_{name}" for name in rules
    )
    return agg.selectExpr(
        f"stack({len(rules)}, {stacked}) as (rule, n_violations)",
        n_rows_alias,
    ).select(
        "rule",
        "n_violations",
        round_half_up(F.col("n_violations") / F.col(n_rows_alias), 6).alias(
            "violation_rate"
        ),
    )


def scd2_history(t: Tables) -> DataFrame:
    """Event stream -> type-2 slowly-changing dimension: one row per
    VALUE CHANGE per key, with its validity interval and version number
    — ``merge_upsert`` keeps only the present (SCD1); this keeps the
    history a temporal join / as-of query needs. The change detection
    is T8's emit-on-change (reducer.go:92-98) applied to a stored
    dimension instead of a sink.

    One user-keyed exchange: the change filter (lag), interval close
    (lead) and version stamp (row_number) are windows over the SAME
    partition+order spec, and the filter between them preserves the
    partitioning, so Catalyst plans a single shuffle+sort. Timestamps
    emitted as epoch seconds (house style: no raw temporal columns in
    oracle-compared output)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    e = t["events"].select("user_id", "value", "ts", "event_id")
    changes = e.withColumn("__prev", F.lag("value").over(w)).where(
        F.col("__prev").isNull() | (F.col("value") != F.col("__prev"))
    )
    return changes.select(
        "user_id",
        "value",
        F.floor(F.col("ts").cast("double")).cast("long").alias("valid_from_s"),
        F.floor(F.lead("ts").over(w).cast("double"))
        .cast("long")
        .alias("valid_to_s"),
        F.row_number().over(w).cast("int").alias("version"),
        F.lead("ts").over(w).isNull().alias("is_current"),
    )


def gap_fill_daily(t: Tables) -> DataFrame:
    """Time-series regularization: per-user daily value series on a
    DENSE calendar spine with forward fill — the resample step every
    as-of join / moving average consumer assumes but raw event data
    never provides (days with no events simply don't exist as rows).

    Shape at scale: the per-(user, day) last value is the T1 LWW window
    (rank over event time, deterministic tie-break); the spine comes
    from a per-user ``sequence(min_day, max_day)`` explode — rows
    bounded by |users| x their own span, never a users x calendar
    crossJoin; the forward fill is a per-user ordered window
    (``last(ignoreNulls)``). Values are carried verbatim (no float
    arithmetic), so the fill is exactly oracle-checkable."""
    e = t["events"].select(
        "user_id", F.to_date("ts").alias("day"), "value", "ts", "event_id"
    )
    w = Window.partitionBy("user_id", "day").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    daily = (
        e.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "day", F.col("value").alias("v"))
    )
    spine = (
        daily.groupBy("user_id")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select("user_id", F.explode(F.sequence("d0", "d1")).alias("day"))
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # day emitted as ISO string: raw DATE columns round-trip as
    # different host dtypes per engine (datetime.date vs datetime64) and
    # trip the exact compare even when values agree
    return spine.join(daily, ["user_id", "day"], "left").select(
        "user_id",
        F.col("day").cast("string").alias("day"),
        F.last("v", ignorenulls=True).over(wf).alias("value_ffill"),
        F.col("v").isNotNull().alias("observed"),
    )


def session_transitions(t: Tables, gap_min: int = 30) -> DataFrame:
    """Clickstream path analysis: sessionize by inactivity gap (a new
    session id whenever a user pauses > ``gap_min``), then count
    consecutive event-type transitions WITHIN sessions — the
    "users who view then click" matrix a product funnel is designed
    from (``funnel_conversion`` tests one fixed path; this surfaces
    them all).

    One user-keyed exchange serves every step: the gap flag (lag), the
    running session id (cumulative sum), and the next-type lookup
    (lead over (user, session)) all need only user co-location —
    Spark's hash partitioning on user_id satisfies the (user, session)
    clustering, so the finer window adds a sort, not a shuffle. The
    transition rollup is the only other exchange, keyed on the tiny
    (from, to) pair domain. Timestamps compare as exact epoch doubles."""
    e = t["events"].select(
        "user_id", "event_id", "event_type", F.col("ts").cast("double").alias("tt")
    )
    w = Window.partitionBy("user_id").orderBy("tt", "event_id")
    gap = F.lit(gap_min * 60.0)
    is_new = (
        F.lag("tt").over(w).isNull() | (F.col("tt") - F.lag("tt").over(w) > gap)
    ).cast("long")
    d = e.withColumn(
        "sid", F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    ws = Window.partitionBy("user_id", "sid").orderBy("tt", "event_id")
    d = d.withColumn("next_type", F.lead("event_type").over(ws))
    return (
        d.where(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("type_from"),
            F.col("next_type").alias("type_to"),
        )
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )


def event_cooccurrence(t: Tables) -> DataFrame:
    """Market-basket support mining over the event stream: for every
    unordered PAIR of event types, how many users did both, and what
    fraction of the user base that is — the association signal behind
    "users who X also Y".

    Shape at scale: one user-keyed aggregate collects each user's
    DISTINCT type set (bounded by |event types|, not their event
    count); the pair expansion is a per-row nested transform over that
    tiny sorted array (<= C(|types|,2) structs — constant, unlike the
    per-gram case) and the pair rollup is the second keyed shuffle.
    The |users| x |types| self-join form the oracle uses would shuffle
    the full distinct relation twice and join it — same answer, one
    more pass."""
    from pyspark.sql.functions import broadcast

    sets = (
        t["events"]
        .groupBy("user_id")
        .agg(F.array_sort(F.collect_set("event_type")).alias("s"))
    )
    # size >= 2 guard: Spark's sequence(1, 0) runs DESCENDING, so a
    # single-type user would index element_at(s, 0) and throw under ANSI
    pairs = sets.where(F.size("s") >= 2).select(
        F.explode(
            F.expr(
                "flatten(transform(sequence(1, size(s) - 1), i -> "
                "transform(sequence(i + 1, size(s)), j -> "
                "named_struct('a', element_at(s, i), 'b', element_at(s, j)))))"
            )
        ).alias("p")
    )
    total = sets.agg(F.count(F.lit(1)).alias("n_users_total"))
    return (
        pairs.select("p.a", "p.b")
        .groupBy(F.col("a").alias("type_a"), F.col("b").alias("type_b"))
        .agg(F.count(F.lit(1)).alias("n_users"))
        .crossJoin(broadcast(total))
        .select(
            "type_a",
            "type_b",
            "n_users",
            round_half_up(F.col("n_users") / F.col("n_users_total"), 6).alias(
                "support"
            ),
        )
    )


def funnel_conversion(
    t: Tables,
    steps: tuple[str, ...] = ("view", "click", "purchase"),
    horizon_s: int = 3600,
) -> DataFrame:
    """Sequential event-pattern matching (MATCH_RECOGNIZE-lite): the
    earliest-transition funnel — per user, the first ``steps[0]``, then
    the first ``steps[1]`` within ``horizon_s`` after it, and so on —
    reported as per-step user counts and conversion rates. The product
    funnel every event pipeline eventually asks of its click stream.

    Shape at scale: one stacked window per step, ALL sharing the same
    user_id partition spec, so Catalyst plans a single user-keyed
    Exchange with the window operators pipelined over it — k funnel
    steps cost one shuffle, not k. Per-user state is a handful of
    timestamps. Timestamps compare as exact epoch doubles (micros fit
    the mantissa), so the staged mins are engine-deterministic and the
    whole pattern match value-hashes against the oracle."""
    w = Window.partitionBy("user_id")
    d = t["events"].select(
        "user_id", "event_type", F.col("ts").cast("double").alias("tt")
    )
    prev: str | None = None
    for i, step in enumerate(steps):
        cond = F.col("event_type") == step
        if prev is not None:
            cond = (
                cond
                & (F.col("tt") >= F.col(prev))
                & (F.col("tt") <= F.col(prev) + horizon_s)
            )
        d = d.withColumn(f"s{i}", F.min(F.when(cond, F.col("tt"))).over(w))
        prev = f"s{i}"
    per_user = d.groupBy("user_id").agg(
        *[F.max(f"s{i}").alias(f"s{i}") for i in range(len(steps))]
    )
    n0 = F.count("s0")
    return per_user.agg(
        *[F.count(f"s{i}").alias(f"n_step{i + 1}") for i in range(len(steps))],
        *[
            round_half_up(F.count(f"s{i}") / n0, 6).alias(f"conv_step{i + 1}")
            for i in range(1, len(steps))
        ],
    )


def cohort_retention(t: Tables) -> DataFrame:
    """Cohort retention over the event stream: users grouped by
    first-activity week (ISO week start — fixtures span days, so weekly
    buckets give a real cohort grid), counted distinct per
    weeks-since-cohort offset. Two aggregates + one join: first-touch
    (groupBy user, min week), distinct activity weeks (pre-aggregated
    BEFORE the join so the join input is |users x weeks|, not |events|),
    then the cohort rollup. All three shuffles key on user_id/cohort —
    at scale the first two reuse one exchange."""
    ev = t["events"]
    wk = F.date_trunc("week", "ts")
    first = ev.groupBy("user_id").agg(F.min(wk).alias("cohort"))
    act = ev.select("user_id", wk.alias("wk")).distinct()
    return (
        act.join(first, on="user_id")
        .groupBy("cohort", "wk")
        .agg(F.count_distinct("user_id").alias("n_users"))
        .select(
            F.date_format("cohort", "yyyy-MM-dd").alias("cohort_week"),
            (F.datediff("wk", "cohort") / 7).cast("int").alias("week_offset"),
            "n_users",
        )
    )


def price_percentiles(t: Tables) -> DataFrame:
    """Exact linear-interpolation percentiles per order status. Spark's
    ``percentile`` (exact, sort-based within each group) matches DuckDB's
    ``quantile_cont``. At 100TB exact percentiles force a per-group sort —
    the scale path is ``approx_percentile`` (t-digest, one pass, mergeable
    sketches); exact is kept here because it is oracle-checkable.
    round_half_up, not F.round: interpolation midpoints land on .5
    boundaries (see module docstring). The single-row-group fixture scan
    is widened to 8 partitions so partial value-buffer collection runs
    in parallel (0.90s -> 0.63s at sf0.1; no-op on real scans)."""
    from ..functions.text import round_half_up
    from ..io import widen

    pct = lambda p: F.percentile("o_totalprice", F.lit(p))
    return (
        widen(t["orders"], 8)
        .groupBy("o_orderstatus")
        .agg(
            round_half_up(pct(0.25), 2).alias("p25"),
            round_half_up(pct(0.5), 2).alias("p50"),
            round_half_up(pct(0.75), 2).alias("p75"),
            round_half_up(pct(0.9), 2).alias("p90"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


def events_asof_latest_order(t: Tables) -> DataFrame:
    """AS-OF join: each event picks the customer's latest order with
    o_orderdate <= event ts (ties: max o_orderkey); events with no prior
    order keep nulls (left as-of).

    Spark has no asof-join operator; the scalable composition is the
    union-and-carry-forward pattern: tag both sides, union, and per key
    carry the last non-null order attributes forward with
    ``last(ignorenulls)`` over an ordered running window. ONE shuffle on
    the join key and a within-partition sort — same cost shape as a
    sort-merge join, never the per-event point lookup a LATERAL subquery
    implies. Sort key (t, kind, o_orderkey) with orders' kind=0 before
    events' kind=1 makes the <= boundary and the tie-break deterministic.
    """
    ev = t["events"].select(
        "user_id",
        F.col("ts").alias("t"),
        F.lit(1).alias("kind"),
        "event_id",
        F.lit(None).cast("long").alias("o_orderkey"),
        F.lit(None).cast("double").alias("o_totalprice"),
    )
    orders = t["orders"].select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").alias("t"),
        F.lit(0).alias("kind"),
        F.lit(None).cast("long").alias("event_id"),
        "o_orderkey",
        "o_totalprice",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t", "kind", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ev.unionByName(orders)
        .withColumn("asof_orderkey", F.last("o_orderkey", ignorenulls=True).over(w))
        .withColumn(
            "asof_totalprice",
            _r(F.last("o_totalprice", ignorenulls=True).over(w), 2),
        )
        .where(F.col("kind") == 1)
        .select(
            "event_id",
            "user_id",
            F.unix_timestamp("t").alias("ts_s"),
            "asof_orderkey",
            "asof_totalprice",
        )
    )


def user_sessions(t: Tables, gap: str = "30 minutes") -> DataFrame:
    """Sessionization: gap-based session windows per user over the events
    stream, via Spark's native ``session_window`` (start = first event,
    end = last event + gap, events merge while closer than the gap).
    Batch and Structured Streaming share this exact operator — the same
    call sessionizes a live stream with a watermark. One shuffle on
    (user_id), session merge inside the aggregate."""
    return (
        t["events"]
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _r(F.sum("value"), 2).alias("session_value"),
        )
        .select(
            "user_id",
            F.unix_timestamp("w.start").alias("session_start_s"),
            F.unix_timestamp("w.end").alias("session_end_s"),
            "n_events",
            "session_value",
        )
    )


ROLLING_N = 3


def _purchases(events: DataFrame) -> DataFrame:
    return events.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.unix_timestamp("ts").alias("ts_s"),
        F.col("event_id").alias("eid"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )


def rolling_spend_batch(events: DataFrame, n: int = ROLLING_N) -> DataFrame:
    """Per user, the sum of the last ``n`` purchase amounts by
    (ts, event_id) order plus the lifetime purchase count — one
    user-keyed shuffle, a bounded last-N window inside it. Integer
    cents end-to-end; the only division (the mean) is rounded once.
    A batch feature-store query beyond the reference, whose only keyed
    state is latest-per-key (knobs.go:101)."""
    p = _purchases(events)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts_s").asc(), F.col("eid").asc())
        .rowsBetween(1 - n, 0)
    )
    wall = Window.partitionBy("user_id")
    ranked = p.select(
        "user_id",
        "ts_s",
        "eid",
        F.sum("cents").over(w).alias("lastn_cents"),
        F.count(F.lit(1)).over(w).cast("long").alias("lastn_len"),
        F.row_number()
        .over(
            Window.partitionBy("user_id").orderBy(
                F.col("ts_s").desc(), F.col("eid").desc()
            )
        )
        .alias("rk"),
        F.count(F.lit(1)).over(wall).cast("long").alias("n_purchases"),
    )
    return ranked.where(F.col("rk") == 1).select(
        "user_id",
        "n_purchases",
        "lastn_cents",
        "lastn_len",
        round_half_up(
            F.col("lastn_cents").cast("double")
            / F.col("lastn_len").cast("double")
            / 100.0,
            4,
        ).alias("lastn_avg"),
    )


def favorite_type_batch(events: DataFrame) -> DataFrame:
    """Per user, the modal event type under the deterministic
    (count DESC, type ASC) tie-break — one keyed rollup plus a
    |users x types|-bounded ranking window."""
    counts = events.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("c").desc(), F.col("event_type").asc()
    )
    wall = Window.partitionBy("user_id")
    return (
        counts.select(
            "user_id",
            "event_type",
            "c",
            F.row_number().over(w).alias("rk"),
            F.sum("c").over(wall).cast("long").alias("n_total"),
        )
        .where(F.col("rk") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("fav_type"),
            F.col("c").alias("n_fav"),
            "n_total",
        )
    )


def streaks_batch(events: DataFrame) -> DataFrame:
    """Per-user purchase streak: the number of CONSECUTIVE calendar
    days, ending at the user's latest purchase day, on which they
    purchased. Same-day repeats don't extend it; a gap day resets it to
    1. Gaps-and-islands over each user's distinct purchase days — the
    streak is the size of the island containing the max day, so the
    answer does not depend on arrival order. One shuffle on user_id;
    everything windows inside it."""
    d = (
        events.where(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("day"),
        )
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("day")
    isl = d.select(
        "user_id",
        "day",
        (F.col("day") - F.row_number().over(w)).alias("island"),
    )
    wi = Window.partitionBy("user_id")
    agg = (
        isl.groupBy("user_id", "island")
        .agg(
            F.count(F.lit(1)).cast("long").alias("len"),
            F.max("day").alias("last_day"),
        )
        .withColumn("mx", F.max("last_day").over(wi))
        .where(F.col("last_day") == F.col("mx"))
    )
    return agg.select(
        "user_id", F.col("len").alias("streak"), "last_day"
    )


def orders_above_customer_avg(t: Tables) -> DataFrame:
    """Correlated scalar subquery shape — each order vs its customer's
    average order value — expressed directly as the decorrelated plan
    Catalyst would produce anyway: one window aggregate over the
    customer partition, then a filter. No join, ONE shuffle."""
    w = Window.partitionBy("o_custkey")
    cust_avg = (
        # decimal window sum / count, not F.avg: an order priced EXACTLY
        # at its customer's true average sits on the > boundary, where
        # double summation-order noise would make membership
        # engine/run-dependent
        F.sum(_dec("o_totalprice")).over(w).cast("double")
        / F.count(F.lit(1)).over(w)
    )
    return (
        t["orders"]
        .withColumn("cust_avg", cust_avg)
        .where(F.col("o_totalprice") > F.col("cust_avg"))
        .select(
            "o_orderkey",
            "o_custkey",
            _r(F.col("o_totalprice"), 2).alias("totalprice"),
            round_half_up(F.col("cust_avg"), 4).alias("cust_avg"),
        )
    )


def promo_revenue_share(t: Tables) -> DataFrame:
    """LIKE pattern + conditional aggregation (TPC-H Q14 shape): monthly
    share of revenue from promo parts. The CASE WHEN rides inside the
    sum, so one scan + one broadcast dim join + one shuffle."""
    rev = _rev()
    promo = F.when(F.col("p_type").like("PROMO%"), rev).otherwise(
        F.lit(0).cast("decimal(18,4)")
    )
    return (
        t["lineitem"]
        .join(broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(
            F.year("l_shipdate").alias("yr"), F.month("l_shipdate").alias("mo")
        )
        .agg(
            round_half_up(
                F.sum(promo).cast("double") / F.sum(rev).cast("double") * 100.0,
                4,
            ).alias("promo_pct"),
            _dsum(rev).alias("revenue"),
        )
    )


def ship_latency_by_priority(t: Tables) -> DataFrame:
    """Date arithmetic: order-date -> ship-date latency in days, summarized
    per order priority (datediff + avg/max/min in one aggregate)."""
    lat = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    return (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.round(F.avg(lat), 4).alias("avg_days"),
            F.min(lat).alias("min_days"),
            F.max(lat).alias("max_days"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


def customer_spend_quartiles(t: Tables) -> DataFrame:
    """NTILE ranking: customers bucketed into spend quartiles (per-nation
    partitions so the sort stays within one shuffle's partitions)."""
    # decimal sum: equal lifetime spends must compare EQUAL so the ntile
    # tie-break (custkey) is what orders them, not double noise
    spend = (
        t["orders"]
        .groupBy("o_custkey")
        .agg(_dsum(_dec("o_totalprice")).alias("spend"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
    )
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("spend").desc(), F.col("o_custkey").asc()
    )
    return spend.select(
        "o_custkey",
        F.col("c_nationkey").cast("int").alias("nationkey"),
        "spend",
        F.ntile(4).over(w).alias("quartile"),
    )


def customer_moving_avg(t: Tables, days: int = 30) -> DataFrame:
    """RANGE-frame analytic window: per order, the customer's average
    order value over the trailing ``days`` (event-time range, not row
    count — same-day peer rows all join the frame, so the result is
    order-independent and deterministic). One shuffle on o_custkey +
    in-partition sort, same cost shape as any per-key window."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp("o_orderdate"))
        .rangeBetween(-days * 86400, 0)
    )
    # decimal frame sum / frame count (not F.avg): engines accumulate
    # window frames in different orders; the exact decimal sum makes the
    # average one deterministic IEEE division
    mavg = F.sum(_dec("o_totalprice")).over(w).cast("double") / F.count(
        F.lit(1)
    ).over(w)
    return t["orders"].select(
        "o_orderkey",
        "o_custkey",
        F.unix_timestamp("o_orderdate").alias("ts_s"),
        round_half_up(mavg, 4).alias(f"mavg{days}"),
    )


def global_top_spenders(t: Tables, k: int = 25) -> DataFrame:
    """Global top-k AFTER an aggregation: per-customer lifetime spend,
    top 25. TakeOrderedAndProject keeps this O(k) per partition."""
    return (
        t["orders"]
        .groupBy("o_custkey")
        .agg(_r(F.sum("o_totalprice"), 2).alias("lifetime_spend"))
        .orderBy(F.col("lifetime_spend").desc(), F.col("o_custkey").asc())
        .limit(k)
    )


def cheapest_supplier(t: Tables) -> DataFrame:
    """TPC-H Q2 shape — per-part argmin over suppliers (lineitem stands
    in for partsupp in this schema: cost = the lowest extended price a
    supplier has quoted for the part).

    Plan: NOT the textbook correlated subquery, which scans the fact
    table twice (once per part for the min, once to match it). Instead a
    composite-key partial aggregate collapses the fact map-side, then ONE
    shuffle on l_partkey drives a struct-min argmin: ``min(struct(cost,
    suppkey))`` compares lexicographically, so equal costs deterministically
    break ties toward the smaller supplier key — no second scan, no
    re-join on the min value. Name/nation decoration joins are broadcast
    dims after the aggregate, so they touch |parts| rows, not |lineitem|."""
    ps = (
        t["lineitem"]
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min("l_extendedprice").alias("cost"))
    )
    best = (
        ps.groupBy("l_partkey")
        .agg(F.min(F.struct("cost", "l_suppkey")).alias("b"))
        .select(
            F.col("l_partkey").alias("partkey"),
            F.col("b.l_suppkey").alias("suppkey"),
            _r(F.col("b.cost"), 2).alias("min_cost"),
        )
    )
    return (
        best.join(broadcast(t["part"]), F.col("partkey") == F.col("p_partkey"))
        .join(broadcast(t["supplier"]), F.col("suppkey") == F.col("s_suppkey"))
        .join(broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            "partkey",
            "p_brand",
            "suppkey",
            "s_name",
            F.col("n_name").alias("supp_nation"),
            "min_cost",
        )
    )


def nation_trade_volume(t: Tables) -> DataFrame:
    """TPC-H Q7 shape — bilateral trade volume: revenue per (supplier
    nation, customer nation, order year), cross-border pairs only.

    The same dimension table (nation) decorates BOTH fact paths: each
    side pre-joins its tiny chain (supplier⨝nation, customer⨝nation)
    into a broadcast, so lineitem is touched once and the only big
    exchange is lineitem⨝orders on the order key. At 100TB customer
    outgrows the broadcast and AQE falls back to a shuffle join on
    o_custkey; the supplier side stays broadcast at any realistic SF."""
    supp_nation = broadcast(
        t["supplier"]
        .join(broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust_nation = broadcast(
        t["customer"]
        .join(broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    return (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(supp_nation, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(cust_nation, F.col("o_custkey") == F.col("c_custkey"))
        .where(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation", "cust_nation", F.year("o_orderdate").alias("o_year")
        )
        .agg(
            # DECIMAL, not double, for the money sum: with thousands of
            # small groups, exact half-cent totals are common, and a
            # double sum's engine-dependent ordering noise (~1 ulp) flips
            # them across the rounding boundary. Decimal sums are exact
            # and order-independent, so rounding is deterministic — the
            # arithmetic TPC-H specifies for money in the first place.
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(18,4)")
                    * (
                        F.lit(1).cast("decimal(6,4)")
                        - F.col("l_discount").cast("decimal(6,4)")
                    )
                ),
                2,
            )
            .cast("double")
            .alias("volume"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


def large_orders(t: Tables, min_qty: float = 200.0) -> DataFrame:
    """TPC-H Q18 shape — orders whose total quantity clears a threshold,
    decorated with their customer.

    The IN-(GROUP BY ... HAVING) subquery is expressed directly as
    aggregate-then-join: the lineitem aggregate reduces to |orders| rows
    BEFORE any join, the HAVING filter cuts that to the rare heavy tail
    (~p90+ of orders), and only then do orders/customer attach — the
    join input is thousands of rows per 100M orders, not the fact table.
    Catalyst plans the IN-subquery formulation identically (semi-join on
    the aggregate), so the explicit form costs nothing and reads better."""
    big = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(_r(F.sum("l_quantity"), 2).alias("total_qty"))
        .where(F.col("total_qty") > F.lit(min_qty))
    )
    return (
        t["orders"]
        .join(big, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "o_orderkey",
            "o_custkey",
            "c_name",
            F.unix_timestamp("o_orderdate").alias("o_orderdate_s"),
            _r(F.col("o_totalprice"), 2).alias("totalprice"),
            "total_qty",
        )
    )


def customer_order_distribution(t: Tables) -> DataFrame:
    """TPC-H Q13 shape — histogram of engagement: how many customers
    placed exactly N orders (N=0 included via the left join).

    Two-level aggregate: count orders per customer (one shuffle on
    custkey, the left join preserving order-less customers), then count
    customers per order-count (second shuffle on the tiny histogram
    key). The second exchange carries |customers| pre-aggregated rows,
    not orders; at 100TB both levels stay partial-aggregated map-side."""
    per_cust = (
        t["customer"]
        .join(
            t["orders"].select("o_custkey", "o_orderkey"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


def idle_rich_customers(t: Tables, since: str = "1999-01-01") -> DataFrame:
    """TPC-H Q22 shape — positive-balance customers above the average
    positive balance with no recent orders, summarized per nation.

    The scalar avg subquery is ONE tiny aggregate broadcast as a 1-row
    cross join (Catalyst's plan for scalar subqueries) — not a rescan
    per row; the "no recent orders" predicate is a left ANTI join that
    shuffles only keys. Balance sums aggregate in DECIMAL (exact
    boundary-free rounding; see module helpers)."""
    avg_bal = (
        t["customer"]
        .where(F.col("c_acctbal") > 0)
        .agg(
            (
                F.sum(_dec("c_acctbal")).cast("double") / F.count(F.lit(1))
            ).alias("__avg_bal")
        )
    )
    recent = t["orders"].where(F.col("o_orderdate") >= F.lit(since))
    return (
        t["customer"]
        .join(broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("__avg_bal"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy(F.col("c_nationkey").cast("int").alias("nationkey"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            _dsum(_dec("c_acctbal")).alias("total_bal"),
        )
    )


def order_gaps(t: Tables) -> DataFrame:
    """Navigation-function window analytics: per order, the customer's
    previous/next order dates (lag/lead), days since previous, and the
    customer's first/last order value — purchase-cadence features for
    churn/LTV models.

    One shuffle on o_custkey serves all five functions: Spark computes
    every window expression sharing a (partition, order) spec in a
    single WindowExec pass over the sorted partition. first/last use the
    full-partition frame (unboundedPreceding..unboundedFollowing) so
    they are true firsts/lasts, not running ones."""
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    prev_d = F.lag("o_orderdate").over(w)
    next_d = F.lead("o_orderdate").over(w)
    return t["orders"].select(
        "o_orderkey",
        "o_custkey",
        F.unix_timestamp("o_orderdate").alias("ts_s"),
        F.unix_timestamp(prev_d).alias("prev_ts_s"),
        F.unix_timestamp(next_d).alias("next_ts_s"),
        F.datediff(F.col("o_orderdate"), prev_d).alias("days_since_prev"),
        _r(F.first("o_totalprice").over(wf), 2).alias("first_value_spend"),
        _r(F.last("o_totalprice").over(wf), 2).alias("last_value_spend"),
    )


def important_parts(t: Tables, share: float = 0.0008) -> DataFrame:
    """TPC-H Q11 shape — groups exceeding a fraction of a GLOBAL
    aggregate: parts whose revenue clears ``share`` of total revenue.

    The global total is the same per-part aggregate re-reduced — Spark
    computes it as a second tiny aggregate over the |parts|-sized
    intermediate (NOT a second fact-table scan) and broadcasts the one
    row back. Both sums are exact DECIMAL, so the share predicate —
    a knife-edge comparison by construction — is engine- and
    run-deterministic."""
    per_part = (
        t["lineitem"]
        .groupBy("l_partkey")
        .agg(F.sum(_rev()).alias("rev_d"))
    )
    total = per_part.agg(F.sum("rev_d").alias("total_d"))
    return (
        per_part.join(broadcast(total))
        .where(
            F.col("rev_d").cast("double")
            > F.col("total_d").cast("double") * F.lit(share)
        )
        .select(
            F.col("l_partkey").alias("partkey"),
            F.round(F.col("rev_d"), 2).cast("double").alias("revenue"),
            round_half_up(
                F.col("rev_d").cast("double")
                / F.col("total_d").cast("double"),
                6,
            ).alias("rev_share"),
        )
    )


def q6_forecast_revenue(t: Tables) -> DataFrame:
    """TPC-H Q6 shape — the pure scan-filter-aggregate: revenue delta
    from dropping discounts in a band, one output row.

    Every predicate (date range, discount band, quantity cap) pushes to
    the parquet scan (plan-asserted), so at 100TB the query reads only
    row groups whose min/max stats overlap the band — the canonical
    'filters belong in the scan' query. Revenue product sums in exact
    DECIMAL like every money aggregate here."""
    l = t["lineitem"].where(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return l.agg(
        _dsum(_dec("l_extendedprice") * _dec("l_discount")).alias("revenue"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def returned_revenue_customers(t: Tables, k: int = 20) -> DataFrame:
    """TPC-H Q10 shape — top customers by revenue on RETURNED items: the
    'who is sending things back' report. Fact filtered on returnflag
    first (pushed to the scan), aggregated per customer BEFORE the
    decoration joins, then a global top-k via TakeOrderedAndProject —
    the join input is |customers-with-returns| rows, never the fact
    table, and no global sort materializes."""
    returned = t["lineitem"].where(F.col("l_returnflag") == "R")
    per_cust = (
        returned.join(
            t["orders"].select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_custkey")
        .agg(
            _dsum(_rev()).alias("ret_revenue"),
            F.count(F.lit(1)).alias("n_returned_items"),
        )
    )
    return (
        per_cust.join(
            broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey")
        )
        .join(broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .orderBy(F.col("ret_revenue").desc(), F.col("o_custkey").asc())
        .limit(k)
        .select(
            "o_custkey",
            "c_name",
            F.col("n_name").alias("nation"),
            "ret_revenue",
            "n_returned_items",
        )
    )


def q4_priority_exists(t: Tables) -> DataFrame:
    """TPC-H Q4 shape — order-priority checking via EXISTS: count orders
    in a 6-month window having at least one line shipped AFTER the order
    date (a late line). The reference has no joins at all (SURVEY.md
    section 2.6); this pins the semi-join-with-residual shape.

    Spark plan: LEFT SEMI join on the equi key (l_orderkey=o_orderkey)
    with the non-equi `l_shipdate > o_orderdate` as the join residual —
    the probe side is deduplicated by the semi join itself, so no
    distinct is needed and each order is counted once no matter how many
    late lines it has. At 100TB both sides shuffle on orderkey once;
    the 6-month o_orderdate filter pushes to the orders scan."""
    o = t["orders"].where(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-07-01"))
    )
    late = o.join(
        t["lineitem"].select("l_orderkey", "l_shipdate"),
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


def q8_market_share(t: Tables, region: str = "AMERICA",
                    nation: str = "NATION_3") -> DataFrame:
    """TPC-H Q8 shape — market share: of all revenue from lineitems sold
    to customers in `region`, the fraction supplied by `nation`, per
    order year. Two independent nation decodes (customer side filters the
    region, supplier side tags the share numerator) — the classic
    'same dimension joined twice under different roles' query.

    Both nation/region dims broadcast at any SF. The share is a
    conditional decimal sum over the same aggregate pass (one shuffle,
    no self-join): sum(case supplier-nation)/sum(all), divided once as
    doubles after exact decimal summation, so the ratio is deterministic
    cross-engine."""
    cust_nation = broadcast(
        t["customer"]
        .join(
            broadcast(t["nation"].select("n_nationkey", "n_regionkey")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            broadcast(
                t["region"].where(F.col("r_name") == region)
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("c_custkey")
    )
    supp_nation = broadcast(
        t["supplier"]
        .join(
            broadcast(
                t["nation"].select(
                    "n_nationkey", F.col("n_name").alias("supp_nation")
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "supp_nation")
    )
    rev = _rev()
    return (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust_nation, F.col("o_custkey") == F.col("c_custkey"))
        .join(supp_nation, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            round_half_up(
                F.sum(
                    F.when(F.col("supp_nation") == nation, rev).otherwise(
                        _dec(F.lit(0.0))
                    )
                ).cast("double")
                / F.sum(rev).cast("double"),
                6,
            ).alias("mkt_share"),
            _dsum(rev).alias("total_revenue"),
        )
    )


def q9_product_profit(t: Tables, name_like: str = "%widget%") -> DataFrame:
    """TPC-H Q9 shape — product-type profit by supplier nation and year.
    The fixtures have no partsupp/ps_supplycost, so cost is modeled as
    half the part's retail price per unit: profit = disc-revenue -
    0.5 * p_retailprice * l_quantity, all in exact DECIMAL.

    The p_name LIKE filter prunes part BEFORE the fact join (broadcast),
    so the fact scan is joined against only matching parts — at 100TB
    the selective dim filter is the whole game; the grouped shuffle is
    |nations x years| rows."""
    parts = broadcast(
        t["part"]
        .where(F.col("p_name").like(name_like))
        .select("p_partkey", "p_retailprice")
    )
    supp_nation = broadcast(
        t["supplier"]
        .join(
            broadcast(
                t["nation"].select("n_nationkey", F.col("n_name").alias("nation"))
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "nation")
    )
    # Lattice-tight casts: (2,1)*(12,2)*(12,2) -> DECIMAL(28,5) and the
    # subtraction stays DECIMAL(32,8) — inside Spark's 38-digit ceiling,
    # so no allowPrecisionLoss truncation at ANY magnitude. The naive
    # (6,4)*(18,4)*(18,4) needs precision 44 and silently rounds to
    # DECIMAL(38,6). Fixture lattices: p_retailprice 1dp <= 999.9,
    # l_quantity integer <= 50 — (12,2) holds both with headroom.
    half = F.lit(0.5).cast("decimal(2,1)")
    profit = (
        _rev()
        - half
        * F.col("p_retailprice").cast("decimal(12,2)")
        * F.col("l_quantity").cast("decimal(12,2)")
    )
    return (
        t["lineitem"]
        .join(parts, F.col("l_partkey") == F.col("p_partkey"))
        .join(supp_nation, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            t["orders"].select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("nation", F.year("o_orderdate").alias("o_year"))
        .agg(_dsum(profit).alias("sum_profit"), F.count(F.lit(1)).alias("n_rows"))
    )


def q12_priority_class_counts(t: Tables) -> DataFrame:
    """TPC-H Q12 shape — two-way conditional counts: lines shipped in one
    year, grouped by return flag, split into critical-priority
    (1-URGENT/2-HIGH) vs other order counts. The fixtures have no
    l_shipmode, so l_returnflag is the grouping axis.

    CASE-sum inside one aggregate pass: a single fact+orders shuffle
    join on orderkey, no second pass per class. The ship-date year
    filter pushes to the fact scan."""
    l = t["lineitem"].where(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    crit = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(
            t["orders"].select("o_orderkey", "o_orderpriority"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(crit, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(crit, 0).otherwise(1)).alias("low_line_count"),
        )
    )


def q15_top_supplier(t: Tables) -> DataFrame:
    """TPC-H Q15 shape — the supplier(s) with maximum revenue over one
    quarter: aggregate per supplier, then keep the max via an empty-frame
    analytic max (Spark plans a single-partition window over the
    |suppliers| aggregate — fine, because that input is dimension-sized,
    NOT the fact table). Revenue is exact decimal, so 'equals max' is a
    deterministic comparison, not a float coin-flip."""
    per_supp = (
        t["lineitem"]
        .where(
            (F.col("l_shipdate") >= F.lit("1997-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-04-01"))
        )
        .groupBy("l_suppkey")
        .agg(F.sum(_rev()).alias("rev_dec"))
    )
    w = Window.partitionBy()
    top = per_supp.withColumn("max_rev", F.max("rev_dec").over(w)).where(
        F.col("rev_dec") == F.col("max_rev")
    )
    return top.join(
        broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey")
    ).select(
        "s_suppkey",
        "s_name",
        F.round(F.col("rev_dec"), 2).cast("double").alias("total_revenue"),
    )


def q16_supplier_variety(t: Tables) -> DataFrame:
    """TPC-H Q16 shape — how many distinct suppliers can ship each part
    profile (brand, type, size), excluding one brand, one type, and
    suppliers with negative account balance (the 'complaints' anti-list;
    fixtures have no comment column).

    The anti-list is a broadcast LEFT ANTI join (never NOT IN's
    null-trap semantics); part filters prune the broadcast dim before
    the fact join; count(DISTINCT supplier) shuffles (profile, suppkey)
    pairs — already deduplicated map-side by the partial distinct."""
    parts = broadcast(
        t["part"].where(
            (F.col("p_brand") != "Brand#5")
            & (F.col("p_type") != "PROMO")
            & F.col("p_size").isin(1, 4, 9, 14, 19, 24, 29, 34)
        )
    )
    bad_supp = broadcast(
        t["supplier"].where(F.col("s_acctbal") < 0).select("s_suppkey")
    )
    return (
        t["lineitem"]
        .select("l_partkey", "l_suppkey")
        .join(parts, F.col("l_partkey") == F.col("p_partkey"))
        .join(bad_supp, F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


def q17_small_qty_revenue(t: Tables, brand: str = "Brand#3") -> DataFrame:
    """TPC-H Q17 shape — revenue lost to small orders: average yearly
    revenue from lines of one brand whose quantity is below 20% of that
    part's average quantity. The correlated scalar subquery becomes a
    per-part aggregate joined back to the fact (both sides filtered to
    the brand's partkeys first, so at 100TB this is two passes over a
    brand-sized slice, not the whole fact table).

    The threshold 0.2*avg is computed identically on both engines:
    exact decimal sum cast to double, divided by the count, times 0.2 —
    one multiply and one divide on identical operands."""
    brand_parts = broadcast(
        t["part"].where(F.col("p_brand") == brand).select("p_partkey")
    )
    l = t["lineitem"].join(
        brand_parts, F.col("l_partkey") == F.col("p_partkey")
    )
    per_part_avg = l.groupBy(F.col("l_partkey").alias("ap_partkey")).agg(
        (
            F.lit(0.2)
            * (
                F.sum(_dec("l_quantity")).cast("double")
                / F.count(F.lit(1))
            )
        ).alias("qty_threshold")
    )
    small = l.join(
        broadcast(per_part_avg), F.col("l_partkey") == F.col("ap_partkey")
    ).where(F.col("l_quantity") < F.col("qty_threshold"))
    return small.agg(
        round_half_up(
            F.sum(_dec("l_extendedprice")).cast("double") / F.lit(7.0), 2
        ).alias("avg_yearly"),
        F.count(F.lit(1)).alias("n_small_lines"),
    )


def q19_disjunctive_revenue(t: Tables) -> DataFrame:
    """TPC-H Q19 shape — revenue under a disjunction of brand/size/
    quantity conjunct groups. The point is the plan: Catalyst keeps the
    whole OR as one predicate evaluated in a single scan+broadcast-join
    pass (no union of three subqueries), and the common conjuncts it can
    factor (the join key) still push down. One output row; exact decimal
    sum."""
    p, l = t["part"], t["lineitem"]
    joined = l.join(broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
    branch1 = (
        (F.col("p_brand") == "Brand#1")
        & (F.col("p_size").between(1, 15))
        & (F.col("l_quantity").between(1, 20))
    )
    branch2 = (
        (F.col("p_brand") == "Brand#2")
        & (F.col("p_size").between(1, 25))
        & (F.col("l_quantity").between(10, 30))
    )
    branch3 = (
        (F.col("p_brand") == "Brand#3")
        & (F.col("p_size").between(1, 35))
        & (F.col("l_quantity").between(20, 40))
    )
    return joined.where(branch1 | branch2 | branch3).agg(
        _dsum(_rev()).alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


def q21_waiting_suppliers(t: Tables, days_late: int = 60) -> DataFrame:
    """TPC-H Q21 shape — suppliers who kept multi-supplier orders
    waiting: count, per supplier, the completed ('F') orders where this
    supplier shipped a line more than `days_late` days after the order
    date, at least one OTHER supplier also has a line in the order
    (EXISTS), and no OTHER supplier was equally late (NOT EXISTS). The
    fixtures have no commit/receipt dates, so 'late' is
    l_shipdate > o_orderdate + days_late.

    Plan: one pass computes per-(order, supplier) flags (any-line,
    any-late-line) from the fact table; an analytic count over the order
    then answers both EXISTS and NOT EXISTS without self-joining the
    fact table twice — two shuffles total (orderkey, then supplier
    agg), versus the literal form's three fact joins."""
    l = t["lineitem"].join(
        t["orders"].where(F.col("o_orderstatus") == "F").select(
            "o_orderkey", "o_orderdate"
        ),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        f"INTERVAL {days_late} DAYS"
    )
    per_os = l.groupBy("o_orderkey", "l_suppkey").agg(
        F.max(F.when(late, 1).otherwise(0)).alias("was_late")
    )
    w = Window.partitionBy("o_orderkey")
    flagged = per_os.select(
        "o_orderkey",
        "l_suppkey",
        "was_late",
        F.count(F.lit(1)).over(w).alias("n_supps"),
        F.sum("was_late").over(w).alias("n_late_supps"),
    )
    return (
        flagged.where(
            (F.col("was_late") == 1)
            & (F.col("n_supps") > 1)
            & (F.col("n_late_supps") == 1)
        )
        .join(
            broadcast(t["supplier"].select("s_suppkey", "s_name")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


def q20_dominant_suppliers(t: Tables, name_like: str = "red%") -> DataFrame:
    """TPC-H Q20 shape — suppliers holding a dominant position on a part
    family: for parts whose name matches `name_like`, find suppliers
    whose 1997 shipped quantity of some such part exceeds half of ALL
    suppliers' 1997 shipped quantity of that part. The fixtures have no
    partsupp/ps_availqty, so 'dominance over shipped volume' replaces
    'stock exceeds half the shipped volume'; the nested-aggregate +
    semi-join plan shape is the same.

    Plan: ONE pass builds per-(part, supplier) quantities over the
    name-filtered slice; a window sum per part gives the denominator
    without a second fact scan; the qualifying (part, supplier) pairs
    then semi-join supplier. Quantities aggregate in exact DECIMAL so
    the half-share knife-edge is deterministic."""
    parts = broadcast(
        t["part"].where(F.col("p_name").like(name_like)).select("p_partkey")
    )
    per_ps = (
        t["lineitem"]
        .where(
            (F.col("l_shipdate") >= F.lit("1997-01-01"))
            & (F.col("l_shipdate") < F.lit("1998-01-01"))
        )
        .join(parts, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(_dec("l_quantity")).alias("qty_dec"))
    )
    w = Window.partitionBy("l_partkey")
    dominant = (
        per_ps.withColumn("part_total", F.sum("qty_dec").over(w))
        .where(
            F.col("qty_dec") * F.lit(2).cast("decimal(2,0)")
            > F.col("part_total")
        )
        .select("l_suppkey")
        .distinct()
    )
    return (
        t["supplier"]
        .join(dominant, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name", F.col("s_nationkey").cast("int").alias("s_nationkey"))
    )


def unpivot_event_metrics(t: Tables) -> DataFrame:
    """Unpivot (melt): wide per-event metrics -> long (event_id, metric,
    val) rows — the inverse of pivot, used to normalize feature columns
    into a metric store shape. Spark's ``unpivot`` plans an Expand node
    (each input row emitted once per value column) — a map-only
    transform: no shuffle, no join, fully codegen'd, so at 100TB it is
    scan-speed. Metric values ride as-is (doubles); the JSON-sourced k
    is extracted once before the Expand."""
    ev = t["events"].select(
        "event_id",
        F.col("value"),
        F.get_json_object("props", "$.k").cast("double").alias("k"),
    )
    return ev.unpivot(
        ids=["event_id"],
        values=["value", "k"],
        variableColumnName="metric",
        valueColumnName="val",
    ).where(F.col("val").isNotNull())
    # explicit NULL drop: Spark's unpivot keeps null vals, SQL UNPIVOT
    # (DuckDB/ANSI) excludes them by default — pin one semantics


def association_rules(t: Tables) -> DataFrame:
    """Directed association rules a -> b over per-user event-type
    baskets: support (both / all users), confidence (both / antecedent
    users), lift (confidence / consequent base rate) — the classic
    market-basket triple, extending ``event_cooccurrence``'s support-
    only view.

    Shape at scale: same bounded set-expansion as event_cooccurrence —
    one user-keyed aggregate to a per-user DISTINCT type array, then
    DIRECTED pairs from a single ordered i!=j expansion (<= |types|^2
    structs per row, constant) so no union-of-orientations re-runs the
    pair aggregate. The sets relation feeds three aggregates (pairs,
    per-type counts, user total) and is checkpointed so the user-keyed
    shuffle runs once, not per consumer (nominal plan: 10 keyed
    exchanges -> 5). Everything joins back broadcast (|types|-sized
    dims). The |users| x |types| self-join the oracle uses would
    shuffle the distinct relation twice for the same answer.

    Ratios are single divisions of integer products, rounded HALF_UP
    with the multiplication order mirrored op-for-op in the oracle —
    exact cross-engine. Integer products bound the exactness domain:
    n_both * n_users stays exact to 2^53 (~9e15), plenty under the
    |users| ~ 1e9 design point with bounded |types|.
    """
    from pyspark.sql.functions import broadcast

    sets = (
        t["events"]
        .groupBy("user_id")
        .agg(F.array_sort(F.collect_set("event_type")).alias("s"))
        .localCheckpoint(eager=False)
    )
    directed = (
        sets.where(F.size("s") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(sequence(1, size(s)), i -> "
                    "transform(filter(sequence(1, size(s)), j -> j != i), j -> "
                    "named_struct('a', element_at(s, i), 'b', element_at(s, j)))))"
                )
            ).alias("p")
        )
        .groupBy(
            F.col("p.a").alias("antecedent"), F.col("p.b").alias("consequent")
        )
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    singles = (
        sets.select(F.explode("s").alias("tpe"))
        .groupBy("tpe")
        .agg(F.count(F.lit(1)).alias("n_t"))
    )
    total = sets.agg(F.count(F.lit(1)).alias("n_users"))
    return (
        directed.join(
            broadcast(singles.select(F.col("tpe").alias("antecedent"),
                                     F.col("n_t").alias("n_a"))),
            "antecedent",
        )
        .join(
            broadcast(singles.select(F.col("tpe").alias("consequent"),
                                     F.col("n_t").alias("n_b"))),
            "consequent",
        )
        .crossJoin(broadcast(total))
        .select(
            "antecedent",
            "consequent",
            "n_both",
            round_half_up(F.col("n_both") / F.col("n_users"), 6).alias("support"),
            round_half_up(F.col("n_both") / F.col("n_a"), 6).alias("confidence"),
            round_half_up(
                F.col("n_both") * F.lit(1.0) * F.col("n_users")
                / (F.col("n_a") * F.col("n_b")),
                6,
            ).alias("lift"),
        )
    )


def user_value_summary(events: DataFrame) -> DataFrame:
    """The mergeable per-user aggregate state ``aggregate_upsert``
    maintains: count, exact micro-unit value sum (floor(value * 1e6)
    as int64 — order-free integer addition where a double sum is
    summation-order-dependent and can never match across engines),
    min/max. One keyed shuffle with map-side partial aggregation."""
    return events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.expr("CAST(floor(value * 1e6) AS BIGINT)")).alias("sum_micro"),
        F.min("value").alias("min_v"),
        F.max("value").alias("max_v"),
    )


def aggregate_upsert(state: DataFrame, delta: DataFrame) -> DataFrame:
    """Incremental aggregate maintenance: merge a stored per-key
    aggregate STATE with a new batch's DELTA aggregate so the rollup
    stays current without rescanning history — the incremental-view-
    maintenance primitive behind any 100TB "metrics by key" table
    (``merge_upsert`` maintains latest-value tables; this maintains
    ADDITIVE ones). Every statistic is a commutative monoid (count and
    integer sums add, min/max combine), so

        aggregate_upsert(summary(old), summary(new)) == summary(all)

    EXACTLY — that recompute-equivalence is the registered query's
    oracle contract, hash-checked by the driver. One full outer join on
    the key; both sides shuffle once on the same hash. At scale the
    delta side is a micro-batch — broadcast-joinable — and the physical
    write targets only partitions holding changed keys."""
    s = state.select(
        "user_id",
        F.col("cnt").alias("__s_cnt"),
        F.col("sum_micro").alias("__s_sum"),
        F.col("min_v").alias("__s_min"),
        F.col("max_v").alias("__s_max"),
    )
    d = delta.select(
        "user_id",
        F.col("cnt").alias("__d_cnt"),
        F.col("sum_micro").alias("__d_sum"),
        F.col("min_v").alias("__d_min"),
        F.col("max_v").alias("__d_max"),
    )
    j = s.join(d, "user_id", "full_outer")
    z = F.lit(0).cast("long")
    return j.select(
        "user_id",
        (F.coalesce("__s_cnt", z) + F.coalesce("__d_cnt", z)).alias("cnt"),
        (F.coalesce("__s_sum", z) + F.coalesce("__d_sum", z)).alias("sum_micro"),
        F.least("__s_min", "__d_min").alias("min_v"),
        F.greatest("__s_max", "__d_max").alias("max_v"),
    )


def kanon_violations(
    df: DataFrame, quasi_cols: list, k: int = 5
) -> DataFrame:
    """k-anonymity audit: quasi-identifier combinations shared by fewer
    than ``k`` rows — each is a re-identification risk the release
    gate must generalize or suppress (the governance pass a training
    corpus with user-derived tables runs before publication; the PII
    scrub removes direct identifiers, this catches the INDIRECT ones).

    One keyed shuffle on the QI tuple with map-side partial counts;
    the violation report is at most |small groups| rows, tiny by
    definition. Generalization (banding a continuous column) happens
    in the caller's projection — it is part of the QI definition."""
    return (
        df.groupBy(*quasi_cols)
        .agg(F.count(F.lit(1)).alias("group_size"))
        .where(F.col("group_size") < k)
    )


def profile_drift(
    old: DataFrame,
    new: DataFrame,
    num_cols: list[str],
    str_cols: list[str],
) -> DataFrame:
    """Snapshot-over-snapshot drift report: ``profile_table`` of two
    table versions joined per column, with integer deltas and a
    drifted flag — the monitor that catches schema-preserving data
    regressions (an upstream feed going quiet shows up as n_rows and
    distinct-count deltas long before any query breaks).

    Drift criteria are integer/exact only (row count, null count,
    distinct count, string bound changes); numeric bound deltas are
    reported as values, not ratios, so the whole report stays
    bit-reproducible. Costs the two profile scans — at 100TB both
    profiles come from the stored catalog stats, and this is a
    |columns|-row join."""
    p_old = profile_table(old, num_cols, str_cols).select(
        "col",
        F.col("n_rows").alias("rows_old"),
        F.col("n_nulls").alias("nulls_old"),
        F.col("n_distinct").alias("dist_old"),
        F.col("min_num").alias("min_old"),
        F.col("max_num").alias("max_old"),
        F.col("min_str").alias("minstr_old"),
        F.col("max_str").alias("maxstr_old"),
    )
    p_new = profile_table(new, num_cols, str_cols).select(
        "col",
        F.col("n_rows").alias("rows_new"),
        F.col("n_nulls").alias("nulls_new"),
        F.col("n_distinct").alias("dist_new"),
        F.col("min_num").alias("min_new"),
        F.col("max_num").alias("max_new"),
        F.col("min_str").alias("minstr_new"),
        F.col("max_str").alias("maxstr_new"),
    )
    j = p_old.join(p_new, "col")
    bounds_moved = (
        (F.col("min_new") != F.col("min_old"))
        | (F.col("max_new") != F.col("max_old"))
        | (F.col("minstr_new") != F.col("minstr_old"))
        | (F.col("maxstr_new") != F.col("maxstr_old"))
    )
    return j.select(
        "col",
        "rows_old",
        "rows_new",
        (F.col("rows_new") - F.col("rows_old")).alias("d_rows"),
        (F.col("nulls_new") - F.col("nulls_old")).alias("d_nulls"),
        (F.col("dist_new") - F.col("dist_old")).alias("d_distinct"),
        "min_old",
        "min_new",
        "max_old",
        "max_new",
        (
            (F.col("nulls_new") != F.col("nulls_old"))
            | (F.col("dist_new") != F.col("dist_old"))
            | F.coalesce(bounds_moved, F.lit(False))
        ).alias("drifted"),
    )


def entity_match_pairs(
    df: DataFrame,
    key: str = "c_custkey",
    name: str = "c_name",
    block_extra: tuple = ("c_nationkey",),
    max_edit: int = 1,
    max_block: int = 1000,
) -> DataFrame:
    """Record linkage (entity resolution): substitution-distance-1
    pairs by WILDCARD-KEY blocking, verified by edit distance —
    near-identical names that exact dedup misses (typos, OCR noise,
    one-digit id drift).

    Blocking (the FastSS / SymSpell deletion-neighborhood idea applied
    to substitutions): each row emits length(name) keys — ``(p, name
    with character p replaced by a sentinel)``. Two equal-length
    strings are within one SUBSTITUTION iff they share a wildcard key
    (equal strings share every key), so the equi-join on (position,
    wildcard, extra blocking keys) yields EXACTLY the true pairs —
    candidate volume tracks answer volume, never |rows|² within a
    block. This replaces the round-2 half-string blocking, whose
    constant-half block ("Customer#…" prefixes) degenerated to C(n,2)
    per nation — quadratic at scale (VERDICT r5); the half-block form
    survives as ``entity_match_pairs_halfblock`` below purely as the
    test oracle, and tests pin the two equal on fixture names.
    Insertions shift every later character, so the completeness
    guarantee covers substitution edits (the dominant noise for
    fixed-format keys/names), same contract as before.

    ``max_block`` caps a wildcard block's row count (counted per
    (p, wildcard, extra) with one window): a block over the cap means
    >= max_block strings identical up to one position — a mass-
    duplicate cluster that exact dedup already owns — and is dropped,
    the ``max_df`` stopword-shingle precedent (dedup.py). The cap is
    mirrored in the DuckDB oracle and a 10x synthetic pin asserts the
    candidate volume bound (tests/test_synthetic_scale.py).

    Cost at scale: |rows| x avg_len blocking rows (map-side explode,
    one shuffle on the wildcard key), join output ~= true pair count,
    Levenshtein only on deduped candidates. Assumes names do not
    contain the \\x01 sentinel."""
    base = df.select(
        F.col(key).alias("k"), F.col(name).alias("nm"), *block_extra
    )
    wkeys = base.select(
        "k",
        "nm",
        *block_extra,
        F.posexplode(
            F.expr(
                "transform(sequence(1, length(nm)), p -> "
                "concat(substring(nm, 1, p - 1), chr(1), "
                "substring(nm, p + 1, length(nm))))"
            )
        ).alias("p", "wkey"),
    )
    within_cap = (
        wkeys.withColumn(
            "bsz",
            F.count(F.lit(1)).over(
                Window.partitionBy("p", "wkey", *block_extra)
            ),
        )
        .where(F.col("bsz") <= max_block)
        .drop("bsz")
    )
    left = within_cap.select(
        "p", "wkey", *block_extra,
        F.col("k").alias("a"), F.col("nm").alias("nm_a"),
    )
    right = within_cap.select(
        "p", "wkey", *block_extra,
        F.col("k").alias("b"), F.col("nm").alias("nm_b"),
    )
    # A substitution pair collides on exactly ONE key; only equal
    # strings produce duplicate candidates (one per position) — dedup
    # on the key pair BEFORE the verify (candidate volume ~= answer
    # volume here, unlike the half-block form where dedup-first was
    # A/B'd worse). The verify is a belt: wildcard equality already
    # implies edit distance <= 1.
    return (
        left.join(right, ["p", "wkey", *block_extra])
        .where(F.col("a") < F.col("b"))
        .select("a", "b", "nm_a", "nm_b")
        .distinct()
        .select(
            "a", "b", F.levenshtein("nm_a", "nm_b").alias("edit_distance")
        )
        .where(F.col("edit_distance") <= max_edit)
    )


def entity_match_pairs_halfblock(
    df: DataFrame,
    key: str = "c_custkey",
    name: str = "c_name",
    block_extra: tuple = ("c_nationkey",),
    max_edit: int = 1,
) -> DataFrame:
    """The round-2 HALF-STRING blocking form, retained as the test
    oracle for ``entity_match_pairs`` (the registered wildcard form):
    two equal-length strings within one substitution agree on at least
    one half, so candidates come from equi-joins on (half-value,
    extras) over two passes. NOT registered and NOT benched — a block
    whose half is constant across the table (the fixtures' shared
    "Customer#" prefix) degenerates to C(n,2) within its extra-key
    groups, quadratic at scale; see entity_match_pairs for the plan
    that replaced it and the equality pin."""
    base = df.select(
        F.col(key).alias("k"), F.col(name).alias("nm"), *block_extra
    )
    half1 = F.expr("substring(nm, 1, cast(floor(length(nm) / 2) as int))")
    half2 = F.expr(
        "substring(nm, cast(floor(length(nm) / 2) as int) + 1, length(nm))"
    )
    blocks = base.select(
        "k", "nm", *block_extra, F.lit(0).alias("blk"), half1.alias("blkval")
    ).unionByName(
        base.select(
            "k", "nm", *block_extra, F.lit(1).alias("blk"), half2.alias("blkval")
        )
    )
    left = blocks.select(
        "blk", "blkval", *block_extra,
        F.col("k").alias("a"), F.col("nm").alias("nm_a"),
    )
    right = blocks.select(
        "blk", "blkval", *block_extra,
        F.col("k").alias("b"), F.col("nm").alias("nm_b"),
    )
    return (
        left.join(right, ["blk", "blkval", *block_extra])
        .where(
            (F.col("a") < F.col("b"))
            & (F.abs(F.length("nm_a") - F.length("nm_b")) <= max_edit)
        )
        .select(
            "a", "b", F.levenshtein("nm_a", "nm_b").alias("edit_distance")
        )
        .distinct()
        .where(F.col("edit_distance") <= max_edit)
    )


def snapshot_diff(
    old: DataFrame, new: DataFrame, key: str, cols: list
) -> DataFrame:
    """Change data capture DERIVED from two snapshots: per key, emit
    insert / delete / update (unchanged keys produce no row) — the
    inverse of ``merge_upsert`` (which APPLIES a change set, this
    RECOVERS one), and the audit a replication pipeline runs to prove
    two stores converged or to backfill a missed feed.

    One full-outer join on the key, both sides shuffling on the same
    hash; change detection is null-safe column-wise comparison (a real
    NULL->value transition is an update, not noise). Output is
    |changed keys|-sized."""
    o = old.select(
        F.col(key),
        F.lit(1).alias("__in_o"),
        *[F.col(c).alias(f"__o_{c}") for c in cols],
    )
    n = new.select(
        F.col(key),
        F.lit(1).alias("__in_n"),
        *[F.col(c).alias(f"__n_{c}") for c in cols],
    )
    j = o.join(n, key, "full_outer")
    changed = None
    for c in cols:
        neq = ~F.col(f"__o_{c}").eqNullSafe(F.col(f"__n_{c}"))
        changed = neq if changed is None else (changed | neq)
    op = (
        F.when(F.col("__in_o").isNull(), "insert")
        .when(F.col("__in_n").isNull(), "delete")
        .when(changed, "update")
    )
    return (
        j.withColumn("op", op)
        .where(F.col("op").isNotNull())
        .select(key, "op")
    )


def erasure_report(
    tables: dict, subjects: DataFrame, keys: dict
) -> DataFrame:
    """Right-to-erasure propagation: given a subject-id relation and a
    {table_name: key_column} map, report per table how many rows the
    deletion touches and how many survive — the audit a GDPR/CCPA
    erasure job emits BEFORE the physical deletes, and the proof of
    completeness after (re-run must show zero remaining).

    Each table pays one broadcast anti/semi-join pair expressed as a
    single conditional aggregate (the subject set is small by
    construction — a deletion batch); no table is scanned twice. The
    report is |tables| rows."""
    from pyspark.sql.functions import broadcast

    parts = []
    subj = subjects.select(F.col(subjects.columns[0]).alias("__subject"))
    for tname, keycol in keys.items():
        df = tables[tname]
        joined = df.join(
            broadcast(subj), df[keycol] == F.col("__subject"), "left"
        )
        parts.append(
            joined.agg(
                F.lit(tname).alias("table_name"),
                F.count(F.lit(1)).alias("n_rows"),
                F.count(F.col("__subject")).alias("n_to_erase"),
                (
                    F.count(F.lit(1)) - F.count(F.col("__subject"))
                ).alias("n_remaining"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def skyline_2d(
    df: DataFrame, x: str, y: str, keep: str
) -> DataFrame:
    """2-D skyline (Pareto frontier): rows not strictly dominated in
    (``x`` min, ``y`` min) — the classic multi-criteria shortlist
    ("no other order is both cheaper AND earlier"). Dominance: p beats
    q when p <= q in both dims and < in at least one; identical (x, y)
    pairs are co-Pareto and all survive.

    The naive form is a quadratic NOT-EXISTS self-join (the oracle
    states it directly). In two dimensions one sorted pass suffices:
    a row survives iff its y equals its own x-group's minimum AND that
    minimum is strictly below every smaller-x group's minimum. That is
    one data-sized groupBy(x) plus a running-min over the |distinct x|
    GROUP relation — and because x here is a near-unique measure (a
    price), that group relation still grows with the data, so the
    running min goes through rank.global_prefix_min (range partition +
    broadcast per-partition minima, VERDICT r7 audit) instead of a
    single-partition window; equality pinned in
    tests/test_round8_fixes.py."""
    from .rank import global_prefix_min

    gm = df.groupBy(x).agg(F.min(y).alias("__gy"))
    frontier = (
        global_prefix_min(gm, [F.col(x).asc()], "__gy", "__prev")
        .where(F.col("__prev").isNull() | (F.col("__gy") < F.col("__prev")))
        .select(x, "__gy")
    )
    return (
        df.join(F.broadcast(frontier), [x])
        .where(F.col(y) == F.col("__gy"))
        .select(keep, x, y)
    )


def ab_test_report(
    events: DataFrame,
    convert_type: str = "purchase",
    n_variants: int = 2,
) -> DataFrame:
    """Experimentation readout: users assigned to variants by the
    deterministic hash bucket (``sampling.hash_bucket`` — stable across
    reruns and engines, the property real experiment assignment needs),
    conversion = any ``convert_type`` event. Per variant: exposed
    users, converters, conversion rate; plus each variant's lift vs
    variant 0 as a ratio of integer counts — every number either an
    integer or a single rounded division, exact cross-engine.

    One user-level aggregate (exposure + converted flag per user),
    then a |variants|-row rollup; the control row rides back as a
    broadcast for the lift column."""
    from pyspark.sql.functions import broadcast

    from ..functions.text import round_half_up
    from ..operators.sampling import hash_bucket

    per_user = (
        events.groupBy("user_id")
        .agg(
            F.max(
                F.when(F.col("event_type") == convert_type, 1).otherwise(0)
            ).alias("converted")
        )
        .withColumn("variant", hash_bucket(F.col("user_id"), n_variants))
    )
    stats = per_user.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("converted").cast("long").alias("n_converted"),
    )
    control = stats.where(F.col("variant") == 0).select(
        F.col("n_users").alias("__cu"), F.col("n_converted").alias("__cc")
    )
    return (
        stats.crossJoin(broadcast(control))
        .select(
            "variant",
            "n_users",
            "n_converted",
            round_half_up(F.col("n_converted") / F.col("n_users"), 6).alias("cvr"),
            # lift = (conv_v * users_0) / (conv_0 * users_v): one division
            # of exact integer products
            round_half_up(
                (F.col("n_converted") * F.col("__cu"))
                / (F.col("__cc") * F.col("n_users")),
                6,
            ).alias("lift_vs_control"),
        )
    )


def ldiversity_violations(
    df: DataFrame, quasi_cols: list, sensitive: str, l: int = 3
) -> DataFrame:
    """l-diversity audit, the companion to kanon_violations: a
    quasi-identifier group can be k-anonymous yet still leak if every
    member shares the same SENSITIVE value. Reports EVERY group with
    its distinct-sensitive-value count and an ``at_risk`` flag
    (n_sensitive < l = homogeneity-attack risk the release gate must
    suppress or generalize) — the full report, not just violations, so
    the diversity distribution itself is visible (and the audit is
    non-vacuous on corpora with no violations).

    One aggregate with a distinct count; Spark expands countDistinct
    into dedup+count exchanges (2 keyed shuffles, budgeted)."""
    return (
        df.groupBy(*quasi_cols)
        .agg(
            F.countDistinct(F.col(sensitive)).alias("n_sensitive"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select(
            *quasi_cols,
            "n_sensitive",
            "n_rows",
            (F.col("n_sensitive") < l).alias("at_risk"),
        )
    )


def attribution_credit(
    events: DataFrame, conversion: str = "purchase"
) -> DataFrame:
    """Multi-touch attribution with EXACT integer credit: each
    conversion's value (cents) is split across the touch events in its
    segment (the user's events since their previous conversion) by the
    same largest-remainder rule as budget_allocation — every touch gets
    ``cents div n``, the ``cents mod n`` leftover goes one cent each to
    the EARLIEST touches, so per-conversion credit sums exactly to the
    conversion value and the per-channel rollup is a BIGINT sum (float
    attribution never reconciles with finance's ledger; this does,
    cent for cent). Conversions with no touches credit 'direct'.

    Plan: segment ids come from ONE cumulative window over the
    user-keyed ordering (count of prior conversions); the touch-to-
    conversion pairing is an equi-join on (user, segment) — never a
    range join — and every exchange shares the user partitioning."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seg = events.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        (
            F.sum(
                F.when(F.col("event_type") == conversion, 1).otherwise(0)
            ).over(w)
            - F.when(F.col("event_type") == conversion, 1).otherwise(0)
        ).alias("seg"),
    )
    convs = seg.where(F.col("event_type") == conversion).select(
        "user_id",
        "seg",
        F.col("cents").alias("conv_cents"),
        F.col("event_id").alias("conv_id"),
    )
    touches = seg.where(F.col("event_type") != conversion).select(
        "user_id", "seg", "ts", "event_id", "event_type"
    )
    wt = Window.partitionBy("user_id", "seg", "conv_id").orderBy(
        "ts", "event_id"
    )
    credited = (
        convs.join(touches, ["user_id", "seg"])
        .select(
            "event_type",
            "conv_cents",
            "conv_id",
            F.row_number().over(wt).alias("pos"),
            F.count(F.lit(1)).over(
                Window.partitionBy("user_id", "seg", "conv_id")
            ).alias("n_touch"),
        )
        .select(
            "event_type",
            (
                F.expr("conv_cents div n_touch")
                + F.when(
                    F.col("pos") <= F.col("conv_cents") % F.col("n_touch"), 1
                ).otherwise(0)
            ).alias("credit"),
        )
    )
    touched = credited.groupBy(F.col("event_type").alias("channel")).agg(
        F.count(F.lit(1)).alias("n_touches"),
        F.sum("credit").alias("credited_cents"),
    )
    direct = (
        convs.join(touches, ["user_id", "seg"], "left_anti")
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            F.coalesce(F.sum("conv_cents"), F.lit(0)).alias("credited_cents"),
        )
        .select(F.lit("direct").alias("channel"), "n_touches", "credited_cents")
        .where(F.col("n_touches") > 0)
    )
    return touched.unionByName(direct)


def user_type_diversity(events: DataFrame) -> DataFrame:
    """Per-user behavioral diversity via the Gini–Simpson index
    ``1 - Σ(c_i/n)²`` over event-type counts — the log-free diversity
    measure (entropy needs a transcendental no two engines compute
    bit-equal; Simpson is pure rational arithmetic). 0 = every event
    the same type (bot-like), -> 1 - 1/k = uniform over k types.

    Integer core: per-(user, type) counts, Σc², and n are BIGINT; the
    index is ONE mirrored float expression. Two user-keyed aggregates
    sharing a partitioning."""
    from ..functions.text import round_half_up

    per_type = events.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    return (
        per_type.groupBy("user_id")
        .agg(
            F.sum("c").alias("n_events"),
            F.count(F.lit(1)).alias("n_types"),
            F.sum(F.col("c") * F.col("c")).alias("sq"),
        )
        .select(
            "user_id",
            "n_events",
            "n_types",
            round_half_up(
                F.lit(1.0)
                - F.col("sq").cast("double")
                / (F.col("n_events") * F.col("n_events")),
                6,
            ).alias("simpson"),
        )
    )


def fk_orphan_report(t: Tables) -> DataFrame:
    """Referential-integrity audit across the star schema's four FK
    edges: per relationship, child row count and ORPHAN count (child
    rows whose key misses the parent) — the DQ gate a warehouse load
    runs after ingest (dq_check validates values WITHIN a table; this
    validates the edges BETWEEN them). Zero-orphan rows still appear:
    the report proves the check ran, not just that it fired.

    Each edge is one left-anti count against the parent's key
    projection — dimension-sized builds broadcast; the fact scan reads
    only the FK column (pruned schema)."""
    edges = [
        ("orders.o_custkey->customer", t["orders"], "o_custkey",
         t["customer"], "c_custkey"),
        ("lineitem.l_orderkey->orders", t["lineitem"], "l_orderkey",
         t["orders"], "o_orderkey"),
        ("lineitem.l_partkey->part", t["lineitem"], "l_partkey",
         t["part"], "p_partkey"),
        ("lineitem.l_suppkey->supplier", t["lineitem"], "l_suppkey",
         t["supplier"], "s_suppkey"),
    ]
    out = None
    for name, child, ck, parent, pk in edges:
        c = child.select(F.col(ck).alias("k"))
        p = parent.select(F.col(pk).alias("k"))
        part = c.join(p, "k", "left_anti").agg(
            F.count(F.lit(1)).alias("n_orphans")
        ).crossJoin(
            c.agg(F.count(F.lit(1)).alias("n_child"))
        ).select(
            F.lit(name).alias("relationship"), "n_child", "n_orphans"
        )
        out = part if out is None else out.unionByName(part)
    return out


def markov_accuracy(t: Tables, gap_min: int = 30) -> DataFrame:
    """In-engine evaluation of the 1st-order Markov next-event model:
    train = the session-transition counts (session_transitions), the
    predictor = per from-state argmax (ties -> lexicographically first
    type, deterministic), and the score = the fraction of observed
    transitions the mode would have predicted — computed over the SAME
    corpus in one plan (resubstitution accuracy: the standard quick
    read on "how predictable are journeys from one step of memory?",
    and the baseline any sequence model must beat).

    Integer counts end-to-end: n_correct is just the mode's count, so
    no per-observation re-join is needed — accuracy(from) =
    max(count) / sum(count), ONE mirrored division per from-state.
    The transition matrix is |types|^2 — dimension-sized."""
    from ..functions.text import round_half_up

    trans = session_transitions(t, gap_min=gap_min)
    w = Window.partitionBy("type_from").orderBy(
        F.desc("n_transitions"), F.asc("type_to")
    )
    per_state = (
        trans.withColumn("rn", F.row_number().over(w))
        .withColumn(
            "n_total",
            F.sum("n_transitions").over(Window.partitionBy("type_from")),
        )
        .where(F.col("rn") == 1)
        .select(
            "type_from",
            F.col("type_to").alias("predicted"),
            F.col("n_transitions").alias("n_correct"),
            "n_total",
            round_half_up(
                F.col("n_transitions").cast("double") / F.col("n_total"), 6
            ).alias("accuracy"),
        )
    )
    return per_state


def markov_entropy_rate(t: Tables, gap_min: int = 30) -> DataFrame:
    """Per-state conditional entropy of the session-transition Markov
    chain — the information-theoretic summary the chain trio lacks
    (``session_transitions`` estimates the matrix, ``markov_accuracy``
    scores its argmax; this measures how much surprise REMAINS given
    one step of memory — the ceiling on any next-event predictor):

        H(next | from=i) = sum_j (n_ij / n_i) * ln(n_i / n_ij)
        pi_i             = n_i / N   (empirical state weight)

    (the entropy RATE of the chain is sum_i pi_i H_i — recoverable from
    the emitted columns; per-state rows keep the output auditable).

    Exactness: transition counts are BIGINT; each per-state entropy is
    a SEQUENTIAL fold over the to-type-sorted list (zipf discipline —
    ln() on exact integers is a correctly-rounded libm call, mirrored
    term-for-term in the oracle), and pi is one mirrored division.
    Deterministic single-count states emit h_cond = 0 exactly (the
    fold contributes n_i/n_i * ln(1) terms).

    Scale: rides session_transitions' one user-keyed exchange; the
    matrix is |types|^2 rows, so the fold and rollup are
    dimension-sized."""
    from ..functions.text import round_half_up

    trans = session_transitions(t, gap_min=gap_min).select(
        "type_from",
        "type_to",
        F.col("n_transitions").cast("long").alias("nij"),
    )
    lst = trans.groupBy("type_from").agg(
        F.sum("nij").cast("long").alias("ni"),
        F.array_sort(F.collect_list(F.struct("type_to", "nij"))).alias("l"),
    )
    total = lst.agg(F.sum("ni").cast("long").alias("n_all"))
    j = lst.crossJoin(F.broadcast(total))
    nid = F.col("ni").cast("double")
    h = F.aggregate(
        F.col("l"),
        F.lit(0.0),
        lambda a, x: a
        + (x["nij"].cast("double") / nid)
        * (F.log(nid) - F.log(x["nij"].cast("double"))),
    )
    return j.select(
        "type_from",
        F.col("ni").alias("n_trans"),
        round_half_up(
            F.col("ni").cast("double") / F.col("n_all").cast("double"), 6
        ).alias("pi"),
        round_half_up(h, 6).alias("h_cond"),
    )


def pit_features(events: DataFrame, label_type: str = "purchase") -> DataFrame:
    """Point-in-time-correct training examples: for every user's LAST
    ``label_type`` event (the label moment), the feature vector
    computed from STRICTLY-PRIOR events only — the feature-store
    correctness rule that prevents label leakage (a feature computed
    over the whole history trains a model on the future; offline/online
    skew then eats the lift). One row per labeled user: the cutoff
    timestamp, prior event count/spend/type-diversity, and seconds
    since the previous event (the recency feature).

    Integer/epoch-exact throughout. Plan: the cutoff is ONE user-keyed
    aggregate; the feature pass is a second aggregate over the
    strictly-prior filter — both ride the same user partitioning, and
    the distinct-type count is split from the plain aggregates (the
    countDistinct Expand would otherwise route every row through the
    N+1x expansion — profiler finding)."""
    ev = events.select(
        "user_id",
        "event_id",
        "event_type",
        F.col("ts"),
        F.unix_timestamp("ts").alias("ts_s"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    cutoffs = (
        ev.where(F.col("event_type") == label_type)
        .groupBy("user_id")
        .agg(F.max("ts_s").alias("cutoff_s"))
    )
    prior = ev.join(cutoffs, "user_id").where(
        F.col("ts_s") < F.col("cutoff_s")
    )
    plain = prior.groupBy("user_id").agg(
        F.max("cutoff_s").alias("cutoff_s"),
        F.count(F.lit(1)).alias("n_prior"),
        F.sum("cents").alias("spend_cents_prior"),
        F.max("ts_s").alias("last_prior_s"),
    )
    types = prior.groupBy("user_id").agg(
        F.countDistinct("event_type").alias("n_types_prior")
    )
    return (
        plain.join(types, "user_id")
        .select(
            "user_id",
            "cutoff_s",
            "n_prior",
            "spend_cents_prior",
            "n_types_prior",
            (F.col("cutoff_s") - F.col("last_prior_s")).alias("recency_s"),
        )
    )


def fd_discovery(df: DataFrame, cols: list) -> DataFrame:
    """Functional-dependency discovery over candidate columns
    (Metanome-style profiling, pairwise): A -> B holds iff every A
    value maps to exactly one B value, checked as
    ``count_distinct(A) == count_distinct(A, B)`` — pure integer
    cardinalities, exact at any scale. The schema-inference signal a
    warehouse uses to find denormalization, derive keys, and catch
    broken mappings after a bad backfill (an FD that USED to hold and
    stopped is a data bug).

    One LAZY 1-row aggregate per ordered pair, unioned into a single
    plan (one action evaluates all |cols|^2 subplans; candidates are
    picked low-cardinality, so map-side dedup collapses each pass —
    never a driver-side count loop)."""
    rows = None
    for a in cols:
        for b in cols:
            if a == b:
                continue
            r = df.agg(
                F.countDistinct(F.col(a)).alias("n_lhs"),
                F.countDistinct(F.col(a), F.col(b)).alias("n_pairs"),
            ).select(
                F.lit(a).alias("lhs"),
                F.lit(b).alias("rhs"),
                "n_lhs",
                "n_pairs",
                (F.col("n_lhs") == F.col("n_pairs")).alias("holds"),
            )
            rows = r if rows is None else rows.unionByName(r)
    return rows


def ab_wilson_intervals(
    events: DataFrame,
    convert_type: str = "purchase",
    n_variants: int = 2,
) -> DataFrame:
    """The A/B readout with WILSON score intervals: per variant, the
    95% confidence bounds on conversion rate — overlapping intervals
    are the "don't ship yet" signal the point estimate in
    ab_test_report can't give. Same deterministic hash assignment.

    Exact cross-engine even though it's real statistics: the interval
    is one fixed-order chain of IEEE ops over integer counts —
    divisions, multiplies, and sqrt (correctly rounded per IEEE-754 in
    both engines), z = 1.96 as a double literal — mirrored op-for-op
    in the oracle and rounded once at the edge."""
    from ..functions.text import round_half_up
    from ..operators.sampling import hash_bucket

    per_user = (
        events.groupBy("user_id")
        .agg(
            F.max(
                F.when(F.col("event_type") == convert_type, 1).otherwise(0)
            ).alias("converted")
        )
        .withColumn("variant", hash_bucket(F.col("user_id"), n_variants))
    )
    stats = per_user.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("converted").alias("n_converted"),
    )
    z = F.lit(1.96)
    z2 = z * z
    n = F.col("n_users").cast("double")
    p = F.col("n_converted").cast("double") / F.col("n_users")
    denom = F.lit(1.0) + z2 / n
    center = p + z2 / (F.lit(2.0) * n)
    rad = z * F.sqrt(
        (p * (F.lit(1.0) - p)) / n + z2 / (F.lit(4.0) * (n * n))
    )
    return stats.select(
        "variant",
        "n_users",
        "n_converted",
        round_half_up(p, 6).alias("cvr"),
        round_half_up((center - rad) / denom, 6).alias("wilson_lo"),
        round_half_up((center + rad) / denom, 6).alias("wilson_hi"),
    )


def ab_health(
    events: DataFrame, convert_type: str = "purchase"
) -> DataFrame:
    """One-row experiment health panel: the 2x2 chi-square for
    conversion-vs-variant independence (``chi2 > 3.841`` ~ p < .05 at
    1 dof — the ship/don't-ship significance read) AND the
    sample-ratio-mismatch chi-square against the designed 50/50 split
    (SRM is the assignment-bug detector every experimentation platform
    runs before believing ANY metric). Chi-square is rational —
    ``n(ad-bc)^2 / ((a+b)(c+d)(a+c)(b+d))`` — so both statistics are
    mirrored float chains over integer cell counts, exactly
    value-hashable (int-product magnitudes stay under 2^53 here;
    at billions of users compute the quad products in DECIMAL).

    Conversion = a HIGH-VALUE ``convert_type`` event (>= min_cents) so
    the 2x2 has variance on this fixture (every user makes SOME
    purchase); degenerate margins guard to 0 via a lazily-evaluated
    CASE on both engines. One user-level aggregate -> one 4-cell
    rollup -> scalar math."""
    from ..functions.text import round_half_up
    from ..operators.sampling import hash_bucket

    min_cents = 20000
    per_user = (
        events.groupBy("user_id")
        .agg(
            F.max(
                F.when(
                    (F.col("event_type") == convert_type)
                    & (
                        F.round(F.col("value") * 100).cast("long")
                        >= min_cents
                    ),
                    1,
                ).otherwise(0)
            ).alias("converted")
        )
        .withColumn("variant", hash_bucket(F.col("user_id"), 2))
    )
    cells = per_user.agg(
        F.sum(
            F.when((F.col("variant") == 0) & (F.col("converted") == 1), 1).otherwise(0)
        ).alias("a"),
        F.sum(
            F.when((F.col("variant") == 0) & (F.col("converted") == 0), 1).otherwise(0)
        ).alias("b"),
        F.sum(
            F.when((F.col("variant") == 1) & (F.col("converted") == 1), 1).otherwise(0)
        ).alias("c"),
        F.sum(
            F.when((F.col("variant") == 1) & (F.col("converted") == 0), 1).otherwise(0)
        ).alias("d"),
    )
    a, b, c, d = F.col("a"), F.col("b"), F.col("c"), F.col("d")
    n = (a + b + c + d).cast("double")
    num = (a * d - b * c).cast("double")
    margins = (a + b) * (c + d) * (a + c) * (b + d)
    chi2 = F.when(
        margins > 0,
        n * (num * num)
        / (
            (a + b).cast("double")
            * (c + d).cast("double")
            * (a + c).cast("double")
            * (b + d).cast("double")
        ),
    ).otherwise(F.lit(0.0))
    na = (a + b).cast("double")
    nb = (c + d).cast("double")
    half = n / F.lit(2.0)
    srm = (na - half) * (na - half) / half + (nb - half) * (nb - half) / half
    return cells.select(
        (a + b).alias("n_variant0"),
        (c + d).alias("n_variant1"),
        a.alias("conv0"),
        c.alias("conv1"),
        round_half_up(chi2, 6).alias("chi2"),
        (chi2 > 3.841).alias("significant"),
        round_half_up(srm, 6).alias("chi2_srm"),
        (srm > 3.841).alias("srm_flag"),
    )


def rolling_wau(t: Tables, window_days: int = 7) -> DataFrame:
    """Rolling active users: per day, the DAU and the trailing-7-day
    WAU — the engagement pair every growth dashboard leads with. A
    sliding distinct-count is NOT window-decomposable (users repeat
    across days), so the exact form rides the explode trick: each
    distinct (user, active-day) pair contributes to the ``window_days``
    report days it covers, a second distinct collapses multi-active
    users within a window, and a plain count per report day finishes —
    turning "distinct over a sliding window" into two dedups and a
    count, all mergeable. Report days past the corpus's last day are
    clamped (broadcast 1-row max), so the curve never claims windows
    the data can't see; days are emitted as ISO strings.

    Scale: the first dedup collapses event volume to |users x
    active-days|; the explode multiplies that by the constant
    ``window_days``; everything downstream is day-keyed. Exact
    integers throughout."""
    from pyspark.sql.functions import broadcast

    ev = t["events"]
    du = (
        ev.where(F.col("ts").isNotNull())
        .select("user_id", F.to_date("ts").alias("day"))
        .distinct()
    )
    mx = du.agg(F.max("day").alias("__mx"))
    ex = (
        du.select(
            "user_id",
            F.explode(
                F.expr(
                    f"sequence(day, date_add(day, {window_days - 1}),"
                    " interval 1 day)"
                )
            ).alias("d"),
        )
        .join(broadcast(mx), F.col("d") <= F.col("__mx"))
        .select("user_id", "d")
        .distinct()
    )
    wau = ex.groupBy("d").agg(F.count(F.lit(1)).cast("long").alias("wau"))
    dau = du.groupBy(F.col("day").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("dau")
    )
    return (
        wau.join(dau, "d", "left")
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            F.coalesce("dau", F.lit(0).cast("long")).alias("dau"),
            "wau",
        )
    )


def t_closeness(
    t: Tables, t_threshold: float = 0.2, band: int = 1000
) -> DataFrame:
    """t-closeness audit completing the release-gate trio (k-anonymity
    -> l-diversity -> t-closeness): a quasi-identifier group can be
    k-anonymous AND l-diverse yet still leak if its SENSITIVE
    distribution differs from the table's (skewness attack). Per
    (nation, mktsegment) group, the ordered-attribute Earth Mover's
    Distance between the group's account-balance band distribution and
    the GLOBAL one:

        EMD = sum_j |cum_g(j)/n_g - cum_all(j)/N| / (m - 1)

    Exactness: bands are integers (acctbal div ``band`` dollars), and
    each cumulative gap clears to the BIGINT |N*cum_g - n_g*cum_all|
    (the KS cross-multiplication), so the EMD numerator is an exact
    integer sum with ONE final division under round_half_up. Groups
    with emd > t are flagged ``at_risk``.

    Scale: the same |groups x bands| grid plan as ks_source_drift —
    one (group, band) rollup, a broadcast group list against the band
    spine, per-group cumulative windows over DISTINCT bands only."""
    from pyspark.sql import Window

    cust = t["customer"].select(
        F.col("c_nationkey").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
        F.floor(F.col("c_acctbal") / band).cast("long").alias("b"),
    )
    gv = cust.groupBy("b").agg(F.count(F.lit(1)).cast("long").alias("c_all"))
    sv = cust.groupBy("nation", "segment", "b").agg(
        F.count(F.lit(1)).cast("long").alias("c_g")
    )
    grp = cust.groupBy("nation", "segment").agg(
        F.count(F.lit(1)).cast("long").alias("n_g")
    )
    consts = gv.agg(
        F.sum("c_all").cast("long").alias("n_total"),
        F.count(F.lit(1)).cast("long").alias("m"),
    )
    grid = (
        gv.crossJoin(F.broadcast(grp))
        .join(sv, ["nation", "segment", "b"], "left")
        .withColumn("c_g", F.coalesce("c_g", F.lit(0).cast("long")))
    )
    w = (
        Window.partitionBy("nation", "segment")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = grid.select(
        "nation",
        "segment",
        "n_g",
        F.sum("c_g").over(w).alias("cum_g"),
        F.sum("c_all").over(w).alias("cum_all"),
    )
    agg = (
        cum.crossJoin(F.broadcast(consts))
        .where(F.col("m") > 1)
        .groupBy("nation", "segment", "n_g", "n_total", "m")
        .agg(
            F.sum(
                F.abs(
                    F.col("n_total") * F.col("cum_g")
                    - F.col("n_g") * F.col("cum_all")
                )
            )
            .cast("long")
            .alias("emd_num")
        )
    )
    emd = F.col("emd_num").cast("double") / (
        (F.col("n_g").cast("double") * F.col("n_total").cast("double"))
        * (F.col("m").cast("double") - 1.0)
    )
    return agg.select(
        F.col("nation").cast("long").alias("nation"),
        "segment",
        F.col("n_g").alias("n_rows"),
        "emd_num",
        round_half_up(emd, 6).alias("emd"),
        (emd > t_threshold).alias("at_risk"),
    )


def q7_volume_shipping(
    t: Tables,
    nation_a: str = "NATION_1",
    nation_b: str = "NATION_2",
    date_from: str = "1995-01-01",
    date_to: str = "1997-01-01",
) -> DataFrame:
    """TPC-H Q7 — volume shipping between two nations: discounted
    revenue of lineitems where the SUPPLIER sits in one nation and the
    ORDERING CUSTOMER in the other (either direction), by ship year.

    Plan: both nation-filtered dimension maps (supplier->nation,
    customer-via-orders->nation) broadcast; the fact table is scanned
    once with the ship-date range pushed to parquet, and the pair
    filter ((a,b) or (b,a)) applies after two broadcast-hash joins —
    the grouped shuffle is |2 pairs x years| rows. Revenue aggregates
    in DECIMAL (order-independent), rounded once (module helpers)."""
    nations = broadcast(
        t["nation"]
        .where(F.col("n_name").isin(nation_a, nation_b))
        .select("n_nationkey", "n_name")
    )
    supp = broadcast(
        t["supplier"]
        .join(nations, F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = broadcast(
        t["customer"]
        .join(nations, F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = t["lineitem"].where(
        (F.col("l_shipdate") >= F.lit(date_from))
        & (F.col("l_shipdate") < F.lit(date_to))
    )
    return (
        li.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            t["orders"].select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .where(
            (
                (F.col("supp_nation") == nation_a)
                & (F.col("cust_nation") == nation_b)
            )
            | (
                (F.col("supp_nation") == nation_b)
                & (F.col("cust_nation") == nation_a)
            )
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(
            _dsum(_rev()).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


def q10_returned_items(
    t: Tables,
    date_from: str = "1996-01-01",
    date_to: str = "1996-04-01",
    k: int = 20,
) -> DataFrame:
    """TPC-H Q10 — returned-item reporting: the top-k customers by
    revenue LOST to returns (returnflag 'R') on orders placed in one
    quarter — who to call first.

    Plan: the order-date range prunes orders before the fact join, the
    returnflag filter prunes lineitem at the scan; customer + nation
    broadcast onto the |matching customers| aggregate. Top-k by a
    deterministic (revenue DESC, custkey ASC) row_number — a k-row
    result at any scale. Revenue in DECIMAL, rounded once."""
    orders = t["orders"].where(
        (F.col("o_orderdate") >= F.lit(date_from))
        & (F.col("o_orderdate") < F.lit(date_to))
    )
    li = t["lineitem"].where(F.col("l_returnflag") == "R")
    per_cust = (
        li.join(
            orders.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_custkey")
        .agg(
            _dsum(_rev()).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )
    cust = broadcast(
        t["customer"]
        .join(
            broadcast(
                t["nation"].select(
                    "n_nationkey", F.col("n_name").alias("nation")
                )
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey", "c_name", "c_acctbal", "nation")
    )
    ranked = (
        per_cust.join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey", "c_name", "nation", "c_acctbal",
            "revenue", "n_lineitems",
        )
        .withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(
                    F.col("revenue").desc(), F.col("c_custkey").asc()
                )
            ),
        )
    )
    return ranked.where(F.col("rank") <= k).select(
        "rank", "c_custkey", "c_name", "nation", "c_acctbal",
        "revenue", "n_lineitems",
    )


def q18_big_orders(t: Tables, min_qty: int = 190) -> DataFrame:
    """TPC-H Q18 — large-volume orders: orders whose total line
    quantity exceeds ``min_qty``, with the ordering customer.

    Plan: ONE group-by on the fact's join key (l_orderkey) with a
    HAVING-style filter — the shuffled aggregate is |orders|-keyed but
    the filter passes a tiny fraction, and orders+customer join only
    that survivor set (quantities are integral doubles; the sum is
    exact and cast to BIGINT). Order date emitted as epoch seconds
    (raw temporal columns never cross the oracle compare)."""
    qty = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").cast("long").alias("sum_qty"))
        .where(F.col("sum_qty") > min_qty)
    )
    return (
        qty.join(
            t["orders"].select(
                "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            broadcast(t["customer"].select("c_custkey", "c_name")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.unix_timestamp("o_orderdate").alias("o_orderdate_s"),
            "o_totalprice",
            "sum_qty",
        )
    )


def kanon_band_search(
    t: Tables, k: int = 5, widths: tuple = (1, 2, 4, 8, 16)
) -> DataFrame:
    """k-anonymity REPAIR search — the generalization step after
    ``kanon_customers`` finds violating groups: for each candidate
    band width (acctbal generalized to ``1000 * w``-dollar bands under
    the (nation, band) quasi-identifier), report the group-size
    minimum and whether the whole table clears k; flag the SMALLEST
    clearing width. The privacy/utility dial a release pipeline reads:
    coarser bands always pass eventually — the chosen row is the least
    generalization that suffices.

    All-integer (band ids, group counts, min fold); the candidate
    widths ride a unioned grid so the whole search is ONE plan —
    |widths| keyed rollups over the same scan, each |groups|-sized
    after the map side. The chosen flag derives from the per-width
    mins relationally (min passing width via a window), no driver
    logic."""
    from pyspark.sql import Window

    cust = t["customer"].select("c_nationkey", "c_acctbal")
    spine = cust.sparkSession.createDataFrame(
        [(int(w),) for w in widths], "w int"
    )
    banded = cust.crossJoin(F.broadcast(spine)).select(
        "w",
        F.col("c_nationkey").alias("nation"),
        F.floor(F.col("c_acctbal") / (F.lit(1000) * F.col("w")))
        .cast("long")
        .alias("band"),
    )
    groups = banded.groupBy("w", "nation", "band").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    per_w = groups.groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.min("n").cast("long").alias("min_group"),
    )
    passing = F.col("min_group") >= k
    w_best = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    best = F.min(F.when(passing, F.col("w"))).over(w_best)
    return per_w.select(
        "w",
        "n_groups",
        "min_group",
        passing.alias("k_ok"),
        # NULL-safe: when NO width passes, best is NULL and every
        # chosen flag must read false, not NULL
        F.coalesce(F.col("w") == best, F.lit(False)).alias("chosen"),
    )


def order_reconciliation(t) -> DataFrame:
    """Order-vs-lineitem ledger reconciliation: recompute every order's
    net total from its line items (sum over lines of
    floor(extendedprice * (1-discount) * (1+tax) * 100 + 0.5) cents),
    diff it against o_totalprice, and report mismatch BUCKETS — the
    financial-integrity check ``dq_orders``'s row-local rules can't
    express (it validates each table alone; this validates the
    cross-table invariant the ledger actually cares about). TPC-H's
    totalprice is gross-of-tax line revenue, so the bucket histogram
    IS the fingerprint of the pricing formula drifting.

    Exactness: per-line cents are one mirrored floor each (2-dp inputs
    -> the product is engine-identical); sums/diffs are BIGINT; shares
    one division. Orders with no lines land in their own bucket via
    the left join.

    Scale: one join shuffled on orderkey (the natural co-partition
    key), one order rollup, then a 4-row bucket rollup."""
    from ..functions.text import round_half_up

    line_cents = F.floor(
        F.col("l_extendedprice")
        * (F.lit(1.0) - F.col("l_discount"))
        * (F.lit(1.0) + F.col("l_tax"))
        * 100.0
        + F.lit(0.5)
    ).cast("long")
    per_line = t["lineitem"].select(
        F.col("l_orderkey").alias("ok"), line_cents.alias("lc")
    )
    per_order = per_line.groupBy("ok").agg(
        F.sum("lc").cast("long").alias("net_cents")
    )
    o = t["orders"].select(
        "o_orderkey",
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias(
            "o_cents"
        ),
    )
    j = o.join(
        per_order, F.col("o_orderkey") == F.col("ok"), "left"
    ).select(
        "o_cents",
        "net_cents",
        F.when(F.col("net_cents").isNull(), F.lit("no_lines"))
        .when(F.col("o_cents") == F.col("net_cents"), F.lit("exact"))
        .when(
            F.abs(F.col("o_cents") - F.col("net_cents")) <= 100,
            F.lit("sub_dollar"),
        )
        .otherwise(F.lit("large"))
        .alias("bucket"),
    )
    tot = j.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    g = j.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.max(
            F.abs(F.col("o_cents") - F.coalesce("net_cents", F.lit(0)))
        )
        .cast("long")
        .alias("max_abs_diff_cents"),
    )
    return g.crossJoin(F.broadcast(tot)).select(
        "bucket",
        "n_orders",
        "max_abs_diff_cents",
        round_half_up(
            F.col("n_orders").cast("double")
            / F.col("n_total").cast("double"),
            6,
        ).alias("share"),
    )


def uniqueness_profile(orders: DataFrame, cols: list | None = None) -> DataFrame:
    """Column-level uniqueness/key profile of a table: per column, the
    exact distinct count, non-null count, distinct ratio and a
    key-candidate flag — the first pass of schema discovery a data
    catalog runs (``fd_discovery`` finds BETWEEN-column dependencies;
    this scores each column ALONE as a key or category).

    One single-purpose aggregate per column, unioned — NOT one agg
    with k countDistincts (the Expand-plan trap: mixing distinct
    aggregates routes every plain aggregate through an (k+1)x row
    expansion; k separate two-exchange aggs are cheaper and each
    prunes its scan to one column). Exactness: integer counts, one
    mirrored ratio division."""
    names = cols or [
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderpriority",
    ]
    outs = []
    for c in names:
        outs.append(
            orders.agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.count(c).cast("long").alias("n_nonnull"),
                F.countDistinct(c).cast("long").alias("n_distinct"),
            ).select(
                F.lit(c).alias("column_name"),
                "n_rows",
                "n_nonnull",
                "n_distinct",
                round_half_up(
                    F.col("n_distinct").cast("double")
                    / F.col("n_rows").cast("double"),
                    6,
                ).alias("distinct_ratio"),
                (F.col("n_distinct") == F.col("n_rows")).alias(
                    "is_key"
                ),
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


def growth_accounting(events: DataFrame) -> DataFrame:
    """Monthly MAU growth accounting: every month's active users
    decomposed into NEW (first month ever), RETAINED (also active the
    previous month) and RESURRECTED (active before, but not last
    month), plus the month's CHURNED (active last month, gone now) —
    the canonical product-analytics identity

        mau_m = new_m + retained_m + resurrected_m,
        mau_m = mau_{m-1} - churned_m + new_m + resurrected_m

    that ``cohort_retention`` (fixed-cohort curves) and ``rolling_wau``
    (sliding windows) do not give: this is the month-over-month flux
    LEDGER. Exactness: pure integer set arithmetic on the distinct
    (user, month-index) relation. Scale: one distinct rollup, two
    self-joins keyed on (user, adjacent month) — all |users x months|
    sized."""
    um = (
        events.select(
            "user_id",
            (F.year("ts") * 12 + F.month("ts") - 1)
            .cast("long")
            .alias("mi"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    fm = um.groupBy("user_id").agg(F.min("mi").alias("first_mi"))
    prev = um.select(
        "user_id", (F.col("mi") + 1).alias("mi"),
        F.lit(1).alias("was_prev"),
    )
    cur = (
        um.join(fm, "user_id")
        .join(prev, ["user_id", "mi"], "left")
        .select(
            "mi",
            F.when(F.col("mi") == F.col("first_mi"), F.lit("new"))
            .when(F.col("was_prev") == 1, F.lit("retained"))
            .otherwise(F.lit("resurrected"))
            .alias("cls"),
        )
    )
    per = cur.groupBy("mi").agg(
        F.count(F.lit(1)).cast("long").alias("mau"),
        F.sum((F.col("cls") == "new").cast("long"))
        .cast("long")
        .alias("n_new"),
        F.sum((F.col("cls") == "retained").cast("long"))
        .cast("long")
        .alias("n_retained"),
        F.sum((F.col("cls") == "resurrected").cast("long"))
        .cast("long")
        .alias("n_resurrected"),
    )
    nxt = um.select(
        "user_id", (F.col("mi") - 1).alias("mi"),
        F.lit(1).alias("still"),
    )
    churn = (
        um.join(nxt, ["user_id", "mi"], "left")
        .where(F.col("still").isNull())
        .groupBy((F.col("mi") + 1).alias("mi"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_churned"))
    )
    return (
        per.join(churn, "mi", "left")
        .select(
            F.concat_ws(
                "-",
                F.expr("mi div 12").cast("string"),
                F.lpad((F.col("mi") % 12 + 1).cast("string"), 2, "0"),
            ).alias("month"),
            "mau",
            "n_new",
            "n_retained",
            "n_resurrected",
            F.coalesce("n_churned", F.lit(0).cast("long")).alias(
                "n_churned"
            ),
        )
    )
