"""Property tests (SURVEY.md §5 item 4): the reference's implicit
invariants, checked over hypothesis-generated inputs.

- fan-out conservation: Σ exploded rows == Σ positive counts
  (flood.go:75-81 — every requested message is emitted, none invented)
- LWW order-independence: latest_per_key is a fold over a commutative
  merge, so input order must not change the answer (knobs.go:101)
- codec round-trips: hex (F4/F5) and epoch-seconds (F7) are inverses

Examples are kept small (one Spark job each); shrinking is what matters,
not volume.
"""

from __future__ import annotations

import pytest

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

# FULL tier (VERDICT r9 #1): 290s of hypothesis sweeps — run with
# SPARK_GRAFT_FULL_TESTS=1; the gate tier relies on the per-operator
# pins + the oracle parity subset.
pytestmark = pytest.mark.full

from pyspark.sql import functions as F

from pubsub_mapreduce_spark.operators.pipeline import fan_out, latest_per_key

PROP = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

counts = st.lists(
    st.tuples(st.integers(0, 4), st.integers(-3, 50)), min_size=1, max_size=30
)


@PROP
@given(rows=counts)
def test_fan_out_conservation(spark, rows):
    df = spark.createDataFrame(rows, "user_id long, n long")
    fanned = fan_out(df, key="user_id", n="n")
    got = {
        r["user_id"]: r["c"]
        for r in fanned.groupBy("user_id").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    expect: dict[int, int] = {}
    for k, n in rows:
        if n > 0:
            expect[k] = expect.get(k, 0) + n
    assert got == expect


events = st.lists(
    st.tuples(
        st.integers(0, 3),  # key
        st.integers(0, 10**6),  # ts epoch seconds
        st.integers(0, 100),  # value
    ),
    min_size=1,
    max_size=30,
)


@PROP
@given(rows=events, seed=st.randoms(use_true_random=False))
def test_latest_per_key_order_independent(spark, rows, seed):
    # distinct (key, ts) so "latest" is unique -> order must not matter
    uniq = list({(k, t): (k, t, v) for k, t, v in rows}.values())
    shuffled = list(uniq)
    seed.shuffle(shuffled)

    def run(data):
        df = spark.createDataFrame(
            [(k, float(t), v, i) for i, (k, t, v) in enumerate(data)],
            "user_id long, ts double, value long, event_id long",
        ).withColumn("ts", F.timestamp_seconds("ts"))
        out = latest_per_key(df, payload=("value",))
        return {r["user_id"]: (r["value"], r["ts"]) for r in out.collect()}

    assert run(uniq) == run(shuffled)


@PROP
@given(ids=st.lists(st.integers(0, 2**40), min_size=1, max_size=50))
def test_hex_codec_roundtrip(spark, ids):
    from pubsub_mapreduce_spark.functions.codecs import hex_to_int, int_to_hex

    df = spark.createDataFrame([(i,) for i in ids], "id long")
    out = df.select(hex_to_int(int_to_hex(F.col("id"))).alias("rt")).collect()
    assert [r["rt"] for r in out] == ids


@PROP
@given(ts=st.lists(st.integers(0, 2**31), min_size=1, max_size=50))
def test_epoch_seconds_roundtrip(spark, ts):
    from pubsub_mapreduce_spark.functions.codecs import (
        epoch_seconds,
        from_epoch_seconds,
    )

    df = spark.createDataFrame([(float(t),) for t in ts], "t double")
    out = df.select(
        epoch_seconds(from_epoch_seconds(F.col("t"))).alias("rt")
    ).collect()
    assert [r["rt"] for r in out] == [float(t) for t in ts]


def test_decimal_money_aggregates_partitioning_invariant(spark):
    """The decimal-sum discipline's actual contract: money aggregates are
    BIT-IDENTICAL regardless of how the input is partitioned (different
    partition counts = different summation order = the run-to-run
    variance AQE introduces in production). Double sums fail this at
    rounding boundaries; decimal sums cannot."""
    import __spark_entry__ as entrymod
    from tests.conftest import SF_MED

    qs = entrymod.queries()
    for name in ["q1_pricing_summary", "nation_trade_volume", "promo_revenue"]:
        base = qs[name](spark, SF_MED)
        canon = lambda df: sorted(
            tuple(repr(v + 0.0) if isinstance(v, float) else v for v in r)
            for r in df.collect()
        )
        want = canon(base)
        for parts in (1, 7):
            old = spark.conf.get("spark.sql.shuffle.partitions")
            spark.conf.set("spark.sql.shuffle.partitions", str(parts))
            try:
                got = canon(qs[name](spark, SF_MED))
            finally:
                spark.conf.set("spark.sql.shuffle.partitions", old)
            assert got == want, f"{name} not stable at {parts} partitions"


texts = st.lists(
    st.text(alphabet="ab c", min_size=0, max_size=40), min_size=1, max_size=12
)


@PROP
@given(docs=texts)
def test_repetition_folds_match_counter_reference(spark, docs):
    """The sorted-run HOF folds (max run = top count, length-1 runs =
    singleton grams) must agree with a plain Counter over any input —
    the property that justifies the zero-shuffle plan."""
    from collections import Counter

    from pubsub_mapreduce_spark.operators.textops import repetition_stats

    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    got = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    for i, text in enumerate(docs):
        toks = [t for t in text.split() if t]
        if not toks:
            assert i not in got
            continue
        uni = Counter(toks)
        bgs = Counter(
            f"{a} {b}" for a, b in zip(toks, toks[1:])
        )
        r = got[i]
        assert r["n_tokens"] == len(toks)

        def rh6(x):
            import math

            return math.floor(x * 1e6 + 0.5) / 1e6

        assert r["top_unigram_frac"] == rh6(max(uni.values()) / len(toks))
        assert r["unique_ratio"] == rh6(len(uni) / len(toks))
        total_bg = sum(bgs.values())
        dup = sum(c for c in bgs.values() if c > 1)
        assert r["dup_bigram_frac"] == (rh6(dup / total_bg) if total_bg else 0.0)


weights = st.lists(st.integers(0, 700), min_size=1, max_size=40)


@PROP
@given(ws=weights, budget=st.integers(1, 600), nb=st.integers(1, 7))
def test_pack_shards_equals_sequential_scan(spark, ws, budget, nb):
    """The bucketed two-phase prefix sum must equal the naive sequential
    scan for ANY weights/budget/bucket-count — including weights larger
    than the budget (shard-id gaps) and n_buckets > n_rows."""
    from pubsub_mapreduce_spark.operators.sampling import pack_shards

    rows = [(i * 3 + 1, w) for i, w in enumerate(ws)]  # non-contiguous keys
    df = spark.createDataFrame(rows, "k long, w long")
    got = {
        r["k"]: r["shard_id"]
        for r in pack_shards(df, "k", F.col("w"), budget=budget, n_buckets=nb).collect()
    }
    cum = 0
    for k, w in rows:
        assert got[k] == cum // budget, (k, w, budget, nb)
        cum += w


mwu_rows = st.lists(
    st.tuples(st.sampled_from(["a", "b"]), st.integers(0, 6)),
    min_size=4,
    max_size=24,
).filter(lambda rs: len({s for s, _ in rs}) == 2)


@PROP
@given(rows=mwu_rows)
def test_mwu_matches_bruteforce_pairs(spark, rows):
    """2*U1 must equal the literal pair count 2*#(x>y) + #(x==y) for
    every source against the rest, whatever the tie structure."""
    from pubsub_mapreduce_spark.operators.robust import mwu_source_shift

    docs = spark.createDataFrame(
        [(i, "t", "en", s, v) for i, (s, v) in enumerate(rows)],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    got = {
        r["source"]: r["u1_x2"] for r in mwu_source_shift(docs).collect()
    }
    for src in {s for s, _ in rows}:
        mine = [v for s, v in rows if s == src]
        rest = [v for s, v in rows if s != src]
        brute = sum(
            2 if x > y else (1 if x == y else 0)
            for x in mine
            for y in rest
        )
        all_tied = len({v for _, v in rows}) == 1
        if all_tied:
            assert src not in got  # var_num = 0 -> dropped
        else:
            assert got[src] == brute


@PROP
@given(rows=mwu_rows)
def test_ks_matches_bruteforce_sup(spark, rows):
    """The KS numerator must equal the brute-force sup over every
    threshold of |n2*c1(v) - n1*c2(v)|."""
    from pubsub_mapreduce_spark.operators.robust import ks_source_drift

    docs = spark.createDataFrame(
        [(i, "t", "en", s, v) for i, (s, v) in enumerate(rows)],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    got = {
        r["source"]: r["d_num"] for r in ks_source_drift(docs).collect()
    }
    vals = sorted({v for _, v in rows})
    for src in {s for s, _ in rows}:
        mine = [v for s, v in rows if s == src]
        rest = [v for s, v in rows if s != src]
        brute = max(
            abs(
                len(rest) * sum(1 for x in mine if x <= t)
                - len(mine) * sum(1 for y in rest if y <= t)
            )
            for t in vals
        )
        assert got[src] == brute


pettitt_series = st.lists(st.integers(1, 5), min_size=2, max_size=10)


@PROP
@given(series=pettitt_series)
def test_pettitt_matches_bruteforce_u(spark, series):
    """K must equal max_t |sum_{i<=t, j>t} sgn(x_i - x_j)| over the
    interior splits, with the earliest-day argmax."""
    import datetime as dt

    from pubsub_mapreduce_spark.operators.robust import pettitt_changepoint

    rows = []
    for day, n in enumerate(series):
        for i in range(n):
            rows.append(("t", dt.datetime(2024, 3, 1 + day, 10, 0, i)))
    ev = spark.createDataFrame(rows, "event_type string, ts timestamp")
    (r,) = pettitt_changepoint(ev).collect()
    n = len(series)

    def sgn(a, b):
        return (a > b) - (a < b)

    us = [
        sum(
            sgn(series[i], series[j])
            for i in range(t + 1)
            for j in range(t + 1, n)
        )
        for t in range(n - 1)
    ]
    k = max(abs(u) for u in us)
    first = min(t for t, u in enumerate(us) if abs(u) == k)
    assert r["k_stat"] == k
    assert r["cp_day"] == (
        dt.date(2024, 3, 1) + dt.timedelta(days=first)
    ).isoformat()


iso_buckets = st.lists(
    st.tuples(st.integers(1, 6), st.integers(0, 6)),
    min_size=1,
    max_size=8,
).map(lambda bs: [(n, min(p, n)) for n, p in bs])


@PROP
@given(buckets=iso_buckets)
def test_isotonic_minimax_equals_sequential_pava(spark, buckets):
    """The minimax closed form must agree with the textbook sequential
    pool-adjacent-violators algorithm on every weighted bucket
    profile."""
    from pubsub_mapreduce_spark.operators.robust import isotonic_calibration

    rows = []
    for b, (n, pos) in enumerate(buckets):
        for i in range(n):
            rows.append(
                ("purchase" if i < pos else "click", float(b) + 0.5)
            )
    ev = spark.createDataFrame(rows, "event_type string, value double")
    got = {
        r["bucket"]: r["iso_rate"]
        for r in isotonic_calibration(ev).collect()
    }

    # sequential PAVA reference: pool adjacent violating blocks
    blocks = [
        [float(pos), float(n)] for (n, pos) in buckets
    ]  # [sum_y, weight]
    i = 0
    while i < len(blocks) - 1:
        if blocks[i][0] * blocks[i + 1][1] > blocks[i + 1][0] * blocks[i][1]:
            blocks[i][0] += blocks[i + 1][0]
            blocks[i][1] += blocks[i + 1][1]
            del blocks[i + 1]
            i = max(0, i - 1)
        else:
            i += 1
    # expand block fit back to buckets (blocks pooled whole buckets)
    per_bucket = []
    bi = 0
    for s, w in blocks:
        covered = 0
        while covered < w:
            per_bucket.append(s / w)
            covered += buckets[bi][0]
            bi += 1
    assert len(per_bucket) == len(buckets)
    for b, expect in enumerate(per_bucket):
        assert abs(got[b] - expect) < 1e-9, (b, got[b], expect, buckets)


lr_users = st.lists(
    st.tuples(
        st.sampled_from(["a", "b"]),
        st.integers(0, 3),  # first active day
        st.integers(0, 5),  # extra active span
    ),
    min_size=2,
    max_size=12,
).filter(lambda us: len({g for g, _, _ in us}) == 2)


@PROP
@given(users=lr_users)
def test_logrank_matches_python_reference(spark, users):
    """O1/E1/V must equal a from-scratch risk-set replay: per day,
    n_g = entered - churned_before, d_g = churns (last day < corpus
    max), terms only where d > 0 and n >= 2."""
    import datetime as dt

    from pubsub_mapreduce_spark.operators.robust import logrank_test

    rows = []
    spans = []
    for i, (g, f, extra) in enumerate(users):
        last = f + extra
        spans.append((g, f, last))
        rows.append((g, f"u{i}", dt.datetime(2024, 4, 1 + f, 9)))
        rows.append((g, f"u{i}", dt.datetime(2024, 4, 1 + last, 9)))
    ev = spark.createDataFrame(
        rows, "event_type string, user_id string, ts timestamp"
    )
    got = logrank_test(ev).collect()

    mx = max(l for _, _, l in spans)
    o1 = e1 = v = 0.0
    for day in range(mx + 1):
        n = {"a": 0, "b": 0}
        d = {"a": 0, "b": 0}
        for g, f, l in spans:
            if f <= day and not (l < day):
                n[g] += 1
            if l == day and l < mx:
                d[g] += 1
        nt, dt_ = n["a"] + n["b"], d["a"] + d["b"]
        if dt_ > 0 and nt >= 2:
            o1 += d["a"]
            e1 += dt_ * n["a"] / nt
            v += dt_ * n["a"] * n["b"] * (nt - dt_) / (nt * nt * (nt - 1))
    if v <= 0:
        assert got == []
    else:
        (r,) = got
        assert r["o1"] == o1
        assert abs(r["e1"] - e1) < 1e-9
        assert abs(r["v"] - v) < 1e-9
        assert abs(r["chi2"] - (o1 - e1) ** 2 / v) < 1e-9


# asof_join vs pandas merge_asof: random NULL patterns in value columns
# must never stitch fields across right rows (the round-4 single-struct
# carry fix); unique right times sidestep pandas' tie ordering.
asof_case = st.tuples(
    st.lists(st.integers(0, 200), min_size=1, max_size=12),  # left times
    st.lists(
        st.tuples(
            st.integers(0, 200),          # right time (deduped below)
            st.one_of(st.none(), st.integers(-5, 5)),  # nullable value
        ),
        min_size=1,
        max_size=12,
    ),
    st.sampled_from(["backward", "forward"]),
    st.one_of(st.none(), st.integers(1, 100)),  # tolerance seconds
)


@PROP
@given(case=asof_case)
def test_asof_join_matches_pandas_merge_asof(spark, case):
    import pandas as pd

    from pubsub_mapreduce_spark.operators.rangejoin import asof_join

    lts, rrows, direction, tol = case
    rseen = {}
    for t, v in rrows:
        rseen.setdefault(t, v)  # unique right times
    rts = sorted(rseen.items())
    base = pd.Timestamp("2024-01-01")
    lpdf = pd.DataFrame(
        {
            "k": [1] * len(lts),
            "lt": [base + pd.Timedelta(seconds=s) for s in sorted(lts)],
        }
    )
    rpdf = pd.DataFrame(
        {
            "k": [1] * len(rts),
            "rt": [base + pd.Timedelta(seconds=s) for s, _ in rts],
            "v": pd.array(
                [v for _, v in rts], dtype="Int64"
            ),
        }
    )
    want = pd.merge_asof(
        lpdf,
        rpdf,
        left_on="lt",
        right_on="rt",
        by="k",
        direction=direction,
        tolerance=(pd.Timedelta(seconds=tol) if tol is not None else None),
    )
    left = spark.createDataFrame(lpdf)
    right = spark.createDataFrame(
        [
            (
                1,
                (base + pd.Timedelta(seconds=s)).to_pydatetime(),
                None if v is None else v,
            )
            for s, v in rts
        ],
        "k long, rt timestamp, v long",
    )
    got = (
        asof_join(
            left,
            right,
            on=["k"],
            left_time="lt",
            right_time="rt",
            value_cols=["v"],
            direction=direction,
            tolerance_s=tol,
        )
        .orderBy("lt")
        .collect()
    )
    assert len(got) == len(want)
    for row, (_, w) in zip(got, want.iterrows()):
        wv = None if pd.isna(w["v"]) else int(w["v"])
        assert row["asof_v"] == wv, (direction, tol, row, dict(w))


# -------------------------------------------------------------------
# interval_overlap_join vs a brute-force quadratic overlap oracle
# (VERDICT r4 #6): the bin decomposition + first-shared-bin dedup has
# more edge cases than unit pins cover — touching endpoints, empty and
# inverted intervals, NULL bounds, spans crossing many bins, and the
# keyed self-join form. Random intervals, exact pair-multiset compare.
BIN_W = 60  # small bin so multi-bin spans are the COMMON case

interval_case = st.tuples(
    st.lists(  # left side: (key, start_s, end_s) with NULL/degenerate mix
        st.tuples(
            st.integers(0, 1),
            st.one_of(st.none(), st.integers(0, 10 * BIN_W)),
            st.one_of(st.none(), st.integers(0, 10 * BIN_W)),
        ),
        min_size=0,
        max_size=25,
    ),
    st.lists(
        st.tuples(
            st.integers(0, 1),
            st.one_of(st.none(), st.integers(0, 10 * BIN_W)),
            st.one_of(st.none(), st.integers(0, 10 * BIN_W)),
        ),
        min_size=0,
        max_size=25,
    ),
    st.booleans(),  # keyed?
)


def _brute_overlaps(lrows, rrows, keyed):
    """Quadratic reference: half-open overlap, NULL/degenerate dropped."""
    out = []
    for li, (lk, ls, le) in enumerate(lrows):
        if ls is None or le is None or le <= ls:
            continue
        for ri, (rk, rs, re) in enumerate(rrows):
            if rs is None or re is None or re <= rs:
                continue
            if keyed and lk != rk:
                continue
            if ls < re and rs < le:
                out.append((li, ri))
    return sorted(out)


@PROP
@given(case=interval_case)
def test_interval_overlap_matches_bruteforce(spark, case):
    from pubsub_mapreduce_spark.operators.rangejoin import (
        interval_overlap_join,
    )

    lrows, rrows, keyed = case
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        [(i, k, s, e) for i, (k, s, e) in enumerate(rows)],
        "rid long, k long, s long, e long",
    ).select(
        "rid",
        "k",
        F.col("s").cast("timestamp").alias("start"),
        F.col("e").cast("timestamp").alias("end"),
    )
    left = mk(lrows).withColumnRenamed("rid", "lid")
    right = mk(rrows)
    if keyed:
        pairs = interval_overlap_join(
            left, right, on=["k"], bin_width_s=BIN_W
        )
    else:
        pairs = interval_overlap_join(
            left.drop("k"), right.drop("k"), bin_width_s=BIN_W
        )
    got = sorted(
        (r["lid_l"], r["rid_r"])
        for r in pairs.select("lid_l", "rid_r").collect()
    )
    assert got == _brute_overlaps(lrows, rrows, keyed)


# -------------------------------------------------------------------
# Round-5 rank statistics vs brute-force Python references under
# random group/value layouts (heavy ties, singleton groups, constant
# corpora) — the degenerate shapes unit fixtures don't enumerate.
kw_case = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 6)),  # (group, value)
    min_size=2,
    max_size=40,
)


@PROP
@given(rows=kw_case)
def test_kruskal_wallis_matches_bruteforce(spark, rows):
    from collections import Counter

    from pubsub_mapreduce_spark.operators.robust import kruskal_wallis

    df = spark.createDataFrame(
        [
            (i, "x", "en", f"g{g}", v)
            for i, (g, v) in enumerate(rows)
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = kruskal_wallis(df).collect()
    allv = sorted(v for _, v in rows)
    n = len(allv)
    groups = {}
    for g, v in rows:
        groups.setdefault(g, []).append(v)
    t = sum(c**3 - c for c in Counter(allv).values())
    corr = 1 - t / ((n - 1) * n * (n + 1)) if n > 2 else 0.0
    if len(groups) < 2 or n <= 2 or corr <= 0:
        assert out == []  # degenerate: dropped by integer predicates
        return

    def avg_rank(v):
        less = sum(1 for x in allv if x < v)
        eq = sum(1 for x in allv if x == v)
        return less + (eq + 1) / 2

    s12 = sum(
        sum(avg_rank(v) for v in vs) ** 2 / len(vs)
        for vs in groups.values()
    )
    h = (12.0 / (n * (n + 1)) * s12 - 3 * (n + 1)) / corr
    assert len(out) == 1
    assert out[0]["k"] == len(groups) and out[0]["tie_t"] == t
    assert abs(out[0]["h"] - h) < 1e-5


jt_case = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 5)),
    min_size=2,
    max_size=30,
)


@PROP
@given(rows=jt_case)
def test_jonckheere_matches_bruteforce(spark, rows):
    from pubsub_mapreduce_spark.operators.robust import jonckheere_terpstra

    df = spark.createDataFrame(
        [
            (i, f"g{g}", float(v))
            for i, (g, v) in enumerate(rows)
        ],
        "o_orderkey long, o_orderpriority string, o_totalprice double",
    )
    out = jonckheere_terpstra(df).collect()
    groups = {}
    for g, v in rows:
        groups.setdefault(f"g{g}", []).append(round(v * 100))
    gs = sorted(groups)
    jt2 = sum(
        2 * (x < y) + (x == y)
        for i in range(len(gs))
        for j in range(i + 1, len(gs))
        for x in groups[gs[i]]
        for y in groups[gs[j]]
    )
    n = len(rows)
    sn2 = sum(len(v) ** 2 for v in groups.values())
    var = (
        n * n * (2 * n + 3)
        - sum(len(v) ** 2 * (2 * len(v) + 3) for v in groups.values())
    ) / 72.0
    if var <= 0:
        assert out == []
        return
    z = (jt2 - (n * n - sn2) / 2) / (2 * var**0.5)
    assert len(out) == 1
    assert out[0]["jt2"] == jt2 and out[0]["n"] == n
    assert abs(out[0]["z"] - z) < 1e-5


qn_case = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 9)),
    min_size=1,
    max_size=30,
)


@PROP
@given(rows=qn_case)
def test_quantile_normalize_matches_bruteforce(spark, rows):
    from pubsub_mapreduce_spark.operators.robust import quantile_normalize

    df = spark.createDataFrame(
        [
            (i, "x", "en", f"s{g}", v)
            for i, (g, v) in enumerate(rows)
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = quantile_normalize(df).collect()
    pooled = sorted(v for _, v in rows)
    n_total = len(pooled)
    groups = {}
    for g, v in rows:
        groups.setdefault(f"s{g}", []).append(v)
    # reference: doubled midrank u(v) = 2*less + c + 1 within source;
    # idx = (u*N + n_s) // (2*n_s); v_norm = pooled[idx-1]
    want = {}
    for src, vs in groups.items():
        n_s = len(vs)
        for v in set(vs):
            less = sum(1 for x in vs if x < v)
            c = sum(1 for x in vs if x == v)
            u = 2 * less + c + 1
            idx = (u * n_total + n_s) // (2 * n_s)
            want[(src, v)] = pooled[idx - 1]
    assert len(out) == len(rows)
    for r in out:
        assert r["v_norm"] == want[(r["source"], r["v"])], r


cvm_rows = st.lists(
    st.tuples(st.sampled_from(["a", "b", "c"]), st.integers(0, 6)),
    min_size=2,
    max_size=30,
).filter(lambda rs: len({s for s, _ in rs}) >= 2)


@PROP
@given(rows=cvm_rows)
def test_cvm_matches_bruteforce(spark, rows):
    from pubsub_mapreduce_spark.operators.robust import cvm_source_drift

    docs = spark.createDataFrame(
        [(i, "t", "en", s, v) for i, (s, v) in enumerate(rows)],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    got = {r["source"]: r for r in cvm_source_drift(docs).collect()}
    allv = [v for _, v in rows]
    n_tot = len(allv)
    srcs = {s for s, _ in rows}
    for src in srcs:
        vs = [v for s, v in rows if s == src]
        rest = [v for s, v in rows if s != src]
        if not vs or not rest:
            assert src not in got
            continue
        n1, n2 = len(vs), len(rest)
        s_num = 0
        for x in sorted(set(allv)):
            c_all = sum(1 for v in allv if v == x)
            c1 = sum(1 for v in vs if v <= x)
            c2 = sum(1 for v in rest if v <= x)
            s_num += c_all * (n2 * c1 - n1 * c2) ** 2
        ref = s_num / (n_tot**2 * n1 * n2)
        assert abs(got[src]["cvm"] - ref) < 1e-6, src


mh_rows = st.lists(
    st.tuples(
        st.integers(0, 4),  # weekday offset within the first week
        st.booleans(),  # variant-0 user?
        st.booleans(),  # purchase?
    ),
    min_size=4,
    max_size=60,
)


@PROP
@given(rows=mh_rows)
def test_mantel_haenszel_matches_bruteforce(spark, rows):
    import datetime

    from pubsub_mapreduce_spark.operators.robust import mantel_haenszel
    from pubsub_mapreduce_spark.operators.sampling import hash_bucket

    probe = spark.createDataFrame(
        [(u,) for u in range(400)], "user_id long"
    ).select("user_id", hash_bucket(F.col("user_id"), 2).alias("v"))
    by_v = {0: [], 1: []}
    for r in probe.collect():
        by_v[r["v"]].append(r["user_id"])
    base = datetime.datetime(2024, 1, 1, 12)  # Monday
    data, eid = [], 0
    iters = {0: iter(by_v[0] * 50), 1: iter(by_v[1] * 50)}
    strata = {}
    for dow, v0, conv in rows:
        u = next(iters[0 if v0 else 1])
        data.append(
            (eid, base + datetime.timedelta(days=dow), u,
             "purchase" if conv else "view", 1.0)
        )
        eid += 1
        cell = strata.setdefault(dow, [0, 0, 0, 0])
        idx = (0 if v0 else 2) + (0 if conv else 1)
        cell[idx] += 1
    df = spark.createDataFrame(
        data,
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    out = mantel_haenszel(df).collect()
    keep = {k: c for k, c in strata.items() if sum(c) >= 2}
    or_num = sum(a * d / (a + b + c + d) for a, b, c, d in keep.values())
    or_den = sum(b * c / (a + b + c + d) for a, b, c, d in keep.values())
    se = sum(
        (a + b) * (a + c) / (a + b + c + d) for a, b, c, d in keep.values()
    )
    sv = sum(
        (a + b) * (c + d) * (a + c) * (b + d)
        / ((a + b + c + d) ** 2 * (a + b + c + d - 1))
        for a, b, c, d in keep.values()
        if (a + b + c + d) > 1
    )
    if not keep or or_den <= 0 or sv <= 0:
        assert out == []
        return
    sum_a = sum(c[0] for c in keep.values())
    assert len(out) == 1
    r = out[0]
    assert r["k_strata"] == len(keep) and r["sum_a"] == sum_a
    assert abs(r["or_mh"] - or_num / or_den) < 1e-6
    assert abs(r["cmh"] - (sum_a - se) ** 2 / sv) < 1e-6


gopher_texts = st.lists(
    st.text(
        alphabet="ab the# .\n-*•\t123", min_size=0, max_size=120
    ),
    min_size=1,
    max_size=8,
)


@PROP
@given(docs=gopher_texts)
def test_gopher_rules_match_python_reference(spark, docs):
    """The integer-cross-multiplied rule battery must agree with a
    literal Python reimplementation on adversarial text: mixed
    whitespace, unicode bullets, ellipses runs, empty lines/docs."""
    import re

    from pubsub_mapreduce_spark.operators.textops import (
        GOPHER_STOPWORDS,
        gopher_rules,
    )

    df = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in enumerate(docs)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = {r["doc_id"]: r for r in gopher_rules(df).collect()}
    for i, t in enumerate(docs):
        toks = [w for w in re.split(r"\s+", t) if w != ""]
        lines = [l for l in t.split("\n") if l != ""]
        n_words = len(toks)
        ncw = sum(len(w) for w in toks)
        n_hash = t.count("#")
        n_ell = (len(t) - len(t.replace("...", ""))) // 3
        n_lines = len(lines)
        n_bullet = sum(
            1 for l in lines if re.match(r"^[-*•]", l.lstrip(" "))
        )
        n_ell_end = sum(
            1 for l in lines if re.search(r"\.\.\.$", l.rstrip(" "))
        )
        n_alpha = sum(1 for w in toks if re.search("[A-Za-z]", w))
        n_stop = len(
            {w.lower() for w in toks} & set(GOPHER_STOPWORDS)
        )
        want = {
            "r_wc": 50 <= n_words <= 100000,
            "r_wlen": 3 * n_words <= ncw <= 10 * n_words,
            "r_symbol": 10 * (n_hash + n_ell) <= n_words,
            "r_bullet": 10 * n_bullet <= 9 * n_lines,
            "r_ellipsis": 10 * n_ell_end <= 3 * n_lines,
            "r_alpha": 5 * n_alpha >= 4 * n_words,
            "r_stop": n_stop >= 2,
        }
        r = got[i]
        assert r["n_words"] == n_words, (i, t)
        for k, v in want.items():
            assert r[k] == v, (i, k, t)
        assert r["pass"] == all(want.values())


fr_case = st.lists(
    st.tuples(st.integers(0, 4), st.integers(0, 3)),  # (day, type)
    min_size=2,
    max_size=40,
)


@PROP
@given(rows=fr_case)
def test_friedman_matches_bruteforce(spark, rows):
    """friedman_test vs a literal float computation: counts per
    (day, type) on the observed day x type grid (missing cell = 0),
    midranks within each day, tie-corrected Q."""
    import datetime

    from pubsub_mapreduce_spark.operators.robust import friedman_test

    base = datetime.datetime(2024, 3, 1, 12)
    df = spark.createDataFrame(
        [
            (i, 1, base + datetime.timedelta(days=d), f"t{t}")
            for i, (d, t) in enumerate(rows)
        ],
        "event_id long, user_id long, ts timestamp, event_type string",
    )
    out = friedman_test(df).collect()
    days = sorted({d for d, _ in rows})
    types = sorted({t for _, t in rows})
    from collections import Counter

    counts = Counter(rows)
    grid = {
        d: [counts.get((d, t), 0) for t in types] for d in days
    }
    k, n = len(types), len(days)

    def midranks(vals):
        return [
            sum(1 for x in vals if x < v)
            + (sum(1 for x in vals if x == v) + 1) / 2
            for v in vals
        ]

    ranks = {d: midranks(grid[d]) for d in days}
    rj = [sum(ranks[d][j] for d in days) for j in range(k)]
    num = sum((r - n * (k + 1) / 2) ** 2 for r in rj)
    den = sum(r**2 for d in days for r in ranks[d]) - n * k * (k + 1) ** 2 / 4
    if k < 2 or den <= 0:
        assert out == []
        return
    q = (k - 1) * num / den
    assert len(out) == 1
    assert out[0]["k"] == k and out[0]["n_blocks"] == n
    assert abs(out[0]["q"] - q) < 1e-5


cd_case = st.lists(
    st.tuples(st.booleans(), st.integers(0, 8)),  # (in src0?, n_chars)
    min_size=2,
    max_size=40,
)


@PROP
@given(rows=cd_case)
def test_cliffs_delta_matches_bruteforce(spark, rows):
    """cliffs_delta vs the O(n*m) literal pair count."""
    from pubsub_mapreduce_spark.operators.robust import cliffs_delta

    df = spark.createDataFrame(
        [
            (i, "x", "en", "src0" if a else "srcZ", v)
            for i, (a, v) in enumerate(rows)
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = cliffs_delta(df).collect()
    xs = [v for a, v in rows if a]
    ys = [v for a, v in rows if not a]
    if not xs or not ys:
        assert out == []
        return
    gt = sum(1 for x in xs for y in ys if x > y)
    lt = sum(1 for x in xs for y in ys if x < y)
    eq = sum(1 for x in xs for y in ys if x == y)
    assert len(out) == 1
    r = out[0]
    assert (r["n_a"], r["n_b"], r["n_gt"], r["n_lt"], r["n_eq"]) == (
        len(xs), len(ys), gt, lt, eq,
    )
    assert abs(r["delta"] - (gt - lt) / (len(xs) * len(ys))) < 1e-5
    d = abs((gt - lt) / (len(xs) * len(ys)))
    want_mag = (
        "negligible" if abs(r["delta"]) < 0.147
        else "small" if abs(r["delta"]) < 0.33
        else "medium" if abs(r["delta"]) < 0.474
        else "large"
    )
    assert r["magnitude"] == want_mag


ws_case = st.lists(
    st.tuples(st.integers(0, 10_000), st.integers(0, 600)),
    min_size=1,
    max_size=40,
    unique_by=lambda t: t[0],
)


@PROP
@given(rows=ws_case, k=st.integers(1, 8))
def test_weighted_sample_matches_exact_replication(spark, rows, k):
    """weighted_sample vs a literal Python replication of the key
    derivation (hashlib md5 == Spark md5; same 52-bit uniform, same
    ln(u)/w) — the draw is a pure deterministic function of ids and
    weights, so ranks and doc ids match exactly."""
    import hashlib
    import math

    from pubsub_mapreduce_spark.operators.sampling import weighted_sample

    df = spark.createDataFrame(
        [(i, "x", "en", "s", w) for i, w in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = sorted(
        (r["rank"], r["doc_id"], r["w"])
        for r in weighted_sample(df, k=k).collect()
    )
    keyed = []
    for i, w in rows:
        if w <= 0:
            continue
        h = int(hashlib.md5(str(i).encode()).hexdigest()[:13], 16)
        u = (h + 0.5) / 2.0**52
        keyed.append((math.log(u) / w, i, w))
    keyed.sort(key=lambda t: (-t[0], t[1]))
    want = [(r + 1, i, w) for r, (_, i, w) in enumerate(keyed[:k])]
    assert got == want


# -------------------------------------------------------------------
# Late round-6 statistics vs brute-force Python references under
# random layouts (ties, constant series, singleton groups).
mk_case = st.lists(st.integers(0, 5), min_size=2, max_size=15)


@PROP
@given(counts=mk_case)
def test_mann_kendall_matches_bruteforce(spark, counts):
    import datetime as dt
    import math
    from collections import Counter

    from pubsub_mapreduce_spark.operators.robust import mann_kendall

    rows, eid = [], 0
    for day, c in enumerate(counts):
        for _ in range(c + 1):  # +1 so every day exists
            rows.append(
                (eid, 1, "O", 1.0,
                 dt.datetime(2024, 3, 1) + dt.timedelta(days=day), "1")
            )
            eid += 1
    df = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, "
        "o_orderpriority string",
    )
    out = mann_kendall(df).collect()
    daily = [c + 1 for c in counts]
    n = len(daily)
    s = sum(
        (0 if daily[j] == daily[i] else (1 if daily[j] > daily[i] else -1))
        for i in range(n)
        for j in range(i + 1, n)
    )
    tie18 = sum(
        t * (t - 1) * (2 * t + 5) for t in Counter(daily).values()
    )
    var18 = n * (n - 1) * (2 * n + 5) - tie18
    if var18 <= 0:
        assert out == []
        return
    zc = s - 1.0 if s > 0 else (s + 1.0 if s < 0 else 0.0)
    z = math.floor(zc / math.sqrt(var18 / 18.0) * 1e6 + 0.5) / 1e6
    assert len(out) == 1
    r = out[0]
    assert r.n_days == n and r.s == s and r.var18 == var18
    assert r.z == z


cq_case = st.lists(
    st.tuples(st.integers(0, 4), st.integers(0, 2)),  # (user, type)
    min_size=1,
    max_size=25,
)


@PROP
@given(rows=cq_case)
def test_cochrans_q_matches_bruteforce(spark, rows):
    import datetime as dt
    import math

    from pubsub_mapreduce_spark.operators.robust import cochrans_q

    df = spark.createDataFrame(
        [
            (i, dt.datetime(2024, 3, 1, 10), u, f"t{ty}", 0.0)
            for i, (u, ty) in enumerate(rows)
        ],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double",
    )
    out = cochrans_q(df, min_days=1).collect()
    users = sorted({u for u, _ in rows})
    types = sorted({ty for _, ty in rows})
    k = len(types)
    x = {
        (u, ty): 1 if (u, ty) in {(a, b) for a, b in rows} else 0
        for u in users
        for ty in types
    }
    rb = {u: sum(x[(u, ty)] for ty in types) for u in users}
    cj = {ty: sum(x[(u, ty)] for u in users) for ty in types}
    nsucc = sum(rb.values())
    num = (k - 1) * sum((k * cj[ty] - nsucc) ** 2 for ty in types)
    den = k * (k * nsucc - sum(v * v for v in rb.values()))
    if k < 2 or den <= 0:
        assert out == []
        return
    q = math.floor(num / den * 1e6 + 0.5) / 1e6
    assert len(out) == 1
    r = out[0]
    assert r.n_blocks == len(users) and r.k == k and r.n_succ == nsucc
    assert r.q == q


dn_case = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 6)),  # (group, value)
    min_size=2,
    max_size=30,
)


@PROP
@given(rows=dn_case)
def test_dunn_posthoc_matches_bruteforce(spark, rows):
    import math
    from collections import Counter

    from pubsub_mapreduce_spark.operators.robust import dunn_posthoc

    df = spark.createDataFrame(
        [
            (i, "x", "en", f"g{g}", v)
            for i, (g, v) in enumerate(rows)
        ],
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    )
    out = {
        (r.g_a, r.g_b): r for r in dunn_posthoc(df).collect()
    }
    allv = sorted(v for _, v in rows)
    n = len(allv)
    groups = {}
    for g, v in rows:
        groups.setdefault(f"g{g}", []).append(v)
    t = sum(c**3 - c for c in Counter(allv).values())

    def avg_rank(v):
        less = sum(1 for x in allv if x < v)
        eq = sum(1 for x in allv if x == v)
        return less + (eq + 1) / 2

    names = sorted(groups)
    expected = {}
    for i, ga in enumerate(names):
        for gb in names[i + 1:]:
            na, nb = len(groups[ga]), len(groups[gb])
            var = (n * (n + 1) / 12 - t / (12 * (n - 1))) * (
                1 / na + 1 / nb
            ) if n > 2 else 0.0
            if n <= 2 or var <= 0:
                continue
            diff = sum(avg_rank(v) for v in groups[ga]) / na - sum(
                avg_rank(v) for v in groups[gb]
            ) / nb
            expected[(ga, gb)] = diff / math.sqrt(var)
    assert set(out) == set(expected)
    for key, z in expected.items():
        assert abs(out[key].z - z) < 1e-5
        assert out[key].na == len(groups[key[0]])
        assert out[key].nb == len(groups[key[1]])


stl_case = st.lists(st.integers(0, 500), min_size=8, max_size=28)


@PROP
@given(cents=stl_case)
def test_stl_reconstruction_identity(spark, cents):
    """trend + seasonal + residual must reconstruct y exactly (each
    emitted at 6dp, so the identity holds within 3 rounding ulps) —
    the additive-decomposition contract, on random daily series."""
    import datetime as dt

    from pubsub_mapreduce_spark.operators.robust import stl_lite

    rows = [
        (i, 1, "O", c / 100.0,
         dt.datetime(2024, 3, 1) + dt.timedelta(days=i), "1")
        for i, c in enumerate(cents)
    ]
    df = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, "
        "o_orderpriority string",
    )
    out = stl_lite(df).collect()
    assert len(out) == len(cents) - 6
    for r in out:
        assert abs(r.y - (r.trend + r.seasonal + r.residual)) < 2e-6


brier_case = st.lists(
    st.tuples(st.integers(1, 60), st.booleans()),  # (cents, purchased)
    min_size=4,
    max_size=40,
)


@PROP
@given(rows=brier_case)
def test_brier_decomposition_murphy_identity(spark, rows):
    """REL - RES + UNC must equal the directly-computed binned Brier
    score mean((f_bin(i) - y_i)^2) — Murphy's identity, exact for
    binned forecasts, on random corpora."""
    import datetime as dt

    from pubsub_mapreduce_spark.operators.robust import brier_decomposition

    ev = [
        (i, dt.datetime(2024, 3, 1, 10), 1,
         "purchase" if p else "view", c / 100.0)
        for i, (c, p) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        ev,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double",
    )
    n_bins = 4
    out = brier_decomposition(df, n_bins=n_bins).collect()
    assert len(out) == 1
    r = out[0]
    # brute force: rank by (cents, event_id), bin, mean forecast per
    # bin, direct binned brier
    n = len(rows)
    order = sorted(range(n), key=lambda i: (rows[i][0], i))
    binof = {i: (k * n_bins) // n for k, i in enumerate(order)}
    rankof = {i: k for k, i in enumerate(order)}
    fbin = {}
    for b in set(binof.values()):
        members = [i for i in range(n) if binof[i] == b]
        fbin[b] = sum(rankof[i] / n for i in members) / len(members)
    direct = sum(
        (fbin[binof[i]] - (1.0 if rows[i][1] else 0.0)) ** 2
        for i in range(n)
    ) / n
    assert abs(r.brier_binned - direct) < 1e-5
    assert r.reliability >= 0 and r.resolution >= -1e-12


lift_case = st.lists(
    st.tuples(st.integers(1, 50), st.booleans()),
    min_size=5,
    max_size=40,
)


@PROP
@given(rows=lift_case)
def test_lift_curve_capture_monotone_and_complete(spark, rows):
    """Cumulative capture is nondecreasing in decile and reaches
    exactly 1.0 at the last decile (when any positive exists)."""
    import datetime as dt

    from pubsub_mapreduce_spark.operators.robust import lift_curve

    ev = [
        (i, dt.datetime(2024, 3, 1, 10), 1,
         "purchase" if p else "view", c / 100.0)
        for i, (c, p) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        ev,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double",
    )
    out = sorted(lift_curve(df, n_bins=5).collect(), key=lambda r: r.decile)
    if not any(p for _, p in rows):
        assert out == []
        return
    caps = [r.capture for r in out]
    assert caps == sorted(caps)
    assert caps[-1] == 1.0
    assert sum(r.n_pos for r in out) == sum(1 for _, p in rows if p)


conf_case = st.lists(
    st.tuples(st.integers(1, 99), st.integers(1, 28)),  # (cents, day)
    min_size=4,
    max_size=40,
)


@PROP
@given(rows=conf_case)
def test_conformal_coverage_matches_bruteforce(spark, rows):
    import datetime as dt
    import math

    from pubsub_mapreduce_spark.operators.robust import conformal_coverage

    ev = [
        (i, dt.datetime(2024, 3, d, 10), 1, "view", c / 100.0)
        for i, (c, d) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        ev,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double",
    )
    out = conformal_coverage(df).collect()
    train = sorted(
        (c, i) for i, (c, d) in enumerate(rows) if d % 2 == 0
    )
    test = [c for c, d in rows if d % 2 == 1]
    if not train or not test:
        assert out == []
        return
    n = len(train)
    lo = train[(5 * n + 99) // 100 - 1][0]
    hi = train[(95 * n + 99) // 100 - 1][0]
    covered = sum(1 for c in test if lo <= c <= hi)
    assert len(out) == 1
    r = out[0]
    assert (r.n_train, r.n_test) == (n, len(test))
    assert (r.lo_cents, r.hi_cents, r.n_covered) == (lo, hi, covered)
    assert r.coverage == math.floor(covered / len(test) * 1e6 + 0.5) / 1e6


aa_case = st.lists(
    st.tuples(st.integers(0, 7), st.integers(0, 7)),
    min_size=1,
    max_size=15,
)


@PROP
@given(raw=aa_case, max_deg=st.integers(2, 5))
def test_adamic_adar_matches_bruteforce(spark, raw, max_deg):
    import math

    from pubsub_mapreduce_spark.operators.graph import adamic_adar

    edges = sorted({(min(a, b), max(a, b)) for a, b in raw if a != b})
    if not edges:
        return
    df = spark.createDataFrame(
        [(a, b, 1) for a, b in edges], "a long, b long, w long"
    )
    out = {
        (r.u, r.v): (r.aa_micro, r.n_common)
        for r in adamic_adar(df, top_k=1000, max_deg=max_deg).collect()
    }
    nbr = {}
    for a, b in edges:
        nbr.setdefault(a, set()).add(b)
        nbr.setdefault(b, set()).add(a)
    expected = {}
    for w, ns in nbr.items():
        d = len(ns)
        if d < 2 or d > max_deg:
            continue
        c = math.floor(1e6 / math.log(d) + 0.5)
        for u in ns:
            for v in ns:
                if u < v and (u, v) not in edges:
                    micro, com = expected.get((u, v), (0, 0))
                    expected[(u, v)] = (micro + c, com + 1)
    assert out == expected


wq_case = st.lists(
    st.tuples(st.integers(1, 20), st.integers(1, 5)),  # (price, qty)
    min_size=1,
    max_size=25,
)


@PROP
@given(rows=wq_case)
def test_weighted_quantiles_matches_bruteforce(spark, rows):
    import datetime as dt

    from pubsub_mapreduce_spark.operators.robust import weighted_quantiles

    df = spark.createDataFrame(
        [
            (i, 1, 1, 1, float(q), float(p), 0.0, 0.0, "N", "O",
             dt.datetime(2024, 3, 1))
            for i, (p, q) in enumerate(rows)
        ],
        "l_orderkey long, l_partkey long, l_suppkey long, "
        "l_linenumber int, l_quantity double, l_extendedprice double, "
        "l_discount double, l_tax double, l_returnflag string, "
        "l_linestatus string, l_shipdate timestamp",
    )
    out = {r.q: r.cents for r in weighted_quantiles(df).collect()}
    agg = {}
    for p, q in rows:
        agg[p * 100] = agg.get(p * 100, 0) + q
    total = sum(agg.values())
    for qq in (25, 50, 75, 90):
        cum = 0
        want = None
        for cents in sorted(agg):
            cum += agg[cents]
            if 100 * cum >= qq * total:
                want = cents
                break
        assert out[qq] == want


me_case = st.lists(
    st.lists(st.integers(0, 3), min_size=2, max_size=8),  # per-user seq
    min_size=1,
    max_size=4,
)


@PROP
@given(seqs=me_case)
def test_markov_entropy_matches_bruteforce(spark, seqs):
    import datetime as dt
    import math
    from collections import Counter, defaultdict

    from pubsub_mapreduce_spark.operators.relational import (
        markov_entropy_rate,
    )

    rows, eid = [], 0
    t0 = dt.datetime(2024, 3, 1, 10)
    for u, seq in enumerate(seqs):
        for i, ty in enumerate(seq):
            rows.append(
                (eid, t0 + dt.timedelta(minutes=i), u, f"t{ty}", 0.0)
            )
            eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double",
    )
    out = {
        r.type_from: r
        for r in markov_entropy_rate({"events": df}).collect()
    }
    trans = defaultdict(Counter)
    for seq in seqs:
        for a, b in zip(seq, seq[1:]):
            trans[f"t{a}"][f"t{b}"] += 1
    n_all = sum(sum(c.values()) for c in trans.values())
    assert set(out) == set(trans)
    for s, c in trans.items():
        ni = sum(c.values())
        h = sum(
            (nij / ni) * (math.log(ni) - math.log(nij))
            for _, nij in sorted(c.items())
        )
        assert out[s].n_trans == ni
        assert abs(out[s].h_cond - h) < 1e-5
        assert out[s].pi == math.floor(ni / n_all * 1e6 + 0.5) / 1e6


di_case = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 3)),  # (nation, n_orders)
    min_size=1,
    max_size=20,
)


@PROP
@given(custs=di_case)
def test_disparate_impact_matches_bruteforce(spark, custs):
    import datetime as dt
    import math
    from collections import defaultdict

    from pubsub_mapreduce_spark.operators.robust import disparate_impact

    cust = spark.createDataFrame(
        [(i, f"c{i}", nk, 0.0, "SEG") for i, (nk, _) in enumerate(custs)],
        "c_custkey long, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string",
    )
    orows, oid = [], 0
    for i, (_, n) in enumerate(custs):
        for _ in range(n):
            orows.append(
                (oid, i, "O", 1.0, dt.datetime(2024, 3, 1), "1")
            )
            oid += 1
    orders = spark.createDataFrame(
        orows or [(0, 10**9, "O", 1.0, dt.datetime(2024, 3, 1), "1")],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, "
        "o_orderpriority string",
    )
    out = {
        r.nationkey: r
        for r in disparate_impact(
            {"customer": cust, "orders": orders}, min_orders=2
        ).collect()
    }
    grp = defaultdict(lambda: [0, 0])
    for nk, n in custs:
        grp[nk][0] += 1
        grp[nk][1] += 1 if n >= 2 else 0
    ref_nk = min(
        grp, key=lambda nk: (-grp[nk][1] / grp[nk][0], nk)
    )
    sr, nr = grp[ref_nk][1], grp[ref_nk][0]
    assert set(out) == set(grp)
    for nk, (n, sel) in grp.items():
        r = out[nk]
        assert (r.n, r.sel) == (n, sel)
        assert r.flag_80pct == (5 * sel * nr < 4 * sr * n)
        if sr > 0:
            want = math.floor(sel * nr / (sr * n) * 1e6 + 0.5) / 1e6
            assert r.di_ratio == want
        else:
            assert r.di_ratio is None


ccf_case = st.lists(
    st.tuples(st.integers(0, 4), st.integers(0, 9)),  # (day, extra B events)
    min_size=1,
    max_size=10,
)


@PROP
@given(spec=ccf_case)
def test_ccf_daily_matches_bruteforce(spark, spec):
    import datetime as dt
    import math
    from collections import Counter

    from pubsub_mapreduce_spark.operators.robust import ccf_daily

    # type A: one event per spec entry on its day; type B: `extra`+1
    # events on the same day — random daily count pairs with gaps.
    rows, eid = [], 0
    for day, extra in spec:
        rows.append((eid, dt.datetime(2024, 3, 1 + day, 10), 1, "A", 0.0))
        eid += 1
        for _ in range(extra + 1):
            rows.append(
                (eid, dt.datetime(2024, 3, 1 + day, 11), 1, "B", 0.0)
            )
            eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double",
    )
    out = {
        (r.type_a, r.type_b, r.lag): r for r in ccf_daily(df).collect()
    }
    a_cnt = Counter(day for day, _ in spec)
    b_cnt = Counter()
    for day, extra in spec:
        b_cnt[day] += extra + 1
    for lag in range(-3, 4):
        pairs = [
            (a_cnt[d], b_cnt[d + lag])
            for d in a_cnt
            if (d + lag) in b_cnt
        ]
        n = len(pairs)
        sx = sum(x for x, _ in pairs)
        sy = sum(y for _, y in pairs)
        sxy = sum(x * y for x, y in pairs)
        sx2 = sum(x * x for x, _ in pairs)
        sy2 = sum(y * y for _, y in pairs)
        vx, vy = n * sx2 - sx * sx, n * sy2 - sy * sy
        key = ("A", "B", lag)
        if vx <= 0 or vy <= 0:
            assert key not in out
            continue
        r = (n * sxy - sx * sy) / (math.sqrt(vx) * math.sqrt(vy))
        want = math.floor((r + 1.0) * 1e6 + 0.5) / 1e6
        assert out[key].n == n and out[key].r_plus1 == want


@PROP
@given(
    scale=st.integers(2, 9),
    seed_ids=st.lists(st.integers(0, 30), min_size=2, max_size=6,
                      unique=True),
)
def test_jl_distortion_scale_invariance(spark, scale, seed_ids):
    """The JL ratio is invariant under uniformly scaling every vector
    by an integer factor: both squared distances pick up scale^2 and
    it cancels exactly (pure double multiplies by an integer are
    exact here — components are small integers)."""
    from pubsub_mapreduce_spark.operators.similarity import jl_distortion

    def vecs(mult):
        out = []
        for vid in seed_ids:
            v = [float(((vid * 7 + j * 3) % 5 - 2) * mult) for j in range(64)]
            out.append((vid, v))
        return out

    emb1 = spark.createDataFrame(
        vecs(1), "vec_id long, embedding array<float>"
    )
    emb2 = spark.createDataFrame(
        vecs(scale), "vec_id long, embedding array<float>"
    )
    r1 = {
        (r.id_a, r.id_b): r.ratio
        for r in jl_distortion(emb1, every=1).collect()
    }
    r2 = {
        (r.id_a, r.id_b): r.ratio
        for r in jl_distortion(emb2, every=1).collect()
    }
    assert r1 == r2
