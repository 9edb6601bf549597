"""Late round-6 operators: Mann-Kendall, Cochran's Q, Durbin-Watson,
Dunn's post-hoc, Markov entropy rate, Adamic-Adar, JL distortion.

Each test pins the operator against a hand-computed (or literal-Python
brute force) reference on a planted fixture — the oracle sweep covers
the fixture corpora; these pin the SEMANTICS on cases small enough to
verify by hand.
"""

from __future__ import annotations

import datetime as dt
import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pubsub_mapreduce_spark.operators import relational as R
from pubsub_mapreduce_spark.operators import robust as RB

D = dt.datetime


def _orders(spark, rows):
    return spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, "
        "o_orderpriority string",
    )


def _events(spark, rows):
    return spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double",
    )


def test_mann_kendall_hand_computed(spark):
    # daily counts [1, 2, 2, 3]: S = +1+1+1+0+1+1 = 5; tie group {2}
    # has t=2 -> tie18 = 2*1*9 = 18; var18 = 4*3*13 - 18 = 138;
    # z = (5-1)/sqrt(138/18).
    rows = []
    ok = 0
    for day, n in [(1, 1), (2, 2), (3, 2), (4, 3)]:
        for _ in range(n):
            ok += 1
            rows.append((ok, 1, "O", 10.0, D(2024, 3, day), "1-URGENT"))
    out = RB.mann_kendall(_orders(spark, rows)).collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_days == 4 and r.s == 5 and r.var18 == 138
    want = math.floor((4.0 / math.sqrt(138.0 / 18.0)) * 1e6 + 0.5) / 1e6
    assert r.z == want


def test_mann_kendall_all_tied_is_degenerate(spark):
    # constant daily counts -> every day ties -> var18 == 0 -> no row.
    rows = [
        (i, 1, "O", 10.0, D(2024, 3, 1 + i), "1-URGENT") for i in range(5)
    ]
    assert RB.mann_kendall(_orders(spark, rows)).count() == 0


def test_cochrans_q_hand_computed(spark):
    # min_days=1 -> success = type present. u1: A; u2: A,B; u3: A.
    # C_A=3, C_B=1, N=4, R=(1,2,1), sum R^2=6, k=2:
    # num = 1*[(2*3-4)^2 + (2*1-4)^2] = 8; den = 2*(2*4-6) = 4; Q=2.
    rows = [
        (1, D(2024, 3, 1, 10), 1, "A", 0.0),
        (2, D(2024, 3, 1, 10), 2, "A", 0.0),
        (3, D(2024, 3, 2, 10), 2, "B", 0.0),
        (4, D(2024, 3, 1, 10), 3, "A", 0.0),
    ]
    out = RB.cochrans_q(_events(spark, rows), min_days=1).collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_blocks == 3 and r.k == 2 and r.n_succ == 4
    assert r.q == 2.0


def test_cochrans_q_uniform_design_degenerate(spark):
    # every user did every type -> R_b = k for all -> den = 0 -> empty.
    rows = [
        (i * 2 + j, D(2024, 3, 1, 10), i, t, 0.0)
        for i in range(3)
        for j, t in enumerate(["A", "B"])
    ]
    assert RB.cochrans_q(_events(spark, rows), min_days=1).count() == 0


def _dw_reference(days_cents):
    """Literal-Python mirror of durbin_watson's spec (exact moments,
    double slope/intercept, quantized residuals)."""
    n = len(days_cents)
    ts = list(range(1, n + 1))
    st, st2 = sum(ts), sum(t * t for t in ts)
    sy = sum(days_cents)
    sty = sum(t * y for t, y in zip(ts, days_cents))
    b = float(n * sty - st * sy) / float(n * st2 - st * st)
    a = (float(sy) - b * float(st)) / float(n)
    eq = [
        math.floor((float(y) - a - b * float(t)) * 10000.0 + 0.5)
        for t, y in zip(ts, days_cents)
    ]
    sse = sum(e * e for e in eq)
    ssd = sum(
        (e2 - e1) * (e2 - e1) for e1, e2 in zip(eq, eq[1:])
    )
    dw = math.floor(float(ssd) / float(sse) * 1e6 + 0.5) / 1e6
    slope = math.floor(b * 1e6 + 0.5) / 1e6
    return slope, dw


def test_durbin_watson_matches_literal_reference(spark):
    # alternating series around a flat trend -> dw near 4 (negative
    # residual autocorrelation); pin the exact quantized value.
    vals = [1.00, 2.00, 1.00, 2.00, 1.00, 2.00]
    rows = [
        (i, 1, "O", v, D(2024, 3, 1 + i), "1-URGENT")
        for i, v in enumerate(vals)
    ]
    out = RB.durbin_watson(_orders(spark, rows)).collect()
    assert len(out) == 1
    r = out[0]
    slope, dw = _dw_reference([round(v * 100) for v in vals])
    assert r.n_days == 6
    assert r.slope_cents_per_day == slope
    assert r.dw == dw
    assert dw > 3.0  # alternation -> strong negative autocorrelation


def test_durbin_watson_perfect_line_is_degenerate(spark):
    # exactly linear revenue -> zero residuals -> sse == 0 -> no row.
    rows = [
        (i, 1, "O", 1.0 * (i + 1), D(2024, 3, 1 + i), "1-URGENT")
        for i in range(5)
    ]
    assert RB.durbin_watson(_orders(spark, rows)).count() == 0


def test_dunn_posthoc_hand_computed(spark):
    # A={1,2}, B={3,4}: no ties, mean ranks 1.5 vs 3.5,
    # var = (4*5/12) * (1/2 + 1/2) = 5/3, z = -2/sqrt(5/3).
    rows = [
        (1, "x", "en", "a", 1),
        (2, "x", "en", "a", 2),
        (3, "x", "en", "b", 3),
        (4, "x", "en", "b", 4),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
        "n_chars long"
    )
    out = RB.dunn_posthoc(docs).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.g_a, r.g_b, r.na, r.nb) == ("a", "b", 2, 2)
    want = math.floor((-2.0 / math.sqrt(5.0 / 3.0)) * 1e6 + 0.5) / 1e6
    assert r.z == want


def test_markov_entropy_deterministic_and_branching_states(spark):
    # user 1: A B A B A (one session) -> from A always to B (h=0),
    # from B always to A (h=0). user 2: C A2 C B2 -> from C: {A2, B2}
    # equally -> h = ln 2. (types suffixed so user-2 chains don't mix
    # into user-1 states except through C's branches.)
    rows = []
    t0 = D(2024, 3, 1, 10, 0)
    for i, ty in enumerate(["A", "B", "A", "B", "A"]):
        rows.append((i, t0 + dt.timedelta(minutes=i), 1, ty, 0.0))
    for i, ty in enumerate(["C", "A2", "C", "B2"]):
        rows.append((10 + i, t0 + dt.timedelta(minutes=i), 2, ty, 0.0))
    out = {
        r.type_from: r
        for r in R.markov_entropy_rate(
            {"events": _events(spark, rows)}
        ).collect()
    }
    assert out["A"].h_cond == 0.0 and out["A"].n_trans == 2
    assert out["B"].h_cond == 0.0 and out["B"].n_trans == 2
    ln2 = math.floor(math.log(2.0) * 1e6 + 0.5) / 1e6
    assert out["C"].h_cond == ln2 and out["C"].n_trans == 2
    # pi sums to 1 over states (7 transitions total)
    assert sum(r.n_trans for r in out.values()) == 7


def test_adamic_adar_star_graph(spark):
    # star 1-{2,3,4}: every leaf pair shares hub 1 (deg 3) and no other
    # neighbor -> AA = 1/ln 3 for (2,3),(2,4),(3,4); leaves have deg 1
    # so they never serve as middle nodes; no pair is an edge.
    from pubsub_mapreduce_spark.operators.graph import adamic_adar

    edges = spark.createDataFrame(
        [(1, 2, 1), (1, 3, 1), (1, 4, 1)], "a long, b long, w long"
    )
    out = adamic_adar(edges, top_k=10, max_deg=200).collect()
    micro = math.floor(1e6 / math.log(3.0) + 0.5)
    assert sorted((r.u, r.v) for r in out) == [(2, 3), (2, 4), (3, 4)]
    assert all(r.aa_micro == micro and r.n_common == 1 for r in out)


def test_adamic_adar_existing_edges_excluded_and_cap(spark):
    # triangle 1-2, 2-3, 1-3 plus leaf 4 on node 1: pair (2,4)/(3,4)
    # share neighbor 1; pair (2,3) IS an edge -> excluded even though
    # it shares neighbor 1. max_deg=2 drops hub 1 (deg 3) -> no pairs.
    from pubsub_mapreduce_spark.operators.graph import adamic_adar

    edges = spark.createDataFrame(
        [(1, 2, 1), (2, 3, 1), (1, 3, 1), (1, 4, 1)],
        "a long, b long, w long",
    )
    out = adamic_adar(edges, top_k=10, max_deg=200).collect()
    got = sorted((r.u, r.v) for r in out)
    assert (2, 3) not in got
    assert (2, 4) in got and (3, 4) in got
    assert adamic_adar(edges, top_k=10, max_deg=2).count() == 0


def test_jl_distortion_axis_vectors_ratio_one(spark):
    # vectors 0, e1, 2*e1: every pair's difference is along dim 0, so
    # ||R(x-y)||^2/16 = (sum_j s_j0^2) * c^2 / 16 = c^2 = ||x-y||^2
    # -> ratio exactly 1 for all three pairs (signs are +-1).
    from pubsub_mapreduce_spark.operators.similarity import jl_distortion

    def vec(c):
        return [float(c)] + [0.0] * 63

    emb = spark.createDataFrame(
        [(0, vec(0)), (1, vec(1)), (2, vec(2))],
        "vec_id long, embedding array<float>",
    )
    out = jl_distortion(emb, every=1).collect()
    assert sorted((r.id_a, r.id_b) for r in out) == [(0, 1), (0, 2), (1, 2)]
    assert all(r.ratio == 1.0 for r in out)
    d2 = {(r.id_a, r.id_b): r.d2_orig for r in out}
    assert d2[(0, 1)] == 1.0 and d2[(0, 2)] == 4.0 and d2[(1, 2)] == 1.0


def test_jl_signs_deterministic_md5_derivation(spark):
    # pure function of (j, i) via md5 — re-derive two entries by hand.
    import hashlib

    from pubsub_mapreduce_spark.operators.similarity import jl_signs

    signs = jl_signs(16, 64)
    assert len(signs) == 16 and all(len(r) == 64 for r in signs)
    assert all(v in (1.0, -1.0) for r in signs for v in r)
    for j, i in [(0, 0), (7, 33)]:
        h = hashlib.md5(f"jl:{j}:{i}".encode()).hexdigest()[0]
        assert signs[j][i] == (1.0 if h in "01234567" else -1.0)
    # roughly balanced (md5 uniformity): between 40% and 60% positive
    pos = sum(v == 1.0 for r in signs for v in r)
    assert 0.4 < pos / 1024 < 0.6


def test_ccf_daily_planted_lead_lag(spark):
    # type B's daily count equals type A's PREVIOUS day's count (B lags
    # A by one day) on a non-monotone pattern -> r == 1 exactly at
    # lag +1 (and not at lag 0 for this pattern).
    pat = [1, 5, 2, 8, 3, 9, 4]
    rows, eid = [], 0
    for t, v in enumerate(pat):
        for _ in range(v):
            rows.append((eid, D(2024, 3, 3 + t, 12), 1, "A", 0.0))
            eid += 1
    for t, v in enumerate(pat):  # B on day t+1 = A on day t
        for _ in range(v):
            rows.append((eid, D(2024, 3, 4 + t, 12), 1, "B", 0.0))
            eid += 1
    out = {
        (r.type_a, r.type_b, r.lag): r
        for r in RB.ccf_daily(_events(spark, rows)).collect()
    }
    assert out[("A", "B", 1)].r_plus1 == 2.0
    assert out[("A", "B", 1)].n == 7
    assert out[("A", "B", 0)].r_plus1 < 2.0


def test_stl_lite_pure_weekly_pattern_zero_residual(spark):
    # a perfectly weekly series: trend = the 7-day mean (constant),
    # seasonal = the day's offset from it, residual = 0 everywhere.
    pat_cents = [100, 250, 300, 150, 500, 700, 200]  # by weekday slot
    rows = []
    for t in range(21):
        v = pat_cents[t % 7] / 100.0
        rows.append((t, 1, "O", v, D(2024, 3, 3 + t), "1-URGENT"))
    out = RB.stl_lite(_orders(spark, rows)).collect()
    assert len(out) == 21 - 6  # 3 trimmed each edge
    mean7 = sum(pat_cents) / 7.0
    for r in out:
        assert r.residual == 0.0
        assert r.trend == math.floor(mean7 * 1e6 + 0.5) / 1e6
        want_seas = math.floor((r.y - mean7) * 1e6 + 0.5) / 1e6
        assert r.seasonal == want_seas


def test_silhouette_two_direction_clusters(spark):
    # two 2-member clusters along different axes: every point's only
    # same-cluster peer sits at integer code distance 1, the other
    # cluster is ~2*127^2 away -> a_mean == 1, s ~ 1.
    from pubsub_mapreduce_spark.operators.similarity import (
        silhouette_eval,
    )

    def vec(a, b):
        return [float(a), float(b)] + [0.0] * 62

    emb = spark.createDataFrame(
        [
            (0, vec(1, 0)),
            (1, vec(1, 0.01)),
            (2, vec(0, 1)),
            (3, vec(0.01, 1)),
        ],
        "vec_id long, embedding array<float>",
    )
    out = silhouette_eval(emb, k=2, seed_every=2, every=1).collect()
    assert len(out) == 4
    assert all(r.a_mean == 1.0 for r in out)
    assert all(r.s > 0.99 for r in out)
    assert len({r.cluster for r in out}) == 2


def test_disparate_impact_planted_gap(spark):
    # nation 0: 4/4 selected (reference), nation 1: 3/4 (0.75 < 0.8 ->
    # flag), nation 2: 2/4 (flag). min_orders=1 -> selected == ordered.
    cust = spark.createDataFrame(
        [(i + 10 * nk, f"c{i}", nk, 0.0, "SEG")
         for nk in (0, 1, 2) for i in range(4)],
        "c_custkey long, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string",
    )
    sel_keys = (
        [10 * 0 + i for i in range(4)]
        + [10 * 1 + i for i in range(3)]
        + [10 * 2 + i for i in range(2)]
    )
    orders = _orders(
        spark,
        [(k, k, "O", 1.0, D(2024, 3, 1), "1") for k in sel_keys],
    )
    out = {
        r.nationkey: r
        for r in RB.disparate_impact(
            {"customer": cust, "orders": orders}, min_orders=1
        ).collect()
    }
    assert out[0].rate == 1.0 and out[0].di_ratio == 1.0
    assert not out[0].flag_80pct
    assert out[1].di_ratio == 0.75 and out[1].flag_80pct
    assert out[2].di_ratio == 0.5 and out[2].flag_80pct


def test_brier_decomposition_hand_computed(spark):
    # values 1..4 cents, purchases on the top two: with 2 bins,
    # f = (0.125, 0.625), y = (0, 1), ybar = 0.5:
    # REL = (2*0.125^2 + 2*0.375^2)/4 = 0.078125, RES = 0.25,
    # UNC = 0.25, brier = REL - RES + UNC = 0.078125.
    rows = [
        (0, D(2024, 3, 1), 1, "view", 0.01),
        (1, D(2024, 3, 1), 1, "view", 0.02),
        (2, D(2024, 3, 1), 1, "purchase", 0.03),
        (3, D(2024, 3, 1), 1, "purchase", 0.04),
    ]
    out = RB.brier_decomposition(_events(spark, rows), n_bins=2).collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_events == 4 and r.base_rate == 0.5
    assert r.reliability == 0.078125
    assert r.resolution == 0.25 and r.uncertainty == 0.25
    assert r.brier_binned == 0.078125


def test_lift_curve_perfect_ranker(spark):
    # purchases hold the top two values: top decile (of 2) captures
    # 100% at lift 2x; the full population is lift 1 by definition.
    rows = [
        (0, D(2024, 3, 1), 1, "purchase", 0.04),
        (1, D(2024, 3, 1), 1, "purchase", 0.03),
        (2, D(2024, 3, 1), 1, "view", 0.02),
        (3, D(2024, 3, 1), 1, "view", 0.01),
    ]
    out = {
        r.decile: r
        for r in RB.lift_curve(_events(spark, rows), n_bins=2).collect()
    }
    assert out[0].n_pos == 2 and out[0].capture == 1.0 and out[0].lift == 2.0
    assert out[1].n_pos == 0 and out[1].capture == 1.0 and out[1].lift == 1.0


def test_ljung_box_matches_literal_reference(spark):
    # same alternating series as the DW pin: compute the reference
    # lag-k terms from the same quantized residuals.
    vals = [1.00, 2.00, 1.00, 2.00, 1.00, 2.00, 1.00, 2.00]
    rows = [
        (i, 1, "O", v, D(2024, 3, 1 + i), "1-URGENT")
        for i, v in enumerate(vals)
    ]
    out = {r.lag: r for r in RB.ljung_box(_orders(spark, rows)).collect()}
    cents = [round(v * 100) for v in vals]
    n = len(cents)
    ts = list(range(1, n + 1))
    st, st2 = sum(ts), sum(t * t for t in ts)
    sy, sty = sum(cents), sum(t * y for t, y in zip(ts, cents))
    b = float(n * sty - st * sy) / float(n * st2 - st * st)
    a = (float(sy) - b * float(st)) / float(n)
    eq = [
        math.floor((float(y) - a - b * float(t)) * 10000.0 + 0.5)
        for t, y in zip(ts, cents)
    ]
    sse = sum(e * e for e in eq)
    for k in range(1, 8):
        pairs = list(zip(eq, eq[k:]))
        if not pairs:
            assert k not in out
            continue
        sk = sum(x * y for x, y in pairs)
        r = math.floor(sk / sse * 1e6 + 0.5) / 1e6
        q = math.floor(
            n * (n + 2.0) * (sk / sse) * (sk / sse) / (n - k) * 1e6 + 0.5
        ) / 1e6
        assert out[k].n_pairs == len(pairs)
        assert out[k].r == r and out[k].q_term == q
    # alternating residuals: lag-1 autocorrelation strongly negative
    assert out[1].r < -0.5


def test_conformal_coverage_planted_interval(spark):
    # train (even days): values 1..20 -> lo = ceil(0.05*20)=1st -> 1,
    # hi = ceil(0.95*20)=19th -> 19. test (odd days): 10 values, two
    # outside [1,19] (0.21, 0.25) -> coverage 0.8.
    rows = []
    for i in range(20):  # even day: March 2
        rows.append((i, D(2024, 3, 2, 10), 1, "view", (i + 1) / 100.0))
    test_vals = [0.05, 0.06, 0.07, 0.08, 0.10, 0.12, 0.15, 0.19, 0.21, 0.25]
    for j, v in enumerate(test_vals):  # odd day: March 3
        rows.append((100 + j, D(2024, 3, 3, 10), 1, "view", v))
    out = RB.conformal_coverage(_events(spark, rows)).collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_train == 20 and r.n_test == 10
    assert r.lo_cents == 1 and r.hi_cents == 19
    assert r.n_covered == 8 and r.coverage == 0.8


def test_weighted_quantiles_hand_computed(spark):
    # prices 1.00/2.00/3.00 with quantities 10/10/80: cum shares are
    # 10%, 20%, 100% -> q25/q50/q75/q90 all land on 3.00; q10 would be
    # 1.00 (not emitted). Swap weights to 80/10/10: q25/50/75 -> 1.00,
    # q90 -> 2.00.
    def li(rows):
        return spark.createDataFrame(
            [
                (i, 1, 1, 1, float(q), float(p), 0.0, 0.0, "N", "O",
                 D(2024, 3, 1))
                for i, (p, q) in enumerate(rows)
            ],
            "l_orderkey long, l_partkey long, l_suppkey long, "
            "l_linenumber int, l_quantity double, l_extendedprice double, "
            "l_discount double, l_tax double, l_returnflag string, "
            "l_linestatus string, l_shipdate timestamp",
        )

    out = {
        r.q: r for r in RB.weighted_quantiles(
            li([(1.00, 10), (2.00, 10), (3.00, 80)])
        ).collect()
    }
    assert all(out[q].cents == 300 for q in (25, 50, 75, 90))
    assert out[25].total_qty == 100 and out[25].price == 3.0
    out2 = {
        r.q: r for r in RB.weighted_quantiles(
            li([(1.00, 80), (2.00, 10), (3.00, 10)])
        ).collect()
    }
    assert all(out2[q].cents == 100 for q in (25, 50, 75))
    assert out2[90].cents == 200


def test_ann_bits_sweep_structure(spark):
    # structural contract on the fixture: every requested width has a
    # row, the exact denominator is k * |queries|, recall in [0, 1],
    # and wider tables (fewer bits) dominate on this corpus size.
    from pubsub_mapreduce_spark.operators.similarity import ann_bits_sweep
    from pubsub_mapreduce_spark.io import load_tables

    emb = load_tables(spark, "/root/testdata/sf0.001")["embeddings"]
    out = {r.bits: r for r in ann_bits_sweep(emb).collect()}
    assert sorted(out) == [3, 4, 5, 6]
    for r in out.values():
        assert r.n_exact == 5 * r.n_queries
        assert 0.0 <= r.recall <= 1.0
    assert out[3].recall >= out[6].recall


def test_cluster_balance_pure_clusters(spark):
    # two 2-member direction clusters with label == cluster identity:
    # purity and Simpson both exactly 1.0.
    from pubsub_mapreduce_spark.operators.similarity import cluster_balance

    def vec(a, b):
        return [float(a), float(b)] + [0.0] * 62

    emb = spark.createDataFrame(
        [
            (0, vec(1, 0), 7),
            (1, vec(1, 0.01), 7),
            (2, vec(0, 1), 3),
            (3, vec(0.01, 1), 3),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    out = cluster_balance(emb, k=2, seed_every=2).collect()
    assert len(out) == 2
    assert sorted(r.top_label for r in out) == [3, 7]
    assert all(
        r.n_members == 2 and r.n_top == 2
        and r.purity == 1.0 and r.simpson == 1.0
        for r in out
    )


def test_rake_keyphrases_hand_computed(spark):
    # doc1: "the quick brown fox is very fast" -> islands
    # [quick brown fox] (each word deg 3, freq 1 -> phrase 9.0) and
    # [very fast]. doc2: "fast data" -> fast has freq 2, deg 4 ->
    # contribution 2.0; "very fast" = 2+2 = 4.0, "fast data" = 4.0,
    # tie broken by phrase asc.
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox is very fast", "en", "s", 0),
            (2, "fast data", "en", "s", 0),
        ],
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    )
    from pubsub_mapreduce_spark.operators.textops import rake_keyphrases

    out = rake_keyphrases(docs).collect()
    by_rank = {r.rank: r for r in out}
    assert by_rank[1].phrase == "quick brown fox"
    assert by_rank[1].score == 9.0 and by_rank[1].n_words == 3
    assert by_rank[2].phrase == "fast data" and by_rank[2].score == 4.0
    assert by_rank[3].phrase == "very fast" and by_rank[3].score == 4.0
    assert len(out) == 3


def test_silhouette_all_duplicate_vectors_degenerate_empty(spark):
    # every vector identical: Lloyd tie-breaking assigns them ALL to
    # one cluster (identical distances -> same argmin), so there is no
    # "other" cluster and silhouette is undefined -> empty result,
    # never a NaN or an ANSI divide-by-zero. (The in-plan 0/0 guard
    # covers the only other conceivable path.)
    from pubsub_mapreduce_spark.operators.similarity import silhouette_eval

    v = [1.0] + [0.0] * 63
    emb = spark.createDataFrame(
        [(i, v) for i in range(4)],
        "vec_id long, embedding array<float>",
    )
    assert silhouette_eval(emb, k=2, seed_every=2, every=1).count() == 0


def test_ann_bits_sweep_empty_query_sample(spark):
    # no vec_id divisible by `every` -> empty exact side -> empty
    # sweep (never a 0-denominator recall row).
    from pubsub_mapreduce_spark.operators.similarity import ann_bits_sweep

    emb = spark.createDataFrame(
        [(i, [float(i)] + [0.0] * 63) for i in range(1, 6)],
        "vec_id long, embedding array<float>",
    )
    assert ann_bits_sweep(emb, every=1000).count() == 0


def test_theil_index_hand_computed(spark):
    # nation 0: equal spends -> t_within = 0; nation 1: [1.00, 3.00]
    # -> 0.25*ln(0.5) + 0.75*ln(1.5) (nano-quantized per term);
    # between terms from shares 1/3 and 2/3 of the 6.00 total.
    cust = spark.createDataFrame(
        [(1, "a", 0, 0.0, "S"), (2, "b", 0, 0.0, "S"),
         (3, "c", 1, 0.0, "S"), (4, "d", 1, 0.0, "S")],
        "c_custkey long, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string",
    )
    orders = _orders(
        spark,
        [(10, 1, "O", 1.0, D(2024, 3, 1), "1"),
         (11, 2, "O", 1.0, D(2024, 3, 1), "1"),
         (12, 3, "O", 1.0, D(2024, 3, 1), "1"),
         (13, 4, "O", 3.0, D(2024, 3, 1), "1")],
    )
    out = {
        r.nationkey: r
        for r in RB.theil_index(
            {"customer": cust, "orders": orders}
        ).collect()
    }

    def nano(x):
        return math.floor(x * 1e9 + 0.5)

    def r6(x):
        return math.floor(x * 1e6 + 0.5) / 1e6

    assert out[0].t_within == 0.0 and out[0].n == 2
    t1 = (
        nano(0.25 * math.log(2 * 100 / 400))
        + nano(0.75 * math.log(2 * 300 / 400))
    ) / 1e9
    assert out[1].t_within == r6(t1)
    assert out[0].s_share == r6(200 / 600)
    assert out[0].t_between_term == r6((200 / 600) * math.log(
        (200 * 4) / (600 * 2)))
    assert out[1].t_between_term == r6((400 / 600) * math.log(
        (400 * 4) / (600 * 2)))


def test_ann_tradeoff_fuses_both_sweeps(spark):
    # the fused table must contain exactly the two families' spines
    # with positive integer cost estimates, LSH cost halving per bit
    # and IVF cost linear in nprobe.
    from pubsub_mapreduce_spark.io import load_tables
    from pubsub_mapreduce_spark.operators.similarity import (
        ann_tradeoff_table,
    )

    emb = load_tables(spark, "/root/testdata/sf0.001")["embeddings"]
    out = {(r.family, r.knob): r for r in ann_tradeoff_table(emb).collect()}
    assert {f for f, _ in out} == {"lsh", "ivf"}
    assert sorted(k for f, k in out if f == "lsh") == [3, 4, 5, 6]
    assert sorted(k for f, k in out if f == "ivf") == [1, 2, 4]
    n = emb.count()
    for b in (3, 4, 5, 6):
        assert out[("lsh", b)].est_candidates == 8 * n // (2**b)
    ivf1 = out[("ivf", 1)].est_candidates
    assert out[("ivf", 2)].est_candidates == 2 * ivf1
    assert all(r.est_candidates > 0 for r in out.values())


def test_bits_sweep_bit_identical_to_standalone_lsh_topk(spark):
    """VERDICT r7 refactor pin: ann_bits_sweep's shared sign-bit
    restructure (one plane-dot pass, per-width slice-and-weigh) must
    reproduce EXACTLY the recall the per-width ann_lsh_topk
    formulation computes — same candidate sets, same matches."""
    from pubsub_mapreduce_spark.io import load_tables
    from pubsub_mapreduce_spark.operators.similarity import (
        ann_bits_sweep,
        ann_lsh_topk,
        cosine_topk,
    )

    emb = load_tables(spark, "/root/testdata/sf0.001")["embeddings"]
    got = {r.bits: r for r in ann_bits_sweep(emb).collect()}
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(emb, k=5, every=50).collect()
    }
    for b in (3, 4, 5, 6):
        approx = {
            (r.query_id, r.neighbor_id)
            for r in ann_lsh_topk(
                emb, k=5, every=50, n_tables=8, planes_per_table=b
            ).collect()
        }
        assert got[b].n_matched == len(approx & exact), f"bits={b}"
        assert got[b].n_exact == len(exact)


def test_nprobe_sweep_bit_identical_to_standalone_ivf_topk(spark):
    """Same pin for the shared-assignment nprobe sweep vs per-width
    ann_ivf_topk."""
    from pubsub_mapreduce_spark.io import load_tables
    from pubsub_mapreduce_spark.operators.similarity import (
        ann_ivf_topk,
        ann_nprobe_sweep,
        cosine_topk,
    )

    emb = load_tables(spark, "/root/testdata/sf0.001")["embeddings"]
    got = {r.nprobe: r for r in ann_nprobe_sweep(emb).collect()}
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(emb, k=5, every=50).collect()
    }
    for p in (1, 2, 4):
        approx = {
            (r.query_id, r.neighbor_id)
            for r in ann_ivf_topk(emb, k=5, every=50, nprobe=p).collect()
        }
        assert got[p].n_matched == len(approx & exact), f"nprobe={p}"


def test_tradeoff_equals_standalone_sweeps(spark):
    """The fused table's recall/n_matched columns must equal the
    standalone sweeps' rows value-for-value (the shared exact pass is
    a pure deterministic function of (emb, k, every))."""
    from pubsub_mapreduce_spark.io import load_tables
    from pubsub_mapreduce_spark.operators.similarity import (
        ann_bits_sweep,
        ann_nprobe_sweep,
        ann_tradeoff_table,
    )

    emb = load_tables(spark, "/root/testdata/sf0.001")["embeddings"]
    fused = {
        (r.family, r.knob): (r.n_queries, r.recall)
        for r in ann_tradeoff_table(emb).collect()
    }
    for r in ann_bits_sweep(emb).collect():
        assert fused[("lsh", r.bits)] == (r.n_queries, r.recall)
    for r in ann_nprobe_sweep(emb).collect():
        assert fused[("ivf", r.nprobe)] == (r.n_queries, r.recall)


# ---- VERDICT r6 ask #4: literal-reference pins for the last unpinned
# round-6 statistics ---------------------------------------------------


def _theil_reference(assignments):
    """Literal Python recomputation of theil_index's defined semantics:
    BIGINT cents, nano-quantized per-member within terms, round_half_up
    outputs. ``assignments``: list of (custkey, nationkey, price)."""
    import collections

    def nano(x):
        return math.floor(x * 1e9 + 0.5)

    def r6(x):
        return math.floor(x * 1e6 + 0.5) / 1e6

    per_cust = collections.defaultdict(int)
    nation = {}
    for ck, nk, price in assignments:
        per_cust[ck] += round(price * 100)
        nation[ck] = nk
    members = collections.defaultdict(list)
    for ck, cents in per_cust.items():
        if cents > 0:
            members[nation[ck]].append(cents)
    nn = sum(len(v) for v in members.values())
    yy = sum(sum(v) for v in members.values())
    out = {}
    for nk, ys in members.items():
        n_g, y_g = len(ys), sum(ys)
        micro = sum(
            nano((y / y_g) * math.log(n_g * y / y_g)) for y in ys
        )
        s = y_g / yy
        out[nk] = {
            "n": n_g,
            "spend_cents": y_g,
            "s_share": r6(s),
            "t_within": r6(micro / 1e9),
            "t_between_term": r6(s * math.log(y_g * nn / (yy * n_g))),
        }
    return out


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    spends=st.lists(
        st.tuples(
            st.integers(1, 8),  # custkey (nation = custkey % 3)
            st.integers(1, 40000),  # price in cents
        ),
        min_size=2,
        max_size=25,
    )
)
def test_theil_index_matches_literal_reference(spark, spends):
    rows = [(ck, f"c{ck}", ck % 3, 0.0, "S") for ck in range(1, 9)]
    cust = spark.createDataFrame(
        rows,
        "c_custkey long, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string",
    )
    orders = _orders(
        spark,
        [
            (i, ck, "O", cents / 100.0, D(2024, 3, 1), "1")
            for i, (ck, cents) in enumerate(spends)
        ],
    )
    got = {
        r.nationkey: r
        for r in RB.theil_index(
            {"customer": cust, "orders": orders}
        ).collect()
    }
    want = _theil_reference(
        [(ck, ck % 3, cents / 100.0) for ck, cents in spends]
    )
    assert set(got) == set(want)
    for nk, w in want.items():
        g = got[nk]
        assert g.n == w["n"] and g.spend_cents == w["spend_cents"]
        assert g.s_share == w["s_share"]
        assert g.t_within == w["t_within"]
        assert g.t_between_term == w["t_between_term"]


def test_silhouette_matches_literal_reference(spark):
    """Value pin (not directional): collect the SAME int8 codes +
    cluster assignment the operator consumes, recompute a/b/s with
    plain Python ints/floats from the docstring's formulas, compare
    every emitted value."""
    from pubsub_mapreduce_spark.operators.similarity import (
        _int8_codes,
        kmeans_assign,
        silhouette_eval,
    )

    emb = spark.createDataFrame(
        [
            (
                i,
                [
                    float(((i * 7 + j * 13) % 11) - 5) / 3.0
                    for j in range(8)
                ],
            )
            for i in range(40)
        ],
        "vec_id long, embedding array<float>",
    )
    k, iters, seed_every, every = 3, 2, 7, 4
    assign = {
        r.vec_id: r.cluster
        for r in kmeans_assign(
            emb, k=k, iters=iters, seed_every=seed_every
        ).collect()
    }
    codes = {r.vec_id: list(r.codes) for r in _int8_codes(emb).collect()}

    def r6(x):
        return math.floor(x * 1e6 + 0.5) / 1e6

    def d2(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    want = {}
    sample = [i for i in codes if i % every == 0]
    clusters = set(assign.values())
    for i in sample:
        sums = {g: [0, 0] for g in clusters}
        for j, cj in codes.items():
            if j == i:
                continue
            g = assign[j]
            sums[g][0] += d2(codes[i], cj)
            sums[g][1] += 1
        own = sums[assign[i]]
        if own[1] == 0:
            continue  # no other member: silhouette undefined
        a_mean = own[0] / own[1]
        others = [
            s / c for g, (s, c) in sums.items()
            if g != assign[i] and c > 0
        ]
        if not others:
            continue
        b_mean = min(others)
        s = (
            (b_mean - a_mean) / max(a_mean, b_mean)
            if max(a_mean, b_mean) > 0
            else 0.0
        )
        want[i] = (r6(a_mean), r6(b_mean), r6(s))
    got = {
        r.vec_id: (r.a_mean, r.b_mean, r.s)
        for r in silhouette_eval(
            emb, k=k, iters=iters, seed_every=seed_every, every=every
        ).collect()
    }
    assert got == want and len(want) > 5


def test_ann_tradeoff_cost_columns_literal(spark):
    """The analytic est_candidates columns against a plain-Python
    recomputation of n_tables*N // 2^bits and nprobe*N // n_cells on a
    synthetic corpus whose vec_ids are NOT dense (so n_cells really is
    the count of stride-hitting ids, not N/100)."""
    from pubsub_mapreduce_spark.operators.similarity import (
        ann_tradeoff_table,
    )

    n = 120
    ids = [3 * i for i in range(n)]  # 0..357: ids % 100 == 0 -> {0, 300}
    emb = spark.createDataFrame(
        [
            (
                i,
                [
                    float(((i * 5 + j * 17) % 13) - 6) / 4.0
                    for j in range(64)
                ],
            )
            for i in ids
        ],
        "vec_id long, embedding array<float>",
    )
    n_cells = min(512, sum(1 for i in ids if i % 100 == 0))
    assert n_cells == 2
    out = {
        (r.family, r.knob): r.est_candidates
        for r in ann_tradeoff_table(emb).collect()
    }
    for b in (3, 4, 5, 6):
        assert out[("lsh", b)] == 8 * n // (2**b), f"bits={b}"
    for p in (1, 2, 4):
        assert out[("ivf", p)] == p * n // n_cells, f"nprobe={p}"
