"""Property pins for the round-2 tail operators: CUSUM change-point
location, TWAP vs mean bias, Theil-Sen outlier robustness, Hamilton
apportionment invariants, LPA community structure, BM25/RRF ranking
sanity, and vocabulary coverage monotonicity."""

from __future__ import annotations

import datetime
from pathlib import Path

from pyspark.sql import functions as F

from pubsub_mapreduce_spark.operators import robust as RB
from pubsub_mapreduce_spark.operators import sampling as SM
from pubsub_mapreduce_spark.operators import textops as TX
from pubsub_mapreduce_spark.operators.graph import (
    copurchase_edges,
    label_propagation,
)

REPO = Path(__file__).resolve().parents[1]


def _events(spark, rows):
    return spark.createDataFrame(
        [
            (i, datetime.datetime(2024, 1, 1) + datetime.timedelta(hours=i), u, v)
            for i, (u, v) in enumerate(rows)
        ],
        "event_id long, ts timestamp, user_id long, value double",
    )


def test_cusum_locates_planted_shift(spark):
    # user 1: 30 events at 10.0 then 30 at 50.0 -> CUSUM peaks at the
    # boundary (index 30, the last pre-shift prefix).
    rows = [(1, 10.0)] * 30 + [(1, 50.0)] * 30
    out = RB.user_cusum(_events(spark, rows)).collect()[0]
    assert out.n_events == 60
    assert out.cp_idx == 30
    assert out.cusum_max > 0


def test_cusum_flat_series_peaks_nowhere_material(spark):
    rows = [(1, 7.0)] * 40
    out = RB.user_cusum(_events(spark, rows)).collect()[0]
    assert out.cusum_max == 0.0  # constant series: dev identically 0


def test_twap_weights_by_holding_time(spark):
    # value 100 held 1h, value 0 held 3h (gaps to successors), last
    # event excluded: twap = (100*3600 + 0*3*3600)/(4*3600) = 25.
    base = datetime.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [
            (0, base, 1, 100.0),
            (1, base + datetime.timedelta(hours=1), 1, 0.0),
            (2, base + datetime.timedelta(hours=4), 1, 33.0),
        ],
        "event_id long, ts timestamp, user_id long, value double",
    )
    out = RB.user_twap(df).collect()[0]
    assert out.n_held == 2
    assert out.held_s == 4 * 3600
    assert out.twap_cents == 2500.0  # 25.00 in cents
    assert out.mean_cents == 5000.0  # plain mean of {100, 0} in cents


def test_theil_sen_ignores_wild_outlier(spark):
    # daily counts rise by exactly 2/day; one wild day would wreck OLS
    # but the median slope stays 2. Counts are made via repeated rows.
    rows = []
    base = datetime.datetime(2024, 3, 1)
    for d in range(9):
        n = 10 + 2 * d if d != 4 else 500  # wild day 4
        for k in range(n):
            rows.append((d * 1000 + k, base + datetime.timedelta(days=d), 1, 1.0))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, value double"
    )
    df = df.withColumn("event_type", F.lit("a")).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    out = RB.trend_theil_sen(df).collect()[0]
    assert out.slope_med == 2.0


def test_budget_allocation_sums_exactly_and_stays_proportional(spark):
    docs = spark.range(0, 997).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 7).cast("string").alias("source"),
    )
    out = SM.budget_allocation(docs, budget=1000, by="source").collect()
    assert sum(r.alloc for r in out) == 1000  # Hamilton invariant
    n_total = sum(r.n for r in out)
    for r in out:
        exact = 1000 * r.n / n_total
        assert abs(r.alloc - exact) < 1  # within one seat of proportional


def test_lpa_two_cliques_stay_separate(spark):
    # two weighted triangles joined by nothing: 2 communities, each
    # labelled by its min node id.
    edges = spark.createDataFrame(
        [(1, 2, 5), (2, 3, 5), (1, 3, 5), (10, 11, 5), (11, 12, 5), (10, 12, 5)],
        "a long, b long, w long",
    )
    out = {r.node: r.label for r in label_propagation(edges, iters=3).collect()}
    assert len(set(out.values())) == 2
    assert len({out[1], out[2], out[3]}) == 1
    assert len({out[10], out[11], out[12]}) == 1


def test_copurchase_edges_threshold(spark):
    li = spark.createDataFrame(
        [(1, 100), (1, 200), (2, 100), (2, 200), (3, 100), (3, 300)],
        "l_orderkey long, l_partkey long",
    )
    out = copurchase_edges(li, min_w=2).collect()
    assert [(r.a, r.b, r.w) for r in out] == [(100, 200, 2)]


def test_bm25_ranks_term_dense_docs_first(spark):
    docs = spark.createDataFrame(
        [
            (1, "spark spark spark join", "en", "s", 20),
            (2, "spark join table", "en", "s", 16),
            (3, "row scan filter", "en", "s", 15),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = TX.bm25_rank(docs, query_terms=("spark",), top_n=10).collect()
    assert [r.doc_id for r in out] == [1, 2]  # doc 3 never matches
    assert out[0].bm25 > out[1].bm25


def test_vocab_coverage_monotone_and_complete(spark, tables):
    out = TX.vocab_coverage(tables["documents"]).orderBy("token_id").collect()
    covers = [r.coverage for r in out]
    assert covers == sorted(covers)
    assert covers[-1] == 1.0  # fixture vocab fits under the cap
    assert out[0].n == max(r.n for r in out)  # rank 1 = most frequent


def test_rrf_prefers_docs_on_both_lists(spark, tables):
    out = TX.rrf_hybrid(tables["documents"], pool=50, top_n=20).collect()
    both = [r for r in out if r.rank_bm25 > 0 and r.rank_q > 0]
    only = [r for r in out if r.rank_bm25 == 0 or r.rank_q == 0]
    if both and only:
        # every dual-list doc with decent ranks outranks single-list docs
        # at comparable rank (RRF property: two terms beat one).
        best_single = max(r.rrf for r in only)
        top_dual = max(r.rrf for r in both)
        assert top_dual > best_single


def test_holt_tracks_linear_ramp(spark):
    # counts rising 8/day: trend locks onto a positive slope and the
    # forecast continues the ramp (integer smoothing lags but must be
    # within the ramp's band, and trend must be > 0).
    rows = []
    base = datetime.datetime(2024, 3, 1)
    for d in range(20):
        for k in range(40 + 8 * d):
            rows.append((d * 1000 + k, base + datetime.timedelta(days=d), 1, 1.0))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, value double"
    ).withColumn("event_type", F.lit("a"))
    out = RB.holt_forecast(df).collect()[0]
    assert out.n_days == 20
    assert out.trend > 0
    assert out.forecast_next > out.level


def test_attribution_credit_is_cent_exact(spark, tables):
    from pubsub_mapreduce_spark.operators import relational as R

    ev = tables["events"]
    out = R.attribution_credit(ev).collect()
    credited = sum(r.credited_cents for r in out)
    # conservation: every credited cent traces to a purchase; segments
    # with no touches route to 'direct', so totals reconcile exactly
    # for purchases that HAVE a segment (all of them).
    total = (
        ev.where(F.col("event_type") == "purchase")
        .select(F.sum(F.round(F.col("value") * 100).cast("long")))
        .collect()[0][0]
    )
    assert credited == total
    assert all(r.n_touches > 0 for r in out)


def test_kcore_reaches_fixed_point_on_small_graph(spark):
    # triangle + pendant chain: 2-core = the triangle, found in one
    # round; extra rounds must not change it (fixed point).
    from pubsub_mapreduce_spark.operators.graph import kcore_peel

    edges = spark.createDataFrame(
        [(1, 2, 1), (2, 3, 1), (1, 3, 1), (3, 4, 1), (4, 5, 1)],
        "a long, b long, w long",
    )
    out1 = {r.node for r in kcore_peel(edges, k=2, rounds=2).collect()}
    out2 = {r.node for r in kcore_peel(edges, k=2, rounds=4).collect()}
    assert out1 == out2 == {1, 2, 3}


def test_tf_cosine_catches_repeated_vocab(spark):
    docs = spark.createDataFrame(
        [
            (1, "alpha alpha beta beta", "en", "s", 20),
            (2, "alpha alpha alpha beta beta beta", "en", "s", 30),
            (3, "gamma delta epsilon zeta", "en", "s", 25),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    from pubsub_mapreduce_spark.operators.dedup import tf_cosine_pairs

    out = tf_cosine_pairs(docs, threshold=0.9).collect()
    assert [(r.a, r.b) for r in out] == [(1, 2)]
    assert out[0].cosine == 1.0  # proportional tf vectors -> cosine 1


def test_type_correlation_detects_comovement(spark):
    # two types whose daily counts move together exactly -> r = 1
    # (r_plus1 = 2); a third anti-moving type -> r = -1 (r_plus1 = 0).
    rows = []
    base = datetime.datetime(2024, 3, 1)
    for d in range(6):
        for k in range(10 + d):
            rows.append(("up1", d * 10000 + k))
            rows.append(("up2", d * 10000 + 5000 + k))
        for k in range(20 - d):
            rows.append(("down", d * 10000 + 8000 + k))
    df = spark.createDataFrame(
        [
            (i, base + datetime.timedelta(days=eid // 10000), 1, t, 1.0)
            for i, (t, eid) in enumerate(rows)
        ],
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    out = {(r.ta, r.tb): r.r_plus1 for r in RB.type_correlation(df).collect()}
    assert out[("up1", "up2")] == 2.0
    assert out[("down", "up1")] == 0.0
    assert out[("down", "up2")] == 0.0


def test_new_ops_plan_shapes(spark, tables):
    """Scale-contract guards for the session's new operators: no
    cartesian anywhere, broadcasts where a scalar/dimension side
    exists, bounded keyed-shuffle budgets."""
    from pubsub_mapreduce_spark.operators import relational as R
    from pubsub_mapreduce_spark.operators.dedup import (
        containment_pairs,
        tf_cosine_pairs,
    )
    from pubsub_mapreduce_spark.plans.explain import (
        assert_broadcast_join,
        assert_no_cartesian,
        keyed_shuffle_count,
    )

    docs, ev = tables["documents"], tables["events"]
    for df in (
        TX.bm25_rank(docs),
        TX.bigram_collocations(docs),
        TX.vocab_coverage(docs),
        TX.rrf_hybrid(docs),
        tf_cosine_pairs(docs),
        containment_pairs(docs),
        RB.trend_theil_sen(ev),
        RB.type_correlation(ev),
        RB.holt_forecast(ev),
        RB.user_cusum(ev),
        RB.user_twap(ev),
        R.attribution_credit(ev),
        R.user_type_diversity(ev),
        SM.budget_allocation(docs),
    ):
        assert_no_cartesian(df)
    # scalar stats enter via broadcast, not shuffle, in the fused plans
    assert_broadcast_join(TX.bm25_rank(docs), min_count=2)
    assert_broadcast_join(SM.budget_allocation(docs), min_count=1)
    # single user-keyed exchange feeds both TWAP window and aggregate
    assert keyed_shuffle_count(RB.user_twap(ev)) <= 2
    # diversity: two aggregates sharing the user partitioning
    assert keyed_shuffle_count(R.user_type_diversity(ev)) <= 2


def test_cusum_target_alarm_semantics(spark):
    # steady at target -> no alarms; sustained +400-cent drift with
    # slack 25 and h 1000 alarms roughly every ceil(1000/375) steps
    # and resets after each alarm.
    steady = [(1, 250.0)] * 20
    drifted = [(2, 250.0)] * 5 + [(2, 654.0)] * 20
    out = {
        r.user_id: r
        for r in RB.user_cusum_target(
            _events(spark, steady + drifted),
            target_cents=25000,
            slack_cents=2500,
            h_cents=100000,
        ).collect()
    }
    assert out[1].n_alarms == 0
    assert out[1].cusum_pos == 0 and out[1].cusum_neg == 0
    assert out[2].n_alarms > 0  # sustained shift must trip the alarm


def test_mmr_diversifies_against_planted_clones(spark):
    # query [1,0,0]; a pack of near-clones hugging it in the xy-plane;
    # one lower-relevance doc pointing out of the plane. For a clone,
    # rel ~ maxsim so its marginal score goes slightly NEGATIVE once a
    # clone is selected; the out-of-plane doc keeps rel > maxsim
    # (positive margin) and must win pick 2. (In 2D no such doc exists
    # — every direction is as redundant as it is relevant — which is
    # itself why MMR only bites in high dimensions.)
    import math

    def vec(theta):
        return [math.cos(theta), math.sin(theta), 0.0]

    rows = [
        (0, vec(0.0), 0),        # the query
        (1, vec(0.01), 0),       # clone pack
        (2, vec(0.012), 0),
        (3, vec(0.014), 0),
        (4, [0.6, 0.0, 0.8], 0),  # out-of-plane: distinct direction
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    from pubsub_mapreduce_spark.operators.similarity import mmr_diversify

    out = mmr_diversify(emb, query_vec_id=0, pool=4, k=3).collect()
    picks = [r.vec_id for r in sorted(out, key=lambda r: r.pick)]
    assert picks[0] == 1          # most relevant first
    assert picks[1] == 4          # diversity beats the clone pack


def test_pps_sample_size_and_weight_proportionality(spark, tables):
    """Systematic PPS: total hits ~ n exactly (off by at most 1), and a
    row heavier than the stride is ALWAYS hit."""
    orders = tables["orders"]
    out = SM.pps_systematic(
        orders,
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long"),
        n=100,
    ).collect()
    total_hits = sum(r.n_hits for r in out)
    assert abs(total_hits - 100) <= 1
    # determinism: a second run returns the identical sample
    again = SM.pps_systematic(
        orders,
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long"),
        n=100,
    ).collect()
    assert sorted((r.o_orderkey, r.n_hits) for r in out) == sorted(
        (r.o_orderkey, r.n_hits) for r in again
    )


def test_weighted_median_volume_pull(spark):
    # value 5 carries weight 10, value 900 weight 1: count-median of
    # the multiset {5,900} would sit between; weighted median is 5.
    df = spark.createDataFrame(
        [("a", 5, 10, 1), ("a", 900, 1, 2)], "g string, v long, w long, k long"
    )
    out = RB.weighted_median(
        df, "g", F.col("v"), F.col("w"), tiebreak="k"
    ).collect()[0]
    assert out.weighted_median == 5
    assert out.total_weight == 11


def test_new_ops_degrade_gracefully_on_tiny_inputs(spark):
    """Empty/single-row inputs: no ANSI crashes, sensible row counts
    (0 where the statistic needs >= 2 points)."""
    import datetime

    empty_docs = spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, n_chars long"
    )
    one_doc = spark.createDataFrame(
        [(1, "hello world", "en", "s", 11)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    empty_ev = spark.createDataFrame(
        [], "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    one_ev = spark.createDataFrame(
        [(1, datetime.datetime(2024, 1, 1), 1, "a", 5.0)],
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    assert TX.bm25_rank(empty_docs).count() == 0
    assert TX.bm25_rank(one_doc).count() == 0  # no query term present
    assert TX.vocab_coverage(empty_docs).count() == 0
    assert TX.bigram_collocations(one_doc).count() == 0  # under min_count
    assert RB.user_cusum(one_ev).count() == 1  # dev 0 at the only row
    assert RB.user_twap(one_ev).count() == 0  # no holding interval
    assert RB.trend_theil_sen(one_ev).count() == 0  # no slope pairs
    assert RB.holt_forecast(empty_ev).count() == 0
    assert SM.budget_allocation(empty_docs).count() == 0


def test_kmeans_int8_partition_invariance_and_wcss_decrease(spark, tables):
    """Exact k-means: result identical under a different partitioning
    (integer arithmetic is order-free), and a second Lloyd round never
    increases total WCSS."""
    from pubsub_mapreduce_spark.operators.similarity import kmeans_int8

    emb = tables["embeddings"]
    r1 = {(r.cluster): (r.n_members, r.wcss) for r in kmeans_int8(emb, iters=2).collect()}
    r2 = {(r.cluster): (r.n_members, r.wcss) for r in kmeans_int8(emb.repartition(7), iters=2).collect()}
    assert r1 == r2
    w_one = sum(r.wcss for r in kmeans_int8(emb, iters=1).collect())
    w_two = sum(r.wcss for r in kmeans_int8(emb, iters=2).collect())
    assert w_two <= w_one


def test_kcenter_radius_curve_non_increasing(spark, tables):
    from pubsub_mapreduce_spark.operators.similarity import kcenter_coreset

    out = sorted(
        kcenter_coreset(tables["embeddings"], k=6).collect(),
        key=lambda r: r.pick,
    )
    radii = [r.radius for r in out[1:]]  # pick 1 is the seed (radius 0)
    assert radii == sorted(radii, reverse=True)  # farthest-first property
    assert len({r.vec_id for r in out}) == 6  # no repeats


def test_trend_report_flags_ols_theilsen_divergence(spark):
    # linear ramp + one wild day: Theil-Sen stays 2, OLS moves, the
    # divergence column captures it.
    rows = []
    base = datetime.datetime(2024, 3, 1)
    for d in range(9):
        n = 10 + 2 * d if d != 8 else 500  # wild LAST day tilts OLS
        for k in range(n):
            rows.append((d * 1000 + k, base + datetime.timedelta(days=d), 1, 1.0))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, value double"
    ).withColumn("event_type", F.lit("a"))
    out = RB.trend_report(df).collect()[0]
    assert out.slope_theil_sen == 2.0
    assert out.divergence > 1.0  # OLS dragged by the wild day


def test_pit_features_never_leak_the_label_moment(spark):
    # user 1: two events then a purchase then a LATER event — features
    # must count only the two strictly-prior events (the post-cutoff
    # event and the label itself excluded).
    base = datetime.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [
            (0, base, 1, "view", 10.0),
            (1, base + datetime.timedelta(hours=1), 1, "click", 20.0),
            (2, base + datetime.timedelta(hours=2), 1, "purchase", 99.0),
            (3, base + datetime.timedelta(hours=3), 1, "view", 30.0),
        ],
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    from pubsub_mapreduce_spark.operators.relational import pit_features

    out = pit_features(df).collect()[0]
    assert out.n_prior == 2
    assert out.spend_cents_prior == 3000  # 10 + 20 dollars, not 99/30
    assert out.n_types_prior == 2
    assert out.recency_s == 3600


def test_negative_samples_reject_true_positives(spark, tables):
    from pubsub_mapreduce_spark.operators.sampling import negative_samples

    t = tables
    out = negative_samples(
        t["orders"], t["lineitem"], t["part"], cust_every=10
    )
    pos = (
        t["lineitem"]
        .join(
            t["orders"].select("o_orderkey", "o_custkey"),
            t["lineitem"]["l_orderkey"] == F.col("o_orderkey"),
        )
        .select(
            F.col("o_custkey").alias("cust"),
            F.col("l_partkey").alias("neg_part"),
        )
        .distinct()
    )
    # no emitted negative may be something the customer actually bought
    assert out.join(pos, ["cust", "neg_part"]).count() == 0
    # determinism across reruns
    a = sorted(map(tuple, out.collect()))
    b = sorted(
        map(
            tuple,
            negative_samples(
                t["orders"], t["lineitem"], t["part"], cust_every=10
            ).collect(),
        )
    )
    assert a == b


def test_triplet_mining_labels_and_margins(spark):
    # 2 labels in 3D: anchors' hardest positive shares their label,
    # hardest negative never does.
    import math

    # interleaved labels on one circle: every anchor's close neighbors
    # alternate labels, so both a hard positive and a hard negative sit
    # inside the top-k.
    rows = []
    for i in range(120):
        theta = i / 120.0
        rows.append((i, [math.cos(theta), math.sin(theta), 0.0], i % 2))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    from pubsub_mapreduce_spark.operators.similarity import triplet_mining

    out = triplet_mining(emb, k=20, every=10).collect()
    assert out
    labels = {r.vec_id: r.label for r in emb.collect()}
    for r in out:
        assert labels[r.pos_id] == labels[r.anchor_id]
        assert labels[r.neg_id] != labels[r.anchor_id]


def test_leakproof_split_keeps_clusters_together(spark, tables):
    from pubsub_mapreduce_spark.operators.dedup import (
        leakproof_split,
        minhash_lsh_pairs,
    )

    docs = tables["documents"]
    assigned = leakproof_split(docs)
    pairs = minhash_lsh_pairs(docs, n=3, threshold=0.5)
    a = assigned.select(
        F.col("doc_id").alias("a"), F.col("split").alias("split_a")
    )
    b = assigned.select(
        F.col("doc_id").alias("b"), F.col("split").alias("split_b")
    )
    crossing = (
        pairs.join(a, "a").join(b, "b").where(F.col("split_a") != F.col("split_b"))
    )
    assert crossing.count() == 0  # no near-dup pair straddles splits
    assert assigned.count() == docs.count()  # every doc assigned


def test_label_noise_flags_planted_mislabels(spark):
    import math

    # tight same-label cluster + one mislabeled member: its 5 nearest
    # neighbors all vote the true label.
    rows = []
    for i in range(40):
        rows.append((i, [1.0, i * 1e-4, 0.0], 0))
    rows.append((100, [1.0, 0.002, 0.0], 1))  # planted mislabel
    for i in range(41, 80):
        rows.append((i, [0.0, 1.0, i * 1e-4], 1))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    from pubsub_mapreduce_spark.operators.similarity import label_noise_scan

    out = {r.vec_id: r for r in label_noise_scan(emb, k=5, every=100).collect()}
    assert out[100].is_noisy
    assert out[100].knn_label == 0
    assert not out[0].is_noisy


def test_wilson_intervals_bracket_rate_and_shrink(spark, tables):
    from pubsub_mapreduce_spark.operators.relational import (
        ab_wilson_intervals,
    )

    out = ab_wilson_intervals(tables["events"]).collect()
    assert out
    for r in out:
        assert r.wilson_lo <= r.cvr <= r.wilson_hi
        assert 0.0 <= r.wilson_lo and r.wilson_hi <= 1.0
        # 95% Wilson width at these n is material but sane
        assert (r.wilson_hi - r.wilson_lo) < 0.9


def test_ab_health_chi2_and_srm_semantics(spark):
    import datetime

    # planted: variant split from md5 hash, conversions heavily skewed
    # to one side -> chi2 must flag; balanced assignment -> no SRM.
    base = datetime.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for u in range(200):
        rows.append((eid, base, u, "view", 1.0)); eid += 1
    # heavy conversions only for users whose md5 bucket is 0
    from pubsub_mapreduce_spark.operators.sampling import hash_bucket
    probe = spark.createDataFrame(
        [(u,) for u in range(200)], "user_id long"
    ).withColumn("v", hash_bucket(F.col("user_id"), 2))
    v0 = {r.user_id for r in probe.collect() if r.v == 0}
    for u in range(200):
        if u in v0:
            rows.append((eid, base, u, "purchase", 400.0)); eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    from pubsub_mapreduce_spark.operators.relational import ab_health

    out = ab_health(df).collect()[0]
    assert out.significant  # all conversions on one side
    assert not out.srm_flag  # hash split is ~50/50


def test_gate_window_ordering_contract():
    """The driver's correctness gate reads the FIRST 50 queries() keys:
    pin the round-9 window — R9_QUEUE is EMPTY (round 8 retired all
    debt), so slots 1-50 are this round's new registrations in
    registration order (R9_NEW). Accidental reorderings would silently
    spend the gate's window on already-green queries."""
    import json

    import __spark_entry__ as entrymod

    names = list(entrymod.queries())
    nq = len(entrymod.R9_QUEUE)
    assert names[:nq] == entrymod.R9_QUEUE
    # every declared round-9 registration actually exists
    assert not set(entrymod.R9_NEW) - set(names)
    fill = entrymod.R9_NEW[: 50 - nq]
    assert names[nq : nq + len(fill)] == fill
    # window head must be spent on never-checked names only
    checked = set()
    for r in (1, 2, 3, 4, 5, 6, 7, 8):
        with open(REPO / f"CORRECTNESS_r0{r}.json") as f:
            checked |= set(json.load(f))
    assert [n for n in names[: nq + len(fill)] if n in checked] == []
    # every registered oracle still has a queries() twin
    assert not set(entrymod.oracle_sql()) - set(names)


def test_every_registered_query_driver_checked_or_in_window():
    """Close-the-book bookkeeping (VERDICT r5 #7 / r6 #1 / r7 #1):
    every registered query either already carries a driver CORRECTNESS
    row (rounds 1-8) or sits inside the current 50-slot gate window —
    so once this round's gate runs, cumulative driver coverage is
    total. A new registration that never enters a window plan FAILS
    here unless it consciously joins R10_QUEUE (= R9_NEW overflow past
    slot 50), which the round-10 window must then head with."""
    import json

    import __spark_entry__ as entrymod

    names = list(entrymod.queries())
    checked = set()
    for r in (1, 2, 3, 4, 5, 6, 7, 8):
        with open(REPO / f"CORRECTNESS_r0{r}.json") as f:
            checked |= set(json.load(f))
    debt = [n for n in names if n not in checked and n not in names[:50]]
    assert debt == entrymod.R10_QUEUE, (
        "registered but neither driver-checked nor in the gate window "
        f"nor in R10_QUEUE: {sorted(set(debt) ^ set(entrymod.R10_QUEUE))}"
    )
    # and the window is exactly full: the driver reads 50 slots
    assert len(names) >= 50


def test_key_skew_report_exact_stats(spark):
    # counts: four keys with 1 row, one hot key with 10 -> the
    # counts-of-counts line is (1,freq=4,cum=4),(10,freq=1,cum=5):
    # p50 = 1 (2*4 >= 5), p99 = 10 (first cum with 100*cum >= 495).
    from pubsub_mapreduce_spark.operators.skew import key_skew_report

    rows = [(k, 0.0) for k in [1, 2, 3, 4]] + [(5, 0.0)] * 10
    df = _events(spark, rows)
    out = key_skew_report([("user_id", df, "user_id")]).collect()[0]
    assert out.key_col == "user_id"
    assert out.n_rows == 14 and out.n_keys == 5 and out.max_cnt == 10
    assert out.p50_cnt == 1 and out.p99_cnt == 10
    assert out.top1_ppm == 10 * 1_000_000 // 14  # truncating div
    assert out.skew_x1000 == 10_000


def test_daily_autocorr_linear_series_is_perfect(spark):
    # one event type whose daily count is exactly t+1 for t=0..9: every
    # lagged pair set is a perfect line -> r = 1, r_plus1 = 2.0 at all
    # lags, with n = 10 - lag pairs.
    import datetime as dt

    rows = []
    i = 0
    for t in range(10):
        for _ in range(t + 1):
            rows.append((i, dt.datetime(2024, 3, 1 + t, 12), 1, "a", 0.0))
            i += 1
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double",
    )
    out = {r.lag: r for r in RB.daily_autocorr(df, max_lag=3).collect()}
    assert set(out) == {1, 2, 3}
    for lag, r in out.items():
        assert r.n == 10 - lag
        assert r.r_plus1 == 2.0


def test_daily_autocorr_drops_constant_series(spark):
    # a constant daily series has zero variance at every lag: the
    # integer predicate drops it instead of emitting NaN/inf.
    import datetime as dt

    rows = [
        (t, dt.datetime(2024, 3, 1 + t, 12), 1, "c", 0.0) for t in range(8)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double",
    )
    assert RB.daily_autocorr(df, max_lag=3).count() == 0
