"""Physical-plan shape tests — the 100TB scale contract, enforced.

Correctness tests prove the small-SF answer; these prove the PLAN is the
one we'd want on a 1000-executor cluster: filters and column pruning
reach the parquet scan, dimension joins broadcast, single-pass operators
shuffle once, nothing degenerates to a cartesian product, and hot
projections stay inside whole-stage codegen.
"""

from __future__ import annotations

import re

import __spark_entry__ as entrymod
from pubsub_mapreduce_spark.plans.explain import (
    assert_broadcast_join,
    assert_max_shuffles,
    assert_no_cartesian,
    assert_pushed_filters,
    assert_wholestage_codegen,
    keyed_shuffle_count,
    node_count,
    read_schemas,
)
from tests.conftest import SF_SMALL

QUERIES = entrymod.queries()


def q(name, spark):
    return QUERIES[name](spark, SF_SMALL)


def test_q5_star_join_plan(spark):
    """Flagship: date-range + region filters pushed to the scans, every
    dimension join broadcast, fact scan pruned to 3 columns."""
    df = q("q5_revenue_by_nation", spark)
    assert_pushed_filters(df, "o_orderdate", "r_name")
    assert_broadcast_join(df, min_count=3)
    assert_no_cartesian(df)
    schemas = read_schemas(df)
    li = [s for s in schemas if "l_orderkey" in s]
    assert li and li[0].count(":") == 3, f"lineitem scan not pruned: {li}"


def test_q1_scan_pruning(spark):
    """Scan-heavy aggregate: shipdate predicate pushed; lineitem scan
    reads only the 7 columns the query touches."""
    df = q("q1_pricing_summary", spark)
    assert_pushed_filters(df, "l_shipdate")
    (li,) = read_schemas(df)
    assert li.count(":") == 7, f"expected 7-column pruned scan: {li}"
    assert "l_comment" not in li


def test_codec_projection_stays_fused(spark):
    """Pure scalar-function projection: zero shuffles, one codegen span —
    the whole query is a single fused scan+project pipeline."""
    df = q("codec_roundtrip", spark)
    assert_max_shuffles(df, 0)
    assert_wholestage_codegen(df, min_spans=1)


def test_single_shuffle_operators(spark):
    """Operators whose scale contract is ONE shuffle on the natural key."""
    for name in ["dedup_exact", "t1_latest_per_key", "t4_windowed_count",
                 "dedup_simhash", "session_windows"]:
        df = q(name, spark)
        # keyed shuffles only: the round-robin widening exchange is a
        # fixture artifact (no-op at scale) — see keyed_shuffle_count
        n = keyed_shuffle_count(df)
        # simhash legitimately shuffles twice ((doc,bit) agg then doc agg)
        budget = 2 if name == "dedup_simhash" else 1
        assert n <= budget, f"{name}: {n} keyed shuffles (budget {budget})"
        assert_no_cartesian(df)


def test_asof_join_single_shuffle(spark):
    """The as-of join compiles to union + ONE shuffle on the join key +
    in-partition sort — never a per-event lookup or cartesian."""
    df = q("asof_latest_order", spark)
    assert_max_shuffles(df, 1)
    assert_no_cartesian(df)
    assert node_count(df, "Window") >= 1


def test_global_topk_avoids_full_sort(spark):
    """Global top-k compiles to TakeOrderedAndProject (per-partition
    local top-k, merged on the driver) — not a total sort."""
    for name in ["q3_shipping_priority", "top_spenders"]:
        df = q(name, spark)
        assert node_count(df, "TakeOrderedAndProject") == 1, name
        assert node_count(df, "Sort") == 0, f"{name} does a full sort"


def test_similarity_broadcasts_query_side(spark):
    """Brute-force and ANN top-k broadcast the small query/centroid side;
    the corpus scan is never shuffled for the join."""
    for name in ["sim_cosine_topk", "sim_ann_lsh", "sim_ann_ivf"]:
        df = q(name, spark)
        assert_broadcast_join(df, min_count=1)


def test_minhash_no_cartesian(spark):
    """LSH candidate generation joins on (band, bucket) — the plan must
    contain no cartesian product anywhere."""
    assert_no_cartesian(q("dedup_minhash_lsh", spark))
    assert_no_cartesian(q("dedup_ngram_jaccard", spark))


def test_grouping_sets_single_pass(spark):
    """GROUPING SETS compiles to one Expand + one shuffled aggregate —
    adding grouping sets must widen the Expand, not add passes."""
    df = q("grouping_sets_orders", spark)
    assert node_count(df, "Expand") == 1
    assert_max_shuffles(df, 1)


def test_pivot_no_discovery_job(spark):
    """Explicit pivot values: the plan is a plain single-shuffle
    aggregate — no distinct-collect job to discover the column set
    (which at 100TB would scan the fact table twice)."""
    df = q("pivot_status_by_year", spark)
    assert_max_shuffles(df, 1)
    assert_no_cartesian(df)


def test_tfidf_plan_shape(spark):
    """tf-idf: df(term) joins tf(term) — both sides partial-agg'd before
    their shuffles; N rides in as a broadcast scalar; no cartesian from
    the crossJoin(broadcast(n_docs)) because the build side is 1 row
    broadcast (BroadcastNestedLoopJoin over 1 row is a constant fan-in,
    not a quadratic blowup)."""
    df = q("text_tfidf", spark)
    assert_broadcast_join(df, min_count=1)
    assert node_count(df, "Window") == 1


def test_top_tokens_takeordered(spark):
    """Corpus top-n tokens ends in TakeOrderedAndProject over the
    |vocab|-sized aggregate — never a global sort of the token stream."""
    df = q("text_top_tokens", spark)
    assert node_count(df, "TakeOrderedAndProject") == 1
    assert node_count(df, "Sort") == 0


def test_range_join_plans_never_nested_loop(spark):
    """Range joins must ride an equality key (user, or the time bucket),
    never a BroadcastNestedLoopJoin range predicate: the binned keyless
    plan and the equi+range plan both compile to hash/merge joins."""
    from pubsub_mapreduce_spark.plans.explain import explain_str

    for name in ["range_join_signup", "range_join_launch"]:
        df = q(name, spark)
        plan = explain_str(df)
        assert "BroadcastNestedLoopJoin" not in plan, f"{name} nested loop"
        assert_no_cartesian(df)


def test_approx_distinct_single_tiny_shuffle(spark):
    """HLL distinct: the PRODUCTION sketch form is one |groups|-sized
    exchange of fixed-size sketch buffers — a single partial/final
    aggregate pair, never a distinct-expand or second shuffle. The
    registered gate form (approx_distinct_check) adds the exact
    countDistinct side for the bound check; it must still avoid the
    Expand by running two single-purpose aggregates joined on the
    group key (count-distinct's own dedup+count pair plus the sketch
    exchange and the join — 4 keyed exchanges, no Expand)."""
    from pubsub_mapreduce_spark import io
    from pubsub_mapreduce_spark.operators.sketches import approx_distinct

    ev = io.read_table(spark, "/root/testdata/sf0.001", "events")
    prod = approx_distinct(ev)
    assert_max_shuffles(prod, 1)
    assert node_count(prod, "Expand") == 0
    gate = q("approx_distinct_users", spark)
    assert_max_shuffles(gate, 4)
    assert node_count(gate, "Expand") == 0


def test_cheapest_supplier_plan(spark):
    """Argmin join: two keyed shuffles total ((part,supp) partial then
    part argmin); decoration joins all broadcast; no re-scan of lineitem
    (exactly one lineitem read in the plan)."""
    df = q("cheapest_supplier", spark)
    assert_max_shuffles(df, 2)
    assert_broadcast_join(df, min_count=3)
    assert_no_cartesian(df)
    li = [s for s in read_schemas(df) if "l_extendedprice" in s]
    assert len(li) == 1, f"lineitem scanned {len(li)}x (argmin must not re-scan)"


def test_nation_trade_volume_plan(spark):
    """Q7 shape: both nation-decoration chains broadcast; the only keyed
    exchanges are the lineitem join and the final group-by."""
    df = q("nation_trade_volume", spark)
    assert_broadcast_join(df, min_count=4)
    assert_no_cartesian(df)
    assert_max_shuffles(df, 3)


def test_large_orders_plan(spark):
    """Q18 shape: the lineitem aggregate happens BEFORE any join (HAVING
    cuts the join input to the heavy tail); customer rides a broadcast."""
    df = q("large_orders", spark)
    assert_broadcast_join(df, min_count=1)
    assert_no_cartesian(df)
    assert_max_shuffles(df, 3)


def test_json_props_stats_plan(spark):
    """Variant parse + aggregate: one keyed shuffle (partial agg runs
    map-side), events scan pruned to the two touched columns. parse_json
    is a codegen-fallback expression in Spark 4.1 so no WholeStageCodegen
    span is asserted — the plan shape, not fusion, is the contract here."""
    df = q("json_props_stats", spark)
    assert_max_shuffles(df, 1)
    (ev,) = read_schemas(df)
    assert ev.count(":") == 2, f"expected 2-column pruned scan: {ev}"


def test_custdist_two_level_aggregate_plan(spark):
    """Q13 shape: two keyed exchanges (per-customer count, then the tiny
    histogram key), left join preserves order-less customers, and no
    cartesian anywhere."""
    df = q("custdist", spark)
    assert_max_shuffles(df, 3)
    assert_no_cartesian(df)


def test_idle_rich_customers_plan(spark):
    """Q22 shape: the scalar avg subquery must ride a 1-row broadcast
    (BroadcastNestedLoopJoin), never a CartesianProduct; the no-recent-
    orders predicate is an anti join."""
    df = q("idle_rich_customers", spark)
    assert_no_cartesian(df)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "LeftAnti" in plan, plan[:2000]


def test_q6_all_predicates_pushed(spark):
    """Q6 shape: every filter (date range, discount band, quantity cap)
    reaches the parquet scan; zero keyed shuffles (global aggregate's
    single exchange is a 1-row final combine)."""
    df = q("q6_forecast_revenue", spark)
    assert_pushed_filters(df, "l_shipdate", "l_discount", "l_quantity")
    (li,) = read_schemas(df)
    assert li.count(":") == 4, f"expected 4-column pruned scan: {li}"


def test_sql_surface_matches_dataframe(spark):
    """The SQL front end is first-class: register_views exposes the
    fixture tables and an ANSI query over them returns exactly what the
    DataFrame formulation returns (same Catalyst planner underneath)."""
    from pubsub_mapreduce_spark.io import register_views

    register_views(spark, SF_SMALL)
    sql_rows = sorted(
        tuple(r)
        for r in spark.sql(
            """
            SELECT r_name, n_name,
                   CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                        * (1 - CAST(l_discount AS DECIMAL(6,4)))), 2)
                        AS DOUBLE) AS revenue,
                   count(*) AS n_lineitems
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation   ON c_nationkey = n_nationkey
            JOIN region   ON n_regionkey = r_regionkey
            WHERE o_orderdate >= DATE '1996-01-01'
              AND o_orderdate <  DATE '1998-01-01'
              AND r_name IN ('ASIA', 'EUROPE')
            GROUP BY r_name, n_name
            """
        ).collect()
    )
    df_rows = sorted(tuple(r) for r in q("q5_revenue_by_nation", spark).collect())
    assert sql_rows == df_rows


def test_q4_semi_join_no_distinct(spark):
    """Q4 shape: the EXISTS compiles to a LEFT SEMI join (probe side
    deduplicated by the join itself — no Aggregate-for-distinct node
    before the final count) with the date window pushed to the orders
    scan."""
    df = q("q4_priority_exists", spark)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan, plan[:800]
    assert_pushed_filters(df, "o_orderdate")
    assert_no_cartesian(df)
    # exactly one aggregate pair (partial+final count) — a distinct
    # before it would add a second
    assert node_count(df, "HashAggregate") <= 2, plan[:800]


def test_q8_single_aggregate_pass(spark):
    """Q8 shape: numerator and denominator of the market share come out
    of ONE grouped aggregate (conditional sum), not a self-join of two
    aggregations; all dims broadcast."""
    df = q("q8_market_share", spark)
    assert_broadcast_join(df, min_count=2)
    assert_no_cartesian(df)
    assert keyed_shuffle_count(df) <= 2, "fact join + year agg only"


def test_q16_anti_join_and_partial_distinct(spark):
    """Q16 shape: the complaints list is a broadcast anti join, part
    filters prune before the fact join, and the distinct-count
    deduplicates map-side (partial aggregate on profile+suppkey)."""
    df = q("q16_supplier_variety", spark)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan, plan[:800]
    assert_broadcast_join(df, min_count=2)
    # Catalyst expands count(distinct) to dedup-then-count: shuffle 1
    # carries deduplicated (profile, suppkey) pairs, shuffle 2 the
    # per-profile partial counts — both map-side-reduced, both tiny
    assert keyed_shuffle_count(df) <= 2, "distinct expansion: two shuffles"


def test_q19_single_scan_disjunction(spark):
    """Q19 shape: the OR-of-conjuncts stays one scan+broadcast-join pass
    — no union of per-branch subqueries (one lineitem scan in the
    plan), no cartesian."""
    df = q("q19_disjunctive_revenue", spark)
    schemas = read_schemas(df)
    fact_scans = [s for s in schemas if "l_partkey" in s]
    assert len(fact_scans) == 1, f"expected ONE fact scan: {schemas}"
    assert_broadcast_join(df, min_count=1)
    assert_no_cartesian(df)


def test_q21_two_keyed_shuffles(spark):
    """Q21 shape: the EXISTS + NOT-EXISTS pair costs two keyed shuffles
    (orderkey grouping, then supplier aggregate) — never the literal
    form's three fact self-joins."""
    df = q("q21_waiting_suppliers", spark)
    assert keyed_shuffle_count(df) <= 3, "orderkey agg + window + supp agg"
    assert_no_cartesian(df)
    schemas = read_schemas(df)
    fact_scans = [s for s in schemas if "l_suppkey" in s and "l_orderkey" in s]
    assert len(fact_scans) == 1, f"fact table scanned once: {schemas}"


def test_q17_brand_slice_only(spark):
    """Q17 shape: both passes (threshold aggregate and the small-line
    filter) run over the brand slice — the brand partkey filter reaches
    the part scan and the fact table joins against the broadcast
    brand-part list before any aggregation."""
    df = q("q17_small_qty_revenue", spark)
    assert_pushed_filters(df, "p_brand")
    assert_broadcast_join(df, min_count=2)
    assert_no_cartesian(df)


def test_q20_single_fact_scan(spark):
    """Q20 shape: the per-part denominator comes from a window sum over
    the per-(part,supplier) aggregate — the fact table is scanned once,
    the part filter prunes before the join, and the supplier lookup is
    a semi join."""
    df = q("q20_dominant_suppliers", spark)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan, plan[:800]
    schemas = read_schemas(df)
    fact_scans = [s for s in schemas if "l_quantity" in s]
    assert len(fact_scans) == 1, f"fact table scanned once: {schemas}"
    assert_no_cartesian(df)


def test_incremental_dedup_one_partitioning(spark):
    """Incremental dedup: batch aggregate, corpus distinct, and the anti
    join all ride the SAME hash key — two keyed shuffles (one per
    input), the join itself adds none."""
    df = q("dedup_incremental", spark)
    assert keyed_shuffle_count(df) <= 2, "join must reuse the hash partitioning"
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan, plan[:800]
    assert_no_cartesian(df)


def test_near_pair_family_no_allpairs(spark):
    """The registered embedding near-pair path (and the dedup family that
    rides it) generates candidates via an equi-join on (table, bucket) —
    the plan must contain no CartesianProduct and no
    BroadcastNestedLoopJoin (the all-pairs shapes it replaced)."""
    for name in ["sim_near_pairs", "dedup_embedding"]:
        df = q(name, spark)
        assert_no_cartesian(df)
        assert node_count(df, "BroadcastNestedLoopJoin") == 0, name


def test_ivf_knn_graph_plan(spark):
    """Corpus-wide kNN graph: candidates via equi-join on cid — never a
    nested loop over the corpus; the centroid collect is limit()'d
    in-plan (see test_ivf_centroids_bounded_and_ordered)."""
    df = q("knn_graph", spark)
    assert_no_cartesian(df)
    assert node_count(df, "BroadcastNestedLoopJoin") == 0


def test_user_similarity_plan(spark):
    """Behavioral similarity via IVF cells: no cartesian; the only
    nested-loop joins allowed are the 1-row bounds broadcast used to
    index the day spine (constant fan-in, not a pair blowup) — it
    appears once per self-join branch (probes + assigned), hence 2."""
    df = q("user_similarity", spark)
    assert_no_cartesian(df)
    assert node_count(df, "BroadcastNestedLoopJoin") <= 2


def test_ivf_queries_assign_in_the_jvm(spark, monkeypatch):
    """Every registered query that composes an IVF index assigns cells
    with the HOF argmax, whose arithmetic is bit-equal to the DuckDB
    twin's: no Python evaluation node anywhere in its lineage. A
    checkpointed relation shows only as a scan of its RDD, so
    checkpoints are inlined while the plans are built."""
    monkeypatch.setattr(
        type(spark.range(1)), "localCheckpoint", lambda self, *a, **kw: self
    )
    for name in ["knn_graph", "sim_ann_ivf", "ann_eval", "user_similarity"]:
        df = q(name, spark)
        for node in ["BatchEvalPython", "ArrowEvalPython", "MapInPandas"]:
            assert node_count(df, node) == 0, (name, node)


def test_decontaminate_broadcast_semi_shape(spark):
    """Decontamination: the benchmark gram set rides a broadcast; the
    corpus side never shuffles its text — the only keyed exchanges are
    the bench-side distinct and the doc_id result aggregate."""
    df = q("decontaminate", spark)
    assert_no_cartesian(df)
    assert_broadcast_join(df, min_count=1)
    assert keyed_shuffle_count(df) <= 2


def test_emb_covariance_partial_agg_shape(spark):
    """Covariance: the d(d+1)/2 products collapse map-side — the gram
    aggregate is the ONLY keyed shuffle (|partitions| x 2080 rows); the
    d-row stats are a bounded eager collect joined back as broadcast
    local relations; no cartesian."""
    df = q("emb_covariance", spark)
    assert_no_cartesian(df)
    assert_broadcast_join(df, min_count=2)
    assert keyed_shuffle_count(df) <= 1


def test_quality_gate_single_shuffle(spark):
    """The per-lang rank cut is one keyed exchange (both windows share
    the lang partitioning)."""
    df = q("quality_gate", spark)
    assert keyed_shuffle_count(df) <= 1


def test_funnel_single_user_shuffle(spark):
    """All staged funnel windows share the user_id partition spec — k
    steps plan ONE user-keyed exchange, the per-user rollup reuses that
    partitioning with no exchange of its own, and the only other
    exchange is the 1-row final scalar's SinglePartition."""
    from pubsub_mapreduce_spark.plans.explain import explain_str

    df = q("funnel_conversion", spark)
    plan = explain_str(df)
    assert plan.count("hashpartitioning(user_id") == 1, plan
    assert keyed_shuffle_count(df) <= 2  # user shuffle + 1-row final agg
    assert_no_cartesian(df)


def test_scd2_single_shuffle(spark):
    """Change filter (lag), interval close (lead) and version stamp all
    share one user partition+order spec — a single keyed exchange."""
    df = q("scd2_history", spark)
    assert keyed_shuffle_count(df) <= 1


def test_session_transitions_one_user_shuffle(spark):
    """Sessionize + next-type lookup: the (user, sid) window must reuse
    the user_id hash partitioning (subset clustering), so the plan has
    exactly two keyed exchanges — user_id and the (from, to) rollup."""
    df = q("session_transitions", spark)
    from pubsub_mapreduce_spark.plans.explain import explain_str

    plan = explain_str(df)
    assert plan.count("hashpartitioning(user_id") == 1, plan
    assert keyed_shuffle_count(df) <= 2
    assert_no_cartesian(df)


def test_merge_upsert_single_join_shape(spark):
    """MERGE: one full-outer SortMergeJoin on the key (both sides share
    the hash), no cartesian, no broadcast of the fact side."""
    df = q("merge_upsert", spark)
    from pubsub_mapreduce_spark.plans.explain import explain_str

    plan = explain_str(df)
    assert "FullOuter" in plan, plan[:500]
    assert_no_cartesian(df)
    assert keyed_shuffle_count(df) <= 3  # target side, update-side agg, join reuse


def test_gap_fill_windows_share_user_partitioning(spark):
    """Gap fill: daily LWW rank, spine explode and forward-fill window
    all ride user-keyed exchanges; no users x calendar cartesian."""
    df = q("gap_fill_daily", spark)
    assert_no_cartesian(df)
    assert node_count(df, "Window") >= 2


def test_new_ops_shuffle_budgets(spark):
    """Shuffle-budget contracts for the round-2 additions not covered by
    a dedicated guard: map-only ops shuffle zero times on a key; the
    rest stay within their documented budget."""
    budgets = {
        "doc_chunks": 0,        # 1->k explode, map-only
        "oversample_mix": 2,    # explode map-side; countDistinct costs 2
        "multimodal_audio_energy": 0,  # Arrow map, no shuffle
        "orders_checksum": 1,   # partial-agg'd global sum: one 1-row SinglePartition
        "value_histogram": 2,   # bin rollup + spine join broadcastable
        "cross_doc_repetition": 3,  # df agg, gram join, doc rollup
        "zorder_stats": 1,      # z-prefix rollup
        "lateness_profile": 2,  # user window + type rollup
        "text_repetition": 0,   # sorted-run HOF folds, map-only
    }
    for name, budget in budgets.items():
        df = q(name, spark)
        n = keyed_shuffle_count(df)
        assert n <= budget, f"{name}: {n} keyed shuffles (budget {budget})"
        assert_no_cartesian(df)


def test_robust_ops_shape(spark):
    """Outlier flag: ONE keyed shuffle (the per-type stats aggregate);
    stats ride back via broadcast, never re-shuffling the event side.
    Winsorizer: the rank window and cut aggregate share the event_type
    partitioning (2 keyed exchanges total incl. the final rollup)."""
    df = q("event_outliers", spark)
    assert keyed_shuffle_count(df) <= 1
    assert_no_cartesian(df)
    df = q("winsorized_values", spark)
    assert keyed_shuffle_count(df) <= 2
    assert_no_cartesian(df)


def test_rare_tokens_shape(spark):
    """One explode feeding (doc,term) tf, |vocab| cf, join back, doc
    rollup — 4 keyed exchanges, no cartesian."""
    df = q("rare_tokens", spark)
    assert keyed_shuffle_count(df) <= 4
    assert_no_cartesian(df)


def test_incremental_minhash_no_allpairs(spark):
    """Incremental LSH: candidates only from (band, bucket) member
    lists; the corpus side must ride the touched-bucket restriction (the
    bucket aggregate keeps only lists holding a new doc) and the plan
    must contain no all-pairs shape."""
    df = q("dedup_minhash_incremental", spark)
    assert_no_cartesian(df)
    assert node_count(df, "BroadcastNestedLoopJoin") == 0
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"keys=\[band#\d+, bucket#\d+L\], functions=\[collect_list\(", plan)
    assert re.search(r"Filter .*exists\(m#\d+, lambdafunction\(lambda \w+#\d+\.is_new", plan), (
        "touched-bucket restriction missing"
    )


def test_mad_association_shapes(spark):
    """MAD: two rank windows + a broadcast-joined flag — 3 keyed
    exchanges. Association rules: persisted sets feed pairs/singles/
    total — 5 keyed exchanges, |types|-dims broadcast back.

    clearCache first: the budgets pin the CANONICAL plan. If an earlier
    test materialized the operator's internal persist(), the cache
    manager swaps an InMemoryTableScan into the lineage and the cached
    boundary re-partitions — one extra exchange that exists only in
    suite order, not in a fresh session (observed 6-vs-5 flake)."""
    spark.catalog.clearCache()
    df = q("mad_outliers", spark)
    assert keyed_shuffle_count(df) <= 3
    assert_no_cartesian(df)
    df = q("association_rules", spark)
    assert keyed_shuffle_count(df) <= 5
    assert_no_cartesian(df)


def test_substring_spans_plan(spark):
    """Duplicate-substring spans: gram count + semi-join back ride the
    same gram hash, then one doc-keyed window/agg and the text join —
    bounded keyed exchanges, no all-pairs shape anywhere."""
    spark.catalog.clearCache()
    df = q("substring_spans", spark)
    assert_no_cartesian(df)
    assert node_count(df, "BroadcastNestedLoopJoin") == 0
    assert keyed_shuffle_count(df) <= 5
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan, "duplicated-gram semi-join missing"


def test_bloom_decontaminate_plan(spark):
    """The bloom path: corpus probe is a map-side filter against a
    1-row broadcast (a benign single-row BNLJ, not a cartesian blowup);
    the exact verify join broadcasts the bench gram set; keyed
    exchanges stay bounded (bench distinct + final doc rollup)."""
    from pubsub_mapreduce_spark.plans.explain import explain_str

    spark.catalog.clearCache()
    df = q("decontaminate_bloom", spark)
    assert_no_cartesian(df)
    assert node_count(df, "BroadcastHashJoin") >= 1
    assert keyed_shuffle_count(df) <= 4
    plan = explain_str(df)
    assert "xxhash64" in plan, "bloom probe missing from the plan"


def test_cms_constant_size_exchange(spark):
    """The CMS build's exchange is bounded by depth*width regardless of
    |keys|: the plan must show partial aggregation below the (d, cell)
    shuffle and no Expand; the probe side joins the broadcast grid."""
    spark.catalog.clearCache()
    df = q("cms_user_counts", spark)
    assert_no_cartesian(df)
    assert node_count(df, "Expand") == 0
    assert keyed_shuffle_count(df) <= 3
    assert_broadcast_join(df, min_count=1)


def test_pq_plan_shape(spark):
    """PQ: encoding is map-only (codebook rides as a plan literal — no
    join, no shuffle to build codes); the ADC scan joins the broadcast
    query set; the only keyed exchange is the per-query top-k window."""
    spark.catalog.clearCache()
    df = q("emb_pq_codes", spark)
    assert keyed_shuffle_count(df) == 0, "PQ encode must be map-only"
    df = q("sim_ann_pq", spark)
    assert keyed_shuffle_count(df) <= 1
    assert_no_cartesian(df)


def test_filtered_ann_pushes_predicate(spark):
    """Hybrid search: the label predicate must reach the parquet scan —
    the index is built on the slice, not filtered after the fact."""
    spark.catalog.clearCache()
    df = q("sim_ann_filtered", spark)
    assert_pushed_filters(df, "label")
    assert_broadcast_join(df, min_count=1)


def test_pii_ops_map_only(spark):
    """The scrub is a pure projection (zero keyed shuffles); the audit
    pays exactly one tiny source-keyed aggregate."""
    spark.catalog.clearCache()
    assert keyed_shuffle_count(q("pii_scrub", spark)) == 0
    assert keyed_shuffle_count(q("pii_audit", spark)) <= 1


def test_ivfpq_plan_shape(spark):
    """IVF+PQ: the stored index (vec_id, cid, codes) derives in ONE
    map-only corpus projection; probes broadcast; keyed exchanges are
    the bounded query-probe window and the final top-k only."""
    spark.catalog.clearCache()
    df = q("sim_ann_ivfpq", spark)
    assert_no_cartesian(df)
    assert_broadcast_join(df, min_count=1)
    assert keyed_shuffle_count(df) <= 3


def test_agg_upsert_shares_partitioning(spark):
    """The IVM merge: state agg, delta agg, and the full-outer join all
    ride the user_id hash — no extra exchange for the join."""
    spark.catalog.clearCache()
    df = q("agg_upsert", spark)
    assert keyed_shuffle_count(df) <= 3
    assert_no_cartesian(df)


def test_session_additions_shuffle_budgets(spark):
    """Budget sweep over this session's additions: each plan's keyed
    exchanges stay within its operator's contract and nothing
    degenerates to a cartesian."""
    budgets = {
        "multimodal_video_pairs": 3,   # frame pairs distinct + group
        "vocab": 2,                    # token count + rank window
        "token_ids": 3,                # count, rank, token join
        "mixture_weights": 2,          # source rollup + 1-row pack
        # only the bin aggregate is data-sized; the cdf/total windows,
        # q join and bin join-back all move <= 64 rows
        "value_quantiles": 5,
        "seasonal_outliers": 4,        # daily agg + 2 cohort windows
        # 3 exchanges per profile side (global plain agg + the exact
        # distincts' Expand pair — the documented profile_table cost,
        # swapped for HLL at 100TB), 1-row join at the end
        "profile_drift": 6,
        "kanon_customers": 1,          # one QI rollup
        # two grid builds + product rollup + global min + the exact
        # join (reporting only — a planner reads just `est`)
        "cms_join_size": 5,
        "sim_ann_multiprobe": 2,       # candidate dedup + topk window
    }
    for name, budget in budgets.items():
        spark.catalog.clearCache()
        df = q(name, spark)
        got = keyed_shuffle_count(df)
        assert got <= budget, f"{name}: {got} keyed shuffles (budget {budget})"
        assert_no_cartesian(df)


def test_skyline_no_quadratic_join(spark):
    """The 2-D skyline must compile to the sorted-groups form — no
    NOT-EXISTS anti nested-loop, no cartesian; the only single-
    partition window runs over the |distinct x| group relation."""
    spark.catalog.clearCache()
    df = q("skyline_orders", spark)
    assert_no_cartesian(df)
    assert node_count(df, "BroadcastNestedLoopJoin") == 0
    assert keyed_shuffle_count(df) <= 3


def test_session_additions_scan_pruning(spark):
    """Column pruning reaches the parquet reader for the new text and
    relational operators — a scan reading unused columns is wrong at
    any scale."""
    spark.catalog.clearCache()
    for name, allowed in {
        "vocab": {"text"},
        "token_ids": {"doc_id", "text"},
        "pii_scrub": {"doc_id", "text"},
        "skyline_orders": {"o_orderkey", "o_totalprice", "o_orderdate"},
        "kanon_customers": {"c_nationkey", "c_mktsegment", "c_acctbal"},
    }.items():
        for schema in read_schemas(q(name, spark)):
            inner = schema[len("struct<"):-1]  # strip() eats field chars
            cols = {
                part.split(":")[0] for part in inner.split(",") if part
            }
            extra = cols - allowed
            assert not extra, f"{name} scan reads unused columns {extra}"


def test_acf_and_skew_report_shuffle_budgets(spark):
    """acf_daily: daily rollup (1 keyed exchange) + the lag self-join
    (2 more for the join sides at most) + the (type, lag) aggregate
    share; key_skew_report: per column, one keyed exchange for per-key
    counts, one for counts-of-counts, and the global window/aggregate
    run on the tiny counts-of-counts relation — the budget catches any
    rewrite that accidentally shuffles key-sized data again."""
    for name, budget in {"acf_daily": 4, "key_skew_report": 12}.items():
        spark.catalog.clearCache()
        df = q(name, spark)
        got = keyed_shuffle_count(df)
        assert got <= budget, f"{name}: {got} keyed shuffles (budget {budget})"
        assert_no_cartesian(df)


def test_asof_next_click_plan(spark):
    """Generic as-of join: union-carry-forward must plan as ONE keyed
    exchange (both sides shuffle on user_id for the window sort) — no
    nested-loop, no per-row lookup join."""
    df = q("asof_next_click", spark)
    assert_max_shuffles(df, 1)
    assert_no_cartesian(df)


def test_overlapping_orders_plan(spark):
    """Bin-decomposed interval self-overlap: the pair source is an
    equi-join on (custkey, bin) — a hash-partitionable exchange, never
    a BroadcastNestedLoopJoin — plus the final histogram aggregate."""
    df = q("overlapping_orders", spark)
    assert_no_cartesian(df)
    assert node_count(df, "BroadcastNestedLoopJoin") == 0
    assert_max_shuffles(df, 4)


def test_forecast_backtest_plan(spark):
    """Backtest rides the daily rollup: one keyed shuffle collapses
    volume, the window + final aggregate stay on the type key — and
    the raw events table is scanned exactly once."""
    df = q("forecast_backtest", spark)
    assert_max_shuffles(df, 3)
    assert_no_cartesian(df)
    ev = [s for s in read_schemas(df) if "event_type" in s or "ts" in s]
    assert len(ev) == 1, f"events scanned {len(ev)}x"


def test_survival_km_plan(spark):
    """KM: the user-keyed rollup is the only |rows|-sized exchange;
    everything downstream is |groups x days|-sized. The 1-row max-day
    aggregate must attach as a broadcast, never a re-scan per row."""
    df = q("survival_km", spark)
    assert_no_cartesian(df)
    assert node_count(df, "BroadcastNestedLoopJoin") <= 1  # 1-row attach
    # the user rollup carries a LAZY localCheckpoint: the pre-execution
    # plan still prints the lineage under both consumers (max-day scalar
    # + spine), but at runtime the persisted rollup materializes once —
    # so the pin allows the two DISPLAYED scans and rejects anything
    # beyond (the pre-fix plan showed four)
    ev = read_schemas(df)
    assert len([s for s in ev if "user_id" in s]) <= 2, "events re-scanned"


def test_hll_overlap_plan(spark):
    """Sketch overlap: the pair expansion is tiny-x-tiny (broadcast),
    the |rows|-sized work is one sketch aggregate and one distinct —
    no shuffled join on raw data."""
    df = q("hll_overlap_users", spark)
    assert_no_cartesian(df)
    assert_broadcast_join(df, min_count=2)


def test_ks_source_drift_value_spine_shuffles(spark):
    """KS drift runs entirely on the distinct-value spine: two rollup
    shuffles (value, source x value), the per-source count, the
    source-partitioned cumulative window and the final rollup — 5
    keyed exchanges, none of them row-sized after the first pair; the
    |sources|-row grid and the 1-row total attach as broadcasts."""
    df = q("ks_source_drift", spark)
    assert keyed_shuffle_count(df) <= 5
    assert_broadcast_join(df, min_count=2)
    assert_no_cartesian(df)


def test_edit_verify_rides_lsh_budget(spark):
    """Levenshtein verification adds only the two doc-text joins on top
    of the validated MinHash-LSH candidate pipeline — the pair source's
    shuffle budget (12 keyed exchanges at this SF) must not grow, and
    nothing may degenerate to a cartesian: the whole point is that the
    quadratic DP runs per-candidate, never per-pair-of-docs."""
    df = q("dedup_edit_verify", spark)
    assert keyed_shuffle_count(df) <= 12
    assert_no_cartesian(df)


def test_retrieval_label_eval_broadcast_and_two_shuffles(spark):
    """Label-retrieval eval: query side and label decoration broadcast;
    only the per-query top-k window and the per-label rollup shuffle —
    2 keyed exchanges for the whole eval."""
    df = q("retrieval_label_eval", spark)
    assert keyed_shuffle_count(df) <= 2
    assert_broadcast_join(df, min_count=2)
    assert_no_cartesian(df)


def test_pettitt_calendar_bounded_shuffles(spark):
    """Pettitt: the daily rollup, the day-pair V_t aggregate and the
    prefix/argmax windows share 3 keyed exchanges; everything after
    the rollup is calendar-sized."""
    df = q("pettitt_changepoint", spark)
    assert keyed_shuffle_count(df) <= 3
    assert_no_cartesian(df)


def test_isotonic_bounded_spine_shuffles(spark):
    """Isotonic calibration: one data-sized bucket rollup, one
    spine-sized exchange — the i x j expansion and the prefix sums
    live on the <=100-row bucket spine, never on rows."""
    df = q("isotonic_calibration", spark)
    assert keyed_shuffle_count(df) <= 2


def test_logrank_single_keyed_exchange(spark):
    """Log-rank: the user rollup is the only row-sized pass; the
    calendar spine, pair grid and day-ordered folds ride one keyed
    exchange plus broadcasts."""
    df = q("logrank_churn", spark)
    assert keyed_shuffle_count(df) <= 1
    assert_broadcast_join(df, min_count=2)


def test_mwu_value_spine_shuffles(spark):
    """Mann-Whitney U: same distinct-value-spine discipline as the KS
    op — 6 keyed exchanges (two rollups, source counts, tie constants,
    cumulative window, final aggregate), grid and constants broadcast."""
    df = q("mwu_source_shift", spark)
    assert keyed_shuffle_count(df) <= 6
    assert_broadcast_join(df, min_count=2)
    assert_no_cartesian(df)


def test_gopher_rules_shuffle_free(spark):
    """The rule gate is the first pass a corpus takes — it must be a
    pure projection: ZERO keyed shuffles, no joins."""
    df = q("gopher_rules", spark)
    assert keyed_shuffle_count(df) == 0
    assert_no_cartesian(df)


def test_round5_stats_plans(spark):
    """The round-5 stats ops collapse volume FIRST (value spine / daily
    rollup / stratum cells) and never degenerate to a cartesian or a
    data-sized pair join."""
    for name, budget in {
        "kruskal_wallis": 6,
        "mantel_haenszel": 3,
        "zipf_slope": 4,
    }.items():
        df = q(name, spark)
        got = keyed_shuffle_count(df)
        assert got <= budget, f"{name}: {got} keyed shuffles (budget {budget})"
        assert_no_cartesian(df)


def test_theil_sen_pair_join_is_calendar_bounded(spark):
    """The pair source must be the DAILY relation self-joined (a
    calendar-bounded theta join is acceptable: C(|days|,2) pairs), and
    the daily rollup must collapse the orders scan before the join —
    i.e. the join inputs are aggregates, not raw rows."""
    df = q("theil_sen", spark)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the orders scan feeds an aggregate BEFORE any join
    import re

    first_join = min(
        (plan.find(s) for s in ("SortMergeJoin", "NestedLoopJoin", "CartesianProduct", "BroadcastNestedLoop") if plan.find(s) >= 0),
        default=-1,
    )
    assert "HashAggregate" in plan
    assert_no_cartesian(df) if first_join < 0 else None


def test_hard_negatives_plan_matches_ann_contract(spark):
    """Hard-negative mining rides the IVF plan: probes broadcast, the
    corpus never shuffles before scoring — the only corpus-sized
    exchange is the final per-query top-k window."""
    df = q("hard_negatives", spark)
    assert_broadcast_join(df, min_count=1)
    assert_no_cartesian(df)
    assert keyed_shuffle_count(df) <= 3


def test_round5_batch2_plans(spark):
    """CvM rides the KS spine plan (|V|-bounded windows), Jonckheere's
    pair join is |G^2 x V|-bounded, kappa is one rollup — none may
    degenerate to a cartesian on data-sized inputs."""
    for name, budget in {
        "cvm_drift": 7,
        "jonckheere": 9,
        "kappa_lang": 2,
    }.items():
        df = q(name, spark)
        got = keyed_shuffle_count(df)
        assert got <= budget, f"{name}: {got} keyed shuffles (budget {budget})"
        assert_no_cartesian(df)


def test_round5_batch3_plans(spark):
    """PSI is |bins|-sized after two map-side rollups; Hill is a local
    top-k merge + k-fold; quantile normalization touches only bounded
    spines (|S x V|, |V|) plus one map-side join back to docs."""
    for name, budget in {
        "psi_drift": 5,
        "hill_tail": 3,
        "quantile_normalize": 8,
    }.items():
        df = q(name, spark)
        got = keyed_shuffle_count(df)
        assert got <= budget, f"{name}: {got} keyed shuffles (budget {budget})"
        assert_no_cartesian(df)


def test_t_closeness_plan(spark):
    """t-closeness rides the KS grid plan: |groups x bands| windows,
    broadcast group list, no cartesian on data-sized inputs."""
    df = q("t_closeness", spark)
    assert keyed_shuffle_count(df) <= 7
    assert_no_cartesian(df)


def test_q7_volume_shipping_plan(spark):
    """TPC-H Q7: ship-date range pushed to the fact scan, every
    dimension (nation-filtered supplier/customer maps) broadcast, no
    cartesian anywhere."""
    df = q("q7_volume_shipping", spark)
    assert_pushed_filters(df, "l_shipdate", "n_name")
    assert_broadcast_join(df, min_count=3)
    assert_no_cartesian(df)


def test_q10_returned_items_plan(spark):
    """TPC-H Q10: returnflag equality AND the order-date range both
    reach parquet; customer+nation broadcast onto the per-customer
    aggregate; top-20 never globally sorts the aggregate."""
    df = q("q10_returned_items", spark)
    assert_pushed_filters(df, "l_returnflag", "o_orderdate")
    assert_broadcast_join(df, min_count=2)
    assert_no_cartesian(df)


def test_q18_big_orders_plan(spark):
    """TPC-H Q18: ONE keyed shuffle (the per-order quantity rollup);
    orders and customer join the tiny survivor set by broadcast."""
    df = q("q18_big_orders", spark)
    assert_broadcast_join(df, min_count=1)
    assert_no_cartesian(df)
    assert keyed_shuffle_count(df) <= 2


def test_entity_match_wildcard_plan(spark):
    """The wildcard-key rewrite must never degenerate: the self-join is
    keyed on (p, wkey, nation) — no cartesian, no nested loop — and
    the block-size cap rides a window, not a second scan-join."""
    df = q("entity_match", spark)
    assert_no_cartesian(df)


def test_sparse_similarity_plan(spark):
    """user_similarity_sparse: the day equi-join is keyed (never
    cartesian) and the halved pair source is unioned back without an
    extra corpus scan (the dots relation feeds both directions)."""
    df = q("user_similarity_sparse", spark)
    assert_no_cartesian(df)


def test_weighted_sample_plan(spark):
    """Efraimidis-Spirakis draw: pure projection + TakeOrdered top-k —
    per-partition top-k merged once, never a single-partition global
    sort of the corpus; the only window runs on the k-row survivors."""
    from pubsub_mapreduce_spark.plans.explain import explain_str

    df = q("weighted_sample", spark)
    assert_no_cartesian(df)
    assert "TakeOrderedAndProject" in explain_str(df)
    assert keyed_shuffle_count(df) <= 1


def test_kanon_band_search_plan(spark):
    """Width grid rides a broadcast; the only keyed exchanges are the
    (w, nation, band) rollup chain — never a per-width rescan of the
    customer table."""
    df = q("kanon_band_search", spark)
    assert_no_cartesian(df)
    schemas = read_schemas(df)
    cust = [s for s in schemas if "c_acctbal" in s]
    assert len(cust) == 1, f"customer must be scanned once: {schemas}"


def test_mann_kendall_scan_and_pair_source(spark):
    """The pair join must run on the DAILY aggregate (calendar-bounded
    C(days,2), the theil_sen envelope), never the raw orders; the
    orders scan reads only the date column."""
    df = q("mann_kendall", spark)
    assert_no_cartesian(df)
    schemas = read_schemas(df)
    assert all(s.count(":") == 1 and "o_orderdate" in s for s in schemas), (
        f"orders scan not pruned to the date column: {schemas}"
    )


def test_durbin_watson_and_stl_scan_pruning(spark):
    """Both daily-revenue decompositions read exactly (date, price) —
    two columns — and keep every exchange keyed on the daily rollup."""
    for name in ("durbin_watson", "stl_lite"):
        df = q(name, spark)
        assert_no_cartesian(df)
        for s in read_schemas(df):
            assert s.count(":") == 2 and "o_totalprice" in s, (
                f"{name} scan not pruned to 2 columns: {s}"
            )


def test_adamic_adar_plan_keyed_joins(spark):
    """Common-neighbor expansion joins on the middle node w (keyed,
    never cartesian) and the top-k is a TakeOrdered merge, not a
    single-partition global sort."""
    from pubsub_mapreduce_spark.plans.explain import explain_str

    df = q("adamic_adar", spark)
    assert_no_cartesian(df)
    assert "TakeOrderedAndProject" in explain_str(df)


def test_jl_distortion_plan_broadcast_sample(spark):
    """The pair stage broadcasts the bounded sample; the embeddings
    scan is pruned to (vec_id, embedding) — the label column never
    leaves the reader."""
    df = q("jl_distortion", spark)
    assert_broadcast_join(df, min_count=1)
    for s in read_schemas(df):
        assert "label" not in s, f"label column not pruned: {s}"


def test_silhouette_plan_broadcast_sample(spark):
    """Silhouette's corpus x sample stage broadcasts the sample side;
    nothing degenerates to a cartesian product."""
    df = q("silhouette_eval", spark)
    assert_broadcast_join(df, min_count=1)
    assert_no_cartesian(df)


def test_ccf_daily_plan(spark):
    """The lag fan-out joins on an equality over the shifted date —
    hash-joinable, never cartesian — and rides the daily rollup."""
    df = q("ccf_daily", spark)
    assert_no_cartesian(df)
