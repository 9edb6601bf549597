"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)``  : flagship star-join query at sf0.001 (smoke check).
``queries()``     : one callable per implemented operator (SURVEY.md §2 +
                    north-star training-data ops), (spark, sf_dir) -> DataFrame.
``oracle_sql()``  : DuckDB-runnable SQL twin per query. The LSH/IVF
                    approximate-search family gets MIRROR oracles — the
                    twin reproduces the bucketing/cell assignment
                    bit-for-bit (shared plane/centroid literals,
                    sequential-fold dots == list_cosine_similarity,
                    validated), so the exact value hash gates the real
                    approximate contract; MinHash-LSH mirrors via the
                    md5-portable base hash. Omitted only where no
                    DuckDB twin can exist (DataSketches HLL sketches;
                    PCA's order-sensitive float moments) — those get
                    rows-only checks plus error-bound/invariant tests
                    in tests/.

The catalogue is one ordered table, ``_QUERIES``. A query that passes
one table of ``load_tables`` (or all of them) to one operator with
constant arguments is a row ``"name": _op(operator, "table", **consts)``;
a query that composes operators or projects columns is a row
``"name": q_<name>`` naming its function. ``queries()`` returns a copy
of the table, and its key order is still the contract: the correctness
gate reads the first 50 keys (see R9_NEW).

Column-name and dtype discipline: every computed column is aliased
identically on both sides; DuckDB aggregates are CAST to match Spark
output types (sum->BIGINT, len->INTEGER, ...). Every float column that is
the result of arithmetic is rounded identically on both sides (see
operators/relational.py docstring for the rationale).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pubsub_mapreduce_spark.io import load_tables, table_checksum
from pubsub_mapreduce_spark.operators import (
    dedup,
    graph as G,
    multimodal,
    pipeline as P,
    rank as RK,
    rangejoin as RJ,
    relational as R,
    robust as RB,
    sampling as SM,
    similarity as S,
    sketches as SK,
    textops as TX,
)

# SPRT log-constants: computed ONCE in Python (libm) and embedded as
# literals on both engines (robust.sprt_conversion embeds the same
# expressions with its default parameters p0=0.18 p1=0.22 a=b=0.05).
import math  # noqa: E402

_SPRT_LR_POS = math.log(0.22 / 0.18)
_SPRT_LR_NEG = math.log((1.0 - 0.22) / (1.0 - 0.18))
_SPRT_HI = math.log((1.0 - 0.05) / 0.05)
_SPRT_LO = math.log(0.05 / (1.0 - 0.05))

# ---------------------------------------------------------------- helpers


def _events_with_n(t) -> DataFrame:
    """events + n = props.k (the fan-out count analogue, F3 dynamic JSON)."""
    return t["events"].withColumn(
        "n", F.get_json_object("props", "$.k").cast("long")
    )


def _latest(t) -> DataFrame:
    return P.latest_per_key(t["events"])


def _op(fn, table: str | None = None, /, **consts):
    """A query that passes one table of ``load_tables`` (all of them when
    ``table`` is None) to the operator ``fn`` with constant keyword
    arguments."""

    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        t = load_tables(spark, sf_dir)
        return fn(t if table is None else t[table], **consts)

    return build


# ---------------------------------------------------------------- queries


def q_t1_latest_per_key(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return _latest(t).select(
        "user_id",
        "value",
        F.unix_timestamp("ts").alias("ts_s"),
        "event_id",
    )


def q_t2_snapshot_scale(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return P.snapshot_scale(_latest(t)).select("user_id", "quota")


def q_t3_fan_out(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    fanned = P.fan_out(_events_with_n(t), key="user_id", n="n")
    return fanned.groupBy("user_id").agg(F.count(F.lit(1)).alias("fanned"))


def q_sliding_counts(spark, sf_dir):
    """Sliding (overlapping) windows — beyond the reference's tumbling-only
    surface: 1-day windows sliding every 12h, so each event lands in
    exactly two windows. Spark's window() generates the per-row window
    set inline (an Expand node, no join)."""
    t = load_tables(spark, sf_dir)
    return (
        t["events"]
        .groupBy(F.window("ts", "1 day", "12 hours").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.unix_timestamp("w.start").alias("window_start_s"), "user_id", "cnt"
        )
    )


def q_t5_merge_partials(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    ev = t["events"]
    partials = (
        ev.groupBy(
            F.window("ts", "1 hour").alias("w"), "user_id", "event_type"
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.unix_timestamp("w.start").alias("window_start_s"),
            "user_id",
            "cnt",
        )
    )
    return P.merge_partials(partials)


def q_t7_running_total(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    out = P.running_total(t["events"], key="user_id")
    return out.select(
        "event_id", "user_id", F.round("running_total", 2).alias("running_total")
    )


def q_t8_emit_on_change(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return P.emit_on_change(t["events"]).select("event_id", "user_id", "value")


def q_codec_roundtrip(spark, sf_dir):
    from pubsub_mapreduce_spark.functions import codecs as C

    t = load_tables(spark, sf_dir)
    ev = t["events"]
    return ev.select(
        "event_id",
        C.int_to_hex(F.col("user_id")).alias("uid_hex"),
        C.hex_to_int(C.int_to_hex(F.col("user_id"))).alias("uid_rt"),
        C.json_field("props", "$.k").cast("long").alias("k"),
        C.b64_encode(F.col("event_type").cast("binary")).alias("etype_b64"),
        F.floor(F.col("value") * 0.2).cast("long").alias("quota"),
    )


def q_skew_salted_agg(spark, sf_dir):
    """Salted two-phase aggregation over the hot event_type keys —
    identical result to a plain groupBy, skew-proof distribution."""
    from pubsub_mapreduce_spark.operators.skew import salted_agg

    ev = load_tables(spark, sf_dir)["events"]
    out = salted_agg(
        ev,
        ["event_type"],
        n_events=("sum", F.count(F.lit(1))),
        total_value=("sum", F.sum("value")),
    )
    return out.select(
        "event_type", "n_events", F.round("total_value", 2).alias("total_value")
    )


def q_multimodal_video_pairs(spark, sf_dir):
    """Video near-dup: frame-sample -> per-frame pHash -> Hamming block
    join, counting matching frame pairs per video pair
    (multimodal.video_near_pairs) — the dedup family's video modality,
    composed from the existing frame/hash/block-join pieces."""
    docs = load_tables(spark, sf_dir)["documents"]
    return multimodal.video_near_pairs(multimodal.attach_media(docs))


def q_source_knob_sine(spark, sf_dir):
    """S2/S3 — deterministic batch replay of the simulator's sine profile
    (simulate-knobs.go:63-71); sf_dir unused (the source generates)."""
    from pubsub_mapreduce_spark.sources.knobs import knob_batch

    df = knob_batch(spark, n=10000, cycle=True, ticks=200)
    return df.select("id", "n", F.col("ts").cast("double").alias("ts_s"))


def q_dedup_incremental(spark, sf_dir):
    """New-batch-vs-corpus dedup: docs with doc_id%10 >= 8 are 'the new
    crawl', the rest 'the existing corpus'."""
    docs = load_tables(spark, sf_dir)["documents"]
    corpus = docs.where(F.col("doc_id") % 10 < 8)
    new_batch = docs.where(F.col("doc_id") % 10 >= 8)
    return dedup.incremental_dedup(new_batch, corpus)


def q_dedup_minhash_incremental(spark, sf_dir):
    """NEAR-dup twin of dedup_incremental (same doc_id%10 batch split):
    new-crawl docs LSH-matched against corpus + earlier-batch docs
    (dedup.minhash_lsh_incremental — only buckets holding a new doc
    emit pairs, so candidate volume scales with |batch|). FULL
    value-hash oracle, same mirroring as dedup_minhash_lsh."""
    docs = load_tables(spark, sf_dir)["documents"]
    corpus = docs.where(F.col("doc_id") % 10 < 8)
    new_batch = docs.where(F.col("doc_id") % 10 >= 8)
    return dedup.minhash_lsh_incremental(new_batch, corpus, n=3, threshold=0.5)


def q_part_communities(spark, sf_dir):
    """Weighted label-propagation communities over the part co-purchase
    graph (graph.label_propagation over graph.copurchase_edges) —
    iterative yet exactly value-hashable (integer argmax rounds,
    unrolled-CTE oracle)."""
    from pubsub_mapreduce_spark.operators.graph import (
        copurchase_edges,
        label_propagation,
    )

    edges = copurchase_edges(load_tables(spark, sf_dir)["lineitem"], min_w=2)
    return label_propagation(edges, iters=3).select(
        F.col("node").alias("part"), F.col("label").alias("community")
    )


def q_ldiv_customers(spark, sf_dir):
    """l-diversity audit over customers (relational.ldiversity_violations):
    quasi = (nation, mktsegment), sensitive = $1000 balance band;
    full per-group diversity report; at_risk marks homogeneity-attack
    exposure (n_sensitive < 3)."""
    cust = load_tables(spark, sf_dir)["customer"].select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("acctbal_band"),
    )
    return R.ldiversity_violations(
        cust, ["c_nationkey", "c_mktsegment"], "acctbal_band", l=3
    )


def q_part_kcore(spark, sf_dir):
    """Bounded 3-core peel of the part co-purchase graph
    (graph.kcore_peel) — cohesive-core filter, unrolled-round oracle."""
    from pubsub_mapreduce_spark.operators.graph import (
        copurchase_edges,
        kcore_peel,
    )

    edges = copurchase_edges(load_tables(spark, sf_dir)["lineitem"], min_w=2)
    return kcore_peel(edges, k=3, rounds=3)


def q_part_reach_hops(spark, sf_dir):
    """Single-source BFS over the part co-purchase graph
    (graph.bfs_hops over graph.copurchase_edges): min hop distance
    from the smallest part in the graph to every part within 4 hops —
    frontier-expansion reachability, in-plan seed, hop-bounded
    recursive-CTE oracle."""
    from pubsub_mapreduce_spark.operators.graph import (
        bfs_hops,
        copurchase_edges,
    )

    edges = copurchase_edges(load_tables(spark, sf_dir)["lineitem"], min_w=2)
    return bfs_hops(edges, max_hops=4)


def q_part_component_census(spark, sf_dir):
    """Connected-component size histogram of the part co-purchase
    graph (graph.component_size_histogram over copurchase_edges):
    true transitive closure via the validated hybrid union-find /
    min-label machinery, then counts-of-sizes — fixpoint recursive-CTE
    oracle."""
    from pubsub_mapreduce_spark.operators.graph import (
        component_size_histogram,
        copurchase_edges,
    )

    edges = copurchase_edges(load_tables(spark, sf_dir)["lineitem"], min_w=2)
    return component_size_histogram(edges)


def q_multimodal_audio_pairs(spark, sf_dir):
    """Audio near-dup via energy-delta-sign fingerprints + Hamming
    block join (multimodal.audio_near_pairs) — completes the dedup
    family's audio modality."""
    docs = load_tables(spark, sf_dir)["documents"]
    return multimodal.audio_near_pairs(multimodal.attach_media(docs))


def q_pps_orders(spark, sf_dir):
    """Systematic PPS sample of orders by spend
    (sampling.pps_systematic) — RNG-free weighted sampling on the
    distributed cumulative-weight line."""
    t = load_tables(spark, sf_dir)
    return SM.pps_systematic(
        t["orders"],
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long"),
        n=500,
    )


def q_weighted_median_price(spark, sf_dir):
    """Quantity-weighted median line price per return flag
    (robust.weighted_median) — volume-aware central tendency, pure
    order statistics."""
    li = load_tables(spark, sf_dir)["lineitem"]
    return RB.weighted_median(
        li,
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("long"),
        F.col("l_quantity").cast("long"),
        tiebreak="l_orderkey",
    )


def q_neg_samples(spark, sf_dir):
    """Deterministic rejection-checked negative sampling
    (sampling.negative_samples) — reproducible contrastive pairs."""
    t = load_tables(spark, sf_dir)
    return SM.negative_samples(t["orders"], t["lineitem"], t["part"])


def q_key_skew_report(spark, sf_dir):
    """Key-skew diagnostic over the shuffle-hot key columns
    (skew.key_skew_report) — exact p50/p99/max per-key counts via the
    counts-of-counts rank trick; the planner input that decides when
    salted_agg/salted_broadcast_join are worth their shuffle."""
    from pubsub_mapreduce_spark.operators.skew import key_skew_report

    t = load_tables(spark, sf_dir)
    return key_skew_report(
        [
            ("events.user_id", t["events"], "user_id"),
            ("events.event_type", t["events"], "event_type"),
            ("orders.o_custkey", t["orders"], "o_custkey"),
            ("lineitem.l_partkey", t["lineitem"], "l_partkey"),
        ]
    )


def q_dedup_fingerprint(spark, sf_dir):
    """Batch fingerprint-level dedup: one keeper per SimHash — collapses
    whitespace/case/template variants exact content hashing admits."""
    sh = dedup.simhash(load_tables(spark, sf_dir)["documents"])
    return sh.groupBy("simhash").agg(
        F.min("doc_id").alias("keeper_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


def q_js_divergence(spark, sf_dir):
    """Jensen-Shannon divergence between purchase-event and view-event
    value distributions (sketches.js_divergence): bounded symmetric
    drift on psi_drift's shared-bin Laplace-smoothed histograms, one
    bin-sorted ln fold."""
    ev = load_tables(spark, sf_dir)["events"]
    return SK.js_divergence(
        ev.where(F.col("event_type") == "purchase"),
        ev.where(F.col("event_type") == "view"),
        "value",
    )


def q_part_clustering(spark, sf_dir):
    """Local clustering coefficient on the part co-purchase graph
    (graph.clustering_coefficient over graph.copurchase_edges):
    2*tri/(deg*(deg-1)) per part, integer counts, one division —
    cohesion DENSITY next to event_triangles' raw counts."""
    from pubsub_mapreduce_spark.operators.graph import (
        clustering_coefficient,
        copurchase_edges,
    )

    edges = copurchase_edges(load_tables(spark, sf_dir)["lineitem"]).select(
        F.col("a").alias("u"), F.col("b").alias("v")
    )
    return clustering_coefficient(edges)


def q_adamic_adar(spark, sf_dir):
    """Adamic–Adar link prediction on the part co-purchase graph
    (graph.adamic_adar over graph.copurchase_edges): integer-micro
    quantized 1/ln(deg) contributions, degree-capped common-neighbor
    expansion, top-100 non-edges."""
    from pubsub_mapreduce_spark.operators.graph import (
        adamic_adar,
        copurchase_edges,
    )

    edges = copurchase_edges(load_tables(spark, sf_dir)["lineitem"], min_w=2)
    return adamic_adar(edges, top_k=100, max_deg=200)


def q_emb_pq_codes(spark, sf_dir):
    """Product-quantization encode: 64 floats -> 8 4-bit codes, long
    format (vec_id, sub, code) — the 64x-compressed representation a
    100TB ANN index stores (similarity.pq_encode)."""
    return S.pq_encode(load_tables(spark, sf_dir)["embeddings"]).select(
        "vec_id", F.posexplode("codes").alias("sub", "code")
    )


def q_decontaminate(spark, sf_dir):
    """Train/test decontamination: training docs (source<>'src0') sharing
    any word 3-gram with the benchmark set (source='src0'); the bench gram
    set broadcasts, per-doc distinct grams derived map-side."""
    docs = load_tables(spark, sf_dir)["documents"]
    return TX.ngram_decontaminate(
        docs.where(F.col("source") != "src0"),
        docs.where(F.col("source") == "src0"),
        n=3,
    )


def q_decontaminate_bloom(spark, sf_dir):
    """Same contamination result as q_decontaminate, computed through
    the Bloom-prefilter scale path (textops.bloom_decontaminate): the
    corpus pays a map-side k-probe filter instead of a full gram
    explode; only candidates reach the exact verify."""
    docs = load_tables(spark, sf_dir)["documents"]
    return TX.bloom_decontaminate(
        docs.where(F.col("source") != "src0"),
        docs.where(F.col("source") == "src0"),
        n=3,
    )


def q_double_charges(spark, sf_dir):
    """Duplicate-submission screen: the same customer placing multiple
    orders the same day — the replay/double-charge candidate set a
    payment pipeline reviews; amount bounds reported so exact-amount
    repeats stand out (min_cents == max_cents). One grouped count on
    the natural key."""
    orders = load_tables(spark, sf_dir)["orders"]
    return (
        orders.select(
            "o_custkey",
            F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
            F.datediff(
                F.col("o_orderdate"), F.lit("1992-01-01").cast("date")
            ).alias("dn"),
        )
        .groupBy("o_custkey", "dn")
        .agg(
            F.count(F.lit(1)).alias("n_txns"),
            F.min("cents").alias("min_cents"),
            F.max("cents").alias("max_cents"),
        )
        .where(F.col("n_txns") > 1)
    )


def q_cycle_time_by_priority(spark, sf_dir):
    """Order-to-ship cycle time per priority class: min / exact median
    (type-1 order statistic, deterministic tie-break) / max days from
    order date to last line shipment — the SLA report; same integer
    rank machinery as the MAD family."""
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir)
    cyc = (
        t["lineitem"]
        .join(
            t["orders"].select("o_orderkey", "o_orderdate", "o_orderpriority"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderkey", "o_orderpriority")
        .agg(
            F.max(
                F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
            ).alias("days")
        )
    )
    w = Window.partitionBy("o_orderpriority").orderBy("days", "o_orderkey")
    ranked = cyc.select(
        "o_orderpriority",
        "days",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(
            Window.partitionBy("o_orderpriority")
        ).alias("n"),
    )
    return ranked.groupBy("o_orderpriority").agg(
        F.max("n").cast("long").alias("n_orders"),
        F.min("days").alias("min_days"),
        F.max(
            F.when(F.col("rn") == F.ceil(F.col("n") / 2), F.col("days"))
        ).alias("median_days"),
        F.max("days").alias("max_days"),
    )


def q_spend_gini(spark, sf_dir):
    """Gini coefficient of customer spend — the inequality summary
    beside supplier_hhi's concentration: G = sum((2i - n - 1) * x_i)
    / (n * sum(x)) over rank-sorted integer cents, an exact integer
    numerator (rank ties broken by custkey) and ONE final division.

    Scale: the rank runs through rank.global_row_number (range
    partition + per-partition offsets) — no single-partition window
    over the |customers|-sized relation (VERDICT r7 fix); equality
    with the window form is pinned in tests/test_round8_fixes.py."""
    orders = load_tables(spark, sf_dir)["orders"]
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")).alias(
            "cents"
        )
    )
    ranked = RK.global_row_number(
        per_cust,
        [F.col("cents").asc(), F.col("o_custkey").asc()],
        "i",
    ).select("cents", "i")
    d = "decimal(38,0)"
    agg = ranked.agg(
        F.count(F.lit(1)).cast(d).alias("n"),
        F.sum(F.col("cents").cast(d)).alias("tot"),
        F.sum(F.col("i").cast(d) * F.col("cents").cast(d)).alias("ix"),
    )
    # numerator 2*sum(i*x) - (n+1)*sum(x) stays exact in DECIMAL;
    # ONE double division at the end
    return agg.select(
        F.col("n").cast("long").alias("n_customers"),
        F.expr(
            "floor(CAST(2 * ix - (n + 1) * tot AS DOUBLE)"
            " / CAST(n * tot AS DOUBLE) * 1e6 + 0.5) / 1e6"
        ).alias("gini"),
    )


def q_open_orders_by_day(spark, sf_dir):
    """Backlog curve via the sweep line: each order contributes +1 at
    its order day and -1 after its last ship day; the cumulative sum
    over the tiny |days| delta relation is the number of orders open
    on each day — the interval-stabbing pattern that answers
    "concurrent intervals" without a per-day interval scan."""
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir)
    span = (
        t["lineitem"]
        .join(
            t["orders"].select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderkey")
        .agg(
            F.min(
                F.datediff(
                    F.col("o_orderdate"), F.lit("1992-01-01").cast("date")
                )
            ).alias("start_dn"),
            F.max(
                F.datediff(
                    F.col("l_shipdate"), F.lit("1992-01-01").cast("date")
                )
            ).alias("end_dn"),
        )
    )
    deltas = span.select(
        F.col("start_dn").alias("dn"), F.lit(1).alias("d")
    ).unionByName(
        span.select((F.col("end_dn") + 1).alias("dn"), F.lit(-1).alias("d"))
    )
    daily = deltas.groupBy("dn").agg(F.sum("d").alias("delta"))
    w = Window.orderBy("dn").rowsBetween(Window.unboundedPreceding, 0)
    return (
        daily.withColumn("open_orders", F.sum("delta").over(w))
        .select("dn", "delta", F.col("open_orders").cast("long"))
    )


def q_abc_parts(spark, sf_dir):
    """ABC (Pareto) inventory classification: parts ranked by revenue,
    class A while the EXCLUSIVE cumulative share is under 80%, B under
    95%, else C — thresholds compared as integer cross-products
    (cum * 100 vs threshold * total), no rate rounding anywhere; class
    counts and revenue totals reported.

    Scale: the revenue prefix runs through rank.global_prefix_sum —
    no single-partition window over the |parts|-sized relation
    (VERDICT r7 fix); equality pinned in tests/test_round8_fixes.py."""
    t = load_tables(spark, sf_dir)
    rev = (
        t["lineitem"]
        .groupBy("l_partkey")
        .agg(
            F.sum(
                F.expr(
                    "CAST(round(l_extendedprice * (1 - l_discount) * 10000)"
                    " AS BIGINT)"
                )
            ).alias("rev")
        )
    )
    # exclusive revenue prefix over the (rev desc, partkey) total order
    # via rank.global_prefix_sum — the |parts|-sized relation never
    # funnels through a single-partition window (VERDICT r7 fix)
    ranked = RK.global_prefix_sum(
        rev,
        [F.col("rev").desc(), F.col("l_partkey").asc()],
        "rev",
        "cum_before",
        inclusive=False,
    ).select("rev", "cum_before")
    total = ranked.agg(F.sum("rev").alias("__t"))
    from pyspark.sql.functions import broadcast

    cls = (
        ranked.crossJoin(broadcast(total))
        .withColumn(
            "abc_class",
            # DECIMAL cross-products: long*100 would overflow int64 at
            # warehouse totals under ANSI (DuckDB auto-widens to HUGEINT)
            F.when(
                F.col("cum_before").cast("decimal(38,0)") * 100
                < F.col("__t").cast("decimal(38,0)") * 80,
                "A",
            )
            .when(
                F.col("cum_before").cast("decimal(38,0)") * 100
                < F.col("__t").cast("decimal(38,0)") * 95,
                "B",
            )
            .otherwise("C"),
        )
    )
    return cls.groupBy("abc_class").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum("rev").alias("class_rev"),
    )


def q_supplier_hhi(spark, sf_dir):
    """Market concentration per nation: the Herfindahl–Hirschman index
    of supplier revenue shares, computed exactly — sum of squared
    integer cent revenues divided ONCE by the squared total (DECIMAL
    intermediates per the z-score overflow discipline), so the
    concentration metric carries a value-hash oracle."""
    t = load_tables(spark, sf_dir)
    li = t["lineitem"].select(
        "l_suppkey",
        F.expr(
            "CAST(round(l_extendedprice * (1 - l_discount) * 10000)"
            " AS BIGINT)"
        ).alias("rev"),
    )
    sup = t["supplier"].select("s_suppkey", "s_nationkey")
    per_supp = (
        li.join(F.broadcast(sup), li["l_suppkey"] == sup["s_suppkey"])
        .groupBy("s_nationkey", "s_suppkey")
        .agg(F.sum("rev").alias("rev"))
    )
    d = "decimal(38,0)"
    return (
        per_supp.groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.sum(F.col("rev").cast(d) * F.col("rev").cast(d)).alias("__sq"),
            F.sum(F.col("rev").cast(d)).alias("__tot"),
        )
        .select(
            "s_nationkey",
            "n_suppliers",
            F.expr(
                "floor(CAST(__sq AS DOUBLE)"
                " / (CAST(__tot AS DOUBLE) * CAST(__tot AS DOUBLE))"
                " * 1e6 + 0.5) / 1e6"
            ).alias("hhi"),
        )
    )


def q_rfm_segments(spark, sf_dir):
    """RFM segmentation: per customer, recency/frequency/monetary
    quartiles (ntile over deterministic (metric, custkey) orderings —
    engine-independent tie-breaks) and the 3-digit segment code the
    lifecycle campaigns key off. Counts per segment reported.

    Scale: each quartile assignment runs through rank.global_ntile
    (range partition + closed-form NTILE from the global row number) —
    three parallel two-pass ranks instead of three single-partition
    windows over the |customers|-sized relation (VERDICT r7 fix);
    equality pinned in tests/test_round8_fixes.py."""
    orders = load_tables(spark, sf_dir)["orders"]
    per_cust = orders.groupBy("o_custkey").agg(
        F.max(
            F.datediff(F.col("o_orderdate"), F.lit("1992-01-01").cast("date"))
        ).alias("last_day"),
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("spend"),
    )
    seg = per_cust
    for out, order in (
        ("r_q", [F.col("last_day").asc(), F.col("o_custkey").asc()]),
        ("f_q", [F.col("n_orders").asc(), F.col("o_custkey").asc()]),
        ("m_q", [F.col("spend").asc(), F.col("o_custkey").asc()]),
    ):
        seg = RK.global_ntile(seg, order, 4, out)
    seg = seg.select("r_q", "f_q", "m_q")
    return seg.groupBy("r_q", "f_q", "m_q").agg(
        F.count(F.lit(1)).alias("n_customers")
    )


def q_brand_cooccurrence(spark, sf_dir):
    """Retail basket mining on the star schema: brand pairs bought in
    the SAME order, with support counts — the parts-level twin of the
    event-type co-occurrence; pair expansion bounded by items-per-order
    and brands join via broadcast."""
    t = load_tables(spark, sf_dir)
    li = t["lineitem"].select("l_orderkey", "l_partkey")
    parts = t["part"].select("p_partkey", "p_brand")
    ob = (
        li.join(F.broadcast(parts), li["l_partkey"] == parts["p_partkey"])
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    a = ob.select(F.col("l_orderkey"), F.col("p_brand").alias("brand_a"))
    b = ob.select(F.col("l_orderkey"), F.col("p_brand").alias("brand_b"))
    return (
        a.join(b, "l_orderkey")
        .where(F.col("brand_a") < F.col("brand_b"))
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


def q_benford_digits(spark, sf_dir):
    """First-significant-digit audit of order totals (the Benford
    screen bookkeeping fraud checks run): observed digit counts and
    shares — fabricated numbers drift from the logarithmic digit law,
    and the observed distribution is the integer-exact half of that
    comparison (the expected-law constants are reader-side)."""
    orders = load_tables(spark, sf_dir)["orders"]
    # 2dp money: integer cents carry the first significant digit as
    # their first character (no leading zeros in an integer's string)
    digit = F.substring(
        F.round(F.col("o_totalprice") * 100).cast("long").cast("string"), 1, 1
    ).cast("int")
    d = orders.where(F.col("o_totalprice") > 0).select(digit.alias("digit"))
    counts = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    total = counts.agg(F.sum("n").cast("long").alias("__t"))
    from pyspark.sql.functions import broadcast

    from pubsub_mapreduce_spark.functions.text import round_half_up

    return counts.crossJoin(broadcast(total)).select(
        "digit", "n", round_half_up(F.col("n") / F.col("__t"), 6).alias("share")
    )


def q_users_to_date(spark, sf_dir):
    """Growth curve: per day, first-seen users and the cumulative
    distinct-user count — computed WITHOUT a distinct-per-day rescan:
    each user contributes once at their min-day, and the cumulative
    sum over the |days| relation is exact (the classic first-touch
    trick that turns an unmergeable distinct into a mergeable count)."""
    ev = load_tables(spark, sf_dir)["events"]
    from pyspark.sql import Window

    first_day = (
        ev.select(
            "user_id",
            F.datediff(
                F.to_date("ts"), F.lit("1992-01-01").cast("date")
            ).alias("dn"),
        )
        .groupBy("user_id")
        .agg(F.min("dn").alias("dn"))
    )
    daily = first_day.groupBy("dn").agg(F.count(F.lit(1)).alias("new_users"))
    w = Window.orderBy("dn").rowsBetween(Window.unboundedPreceding, 0)
    return daily.withColumn(
        "cumulative_users", F.sum("new_users").over(w)
    )


def q_event_triangles(spark, sf_dir):
    """Triangle counts over the event-type transition graph
    (graph.triangle_count) — cohesion alongside components and
    PageRank; edges canonicalized so each triangle counts once."""
    from pubsub_mapreduce_spark.operators.graph import triangle_count

    edges = R.session_transitions(load_tables(spark, sf_dir)).select(
        F.col("type_from").alias("u"), F.col("type_to").alias("v")
    )
    return triangle_count(edges)


def q_conversion_latency(spark, sf_dir):
    """Time-to-convert distribution: per user, seconds from first
    signup to first subsequent purchase, bucketed by hour — the
    product-analytics latency histogram; exact integer bucketing."""
    ev = load_tables(spark, sf_dir)["events"]
    base = ev.select(
        "user_id", "event_type", F.col("ts").cast("double").alias("tt")
    )
    s = base.where(F.col("event_type") == "signup").groupBy("user_id").agg(
        F.min("tt").alias("signup_tt")
    )
    p = base.where(F.col("event_type") == "purchase").select("user_id", "tt")
    lat = (
        s.join(p, "user_id")
        .where(F.col("tt") >= F.col("signup_tt"))
        .groupBy("user_id", "signup_tt")
        .agg(F.min("tt").alias("purchase_tt"))
        .select(
            F.floor(
                (F.col("purchase_tt") - F.col("signup_tt")) / 3600.0
            ).cast("long").alias("hours_to_convert")
        )
    )
    return lat.groupBy("hours_to_convert").agg(
        F.count(F.lit(1)).alias("n_users")
    )


def q_session_paths3(spark, sf_dir):
    """Top 3-step navigation paths within sessions — one lead deeper
    than the 2-step transition matrix, same single user-keyed window
    exchange; the path-mining depth a funnel designer actually reads."""
    ev = load_tables(spark, sf_dir)["events"]
    from pyspark.sql import Window

    e = ev.select(
        "user_id", "event_id", "event_type", F.col("ts").cast("double").alias("tt")
    )
    w = Window.partitionBy("user_id").orderBy("tt", "event_id")
    g = e.withColumn(
        "is_new",
        F.when(
            F.lag("tt").over(w).isNull() | (F.col("tt") - F.lag("tt").over(w) > 1800.0),
            1,
        ).otherwise(0),
    ).withColumn("sid", F.sum("is_new").over(w))
    ws = Window.partitionBy("user_id", "sid").orderBy("tt", "event_id")
    p = g.select(
        "event_type",
        F.lead("event_type", 1).over(ws).alias("t2"),
        F.lead("event_type", 2).over(ws).alias("t3"),
    ).where(F.col("t2").isNotNull() & F.col("t3").isNotNull())
    return (
        p.groupBy(
            F.col("event_type").alias("step1"),
            F.col("t2").alias("step2"),
            F.col("t3").alias("step3"),
        )
        .agg(F.count(F.lit(1)).alias("n_paths"))
    )


def q_oov_rate(spark, sf_dir):
    """Vocabulary drift (textops.oov_rate): even-doc_id half as the old
    snapshot, odd half as the new batch — per-source out-of-vocabulary
    occurrence rate."""
    docs = load_tables(spark, sf_dir)["documents"]
    return TX.oov_rate(
        docs.where(F.col("doc_id") % 2 == 0),
        docs.where(F.col("doc_id") % 2 == 1),
    )


def q_histogram_drift(spark, sf_dir):
    """Distribution drift of events.value between the first and second
    half of the stream (sketches.histogram_drift): aligned 20-bin
    histograms + integer-exact total-variation distance."""
    from pubsub_mapreduce_spark.operators.sketches import histogram_drift

    ev = load_tables(spark, sf_dir)["events"]
    return histogram_drift(
        ev.where(F.col("event_id") % 2 == 0),
        ev.where(F.col("event_id") % 2 == 1),
        "value",
    )


def q_erasure_report(spark, sf_dir):
    """Right-to-erasure propagation audit (relational.erasure_report):
    how many rows a 10-customer deletion batch touches per table,
    broadcast semi-counts in one scan each."""
    t = load_tables(spark, sf_dir)
    subjects = (
        t["customer"].where(F.col("c_custkey") % 100 == 0).select("c_custkey")
    )
    return R.erasure_report(
        t,
        subjects,
        {"customer": "c_custkey", "orders": "o_custkey", "events": "user_id"},
    )


def q_skyline_orders(spark, sf_dir):
    """2-D Pareto frontier over orders (relational.skyline_2d): orders
    with no other both cheaper AND earlier — the sorted one-pass form
    of the quadratic NOT-EXISTS the oracle states."""
    orders = load_tables(spark, sf_dir)["orders"].select(
        "o_orderkey",
        "o_totalprice",
        F.datediff(F.col("o_orderdate"), F.lit("1992-01-01").cast("date")).alias(
            "order_day"
        ),
    )
    return R.skyline_2d(orders, "o_totalprice", "order_day", "o_orderkey")


def q_snapshot_diff(spark, sf_dir):
    """CDC from snapshots (relational.snapshot_diff): 'yesterday' =
    orders minus the %7 slice, 'today' = orders minus the %5 slice
    with %3 prices bumped — recovers insert/delete/update per key."""
    orders = load_tables(spark, sf_dir)["orders"]
    old = orders.where(F.col("o_orderkey") % 7 != 0)
    new = orders.where(F.col("o_orderkey") % 5 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 3 == 0, F.col("o_totalprice") + 1.0
        ).otherwise(F.col("o_totalprice")),
    )
    return R.snapshot_diff(
        old, new, "o_orderkey", ["o_custkey", "o_totalprice", "o_orderstatus"]
    )


def q_profile_drift(spark, sf_dir):
    """Snapshot drift report (relational.profile_drift): the 90%
    o_orderkey slice as 'yesterday' vs full orders as 'today' — row,
    null, distinct and bound deltas per column with a drifted flag."""
    orders = load_tables(spark, sf_dir)["orders"]
    return R.profile_drift(
        orders.where(F.col("o_orderkey") % 10 < 9),
        orders,
        num_cols=["o_orderkey", "o_custkey", "o_totalprice"],
        str_cols=["o_orderstatus", "o_orderpriority"],
    )


def q_sim_ann_filtered(spark, sf_dir):
    """Metadata-filtered vector search ("hybrid search"): ANN top-k
    restricted to the label=1 slice — the per-tenant / per-language
    index pattern. The predicate prunes BEFORE the index build, so the
    whole LSH pipeline runs on the slice (filter pushed to the scan)."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    return S.ann_lsh_topk(emb.where(F.col("label") == 1), every=10)


def q_oversample_mix(spark, sf_dir):
    """Mixture resampling with replication: 3x src0, 2.5x src1, 0.25x
    src2, 1x the rest — reported per source (sampling.oversample)."""
    docs = load_tables(spark, sf_dir)["documents"]
    mixed = SM.oversample(
        docs, "doc_id", "source", {"src0": 3.0, "src1": 2.5, "src2": 0.25}
    )
    return mixed.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("doc_id").alias("n_docs"),
    )


def q_dq_orders(spark, sf_dir):
    """Data-quality gate over orders: row-local rules in one scan
    (relational.dq_check) + referential-integrity and uniqueness rules
    composed by union — the expectations report a pipeline blocks a
    publish on."""
    from pyspark.sql.functions import broadcast

    t = load_tables(spark, sf_dir)
    o = t["orders"]
    base = R.dq_check(
        o,
        {
            "totalprice_positive": F.col("o_totalprice") > 0,
            "orderdate_in_range": F.col("o_orderdate").between(
                "1992-01-01", "2002-12-31"
            ),
            "status_known": F.col("o_orderstatus").isin("O", "F", "P"),
        },
    )
    tot = o.agg(F.count(F.lit(1)).alias("n_rows"))
    rate = lambda df: df.crossJoin(broadcast(tot)).select(  # noqa: E731
        "rule",
        "n_violations",
        R.round_half_up(F.col("n_violations") / F.col("n_rows"), 6).alias(
            "violation_rate"
        ),
    )
    orphans = rate(
        o.join(
            t["customer"].select("c_custkey"),
            F.col("o_custkey") == F.col("c_custkey"),
            "left_anti",
        )
        .agg(F.count(F.lit(1)).alias("n_violations"))
        .select(F.lit("custkey_in_customer").alias("rule"), "n_violations")
    )
    dups = rate(
        o.agg(
            (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias(
                "n_violations"
            )
        ).select(F.lit("orderkey_unique").alias("rule"), "n_violations")
    )
    return base.unionAll(orphans).unionAll(dups)


def q_zorder_stats(spark, sf_dir):
    """Morton-key clustering report over orders (custkey x order day):
    per z-prefix bucket, the (custkey, day) bounding rectangle — the
    tight per-file ranges that make row-group stats prune BOTH columns
    (io.zorder_key / io.write_zordered)."""
    from pubsub_mapreduce_spark.io import zorder_key

    t = load_tables(spark, sf_dir)
    d = t["orders"].select(
        "o_custkey",
        F.datediff("o_orderdate", F.lit("1992-01-01").cast("date"))
        .cast("long")
        .alias("day"),
    )
    zp = F.shiftright(zorder_key("o_custkey", "day"), 18)
    return d.groupBy(zp.alias("zp")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min("o_custkey").alias("min_cust"),
        F.max("o_custkey").alias("max_cust"),
        F.min("day").alias("min_day"),
        F.max("day").alias("max_day"),
    )


def q_merge_upsert(spark, sf_dir):
    """MERGE-style upsert: latest event value per user applied to the
    customer table's balance (matched -> update, new keys -> insert,
    rest -> keep), tagged with the action audit column
    (relational.merge_upsert)."""
    from pubsub_mapreduce_spark.operators.pipeline import latest_per_key

    t = load_tables(spark, sf_dir)
    upd = latest_per_key(t["events"]).withColumnRenamed("user_id", "c_custkey")
    merged = R.merge_upsert(
        t["customer"], upd, key="c_custkey", set_cols={"c_acctbal": "value"}
    )
    return merged.select("c_custkey", "c_acctbal", "c_nationkey", "action")


def q_pack_shards(spark, sf_dir):
    """Token-budget shard packing via the distributed two-phase prefix
    sum (sampling.pack_shards); reported per shard."""
    from pubsub_mapreduce_spark.functions import text as TFN

    docs = load_tables(spark, sf_dir)["documents"]
    packed = SM.pack_shards(
        docs.select("doc_id", "text"),
        "doc_id",
        TFN.token_count_ws(F.col("text")).cast("long"),
        budget=1000,
    )
    return packed.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("w").alias("shard_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


def q_multimodal_audio_energy(spark, sf_dir):
    """Windowed PCM energy/peak over opaque audio payloads — the audio
    member of the multimodal family (multimodal.audio_window_energy);
    integer reductions make the Arrow stage exactly oracle-able."""
    docs = load_tables(spark, sf_dir)["documents"]
    return multimodal.audio_window_energy(multimodal.attach_media(docs))


def q_sample_docs(spark, sf_dir):
    docs = load_tables(spark, sf_dir)["documents"]
    return SM.sample_pct(docs, "doc_id", 10).select(
        "doc_id", SM.hash_bucket("doc_id").alias("bucket")
    )


def q_stratified_docs(spark, sf_dir):
    """Corpus-mixing stratified sample: per-source keep rates (100% of
    src0, 50% of src1, 25% of src2, 10% of everything else), membership
    a pure hash of doc_id — no shuffle, reproducible across engines."""
    docs = load_tables(spark, sf_dir)["documents"]
    return (
        SM.stratified_sample(
            docs, "doc_id", "source", {"src0": 100, "src1": 50, "src2": 25}, 10
        )
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )


def q_capped_docs(spark, sf_dir):
    """Per-source budget cap: at most 10 docs per source, hash-chosen."""
    docs = load_tables(spark, sf_dir)["documents"]
    return SM.per_stratum_cap(docs, "doc_id", "source", 10).select(
        "doc_id", "source"
    )


def q_split_counts(spark, sf_dir):
    docs = load_tables(spark, sf_dir)["documents"]
    return (
        SM.train_val_test_split(docs, "doc_id")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        )
    )


def q_kanon_customers(spark, sf_dir):
    """k-anonymity audit over customers (relational.kanon_violations):
    quasi-identifier = (nation, market segment, $1000 balance band);
    groups under k=5 are re-identification risks the release gate must
    generalize away."""
    cust = load_tables(spark, sf_dir)["customer"].select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("acctbal_band"),
    )
    return R.kanon_violations(
        cust, ["c_nationkey", "c_mktsegment", "acctbal_band"], k=5
    )


def q_agg_upsert(spark, sf_dir):
    """Incremental aggregate maintenance (relational.aggregate_upsert):
    merge the stored per-user summary of 'history' (event_id%10 < 8)
    with the new batch's delta — the oracle is a FULL RECOMPUTE over
    all events, so the driver hash checks the recompute-equivalence
    contract itself."""
    ev = load_tables(spark, sf_dir)["events"]
    state = R.user_value_summary(ev.where(F.col("event_id") % 10 < 8))
    delta = R.user_value_summary(ev.where(F.col("event_id") % 10 >= 8))
    return R.aggregate_upsert(state, delta)


def q_event_pagerank(spark, sf_dir):
    """Integer-exact weighted PageRank over the sessionized event-type
    transition graph (graph.pagerank over relational.session_transitions):
    which event states are central in user journeys. Iterative, yet
    exactly value-hashable — all arithmetic is scaled int64."""
    from pubsub_mapreduce_spark.operators.graph import pagerank

    edges = R.session_transitions(load_tables(spark, sf_dir))
    return pagerank(edges).select(
        F.col("node").alias("event_type"), F.col("r").alias("rank_scaled")
    )


def q_cms_join_size(spark, sf_dir):
    """Join-cardinality estimate from two count-min grids
    (sketches.cms_join_estimate): |events join orders on user=cust|
    estimated at planning cost (a |grid|-row join), never
    undercounting; exact count reported only to expose the error."""
    from pubsub_mapreduce_spark.operators.sketches import cms_join_estimate

    t = load_tables(spark, sf_dir)
    return cms_join_estimate(
        t["events"], "user_id", t["orders"], "o_custkey"
    )


def q_multimodal_decode(spark, sf_dir):
    docs = load_tables(spark, sf_dir)["documents"]
    return multimodal.decode_image_batch(multimodal.attach_media(docs), fake=True)


def q_multimodal_resize(spark, sf_dir):
    docs = load_tables(spark, sf_dir)["documents"]
    return multimodal.resize_images(
        multimodal.attach_media(docs), max_dim=256, fake=True
    )


def q_multimodal_frame_sample(spark, sf_dir):
    docs = load_tables(spark, sf_dir)["documents"]
    frames = multimodal.frame_sample(multimodal.attach_media(docs), every_n=4)
    return frames.select(
        "doc_id", "frame_idx", F.octet_length("frame_bytes").alias("frame_n_bytes")
    )


def q_multimodal_phash_pairs(spark, sf_dir):
    """Image near-dup via perceptual hash + Hamming block join — the
    multimodal member of the dedup family (byte-math hash is
    deterministic, so the Arrow plumbing carries a full value oracle)."""
    docs = load_tables(spark, sf_dir)["documents"]
    return multimodal.phash_near_pairs(
        multimodal.attach_media(docs), max_hamming=8
    )


def q_contamination_report(spark, sf_dir):
    """Per-source decontamination rollup (textops.contamination_report)
    over the same src0-benchmark split as q_decontaminate."""
    docs = load_tables(spark, sf_dir)["documents"]
    return TX.contamination_report(
        docs.where(F.col("source") != "src0"),
        docs.where(F.col("source") == "src0"),
        n=3,
    )


def q_part_recommendations(spark, sf_dir):
    """Item-item CF top-5 per part from the co-purchase graph
    (graph.item_cf_recs): co-occurrence cosine over BIGINT weighted
    degrees, sqrt-mirrored, engine-independent (sim DESC, rec) rank."""
    from pubsub_mapreduce_spark.operators.graph import (
        copurchase_edges,
        item_cf_recs,
    )

    edges = copurchase_edges(load_tables(spark, sf_dir)["lineitem"], min_w=2)
    return item_cf_recs(edges)


def q_price_elasticity(spark, sf_dir):
    """Per-brand OLS slope of quantity on unit price
    (robust.ols_slope_by_group): six BIGINT moments, one exact
    division, floor-cent unit prices via integer div."""
    t = load_tables(spark, sf_dir)
    return RB.ols_slope_by_group(t["lineitem"], t["part"])


def q_asof_next_click(spark, sf_dir):
    """FORWARD as-of with tolerance (rangejoin.asof_join): each click
    event attaches the same user's first PURCHASE at-or-after it within
    7 days — the "did this click convert?" lookup, pandas
    merge_asof(direction='forward', tolerance=...) semantics executed
    as one keyed union-carry window (no LATERAL point lookups).
    Tie-break: min event_id (earliest-keyed purchase wins among ties).

    Round-5 replacement for the retired q_asof_next_order: the orders
    calendar (1995-2001) ends BEFORE the events calendar (2024), so the
    old orders-target form verified only the all-NULL carry path
    (VERDICT r4 residual #2). This dense events self-asof exercises the
    forward VALUE-carry on rows that really match, mirroring
    q_asof_prev_click's backward form."""
    ev = load_tables(spark, sf_dir)["events"]
    left = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    right = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("buy_ts"),
        F.col("event_id").alias("buy_id"),
        F.col("value").alias("buy_value"),
    )
    j = RJ.asof_join(
        left,
        right,
        on=["user_id"],
        left_time="ts",
        right_time="buy_ts",
        value_cols=["buy_id", "buy_value"],
        direction="forward",
        tolerance_s=7 * 86400,
        tie_cols=["buy_id"],
        prefix="next_",
    )
    return j.select(
        "event_id",
        "user_id",
        F.unix_timestamp("ts").alias("ts_s"),
        F.col("next_buy_id").alias("next_buy"),
        F.col("next_buy_value").alias("next_buy_value"),
    )


def q_overlapping_orders(spark, sf_dir):
    """Interval-interval overlap join (rangejoin.interval_overlap_join):
    7-day order windows of the SAME customer that overlap — i.e. order
    pairs placed within a week of each other — summarized as a
    gap-in-days histogram. Self-join via bin decomposition: linear
    shuffle, first-shared-bin dedup, no distinct pass."""
    o = load_tables(spark, sf_dir)["orders"].select(
        "o_custkey",
        "o_orderkey",
        F.col("o_orderdate").cast("timestamp").alias("start"),
        (F.col("o_orderdate").cast("timestamp") + F.expr("INTERVAL 7 DAYS")).alias(
            "end"
        ),
    )
    pairs = RJ.interval_overlap_join(
        o, o, on=["o_custkey"], bin_width_s=7 * 86400
    ).where(F.col("o_orderkey_l") < F.col("o_orderkey_r"))
    return (
        pairs.select(
            F.abs(F.datediff(F.col("start_r"), F.col("start_l"))).alias(
                "gap_days"
            )
        )
        .groupBy("gap_days")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .select(F.col("gap_days").cast("int").alias("gap_days"), "n_pairs")
    )


def q_asof_prev_click(spark, sf_dir):
    """BACKWARD as-of with tolerance (rangejoin.asof_join): each
    purchase event attaches the same user's most recent CLICK at-or-
    before it within 24 hours — the attribution lookup ("what did they
    click right before buying?"), exercising the backward carry (last
    ignorenulls window, tie-break MAX event_id = latest wins) on a
    DENSE self-asof where most purchases really match, unlike the
    orders/events calendars which never overlap. Same one-shuffle
    union-carry plan as the forward twin."""
    ev = load_tables(spark, sf_dir)["events"]
    left = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    right = ev.where(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
        F.col("value").alias("click_value"),
    )
    j = RJ.asof_join(
        left,
        right,
        on=["user_id"],
        left_time="ts",
        right_time="click_ts",
        value_cols=["click_id", "click_value"],
        direction="backward",
        tolerance_s=86400,
        tie_cols=["click_id"],
        prefix="prev_",
    )
    return j.select(
        "event_id",
        "user_id",
        F.unix_timestamp("ts").alias("ts_s"),
        F.col("prev_click_id").alias("prev_click"),
        F.col("prev_click_value").alias("prev_click_value"),
    )


def q_frame_scene_cuts(spark, sf_dir):
    """Video shot-boundary census (multimodal.frame_scene_cuts): per
    video, frames whose pHash jumps >= 20 Hamming bits from the
    previous frame — keyframe/static-content screen on the fake-decoder
    contract, integer end-to-end (bit_count(xor) vs threshold)."""
    docs = load_tables(spark, sf_dir)["documents"]
    return multimodal.frame_scene_cuts(multimodal.attach_media(docs))


# --- round-5 additions ---------------------------------------------------


def q_psi_drift(spark, sf_dir):
    """Population Stability Index of order value, pre-1998 era vs
    after (sketches.psi_drift): the scorecard-standard drift metric on
    histogram_drift's shared-bin histograms — Laplace-smoothed bins,
    one bin-sorted ln fold."""
    o = load_tables(spark, sf_dir)["orders"]
    cut = F.lit("1998-01-01").cast("date")
    return SK.psi_drift(
        o.where(F.col("o_orderdate") < cut),
        o.where(F.col("o_orderdate") >= cut),
        "o_totalprice",
    )


# ---------------------------------------------------------------- round 7


def q_neighbor_jaccard(spark, sf_dir):
    """Hub-capped neighborhood Jaccard over the co-purchase graph
    (graph.neighbor_jaccard): integer jac_micro ranking on the
    adamic_adar pair envelope."""
    t = load_tables(spark, sf_dir)
    return G.neighbor_jaccard(G.copurchase_edges(t["lineitem"]))


def q_degree_assortativity(spark, sf_dir):
    """Newman degree assortativity of the co-purchase graph
    (graph.degree_assortativity): DECIMAL moments over ordered edge
    incidences, r_plus1 output."""
    t = load_tables(spark, sf_dir)
    return G.degree_assortativity(G.copurchase_edges(t["lineitem"]))


def q_hits_scores(spark, sf_dir):
    """Two-iteration all-integer HITS authorities over the
    customer-part purchase bipartite graph (graph.hits_scores):
    top-20 parts, one final normalization."""
    t = load_tables(spark, sf_dir)
    return G.hits_scores(t["orders"], t["lineitem"])


def q_event_ppr(spark, sf_dir):
    """Personalized PageRank from the dominant event state over the
    sessionized transition graph (graph.personalized_pagerank over
    relational.session_transitions): integer-exact random walk with
    restart — relevance FROM the seed, not global popularity."""
    from pubsub_mapreduce_spark.operators.graph import (
        personalized_pagerank,
    )

    edges = R.session_transitions(load_tables(spark, sf_dir))
    return personalized_pagerank(edges).select(
        F.col("node").alias("event_type"),
        F.col("r").alias("rank_scaled"),
    )


def q_clustering_capped(spark, sf_dir):
    """HUB-CAPPED local clustering coefficients with deterministic
    top-k output (graph.clustering_coefficient_capped) — the
    100x-scale companion to part_clustering (which computes the
    uncapped coefficient for every node): the eligible subgraph bounds
    wedges by C(max_deg, 2), the adamic_adar envelope."""
    t = load_tables(spark, sf_dir)
    return G.clustering_coefficient_capped(
        G.copurchase_edges(t["lineitem"])
    )


def q_growth_accounting(spark, sf_dir):
    """Monthly active-customer growth accounting over ORDERS: new /
    retained / resurrected / churned per month
    (relational.growth_accounting) — the product-analytics flux
    ledger. Orders, not events: the events fixture spans a single
    month at every SF, which would make the ledger vacuous; customers
    ordering across the 1992-1998 calendar exercise all four classes."""
    orders = load_tables(spark, sf_dir)["orders"]
    return R.growth_accounting(
        orders.select(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate").alias("ts"),
        )
    )


def q_moran_geary(spark, sf_dir):
    """Moran's I + Geary's C of part revenue over the co-purchase
    graph (graph.moran_geary) — integer-exact attribute
    autocorrelation, no pair materialization."""
    t = load_tables(spark, sf_dir)
    vals = (
        t["lineitem"]
        .groupBy(F.col("l_partkey").alias("node"))
        .agg(
            F.sum(
                F.expr(
                    "CAST(round(l_extendedprice * (1 - l_discount)"
                    " * 10000) AS BIGINT)"
                )
            ).alias("x")
        )
    )
    return G.moran_geary(G.copurchase_edges(t["lineitem"]), vals)


# ------------------------------------------------- round-9 additions


def q_betweenness(spark, sf_dir):
    """Sampled bounded-hop Brandes betweenness over the part
    co-purchase graph (graph.betweenness_sampled): exact integer path
    counts, nano-quantized dependency folds, top-20 brokers."""
    from pubsub_mapreduce_spark.operators.graph import (
        betweenness_sampled,
        copurchase_edges,
    )

    edges = copurchase_edges(
        load_tables(spark, sf_dir)["lineitem"], min_w=2
    )
    return betweenness_sampled(edges)


def q_eccentricity(spark, sf_dir):
    """Sampled BFS eccentricity + diameter lower bound of the part
    co-purchase graph (graph.eccentricity_sample) — integer hop
    counts, md5-chosen sources, recursive-CTE oracle."""
    from pubsub_mapreduce_spark.operators.graph import (
        copurchase_edges,
        eccentricity_sample,
    )

    edges = copurchase_edges(
        load_tables(spark, sf_dir)["lineitem"], min_w=2
    )
    return eccentricity_sample(edges)


# ---------------------------------------------------------------- contract


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return _QUERIES["q5_revenue_by_nation"](spark, "/root/testdata/sf0.001")


# The correctness gate reads the FIRST 50 queries() keys.
# R9_QUEUE (registered names that owe the gate rows from an earlier
# window) is empty, so the window head is R9_NEW: this round's
# registrations, in registration order. Names past slot 50 would derive
# into R10_QUEUE and owe the next window. Pinned by
# tests/test_round2_tail.py.
R9_QUEUE: list[str] = []

R9_NEW: list[str] = [
    "jarque_bera", "turning_point", "bartels_rank",
    "cusum_squares", "foster_stuart", "dixon_q",
    "mtld", "lttb_downsample",
    "hodges_lehmann", "cucconi", "gamma_somers",
    "barnard_exact", "betweenness",
    "quade_test", "lepage", "eccentricity",
    "welch_anova", "yuen_t", "seasonal_kendall",
    "partial_corr", "by_fdr",
]

R10_QUEUE = R9_NEW[50 - len(R9_QUEUE):]


# ORDERING IS CONTRACT: the correctness gate covers the FIRST 50 entries
# in dict order. R9_NEW heads the table, and every earlier round's
# registrations follow in registration order, the round-1 entries
# already checked green last.
_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # --- round-9 registrations (R9_NEW): gate slots 1-21
    "jarque_bera": _op(RB.jarque_bera, "orders"),
    "turning_point": _op(RB.turning_point_test, "orders"),
    "bartels_rank": _op(RB.bartels_rank, "orders"),
    "cusum_squares": _op(RB.cusum_squares, "orders"),
    "foster_stuart": _op(RB.foster_stuart, "orders"),
    "dixon_q": _op(RB.dixon_q, "orders"),
    "mtld": _op(TX.mtld, "documents"),
    "lttb_downsample": _op(RB.lttb_downsample, "orders"),
    "hodges_lehmann": _op(RB.hodges_lehmann_dow, "orders"),
    "cucconi": _op(RB.cucconi_test, "orders"),
    "gamma_somers": _op(RB.gamma_somers, "lineitem"),
    "barnard_exact": _op(RB.barnard_exact),
    "betweenness": q_betweenness,
    "quade_test": _op(RB.quade_test, "orders"),
    "lepage": _op(RB.lepage_test, "orders"),
    "eccentricity": q_eccentricity,
    "welch_anova": _op(RB.welch_anova, "orders"),
    "yuen_t": _op(RB.yuen_t, "orders"),
    "seasonal_kendall": _op(RB.seasonal_kendall, "orders"),
    "partial_corr": _op(RB.partial_corr, "lineitem"),
    "by_fdr": _op(RB.by_fdr),
    # --- round-2 continuation
    "dedup_minhash_incremental": q_dedup_minhash_incremental,
    "event_outliers": _op(RB.value_outliers, "events", k=3),
    "mad_outliers": _op(RB.mad_outliers, "events", k=5),
    "winsorized_values": _op(RB.winsorized_stats, "events", p=0.05),
    "association_rules": _op(R.association_rules),
    "rare_tokens": _op(TX.rare_token_profile, "documents", min_df=100),
    "user_cusum": _op(RB.user_cusum, "events"),
    "user_twap": _op(RB.user_twap, "events"),
    "text_bm25": _op(TX.bm25_rank, "documents"),
    "bigram_collocations": _op(TX.bigram_collocations, "documents", min_count=5),
    "vocab_coverage": _op(TX.vocab_coverage, "documents"),
    "rrf_hybrid": _op(TX.rrf_hybrid, "documents"),
    "multimodal_dup_consensus": _op(multimodal.dup_consensus, "documents"),
    "trend_theil_sen": _op(RB.trend_theil_sen, "events"),
    "budget_allocation": _op(SM.budget_allocation, "documents", budget=10000),
    "part_communities": q_part_communities,
    "ldiv_customers": q_ldiv_customers,
    "holt_forecast": _op(RB.holt_forecast, "events"),
    "attribution_credit": _op(R.attribution_credit, "events"),
    "dedup_containment": _op(dedup.containment_pairs, "documents", n=3, threshold=0.8),
    "user_diversity": _op(R.user_type_diversity, "events"),
    "emb_label_drift": _op(S.label_centroid_drift, "embeddings"),
    "part_kcore": q_part_kcore,
    "dedup_tfcosine": _op(dedup.tf_cosine_pairs, "documents", threshold=0.8),
    "type_correlation": _op(RB.type_correlation, "events"),
    "bpe_merges": _op(TX.bpe_merge_candidates, "documents"),
    "multimodal_audio_pairs": q_multimodal_audio_pairs,
    "fk_orphans": _op(R.fk_orphan_report),
    "user_cusum_target": _op(RB.user_cusum_target, "events"),
    "sim_mmr": _op(S.mmr_diversify, "embeddings"),
    "pps_orders": q_pps_orders,
    "weighted_median_price": q_weighted_median_price,
    "markov_accuracy": _op(R.markov_accuracy),
    "emb_kmeans": _op(S.kmeans_int8, "embeddings"),
    "emb_coreset": _op(S.kcenter_coreset, "embeddings"),
    "trend_report": _op(RB.trend_report, "events"),
    "pit_features": _op(R.pit_features, "events"),
    "neg_samples": q_neg_samples,
    "emb_triplets": _op(S.triplet_mining, "embeddings"),
    "label_noise": _op(S.label_noise_scan, "embeddings"),
    "split_leakproof": _op(dedup.leakproof_split, "documents"),
    "corpus_card": _op(TX.corpus_card, "documents"),
    "fd_discovery": _op(
        R.fd_discovery,
        "lineitem",
        cols=["l_returnflag", "l_linestatus", "l_quantity", "l_tax"],
    ),
    "ab_wilson": _op(R.ab_wilson_intervals, "events"),
    "ab_health": _op(R.ab_health, "events"),
    "acf_daily": _op(RB.daily_autocorr, "events"),
    "key_skew_report": q_key_skew_report,
    # --- round-1 registrations the round-1 gate never reached
    # dedup family
    "dedup_exact": _op(dedup.exact_dedup, "documents"),
    "dedup_incremental": q_dedup_incremental,
    "dedup_ngram_jaccard": _op(
        dedup.ngram_jaccard_pairs, "documents", n=3, threshold=0.5
    ),
    "dedup_minhash_lsh": _op(dedup.minhash_lsh_pairs, "documents", n=3, threshold=0.5),
    "dedup_simhash": _op(dedup.simhash, "documents"),
    "dedup_fingerprint": q_dedup_fingerprint,
    "simhash_near_pairs": _op(dedup.simhash_near_pairs, "documents", max_hamming=3),
    "dedup_embedding": _op(dedup.embedding_dedup, "embeddings", threshold=0.45),
    "dedup_clusters": _op(dedup.dedup_clusters, "embeddings", threshold=0.45),
    "dedup_canonical": _op(dedup.dedup_canonical, "embeddings", threshold=0.45),
    # similarity / ANN
    "sim_cosine_topk": _op(S.cosine_topk, "embeddings", k=5, every=50),
    "sim_cosine_topk_matmul": _op(S.cosine_topk_matmul, "embeddings", k=5, every=50),
    "sim_near_pairs": _op(S.lsh_near_pairs, "embeddings", threshold=0.45),
    "user_similarity": _op(
        S.behavioral_similarity,
        "events",
        k=5,
        centroid_every=25,
        n_max_centroids=256,
        nprobe=2,
    ),
    "user_similarity_sparse": _op(
        S.behavioral_similarity_sparse,
        "events",
        k=5,
        event_type="purchase",
        max_day_width=1000,
    ),
    "sim_ann_lsh": _op(S.ann_lsh_topk, "embeddings", k=5, every=50),
    "knn_graph": _op(
        S.ivf_knn_graph,
        "embeddings",
        k=3,
        centroid_every=100,
        n_max_centroids=512,
        nprobe=2,
    ),
    "sim_ann_ivf": _op(S.ann_ivf_topk, "embeddings", k=5, every=50),
    "emb_norm_stats": _op(S.embedding_norm_stats, "embeddings"),
    "emb_quantize": _op(S.quantize_embeddings, "embeddings"),
    "emb_pq_codes": q_emb_pq_codes,
    "sim_ann_pq": _op(S.ann_pq_topk, "embeddings"),
    "sim_ann_ivfpq": _op(S.ann_ivfpq_topk, "embeddings"),
    "sim_ann_filtered": q_sim_ann_filtered,
    "sim_ann_multiprobe": _op(S.ann_lsh_multiprobe_topk, "embeddings"),
    "ann_eval": _op(S.ann_recall_report, "embeddings"),
    "mixture_weights": _op(SM.mixture_weights, "documents"),
    "vocab": _op(TX.build_vocab, "documents"),
    "token_ids": _op(TX.encode_token_ids, "documents"),
    "dedup_eval": _op(dedup.dedup_recall_report, "documents"),
    "seasonal_outliers": _op(RB.seasonal_outliers, "events"),
    "profile_drift": q_profile_drift,
    "entity_match": _op(R.entity_match_pairs, "customer"),
    "snapshot_diff": q_snapshot_diff,
    "erasure_report": q_erasure_report,
    "skyline_orders": q_skyline_orders,
    "histogram_drift": q_histogram_drift,
    "user_ema": _op(RB.user_value_ema, "events"),
    "dedup_rate": _op(dedup.dedup_rate_by_source, "documents"),
    "oov_rate": q_oov_rate,
    "len_histogram_by_lang": _op(
        SK.grouped_histogram, "documents", col="n_chars", group="lang", n_bins=10
    ),
    "session_paths3": q_session_paths3,
    "ab_test": _op(R.ab_test_report, "events"),
    "event_triangles": q_event_triangles,
    "conversion_latency": q_conversion_latency,
    "benford_digits": q_benford_digits,
    "users_to_date": q_users_to_date,
    "rfm_segments": q_rfm_segments,
    "brand_cooccurrence": q_brand_cooccurrence,
    "open_orders_by_day": q_open_orders_by_day,
    "supplier_hhi": q_supplier_hhi,
    "spend_gini": q_spend_gini,
    "abc_parts": q_abc_parts,
    "double_charges": q_double_charges,
    "cycle_time_by_priority": q_cycle_time_by_priority,
    "pii_audit": _op(TX.pii_audit, "documents"),
    "pii_scrub": _op(TX.pii_scrub, "documents"),
    # text analysis / curation
    "text_clean": _op(TX.clean_text, "documents"),
    "text_doc_stats": _op(TX.doc_stats, "documents"),
    "text_top_tokens": _op(TX.top_tokens, "documents", n=20),
    "text_tfidf": _op(TX.tfidf_top_terms, "documents", top_n=3),
    "text_quality_by_source": _op(TX.quality_by_source, "documents"),
    "lang_confusion": _op(TX.lang_confusion, "documents"),
    "curation_pipeline": _op(TX.curation_pipeline, "documents"),
    "text_char_bigram": _op(TX.char_bigram_score, "documents"),
    # sampling / sketches
    "sample_docs": q_sample_docs,
    "stratified_docs": q_stratified_docs,
    "capped_docs": q_capped_docs,
    "split_counts": q_split_counts,
    "heavy_hitter_users": _op(SK.heavy_hitters, "events", key="user_id", support=0.008),
    "approx_distinct_users": _op(SK.approx_distinct_check, "events"),
    "hll_user_rollup": _op(SK.hll_rollup_check, "events"),
    # range joins / multimodal / sources
    "range_join_signup": _op(RJ.post_signup_activity, hours=24),
    "range_join_launch": _op(RJ.launch_window_events, days=3),
    "binary_meta": _op(multimodal.binary_meta, "documents"),
    "multimodal_decode": q_multimodal_decode,
    "multimodal_resize": q_multimodal_resize,
    "multimodal_frame_sample": q_multimodal_frame_sample,
    "multimodal_phash_pairs": q_multimodal_phash_pairs,
    "multimodal_video_pairs": q_multimodal_video_pairs,
    "source_knob_sine": q_source_knob_sine,
    # TPC-H tail + reshaping
    "q15_top_supplier": _op(R.q15_top_supplier),
    "q16_supplier_variety": _op(R.q16_supplier_variety),
    "q17_small_qty_revenue": _op(R.q17_small_qty_revenue),
    "q19_disjunctive_revenue": _op(R.q19_disjunctive_revenue),
    "q21_waiting_suppliers": _op(R.q21_waiting_suppliers),
    "q20_dominant_suppliers": _op(R.q20_dominant_suppliers),
    "unpivot_metrics": _op(R.unpivot_event_metrics),
    # --- round-2 additions
    "text_repetition": _op(TX.repetition_stats, "documents"),
    "decontaminate": q_decontaminate,
    "quality_gate": _op(TX.quality_quantile_gate, "documents"),
    "pack_shards": q_pack_shards,
    "emb_covariance": _op(S.embedding_covariance, "embeddings"),
    "cross_doc_repetition": _op(TX.cross_doc_gram_stats, "documents", n=4),
    "multimodal_audio_energy": q_multimodal_audio_energy,
    "funnel_conversion": _op(R.funnel_conversion),
    "gap_fill_daily": _op(R.gap_fill_daily),
    "merge_upsert": q_merge_upsert,
    "zorder_stats": q_zorder_stats,
    "scd2_history": _op(R.scd2_history),
    "dq_orders": q_dq_orders,
    "doc_chunks": _op(TX.chunk_documents, "documents", chunk_tokens=32, stride=24),
    "oversample_mix": q_oversample_mix,
    "profile_orders": _op(
        R.profile_table,
        "orders",
        num_cols=["o_orderkey", "o_custkey", "o_totalprice"],
        str_cols=["o_orderstatus", "o_orderpriority"],
    ),
    "event_cooccurrence": _op(R.event_cooccurrence),
    "session_transitions": _op(R.session_transitions),
    "emb_pca": _op(S.pca_spectrum_check, "embeddings", k=8),
    "value_histogram": _op(SK.fixed_width_histogram, "events", col="value"),
    "substring_spans": _op(dedup.duplicate_substring_spans, "documents"),
    "decontaminate_bloom": q_decontaminate_bloom,
    "cms_user_counts": _op(SK.cms_estimates, "events", key="user_id"),
    "cms_join_size": q_cms_join_size,
    "value_quantiles": _op(SK.histogram_quantiles, "events", col="value"),
    "event_pagerank": q_event_pagerank,
    "agg_upsert": q_agg_upsert,
    "kanon_customers": q_kanon_customers,
    "orders_checksum": _op(
        table_checksum,
        "orders",
        cols=["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"],
    ),
    "lateness_profile": _op(P.lateness_profile, "events"),
    # --- round-3 additions
    "dsir_weights": _op(SM.dsir_importance, "documents"),
    "tokenizer_fertility": _op(TX.tokenizer_fertility, "documents"),
    "image_gate": _op(multimodal.image_gate, "documents"),
    "value_p50_check": _op(SK.approx_quantile_check, "events"),
    "cross_source_dups": _op(dedup.cross_source_dups, "documents"),
    "dedup_keeper_quality": _op(dedup.quality_keeper, "documents"),
    "contamination_report": q_contamination_report,
    "dedup_scrub_spans": _op(dedup.scrub_duplicate_spans, "documents"),
    "asof_next_click": q_asof_next_click,
    "overlapping_orders": q_overlapping_orders,
    "hll_overlap_users": _op(SK.hll_overlap_check, "events"),
    "winnow_pairs": _op(dedup.winnow_pairs, "documents"),
    "forecast_backtest": _op(RB.forecast_backtest, "events"),
    "survival_km": _op(RB.survival_km, "events"),
    "part_reach_hops": q_part_reach_hops,
    "retrieval_label_eval": _op(S.retrieval_label_eval, "embeddings", k=10, every=50),
    "dedup_edit_verify": _op(dedup.edit_verify_pairs, "documents"),
    "ks_source_drift": _op(RB.ks_source_drift, "documents"),
    "part_component_census": q_part_component_census,
    "pettitt_changepoint": _op(RB.pettitt_changepoint, "events"),
    "isotonic_calibration": _op(RB.isotonic_calibration, "events"),
    "logrank_churn": _op(RB.logrank_test, "events"),
    "mwu_source_shift": _op(RB.mwu_source_shift, "documents"),
    "distinctive_tokens": _op(TX.distinctive_tokens, "documents"),
    "aqp_revenue_check": _op(SM.aqp_sum_check, "lineitem"),
    "rolling_wau": _op(R.rolling_wau),
    "part_recommendations": q_part_recommendations,
    "price_elasticity": q_price_elasticity,
    "type_burstiness": _op(RB.type_burstiness, "events"),
    "dow_uniformity": _op(RB.dow_uniformity, "events"),
    # --- round-4 additions
    "kendall_daily": _op(RB.kendall_daily, "orders"),
    "spearman_types": _op(RB.spearman_types, "events"),
    "cramers_v": _op(RB.cramers_v, "orders"),
    "runs_test_daily": _op(RB.runs_test_daily, "events"),
    "asof_prev_click": q_asof_prev_click,
    "semdedup_prune": _op(S.semdedup_prune, "embeddings"),
    "lm_bigram_score": _op(TX.lm_bigram_score, "documents"),
    "cochran_armitage": _op(RB.cochran_armitage, "events"),
    "wasserstein_drift": _op(RB.wasserstein_source_drift, "documents"),
    "frame_scene_cuts": q_frame_scene_cuts,
    "theils_u": _op(RB.theils_u, "orders"),
    # --- round-5 additions
    "gopher_rules": _op(TX.gopher_rules, "documents"),
    "zipf_slope": _op(TX.zipf_slope, "documents"),
    "kruskal_wallis": _op(RB.kruskal_wallis, "documents"),
    "mantel_haenszel": _op(RB.mantel_haenszel, "events"),
    "theil_sen": _op(RB.theil_sen_daily, "orders"),
    "hard_negatives": _op(S.hard_negatives, "embeddings"),
    "cvm_drift": _op(RB.cvm_source_drift, "documents"),
    "jonckheere": _op(RB.jonckheere_terpstra, "orders"),
    "kappa_lang": _op(TX.kappa_lang_agreement, "documents"),
    "psi_drift": q_psi_drift,
    "hill_tail": _op(RB.hill_tail_index, "orders"),
    "quantile_normalize": _op(RB.quantile_normalize, "documents"),
    "t_closeness": _op(R.t_closeness),
    "matryoshka_eval": _op(S.matryoshka_eval, "embeddings"),
    "purchase_streaks": _op(R.streaks_batch, "events"),
    # --- round-6 additions
    "q7_volume_shipping": _op(R.q7_volume_shipping),
    "q10_returned_items": _op(R.q10_returned_items),
    "q18_big_orders": _op(R.q18_big_orders),
    "friedman_test": _op(RB.friedman_test, "events"),
    "cliffs_delta": _op(RB.cliffs_delta, "documents"),
    "calibration_bins": _op(RB.calibration_bins, "events"),
    "ndcg_eval": _op(S.ndcg_eval, "embeddings"),
    "js_divergence": q_js_divergence,
    "source_entropy": _op(TX.source_entropy, "documents"),
    "rolling_spend": _op(R.rolling_spend_batch, "events"),
    "favorite_event_type": _op(R.favorite_type_batch, "events"),
    "weighted_sample": _op(SM.weighted_sample, "documents", k=50),
    "part_clustering": q_part_clustering,
    "kanon_band_search": _op(R.kanon_band_search),
    "ann_nprobe_sweep": _op(S.ann_nprobe_sweep, "embeddings"),
    "mcnemar_test": _op(RB.mcnemar_purchase_shift, "events"),
    "cuped_adjustment": _op(RB.cuped_adjustment, "events"),
    "levene_variance": _op(RB.brown_forsythe, "documents"),
    "ad_twosample": _op(RB.ad_source_drift, "documents"),
    "sprt_ab": _op(RB.sprt_conversion, "events"),
    "page_hinkley": _op(RB.page_hinkley_drift, "events"),
    "chao1_vocab": _op(TX.chao1_vocab, "documents"),
    "heaps_law": _op(TX.heaps_law, "documents"),
    "ngram_novelty": _op(dedup.ngram_novelty, "documents"),
    "perplexity_buckets": _op(TX.perplexity_buckets, "documents"),
    # --- late round-6 additions
    "mann_kendall": _op(RB.mann_kendall, "orders"),
    "cochrans_q": _op(RB.cochrans_q, "events"),
    "durbin_watson": _op(RB.durbin_watson, "orders"),
    "dunn_posthoc": _op(RB.dunn_posthoc, "documents"),
    "markov_entropy": _op(R.markov_entropy_rate),
    "adamic_adar": q_adamic_adar,
    "jl_distortion": _op(S.jl_distortion, "embeddings"),
    "ccf_daily": _op(RB.ccf_daily, "events"),
    "stl_lite": _op(RB.stl_lite, "orders"),
    "silhouette_eval": _op(S.silhouette_eval, "embeddings"),
    "disparate_impact": _op(RB.disparate_impact),
    "brier_decomposition": _op(RB.brier_decomposition, "events"),
    "lift_curve": _op(RB.lift_curve, "events"),
    "ljung_box": _op(RB.ljung_box, "orders"),
    "conformal_coverage": _op(RB.conformal_coverage, "events"),
    "weighted_quantiles": _op(RB.weighted_quantiles, "lineitem"),
    "ann_bits_sweep": _op(S.ann_bits_sweep, "embeddings"),
    "cluster_balance": _op(S.cluster_balance, "embeddings"),
    "rake_keyphrases": _op(TX.rake_keyphrases, "documents"),
    "theil_index": _op(RB.theil_index),
    "ann_tradeoff": _op(S.ann_tradeoff_table, "embeddings"),
    # --- round-7 additions
    "bartlett_test": _op(RB.bartlett_test, "orders"),
    "grubbs_outlier": _op(RB.grubbs_outlier, "events"),
    "anova_oneway": _op(RB.anova_oneway, "orders"),
    "mutual_information": _op(RB.mutual_information, "events"),
    "g_test": _op(RB.g_test, "events"),
    "ewma_control": _op(RB.ewma_control, "events"),
    "hurst_rs": _op(RB.hurst_rs, "orders"),
    "lorenz_deciles": _op(RB.lorenz_deciles),
    "atkinson_index": _op(RB.atkinson_index),
    "good_turing": _op(TX.good_turing, "documents"),
    "kn_continuation": _op(TX.kn_continuation, "documents"),
    "simpson_diversity": _op(TX.simpson_diversity, "documents"),
    "readability_scores": _op(TX.readability_scores, "documents"),
    "script_profile": _op(TX.script_profile, "documents"),
    "ttr_windows": _op(TX.ttr_windows, "documents"),
    "nelson_aalen": _op(RB.nelson_aalen, "events"),
    "gehan_wilcoxon": _op(RB.gehan_wilcoxon, "events"),
    "auc_scores": _op(RB.auc_scores, "embeddings"),
    "pr_auc": _op(RB.pr_auc, "embeddings"),
    "equalized_odds": _op(RB.equalized_odds),
    "lang_id_f1": _op(TX.lang_id_f1, "documents"),
    "neighbor_jaccard": q_neighbor_jaccard,
    "degree_assortativity": q_degree_assortativity,
    "hits_scores": q_hits_scores,
    "emb_outliers": _op(S.emb_outliers, "embeddings"),
    "ann_k_sweep": _op(S.ann_k_sweep, "embeddings"),
    "ts_downsample_minmax": _op(RB.ts_downsample_minmax, "orders"),
    "croston_forecast": _op(RB.croston_forecast, "events"),
    "order_reconciliation": _op(R.order_reconciliation),
    # --- late round-7 additions
    "tukey_hsd": _op(RB.tukey_hsd, "orders"),
    "chow_test": _op(RB.chow_test, "orders"),
    "granger_lite": _op(RB.granger_lite, "events"),
    "fisher_exact": _op(RB.fisher_exact),
    "event_ppr": q_event_ppr,
    # --- round-8 additions
    "fligner_killeen": _op(RB.fligner_killeen, "orders"),
    "theta_forecast": _op(RB.theta_forecast, "orders"),
    "yule_k_vocab": _op(TX.yule_k_vocab, "documents"),
    "mood_median": _op(RB.mood_median, "orders"),
    "adf_lite": _op(RB.adf_lite, "orders"),
    "kpss_lite": _op(RB.kpss_lite, "orders"),
    "variance_ratio": _op(RB.variance_ratio, "orders"),
    "sign_test_drift": _op(RB.sign_test_drift, "orders"),
    "clustering_capped": q_clustering_capped,
    "neyman_allocation": _op(SM.neyman_allocation, "orders"),
    "gumbel_maxima": _op(RB.gumbel_maxima, "orders"),
    "uniqueness_profile": _op(R.uniqueness_profile, "orders"),
    "cohens_d_family": _op(RB.cohens_d_family, "orders"),
    "odds_ratio_ci": _op(RB.odds_ratio_ci),
    "emb_isotropy": _op(S.emb_isotropy, "embeddings"),
    "jackknife_mean": _op(RB.jackknife_mean, "orders"),
    "permutation_shift": _op(RB.permutation_shift, "orders"),
    "growth_accounting": q_growth_accounting,
    "cond_entropy_profile": _op(TX.cond_entropy_profile, "documents"),
    "mcc_matthews": _op(RB.mcc_matthews, "embeddings"),
    "wilcoxon_signed_rank": _op(RB.wilcoxon_signed_rank, "orders"),
    "ansari_bradley": _op(RB.ansari_bradley, "orders"),
    "kendalls_w": _op(RB.kendalls_w, "events"),
    "cronbach_alpha": _op(RB.cronbach_alpha, "events"),
    "moran_geary": q_moran_geary,
    "anova_effect_sizes": _op(RB.anova_effect_sizes, "orders"),
    "bh_fdr": _op(RB.bh_fdr),
    "page_trend_l": _op(RB.page_trend_l, "orders"),
    "cox_mantel_hr": _op(RB.cox_mantel_hr, "events"),
    "brunner_munzel": _op(RB.brunner_munzel, "orders"),
    "gesd_outliers": _op(RB.gesd_outliers, "orders"),
    "pacf_daily": _op(RB.pacf_daily, "orders"),
    "periodogram_peaks": _op(RB.periodogram_peaks, "orders"),
    # --- round-1, checked green (CORRECTNESS_r01.json)
    # reference pipeline T1-T8 + codecs (batch replay over events)
    "t1_latest_per_key": q_t1_latest_per_key,
    "t2_snapshot_scale": q_t2_snapshot_scale,
    "t3_fan_out": q_t3_fan_out,
    "t4_windowed_count": _op(P.windowed_count, "events", window="1 hour"),
    "t5_merge_partials": q_t5_merge_partials,
    "sliding_counts": q_sliding_counts,
    "t6_rate_per_window": _op(
        P.rate_per_window, "events", window="1 day", window_seconds=86400
    ),
    "t7_running_total": q_t7_running_total,
    "t8_emit_on_change": q_t8_emit_on_change,
    "codec_roundtrip": q_codec_roundtrip,
    # batch relational surface
    "q1_pricing_summary": _op(R.q1_pricing_summary),
    "q5_revenue_by_nation": _op(R.revenue_by_nation),
    "q3_shipping_priority": _op(R.q3_shipping_priority),
    "part_supplier_stats": _op(R.part_supplier_stats),
    "semi_open_orders": _op(R.customers_with_open_orders),
    "anti_no_orders": _op(R.customers_without_orders),
    "outer_nation_counts": _op(R.nation_customer_counts),
    "distinct_per_status": _op(R.distinct_customers_per_status),
    "rollup_acctbal": _op(R.acctbal_rollup),
    "window_top_orders": _op(R.top_orders_per_customer),
    "setops_users": _op(R.purchase_and_error_users),
    "orders_by_month": _op(R.orders_by_month),
    "top_spenders": _op(R.global_top_spenders),
    "cube_orders": _op(R.orders_cube),
    "price_percentiles": _op(R.price_percentiles),
    "asof_latest_order": _op(R.events_asof_latest_order),
    "session_windows": _op(R.user_sessions, gap="30 minutes"),
    "moving_avg": _op(R.customer_moving_avg, days=30),
    "above_avg_orders": _op(R.orders_above_customer_avg),
    "promo_revenue": _op(R.promo_revenue_share),
    "ship_latency": _op(R.ship_latency_by_priority),
    "spend_quartiles": _op(R.customer_spend_quartiles),
    "skew_salted_agg": q_skew_salted_agg,
    "grouping_sets_orders": _op(R.orders_grouping_sets),
    "pivot_status_by_year": _op(R.status_pivot_by_year),
    "cohort_retention": _op(R.cohort_retention),
    "cheapest_supplier": _op(R.cheapest_supplier),
    "nation_trade_volume": _op(R.nation_trade_volume),
    "large_orders": _op(R.large_orders),
    "json_props_stats": _op(P.props_stats, "events"),
    "custdist": _op(R.customer_order_distribution),
    "idle_rich_customers": _op(R.idle_rich_customers),
    "order_gaps": _op(R.order_gaps),
    "important_parts": _op(R.important_parts),
    "q6_forecast_revenue": _op(R.q6_forecast_revenue),
    "returned_revenue": _op(R.returned_revenue_customers),
    "q4_priority_exists": _op(R.q4_priority_exists),
    "q8_market_share": _op(R.q8_market_share),
    "q9_product_profit": _op(R.q9_product_profit),
    "q12_priority_class": _op(R.q12_priority_class_counts),
}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(_QUERIES)


def _minhash_lsh_oracle_sql(threshold: float = 0.5) -> str:
    """DuckDB mirror of ``dedup.minhash_lsh_pairs``:
    same shingles, same md5-derived base hash, the same 64
    universal-hash permutation mins (coefficients shared via
    ``dedup._perm_coeffs``), banding as a join on the raw 4-min
    signature slices (Spark joins on xxhash64 of the slice — equality
    of slice iff equality of bucket, up to a negligible 64-bit
    collision), the same 10k bucket cap, and the same exact-Jaccard
    verify over the full distinct shingle sets."""
    p = dedup.MERSENNE_P
    coeffs = dedup._perm_coeffs(dedup.N_PERM, seed=42)
    mins = ",\n                     ".join(
        f"min(({a} * hm + {b}) % {p})" for a, b in coeffs
    )
    rows_per_band = dedup.N_PERM // dedup.LSH_BANDS
    return f"""
            WITH {_SHINGLES_CTE},
            hm AS (
              SELECT doc_id,
                     (('0x' || substr(md5(shingle), 1, 8))::BIGINT % {p}) AS hm
              FROM sh),
            sig AS (
              SELECT doc_id,
                     [{mins}] AS s
              FROM hm GROUP BY doc_id),
            banded AS (
              SELECT doc_id, b AS band,
                     s[b*{rows_per_band}+1 : b*{rows_per_band}+{rows_per_band}]
                         AS key
              FROM sig, (SELECT unnest(range({dedup.LSH_BANDS})) AS b) _),
            capped AS (
              SELECT doc_id, band, key FROM (
                SELECT *, COUNT(*) OVER (PARTITION BY band, key) AS bsz
                FROM banded)
              WHERE bsz <= 10000),
            cand AS (
              SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
              FROM capped x JOIN capped y
                ON x.band = y.band AND x.key = y.key
                   AND x.doc_id < y.doc_id),
            sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
            inter AS (
              SELECT c.a, c.b, count(*) AS common
              FROM cand c
              JOIN sh sa ON sa.doc_id = c.a
              JOIN sh sb ON sb.doc_id = c.b AND sa.shingle = sb.shingle
              GROUP BY 1, 2)
            SELECT a, b, jaccard FROM (
              SELECT a, b,
                     floor(common * 1.0 / (sa.sz + sb.sz - common) * 1e6 + 0.5)
                         / 1e6 AS jaccard
              FROM inter
              JOIN sizes sa ON sa.doc_id = a
              JOIN sizes sb ON sb.doc_id = b)
            WHERE jaccard >= {threshold}
    """


def _minhash_incremental_oracle_sql(threshold: float = 0.5) -> str:
    """DuckDB mirror of ``dedup.minhash_lsh_incremental``
    over the doc_id%10 batch split: signatures for ALL docs (a doc's
    signature depends only on its own shingles, so computing per-split
    or globally is identical), banding on raw signature slices, the
    touched-bucket restriction (a semi-join here; Spark keeps buckets
    whose member list holds a new doc), the 10k cap over each kept
    bucket, the (corpus OR earlier-in-batch) pair rule, and the exact-Jaccard
    verify. The Spark form also builds every doc's shingle
    set, as the global ``sh`` here does."""
    p = dedup.MERSENNE_P
    coeffs = dedup._perm_coeffs(dedup.N_PERM, seed=42)
    mins = ",\n                     ".join(
        f"min(({a} * hm + {b}) % {p})" for a, b in coeffs
    )
    rows_per_band = dedup.N_PERM // dedup.LSH_BANDS
    return f"""
            WITH {_SHINGLES_CTE},
            hm AS (
              SELECT doc_id,
                     (('0x' || substr(md5(shingle), 1, 8))::BIGINT % {p}) AS hm
              FROM sh),
            sig AS (
              SELECT doc_id,
                     [{mins}] AS s
              FROM hm GROUP BY doc_id),
            banded AS (
              SELECT doc_id, b AS band,
                     s[b*{rows_per_band}+1 : b*{rows_per_band}+{rows_per_band}]
                         AS key,
                     (doc_id % 10 >= 8) AS is_new
              FROM sig, (SELECT unnest(range({dedup.LSH_BANDS})) AS b) _),
            bn AS (SELECT * FROM banded WHERE is_new),
            bo AS (
              SELECT bd.* FROM banded bd
              WHERE NOT bd.is_new
                AND EXISTS (SELECT 1 FROM bn
                            WHERE bn.band = bd.band AND bn.key = bd.key)),
            u AS (SELECT * FROM bo UNION ALL SELECT * FROM bn),
            capped AS (
              SELECT doc_id, band, key, is_new FROM (
                SELECT *, COUNT(*) OVER (PARTITION BY band, key) AS bsz
                FROM u)
              WHERE bsz <= 10000),
            cand AS (
              SELECT DISTINCT x.doc_id AS dup_of, y.doc_id AS new_id
              FROM capped x JOIN capped y
                ON x.band = y.band AND x.key = y.key
              WHERE y.is_new
                AND (NOT x.is_new OR x.doc_id < y.doc_id)
                AND x.doc_id <> y.doc_id),
            sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
            inter AS (
              SELECT c.new_id, c.dup_of, count(*) AS common
              FROM cand c
              JOIN sh sa ON sa.doc_id = c.dup_of
              JOIN sh sb ON sb.doc_id = c.new_id AND sa.shingle = sb.shingle
              GROUP BY 1, 2)
            SELECT new_id, dup_of, jaccard FROM (
              SELECT new_id, dup_of,
                     floor(common * 1.0 / (sn.sz + so.sz - common) * 1e6 + 0.5)
                         / 1e6 AS jaccard
              FROM inter
              JOIN sizes sn ON sn.doc_id = new_id
              JOIN sizes so ON so.doc_id = dup_of)
            WHERE jaccard >= {threshold}
    """


# Shared SQL fragments for the oracle twins.
_SHINGLES_CTE = r"""
toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS tk
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id, array_to_string(tk[i+1:i+3], ' ') AS shingle
    FROM toks, LATERAL (SELECT unnest(range(greatest(len(tk)-3, 0)+1)) AS i) _
  ) WHERE shingle <> ''
)
"""

_TEXT_FEATURES_CTE = r"""
feat AS (
  SELECT
    doc_id,
    list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS tk,
    length(regexp_replace(text, '\s', '', 'g')) AS nonspace,
    length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g')) AS alnum
  FROM documents
),
feat2 AS (
  SELECT
    doc_id,
    CAST(len(tk) AS INTEGER) AS tok_ws,
    CASE WHEN len(tk) > 0
         THEN len(list_filter(tk, t -> lower(t) IN
              ('the','a','of','and','to','in','is','it','for','on'))) * 1.0 / len(tk)
         ELSE 0.0 END AS swr,
    CASE WHEN len(tk) > 0
         THEN list_aggregate(list_transform(tk, t -> length(t)), 'sum') * 1.0 / len(tk)
         ELSE 0.0 END AS atl,
    CASE WHEN nonspace > 0 THEN (nonspace - alnum) * 1.0 / nonspace ELSE 0.0 END AS pr,
    tk
  FROM feat
)
"""


def _zorder_stats_sql() -> str:
    from pubsub_mapreduce_spark.io import zorder_key_sql

    z = zorder_key_sql("o_custkey", "day")
    return f"""
        WITH d AS (
          SELECT o_custkey,
                 CAST(datediff('day', DATE '1992-01-01', o_orderdate) AS BIGINT)
                   AS day
          FROM orders)
        SELECT ({z} >> 18) AS zp,
               count(*) AS n_orders,
               min(o_custkey) AS min_cust, max(o_custkey) AS max_cust,
               min(day) AS min_day, max(day) AS max_day
        FROM d GROUP BY 1
    """


_ZORDER_STATS_SQL = _zorder_stats_sql()


def _event_pagerank_oracle_sql() -> str:
    """Unrolled integer PageRank over the session_transitions edge CTE;
    the final projection renames to the registered query's columns."""
    from pubsub_mapreduce_spark.operators.graph import duckdb_pagerank_sql

    edges = """
        WITH ev AS (
          SELECT user_id, event_id, event_type, epoch(ts) AS tt FROM events),
        g AS (
          SELECT *, CASE WHEN prev_tt IS NULL OR tt - prev_tt > 1800.0
                         THEN 1 ELSE 0 END AS is_new
          FROM (SELECT *, lag(tt) OVER (PARTITION BY user_id
                    ORDER BY tt, event_id) AS prev_tt FROM ev)),
        s AS (
          SELECT *, sum(is_new) OVER (PARTITION BY user_id
                    ORDER BY tt, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          FROM g),
        p AS (
          SELECT event_type, lead(event_type) OVER (
                   PARTITION BY user_id, sid
                   ORDER BY tt, event_id) AS next_type
          FROM s)
        SELECT event_type AS u, next_type AS v,
               CAST(count(*) AS BIGINT) AS w
        FROM p WHERE next_type IS NOT NULL
        GROUP BY 1, 2
    """
    inner = duckdb_pagerank_sql(f"SELECT * FROM ({edges})")
    return (
        f"SELECT node AS event_type, r AS rank_scaled FROM ({inner})"
    )


def _event_ppr_oracle_sql() -> str:
    """Unrolled integer personalized PageRank over the same
    session_transitions edge CTE as _event_pagerank_oracle_sql."""
    from pubsub_mapreduce_spark.operators.graph import duckdb_ppr_sql

    edges = """
        WITH ev AS (
          SELECT user_id, event_id, event_type, epoch(ts) AS tt FROM events),
        g AS (
          SELECT *, CASE WHEN prev_tt IS NULL OR tt - prev_tt > 1800.0
                         THEN 1 ELSE 0 END AS is_new
          FROM (SELECT *, lag(tt) OVER (PARTITION BY user_id
                    ORDER BY tt, event_id) AS prev_tt FROM ev)),
        s AS (
          SELECT *, sum(is_new) OVER (PARTITION BY user_id
                    ORDER BY tt, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          FROM g),
        p AS (
          SELECT event_type, lead(event_type) OVER (
                   PARTITION BY user_id, sid
                   ORDER BY tt, event_id) AS next_type
          FROM s)
        SELECT event_type AS u, next_type AS v,
               CAST(count(*) AS BIGINT) AS w
        FROM p WHERE next_type IS NOT NULL
        GROUP BY 1, 2
    """
    inner = duckdb_ppr_sql(f"SELECT * FROM ({edges})")
    return (
        f"SELECT node AS event_type, r AS rank_scaled FROM ({inner})"
    )


def _profile_sql(src: str, num_cols: list, str_cols: list) -> str:
    """Column-profile SQL over an arbitrary source expression — the
    builder behind the drift oracle (mirrors profile_table's output)."""
    parts = []
    for c in num_cols:
        parts.append(
            f"""SELECT '{c}' AS col,
                (SELECT count(*) FROM {src} WHERE {c} IS NULL) AS n_nulls,
                (SELECT count(DISTINCT {c}) FROM {src}) AS n_distinct,
                (SELECT CAST(min({c}) AS DOUBLE) FROM {src}) AS min_num,
                (SELECT CAST(max({c}) AS DOUBLE) FROM {src}) AS max_num,
                CAST(NULL AS VARCHAR) AS min_str,
                CAST(NULL AS VARCHAR) AS max_str"""
        )
    for c in str_cols:
        parts.append(
            f"""SELECT '{c}',
                (SELECT count(*) FROM {src} WHERE {c} IS NULL),
                (SELECT count(DISTINCT {c}) FROM {src}),
                CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
                (SELECT min({c}) FROM {src}),
                (SELECT max({c}) FROM {src})"""
        )
    union = " UNION ALL ".join(parts)
    return (
        f"SELECT *, (SELECT count(*) FROM {src}) AS n_rows FROM ({union})"
    )


def _profile_drift_oracle_sql() -> str:
    num = ["o_orderkey", "o_custkey", "o_totalprice"]
    st = ["o_orderstatus", "o_orderpriority"]
    old_src = "(SELECT * FROM orders WHERE o_orderkey % 10 < 9)"
    return f"""
        WITH po AS ({_profile_sql(old_src, num, st)}),
        pn AS ({_profile_sql("orders", num, st)})
        SELECT po.col,
               CAST(po.n_rows AS BIGINT) AS rows_old,
               CAST(pn.n_rows AS BIGINT) AS rows_new,
               CAST(pn.n_rows - po.n_rows AS BIGINT) AS d_rows,
               CAST(pn.n_nulls - po.n_nulls AS BIGINT) AS d_nulls,
               CAST(pn.n_distinct - po.n_distinct AS BIGINT) AS d_distinct,
               po.min_num AS min_old, pn.min_num AS min_new,
               po.max_num AS max_old, pn.max_num AS max_new,
               (pn.n_nulls <> po.n_nulls OR pn.n_distinct <> po.n_distinct
                OR COALESCE(pn.min_num <> po.min_num
                            OR pn.max_num <> po.max_num
                            OR pn.min_str <> po.min_str
                            OR pn.max_str <> po.max_str, FALSE)) AS drifted
        FROM po JOIN pn ON po.col = pn.col
    """


def _pii_audit_oracle_sql() -> str:
    """Rendered from textops.PII_PATTERNS so Spark and oracle can never
    drift on the pattern set or the column list."""
    cols = ",\n                   ".join(
        f"len(regexp_extract_all(text, '{pat}')) AS c_{name}"
        for name, pat in TX.PII_PATTERNS.items()
    )
    aggs = ",\n                   ".join(
        f"CAST(sum(c_{name}) AS BIGINT) AS n_{name},\n"
        f"                   count(CASE WHEN c_{name} > 0 THEN 1 END)"
        f" AS docs_{name}"
        for name in TX.PII_PATTERNS
    )
    return f"""
            WITH per AS (
              SELECT source,
                   {cols}
              FROM documents)
            SELECT source, count(*) AS n_docs,
                   {aggs}
            FROM per GROUP BY 1
    """


def _pii_scrub_oracle_sql() -> str:
    """Progressive scrub chain in the SAME class order as
    textops.pii_scrub — each count runs on the previous step's output."""
    ctes, prev = [], "text"
    names = list(TX.PII_PATTERNS)
    for i, name in enumerate(names):
        pat = TX.PII_PATTERNS[name]
        src = "documents" if i == 0 else f"s{i - 1}"
        ctes.append(
            f"""s{i} AS (
              SELECT doc_id,
                     len(regexp_extract_all({prev}, '{pat}')) AS n{i},
                     regexp_replace({prev}, '{pat}', '<{name.upper()}>', 'g')
                       AS t{i}{"".join(f", n{j}" for j in range(i))}
              FROM {src})"""
        )
        prev = f"t{i}"
    total = " + ".join(f"n{i}" for i in range(len(names)))
    last = len(names) - 1
    return (
        "WITH "
        + ",\n            ".join(ctes)
        + f"""
            SELECT doc_id, t{last} AS text_scrubbed,
                   CAST({total} AS INTEGER) AS n_redacted
            FROM s{last}
    """
    )


def oracle_sql() -> dict[str, str]:
    out = {
        "t1_latest_per_key": """
            SELECT user_id, value,
                   CAST(floor(epoch(ts)) AS BIGINT) AS ts_s, event_id
            FROM (SELECT *, row_number() OVER (
                      PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
                  FROM events)
            WHERE rn = 1
        """,
        "t2_snapshot_scale": """
            SELECT user_id, CAST(floor(value * 0.2) AS BIGINT) AS quota
            FROM (SELECT *, row_number() OVER (
                      PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
                  FROM events)
            WHERE rn = 1 AND CAST(floor(value * 0.2) AS BIGINT) > 0
        """,
        "t3_fan_out": """
            SELECT user_id, CAST(sum(k) AS BIGINT) AS fanned
            FROM (SELECT user_id,
                         json_extract_string(props, '$.k')::BIGINT AS k
                  FROM events)
            WHERE k > 0 GROUP BY user_id
        """,
        "t4_windowed_count": """
            SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS window_start_s,
                   user_id, count(*) AS cnt
            FROM events GROUP BY 1, 2
        """,
        "t5_merge_partials": """
            SELECT window_start_s, user_id, CAST(sum(cnt) AS BIGINT) AS cnt
            FROM (
              SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS window_start_s,
                     user_id, event_type, count(*) AS cnt
              FROM events GROUP BY 1, 2, 3)
            GROUP BY 1, 2
        """,
        "sliding_counts": """
            SELECT window_start_s, user_id, count(*) AS cnt FROM (
              SELECT CAST(floor(epoch(ts)/43200)*43200 - i*43200 AS BIGINT)
                       AS window_start_s,
                     user_id
              FROM events, (SELECT unnest([0,1]) AS i) _)
            GROUP BY 1, 2
        """,
        "t6_rate_per_window": """
            SELECT CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT) AS window_start_s,
                   user_id, count(*) AS cnt,
                   floor(count(*) / 86400.0 * 1e6 + 0.5) / 1e6 AS per_sec
            FROM events GROUP BY 1, 2
        """,
        "t7_running_total": """
            SELECT event_id, user_id,
                   round(sum(value) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING), 2) AS running_total
            FROM events
        """,
        "t8_emit_on_change": """
            SELECT event_id, user_id, value FROM (
              SELECT event_id, user_id, value,
                     lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
              FROM events)
            WHERE prev IS NULL OR value <> prev
        """,
        "codec_roundtrip": """
            SELECT event_id,
                   lower(to_hex(user_id)) AS uid_hex,
                   user_id AS uid_rt,
                   json_extract_string(props, '$.k')::BIGINT AS k,
                   to_base64(encode(event_type)) AS etype_b64,
                   CAST(floor(value * 0.2) AS BIGINT) AS quota
            FROM events
        """,
        "q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   CAST(round(sum(CAST(l_quantity AS DECIMAL(18,4))), 2)
                        AS DOUBLE) AS sum_qty,
                   CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))), 2)
                        AS DOUBLE) AS sum_base_price,
                   CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(6,4)))), 2) AS DOUBLE) AS sum_disc_price,
                   CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(6,4)))
                        * (1 + CAST(l_tax AS DECIMAL(6,4)))), 2)
                        AS DOUBLE) AS sum_charge,
                   floor(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
                         / count(*) * 1e4 + 0.5) / 1e4 AS avg_qty,
                   floor(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
                         / count(*) * 1e4 + 0.5) / 1e4 AS avg_price,
                   floor(CAST(sum(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE)
                         / count(*) * 1e6 + 0.5) / 1e6 AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "q5_revenue_by_nation": """
            SELECT r_name, n_name,
                   CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(6,4)))), 2) AS DOUBLE) AS revenue,
                   count(*) AS n_lineitems
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation   ON c_nationkey = n_nationkey
            JOIN region   ON n_regionkey = r_regionkey
            WHERE o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate <  TIMESTAMP '1998-01-01'
              AND r_name IN ('ASIA', 'EUROPE')
            GROUP BY r_name, n_name
        """,
        "q3_shipping_priority": """
            SELECT o_orderkey,
                   CAST(floor(epoch(o_orderdate)) AS BIGINT) AS o_orderdate_s,
                   o_orderpriority, revenue
            FROM (
              SELECT o_orderkey, o_orderdate, o_orderpriority,
                     CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(6,4)))), 2) AS DOUBLE) AS revenue
              FROM lineitem
              JOIN orders   ON l_orderkey = o_orderkey
              JOIN customer ON o_custkey = c_custkey
              WHERE c_mktsegment = 'BUILDING'
                AND o_orderdate < TIMESTAMP '2000-01-01'
                AND l_shipdate  > TIMESTAMP '1996-03-15'
              GROUP BY o_orderkey, o_orderdate, o_orderpriority)
            ORDER BY revenue DESC, o_orderkey ASC
            LIMIT 10
        """,
        "part_supplier_stats": """
            SELECT n_name, p_brand,
                   CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(6,4)))), 2) AS DOUBLE) AS revenue,
                   round(sum(l_quantity), 2) AS sum_qty,
                   count(*) AS n_rows
            FROM lineitem
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN part     ON l_partkey = p_partkey
            JOIN nation   ON s_nationkey = n_nationkey
            GROUP BY n_name, p_brand
        """,
        "semi_open_orders": """
            SELECT c_custkey, c_name, c_mktsegment
            FROM customer
            WHERE EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
        """,
        "anti_no_orders": """
            SELECT c_custkey, c_name, round(c_acctbal, 2) AS acctbal
            FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
        """,
        "outer_nation_counts": """
            SELECT n_nationkey, n_name,
                   count(c_custkey) AS n_customers,
                   count(DISTINCT c_mktsegment) AS n_segments,
                   round(coalesce(sum(c_acctbal), 0.0), 2) AS total_acctbal
            FROM nation LEFT JOIN customer ON n_nationkey = c_nationkey
            GROUP BY n_nationkey, n_name
        """,
        "distinct_per_status": """
            SELECT o_orderstatus,
                   count(DISTINCT o_custkey) AS n_customers,
                   count(*) AS n_orders,
                   round(sum(o_totalprice), 2) AS total_price
            FROM orders GROUP BY o_orderstatus
        """,
        "rollup_acctbal": """
            SELECT coalesce(r_name, 'ALL') AS region,
                   coalesce(n_name, 'ALL') AS nation,
                   round(sum(c_acctbal), 2) AS sum_acctbal,
                   count(*) AS n_customers
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY ROLLUP (r_name, n_name)
        """,
        "window_top_orders": """
            SELECT o_custkey, o_orderkey,
                   round(o_totalprice, 2) AS totalprice,
                   CAST(rk AS INTEGER) AS rk
            FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                         row_number() OVER (PARTITION BY o_custkey
                             ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
                  FROM orders)
            WHERE rk <= 3
        """,
        "setops_users": """
            SELECT DISTINCT user_id FROM (
              (SELECT user_id FROM events WHERE event_type = 'purchase'
               INTERSECT
               SELECT user_id FROM events WHERE event_type = 'error')
              UNION
              SELECT user_id FROM events
              WHERE event_type = 'signup' AND value > 150.0)
            EXCEPT
            SELECT DISTINCT user_id FROM events
            WHERE event_type = 'error' AND value > 330.0
        """,
        "orders_by_month": """
            SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
                   CAST(month(o_orderdate) AS INTEGER) AS mo,
                   upper(substr(o_orderpriority, 1, 1)) AS prio_initial,
                   count(*) AS n_orders,
                   round(avg(o_totalprice), 4) AS avg_price
            FROM orders GROUP BY 1, 2, 3
        """,
        "top_spenders": """
            SELECT o_custkey, round(sum(o_totalprice), 2) AS lifetime_spend
            FROM orders GROUP BY o_custkey
            ORDER BY lifetime_spend DESC, o_custkey ASC
            LIMIT 25
        """,
        "cube_orders": """
            SELECT coalesce(o_orderstatus, 'ALL') AS status,
                   coalesce(CAST(yr AS INTEGER), -1) AS yr,
                   count(*) AS n_orders,
                   round(sum(o_totalprice), 2) AS total_price
            FROM (SELECT o_orderstatus, year(o_orderdate) AS yr, o_totalprice
                  FROM orders)
            GROUP BY CUBE (o_orderstatus, yr)
        """,
        "cohort_retention": """
            WITH first AS (
              SELECT user_id, min(date_trunc('week', ts)) AS cohort
              FROM events GROUP BY user_id
            ),
            act AS (
              SELECT DISTINCT user_id, date_trunc('week', ts) AS wk
              FROM events
            )
            SELECT strftime(cohort, '%Y-%m-%d') AS cohort_week,
                   CAST(date_diff('day', cohort, wk) / 7 AS INTEGER)
                       AS week_offset,
                   count(DISTINCT a.user_id) AS n_users
            FROM act a JOIN first USING (user_id)
            GROUP BY cohort, wk
        """,
        "grouping_sets_orders": """
            SELECT coalesce(o_orderstatus, 'ALL') AS status,
                   coalesce(o_orderpriority, 'ALL') AS prio,
                   count(*) AS n_orders,
                   round(sum(o_totalprice), 2) AS total_price
            FROM orders
            GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                    (o_orderstatus), ())
        """,
        "pivot_status_by_year": """
            SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
                   round(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 2) AS "O",
                   round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 2) AS "F",
                   round(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 2) AS "P"
            FROM orders GROUP BY 1
        """,
        "cheapest_supplier": """
            WITH ps AS (
              SELECT l_partkey, l_suppkey, min(l_extendedprice) AS cost
              FROM lineitem GROUP BY 1, 2),
            best AS (
              SELECT l_partkey, l_suppkey, cost,
                     row_number() OVER (
                         PARTITION BY l_partkey ORDER BY cost, l_suppkey) AS rn
              FROM ps)
            SELECT b.l_partkey AS partkey, p.p_brand,
                   b.l_suppkey AS suppkey, s.s_name,
                   n.n_name AS supp_nation, round(b.cost, 2) AS min_cost
            FROM best b
            JOIN part p ON b.l_partkey = p.p_partkey
            JOIN supplier s ON b.l_suppkey = s.s_suppkey
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            WHERE b.rn = 1
        """,
        "nation_trade_volume": """
            SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
                   CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
                   CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))
                        * (1 - CAST(l.l_discount AS DECIMAL(6,4)))), 2)
                        AS DOUBLE) AS volume,
                   count(*) AS n_lineitems
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation sn ON s.s_nationkey = sn.n_nationkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation cn ON c.c_nationkey = cn.n_nationkey
            WHERE sn.n_name <> cn.n_name
            GROUP BY 1, 2, 3
        """,
        "large_orders": """
            WITH big AS (
              SELECT l_orderkey, round(sum(l_quantity), 2) AS total_qty
              FROM lineitem GROUP BY 1
              HAVING round(sum(l_quantity), 2) > 200.0)
            SELECT o.o_orderkey, o.o_custkey, c.c_name,
                   CAST(floor(epoch(o.o_orderdate)) AS BIGINT) AS o_orderdate_s,
                   round(o.o_totalprice, 2) AS totalprice, b.total_qty
            FROM orders o
            JOIN big b ON o.o_orderkey = b.l_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
        """,
        "json_props_stats": """
            SELECT event_type,
                   count(*) AS n_events,
                   count(k) AS n_with_k,
                   CAST(sum(k) AS BIGINT) AS sum_k,
                   min(k) AS min_k,
                   max(k) AS max_k,
                   floor(avg(k) * 1e6 + 0.5) / 1e6 AS avg_k
            FROM (SELECT event_type,
                         json_extract_string(props, '$.k')::BIGINT AS k
                  FROM events)
            GROUP BY event_type
        """,
        "returned_revenue": """
            WITH per_cust AS (
              SELECT o_custkey,
                     CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                          * (1 - CAST(l_discount AS DECIMAL(6,4)))), 2)
                          AS DOUBLE) AS ret_revenue,
                     count(*) AS n_returned_items
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              WHERE l_returnflag = 'R'
              GROUP BY o_custkey)
            SELECT o_custkey, c_name, n_name AS nation,
                   ret_revenue, n_returned_items
            FROM per_cust
            JOIN customer ON o_custkey = c_custkey
            JOIN nation   ON c_nationkey = n_nationkey
            ORDER BY ret_revenue DESC, o_custkey ASC
            LIMIT 20
        """,
        "q4_priority_exists": """
            SELECT o_orderpriority, count(*) AS order_count
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate <  TIMESTAMP '1996-07-01'
              AND EXISTS (SELECT 1 FROM lineitem
                          WHERE l_orderkey = o_orderkey
                            AND l_shipdate > o_orderdate)
            GROUP BY o_orderpriority
        """,
        "q8_market_share": """
            SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
                   floor(
                     CAST(sum(CASE WHEN sn.n_name = 'NATION_3'
                              THEN CAST(l_extendedprice AS DECIMAL(18,4))
                                   * (1 - CAST(l_discount AS DECIMAL(6,4)))
                              ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
                     / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                            * (1 - CAST(l_discount AS DECIMAL(6,4)))) AS DOUBLE)
                     * 1e6 + 0.5) / 1e6 AS mkt_share,
                   CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                        * (1 - CAST(l_discount AS DECIMAL(6,4)))), 2)
                        AS DOUBLE) AS total_revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation cn ON c_nationkey = cn.n_nationkey
            JOIN region ON cn.n_regionkey = r_regionkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation sn ON s_nationkey = sn.n_nationkey
            WHERE r_name = 'AMERICA'
            GROUP BY 1
        """,
        "q9_product_profit": """
            SELECT n_name AS nation,
                   CAST(year(o_orderdate) AS INTEGER) AS o_year,
                   CAST(round(sum(
                     CAST(l_extendedprice AS DECIMAL(18,4))
                       * (1 - CAST(l_discount AS DECIMAL(6,4)))
                     - CAST(0.5 AS DECIMAL(2,1))
                       * CAST(p_retailprice AS DECIMAL(12,2))
                       * CAST(l_quantity AS DECIMAL(12,2))), 2)
                        AS DOUBLE) AS sum_profit,
                   count(*) AS n_rows
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN orders ON l_orderkey = o_orderkey
            WHERE p_name LIKE '%widget%'
            GROUP BY 1, 2
        """,
        "q7_volume_shipping": """
            SELECT supp_nation, cust_nation,
                   CAST(l_year AS INTEGER) AS l_year,
                   CAST(round(sum(rev), 2) AS DOUBLE) AS revenue,
                   count(*) AS n_lineitems
            FROM (
              SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
                     year(l_shipdate) AS l_year,
                     CAST(l_extendedprice AS DECIMAL(18,4))
                       * (1 - CAST(l_discount AS DECIMAL(6,4))) AS rev
              FROM lineitem
              JOIN supplier ON l_suppkey = s_suppkey
              JOIN nation sn ON s_nationkey = sn.n_nationkey
              JOIN orders ON l_orderkey = o_orderkey
              JOIN customer ON o_custkey = c_custkey
              JOIN nation cn ON c_nationkey = cn.n_nationkey
              WHERE l_shipdate >= TIMESTAMP '1995-01-01'
                AND l_shipdate <  TIMESTAMP '1997-01-01'
                AND ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
                  OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1')))
            GROUP BY 1, 2, 3
        """,
        "q10_returned_items": """
            SELECT CAST(rank AS INTEGER) AS rank, c_custkey, c_name,
                   nation, c_acctbal, revenue, n_lineitems
            FROM (
              SELECT *, row_number() OVER (
                       ORDER BY revenue DESC, c_custkey ASC) AS rank
              FROM (
                SELECT c_custkey, c_name, n_name AS nation, c_acctbal,
                       CAST(round(sum(
                         CAST(l_extendedprice AS DECIMAL(18,4))
                           * (1 - CAST(l_discount AS DECIMAL(6,4)))), 2)
                            AS DOUBLE) AS revenue,
                       count(*) AS n_lineitems
                FROM lineitem
                JOIN orders ON l_orderkey = o_orderkey
                JOIN customer ON o_custkey = c_custkey
                JOIN nation ON c_nationkey = n_nationkey
                WHERE l_returnflag = 'R'
                  AND o_orderdate >= TIMESTAMP '1996-01-01'
                  AND o_orderdate <  TIMESTAMP '1996-04-01'
                GROUP BY 1, 2, 3, 4))
            WHERE rank <= 20
        """,
        "q18_big_orders": """
            SELECT c_custkey, c_name, o_orderkey,
                   CAST(floor(epoch(o_orderdate)) AS BIGINT)
                       AS o_orderdate_s,
                   o_totalprice,
                   CAST(sum_qty AS BIGINT) AS sum_qty
            FROM (SELECT l_orderkey, sum(l_quantity) AS sum_qty
                  FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 190) q
            JOIN orders ON q.l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
        """,
        "q12_priority_class": """
            SELECT l_returnflag,
                   CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                            THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                   CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                            THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate <  TIMESTAMP '1998-01-01'
            GROUP BY l_returnflag
        """,
        "q15_top_supplier": """
            WITH per_supp AS (
              SELECT l_suppkey,
                     sum(CAST(l_extendedprice AS DECIMAL(18,4))
                         * (1 - CAST(l_discount AS DECIMAL(6,4)))) AS rev
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1997-01-01'
                AND l_shipdate <  TIMESTAMP '1997-04-01'
              GROUP BY l_suppkey),
            ranked AS (
              SELECT *, max(rev) OVER () AS max_rev FROM per_supp)
            SELECT s_suppkey, s_name,
                   CAST(round(rev, 2) AS DOUBLE) AS total_revenue
            FROM ranked JOIN supplier ON l_suppkey = s_suppkey
            WHERE rev = max_rev
        """,
        "q16_supplier_variety": """
            SELECT p_brand, p_type, p_size,
                   count(DISTINCT l_suppkey) AS supplier_cnt
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE p_brand <> 'Brand#5'
              AND p_type <> 'PROMO'
              AND p_size IN (1, 4, 9, 14, 19, 24, 29, 34)
              AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                    WHERE s_acctbal < 0)
            GROUP BY 1, 2, 3
        """,
        "q17_small_qty_revenue": """
            WITH brand_lines AS (
              SELECT l_partkey, l_quantity, l_extendedprice
              FROM lineitem JOIN part ON l_partkey = p_partkey
              WHERE p_brand = 'Brand#3'),
            thresholds AS (
              SELECT l_partkey AS ap_partkey,
                     0.2 * (CAST(sum(CAST(l_quantity AS DECIMAL(18,4)))
                            AS DOUBLE) / count(*)) AS qty_threshold
              FROM brand_lines GROUP BY 1)
            SELECT floor(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)))
                         AS DOUBLE) / 7.0 * 1e2 + 0.5) / 1e2 AS avg_yearly,
                   count(*) AS n_small_lines
            FROM brand_lines JOIN thresholds ON l_partkey = ap_partkey
            WHERE l_quantity < qty_threshold
        """,
        "q19_disjunctive_revenue": """
            SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                        * (1 - CAST(l_discount AS DECIMAL(6,4)))), 2)
                        AS DOUBLE) AS revenue,
                   count(*) AS n_lines
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
                   AND l_quantity BETWEEN 1 AND 20)
               OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
                   AND l_quantity BETWEEN 10 AND 30)
               OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
                   AND l_quantity BETWEEN 20 AND 40)
        """,
        "q21_waiting_suppliers": """
            WITH per_os AS (
              SELECT o_orderkey AS pk_orderkey, l_suppkey,
                     max(CASE WHEN l_shipdate > o_orderdate
                              + INTERVAL 60 DAY THEN 1 ELSE 0 END) AS was_late
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              WHERE o_orderstatus = 'F'
              GROUP BY 1, 2),
            flagged AS (
              SELECT *,
                     count(*) OVER (PARTITION BY pk_orderkey) AS n_supps,
                     sum(was_late) OVER (PARTITION BY pk_orderkey)
                       AS n_late_supps
              FROM per_os)
            SELECT s_suppkey, s_name, count(*) AS numwait
            FROM flagged JOIN supplier ON l_suppkey = s_suppkey
            WHERE was_late = 1 AND n_supps > 1 AND n_late_supps = 1
            GROUP BY 1, 2
        """,
        "q20_dominant_suppliers": """
            WITH per_ps AS (
              SELECT l_partkey, l_suppkey,
                     sum(CAST(l_quantity AS DECIMAL(18,4))) AS qty_dec
              FROM lineitem JOIN part ON l_partkey = p_partkey
              WHERE p_name LIKE 'red%'
                AND l_shipdate >= TIMESTAMP '1997-01-01'
                AND l_shipdate <  TIMESTAMP '1998-01-01'
              GROUP BY 1, 2),
            flagged AS (
              SELECT *, sum(qty_dec) OVER (PARTITION BY l_partkey)
                          AS part_total
              FROM per_ps)
            SELECT s_suppkey, s_name,
                   CAST(s_nationkey AS INTEGER) AS s_nationkey
            FROM supplier
            WHERE s_suppkey IN (SELECT l_suppkey FROM flagged
                                WHERE qty_dec * 2 > part_total)
        """,
        "unpivot_metrics": """
            SELECT event_id, metric, val
            FROM (SELECT event_id, value,
                         CAST(json_extract_string(props, '$.k') AS DOUBLE)
                           AS k
                  FROM events)
            UNPIVOT (val FOR metric IN (value, k))
        """,
        "q6_forecast_revenue": """
            SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                       * CAST(l_discount AS DECIMAL(18,4))), 2) AS DOUBLE)
                       AS revenue,
                   count(*) AS n_rows
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate <  TIMESTAMP '1997-01-01'
              AND l_discount >= 0.05 AND l_discount <= 0.07
              AND l_quantity < 24
        """,
        "important_parts": """
            WITH per_part AS (
              SELECT l_partkey,
                     sum(CAST(l_extendedprice AS DECIMAL(18,4))
                         * (1 - CAST(l_discount AS DECIMAL(6,4)))) AS rev_d
              FROM lineitem GROUP BY 1),
            total AS (SELECT sum(rev_d) AS total_d FROM per_part)
            SELECT l_partkey AS partkey,
                   CAST(round(rev_d, 2) AS DOUBLE) AS revenue,
                   floor(CAST(rev_d AS DOUBLE) / CAST(total_d AS DOUBLE)
                         * 1e6 + 0.5) / 1e6 AS rev_share
            FROM per_part, total
            WHERE CAST(rev_d AS DOUBLE) > CAST(total_d AS DOUBLE) * 0.0008
        """,
        "order_gaps": """
            SELECT o_orderkey, o_custkey,
                   CAST(floor(epoch(o_orderdate)) AS BIGINT) AS ts_s,
                   CAST(floor(epoch(prev_d)) AS BIGINT) AS prev_ts_s,
                   CAST(floor(epoch(next_d)) AS BIGINT) AS next_ts_s,
                   CAST(date_diff('day', prev_d, o_orderdate) AS INTEGER)
                       AS days_since_prev,
                   round(first_value(o_totalprice) OVER wf, 2)
                       AS first_value_spend,
                   round(last_value(o_totalprice) OVER wf, 2)
                       AS last_value_spend
            FROM (SELECT *,
                         lag(o_orderdate) OVER w AS prev_d,
                         lead(o_orderdate) OVER w AS next_d
                  FROM orders
                  WINDOW w AS (PARTITION BY o_custkey
                               ORDER BY o_orderdate ASC, o_orderkey ASC))
            WINDOW wf AS (PARTITION BY o_custkey
                          ORDER BY o_orderdate ASC, o_orderkey ASC
                          ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND UNBOUNDED FOLLOWING)
        """,
        # The exact sparse form over the purchase slice: integer
        # day-join dots, one division, round_half_up — bit-equal to
        # the Spark inverted-index plan. The day-width cap (drop days
        # with > 1000 distinct active users) mirrors the operator's
        # max_day_width join guard (a no-op on the fixtures, active
        # at scale).
        "user_similarity_sparse": """
            WITH daily0 AS (
              SELECT user_id, date_trunc('day', ts) AS day,
                     count(*) AS cnt
              FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
            daily AS (
              SELECT user_id, day, cnt FROM (
                SELECT *, COUNT(*) OVER (PARTITION BY day) AS day_width
                FROM daily0)
              WHERE day_width <= 1000),
            norms AS (
              SELECT user_id, sqrt(CAST(sum(cnt*cnt) AS DOUBLE)) AS nrm
              FROM daily GROUP BY 1),
            dots AS (
              SELECT a.user_id AS ua, b.user_id AS ub,
                     sum(a.cnt * b.cnt) AS dot
              FROM daily a JOIN daily b
                ON a.day = b.day AND a.user_id <> b.user_id
              GROUP BY 1, 2),
            scored AS (
              SELECT ua, ub,
                     CAST(dot AS DOUBLE) / (na.nrm * nb.nrm) AS sim
              FROM dots
              JOIN norms na ON dots.ua = na.user_id
              JOIN norms nb ON dots.ub = nb.user_id)
            SELECT ua AS user_id, ub AS similar_user,
                   CAST(rank AS INTEGER) AS rank,
                   floor(sim * 1e4 + 0.5) / 1e4 AS sim
            FROM (SELECT *, row_number() OVER (PARTITION BY ua
                      ORDER BY sim DESC, ub ASC) AS rank
                  FROM scored)
            WHERE rank <= 5
        """,
        # Dense per-user daily-count profiles rebuilt in SQL (day spine
        # cross join, zero-filled, ordered list) feeding the same IVF
        # mirror as knn_graph. Integer counts make every dot/norm exact
        # in float64, so the sims are bit-equal by arithmetic.
        "user_similarity": S.duckdb_ivf_knn_sql(
            k=5,
            centroid_every=25,
            n_max_centroids=256,
            nprobe=2,
            e_cte="""
              WITH daily AS (SELECT user_id, date_trunc('day', ts) AS day,
                                    count(*) AS cnt
                             FROM events GROUP BY 1, 2),
              bounds AS (SELECT min(day) AS d0,
                                date_diff('day', min(day), max(day)) AS span
                         FROM daily),
              spine AS (SELECT unnest(range(0, (SELECT span + 1 FROM bounds)))
                               AS i),
              dense AS (SELECT u.user_id, s.i, COALESCE(d.cnt, 0) AS cnt
                        FROM (SELECT DISTINCT user_id FROM daily) u
                        CROSS JOIN spine s
                        LEFT JOIN (SELECT user_id,
                                          date_diff('day',
                                            (SELECT d0 FROM bounds), day) AS i,
                                          cnt
                                   FROM daily) d
                          ON d.user_id = u.user_id AND d.i = s.i)
              SELECT user_id AS vec_id, list(CAST(cnt AS DOUBLE) ORDER BY i)
                     AS emb
              FROM dense GROUP BY 1
            """,
            final_select=(
                "query_id AS user_id, neighbor_id AS similar_user, "
                "CAST(rank AS INTEGER) AS rank, "
                "floor(sim * 1e4 + 0.5) / 1e4 AS sim"
            ),
        ),
        "multimodal_resize": """
            WITH m AS (
              SELECT doc_id,
                     CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                     substr(lower(hex(encode(text))), 1, 32) AS h
              FROM documents),
            d AS (
              SELECT doc_id, n_bytes,
                     CAST((n_bytes % 640) + 1 AS BIGINT) AS width,
                     CAST((COALESCE(list_sum(
                         [(strpos('0123456789abcdef', h[i+1:i+1]) - 1) *
                          (CASE WHEN i % 2 = 0 THEN 16 ELSE 1 END)
                          for i in range(0, length(h))]), 0) % 480) + 1
                       AS BIGINT) AS height
              FROM m)
            SELECT doc_id, width, height,
                   greatest(1, CAST(trunc(width * scale) AS BIGINT))
                       AS new_width,
                   greatest(1, CAST(trunc(height * scale) AS BIGINT))
                       AS new_height,
                   greatest(1, CAST(trunc(n_bytes * scale * scale) AS BIGINT))
                       AS out_bytes
            FROM (SELECT *, least(1.0, 256.0 / greatest(width, height))
                         AS scale
                  FROM d)
        """,
        "custdist": """
            SELECT c_count, count(*) AS custdist
            FROM (SELECT c_custkey, count(o_orderkey) AS c_count
                  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
                  GROUP BY c_custkey)
            GROUP BY c_count
        """,
        "idle_rich_customers": """
            WITH ab AS (
              SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE)
                     / count(*) AS avg_bal
              FROM customer WHERE c_acctbal > 0)
            SELECT CAST(c_nationkey AS INTEGER) AS nationkey,
                   count(*) AS n_customers,
                   CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,4))), 2)
                        AS DOUBLE) AS total_bal
            FROM customer, ab
            WHERE c_acctbal > ab.avg_bal
              AND NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey
                                AND o_orderdate >= TIMESTAMP '1999-01-01')
            GROUP BY c_nationkey
        """,
        # Mirrors ivf_knn_graph's cell semantics exactly: same centroid
        # selection, argmax assignment tie-break, nprobe ranking, and
        # bit-equal HOF/list_cosine_similarity sims.
        "knn_graph": S.duckdb_ivf_knn_sql(
            k=3, centroid_every=100, n_max_centroids=512, nprobe=2
        ),
        "lang_confusion": f"""
            WITH {_TEXT_FEATURES_CTE}
            SELECT d.lang,
                   CASE WHEN f.swr >= 0.08 THEN 'en' ELSE 'other' END
                       AS lang_pred,
                   count(*) AS n_docs
            FROM documents d JOIN feat2 f ON d.doc_id = f.doc_id
            GROUP BY 1, 2
        """,
        "text_clean": r"""
            SELECT doc_id, lang, source,
                   lower(trim(regexp_replace(regexp_replace(regexp_replace(
                       text, 'https?://\S+', ' ', 'g'),
                       '\S+@\S+', ' ', 'g'),
                       '\s+', ' ', 'g'))) AS clean_text,
                   CAST(length(text) AS INTEGER) AS orig_len,
                   CAST(length(lower(trim(regexp_replace(regexp_replace(
                       regexp_replace(text, 'https?://\S+', ' ', 'g'),
                       '\S+@\S+', ' ', 'g'),
                       '\s+', ' ', 'g')))) AS INTEGER) AS clean_len
            FROM documents
        """,
        "emb_quantize": """
            WITH scaled AS (
              SELECT vec_id, label, embedding,
                     CASE WHEN s0 > 0 THEN s0 ELSE 1.0 END AS scale
              FROM (SELECT vec_id, label, embedding,
                           CAST(list_max(list_transform(embedding,
                                v -> abs(v))) AS DOUBLE) / 127 AS s0
                    FROM embeddings)),
            coded AS (
              SELECT vec_id, label, scale, embedding,
                     list_transform(embedding, v ->
                         CAST(floor(CAST(v AS DOUBLE) / scale + 0.5)
                              AS INTEGER)) AS codes
              FROM scaled)
            SELECT vec_id, label,
                   CAST(len(codes) AS INTEGER) AS n_dims,
                   floor(scale * 1e6 + 0.5) / 1e6 AS scale_r,
                   CAST(list_aggregate(codes, 'sum') AS BIGINT) AS code_sum,
                   floor(list_max(list_transform(range(1, len(codes) + 1),
                         i -> abs(CAST(embedding[i] AS DOUBLE)
                                  - codes[i] * scale))) * 1e6 + 0.5) / 1e6
                       AS max_abs_err
            FROM coded
        """,
        "curation_pipeline": f"""
            WITH {_TEXT_FEATURES_CTE},
            q AS (
              SELECT d.doc_id, d.text, d.lang,
                     0.4 * (CASE WHEN length(d.text) BETWEEN 100 AND 20000 THEN 1.0
                                 WHEN length(d.text) >= 20 THEN 0.5 ELSE 0.0 END)
                     + 0.3 * least(f.swr * 5.0, 1.0)
                     + 0.3 * (1.0 - f.pr) AS quality
              FROM documents d JOIN feat2 f ON d.doc_id = f.doc_id),
            kept AS (SELECT * FROM q WHERE quality >= 0.5),
            uniq AS (
              SELECT * FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY md5(lower(trim(text))) ORDER BY doc_id) AS rn
                FROM kept)
              WHERE rn = 1),
            labeled AS (
              SELECT lang, quality,
                     CASE WHEN b < 10 THEN 'test'
                          WHEN b < 20 THEN 'val'
                          ELSE 'train' END AS split
              FROM (SELECT *,
                        ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                            % 100 AS b
                    FROM uniq))
            SELECT split, lang, count(*) AS n_docs,
                   round(avg(quality), 4) AS avg_quality
            FROM labeled GROUP BY split, lang
        """,
        "text_top_tokens": """
            SELECT term, count(*) AS cnt
            FROM (SELECT unnest(list_filter(string_split_regex(text, '\\s+'),
                                            t -> t <> '')) AS term
                  FROM documents)
            GROUP BY term
            ORDER BY cnt DESC, term ASC
            LIMIT 20
        """,
        "sample_docs": """
            SELECT doc_id,
                   ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                       % 100 AS bucket
            FROM documents
            WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                      % 100 < 10
        """,
        "stratified_docs": """
            SELECT source, count(*) AS n_kept
            FROM (SELECT doc_id, source,
                         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                             % 100 AS b
                  FROM documents)
            WHERE b < CASE source WHEN 'src0' THEN 100
                                  WHEN 'src1' THEN 50
                                  WHEN 'src2' THEN 25
                                  ELSE 10 END
            GROUP BY source
        """,
        "capped_docs": """
            SELECT doc_id, source FROM (
              SELECT doc_id, source,
                     row_number() OVER (PARTITION BY source
                         ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
              FROM documents)
            WHERE rn <= 10
        """,
        "split_counts": """
            SELECT CASE WHEN b < 10 THEN 'test'
                        WHEN b < 20 THEN 'val'
                        ELSE 'train' END AS split,
                   count(*) AS n_docs,
                   round(avg(n_chars), 2) AS avg_chars
            FROM (SELECT n_chars,
                         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                             % 100 AS b
                  FROM documents)
            GROUP BY 1
        """,
        "heavy_hitter_users": """
            WITH c AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY 1),
                 t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c)
            SELECT user_id, cnt,
                   floor(cnt * 1.0 / total * 1e5 + 0.5) / 1e5 AS share
            FROM c, t
            WHERE cnt >= total * 0.008
        """,
        # approx_distinct_users / hll_user_rollup: bound-check forms —
        # the sketch estimate is engine-specific, so the queries emit
        # the exact distinct count + a within_bound boolean instead;
        # the oracle reproduces the exact counts and literal TRUE
        # (sketches are deterministic per dataset, so TRUE is stable).
        "approx_distinct_users": """
            SELECT event_type,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct,
                   TRUE AS within_bound
            FROM events GROUP BY 1
        """,
        "hll_user_rollup": """
            SELECT event_type,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
                   CAST(count(*) AS BIGINT) AS n_events,
                   CAST(count(DISTINCT date_trunc('day', ts)) AS BIGINT)
                       AS n_days,
                   TRUE AS within_bound
            FROM events GROUP BY 1
        """,
        "range_join_signup": """
            SELECT s.event_id AS signup_id, s.user_id AS s_user,
                   count(f.event_id) AS n_follow_events,
                   floor(coalesce(sum(f.value), 0.0) * 100 + 0.5) / 100
                       AS follow_value
            FROM events s
            LEFT JOIN events f
              ON f.user_id = s.user_id
             AND f.ts > s.ts
             AND f.ts <= s.ts + INTERVAL 24 HOURS
            WHERE s.event_type = 'signup'
            GROUP BY 1, 2
        """,
        "range_join_launch": """
            WITH iv AS (SELECT event_type AS w_type, min(ts) AS w_start,
                               min(ts) + INTERVAL 3 DAYS AS w_end
                        FROM events GROUP BY 1)
            SELECT iv.w_type, count(*) AS n_events_in_window,
                   floor(sum(e.value) * 100 + 0.5) / 100 AS window_value
            FROM iv JOIN events e
              ON e.ts >= iv.w_start AND e.ts < iv.w_end
            GROUP BY 1
        """,
        "emb_norm_stats": """
            SELECT label, count(*) AS n_vecs,
                   floor(avg(nrm) * 1e4 + 0.5) / 1e4 AS avg_norm,
                   floor(min(nrm) * 1e4 + 0.5) / 1e4 AS min_norm,
                   floor(max(nrm) * 1e4 + 0.5) / 1e4 AS max_norm
            FROM (SELECT label,
                         sqrt(list_aggregate(
                             list_transform(embedding,
                                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                             'sum')) AS nrm
                  FROM embeddings)
            GROUP BY label
        """,
        "text_tfidf": """
            WITH tf AS (
              SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
              FROM (SELECT doc_id,
                           unnest(list_filter(string_split_regex(text, '\\s+'),
                                              t -> t <> '')) AS term
                    FROM documents)
              GROUP BY doc_id, term
            ),
            df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
            n AS (SELECT count(*) AS n_docs FROM documents),
            scored AS (
              SELECT tf.doc_id, tf.term,
                     floor(tf.tf * ln(n.n_docs * 1.0 / df.df) * 1e4 + 0.5) / 1e4 AS tfidf
              FROM tf JOIN df USING (term), n
            )
            SELECT doc_id, term, rank, tfidf FROM (
              SELECT doc_id, term, tfidf,
                     CAST(row_number() OVER (
                         PARTITION BY doc_id ORDER BY tfidf DESC, term ASC
                     ) AS INTEGER) AS rank
              FROM scored)
            WHERE rank <= 3
        """,
        "price_percentiles": """
            SELECT o_orderstatus,
                   floor(quantile_cont(o_totalprice, 0.25) * 100 + 0.5) / 100 AS p25,
                   floor(quantile_cont(o_totalprice, 0.5)  * 100 + 0.5) / 100 AS p50,
                   floor(quantile_cont(o_totalprice, 0.75) * 100 + 0.5) / 100 AS p75,
                   floor(quantile_cont(o_totalprice, 0.9)  * 100 + 0.5) / 100 AS p90,
                   count(*) AS n_orders
            FROM orders GROUP BY o_orderstatus
        """,
        "asof_latest_order": """
            SELECT e.event_id, e.user_id,
                   CAST(floor(epoch(e.ts)) AS BIGINT) AS ts_s,
                   o.o_orderkey AS asof_orderkey,
                   o.totalprice AS asof_totalprice
            FROM events e LEFT JOIN LATERAL (
              SELECT o_orderkey, round(o_totalprice, 2) AS totalprice
              FROM orders
              WHERE o_custkey = e.user_id AND o_orderdate <= e.ts
              ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT 1) o ON TRUE
        """,
        "session_windows": """
            WITH marked AS (
              SELECT user_id, ts, value,
                     CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                          OR epoch(ts) - epoch(lag(ts) OVER (
                               PARTITION BY user_id ORDER BY ts)) >= 1800
                          THEN 1 ELSE 0 END AS new_s
              FROM events),
            grouped AS (
              SELECT user_id, ts, value,
                     sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS sid
              FROM marked)
            SELECT user_id,
                   CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start_s,
                   CAST(floor(epoch(max(ts) + INTERVAL 30 MINUTE)) AS BIGINT)
                     AS session_end_s,
                   count(*) AS n_events,
                   round(sum(value), 2) AS session_value
            FROM grouped GROUP BY user_id, sid
        """,
        "above_avg_orders": """
            SELECT o_orderkey, o_custkey,
                   round(o_totalprice, 2) AS totalprice,
                   floor(cust_avg * 1e4 + 0.5) / 1e4 AS cust_avg
            FROM (SELECT o_orderkey, o_custkey, o_totalprice,
                         CAST(sum(CAST(o_totalprice AS DECIMAL(18,4)))
                              OVER (PARTITION BY o_custkey) AS DOUBLE)
                         / (count(*) OVER (PARTITION BY o_custkey)) AS cust_avg
                  FROM orders)
            WHERE o_totalprice > cust_avg
        """,
        "promo_revenue": """
            SELECT CAST(year(l_shipdate) AS INTEGER) AS yr,
                   CAST(month(l_shipdate) AS INTEGER) AS mo,
                   floor(CAST(sum(CASE WHEN p_type LIKE 'PROMO%' THEN rev
                                   ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
                         / CAST(sum(rev) AS DOUBLE)
                         * 100.0 * 1e4 + 0.5) / 1e4 AS promo_pct,
                   CAST(round(sum(rev), 2) AS DOUBLE) AS revenue
            FROM (SELECT l_shipdate, p_type,
                         CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(6,4))) AS rev
                  FROM lineitem JOIN part ON l_partkey = p_partkey)
            GROUP BY 1, 2
        """,
        "ship_latency": """
            SELECT o_orderpriority,
                   round(avg(lat), 4) AS avg_days,
                   CAST(min(lat) AS INTEGER) AS min_days,
                   CAST(max(lat) AS INTEGER) AS max_days,
                   count(*) AS n_lineitems
            FROM (SELECT o_orderpriority,
                         date_diff('day', o_orderdate, l_shipdate) AS lat
                  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
            GROUP BY o_orderpriority
        """,
        "spend_quartiles": """
            SELECT o_custkey, CAST(c_nationkey AS INTEGER) AS nationkey,
                   spend, CAST(q AS INTEGER) AS quartile
            FROM (SELECT o_custkey, c_nationkey, spend,
                         ntile(4) OVER (PARTITION BY c_nationkey
                             ORDER BY spend DESC, o_custkey ASC) AS q
                  FROM (SELECT o_custkey,
                               CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2)
                                    AS DOUBLE) AS spend
                        FROM orders GROUP BY o_custkey)
                  JOIN customer ON o_custkey = c_custkey)
        """,
        "moving_avg": """
            SELECT o_orderkey, o_custkey,
                   CAST(floor(epoch(o_orderdate)) AS BIGINT) AS ts_s,
                   floor(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) OVER w
                              AS DOUBLE)
                         / (count(*) OVER w) * 1e4 + 0.5) / 1e4 AS mavg30
            FROM orders
            WINDOW w AS (
                PARTITION BY o_custkey
                ORDER BY CAST(floor(epoch(o_orderdate)) AS BIGINT)
                RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW)
        """,
        "skew_salted_agg": """
            SELECT event_type, count(*) AS n_events,
                   round(sum(value), 2) AS total_value
            FROM events GROUP BY event_type
        """,
        "source_knob_sine": """
            SELECT id,
                   CAST(trunc(10000 * sin(pi() * fmod(t, p) / p)) AS BIGINT) AS n,
                   t AS ts_s
            FROM (
              SELECT ids.id AS id,
                     1704067200 + r.tick * 0.25 AS t,
                     20.0 * (ids.id + 1) AS p
              FROM range(200) r(tick)
              CROSS JOIN (SELECT unnest(range(5)) AS id) ids)
        """,
        "dedup_exact": """
            SELECT md5(lower(trim(text))) AS content_md5,
                   min(doc_id) AS keeper_id,
                   count(*) AS n_copies
            FROM documents GROUP BY 1
        """,
        "dedup_incremental": """
            WITH corpus AS (
              SELECT md5(lower(trim(text))) AS content_md5
              FROM documents WHERE doc_id % 10 < 8),
            batch AS (
              SELECT md5(lower(trim(text))) AS content_md5,
                     min(doc_id) AS keeper_id,
                     min_by(source, doc_id) AS source,
                     count(*) AS n_batch_copies
              FROM documents WHERE doc_id % 10 >= 8
              GROUP BY 1)
            SELECT * FROM batch
            WHERE content_md5 NOT IN (SELECT content_md5 FROM corpus)
        """,
        "dedup_minhash_lsh": _minhash_lsh_oracle_sql(0.5),
        "dedup_minhash_incremental": _minhash_incremental_oracle_sql(0.5),
        "event_outliers": """
            WITH c AS (
              SELECT event_id, event_type,
                     CAST(round(value * 100) AS BIGINT) AS cents
              FROM events),
            s AS (
              SELECT event_type,
                     CAST(count(*) AS HUGEINT) AS n,
                     CAST(sum(cents) AS HUGEINT) AS sm,
                     sum(CAST(cents AS HUGEINT) * cents) AS q
              FROM c GROUP BY 1)
            SELECT c.event_type, c.event_id, c.cents,
                   CASE WHEN n * cents - sm > 0 THEN 'high' ELSE 'low' END
                       AS side,
                   CAST(n AS BIGINT) AS n_group
            FROM c JOIN s USING (event_type)
            WHERE (n * cents - sm) * (n * cents - sm) > 9 * (n * q - sm * sm)
        """,
        "mad_outliers": """
            WITH c AS (
              SELECT event_id, event_type,
                     CAST(round(value * 100) AS BIGINT) AS cents
              FROM events),
            r AS (
              SELECT event_type, cents,
                     row_number() OVER (PARTITION BY event_type
                                        ORDER BY cents, event_id) AS rn,
                     count(*) OVER (PARTITION BY event_type) AS n
              FROM c),
            m AS (
              SELECT event_type,
                     max(CASE WHEN rn = ceil(n / 2) THEN cents END) AS med
              FROM r GROUP BY 1),
            d AS (
              SELECT c.event_type, event_id, cents, med,
                     abs(cents - med) AS dev
              FROM c JOIN m USING (event_type)),
            dr AS (
              SELECT event_type, dev,
                     row_number() OVER (PARTITION BY event_type
                                        ORDER BY dev, event_id) AS rn,
                     count(*) OVER (PARTITION BY event_type) AS n
              FROM d),
            md AS (
              SELECT event_type,
                     max(CASE WHEN rn = ceil(n / 2) THEN dev END) AS mad
              FROM dr GROUP BY 1)
            SELECT d.event_type, event_id, cents, med, mad, dev
            FROM d JOIN md USING (event_type)
            WHERE dev > 5 * mad
        """,
        "association_rules": """
            WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
            n1 AS (
              SELECT event_type, CAST(count(*) AS BIGINT) AS n
              FROM ut GROUP BY 1),
            tot AS (
              SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS nu
              FROM events),
            pp AS (
              SELECT x.event_type AS antecedent, y.event_type AS consequent,
                     CAST(count(*) AS BIGINT) AS n_both
              FROM ut x JOIN ut y ON x.user_id = y.user_id
                   AND x.event_type <> y.event_type
              GROUP BY 1, 2)
            SELECT antecedent, consequent, n_both,
                   floor(n_both * 1.0 / nu * 1e6 + 0.5) / 1e6 AS support,
                   floor(n_both * 1.0 / na.n * 1e6 + 0.5) / 1e6 AS confidence,
                   floor(n_both * 1.0 * nu / (na.n * nb.n) * 1e6 + 0.5) / 1e6
                       AS lift
            FROM pp
            JOIN n1 na ON na.event_type = antecedent
            JOIN n1 nb ON nb.event_type = consequent, tot
        """,
        "winsorized_values": """
            WITH c AS (
              SELECT event_id, event_type,
                     CAST(round(value * 100) AS BIGINT) AS cents
              FROM events),
            r AS (
              SELECT event_type, cents,
                     row_number() OVER (PARTITION BY event_type
                                        ORDER BY cents, event_id) AS rn,
                     count(*) OVER (PARTITION BY event_type) AS n
              FROM c),
            cuts AS (
              SELECT event_type, max(n) AS n,
                     max(CASE WHEN rn = greatest(
                           1, ceil(CAST(0.05 AS DOUBLE) * n)) THEN cents END)
                         AS lo_cents,
                     max(CASE WHEN rn = ceil(CAST(0.95 AS DOUBLE) * n)
                         THEN cents END) AS hi_cents
              FROM r GROUP BY 1),
            cl AS (
              SELECT c.event_type, n, lo_cents, hi_cents, cents,
                     greatest(lo_cents, least(hi_cents, cents)) AS wc
              FROM c JOIN cuts USING (event_type))
            SELECT event_type, n, lo_cents, hi_cents,
                   floor(sum(cents) * 1.0 / n * 1e4 + 0.5) / 1e4 AS mean_cents,
                   floor(sum(wc) * 1.0 / n * 1e4 + 0.5) / 1e4
                       AS win_mean_cents
            FROM cl GROUP BY 1, 2, 3, 4
        """,
        "rare_tokens": r"""
            WITH t AS (
              SELECT doc_id,
                     unnest(list_filter(string_split_regex(text, '\s+'),
                                        x -> x <> '')) AS term
              FROM documents),
            tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
            f AS (SELECT term, sum(tf) AS cf FROM tf GROUP BY 1)
            SELECT doc_id,
                   CAST(sum(tf) AS BIGINT) AS n_tokens,
                   CAST(sum(CASE WHEN cf < 100 THEN tf ELSE 0 END) AS BIGINT)
                       AS rare_tokens,
                   floor(sum(CASE WHEN cf < 100 THEN tf ELSE 0 END) * 1.0
                         / sum(tf) * 1e6 + 0.5) / 1e6 AS rare_frac
            FROM tf JOIN f USING (term)
            GROUP BY doc_id
        """,
        "user_cusum": r"""
            WITH e AS (
              SELECT user_id, ts, event_id,
                     CAST(round(value * 100) AS BIGINT) AS cents
              FROM events),
            w AS (
              SELECT user_id, ts,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS i,
                     sum(cents) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS p,
                     sum(cents) OVER (PARTITION BY user_id) AS s,
                     count(*)   OVER (PARTITION BY user_id) AS n
              FROM e),
            d AS (
              SELECT user_id, ts, i, n,
                     floor(abs(CAST(p AS DOUBLE)
                               - i * (CAST(s AS DOUBLE) / n)) * 1e4 + 0.5)
                         / 1e4 AS abs_dev
              FROM w),
            r AS (
              SELECT user_id, ts, i, n, abs_dev,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY abs_dev DESC, i) AS rk
              FROM d)
            SELECT user_id,
                   CAST(n AS BIGINT) AS n_events,
                   CAST(i AS INTEGER) AS cp_idx,
                   CAST(floor(epoch(ts)) AS BIGINT) AS cp_ts,
                   abs_dev AS cusum_max
            FROM r WHERE rk = 1
        """,
        "user_twap": r"""
            WITH e AS (
              SELECT user_id, ts, event_id,
                     CAST(round(value * 100) AS BIGINT) AS cents,
                     CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
              FROM events),
            g AS (
              SELECT user_id, cents,
                     lead(ts_s) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) - ts_s AS gap_s
              FROM e)
            SELECT user_id,
                   CAST(count(*) AS BIGINT) AS n_held,
                   CAST(sum(gap_s) AS BIGINT) AS held_s,
                   floor(CAST(sum(cents * gap_s) AS DOUBLE) / sum(gap_s)
                         * 1e4 + 0.5) / 1e4 AS twap_cents,
                   floor(CAST(sum(cents) AS DOUBLE) / count(*)
                         * 1e4 + 0.5) / 1e4 AS mean_cents
            FROM g WHERE gap_s IS NOT NULL
            GROUP BY user_id
            HAVING sum(gap_s) > 0
        """,
        "text_bm25": r"""
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(text, '\s+'),
                                 t -> t <> '') AS tk
              FROM documents),
            dl AS (SELECT doc_id, len(tk) AS dl FROM toks),
            terms AS (SELECT doc_id, unnest(tk) AS term FROM toks),
            tf AS (
              SELECT doc_id, term, count(*) AS tf FROM terms
              WHERE term IN ('spark', 'merge', 'hash', 'window')
              GROUP BY 1, 2),
            idf AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
            stats AS (
              SELECT count(*) AS n_docs,
                     CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
              FROM dl),
            c AS (
              SELECT tf.doc_id, tf.term,
                     ((n_docs - df + CAST(0.5 AS DOUBLE))
                      / (df + CAST(0.5 AS DOUBLE)))
                     * ((tf * CAST(2.2 AS DOUBLE))
                        / (tf + CAST(1.2 AS DOUBLE)
                                * (CAST(0.25 AS DOUBLE)
                                   + CAST(0.75 AS DOUBLE) * (dl / avgdl))))
                         AS c
              FROM tf JOIN idf USING (term) JOIN dl USING (doc_id)
              CROSS JOIN stats),
            piv AS (
              SELECT doc_id,
                     max(CASE WHEN term = 'spark' THEN c
                              ELSE CAST(0.0 AS DOUBLE) END) AS c0,
                     max(CASE WHEN term = 'merge' THEN c
                              ELSE CAST(0.0 AS DOUBLE) END) AS c1,
                     max(CASE WHEN term = 'hash' THEN c
                              ELSE CAST(0.0 AS DOUBLE) END) AS c2,
                     max(CASE WHEN term = 'window' THEN c
                              ELSE CAST(0.0 AS DOUBLE) END) AS c3
              FROM c GROUP BY doc_id),
            scored AS (
              SELECT doc_id,
                     floor((CAST(0.0 AS DOUBLE) + c0 + c1 + c2 + c3)
                           * 1e6 + 0.5) / 1e6 AS bm25
              FROM piv),
            top AS (
              SELECT doc_id, bm25 FROM scored
              ORDER BY bm25 DESC, doc_id LIMIT 100)
            SELECT CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id)
                        AS INTEGER) AS rank,
                   doc_id, bm25
            FROM top
        """,
        "bigram_collocations": r"""
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                 t -> t <> '') AS tk
              FROM documents),
            uni AS (SELECT unnest(tk) AS tok FROM toks),
            bi AS (
              SELECT array_to_string(tk[i+1:i+2], ' ') AS bg
              FROM toks,
                   LATERAL (SELECT unnest(range(len(tk)-1)) AS i) _
              WHERE len(tk) >= 2),
            cab AS (
              SELECT bg, count(*) AS c_ab FROM bi
              GROUP BY 1 HAVING count(*) >= 5),
            ct AS (SELECT tok, count(*) AS c_tok FROM uni GROUP BY 1),
            tot AS (SELECT (SELECT count(*) FROM bi) AS m,
                           (SELECT count(*) FROM uni) AS t)
            SELECT split_part(bg, ' ', 1) AS a,
                   split_part(bg, ' ', 2) AS b,
                   CAST(c_ab AS BIGINT) AS c_ab,
                   floor(((CAST(c_ab AS DOUBLE) / m)
                          / ((CAST(ca.c_tok AS DOUBLE) / t)
                             * (CAST(cb.c_tok AS DOUBLE) / t)))
                         * 1e4 + 0.5) / 1e4 AS lift
            FROM cab
            JOIN ct ca ON ca.tok = split_part(bg, ' ', 1)
            JOIN ct cb ON cb.tok = split_part(bg, ' ', 2)
            CROSS JOIN tot
        """,
        "vocab_coverage": r"""
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(text, '\s+'),
                                 t -> t <> '') AS tk
              FROM documents),
            uni AS (SELECT unnest(tk) AS token FROM toks),
            counts AS (SELECT token, count(*) AS n FROM uni GROUP BY 1),
            ranked AS (
              SELECT token, n,
                     row_number() OVER (ORDER BY n DESC, token) AS token_id
              FROM counts),
            capped AS (SELECT * FROM ranked WHERE token_id <= 4095),
            tot AS (SELECT count(*) AS t FROM uni)
            SELECT CAST(token_id AS INTEGER) AS token_id,
                   token,
                   CAST(n AS BIGINT) AS n,
                   CAST(sum(n) OVER (ORDER BY token_id) AS BIGINT) AS cum_n,
                   floor(CAST(sum(n) OVER (ORDER BY token_id) AS DOUBLE)
                         / t * 1e6 + 0.5) / 1e6 AS coverage
            FROM capped CROSS JOIN tot
        """,
        "trend_theil_sen": r"""
            WITH daily AS (
              SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS cnt
              FROM events GROUP BY 1, 2),
            x AS (
              SELECT event_type,
                     datediff('day', DATE '1970-01-01', d) AS x, cnt
              FROM daily),
            slopes AS (
              SELECT a.event_type,
                     a.x AS x1, b.x AS x2,
                     CAST(b.cnt - a.cnt AS DOUBLE) / (b.x - a.x) AS slope
              FROM x a JOIN x b
                ON a.event_type = b.event_type AND a.x < b.x),
            ranked AS (
              SELECT event_type, slope,
                     row_number() OVER (PARTITION BY event_type
                                        ORDER BY slope, x1, x2) AS rn,
                     count(*) OVER (PARTITION BY event_type) AS n_pairs
              FROM slopes)
            SELECT event_type,
                   CAST(n_pairs AS BIGINT) AS n_pairs,
                   floor(slope * 1e6 + 0.5) / 1e6 AS slope_med
            FROM ranked
            WHERE rn = CAST(ceil(n_pairs / 2) AS BIGINT)
        """,
        "budget_allocation": r"""
            WITH counts AS (
              SELECT source AS stratum, count(*) AS n
              FROM documents GROUP BY 1),
            tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM counts),
            base AS (
              SELECT stratum, n,
                     (10000 * n) // n_total AS base,
                     10000 * n - ((10000 * n) // n_total) * n_total AS rem
              FROM counts CROSS JOIN tot),
            lo AS (SELECT CAST(10000 - sum(base) AS BIGINT) AS leftover
                   FROM base)
            SELECT stratum,
                   CAST(n AS BIGINT) AS n,
                   CAST(base + CASE WHEN row_number() OVER
                                     (ORDER BY rem DESC, stratum) <= leftover
                                    THEN 1 ELSE 0 END AS BIGINT) AS alloc
            FROM base CROSS JOIN lo
        """,
        "ldiv_customers": r"""
            SELECT c_nationkey, c_mktsegment,
                   CAST(count(DISTINCT acctbal_band) AS BIGINT)
                       AS n_sensitive,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   count(DISTINCT acctbal_band) < 3 AS at_risk
            FROM (SELECT c_nationkey, c_mktsegment,
                         CAST(floor(c_acctbal / 1000) AS BIGINT)
                             AS acctbal_band
                  FROM customer)
            GROUP BY 1, 2
        """,
        # list_reduce is NOT usable here: DuckDB v1.0.0 evaluates the
        # lambda's struct fields left-to-right with the accumulator
        # updated IN PLACE, so a later field referencing acc.l sees the
        # new level (measured: step 9 of the 'error' series folds
        # t=79+3*65 instead of 79+3*61). The recursive CTE steps the
        # same truncating-integer recursion functionally.
        "holt_forecast": r"""
            WITH RECURSIVE daily AS (
              SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS cnt
              FROM events GROUP BY 1, 2),
            series AS (
              SELECT event_type,
                     row_number() OVER (PARTITION BY event_type
                                        ORDER BY d) AS i,
                     CAST(cnt AS BIGINT) AS c
              FROM daily),
            hw AS (
              SELECT event_type, i, c AS l, 0::BIGINT AS b
              FROM series WHERE i = 1
              UNION ALL
              SELECT s.event_type, s.i,
                     (s.c + 3*(h.l + h.b)) // 4,
                     (((s.c + 3*(h.l + h.b)) // 4 - h.l) + 3*h.b) // 4
              FROM hw h JOIN series s
                ON s.event_type = h.event_type AND s.i = h.i + 1),
            m AS (SELECT event_type, max(i) AS mi FROM hw GROUP BY 1)
            SELECT h.event_type,
                   CAST(h.i AS BIGINT) AS n_days,
                   h.l AS level,
                   h.b AS trend,
                   h.l + h.b AS forecast_next
            FROM hw h JOIN m
              ON h.event_type = m.event_type AND h.i = m.mi
        """,
        "attribution_credit": r"""
            WITH e AS (
              SELECT user_id, ts, event_id, event_type,
                     CAST(round(value * 100) AS BIGINT) AS cents,
                     sum(CASE WHEN event_type = 'purchase'
                              THEN 1 ELSE 0 END)
                         OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     - CASE WHEN event_type = 'purchase'
                            THEN 1 ELSE 0 END AS seg
              FROM events),
            convs AS (
              SELECT user_id, seg, cents AS conv_cents,
                     event_id AS conv_id
              FROM e WHERE event_type = 'purchase'),
            touches AS (
              SELECT user_id, seg, ts, event_id, event_type
              FROM e WHERE event_type <> 'purchase'),
            j AS (
              SELECT t.event_type, c.conv_cents, c.conv_id,
                     row_number() OVER (
                       PARTITION BY c.user_id, c.seg, c.conv_id
                       ORDER BY t.ts, t.event_id) AS pos,
                     count(*) OVER (
                       PARTITION BY c.user_id, c.seg, c.conv_id) AS n_touch
              FROM convs c JOIN touches t USING (user_id, seg)),
            cr AS (
              SELECT event_type,
                     conv_cents // n_touch
                     + CASE WHEN pos <= conv_cents % n_touch
                            THEN 1 ELSE 0 END AS credit
              FROM j),
            t1 AS (
              SELECT event_type AS channel,
                     CAST(count(*) AS BIGINT) AS n_touches,
                     CAST(sum(credit) AS BIGINT) AS credited_cents
              FROM cr GROUP BY 1),
            d0 AS (
              SELECT CAST(count(*) AS BIGINT) AS n_touches,
                     CAST(coalesce(sum(conv_cents), 0) AS BIGINT)
                         AS credited_cents
              FROM convs c
              WHERE NOT EXISTS (
                SELECT 1 FROM touches t
                WHERE t.user_id = c.user_id AND t.seg = c.seg))
            SELECT * FROM t1
            UNION ALL
            SELECT 'direct' AS channel, n_touches, credited_cents
            FROM d0 WHERE n_touches > 0
        """,
        "dedup_containment": f"""
            WITH {_SHINGLES_CTE},
            keep AS (SELECT shingle FROM sh GROUP BY shingle
                     HAVING count(*) <= 1000),
            shf AS (SELECT sh.doc_id, sh.shingle
                    FROM sh JOIN keep USING (shingle)),
            sizes AS (SELECT doc_id, count(*) AS sz FROM shf GROUP BY 1),
            inter AS (
              SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS common
              FROM shf x JOIN shf y USING (shingle)
              WHERE x.doc_id < y.doc_id
              GROUP BY 1, 2)
            SELECT a, b, containment, jaccard FROM (
              SELECT a, b,
                     floor(common * 1.0 / least(sa.sz, sb.sz) * 1e6 + 0.5)
                         / 1e6 AS containment,
                     floor(common * 1.0 / (sa.sz + sb.sz - common) * 1e6
                           + 0.5) / 1e6 AS jaccard
              FROM inter
              JOIN sizes sa ON sa.doc_id = a
              JOIN sizes sb ON sb.doc_id = b)
            WHERE containment >= 0.8
        """,
        "user_diversity": r"""
            WITH per_type AS (
              SELECT user_id, event_type, count(*) AS c
              FROM events GROUP BY 1, 2)
            SELECT user_id,
                   CAST(sum(c) AS BIGINT) AS n_events,
                   CAST(count(*) AS BIGINT) AS n_types,
                   floor((1.0 - CAST(sum(c * c) AS DOUBLE)
                          / (sum(c) * sum(c))) * 1e6 + 0.5) / 1e6
                       AS simpson
            FROM per_type GROUP BY user_id
        """,
        "emb_label_drift": r"""
            WITH scaled AS (
              SELECT vec_id, label, embedding,
                     CASE WHEN s0 > 0 THEN s0 ELSE 1.0 END AS scale
              FROM (SELECT vec_id, label, embedding,
                           CAST(list_max(list_transform(embedding,
                                v -> abs(v))) AS DOUBLE) / 127 AS s0
                    FROM embeddings)),
            coded AS (
              SELECT vec_id, label,
                     list_transform(embedding, v ->
                         CAST(floor(CAST(v AS DOUBLE) / scale + 0.5)
                              AS INTEGER)) AS codes
              FROM scaled),
            h AS (
              SELECT label, vec_id % 2 AS half, i - 1 AS dim,
                     codes[i] AS code
              FROM coded,
                   LATERAL (SELECT unnest(range(1, len(codes) + 1)) AS i) _),
            sums AS (
              SELECT label, half, dim, CAST(sum(code) AS BIGINT) AS s
              FROM h GROUP BY 1, 2, 3),
            ab AS (
              SELECT a.label,
                     CAST(sum(a.s * b.s) AS BIGINT) AS dot,
                     CAST(sum(a.s * a.s) AS BIGINT) AS na2,
                     CAST(sum(b.s * b.s) AS BIGINT) AS nb2
              FROM sums a JOIN sums b
                ON a.label = b.label AND a.dim = b.dim
                   AND a.half = 0 AND b.half = 1
              GROUP BY 1),
            cnts AS (
              SELECT label,
                     CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_a,
                     CAST(sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_b
              FROM coded GROUP BY 1)
            SELECT label, n_a, n_b,
                   floor(CAST(dot AS DOUBLE)
                         / (sqrt(CAST(na2 AS DOUBLE))
                            * sqrt(CAST(nb2 AS DOUBLE))) * 1e6 + 0.5) / 1e6
                       AS drift_cos
            FROM ab JOIN cnts USING (label)
        """,
        "dedup_tfcosine": r"""
            WITH tk AS (
              SELECT doc_id,
                     unnest(list_filter(
                         string_split_regex(lower(trim(text)), '\s+'),
                         t -> t <> '')) AS term
              FROM documents),
            tf AS (SELECT doc_id, term, count(*) AS tf
                   FROM tk GROUP BY 1, 2),
            keep AS (SELECT term FROM tf GROUP BY term
                     HAVING count(*) <= 1000),
            tff AS (SELECT tf.* FROM tf JOIN keep USING (term)),
            norms AS (SELECT doc_id, CAST(sum(tf * tf) AS BIGINT) AS n2
                      FROM tff GROUP BY 1),
            dots AS (
              SELECT x.doc_id AS a, y.doc_id AS b,
                     CAST(sum(x.tf * y.tf) AS BIGINT) AS dot
              FROM tff x JOIN tff y USING (term)
              WHERE x.doc_id < y.doc_id
              GROUP BY 1, 2)
            SELECT a, b, cosine FROM (
              SELECT a, b,
                     floor(CAST(dot AS DOUBLE)
                           / (sqrt(CAST(na.n2 AS DOUBLE))
                              * sqrt(CAST(nb.n2 AS DOUBLE)))
                           * 1e6 + 0.5) / 1e6 AS cosine
              FROM dots
              JOIN norms na ON na.doc_id = a
              JOIN norms nb ON nb.doc_id = b)
            WHERE cosine >= 0.8
        """,
        "type_correlation": r"""
            WITH daily AS (
              SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS cnt
              FROM events GROUP BY 1, 2),
            j AS (
              SELECT a.event_type AS ta, b.event_type AS tb,
                     a.cnt AS x, b.cnt AS y
              FROM daily a JOIN daily b
                ON a.d = b.d AND a.event_type < b.event_type),
            agg AS (
              SELECT ta, tb,
                     CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(x) AS BIGINT) AS sx,
                     CAST(sum(y) AS BIGINT) AS sy,
                     CAST(sum(x * y) AS BIGINT) AS sxy,
                     CAST(sum(x * x) AS BIGINT) AS sx2,
                     CAST(sum(y * y) AS BIGINT) AS sy2
              FROM j GROUP BY 1, 2)
            SELECT ta, tb, n,
                   floor((CAST(n * sxy - sx * sy AS DOUBLE)
                          / (sqrt(CAST(n * sx2 - sx * sx AS DOUBLE))
                             * sqrt(CAST(n * sy2 - sy * sy AS DOUBLE)))
                          + 1.0) * 1e6 + 0.5) / 1e6 AS r_plus1
            FROM agg
            WHERE n * sx2 - sx * sx > 0 AND n * sy2 - sy * sy > 0
        """,
        "bpe_merges": r"""
            WITH words AS (
              SELECT w, count(*) AS freq FROM (
                SELECT unnest(list_filter(
                    string_split_regex(lower(text), '\s+'),
                    t -> t <> '')) AS w
                FROM documents)
              GROUP BY 1),
            pairs AS (
              SELECT freq, w[i+1:i+2] AS pair
              FROM words,
                   LATERAL (SELECT unnest(range(length(w)-1)) AS i) _
              WHERE length(w) >= 2),
            counts AS (
              SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt
              FROM pairs GROUP BY 1),
            top AS (SELECT pair, cnt FROM counts
                    ORDER BY cnt DESC, pair LIMIT 20)
            SELECT CAST(row_number() OVER (ORDER BY cnt DESC, pair)
                        AS INTEGER) AS rank,
                   pair, cnt
            FROM top
        """,
        "multimodal_audio_pairs": r"""
            WITH m AS (
              SELECT doc_id,
                     CAST(octet_length(encode(text)) AS BIGINT) AS n,
                     lower(hex(encode(text))) AS h
              FROM documents),
            w AS (
              SELECT doc_id, n, h,
                     unnest(range(0, greatest((n + 3) // 4, 1))) AS w
              FROM m),
            bv AS (
              SELECT doc_id, w AS win,
                     [ (strpos('0123456789abcdef', h[2*i+1:2*i+1]) - 1) * 16
                       + (strpos('0123456789abcdef', h[2*i+2:2*i+2]) - 1)
                       for i in range(w*4, least(n, w*4 + 4)) ] AS vals
              FROM w),
            en AS (
              SELECT doc_id, CAST(win AS BIGINT) AS win,
                     CAST(list_sum(vals) AS BIGINT) AS energy
              FROM bv WHERE len(vals) > 0),
            led AS (
              SELECT doc_id, win, energy,
                     lead(energy) OVER (PARTITION BY doc_id
                                        ORDER BY win) AS nxt
              FROM en WHERE win <= 32),
            bits AS (
              SELECT doc_id, win,
                     CASE WHEN nxt > energy THEN 1 ELSE 0 END AS bit
              FROM led WHERE win < 32 AND nxt IS NOT NULL),
            fp AS (
              SELECT doc_id,
                     CAST(sum(bit * (1::BIGINT << CAST(win AS INTEGER)))
                          AS BIGINT) AS afp,
                     CAST(count(*) AS BIGINT) AS nw
              FROM bits GROUP BY 1),
            blocks AS (
              SELECT doc_id, afp, nw, b AS blk,
                     (afp >> CAST(b * 8 AS INTEGER)) & 255 AS blkval
              FROM fp, LATERAL (SELECT unnest(range(4)) AS b) _)
            SELECT a, b, hamming FROM (
              SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
                     CAST(bit_count(xor(x.afp, y.afp)) AS INTEGER)
                         AS hamming
              FROM blocks x JOIN blocks y
                ON x.blk = y.blk AND x.blkval = y.blkval AND x.nw = y.nw
                   AND x.doc_id < y.doc_id)
            WHERE hamming <= 3
        """,
        "fk_orphans": r"""
            SELECT 'orders.o_custkey->customer' AS relationship,
                   (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_child,
                   (SELECT CAST(count(*) AS BIGINT) FROM orders o
                    WHERE NOT EXISTS (SELECT 1 FROM customer c
                                      WHERE c.c_custkey = o.o_custkey))
                       AS n_orphans
            UNION ALL
            SELECT 'lineitem.l_orderkey->orders',
                   (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
                   (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
                    WHERE NOT EXISTS (SELECT 1 FROM orders o
                                      WHERE o.o_orderkey = l.l_orderkey))
            UNION ALL
            SELECT 'lineitem.l_partkey->part',
                   (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
                   (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
                    WHERE NOT EXISTS (SELECT 1 FROM part p
                                      WHERE p.p_partkey = l.l_partkey))
            UNION ALL
            SELECT 'lineitem.l_suppkey->supplier',
                   (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
                   (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
                    WHERE NOT EXISTS (SELECT 1 FROM supplier s
                                      WHERE s.s_suppkey = l.l_suppkey))
        """,
        # Recursive CTE, not list_reduce: the alarm predicate couples
        # S+ and S- (cross-field accumulator reads hit DuckDB v1.0.0's
        # in-place lambda evaluation — holt_forecast finding).
        "user_cusum_target": r"""
            WITH RECURSIVE e AS (
              SELECT user_id, CAST(round(value * 100) AS BIGINT) AS c,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS i
              FROM events),
            cs AS (
              SELECT user_id, i,
                     CAST(CASE WHEN (greatest(0, c - 27500) > 20000 OR greatest(0, 22500 - c) > 20000) THEN 0 ELSE greatest(0, c - 27500) END
                          AS BIGINT) AS sp,
                     CAST(CASE WHEN (greatest(0, c - 27500) > 20000 OR greatest(0, 22500 - c) > 20000) THEN 0 ELSE greatest(0, 22500 - c) END
                          AS BIGINT) AS sn,
                     CAST(1 AS BIGINT) AS n,
                     CAST(CASE WHEN (greatest(0, c - 27500) > 20000 OR greatest(0, 22500 - c) > 20000) THEN 1 ELSE 0 END
                          AS BIGINT) AS na
              FROM e WHERE i = 1
              UNION ALL
              SELECT s.user_id, x.i,
                     CAST(CASE WHEN (greatest(0, s.sp + (x.c - 27500)) > 20000 OR greatest(0, s.sn + (22500 - x.c)) > 20000) THEN 0 ELSE greatest(0, s.sp + (x.c - 27500)) END
                          AS BIGINT),
                     CAST(CASE WHEN (greatest(0, s.sp + (x.c - 27500)) > 20000 OR greatest(0, s.sn + (22500 - x.c)) > 20000) THEN 0 ELSE greatest(0, s.sn + (22500 - x.c)) END
                          AS BIGINT),
                     s.n + 1,
                     s.na + CASE WHEN (greatest(0, s.sp + (x.c - 27500)) > 20000 OR greatest(0, s.sn + (22500 - x.c)) > 20000) THEN 1 ELSE 0 END
              FROM cs s JOIN e x
                ON x.user_id = s.user_id AND x.i = s.i + 1),
            m AS (SELECT user_id, max(i) AS mi FROM cs GROUP BY 1)
            SELECT c.user_id,
                   c.n AS n_events,
                   c.sp AS cusum_pos,
                   c.sn AS cusum_neg,
                   c.na AS n_alarms
            FROM cs c JOIN m ON c.user_id = m.user_id AND c.i = m.mi
        """,
        "sim_mmr": r"""
            WITH RECURSIVE e AS (
              SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
            q AS (SELECT emb AS q_emb FROM e WHERE vec_id = 0),
            cand AS (
              SELECT e.vec_id, e.emb,
                     list_cosine_similarity(q_emb, emb) AS rel
              FROM e, q WHERE e.vec_id <> 0
              ORDER BY rel DESC, e.vec_id LIMIT 50),
            sel AS (
              SELECT 1 AS pick, vec_id, rel,
                     0.5 * rel - 0.5 * 0.0 AS score,
                     [vec_id] AS chosen
              FROM (SELECT vec_id, rel FROM cand
                    ORDER BY (0.5 * rel - 0.5 * 0.0) DESC, vec_id
                    LIMIT 1)
              UNION ALL
              SELECT s.pick + 1, c.vec_id, c.rel, c.score,
                     list_append(s.chosen, c.vec_id)
              FROM sel s,
                   LATERAL (
                     SELECT cc.vec_id, cc.rel,
                            0.5 * cc.rel - 0.5 * coalesce(
                              (SELECT max(list_cosine_similarity(cc.emb,
                                                                 e2.emb))
                               FROM e e2
                               WHERE list_contains(s.chosen, e2.vec_id)),
                              0.0) AS score
                     FROM cand cc
                     WHERE NOT list_contains(s.chosen, cc.vec_id)
                     ORDER BY score DESC, cc.vec_id LIMIT 1) c
              WHERE s.pick < 10)
            SELECT pick, vec_id,
                   floor(rel * 1e4 + 0.5) / 1e4 AS rel,
                   floor(score * 1e4 + 0.5) / 1e4 AS score
            FROM sel
        """,
        "pps_orders": r"""
            WITH d AS (
              SELECT o_orderkey AS k,
                     CAST(round(o_totalprice * 100) AS BIGINT) AS w
              FROM orders),
            c AS (SELECT k, w,
                         CAST(sum(w) OVER (ORDER BY k) AS BIGINT) AS cum
                  FROM d),
            t AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM d),
            p AS (
              SELECT k, w, cum, cum - w AS a,
                     greatest(1, tw // 500) AS stride,
                     greatest(1, tw // 500) // 2 AS anchor
              FROM c CROSS JOIN t)
            SELECT o_orderkey, cents, pos, n_hits FROM (
              SELECT k AS o_orderkey, w AS cents,
                     CAST(a AS BIGINT) AS pos,
                     CAST((CASE WHEN cum - 1 >= anchor
                                THEN (cum - 1 - anchor) // stride + 1
                                ELSE 0 END)
                        - (CASE WHEN a - 1 >= anchor
                                THEN (a - 1 - anchor) // stride + 1
                                ELSE 0 END) AS BIGINT) AS n_hits
              FROM p)
            WHERE n_hits >= 1
        """,
        "weighted_median_price": r"""
            WITH d AS (
              SELECT l_returnflag AS g,
                     CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
                     CAST(l_quantity AS BIGINT) AS w,
                     l_orderkey AS tb
              FROM lineitem),
            c AS (
              SELECT g, v,
                     CAST(sum(w) OVER (PARTITION BY g ORDER BY v, tb
                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
                     CAST(sum(w) OVER (PARTITION BY g) AS BIGINT) AS tot,
                     count(*) OVER (PARTITION BY g) AS n_rows
              FROM d),
            f AS (SELECT * FROM c WHERE 2 * cum >= tot),
            r AS (SELECT *, row_number() OVER (PARTITION BY g
                              ORDER BY cum, v) AS rn FROM f)
            SELECT g AS l_returnflag,
                   CAST(n_rows AS BIGINT) AS n_rows,
                   tot AS total_weight,
                   v AS weighted_median
            FROM r WHERE rn = 1
        """,
        "emb_kmeans": r"""
            WITH scaled AS (
              SELECT vec_id, embedding,
                     CASE WHEN s0 > 0 THEN s0 ELSE 1.0 END AS scale
              FROM (SELECT vec_id, embedding,
                           CAST(list_max(list_transform(embedding,
                                v -> abs(v))) AS DOUBLE) / 127 AS s0
                    FROM embeddings)),
            coded AS (
              SELECT vec_id,
                     list_transform(embedding, v ->
                         CAST(floor(CAST(v AS DOUBLE) / scale + 0.5)
                              AS INTEGER)) AS codes
              FROM scaled),
            q AS (
              SELECT vec_id, i - 1 AS dim, codes[i] AS code
              FROM coded,
                   LATERAL (SELECT unnest(range(1, len(codes) + 1)) AS i) _),
            seeds0 AS (
              SELECT vec_id, codes FROM coded
              WHERE vec_id % 100 = 0 ORDER BY vec_id LIMIT 8),
            seedn AS (
              SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1
                          AS INTEGER) AS cluster, codes
              FROM seeds0),
            cents0 AS (
              SELECT cluster, i - 1 AS dim, CAST(codes[i] AS BIGINT) AS c
              FROM seedn,
                   LATERAL (SELECT unnest(range(1, len(codes) + 1)) AS i) _),
            d1 AS (
              SELECT q.vec_id, c.cluster,
                     CAST(sum((q.code - c.c) * (q.code - c.c)) AS BIGINT)
                         AS d2
              FROM q JOIN cents0 c USING (dim) GROUP BY 1, 2),
            a1 AS (
              SELECT vec_id, cluster, d2 FROM (
                SELECT *, row_number() OVER (PARTITION BY vec_id
                             ORDER BY d2, cluster) AS rn
                FROM d1) WHERE rn = 1),
            cents1 AS (
              SELECT a.cluster, q.dim,
                     CAST(sum(q.code) // count(*) AS BIGINT) AS c
              FROM q JOIN a1 a USING (vec_id) GROUP BY 1, 2),
            d2 AS (
              SELECT q.vec_id, c.cluster,
                     CAST(sum((q.code - c.c) * (q.code - c.c)) AS BIGINT)
                         AS d2
              FROM q JOIN cents1 c USING (dim) GROUP BY 1, 2),
            a2 AS (
              SELECT vec_id, cluster, d2 FROM (
                SELECT *, row_number() OVER (PARTITION BY vec_id
                             ORDER BY d2, cluster) AS rn
                FROM d2) WHERE rn = 1),
            cents2 AS (
              SELECT a.cluster, q.dim,
                     CAST(sum(q.code) // count(*) AS BIGINT) AS c
              FROM q JOIN a2 a USING (vec_id) GROUP BY 1, 2)
            SELECT CAST(cluster AS INTEGER) AS cluster,
                   CAST(count(*) AS BIGINT) AS n_members,
                   CAST(sum(d2) AS BIGINT) AS wcss
            FROM a2 GROUP BY 1
        """,
        "emb_coreset": r"""
            WITH scaled AS (
              SELECT vec_id, embedding,
                     CASE WHEN s0 > 0 THEN s0 ELSE 1.0 END AS scale
              FROM (SELECT vec_id, embedding,
                           CAST(list_max(list_transform(embedding,
                                v -> abs(v))) AS DOUBLE) / 127 AS s0
                    FROM embeddings)),
            coded AS MATERIALIZED (
              SELECT vec_id,
                     list_transform(embedding, v ->
                         CAST(floor(CAST(v AS DOUBLE) / scale + 0.5)
                              AS INTEGER)) AS codes
              FROM scaled),
            m1 AS MATERIALIZED (
              SELECT m.vec_id, m.codes,
                     CAST(list_sum(list_transform(
                         range(1, len(m.codes) + 1),
                         i -> (m.codes[i] - s.codes[i])
                              * (m.codes[i] - s.codes[i]))) AS BIGINT)
                         AS mind
              FROM coded m,
                   (SELECT codes FROM coded WHERE vec_id = 0) s
              WHERE m.vec_id <> 0),
            p2 AS MATERIALIZED (SELECT vec_id, mind FROM m1
                     ORDER BY mind DESC, vec_id LIMIT 1),
            m2 AS MATERIALIZED (
              SELECT m.vec_id, m.codes,
                     least(m.mind, CAST(list_sum(list_transform(range(1, len(m.codes) + 1), i -> (m.codes[i] - s.codes[i]) * (m.codes[i] - s.codes[i]))) AS BIGINT)) AS mind
              FROM m1 m,
                   (SELECT c.codes FROM coded c
                    JOIN p2 ON c.vec_id = p2.vec_id) s
              WHERE m.vec_id <> (SELECT vec_id FROM p2)),
            p3 AS MATERIALIZED (SELECT vec_id, mind FROM m2
                     ORDER BY mind DESC, vec_id LIMIT 1),
            m3 AS MATERIALIZED (
              SELECT m.vec_id, m.codes,
                     least(m.mind, CAST(list_sum(list_transform(range(1, len(m.codes) + 1), i -> (m.codes[i] - s.codes[i]) * (m.codes[i] - s.codes[i]))) AS BIGINT)) AS mind
              FROM m2 m,
                   (SELECT c.codes FROM coded c
                    JOIN p3 ON c.vec_id = p3.vec_id) s
              WHERE m.vec_id <> (SELECT vec_id FROM p3)),
            p4 AS MATERIALIZED (SELECT vec_id, mind FROM m3
                     ORDER BY mind DESC, vec_id LIMIT 1),
            m4 AS MATERIALIZED (
              SELECT m.vec_id, m.codes,
                     least(m.mind, CAST(list_sum(list_transform(range(1, len(m.codes) + 1), i -> (m.codes[i] - s.codes[i]) * (m.codes[i] - s.codes[i]))) AS BIGINT)) AS mind
              FROM m3 m,
                   (SELECT c.codes FROM coded c
                    JOIN p4 ON c.vec_id = p4.vec_id) s
              WHERE m.vec_id <> (SELECT vec_id FROM p4)),
            p5 AS MATERIALIZED (SELECT vec_id, mind FROM m4
                     ORDER BY mind DESC, vec_id LIMIT 1),
            m5 AS MATERIALIZED (
              SELECT m.vec_id, m.codes,
                     least(m.mind, CAST(list_sum(list_transform(range(1, len(m.codes) + 1), i -> (m.codes[i] - s.codes[i]) * (m.codes[i] - s.codes[i]))) AS BIGINT)) AS mind
              FROM m4 m,
                   (SELECT c.codes FROM coded c
                    JOIN p5 ON c.vec_id = p5.vec_id) s
              WHERE m.vec_id <> (SELECT vec_id FROM p5)),
            p6 AS MATERIALIZED (SELECT vec_id, mind FROM m5
                     ORDER BY mind DESC, vec_id LIMIT 1),
            m6 AS MATERIALIZED (
              SELECT m.vec_id, m.codes,
                     least(m.mind, CAST(list_sum(list_transform(range(1, len(m.codes) + 1), i -> (m.codes[i] - s.codes[i]) * (m.codes[i] - s.codes[i]))) AS BIGINT)) AS mind
              FROM m5 m,
                   (SELECT c.codes FROM coded c
                    JOIN p6 ON c.vec_id = p6.vec_id) s
              WHERE m.vec_id <> (SELECT vec_id FROM p6)),
            p7 AS MATERIALIZED (SELECT vec_id, mind FROM m6
                     ORDER BY mind DESC, vec_id LIMIT 1),
            m7 AS MATERIALIZED (
              SELECT m.vec_id, m.codes,
                     least(m.mind, CAST(list_sum(list_transform(range(1, len(m.codes) + 1), i -> (m.codes[i] - s.codes[i]) * (m.codes[i] - s.codes[i]))) AS BIGINT)) AS mind
              FROM m6 m,
                   (SELECT c.codes FROM coded c
                    JOIN p7 ON c.vec_id = p7.vec_id) s
              WHERE m.vec_id <> (SELECT vec_id FROM p7)),
            p8 AS MATERIALIZED (SELECT vec_id, mind FROM m7
                     ORDER BY mind DESC, vec_id LIMIT 1),
            m8 AS MATERIALIZED (
              SELECT m.vec_id, m.codes,
                     least(m.mind, CAST(list_sum(list_transform(range(1, len(m.codes) + 1), i -> (m.codes[i] - s.codes[i]) * (m.codes[i] - s.codes[i]))) AS BIGINT)) AS mind
              FROM m7 m,
                   (SELECT c.codes FROM coded c
                    JOIN p8 ON c.vec_id = p8.vec_id) s
              WHERE m.vec_id <> (SELECT vec_id FROM p8)),
            p9 AS MATERIALIZED (SELECT vec_id, mind FROM m8
                     ORDER BY mind DESC, vec_id LIMIT 1),
            m9 AS MATERIALIZED (
              SELECT m.vec_id, m.codes,
                     least(m.mind, CAST(list_sum(list_transform(range(1, len(m.codes) + 1), i -> (m.codes[i] - s.codes[i]) * (m.codes[i] - s.codes[i]))) AS BIGINT)) AS mind
              FROM m8 m,
                   (SELECT c.codes FROM coded c
                    JOIN p9 ON c.vec_id = p9.vec_id) s
              WHERE m.vec_id <> (SELECT vec_id FROM p9)),
            p10 AS MATERIALIZED (SELECT vec_id, mind FROM m9
                     ORDER BY mind DESC, vec_id LIMIT 1),
            m10 AS MATERIALIZED (
              SELECT m.vec_id, m.codes,
                     least(m.mind, CAST(list_sum(list_transform(range(1, len(m.codes) + 1), i -> (m.codes[i] - s.codes[i]) * (m.codes[i] - s.codes[i]))) AS BIGINT)) AS mind
              FROM m9 m,
                   (SELECT c.codes FROM coded c
                    JOIN p10 ON c.vec_id = p10.vec_id) s
              WHERE m.vec_id <> (SELECT vec_id FROM p10))
            SELECT CAST(pick AS INTEGER) AS pick,
                   CAST(vec_id AS BIGINT) AS vec_id,
                   CAST(radius AS BIGINT) AS radius
            FROM (SELECT 1 AS pick, 0 AS vec_id, 0 AS radius
            UNION ALL SELECT 2 AS pick, vec_id, mind AS radius FROM p2
            UNION ALL SELECT 3 AS pick, vec_id, mind AS radius FROM p3
            UNION ALL SELECT 4 AS pick, vec_id, mind AS radius FROM p4
            UNION ALL SELECT 5 AS pick, vec_id, mind AS radius FROM p5
            UNION ALL SELECT 6 AS pick, vec_id, mind AS radius FROM p6
            UNION ALL SELECT 7 AS pick, vec_id, mind AS radius FROM p7
            UNION ALL SELECT 8 AS pick, vec_id, mind AS radius FROM p8
            UNION ALL SELECT 9 AS pick, vec_id, mind AS radius FROM p9
            UNION ALL SELECT 10 AS pick, vec_id, mind AS radius FROM p10)
        """,
        "pit_features": r"""
            WITH ev AS (
              SELECT user_id, event_id, event_type,
                     CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
                     CAST(round(value * 100) AS BIGINT) AS cents
              FROM events),
            cutoffs AS (
              SELECT user_id, max(ts_s) AS cutoff_s
              FROM ev WHERE event_type = 'purchase' GROUP BY 1),
            prior AS (
              SELECT e.*, c.cutoff_s
              FROM ev e JOIN cutoffs c USING (user_id)
              WHERE e.ts_s < c.cutoff_s)
            SELECT user_id,
                   max(cutoff_s) AS cutoff_s,
                   CAST(count(*) AS BIGINT) AS n_prior,
                   CAST(sum(cents) AS BIGINT) AS spend_cents_prior,
                   CAST(count(DISTINCT event_type) AS BIGINT)
                       AS n_types_prior,
                   max(cutoff_s) - max(ts_s) AS recency_s
            FROM prior GROUP BY user_id
        """,
        "neg_samples": r"""
            WITH pos AS (
              SELECT DISTINCT o.o_custkey AS cust,
                              l.l_partkey AS pos_part
              FROM lineitem l JOIN orders o
                ON l.l_orderkey = o.o_orderkey
              WHERE o.o_custkey % 50 = 0),
            np AS (SELECT max(p_partkey) AS n_parts FROM part),
            cand AS (
              SELECT cust, pos_part, j,
                     ('0x' || substr(md5(CAST(cust AS VARCHAR) || '#'
                                     || CAST(pos_part AS VARCHAR) || '#'
                                     || CAST(j AS VARCHAR)), 1, 8))::BIGINT
                       % n_parts + 1 AS neg_part
              FROM pos CROSS JOIN np,
                   LATERAL (SELECT unnest(range(3)) AS j) _)
            SELECT c.cust, c.pos_part, CAST(c.j AS INTEGER) AS j,
                   c.neg_part
            FROM cand c
            WHERE NOT EXISTS (
              SELECT 1 FROM pos p
              WHERE p.cust = c.cust AND p.pos_part = c.neg_part)
        """,
        "emb_triplets": r"""
            WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb
                       FROM embeddings),
            q AS (SELECT vec_id AS query_id, emb AS q_emb
                  FROM e WHERE vec_id % 50 = 0),
            scored AS (
              SELECT query_id, e.vec_id AS neighbor_id,
                     list_cosine_similarity(q_emb, emb) AS sim
              FROM q JOIN e ON e.vec_id <> q.query_id),
            topk AS (
              SELECT query_id, neighbor_id,
                     floor(sim * 1e4 + 0.5) / 1e4 AS sim
              FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY sim DESC, neighbor_id ASC) AS rank
                    FROM scored)
              WHERE rank <= 20),
            lab AS (SELECT vec_id, label FROM embeddings),
            j AS (
              SELECT t.query_id, t.neighbor_id, t.sim,
                     ql.label AS q_label, nl.label AS n_label
              FROM topk t
              JOIN lab ql ON ql.vec_id = t.query_id
              JOIN lab nl ON nl.vec_id = t.neighbor_id),
            pos AS (
              SELECT query_id, neighbor_id AS pos_id, sim AS pos_sim
              FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY sim DESC, neighbor_id) AS rn
                    FROM j WHERE q_label = n_label)
              WHERE rn = 1),
            neg AS (
              SELECT query_id, neighbor_id AS neg_id, sim AS neg_sim
              FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY sim DESC, neighbor_id) AS rn
                    FROM j WHERE q_label <> n_label)
              WHERE rn = 1)
            SELECT query_id AS anchor_id, pos_id, neg_id,
                   pos_sim, neg_sim,
                   floor((pos_sim - neg_sim + 1.0) * 1e4 + 0.5) / 1e4
                       AS margin_plus1
            FROM pos JOIN neg USING (query_id)
        """,
        "label_noise": r"""
            WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb
                       FROM embeddings),
            q AS (SELECT vec_id AS query_id, emb AS q_emb
                  FROM e WHERE vec_id % 10 = 0),
            scored AS (
              SELECT query_id, e.vec_id AS neighbor_id,
                     list_cosine_similarity(q_emb, emb) AS sim
              FROM q JOIN e ON e.vec_id <> q.query_id),
            topk AS (
              SELECT query_id, neighbor_id
              FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY sim DESC, neighbor_id ASC) AS rank
                    FROM scored)
              WHERE rank <= 5),
            lab AS (SELECT vec_id, label FROM embeddings),
            votes AS (
              SELECT t.query_id, nl.label AS n_label, count(*) AS v
              FROM topk t JOIN lab nl ON nl.vec_id = t.neighbor_id
              GROUP BY 1, 2),
            maj AS (
              SELECT query_id, n_label AS knn_label,
                     CAST(v AS BIGINT) AS n_votes
              FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY v DESC, n_label) AS rn FROM votes)
              WHERE rn = 1)
            SELECT m.query_id AS vec_id,
                   ql.label AS own_label,
                   m.knn_label,
                   m.n_votes,
                   ql.label <> m.knn_label AS is_noisy
            FROM maj m JOIN lab ql ON ql.vec_id = m.query_id
        """,
        "corpus_card": r"""
            WITH feat AS (
              SELECT d.doc_id, d.lang, d.source, d.n_chars,
                     len(list_filter(string_split_regex(d.text, '\s+'),
                                     t -> t <> '')) AS toks,
                     CAST(floor((0.4 * (CASE WHEN length(d.text)
                                              BETWEEN 100 AND 20000
                                          THEN 1.0
                                          WHEN length(d.text) >= 20
                                          THEN 0.5 ELSE 0.0 END)
                             + 0.3 * least((CASE WHEN len(
                                   list_filter(string_split_regex(d.text,
                                               '\s+'), t -> t <> '')) > 0
                                 THEN len(list_filter(
                                      list_filter(string_split_regex(d.text,
                                                  '\s+'), t -> t <> ''),
                                      t -> lower(t) IN
                                      ('the','a','of','and','to','in','is',
                                       'it','for','on'))) * 1.0
                                      / len(list_filter(
                                        string_split_regex(d.text, '\s+'),
                                        t -> t <> ''))
                                 ELSE 0.0 END) * 5.0, 1.0)
                             + 0.3 * (1.0 - (CASE WHEN length(
                                   regexp_replace(d.text, '\s', '', 'g')) > 0
                                 THEN (length(regexp_replace(d.text, '\s',
                                              '', 'g'))
                                       - length(regexp_replace(d.text,
                                         '[^A-Za-z0-9]', '', 'g'))) * 1.0
                                      / length(regexp_replace(d.text, '\s',
                                               '', 'g'))
                                 ELSE 0.0 END))) * 1e4 + 0.5)
                       AS BIGINT) AS q4,
                     md5(lower(trim(d.text))) AS h
              FROM documents d),
            plain AS (
              SELECT CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(toks) AS BIGINT) AS n_tokens,
                     CAST(sum(q4) AS BIGINT) AS q4_sum
              FROM feat),
            nl AS (SELECT CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
                   FROM feat),
            ns AS (SELECT CAST(count(DISTINCT source) AS BIGINT)
                       AS n_sources FROM feat),
            nh AS (SELECT CAST(count(DISTINCT h) AS BIGINT)
                       AS n_distinct_content FROM feat),
            med AS (
              SELECT n_chars AS p50_chars FROM (
                SELECT n_chars,
                       row_number() OVER (ORDER BY n_chars, doc_id) AS rn,
                       count(*) OVER () AS n
                FROM feat)
              WHERE rn = CAST(ceil(n / 2) AS BIGINT))
            SELECT n_docs, n_tokens, n_langs, n_sources,
                   n_docs - n_distinct_content AS n_dupe_docs,
                   floor(CAST(q4_sum AS DOUBLE) / n_docs / 1e4 * 1e4 + 0.5)
                       / 1e4 AS mean_quality,
                   p50_chars
            FROM plain CROSS JOIN nl CROSS JOIN ns CROSS JOIN nh
            CROSS JOIN med
        """,
        "fd_discovery": r"""
            SELECT 'l_returnflag' AS lhs, 'l_linestatus' AS rhs,
                   CAST(count(DISTINCT l_returnflag) AS BIGINT) AS n_lhs,
                   CAST(count(DISTINCT (l_returnflag, l_linestatus)) AS BIGINT) AS n_pairs,
                   count(DISTINCT l_returnflag) = count(DISTINCT (l_returnflag, l_linestatus))
                       AS holds
            FROM lineitem
            UNION ALL
            SELECT 'l_returnflag' AS lhs, 'l_quantity' AS rhs,
                   CAST(count(DISTINCT l_returnflag) AS BIGINT) AS n_lhs,
                   CAST(count(DISTINCT (l_returnflag, l_quantity)) AS BIGINT) AS n_pairs,
                   count(DISTINCT l_returnflag) = count(DISTINCT (l_returnflag, l_quantity))
                       AS holds
            FROM lineitem
            UNION ALL
            SELECT 'l_returnflag' AS lhs, 'l_tax' AS rhs,
                   CAST(count(DISTINCT l_returnflag) AS BIGINT) AS n_lhs,
                   CAST(count(DISTINCT (l_returnflag, l_tax)) AS BIGINT) AS n_pairs,
                   count(DISTINCT l_returnflag) = count(DISTINCT (l_returnflag, l_tax))
                       AS holds
            FROM lineitem
            UNION ALL
            SELECT 'l_linestatus' AS lhs, 'l_returnflag' AS rhs,
                   CAST(count(DISTINCT l_linestatus) AS BIGINT) AS n_lhs,
                   CAST(count(DISTINCT (l_linestatus, l_returnflag)) AS BIGINT) AS n_pairs,
                   count(DISTINCT l_linestatus) = count(DISTINCT (l_linestatus, l_returnflag))
                       AS holds
            FROM lineitem
            UNION ALL
            SELECT 'l_linestatus' AS lhs, 'l_quantity' AS rhs,
                   CAST(count(DISTINCT l_linestatus) AS BIGINT) AS n_lhs,
                   CAST(count(DISTINCT (l_linestatus, l_quantity)) AS BIGINT) AS n_pairs,
                   count(DISTINCT l_linestatus) = count(DISTINCT (l_linestatus, l_quantity))
                       AS holds
            FROM lineitem
            UNION ALL
            SELECT 'l_linestatus' AS lhs, 'l_tax' AS rhs,
                   CAST(count(DISTINCT l_linestatus) AS BIGINT) AS n_lhs,
                   CAST(count(DISTINCT (l_linestatus, l_tax)) AS BIGINT) AS n_pairs,
                   count(DISTINCT l_linestatus) = count(DISTINCT (l_linestatus, l_tax))
                       AS holds
            FROM lineitem
            UNION ALL
            SELECT 'l_quantity' AS lhs, 'l_returnflag' AS rhs,
                   CAST(count(DISTINCT l_quantity) AS BIGINT) AS n_lhs,
                   CAST(count(DISTINCT (l_quantity, l_returnflag)) AS BIGINT) AS n_pairs,
                   count(DISTINCT l_quantity) = count(DISTINCT (l_quantity, l_returnflag))
                       AS holds
            FROM lineitem
            UNION ALL
            SELECT 'l_quantity' AS lhs, 'l_linestatus' AS rhs,
                   CAST(count(DISTINCT l_quantity) AS BIGINT) AS n_lhs,
                   CAST(count(DISTINCT (l_quantity, l_linestatus)) AS BIGINT) AS n_pairs,
                   count(DISTINCT l_quantity) = count(DISTINCT (l_quantity, l_linestatus))
                       AS holds
            FROM lineitem
            UNION ALL
            SELECT 'l_quantity' AS lhs, 'l_tax' AS rhs,
                   CAST(count(DISTINCT l_quantity) AS BIGINT) AS n_lhs,
                   CAST(count(DISTINCT (l_quantity, l_tax)) AS BIGINT) AS n_pairs,
                   count(DISTINCT l_quantity) = count(DISTINCT (l_quantity, l_tax))
                       AS holds
            FROM lineitem
            UNION ALL
            SELECT 'l_tax' AS lhs, 'l_returnflag' AS rhs,
                   CAST(count(DISTINCT l_tax) AS BIGINT) AS n_lhs,
                   CAST(count(DISTINCT (l_tax, l_returnflag)) AS BIGINT) AS n_pairs,
                   count(DISTINCT l_tax) = count(DISTINCT (l_tax, l_returnflag))
                       AS holds
            FROM lineitem
            UNION ALL
            SELECT 'l_tax' AS lhs, 'l_linestatus' AS rhs,
                   CAST(count(DISTINCT l_tax) AS BIGINT) AS n_lhs,
                   CAST(count(DISTINCT (l_tax, l_linestatus)) AS BIGINT) AS n_pairs,
                   count(DISTINCT l_tax) = count(DISTINCT (l_tax, l_linestatus))
                       AS holds
            FROM lineitem
            UNION ALL
            SELECT 'l_tax' AS lhs, 'l_quantity' AS rhs,
                   CAST(count(DISTINCT l_tax) AS BIGINT) AS n_lhs,
                   CAST(count(DISTINCT (l_tax, l_quantity)) AS BIGINT) AS n_pairs,
                   count(DISTINCT l_tax) = count(DISTINCT (l_tax, l_quantity))
                       AS holds
            FROM lineitem
        """,
        "ab_wilson": r"""
            WITH pu AS (
              SELECT user_id,
                     max(CASE WHEN event_type = 'purchase'
                              THEN 1 ELSE 0 END) AS converted,
                     ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                       ::BIGINT % 2 AS variant
              FROM events GROUP BY user_id),
            s AS (
              SELECT variant,
                     CAST(count(*) AS BIGINT) AS n_users,
                     CAST(sum(converted) AS BIGINT) AS n_converted
              FROM pu GROUP BY 1),
            w AS (
              SELECT variant, n_users, n_converted,
                     CAST(n_converted AS DOUBLE) / n_users AS p,
                     CAST(n_users AS DOUBLE) AS n
              FROM s)
            SELECT variant, n_users, n_converted,
                   floor(p * 1e6 + 0.5) / 1e6 AS cvr,
                   floor(((p + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE))
                               / (2.0 * n))
                          - CAST(1.96 AS DOUBLE)
                            * sqrt((p * (1.0 - p)) / n
                                   + (CAST(1.96 AS DOUBLE)
                                      * CAST(1.96 AS DOUBLE))
                                     / (4.0 * (n * n))))
                         / (1.0 + (CAST(1.96 AS DOUBLE)
                                   * CAST(1.96 AS DOUBLE)) / n)
                         * 1e6 + 0.5) / 1e6 AS wilson_lo,
                   floor(((p + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE))
                               / (2.0 * n))
                          + CAST(1.96 AS DOUBLE)
                            * sqrt((p * (1.0 - p)) / n
                                   + (CAST(1.96 AS DOUBLE)
                                      * CAST(1.96 AS DOUBLE))
                                     / (4.0 * (n * n))))
                         / (1.0 + (CAST(1.96 AS DOUBLE)
                                   * CAST(1.96 AS DOUBLE)) / n)
                         * 1e6 + 0.5) / 1e6 AS wilson_hi
            FROM w
        """,
        "ab_health": r"""
            WITH pu AS (
              SELECT user_id,
                     max(CASE WHEN event_type = 'purchase'
                                   AND CAST(round(value * 100) AS BIGINT)
                                       >= 20000
                              THEN 1 ELSE 0 END) AS converted,
                     ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                       ::BIGINT % 2 AS variant
              FROM events GROUP BY user_id),
            cells AS (
              SELECT
                CAST(sum(CASE WHEN variant = 0 AND converted = 1
                              THEN 1 ELSE 0 END) AS BIGINT) AS a,
                CAST(sum(CASE WHEN variant = 0 AND converted = 0
                              THEN 1 ELSE 0 END) AS BIGINT) AS b,
                CAST(sum(CASE WHEN variant = 1 AND converted = 1
                              THEN 1 ELSE 0 END) AS BIGINT) AS c,
                CAST(sum(CASE WHEN variant = 1 AND converted = 0
                              THEN 1 ELSE 0 END) AS BIGINT) AS d
              FROM pu),
            m AS (
              SELECT a, b, c, d,
                     CAST(a + b + c + d AS DOUBLE) AS n,
                     CAST(a * d - b * c AS DOUBLE) AS num,
                     CAST(a + b AS DOUBLE) AS na,
                     CAST(c + d AS DOUBLE) AS nb
              FROM cells),
            x AS (
              SELECT a, b, c, d, na, nb,
                     CASE WHEN (a + b) * (c + d) * (a + c) * (b + d) > 0
                          THEN n * (num * num)
                               / (CAST(a + b AS DOUBLE)
                                  * CAST(c + d AS DOUBLE)
                                  * CAST(a + c AS DOUBLE)
                                  * CAST(b + d AS DOUBLE))
                          ELSE 0.0 END AS chi2,
                     (na - n / 2.0) * (na - n / 2.0) / (n / 2.0)
                     + (nb - n / 2.0) * (nb - n / 2.0) / (n / 2.0) AS srm
              FROM m)
            SELECT a + b AS n_variant0,
                   c + d AS n_variant1,
                   a AS conv0,
                   c AS conv1,
                   floor(chi2 * 1e6 + 0.5) / 1e6 AS chi2,
                   chi2 > 3.841 AS significant,
                   floor(srm * 1e6 + 0.5) / 1e6 AS chi2_srm,
                   srm > 3.841 AS srm_flag
            FROM x
        """,
        "acf_daily": r"""
            WITH daily AS (
              SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS cnt
              FROM events GROUP BY 1, 2),
            lags AS (SELECT CAST(unnest(range(1, 8)) AS INTEGER) AS lag),
            j AS (
              SELECT a.event_type, l.lag, a.cnt AS x, b.cnt AS y
              FROM daily a CROSS JOIN lags l
              JOIN daily b ON b.event_type = a.event_type
                          AND b.d = a.d + l.lag),
            agg AS (
              SELECT event_type, lag,
                     CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(x) AS BIGINT) AS sx,
                     CAST(sum(y) AS BIGINT) AS sy,
                     CAST(sum(x * y) AS BIGINT) AS sxy,
                     CAST(sum(x * x) AS BIGINT) AS sx2,
                     CAST(sum(y * y) AS BIGINT) AS sy2
              FROM j GROUP BY 1, 2)
            SELECT event_type, lag, n,
                   floor((CAST(n * sxy - sx * sy AS DOUBLE)
                          / (sqrt(CAST(n * sx2 - sx * sx AS DOUBLE))
                             * sqrt(CAST(n * sy2 - sy * sy AS DOUBLE)))
                          + 1.0) * 1e6 + 0.5) / 1e6 AS r_plus1
            FROM agg
            WHERE n * sx2 - sx * sx > 0 AND n * sy2 - sy * sy > 0
        """,
        "key_skew_report": r"""
            WITH
            c1 AS (SELECT count(*) AS cnt FROM events GROUP BY user_id),
            cc1 AS (SELECT cnt, CAST(count(*) AS BIGINT) AS freq
                    FROM c1 GROUP BY cnt),
            r1 AS (SELECT cnt, freq,
                          sum(freq) OVER (ORDER BY cnt) AS cum,
                          sum(freq) OVER () AS nk
                   FROM cc1),
            s1 AS (SELECT 'events.user_id' AS key_col,
                          CAST(sum(cnt * freq) AS BIGINT) AS n_rows,
                          CAST(max(nk) AS BIGINT) AS n_keys,
                          CAST(max(cnt) AS BIGINT) AS max_cnt,
                          CAST(min(CASE WHEN 2 * cum >= nk THEN cnt END)
                               AS BIGINT) AS p50_cnt,
                          CAST(min(CASE WHEN 100 * cum >= 99 * nk THEN cnt END)
                               AS BIGINT) AS p99_cnt
                   FROM r1),
            c2 AS (SELECT count(*) AS cnt FROM events GROUP BY event_type),
            cc2 AS (SELECT cnt, CAST(count(*) AS BIGINT) AS freq
                    FROM c2 GROUP BY cnt),
            r2 AS (SELECT cnt, freq,
                          sum(freq) OVER (ORDER BY cnt) AS cum,
                          sum(freq) OVER () AS nk
                   FROM cc2),
            s2 AS (SELECT 'events.event_type' AS key_col,
                          CAST(sum(cnt * freq) AS BIGINT) AS n_rows,
                          CAST(max(nk) AS BIGINT) AS n_keys,
                          CAST(max(cnt) AS BIGINT) AS max_cnt,
                          CAST(min(CASE WHEN 2 * cum >= nk THEN cnt END)
                               AS BIGINT) AS p50_cnt,
                          CAST(min(CASE WHEN 100 * cum >= 99 * nk THEN cnt END)
                               AS BIGINT) AS p99_cnt
                   FROM r2),
            c3 AS (SELECT count(*) AS cnt FROM orders GROUP BY o_custkey),
            cc3 AS (SELECT cnt, CAST(count(*) AS BIGINT) AS freq
                    FROM c3 GROUP BY cnt),
            r3 AS (SELECT cnt, freq,
                          sum(freq) OVER (ORDER BY cnt) AS cum,
                          sum(freq) OVER () AS nk
                   FROM cc3),
            s3 AS (SELECT 'orders.o_custkey' AS key_col,
                          CAST(sum(cnt * freq) AS BIGINT) AS n_rows,
                          CAST(max(nk) AS BIGINT) AS n_keys,
                          CAST(max(cnt) AS BIGINT) AS max_cnt,
                          CAST(min(CASE WHEN 2 * cum >= nk THEN cnt END)
                               AS BIGINT) AS p50_cnt,
                          CAST(min(CASE WHEN 100 * cum >= 99 * nk THEN cnt END)
                               AS BIGINT) AS p99_cnt
                   FROM r3),
            c4 AS (SELECT count(*) AS cnt FROM lineitem GROUP BY l_partkey),
            cc4 AS (SELECT cnt, CAST(count(*) AS BIGINT) AS freq
                    FROM c4 GROUP BY cnt),
            r4 AS (SELECT cnt, freq,
                          sum(freq) OVER (ORDER BY cnt) AS cum,
                          sum(freq) OVER () AS nk
                   FROM cc4),
            s4 AS (SELECT 'lineitem.l_partkey' AS key_col,
                          CAST(sum(cnt * freq) AS BIGINT) AS n_rows,
                          CAST(max(nk) AS BIGINT) AS n_keys,
                          CAST(max(cnt) AS BIGINT) AS max_cnt,
                          CAST(min(CASE WHEN 2 * cum >= nk THEN cnt END)
                               AS BIGINT) AS p50_cnt,
                          CAST(min(CASE WHEN 100 * cum >= 99 * nk THEN cnt END)
                               AS BIGINT) AS p99_cnt
                   FROM r4),
            u AS (SELECT * FROM s1 UNION ALL SELECT * FROM s2
                  UNION ALL SELECT * FROM s3 UNION ALL SELECT * FROM s4)
            SELECT key_col, n_rows, n_keys, max_cnt, p50_cnt, p99_cnt,
                   max_cnt * 1000000 // n_rows AS top1_ppm,
                   max_cnt * 1000 // p50_cnt AS skew_x1000
            FROM u
        """,
        "dedup_ngram_jaccard": f"""
            WITH {_SHINGLES_CTE},
            keep AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 1000),
            shf AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN keep USING (shingle)),
            sizes AS (SELECT doc_id, count(*) AS sz FROM shf GROUP BY 1),
            inter AS (
              SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS common
              FROM shf x JOIN shf y USING (shingle)
              WHERE x.doc_id < y.doc_id
              GROUP BY 1, 2)
            SELECT a, b, jaccard FROM (
              SELECT a, b,
                     floor(common * 1.0 / (sa.sz + sb.sz - common) * 1e6 + 0.5) / 1e6 AS jaccard
              FROM inter
              JOIN sizes sa ON sa.doc_id = a
              JOIN sizes sb ON sb.doc_id = b)
            WHERE jaccard >= 0.5
        """,
        "dedup_simhash": r"""
            WITH toks AS (
              SELECT doc_id,
                     unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                        t -> t <> '')) AS tok
              FROM documents
            ),
            hashed AS (
              SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h FROM toks
            ),
            bits AS (
              SELECT doc_id, i,
                     sum(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS s
              FROM hashed, (SELECT unnest(range(32)) AS i) _
              GROUP BY doc_id, i
            )
            SELECT doc_id,
                   CAST(sum(CASE WHEN s >= 0 THEN (1::BIGINT << i) ELSE 0 END) AS BIGINT)
                     AS simhash
            FROM bits GROUP BY doc_id
        """,
        "dedup_fingerprint": r"""
            WITH toks AS (
              SELECT doc_id,
                     unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                        t -> t <> '')) AS tok
              FROM documents
            ),
            hashed AS (
              SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h FROM toks
            ),
            bits AS (
              SELECT doc_id, i,
                     sum(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS s
              FROM hashed, (SELECT unnest(range(32)) AS i) _
              GROUP BY doc_id, i
            ),
            sh AS (
              SELECT doc_id,
                     CAST(sum(CASE WHEN s >= 0 THEN (1::BIGINT << i) ELSE 0 END)
                          AS BIGINT) AS simhash
              FROM bits GROUP BY doc_id
            )
            SELECT simhash, min(doc_id) AS keeper_id, count(*) AS n_copies
            FROM sh GROUP BY simhash
        """,
        "text_doc_stats": f"""
            WITH {_TEXT_FEATURES_CTE}
            SELECT
              doc_id, tok_ws,
              CAST(len(regexp_extract_all(
                  (SELECT text FROM documents d WHERE d.doc_id = feat2.doc_id),
                  '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INTEGER) AS tok_bpe,
              floor(swr * 1e6 + 0.5) / 1e6 AS stopword_ratio,
              floor(pr * 1e6 + 0.5) / 1e6 AS punct_ratio,
              floor(atl * 1e4 + 0.5) / 1e4 AS avg_token_len,
              floor((0.4 * (CASE WHEN length((SELECT text FROM documents d
                                             WHERE d.doc_id = feat2.doc_id)) BETWEEN 100 AND 20000
                                THEN 1.0
                                WHEN length((SELECT text FROM documents d
                                             WHERE d.doc_id = feat2.doc_id)) >= 20
                                THEN 0.5 ELSE 0.0 END)
                  + 0.3 * least(swr * 5.0, 1.0)
                  + 0.3 * (1.0 - pr)) * 1e4 + 0.5) / 1e4 AS quality,
              CASE WHEN swr >= 0.08 THEN 'en' ELSE 'other' END AS lang_pred,
              list_reduce(
                list_prepend(0::BIGINT,
                  list_transform(tk, t -> ('0x' || substr(md5(t), 1, 8))::BIGINT)),
                (acc, h) -> (acc * 31 + h) % 2147483647) AS fingerprint
            FROM feat2
        """,
        # Rational-arithmetic char-bigram familiarity: integer counts,
        # two IEEE divisions in the same order, round_half_up — no logs
        # (transcendentals are not bit-reproducible across engines).
        "text_char_bigram": r"""
            WITH norm AS (
              SELECT doc_id,
                     lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS txt
              FROM documents),
            bgs AS (
              SELECT doc_id, txt[i:i+1] AS bg
              FROM norm, LATERAL (SELECT unnest(range(1, length(txt))) AS i) _
              WHERE length(txt) >= 2),
            freq AS (SELECT bg, count(*) AS freq FROM bgs GROUP BY 1),
            tot AS (SELECT CAST(sum(freq) AS BIGINT) AS total FROM freq),
            per_doc AS (
              SELECT doc_id, count(*) AS n_bigrams,
                     CAST(sum(freq) AS BIGINT) AS sum_freq
              FROM bgs JOIN freq USING (bg) GROUP BY 1)
            SELECT doc_id, CAST(n_bigrams AS INTEGER) AS n_bigrams,
                   floor((CAST(sum_freq AS DOUBLE) / n_bigrams / total)
                         * 1e8 + 0.5) / 1e8 AS familiarity
            FROM per_doc, tot
        """,
        # Repetition gates: integer run counts, one int/int division per
        # stat, round_half_up — the DuckDB twin uses plain GROUP BYs
        # where Spark uses the zero-shuffle sorted-run folds.
        "text_repetition": r"""
            WITH tk AS (
              SELECT doc_id,
                     list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS t
              FROM documents),
            nz AS (SELECT * FROM tk WHERE len(t) > 0),
            uni AS (SELECT doc_id, unnest(t) AS term FROM nz),
            ucnt AS (SELECT doc_id, term, count(*) AS c FROM uni GROUP BY 1, 2),
            ustat AS (
              SELECT doc_id, max(c) AS top_cnt,
                     CAST(sum(c) AS BIGINT) AS n_tokens,
                     count(*) AS n_distinct
              FROM ucnt GROUP BY 1),
            bg AS (
              SELECT doc_id, t[i] || ' ' || t[i+1] AS g
              FROM nz, LATERAL (SELECT unnest(range(1, len(t))) AS i) _
              WHERE len(t) >= 2),
            bcnt AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2),
            bstat AS (
              SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bg,
                     CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS singles
              FROM bcnt GROUP BY 1)
            SELECT u.doc_id,
                   CAST(u.n_tokens AS INTEGER) AS n_tokens,
                   floor(CAST(u.top_cnt AS DOUBLE) / u.n_tokens * 1e6 + 0.5) / 1e6
                     AS top_unigram_frac,
                   floor(CAST(u.n_distinct AS DOUBLE) / u.n_tokens * 1e6 + 0.5) / 1e6
                     AS unique_ratio,
                   CASE WHEN b.n_bg > 0
                        THEN floor(CAST(b.n_bg - b.singles AS DOUBLE) / b.n_bg
                                   * 1e6 + 0.5) / 1e6
                        ELSE 0.0 END AS dup_bigram_frac
            FROM ustat u LEFT JOIN bstat b USING (doc_id)
        """,
        "zorder_stats": _ZORDER_STATS_SQL,
        "lateness_profile": """
            WITH e AS (
              SELECT user_id, event_id, event_type, epoch(ts) AS tt
              FROM events),
            m AS (
              SELECT *, max(tt) OVER (PARTITION BY user_id ORDER BY event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                        AS prior_max
              FROM e),
            l AS (
              SELECT event_type,
                     CASE WHEN prior_max > tt THEN prior_max - tt
                          ELSE 0.0 END AS late_s
              FROM m)
            SELECT event_type, count(*) AS n_events,
                   count(CASE WHEN late_s > 0 THEN 1 END) AS n_late,
                   floor(CAST(count(CASE WHEN late_s > 0 THEN 1 END) AS DOUBLE)
                         / count(*) * 1e6 + 0.5) / 1e6 AS late_frac,
                   floor(max(late_s) * 1e3 + 0.5) / 1e3 AS max_late_s
            FROM l GROUP BY 1
        """,
        "substring_spans": r"""
            WITH nt AS (
              SELECT doc_id,
                     regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
              FROM documents),
            g AS (
              SELECT doc_id, i AS pos, substring(t, i+1, 20) AS gram
              FROM nt, LATERAL (SELECT unnest(range(
                   greatest(length(t) - 20 + 1, 0))) AS i) _),
            d AS (SELECT gram FROM g GROUP BY 1 HAVING count(*) >= 2),
            dg AS (SELECT g.doc_id, g.pos FROM g JOIN d USING (gram)),
            r AS (
              SELECT doc_id, pos,
                     pos - row_number() OVER (PARTITION BY doc_id
                                              ORDER BY pos) AS grp
              FROM dg),
            s AS (
              SELECT doc_id, min(pos) AS span_start,
                     max(pos) - min(pos) + 20 AS span_len
              FROM r GROUP BY doc_id, grp)
            SELECT s.doc_id, span_start, span_len,
                   substring(nt.t, span_start + 1, span_len) AS span_text
            FROM s JOIN nt USING (doc_id)
            WHERE span_len >= 40
        """,
        "dedup_scrub_spans": r"""
            WITH nt AS (
              SELECT doc_id,
                     regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
              FROM documents),
            g AS (
              SELECT doc_id, i AS pos, substring(t, i+1, 20) AS gram
              FROM nt, LATERAL (SELECT unnest(range(
                   greatest(length(t) - 20 + 1, 0))) AS i) _),
            d AS (SELECT gram FROM g GROUP BY 1 HAVING count(*) >= 2),
            dg AS (SELECT g.doc_id, g.pos FROM g JOIN d USING (gram)),
            r AS (
              SELECT doc_id, pos,
                     pos - row_number() OVER (PARTITION BY doc_id
                                              ORDER BY pos) AS grp
              FROM dg),
            s AS (
              SELECT doc_id, min(pos) AS span_start,
                     max(pos) - min(pos) + 20 AS span_len
              FROM r GROUP BY doc_id, grp
              HAVING max(pos) - min(pos) + 20 >= 40),
            m0 AS (
              SELECT doc_id, span_start,
                     span_start + span_len AS span_end,
                     max(span_start + span_len) OVER (
                       PARTITION BY doc_id ORDER BY span_start
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                     ) AS prev_max_end
              FROM s),
            m1 AS (
              SELECT doc_id, span_start, span_end,
                     sum(CASE WHEN prev_max_end IS NULL
                                OR span_start > prev_max_end
                              THEN 1 ELSE 0 END) OVER (
                       PARTITION BY doc_id ORDER BY span_start
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) AS grp
              FROM m0),
            m AS (
              SELECT doc_id, grp, min(span_start) AS mstart,
                     max(span_end) AS mend
              FROM m1 GROUP BY doc_id, grp),
            gaps AS (
              SELECT doc_id,
                     coalesce(lag(mend) OVER (PARTITION BY doc_id
                                              ORDER BY mstart), 0)
                       AS seg_start,
                     mstart AS seg_end
              FROM m),
            pd AS (
              SELECT doc_id, max(mend) AS tail_start,
                     count(*) AS n_spans,
                     CAST(sum(mend - mstart) AS BIGINT) AS chars_removed
              FROM m GROUP BY doc_id),
            tails AS (
              SELECT doc_id, tail_start AS seg_start,
                     length(t) AS seg_end
              FROM pd JOIN nt USING (doc_id)),
            allseg AS (
              SELECT * FROM gaps UNION ALL SELECT * FROM tails),
            segs AS (
              SELECT doc_id,
                     string_agg(substring(t, seg_start + 1,
                                          seg_end - seg_start), ''
                                ORDER BY seg_start) AS scrubbed
              FROM allseg JOIN nt USING (doc_id)
              WHERE seg_end > seg_start
              GROUP BY doc_id)
            SELECT nt.doc_id,
                   CASE WHEN pd.doc_id IS NOT NULL
                        THEN coalesce(segs.scrubbed, '')
                        ELSE nt.t END AS clean_text,
                   CAST(coalesce(pd.n_spans, 0) AS BIGINT) AS n_spans,
                   coalesce(pd.chars_removed, 0) AS chars_removed
            FROM nt
            LEFT JOIN pd ON nt.doc_id = pd.doc_id
            LEFT JOIN segs ON nt.doc_id = segs.doc_id
        """,
        "survival_km": """
            WITH RECURSIVE d0 AS (
              SELECT event_type, user_id, CAST(ts AS DATE) AS day
              FROM events),
            ul AS (
              SELECT event_type, user_id, min(day) AS f, max(day) AS l
              FROM d0 GROUP BY 1, 2),
            mx AS (SELECT max(day) AS maxday FROM d0),
            starts AS (
              SELECT event_type, f AS day, count(*) AS s
              FROM ul GROUP BY 1, 2),
            churns AS (
              SELECT event_type, l AS day, count(*) AS d
              FROM ul, mx WHERE l < maxday GROUP BY 1, 2),
            spine AS (
              SELECT event_type, day,
                     coalesce(s, 0) AS s, coalesce(d, 0) AS d
              FROM (SELECT event_type, day FROM starts
                    UNION
                    SELECT event_type, day FROM churns) u
              LEFT JOIN starts USING (event_type, day)
              LEFT JOIN churns USING (event_type, day)),
            n0 AS (
              SELECT event_type, day, d,
                     CAST(sum(s) OVER (PARTITION BY event_type
                            ORDER BY day ROWS BETWEEN UNBOUNDED
                            PRECEDING AND CURRENT ROW)
                          - coalesce(sum(d) OVER (PARTITION BY
                            event_type ORDER BY day ROWS BETWEEN
                            UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                          AS BIGINT) AS n
              FROM spine),
            steps AS (
              SELECT event_type, day, n, d,
                     row_number() OVER (PARTITION BY event_type
                                        ORDER BY day) AS rn
              FROM n0 WHERE d > 0),
            km AS (
              SELECT event_type, day, n, d, rn,
                     1.0 * (1.0 - CAST(d AS DOUBLE) / CAST(n AS DOUBLE))
                       AS surv
              FROM steps WHERE rn = 1
              UNION ALL
              SELECT s.event_type, s.day, s.n, s.d, s.rn,
                     km.surv * (1.0 - CAST(s.d AS DOUBLE)
                                      / CAST(s.n AS DOUBLE))
              FROM steps s JOIN km
                ON s.event_type = km.event_type AND s.rn = km.rn + 1)
            SELECT event_type, CAST(day AS VARCHAR) AS day,
                   n AS n_risk, CAST(d AS BIGINT) AS churned, surv
            FROM km
        """,
        "forecast_backtest": """
            WITH daily AS (
              SELECT event_type, CAST(ts AS DATE) AS d,
                     count(*) AS cnt
              FROM events GROUP BY 1, 2),
            b AS (
              SELECT event_type, cnt,
                     row_number() OVER (PARTITION BY event_type
                                        ORDER BY d) AS rn,
                     lag(cnt) OVER (PARTITION BY event_type
                                    ORDER BY d) AS prev,
                     sum(cnt) OVER (PARTITION BY event_type ORDER BY d
                       ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS sw
              FROM daily),
            agg AS (
              SELECT event_type,
                     count(*) AS n_evals,
                     CAST(sum(abs(cnt - prev)) AS BIGINT) AS e1,
                     CAST(sum(abs(7 * cnt - sw)) AS BIGINT) AS ew
              FROM b WHERE rn > 7 GROUP BY 1)
            SELECT event_type, n_evals,
                   floor(e1 / n_evals * 1e4 + 0.5) / 1e4 AS mae_naive,
                   floor(ew / (7 * n_evals) * 1e4 + 0.5) / 1e4 AS mae_ma,
                   floor(ew / (7 * e1) * 1e6 + 0.5) / 1e6
                     AS skill_ma_vs_naive
            FROM agg WHERE e1 > 0
        """,
        "winnow_pairs": r"""
            WITH nt AS (
              SELECT doc_id,
                     regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
              FROM documents),
            g AS (
              SELECT doc_id, i AS pos,
                     ('0x' || substr(md5(substring(t, i+1, 16)), 1, 8))::BIGINT
                       AS h,
                     length(t) - 16 + 1 AS ng
              FROM nt, LATERAL (SELECT unnest(range(
                   greatest(length(t) - 16 + 1, 0))) AS i) _),
            keys AS (
              SELECT doc_id, pos, ng,
                     h * 2097152 + (1048576 - pos) AS key
              FROM g),
            wins AS (
              SELECT doc_id, pos, ng,
                     min(key) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING) AS wkey
              FROM keys),
            sel AS (
              SELECT DISTINCT doc_id, wkey FROM wins
              WHERE pos <= ng - 16),
            fph AS (
              SELECT DISTINCT doc_id, wkey // 2097152 AS fp_hash FROM sel),
            rare AS (
              SELECT fp_hash FROM fph GROUP BY 1 HAVING count(*) <= 20)
            SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS n_shared
            FROM fph a
            JOIN fph b ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
            JOIN rare r ON r.fp_hash = a.fp_hash
            GROUP BY 1, 2
            HAVING count(*) >= 3
        """,
        "hll_overlap_users": """
            WITH du AS (
              SELECT DISTINCT event_type, user_id FROM events),
            p AS (
              SELECT a.event_type AS type_a, b.event_type AS type_b,
                     count(*) AS exact_overlap
              FROM du a JOIN du b
                ON a.user_id = b.user_id
               AND a.event_type < b.event_type
              GROUP BY 1, 2),
            t AS (
              SELECT event_type, count(*) AS n FROM du GROUP BY 1)
            SELECT a.event_type AS type_a, b.event_type AS type_b,
                   CAST(coalesce(p.exact_overlap, 0) AS BIGINT)
                     AS exact_overlap,
                   TRUE AS within_bound
            FROM t a JOIN t b ON a.event_type < b.event_type
            LEFT JOIN p ON p.type_a = a.event_type
                       AND p.type_b = b.event_type
        """,
        "asof_next_click": """
            SELECT e.event_id, e.user_id,
                   CAST(floor(epoch(e.ts)) AS BIGINT) AS ts_s,
                   b.event_id AS next_buy,
                   b.value AS next_buy_value
            FROM events e LEFT JOIN LATERAL (
              SELECT e2.event_id, e2.value
              FROM events e2
              WHERE e2.event_type = 'purchase' AND e2.user_id = e.user_id
                AND e2.ts >= e.ts
                AND floor(epoch(e2.ts)) - floor(epoch(e.ts)) <= 604800
              ORDER BY e2.ts ASC, e2.event_id ASC LIMIT 1) b ON TRUE
            WHERE e.event_type = 'click'
        """,
        "overlapping_orders": """
            SELECT CAST(abs(datediff('day', a.o_orderdate, b.o_orderdate))
                        AS INTEGER) AS gap_days,
                   count(*) AS n_pairs
            FROM orders a JOIN orders b
              ON a.o_custkey = b.o_custkey
             AND a.o_orderkey < b.o_orderkey
             AND abs(epoch(a.o_orderdate) - epoch(b.o_orderdate))
                 < 7 * 86400
            GROUP BY 1
        """,
        "cms_user_counts": """
            WITH kd AS (
              SELECT CAST(user_id AS VARCHAR) AS k, d
              FROM events, (SELECT unnest(range(4)) AS d) _),
            cells AS (
              SELECT d,
                     ('0x' || substr(md5(CAST(d AS VARCHAR) || '|' || k),
                                     1, 8))::BIGINT % 256 AS cell,
                     count(*) AS cnt
              FROM kd GROUP BY 1, 2),
            exact AS (
              SELECT user_id, count(*) AS exact FROM events GROUP BY 1),
            probes AS (
              SELECT user_id, exact, d,
                     ('0x' || substr(md5(CAST(d AS VARCHAR) || '|' ||
                          CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 256
                       AS cell
              FROM exact, (SELECT unnest(range(4)) AS d) _)
            SELECT user_id, exact, min(cnt) AS cms_est,
                   min(cnt) - exact AS overestimate
            FROM probes JOIN cells USING (d, cell)
            GROUP BY user_id, exact
        """,
        "event_pagerank": _event_pagerank_oracle_sql(),
        "event_ppr": _event_ppr_oracle_sql(),
        "cms_join_size": """
            WITH ka AS (
              SELECT CAST(user_id AS VARCHAR) AS k, d
              FROM events, (SELECT unnest(range(4)) AS d) _),
            ga AS (
              SELECT d,
                     ('0x' || substr(md5(CAST(d AS VARCHAR) || '|' || k),
                                     1, 8))::BIGINT % 256 AS cell,
                     count(*) AS cnt
              FROM ka GROUP BY 1, 2),
            kb AS (
              SELECT CAST(o_custkey AS VARCHAR) AS k, d
              FROM orders, (SELECT unnest(range(4)) AS d) _),
            gb AS (
              SELECT d,
                     ('0x' || substr(md5(CAST(d AS VARCHAR) || '|' || k),
                                     1, 8))::BIGINT % 256 AS cell,
                     count(*) AS cnt
              FROM kb GROUP BY 1, 2),
            per_d AS (
              SELECT ga.d, CAST(sum(ga.cnt * gb.cnt) AS BIGINT) AS est_d
              FROM ga JOIN gb ON ga.d = gb.d AND ga.cell = gb.cell
              GROUP BY 1),
            est AS (SELECT min(est_d) AS est FROM per_d),
            ex AS (SELECT count(*) AS exact
                   FROM events e JOIN orders o ON e.user_id = o.o_custkey)
            SELECT est, exact, est - exact AS overestimate
            FROM est CROSS JOIN ex
        """,
        "value_quantiles": """
            WITH b AS (SELECT min(value) AS mn, max(value) AS mx FROM events),
            s AS (SELECT mn,
                         CASE WHEN mx - mn <= 0 THEN 1.0 ELSE mx - mn END AS span
                  FROM b),
            c AS (SELECT least(63, CAST(floor((value - mn) / span * 64)
                                        AS BIGINT)) AS bin,
                         count(*) AS n
                  FROM events, s WHERE value IS NOT NULL GROUP BY 1),
            spine AS (SELECT unnest(range(64)) AS bin),
            h AS (SELECT CAST(spine.bin AS INTEGER) AS bin,
                         mn + spine.bin * span / 64 AS lo,
                         mn + (spine.bin + 1) * span / 64 AS hi,
                         COALESCE(c.n, 0) AS n
                  FROM spine CROSS JOIN s LEFT JOIN c ON c.bin = spine.bin),
            cdf AS (SELECT *, CAST(sum(n) OVER (ORDER BY bin) AS BIGINT) AS cum,
                           CAST(sum(n) OVER () AS BIGINT) AS total
                    FROM h),
            qs AS (SELECT unnest([0.25, 0.5, 0.75, 0.95]) AS q),
            hit AS (SELECT q, min(bin) AS bin
                    FROM cdf JOIN qs ON cum >= ceil(q * total) GROUP BY 1)
            SELECT q, cdf.bin, lo AS est_lo, hi AS est_hi, cum, total
            FROM hit JOIN cdf ON cdf.bin = hit.bin
        """,
        "kanon_customers": """
            SELECT c_nationkey, c_mktsegment,
                   CAST(floor(c_acctbal / 1000) AS BIGINT) AS acctbal_band,
                   count(*) AS group_size
            FROM customer
            GROUP BY 1, 2, 3
            HAVING count(*) < 5
        """,
        # the oracle is the FULL RECOMPUTE — hash equality IS the
        # incremental-view-maintenance contract
        "agg_upsert": """
            SELECT user_id, count(*) AS cnt,
                   CAST(sum(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT)
                     AS sum_micro,
                   min(value) AS min_v, max(value) AS max_v
            FROM events GROUP BY 1
        """,
        "orders_checksum": """
            SELECT count(*) AS n_rows,
                   CAST(sum(('0x' || substr(md5(
                       CAST(o_orderkey AS VARCHAR) || '|' ||
                       CAST(o_custkey AS VARCHAR) || '|' ||
                       o_orderstatus || '|' || o_orderpriority), 1, 8))::BIGINT)
                     AS BIGINT) AS checksum
            FROM orders
        """,
        "value_histogram": """
            WITH b AS (SELECT min(value) AS mn, max(value) AS mx FROM events),
            s AS (SELECT mn,
                         CASE WHEN mx - mn <= 0 THEN 1.0 ELSE mx - mn END AS span
                  FROM b),
            binned AS (
              SELECT least(19, CAST(floor((value - mn) / span * 20) AS INTEGER))
                       AS bin
              FROM events, s WHERE value IS NOT NULL),
            c AS (SELECT bin, count(*) AS n FROM binned GROUP BY 1),
            spine AS (SELECT CAST(unnest(range(0, 20)) AS INTEGER) AS bin)
            SELECT spine.bin,
                   mn + spine.bin * span / 20 AS lo,
                   mn + (spine.bin + 1) * span / 20 AS hi,
                   CAST(coalesce(c.n, 0) AS BIGINT) AS n
            FROM spine LEFT JOIN c USING (bin), s
        """,
        "session_transitions": """
            WITH e AS (
              SELECT user_id, event_id, event_type, epoch(ts) AS tt FROM events),
            g AS (
              SELECT *, CASE WHEN prev_tt IS NULL OR tt - prev_tt > 1800.0
                             THEN 1 ELSE 0 END AS is_new
              FROM (SELECT *, lag(tt) OVER (PARTITION BY user_id
                        ORDER BY tt, event_id) AS prev_tt FROM e)),
            s AS (
              SELECT *, sum(is_new) OVER (PARTITION BY user_id
                        ORDER BY tt, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
              FROM g),
            p AS (
              SELECT event_type, lead(event_type) OVER (
                       PARTITION BY user_id, sid
                       ORDER BY tt, event_id) AS next_type
              FROM s)
            SELECT event_type AS type_from, next_type AS type_to,
                   count(*) AS n_transitions
            FROM p WHERE next_type IS NOT NULL
            GROUP BY 1, 2
        """,
        "event_cooccurrence": """
            WITH s AS (SELECT DISTINCT user_id, event_type FROM events),
            p AS (SELECT a.user_id, a.event_type AS ta, b.event_type AS tb
                  FROM s a JOIN s b ON a.user_id = b.user_id
                                   AND a.event_type < b.event_type),
            tot AS (SELECT count(DISTINCT user_id) AS n FROM events)
            SELECT ta AS type_a, tb AS type_b, count(*) AS n_users,
                   floor(CAST(count(*) AS DOUBLE) / n * 1e6 + 0.5) / 1e6
                     AS support
            FROM p, tot GROUP BY ta, tb, n
        """,
        "profile_orders": """
            WITH t AS (SELECT count(*) AS n_rows FROM orders)
            SELECT col, n_rows, CAST(n_nulls AS BIGINT) AS n_nulls,
                   CAST(n_distinct AS BIGINT) AS n_distinct,
                   min_num, max_num, min_str, max_str
            FROM t, (
              SELECT 'o_orderkey' AS col,
                     (SELECT count(*) FROM orders WHERE o_orderkey IS NULL) AS n_nulls,
                     (SELECT count(DISTINCT o_orderkey) FROM orders) AS n_distinct,
                     (SELECT CAST(min(o_orderkey) AS DOUBLE) FROM orders) AS min_num,
                     (SELECT CAST(max(o_orderkey) AS DOUBLE) FROM orders) AS max_num,
                     CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
              UNION ALL
              SELECT 'o_custkey',
                     (SELECT count(*) FROM orders WHERE o_custkey IS NULL),
                     (SELECT count(DISTINCT o_custkey) FROM orders),
                     (SELECT CAST(min(o_custkey) AS DOUBLE) FROM orders),
                     (SELECT CAST(max(o_custkey) AS DOUBLE) FROM orders),
                     NULL, NULL
              UNION ALL
              SELECT 'o_totalprice',
                     (SELECT count(*) FROM orders WHERE o_totalprice IS NULL),
                     (SELECT count(DISTINCT o_totalprice) FROM orders),
                     (SELECT min(o_totalprice) FROM orders),
                     (SELECT max(o_totalprice) FROM orders),
                     NULL, NULL
              UNION ALL
              SELECT 'o_orderstatus',
                     (SELECT count(*) FROM orders WHERE o_orderstatus IS NULL),
                     (SELECT count(DISTINCT o_orderstatus) FROM orders),
                     CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
                     (SELECT min(o_orderstatus) FROM orders),
                     (SELECT max(o_orderstatus) FROM orders)
              UNION ALL
              SELECT 'o_orderpriority',
                     (SELECT count(*) FROM orders WHERE o_orderpriority IS NULL),
                     (SELECT count(DISTINCT o_orderpriority) FROM orders),
                     CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
                     (SELECT min(o_orderpriority) FROM orders),
                     (SELECT max(o_orderpriority) FROM orders))
        """,
        "doc_chunks": r"""
            WITH tk AS (
              SELECT doc_id,
                     list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS t
              FROM documents),
            nz AS (SELECT doc_id, t, len(t) AS n FROM tk WHERE len(t) > 0),
            c AS (
              SELECT doc_id, t,
                     unnest(range(0,
                       CAST(floor((greatest(n - 32, 0) + 23) / 24.0) AS BIGINT)
                       + 1)) AS chunk_id
              FROM nz)
            SELECT doc_id, CAST(chunk_id AS INTEGER) AS chunk_id,
                   CAST(len(t[1 + chunk_id*24 : chunk_id*24 + 32]) AS INTEGER)
                     AS n_tokens,
                   array_to_string(t[1 + chunk_id*24 : chunk_id*24 + 32], ' ')
                     AS chunk_text
            FROM c
        """,
        "oversample_mix": """
            WITH f AS (
              SELECT doc_id, source,
                     CASE source WHEN 'src0' THEN 3.0 WHEN 'src1' THEN 2.5
                                 WHEN 'src2' THEN 0.25 ELSE 1.0 END AS p,
                     ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                       % 100 AS b
              FROM documents),
            n AS (
              SELECT source, doc_id,
                     CAST(floor(p) AS INTEGER)
                     + CASE WHEN b < round((p - floor(p)) * 100, 0)
                            THEN 1 ELSE 0 END AS nc
              FROM f)
            SELECT source, CAST(sum(nc) AS BIGINT) AS n_rows,
                   count(*) AS n_docs
            FROM n WHERE nc > 0 GROUP BY 1
        """,
        "dq_orders": """
            WITH tot AS (SELECT count(*) AS n FROM orders),
            allrules AS (
              SELECT 'totalprice_positive' AS rule,
                     (SELECT count(*) FROM orders
                      WHERE NOT (o_totalprice > 0)) AS n_violations
              UNION ALL
              SELECT 'orderdate_in_range',
                     (SELECT count(*) FROM orders
                      WHERE NOT (o_orderdate BETWEEN '1992-01-01' AND '2002-12-31'))
              UNION ALL
              SELECT 'status_known',
                     (SELECT count(*) FROM orders
                      WHERE NOT (o_orderstatus IN ('O', 'F', 'P')))
              UNION ALL
              SELECT 'custkey_in_customer',
                     (SELECT count(*) FROM orders o WHERE NOT EXISTS
                        (SELECT 1 FROM customer c
                         WHERE c.c_custkey = o.o_custkey))
              UNION ALL
              SELECT 'orderkey_unique',
                     (SELECT count(*) - count(DISTINCT o_orderkey) FROM orders))
            SELECT rule, CAST(n_violations AS BIGINT) AS n_violations,
                   floor(CAST(n_violations AS DOUBLE) / n * 1e6 + 0.5) / 1e6
                     AS violation_rate
            FROM allrules, tot
        """,
        "scd2_history": """
            WITH ch AS (
              SELECT user_id, value, ts, event_id
              FROM (SELECT *, lag(value) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id) AS prev FROM events)
              WHERE prev IS NULL OR value <> prev)
            SELECT user_id, value,
                   CAST(floor(epoch(ts)) AS BIGINT) AS valid_from_s,
                   CAST(floor(epoch(lead(ts) OVER w)) AS BIGINT) AS valid_to_s,
                   CAST(row_number() OVER w AS INTEGER) AS version,
                   lead(ts) OVER w IS NULL AS is_current
            FROM ch
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        """,
        "merge_upsert": """
            WITH upd AS (
              SELECT user_id AS c_custkey, value AS v
              FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                        ORDER BY ts DESC, event_id DESC) AS rn FROM events)
              WHERE rn = 1)
            SELECT coalesce(c.c_custkey, u.c_custkey) AS c_custkey,
                   coalesce(u.v, c.c_acctbal) AS c_acctbal,
                   c.c_nationkey,
                   CASE WHEN c.c_custkey IS NOT NULL AND u.c_custkey IS NOT NULL
                        THEN 'update'
                        WHEN u.c_custkey IS NOT NULL THEN 'insert'
                        ELSE 'keep' END AS action
            FROM customer c FULL OUTER JOIN upd u ON c.c_custkey = u.c_custkey
        """,
        "gap_fill_daily": """
            WITH daily AS (
              SELECT user_id, day, value AS v
              FROM (SELECT user_id, CAST(ts AS DATE) AS day, value,
                           row_number() OVER (
                             PARTITION BY user_id, CAST(ts AS DATE)
                             ORDER BY ts DESC, event_id DESC) AS rn
                    FROM events)
              WHERE rn = 1),
            spine AS (
              SELECT user_id,
                     CAST(unnest(generate_series(mind, maxd, INTERVAL 1 DAY))
                          AS DATE) AS day
              FROM (SELECT user_id, min(day) AS mind, max(day) AS maxd
                    FROM daily GROUP BY 1)),
            j AS (SELECT s.user_id, s.day, d.v
                  FROM spine s LEFT JOIN daily d USING (user_id, day))
            SELECT user_id, CAST(day AS VARCHAR) AS day,
                   last_value(v IGNORE NULLS) OVER (
                     PARTITION BY user_id ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS value_ffill,
                   v IS NOT NULL AS observed
            FROM j
        """,
        # Staged-window funnel: each step's min is conditioned on the
        # previous step's per-user min; epoch doubles compare exactly.
        "funnel_conversion": """
            WITH e AS (SELECT user_id, event_type, epoch(ts) AS tt FROM events),
            a AS (SELECT *, min(CASE WHEN event_type = 'view' THEN tt END)
                            OVER (PARTITION BY user_id) AS s0 FROM e),
            b AS (SELECT *, min(CASE WHEN event_type = 'click'
                                      AND tt >= s0 AND tt <= s0 + 3600
                                     THEN tt END)
                            OVER (PARTITION BY user_id) AS s1 FROM a),
            c AS (SELECT *, min(CASE WHEN event_type = 'purchase'
                                      AND tt >= s1 AND tt <= s1 + 3600
                                     THEN tt END)
                            OVER (PARTITION BY user_id) AS s2 FROM b),
            u AS (SELECT user_id, max(s0) AS s0, max(s1) AS s1, max(s2) AS s2
                  FROM c GROUP BY 1)
            SELECT count(s0) AS n_step1, count(s1) AS n_step2,
                   count(s2) AS n_step3,
                   floor(CAST(count(s1) AS DOUBLE) / count(s0) * 1e6 + 0.5) / 1e6
                     AS conv_step2,
                   floor(CAST(count(s2) AS DOUBLE) / count(s0) * 1e6 + 0.5) / 1e6
                     AS conv_step3
            FROM u
        """,
        "cross_doc_repetition": r"""
            WITH tk AS (
              SELECT doc_id,
                     list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS t
              FROM documents),
            g AS (
              SELECT DISTINCT doc_id, array_to_string(t[i:i+3], ' ') AS g
              FROM tk, LATERAL (SELECT unnest(range(1, len(t) - 2)) AS i) _
              WHERE len(t) >= 4),
            dfq AS (SELECT g, count(*) AS df FROM g GROUP BY 1)
            SELECT doc_id,
                   CAST(count(*) AS INTEGER) AS n_grams,
                   count(CASE WHEN df > 1 THEN 1 END) AS n_shared,
                   floor(CAST(count(CASE WHEN df > 1 THEN 1 END) AS DOUBLE)
                         / count(*) * 1e6 + 0.5) / 1e6 AS shared_frac
            FROM g JOIN dfq USING (g)
            GROUP BY doc_id
        """,
        "decontaminate": r"""
            WITH tk AS (
              SELECT doc_id, source,
                     list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS t
              FROM documents),
            g AS (
              SELECT DISTINCT doc_id, source, array_to_string(t[i:i+2], ' ') AS g
              FROM tk, LATERAL (SELECT unnest(range(1, len(t) - 1)) AS i) _
              WHERE len(t) >= 3),
            bench AS (SELECT DISTINCT g FROM g WHERE source = 'src0'),
            tr AS (SELECT doc_id, g FROM g WHERE source <> 'src0'),
            ng AS (SELECT doc_id, count(*) AS n_grams FROM tr GROUP BY 1),
            hits AS (SELECT doc_id, count(*) AS n_hits
                     FROM tr JOIN bench USING (g) GROUP BY 1)
            SELECT h.doc_id, CAST(n.n_grams AS INTEGER) AS n_grams, h.n_hits,
                   floor(CAST(h.n_hits AS DOUBLE) / n.n_grams * 1e6 + 0.5) / 1e6
                     AS contamination
            FROM hits h JOIN ng n USING (doc_id)
        """,
        # Integer rank threshold (not interpolated percentile — see
        # textops.quality_quantile_gate); quality rounded BEFORE ranking
        # so ties are engine-independent.
        "quality_gate": f"""
            WITH {_TEXT_FEATURES_CTE},
            q AS (
              SELECT d.doc_id, d.lang,
                     floor((0.4 * (CASE WHEN length(d.text) BETWEEN 100 AND 20000
                                        THEN 1.0
                                        WHEN length(d.text) >= 20 THEN 0.5
                                        ELSE 0.0 END)
                           + 0.3 * least(f.swr * 5.0, 1.0)
                           + 0.3 * (1.0 - f.pr)) * 1e4 + 0.5) / 1e4 AS quality
              FROM documents d JOIN feat2 f ON d.doc_id = f.doc_id),
            r AS (SELECT *,
                         row_number() OVER (PARTITION BY lang
                                            ORDER BY quality, doc_id) AS rn,
                         count(*) OVER (PARTITION BY lang) AS n
                  FROM q)
            SELECT doc_id, lang, quality FROM r WHERE rn > floor(n * 0.25)
        """,
        # The oracle uses the naive single-window global prefix sum; the
        # Spark plan's bucketed two-phase form reproduces it exactly
        # because the bucket function is monotone in doc_id and all
        # arithmetic is integer.
        "pack_shards": r"""
            WITH t AS (
              SELECT doc_id,
                     CAST(len(list_filter(string_split_regex(text, '\s+'),
                                          x -> x <> '')) AS BIGINT) AS w
              FROM documents),
            c AS (
              SELECT doc_id, w,
                     coalesce(sum(w) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
              FROM t)
            SELECT CAST(floor(CAST(cum AS DOUBLE) / 1000) AS INTEGER) AS shard_id,
                   count(*) AS n_docs, CAST(sum(w) AS BIGINT) AS shard_tokens,
                   min(doc_id) AS first_doc, max(doc_id) AS last_doc
            FROM c GROUP BY 1
        """,
        # Covariance over int8 codes: every accumulated quantity is an
        # integer (exact, order-independent), downstream doubles derived
        # in one fixed op order — a full value oracle for a second-moment
        # statistic, which float sums could never hash-match.
        "emb_covariance": """
            WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS x FROM embeddings),
            sc AS (
              SELECT vec_id, x, CASE WHEN m > 0 THEN m ELSE 1.0 END AS scale
              FROM (SELECT vec_id, x,
                           list_max(list_transform(x, v -> abs(v))) / 127.0 AS m
                    FROM e)),
            c AS (SELECT vec_id,
                         list_transform(x, v -> CAST(floor(v / scale + 0.5)
                                                     AS INTEGER)) AS q
                  FROM sc),
            ex AS (SELECT vec_id, CAST(i - 1 AS INTEGER) AS i, q[i] AS v
                   FROM c, LATERAL (SELECT unnest(range(1, len(q) + 1)) AS i) _),
            dims AS (SELECT i, CAST(sum(v) AS BIGINT) AS s, count(*) AS n
                     FROM ex GROUP BY 1),
            gram AS (SELECT a.i AS i, b.i AS j, CAST(sum(a.v * b.v) AS BIGINT) AS sp
                     FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND a.i <= b.i
                     GROUP BY 1, 2),
            dstat AS (
              SELECT d.i AS d, d.s, d.n,
                     (CAST(g.sp AS DOUBLE) - CAST(d.s AS DOUBLE) * d.s / d.n) / d.n
                       AS var
              FROM dims d JOIN gram g ON g.i = d.i AND g.j = d.i)
            SELECT g.i, g.j,
                   floor(((CAST(g.sp AS DOUBLE) - CAST(a.s AS DOUBLE) * b.s / a.n)
                          / a.n) * 1e8 + 0.5) / 1e8 AS cov,
                   CASE WHEN a.var > 0 AND b.var > 0
                        THEN floor(((CAST(g.sp AS DOUBLE)
                                     - CAST(a.s AS DOUBLE) * b.s / a.n) / a.n)
                                   / sqrt(a.var * b.var) * 1e6 + 0.5) / 1e6
                        ELSE NULL END AS corr
            FROM gram g JOIN dstat a ON g.i = a.d JOIN dstat b ON g.j = b.d
        """,
        # emb_pca bound-check form: the distributed moments are exact
        # int64/bigint quantities over the int8 codes (same CTE chain as
        # emb_covariance); trace_scaled = n^2*trace(C) pins sum(lambda),
        # frob2_scaled = n^4*||C||_F^2 pins sum(lambda^2) (HUGEINT ->
        # decimal string, matching Python bigint str); the eigh-side
        # invariants collapse to literal TRUE.
        "emb_pca": """
            WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS x FROM embeddings),
            sc AS (
              SELECT vec_id, x, CASE WHEN m > 0 THEN m ELSE 1.0 END AS scale
              FROM (SELECT vec_id, x,
                           list_max(list_transform(x, v -> abs(v))) / 127.0 AS m
                    FROM e)),
            c AS (SELECT vec_id,
                         list_transform(x, v -> CAST(floor(v / scale + 0.5)
                                                     AS INTEGER)) AS q
                  FROM sc),
            ex AS (SELECT vec_id, CAST(i - 1 AS INTEGER) AS i, q[i] AS v
                   FROM c, LATERAL (SELECT unnest(range(1, len(q) + 1)) AS i) _),
            dims AS (SELECT i, CAST(sum(v) AS BIGINT) AS s,
                            CAST(count(*) AS BIGINT) AS n
                     FROM ex GROUP BY 1),
            gram AS (SELECT a.i AS i, b.i AS j,
                            CAST(sum(a.v * b.v) AS BIGINT) AS sp
                     FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND a.i <= b.i
                     GROUP BY 1, 2),
            cs AS (SELECT g.i, g.j, (a.n * g.sp - a.s * b.s) AS cv
                   FROM gram g JOIN dims a ON g.i = a.i JOIN dims b ON g.j = b.i),
            tr AS (SELECT CAST(sum(cv) AS BIGINT) AS trace_scaled
                   FROM cs WHERE i = j),
            fr AS (SELECT sum(CAST(cv AS HUGEINT) * CAST(cv AS HUGEINT)
                              * CASE WHEN i = j THEN 1 ELSE 2 END) AS f2
                   FROM cs)
            SELECT CAST(r.component AS INTEGER) AS component,
                   tr.trace_scaled,
                   CAST(fr.f2 AS VARCHAR) AS frob2_scaled,
                   TRUE AS within_tol
            FROM range(8) r(component), tr, fr
        """,
        "text_quality_by_source": f"""
            WITH {_TEXT_FEATURES_CTE},
            q AS (
              SELECT d.source, d.lang, d.n_chars, f.tok_ws,
                     0.4 * (CASE WHEN length(d.text) BETWEEN 100 AND 20000 THEN 1.0
                                 WHEN length(d.text) >= 20 THEN 0.5 ELSE 0.0 END)
                     + 0.3 * least(f.swr * 5.0, 1.0)
                     + 0.3 * (1.0 - f.pr) AS quality
              FROM documents d JOIN feat2 f ON d.doc_id = f.doc_id)
            SELECT source, lang,
                   count(*) AS n_docs,
                   round(avg(quality), 4) AS avg_quality,
                   CAST(sum(tok_ws) AS BIGINT) AS total_tokens,
                   round(avg(n_chars), 2) AS avg_chars
            FROM q GROUP BY source, lang
        """,
        "sim_cosine_topk": """
            WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
            q AS (SELECT vec_id AS query_id, emb AS q_emb FROM e WHERE vec_id % 50 = 0),
            scored AS (
              SELECT query_id, e.vec_id AS neighbor_id,
                     list_cosine_similarity(q_emb, emb) AS sim
              FROM q JOIN e ON e.vec_id <> q.query_id)
            SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank,
                   floor(sim * 1e4 + 0.5) / 1e4 AS sim
            FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY sim DESC, neighbor_id ASC) AS rank
                  FROM scored)
            WHERE rank <= 5
        """,
        "dedup_embedding": f"""
            WITH {S.duckdb_lsh_pairs_cte(threshold=0.45)}
            SELECT b AS dup_id, min(a) AS keeper_id,
                   max(sim) AS max_sim, count(*) AS n_neighbors
            FROM pairs GROUP BY b
        """,
        "sim_cosine_topk_matmul": """
            WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
            q AS (SELECT vec_id AS query_id, emb AS q_emb FROM e WHERE vec_id % 50 = 0),
            scored AS (
              SELECT query_id, e.vec_id AS neighbor_id,
                     list_cosine_similarity(q_emb, emb) AS sim
              FROM q JOIN e ON e.vec_id <> q.query_id)
            SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank,
                   floor(sim * 1e4 + 0.5) / 1e4 AS sim
            FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY sim DESC, neighbor_id ASC) AS rank
                  FROM scored)
            WHERE rank <= 5
        """,
        # ann_lsh/ann_ivf were rows-only in round 1; the bucket/cell
        # mirrors turn them into full value-hash oracles.
        "sim_ann_lsh": S.duckdb_lsh_topk_sql(
            k=5, every=50, n_tables=16, planes_per_table=4
        ),
        "sim_ann_ivf": S.duckdb_ivf_knn_sql(
            k=5,
            centroid_every=100,
            n_max_centroids=512,
            nprobe=5,
            query_filter="vec_id % 50 = 0",
        ),
        "emb_pq_codes": S.duckdb_pq_sql(codes_only=True),
        "sim_ann_pq": S.duckdb_pq_sql(k=5, every=50),
        "sim_ann_ivfpq": S.duckdb_ivfpq_sql(),
        "ann_eval": S.duckdb_ann_eval_sql(),
        "sim_ann_multiprobe": S.duckdb_lsh_multiprobe_sql(),
        "sim_ann_filtered": S.duckdb_lsh_topk_sql(
            every=10, src="(SELECT * FROM embeddings WHERE label = 1)"
        ),
        "vocab": r"""
            WITH tok AS (
              SELECT unnest(list_filter(string_split_regex(text, '\s+'),
                                        t -> t <> '')) AS token
              FROM documents),
            counts AS (SELECT token, count(*) AS n FROM tok GROUP BY 1)
            SELECT token,
                   CAST(row_number() OVER (ORDER BY n DESC, token ASC)
                        AS INTEGER) AS token_id,
                   n
            FROM counts
            QUALIFY token_id <= 4095
        """,
        "token_ids": r"""
            WITH tk AS (
              SELECT doc_id,
                     list_filter(string_split_regex(text, '\s+'),
                                 t -> t <> '') AS t
              FROM documents),
            toks AS (
              SELECT doc_id, CAST(i AS INTEGER) AS pos, t[i + 1] AS token
              FROM tk, LATERAL (SELECT unnest(range(len(t))) AS i) _),
            counts AS (
              SELECT token, count(*) AS n FROM toks GROUP BY 1),
            vocab AS (
              SELECT token,
                     CAST(row_number() OVER (ORDER BY n DESC, token ASC)
                          AS INTEGER) AS token_id
              FROM counts
              QUALIFY token_id <= 4095)
            SELECT doc_id, pos, COALESCE(token_id, 0) AS token_id
            FROM toks LEFT JOIN vocab USING (token)
        """,
        "profile_drift": _profile_drift_oracle_sql(),
        "double_charges": """
            SELECT o_custkey,
                   CAST(datediff('day', DATE '1992-01-01', o_orderdate)
                        AS INTEGER) AS dn,
                   count(*) AS n_txns,
                   min(CAST(round(o_totalprice * 100) AS BIGINT))
                     AS min_cents,
                   max(CAST(round(o_totalprice * 100) AS BIGINT))
                     AS max_cents
            FROM orders
            GROUP BY 1, 2
            HAVING count(*) > 1
        """,
        "cycle_time_by_priority": """
            WITH cyc AS (
              SELECT o.o_orderkey, o.o_orderpriority,
                     CAST(max(datediff('day', o.o_orderdate, l.l_shipdate))
                          AS INTEGER) AS days
              FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
              GROUP BY 1, 2),
            ranked AS (
              SELECT o_orderpriority, days,
                     row_number() OVER (PARTITION BY o_orderpriority
                                        ORDER BY days, o_orderkey) AS rn,
                     count(*) OVER (PARTITION BY o_orderpriority) AS n
              FROM cyc)
            SELECT o_orderpriority, CAST(max(n) AS BIGINT) AS n_orders,
                   min(days) AS min_days,
                   max(CASE WHEN rn = CAST(ceil(n / 2) AS BIGINT)
                            THEN days END) AS median_days,
                   max(days) AS max_days
            FROM ranked GROUP BY 1
        """,
        "spend_gini": """
            WITH pc AS (
              SELECT o_custkey,
                     CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                          AS DECIMAL(38,0)) AS cents
              FROM orders GROUP BY 1),
            ranked AS (
              SELECT cents,
                     CAST(row_number() OVER (ORDER BY cents ASC,
                                             o_custkey ASC)
                          AS DECIMAL(38,0)) AS i
              FROM pc),
            agg AS (
              SELECT CAST(count(*) AS DECIMAL(38,0)) AS n,
                     sum(cents) AS tot, sum(i * cents) AS ix
              FROM ranked)
            SELECT CAST(n AS BIGINT) AS n_customers,
                   floor(CAST(2 * ix - (n + 1) * tot AS DOUBLE)
                         / CAST(n * tot AS DOUBLE) * 1e6 + 0.5) / 1e6
                     AS gini
            FROM agg
        """,
        "abc_parts": """
            WITH rev AS (
              SELECT l_partkey,
                     sum(CAST(round(l_extendedprice * (1 - l_discount)
                                    * 10000) AS BIGINT)) AS rev
              FROM lineitem GROUP BY 1),
            ranked AS (
              SELECT rev,
                     sum(rev) OVER (ORDER BY rev DESC, l_partkey ASC)
                       - rev AS cum_before
              FROM rev),
            t AS (SELECT sum(rev) AS tt FROM rev),
            cls AS (
              SELECT rev,
                     CASE WHEN cum_before * 100 < tt * 80 THEN 'A'
                          WHEN cum_before * 100 < tt * 95 THEN 'B'
                          ELSE 'C' END AS abc_class
              FROM ranked CROSS JOIN t)
            SELECT abc_class, count(*) AS n_parts,
                   CAST(sum(rev) AS BIGINT) AS class_rev
            FROM cls GROUP BY 1
        """,
        "open_orders_by_day": """
            WITH span AS (
              SELECT o.o_orderkey,
                     min(datediff('day', DATE '1992-01-01', o.o_orderdate))
                       AS start_dn,
                     max(datediff('day', DATE '1992-01-01', l.l_shipdate))
                       AS end_dn
              FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
              GROUP BY 1),
            deltas AS (
              SELECT start_dn AS dn, 1 AS d FROM span
              UNION ALL
              SELECT end_dn + 1, -1 FROM span),
            daily AS (SELECT dn, CAST(sum(d) AS BIGINT) AS delta
                      FROM deltas GROUP BY 1)
            SELECT CAST(dn AS INTEGER) AS dn, delta,
                   CAST(sum(delta) OVER (ORDER BY dn) AS BIGINT)
                     AS open_orders
            FROM daily
        """,
        "supplier_hhi": """
            WITH li AS (
              SELECT l_suppkey,
                     CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                          AS BIGINT) AS rev
              FROM lineitem),
            ps AS (
              SELECT s.s_nationkey, li.l_suppkey,
                     CAST(sum(rev) AS DECIMAL(38,0)) AS rev
              FROM li JOIN supplier s ON li.l_suppkey = s.s_suppkey
              GROUP BY 1, 2),
            agg AS (
              SELECT s_nationkey, count(*) AS n_suppliers,
                     sum(rev * rev) AS sq, sum(rev) AS tot
              FROM ps GROUP BY 1)
            SELECT s_nationkey, n_suppliers,
                   floor(CAST(sq AS DOUBLE)
                         / (CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE))
                         * 1e6 + 0.5) / 1e6 AS hhi
            FROM agg
        """,
        "rfm_segments": """
            WITH pc AS (
              SELECT o_custkey,
                     max(datediff('day', DATE '1992-01-01', o_orderdate))
                       AS last_day,
                     count(*) AS n_orders,
                     CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                          AS DOUBLE) AS spend
              FROM orders GROUP BY 1),
            seg AS (
              SELECT ntile(4) OVER (ORDER BY last_day ASC, o_custkey ASC)
                       AS r_q,
                     ntile(4) OVER (ORDER BY n_orders ASC, o_custkey ASC)
                       AS f_q,
                     ntile(4) OVER (ORDER BY spend ASC, o_custkey ASC)
                       AS m_q
              FROM pc)
            SELECT CAST(r_q AS INTEGER) AS r_q, CAST(f_q AS INTEGER) AS f_q,
                   CAST(m_q AS INTEGER) AS m_q, count(*) AS n_customers
            FROM seg GROUP BY 1, 2, 3
        """,
        "brand_cooccurrence": """
            WITH ob AS (
              SELECT DISTINCT l.l_orderkey, p.p_brand
              FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey)
            SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
                   count(*) AS n_orders
            FROM ob a JOIN ob b ON a.l_orderkey = b.l_orderkey
                              AND a.p_brand < b.p_brand
            GROUP BY 1, 2
        """,
        "benford_digits": """
            WITH d AS (
              SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100)
                                        AS BIGINT) AS VARCHAR), 1, 1)
                          AS INTEGER) AS digit
              FROM orders WHERE o_totalprice > 0),
            c AS (SELECT digit, count(*) AS n FROM d GROUP BY 1),
            t AS (SELECT CAST(sum(n) AS BIGINT) AS tt FROM c)
            SELECT digit, n,
                   floor(n * 1.0 / tt * 1e6 + 0.5) / 1e6 AS share
            FROM c CROSS JOIN t
        """,
        "users_to_date": """
            WITH fd AS (
              SELECT user_id,
                     min(CAST(datediff('day', DATE '1992-01-01',
                                       CAST(ts AS DATE)) AS INTEGER)) AS dn
              FROM events GROUP BY 1),
            daily AS (SELECT dn, count(*) AS new_users FROM fd GROUP BY 1)
            SELECT dn, new_users,
                   CAST(sum(new_users) OVER (ORDER BY dn) AS BIGINT)
                     AS cumulative_users
            FROM daily
        """,
        "event_triangles": """
            WITH tr AS (
              WITH ev AS (
                SELECT user_id, event_id, event_type, epoch(ts) AS tt
                FROM events),
              g AS (
                SELECT *, CASE WHEN prev_tt IS NULL OR tt - prev_tt > 1800.0
                               THEN 1 ELSE 0 END AS is_new
                FROM (SELECT *, lag(tt) OVER (PARTITION BY user_id
                          ORDER BY tt, event_id) AS prev_tt FROM ev)),
              sid AS (
                SELECT *, sum(is_new) OVER (PARTITION BY user_id
                          ORDER BY tt, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         AS s
                FROM g),
              p AS (
                SELECT event_type AS u, lead(event_type) OVER (
                         PARTITION BY user_id, s
                         ORDER BY tt, event_id) AS v
                FROM sid)
              SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b
              FROM p WHERE v IS NOT NULL AND u <> v),
            t AS (
              SELECT ab.a AS x, ab.b AS y, bc.b AS z
              FROM tr ab
              JOIN tr bc ON bc.a = ab.b
              JOIN tr ac ON ac.a = ab.a AND ac.b = bc.b),
            pn AS (
              SELECT node, count(*) AS n_triangles
              FROM (SELECT unnest([x, y, z]) AS node FROM t)
              GROUP BY 1),
            tot AS (SELECT count(*) AS total_triangles FROM t)
            SELECT node, n_triangles, total_triangles
            FROM pn CROSS JOIN tot
        """,
        "conversion_latency": """
            WITH base AS (
              SELECT user_id, event_type, epoch(ts) AS tt FROM events),
            s AS (SELECT user_id, min(tt) AS signup_tt
                  FROM base WHERE event_type = 'signup' GROUP BY 1),
            lat AS (
              SELECT s.user_id,
                     CAST(floor((min(p.tt) - s.signup_tt) / 3600.0) AS BIGINT)
                       AS hours_to_convert
              FROM s JOIN base p ON p.user_id = s.user_id
                 AND p.event_type = 'purchase' AND p.tt >= s.signup_tt
              GROUP BY s.user_id, s.signup_tt)
            SELECT hours_to_convert, count(*) AS n_users
            FROM lat GROUP BY 1
        """,
        "ab_test": """
            WITH pu AS (
              SELECT user_id,
                     max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                       AS converted,
                     ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                       ::BIGINT % 2 AS variant
              FROM events GROUP BY user_id),
            s AS (
              SELECT variant, count(*) AS n_users,
                     CAST(sum(converted) AS BIGINT) AS n_converted
              FROM pu GROUP BY 1),
            c AS (SELECT n_users AS cu, n_converted AS cc FROM s
                  WHERE variant = 0)
            SELECT variant, n_users, n_converted,
                   floor(n_converted * 1.0 / n_users * 1e6 + 0.5) / 1e6 AS cvr,
                   floor((n_converted * cu) * 1.0 / (cc * n_users) * 1e6 + 0.5)
                     / 1e6 AS lift_vs_control
            FROM s CROSS JOIN c
        """,
        "len_histogram_by_lang": """
            WITH b AS (SELECT min(n_chars) AS mn, max(n_chars) AS mx
                       FROM documents),
            s AS (SELECT mn,
                         CASE WHEN mx - mn <= 0 THEN 1.0 ELSE mx - mn END AS span
                  FROM b),
            c AS (SELECT lang,
                         least(9, CAST(floor((n_chars - mn) / span * 10)
                                       AS BIGINT)) AS bin,
                         count(*) AS n
                  FROM documents, s
                  WHERE n_chars IS NOT NULL GROUP BY 1, 2),
            langs AS (SELECT DISTINCT lang FROM documents),
            spine AS (SELECT unnest(range(10)) AS bin)
            SELECT langs.lang, CAST(spine.bin AS INTEGER) AS bin,
                   mn + spine.bin * span / 10 AS lo,
                   mn + (spine.bin + 1) * span / 10 AS hi,
                   COALESCE(c.n, 0) AS n
            FROM langs CROSS JOIN spine CROSS JOIN s
            LEFT JOIN c ON c.lang = langs.lang AND c.bin = spine.bin
        """,
        "session_paths3": """
            WITH e AS (
              SELECT user_id, event_id, event_type, epoch(ts) AS tt
              FROM events),
            g AS (
              SELECT *, CASE WHEN prev_tt IS NULL OR tt - prev_tt > 1800.0
                             THEN 1 ELSE 0 END AS is_new
              FROM (SELECT *, lag(tt) OVER (PARTITION BY user_id
                        ORDER BY tt, event_id) AS prev_tt FROM e)),
            s AS (
              SELECT *, sum(is_new) OVER (PARTITION BY user_id
                        ORDER BY tt, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS sid
              FROM g),
            p AS (
              SELECT event_type AS step1,
                     lead(event_type, 1) OVER (PARTITION BY user_id, sid
                                               ORDER BY tt, event_id) AS step2,
                     lead(event_type, 2) OVER (PARTITION BY user_id, sid
                                               ORDER BY tt, event_id) AS step3
              FROM s)
            SELECT step1, step2, step3, count(*) AS n_paths
            FROM p WHERE step2 IS NOT NULL AND step3 IS NOT NULL
            GROUP BY 1, 2, 3
        """,
        "dedup_rate": """
            WITH h AS (
              SELECT source, md5(lower(trim(text))) AS h FROM documents)
            SELECT source, count(*) AS n_docs,
                   CAST(count(DISTINCT h) AS BIGINT) AS n_unique,
                   floor((count(*) - count(DISTINCT h)) * 1.0 / count(*)
                         * 1e6 + 0.5) / 1e6 AS dup_ratio
            FROM h GROUP BY 1
        """,
        "oov_rate": r"""
            WITH vo AS (
              SELECT DISTINCT unnest(list_filter(
                       string_split_regex(text, '\s+'), t -> t <> '')) AS token
              FROM documents WHERE doc_id % 2 = 0),
            nt AS (
              SELECT source, unnest(list_filter(
                       string_split_regex(text, '\s+'), t -> t <> '')) AS token
              FROM documents WHERE doc_id % 2 = 1)
            SELECT source, count(*) AS n_tokens,
                   count(CASE WHEN vo.token IS NULL THEN 1 END) AS n_oov,
                   floor(count(CASE WHEN vo.token IS NULL THEN 1 END) * 1.0
                         / count(*) * 1e6 + 0.5) / 1e6 AS oov_rate
            FROM nt LEFT JOIN vo ON nt.token = vo.token
            GROUP BY 1
        """,
        "user_ema": """
            WITH r AS (
              SELECT user_id,
                     list(struct_pack(c := CAST(round(value * 100) AS BIGINT))
                          ORDER BY epoch(ts), event_id) AS recs
              FROM events GROUP BY 1),
            f AS (
              SELECT user_id,
                     list_reduce(
                       list_prepend(struct_pack(ema := -1::BIGINT,
                                                last := 0::BIGINT,
                                                n := 0::BIGINT),
                                    list_transform(recs, x ->
                                      struct_pack(ema := x.c, last := x.c,
                                                  n := 1::BIGINT))),
                       (acc, x) -> struct_pack(
                         ema := CASE WHEN acc.n = 0 THEN x.ema
                                     ELSE (x.ema + 3 * acc.ema) // 4 END,
                         last := x.last,
                         n := acc.n + 1)) AS s,
                     len(recs) AS n
              FROM r)
            SELECT user_id, s.ema AS ema_cents, s.last AS last_cents,
                   CAST(n AS BIGINT) AS n_events
            FROM f
        """,
        "histogram_drift": """
            WITH u AS (SELECT value AS v FROM events),
            b AS (SELECT min(v) AS mn, max(v) AS mx FROM u),
            s AS (SELECT mn,
                         CASE WHEN mx - mn <= 0 THEN 1.0 ELSE mx - mn END AS span
                  FROM b),
            o AS (SELECT least(19, CAST(floor((value - mn) / span * 20)
                                        AS BIGINT)) AS bin, count(*) AS n_old
                  FROM events, s
                  WHERE event_id % 2 = 0 AND value IS NOT NULL GROUP BY 1),
            n AS (SELECT least(19, CAST(floor((value - mn) / span * 20)
                                        AS BIGINT)) AS bin, count(*) AS n_new
                  FROM events, s
                  WHERE event_id % 2 = 1 AND value IS NOT NULL GROUP BY 1),
            spine AS (SELECT unnest(range(20)) AS bin),
            bins AS (
              SELECT CAST(spine.bin AS INTEGER) AS bin,
                     COALESCE(o.n_old, 0) AS n_old,
                     COALESCE(n.n_new, 0) AS n_new
              FROM spine LEFT JOIN o ON o.bin = spine.bin
                         LEFT JOIN n ON n.bin = spine.bin),
            t AS (SELECT CAST(sum(n_old) AS BIGINT) AS No,
                         CAST(sum(n_new) AS BIGINT) AS Nn,
                         CAST(sum(abs(n_old * (SELECT sum(n_new) FROM bins)
                                      - n_new * (SELECT sum(n_old) FROM bins)))
                              AS BIGINT) AS l1
                  FROM bins)
            SELECT bin, n_old, n_new,
                   floor(l1 / (2.0 * No * Nn) * 1e6 + 0.5) / 1e6 AS tvd
            FROM bins CROSS JOIN t
        """,
        "erasure_report": """
            WITH s AS (SELECT c_custkey AS id FROM customer
                       WHERE c_custkey % 100 = 0)
            SELECT 'customer' AS table_name, count(*) AS n_rows,
                   count(CASE WHEN c_custkey IN (SELECT id FROM s)
                              THEN 1 END) AS n_to_erase,
                   count(*) - count(CASE WHEN c_custkey IN (SELECT id FROM s)
                                         THEN 1 END) AS n_remaining
            FROM customer
            UNION ALL
            SELECT 'orders', count(*),
                   count(CASE WHEN o_custkey IN (SELECT id FROM s) THEN 1 END),
                   count(*) - count(CASE WHEN o_custkey IN (SELECT id FROM s)
                                         THEN 1 END)
            FROM orders
            UNION ALL
            SELECT 'events', count(*),
                   count(CASE WHEN user_id IN (SELECT id FROM s) THEN 1 END),
                   count(*) - count(CASE WHEN user_id IN (SELECT id FROM s)
                                         THEN 1 END)
            FROM events
        """,
        "skyline_orders": """
            -- sorted-pass form of the quadratic NOT-EXISTS dominance
            -- test (equivalence pinned in tests/test_round4_fixes.py):
            -- a row survives iff its price equals its day-group min AND
            -- that min is strictly below every earlier day's min
            WITH t AS (
              SELECT o_orderkey, o_totalprice,
                     CAST(datediff('day', DATE '1992-01-01', o_orderdate)
                          AS INTEGER) AS order_day
              FROM orders),
            g AS (SELECT order_day, min(o_totalprice) AS gy
                  FROM t GROUP BY 1),
            fr AS (SELECT order_day, gy,
                          min(gy) OVER (ORDER BY order_day
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING) AS prev
                   FROM g)
            SELECT q.o_orderkey, q.o_totalprice, q.order_day
            FROM t q JOIN fr
              ON q.order_day = fr.order_day AND q.o_totalprice = fr.gy
            WHERE fr.prev IS NULL OR fr.gy < fr.prev
        """,
        # Wildcard-key (FastSS-style substitution-neighborhood)
        # blocking mirror of relational.entity_match_pairs: key p =
        # name with char p sentinel-replaced; a shared key == one
        # substitution apart (equal strings share every key, deduped);
        # blocks over the max_block=1000 cap drop on BOTH sides.
        "entity_match": """
            WITH w AS (
              SELECT c_custkey AS k, c_name AS nm, c_nationkey,
                     unnest(range(1, length(c_name) + 1)) AS p
              FROM customer),
            b AS (
              SELECT k, nm, c_nationkey, p,
                     substr(nm, 1, CAST(p AS INTEGER) - 1) || chr(1) ||
                     substr(nm, CAST(p AS INTEGER) + 1) AS wkey
              FROM w),
            capped AS (
              SELECT * FROM (
                SELECT *, COUNT(*) OVER (
                  PARTITION BY p, wkey, c_nationkey) AS bsz
                FROM b)
              WHERE bsz <= 1000)
            SELECT DISTINCT x.k AS a, y.k AS b,
                   CAST(levenshtein(x.nm, y.nm) AS INTEGER) AS edit_distance
            FROM capped x JOIN capped y
              ON x.p = y.p AND x.wkey = y.wkey
                 AND x.c_nationkey = y.c_nationkey AND x.k < y.k
            WHERE levenshtein(x.nm, y.nm) <= 1
        """,
        "snapshot_diff": """
            WITH o AS (SELECT o_orderkey, o_custkey, o_totalprice,
                              o_orderstatus
                       FROM orders WHERE o_orderkey % 7 <> 0),
            n AS (SELECT o_orderkey, o_custkey,
                         CASE WHEN o_orderkey % 3 = 0
                              THEN o_totalprice + 1.0
                              ELSE o_totalprice END AS o_totalprice,
                         o_orderstatus
                  FROM orders WHERE o_orderkey % 5 <> 0)
            SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
                   CASE WHEN o.o_orderkey IS NULL THEN 'insert'
                        WHEN n.o_orderkey IS NULL THEN 'delete'
                        WHEN o.o_custkey IS DISTINCT FROM n.o_custkey
                          OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
                          OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
                        THEN 'update' END AS op
            FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey
            WHERE CASE WHEN o.o_orderkey IS NULL THEN 'insert'
                       WHEN n.o_orderkey IS NULL THEN 'delete'
                       WHEN o.o_custkey IS DISTINCT FROM n.o_custkey
                         OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
                         OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
                       THEN 'update' END IS NOT NULL
        """,
        "mixture_weights": r"""
            WITH tk AS (
              SELECT source,
                     len(list_filter(string_split_regex(text, '\s+'),
                                     t -> t <> '')) AS nt
              FROM documents),
            counts AS (SELECT source, CAST(sum(nt) AS BIGINT) AS n_tokens
                       FROM tk GROUP BY 1),
            consts AS (
              SELECT CAST(list_reduce(
                       list(sqrt(CAST(n_tokens AS DOUBLE)) ORDER BY source),
                       (a, b) -> a + b) AS DOUBLE) AS tw,
                     CAST(sum(n_tokens) AS BIGINT) AS tn
              FROM counts)
            SELECT source, n_tokens,
                   floor(CAST(n_tokens AS DOUBLE) / tn * 1e6 + 0.5) / 1e6
                     AS share_natural,
                   floor(sqrt(CAST(n_tokens AS DOUBLE)) / tw * 1e6 + 0.5) / 1e6
                     AS share_temp,
                   floor((sqrt(CAST(n_tokens AS DOUBLE)) / tw)
                         / (CAST(n_tokens AS DOUBLE) / tn) * 1e4 + 0.5) / 1e4
                     AS boost
            FROM counts CROSS JOIN consts
        """,
        "pii_audit": _pii_audit_oracle_sql(),
        "pii_scrub": _pii_scrub_oracle_sql(),
        "simhash_near_pairs": r"""
            WITH toks AS (
              SELECT doc_id,
                     unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                        t -> t <> '')) AS tok
              FROM documents
            ),
            hashed AS (
              SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h FROM toks
            ),
            bits AS (
              SELECT doc_id, i,
                     sum(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS s
              FROM hashed, (SELECT unnest(range(32)) AS i) _
              GROUP BY doc_id, i
            ),
            sh AS (
              SELECT doc_id,
                     CAST(sum(CASE WHEN s >= 0 THEN (1::BIGINT << i) ELSE 0 END)
                          AS BIGINT) AS simhash
              FROM bits GROUP BY doc_id
            ),
            blocks AS (
              SELECT doc_id, simhash, blk,
                     (simhash >> (blk * 8)) & 255 AS blkval
              FROM sh, (SELECT unnest(range(4)) AS blk) _
            )
            SELECT a, b, hamming FROM (
              SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
                     CAST(bit_count(xor(x.simhash, y.simhash)) AS INTEGER)
                         AS hamming
              FROM blocks x JOIN blocks y
                ON x.blk = y.blk AND x.blkval = y.blkval
                   AND x.doc_id < y.doc_id)
            WHERE hamming <= 3
        """,
        # The LSH near-pair family's oracle MIRRORS the bucketing (same
        # hyperplane literals, bucket math, cap, dedup, verify — bit-
        # validated), so the exact value-hash gate applies to the
        # operator's real approximate-candidates contract, not to a
        # brute-force stand-in it could never equal on isotropic data.
        "sim_near_pairs": f"""
            WITH {S.duckdb_lsh_pairs_cte(threshold=0.45)}
            SELECT a, b, sim FROM pairs
        """,
        "binary_meta": """
            SELECT doc_id,
                   CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
                   sha256(text) AS sha256,
                   substr(to_base64(encode(text)), 1, 24) AS b64_prefix
            FROM documents
        """,
        # The Spark side of dedup_clusters is a driver-side iterative
        # min-label loop (no SQL form in Spark without recursion), but the
        # RESULT is plain transitive closure — DuckDB's recursive CTE
        # reaches the same fixpoint, so it still gets a full value oracle.
        "dedup_canonical": f"""
            WITH RECURSIVE
            {S.duckdb_lsh_pairs_cte(threshold=0.45)},
            p AS (SELECT a, b FROM pairs),
            ed AS (SELECT a AS u, b AS v FROM p
                   UNION ALL SELECT b AS u, a AS v FROM p),
            n AS (SELECT DISTINCT u AS node FROM ed),
            reach AS (
              SELECT node AS src, node AS dst FROM n
              UNION
              SELECT r.src, ed.v AS dst FROM reach r JOIN ed ON r.dst = ed.u),
            comp AS (
              SELECT src AS doc_id, MIN(dst) AS component
              FROM reach GROUP BY src)
            SELECT component, count(*) AS n_members
            FROM (SELECT e.vec_id AS doc_id,
                         COALESCE(c.component, e.vec_id) AS component
                  FROM e LEFT JOIN comp c ON e.vec_id = c.doc_id)
            GROUP BY component
        """,
        "dedup_clusters": f"""
            WITH RECURSIVE
            {S.duckdb_lsh_pairs_cte(threshold=0.45)},
            p AS (SELECT a, b FROM pairs),
            ed AS (SELECT a AS u, b AS v FROM p
                   UNION ALL SELECT b AS u, a AS v FROM p),
            n AS (SELECT DISTINCT u AS node FROM ed),
            reach AS (
              SELECT node AS src, node AS dst FROM n
              UNION
              SELECT r.src, ed.v AS dst FROM reach r JOIN ed ON r.dst = ed.u)
            SELECT src AS doc_id, MIN(dst) AS component
            FROM reach GROUP BY src
        """,
        # The fake decoder is deterministic byte math (len % 640, sum of
        # first 16 bytes % 480, sha256[:16]) precisely so the Arrow/
        # mapInPandas plumbing gets a REAL value oracle: DuckDB recomputes
        # the byte sum from the hex dump of the utf-8 payload.
        "multimodal_decode": """
            WITH m AS (
              SELECT doc_id, 'image' AS media_type,
                     CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                     substr(lower(hex(encode(text))), 1, 32) AS h,
                     substr(sha256(text), 1, 16) AS checksum
              FROM documents)
            SELECT doc_id, media_type, n_bytes,
                   CAST((n_bytes % 640) + 1 AS BIGINT) AS width,
                   CAST((COALESCE(list_sum(
                       [(strpos('0123456789abcdef', h[i+1:i+1]) - 1) *
                        (CASE WHEN i % 2 = 0 THEN 16 ELSE 1 END)
                        for i in range(0, length(h))]), 0) % 480) + 1
                     AS BIGINT) AS height,
                   checksum
            FROM m
        """,
        # 63-bit average-hash recomputed from the hex dump with INTEGER
        # compares (63*byte >= total — no float mean), then the same
        # 9x7-bit block join + Hamming verify as the Spark side.
        "multimodal_phash_pairs": r"""
            WITH m AS (
              SELECT doc_id,
                     CAST(octet_length(encode(text)) AS BIGINT) AS n,
                     lower(hex(encode(text))) AS h
              FROM documents),
            sampled AS (
              SELECT doc_id,
                     [ (strpos('0123456789abcdef',
                          h[2*((j*n)//63)+1 : 2*((j*n)//63)+1]) - 1) * 16
                       + (strpos('0123456789abcdef',
                          h[2*((j*n)//63)+2 : 2*((j*n)//63)+2]) - 1)
                       for j in range(0, 63) ] AS bs
              FROM m WHERE n > 0),
            ph AS (
              SELECT doc_id,
                     CAST(COALESCE(list_sum(
                       [CASE WHEN 63 * bs[j+1] >= total
                             THEN (1::BIGINT << j) ELSE 0::BIGINT END
                        for j in range(0, 63)]), 0) AS BIGINT) AS phash
              FROM (SELECT doc_id, bs,
                           CAST(list_sum(bs) AS BIGINT) AS total
                    FROM sampled)
              UNION ALL
              SELECT doc_id, 0::BIGINT AS phash FROM m WHERE n = 0),
            blocks AS (
              SELECT doc_id, phash, blk,
                     (phash >> (blk * 7)) & 127 AS blkval
              FROM ph, (SELECT unnest(range(9)) AS blk) _
            )
            SELECT a, b, hamming FROM (
              SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
                     CAST(bit_count(xor(x.phash, y.phash)) AS INTEGER)
                         AS hamming
              FROM blocks x JOIN blocks y
                ON x.blk = y.blk AND x.blkval = y.blkval
                   AND x.doc_id < y.doc_id)
            WHERE hamming <= 8
        """,
        # Frame i = bytes [i*256, i*256+L), L = least(256, n - i*256);
        # per-frame 63-bit average-hash over stride-sampled frame bytes
        # (same integer compare as the image pHash), then the 9x7-bit
        # block join over FRAME pairs, counted per video pair.
        "multimodal_video_pairs": r"""
            WITH m AS (
              SELECT doc_id,
                     CAST(octet_length(encode(text)) AS BIGINT) AS n,
                     lower(hex(encode(text))) AS h
              FROM documents),
            fr AS (
              SELECT doc_id, h, i, least(256, n - i * 256) AS L
              FROM m, LATERAL (SELECT unnest(range(
                   greatest(n // 256, 1))) AS i) _),
            sampled AS (
              SELECT doc_id, i,
                     [ (strpos('0123456789abcdef',
                          h[2*(i*256 + (j*L)//63)+1 : 2*(i*256 + (j*L)//63)+1]) - 1) * 16
                       + (strpos('0123456789abcdef',
                          h[2*(i*256 + (j*L)//63)+2 : 2*(i*256 + (j*L)//63)+2]) - 1)
                       for j in range(0, 63) ] AS bs
              FROM fr WHERE L > 0),
            ph AS (
              SELECT doc_id, i,
                     CAST(COALESCE(list_sum(
                       [CASE WHEN 63 * bs[j+1] >= total
                             THEN (1::BIGINT << j) ELSE 0::BIGINT END
                        for j in range(0, 63)]), 0) AS BIGINT) AS phash
              FROM (SELECT doc_id, i, bs,
                           CAST(list_sum(bs) AS BIGINT) AS total
                    FROM sampled)
              UNION ALL
              SELECT doc_id, i, 0::BIGINT FROM fr WHERE L = 0),
            blocks AS (
              SELECT doc_id, i, phash, blk,
                     (phash >> (blk * 7)) & 127 AS blkval
              FROM ph, (SELECT unnest(range(9)) AS blk) _),
            matched AS (
              SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
                     x.i AS fa, y.i AS fb,
                     bit_count(xor(x.phash, y.phash)) AS hamming
              FROM blocks x JOIN blocks y
                ON x.blk = y.blk AND x.blkval = y.blkval
                   AND x.doc_id < y.doc_id)
            SELECT a, b, count(*) AS n_matched
            FROM matched WHERE hamming <= 8
            GROUP BY a, b
        """,
        # One fake frame per 256-byte block, sampled every 4: frame i is
        # bytes [i*256, (i+1)*256), so its length is min(256, n - i*256);
        # n < 256 degenerates to a single short frame 0.
        "multimodal_frame_sample": """
            WITH m AS (
              SELECT doc_id,
                     CAST(octet_length(encode(text)) AS BIGINT) AS n
              FROM documents)
            SELECT doc_id, CAST(i AS BIGINT) AS frame_idx,
                   CAST(least(256, n - i * 256) AS INTEGER) AS frame_n_bytes
            FROM (SELECT doc_id, n,
                         unnest(range(0, greatest(n // 256, 1), 4)) AS i
                  FROM m)
        """,
        # Windowed PCM energy recomputed byte-by-byte from the hex dump
        # (integer sums — the Arrow stage accumulates in int64, so the
        # values match exactly).
        "multimodal_audio_energy": """
            WITH m AS (
              SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n,
                     lower(hex(encode(text))) AS h
              FROM documents),
            w AS (
              SELECT doc_id, n, h,
                     unnest(range(0, greatest((n + 255) // 256, 1))) AS w
              FROM m),
            b AS (
              SELECT doc_id, w,
                     [ (strpos('0123456789abcdef', h[2*i+1:2*i+1]) - 1) * 16
                       + (strpos('0123456789abcdef', h[2*i+2:2*i+2]) - 1)
                       for i in range(w*256, least(n, w*256 + 256)) ] AS vals
              FROM w)
            SELECT doc_id, CAST(w AS BIGINT) AS win,
                   CAST(len(vals) AS BIGINT) AS n_samples,
                   CAST(list_sum(vals) AS BIGINT) AS energy,
                   CAST(list_max(vals) AS BIGINT) AS peak
            FROM b WHERE len(vals) > 0
        """,
        # round-3 additions ------------------------------------------
        "dsir_weights": r"""
            WITH toks AS (
              SELECT doc_id, lang,
                     unnest(list_filter(string_split_regex(text, '\s+'),
                                        t -> t <> '')) AS tok
              FROM documents),
            b AS (SELECT doc_id, lang,
                         ('0x' || substr(md5(tok), 1, 8))::BIGINT % 256
                             AS bkt
                  FROM toks),
            m AS (SELECT bkt,
                         count(*) + 1 AS r1,
                         count(*) FILTER (WHERE lang = 'en') + 1 AS t1
                  FROM b GROUP BY 1),
            -- dense-model totals: buckets absent from m hold the Laplace
            -- prior 1 on both sides (mirrors sampling.dsir_score's pad)
            tot AS (SELECT CAST(sum(r1) + (256 - count(*)) AS BIGINT) AS nr,
                           CAST(sum(t1) + (256 - count(*)) AS BIGINT) AS nt
                    FROM m),
            sc AS (SELECT b.doc_id,
                          CAST(count(*) AS INTEGER) AS n_toks,
                          CAST(sum(coalesce(m.t1, 1)) AS BIGINT) AS st,
                          CAST(sum(coalesce(m.r1, 1)) AS BIGINT) AS sr
                   FROM b LEFT JOIN m USING (bkt) GROUP BY 1)
            SELECT doc_id, n_toks,
                   floor(CAST(st * nr AS DOUBLE) / (sr * nt) * 1e6 + 0.5)
                       / 1e6 AS importance
            FROM sc, tot
        """,
        "tokenizer_fertility": r"""
            WITH per AS (
              SELECT lang,
                     len(list_filter(string_split_regex(text, '\s+'),
                                     t -> t <> '')) AS ws,
                     len(regexp_extract_all(text,
                         '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]', 0)) AS bpe
              FROM documents)
            SELECT lang,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(ws) AS BIGINT) AS n_words,
                   CAST(sum(bpe) AS BIGINT) AS n_subwords,
                   floor(CAST(sum(bpe) AS DOUBLE) / sum(ws) * 1e6 + 0.5)
                       / 1e6 AS fertility
            FROM per GROUP BY 1
            HAVING sum(ws) > 0
        """,
        "image_gate": r"""
            WITH m AS (
              SELECT d.doc_id, d.source,
                     CAST(octet_length(encode(d.text)) AS BIGINT) AS n_bytes,
                     substr(lower(hex(encode(d.text))), 1, 32) AS h
              FROM documents d),
            dims AS (
              SELECT doc_id, source,
                     (n_bytes % 640) + 1 AS w,
                     (COALESCE(list_sum(
                         [(strpos('0123456789abcdef', h[i+1:i+1]) - 1) *
                          (CASE WHEN i % 2 = 0 THEN 16 ELSE 1 END)
                          for i in range(0, length(h))]), 0) % 480) + 1 AS ht
              FROM m)
            SELECT source,
                   CAST(count(*) AS BIGINT) AS n_images,
                   CAST(sum(CASE WHEN w >= 32 AND ht >= 32
                                  AND greatest(w, ht) <= 3 * least(w, ht)
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
                   CAST(sum(CASE WHEN w >= 32 AND ht >= 32
                                  AND greatest(w, ht) <= 3 * least(w, ht)
                            THEN 1 ELSE 0 END) AS BIGINT) * 1000000
                       // count(*) AS pass_ppm
            FROM dims GROUP BY 1
        """,
        "value_p50_check": r"""
            WITH b AS (SELECT event_type AS g,
                              CAST(round(value * 100) AS BIGINT) AS c
                       FROM events),
            vc AS (SELECT g, c, count(*) AS cnt FROM b GROUP BY 1, 2),
            cum AS (SELECT g, c,
                           sum(cnt) OVER (PARTITION BY g ORDER BY c) AS cum,
                           sum(cnt) OVER (PARTITION BY g) AS tot
                    FROM vc),
            med AS (SELECT g, min(c) AS exact_p50_cents
                    FROM cum WHERE 2 * cum >= tot GROUP BY 1),
            n AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY 1)
            SELECT n.g AS event_type, n.n, med.exact_p50_cents,
                   TRUE AS within_bound
            FROM n JOIN med ON n.g = med.g
        """,
        "cross_source_dups": f"""
            SELECT p.a, p.b, da.source AS source_a, db.source AS source_b,
                   p.jaccard
            FROM ({_minhash_lsh_oracle_sql()}) p
            JOIN documents da ON da.doc_id = p.a
            JOIN documents db ON db.doc_id = p.b
            WHERE da.source <> db.source
        """,
        "dedup_keeper_quality": r"""
            WITH feat AS (
              SELECT doc_id, source, md5(lower(trim(text))) AS content_md5,
                     CAST(floor((0.4 * (CASE WHEN length(text)
                                              BETWEEN 100 AND 20000
                                          THEN 1.0
                                          WHEN length(text) >= 20
                                          THEN 0.5 ELSE 0.0 END)
                             + 0.3 * least((CASE WHEN len(
                                   list_filter(string_split_regex(text,
                                               '\s+'), t -> t <> '')) > 0
                                 THEN len(list_filter(
                                      list_filter(string_split_regex(text,
                                                  '\s+'), t -> t <> ''),
                                      t -> lower(t) IN
                                      ('the','a','of','and','to','in','is',
                                       'it','for','on'))) * 1.0
                                      / len(list_filter(
                                        string_split_regex(text, '\s+'),
                                        t -> t <> ''))
                                 ELSE 0.0 END) * 5.0, 1.0)
                             + 0.3 * (1.0 - (CASE WHEN length(
                                   regexp_replace(text, '\s', '', 'g')) > 0
                                 THEN (length(regexp_replace(text, '\s',
                                              '', 'g'))
                                       - length(regexp_replace(text,
                                         '[^A-Za-z0-9]', '', 'g'))) * 1.0
                                      / length(regexp_replace(text, '\s',
                                               '', 'g'))
                                 ELSE 0.0 END))) * 1e4 + 0.5)
                       AS BIGINT) AS q4
              FROM documents),
            r AS (SELECT *,
                         row_number() OVER (PARTITION BY content_md5
                                            ORDER BY q4 DESC, doc_id) AS rn,
                         count(*) OVER (PARTITION BY content_md5)
                             AS n_copies
                  FROM feat)
            SELECT doc_id, source, content_md5, q4,
                   CAST(n_copies AS BIGINT) AS n_copies
            FROM r WHERE rn = 1
        """,
        "contamination_report": r"""
            WITH tk AS (
              SELECT doc_id, source,
                     list_filter(string_split_regex(text, '\s+'),
                                 t -> t <> '') AS t
              FROM documents),
            g AS (
              SELECT DISTINCT doc_id, source,
                     array_to_string(t[i:i+2], ' ') AS g
              FROM tk, LATERAL (SELECT unnest(range(1, len(t) - 1)) AS i) _
              WHERE len(t) >= 3),
            bench AS (SELECT DISTINCT g FROM g WHERE source = 'src0'),
            tr AS (SELECT doc_id, g FROM g WHERE source <> 'src0'),
            hit_docs AS (SELECT DISTINCT doc_id
                         FROM tr JOIN bench USING (g)),
            train AS (SELECT doc_id, source FROM documents
                      WHERE source <> 'src0'),
            per AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
                    FROM train GROUP BY 1),
            cont AS (SELECT t.source,
                            CAST(count(*) AS BIGINT) AS n_contaminated
                     FROM train t JOIN hit_docs USING (doc_id) GROUP BY 1)
            SELECT p.source, p.n_docs,
                   COALESCE(c.n_contaminated, 0) AS n_contaminated,
                   COALESCE(c.n_contaminated, 0) * 1000000 // p.n_docs
                       AS contam_ppm
            FROM per p LEFT JOIN cont c ON p.source = c.source
        """,
        # Every registered query above carries an exact oracle as of
        # round 3: hll_user_rollup / approx_distinct_users / emb_pca
        # moved from rows-only to bound-check / integer-moment forms
        # (see their entries). Zero rows-only carve-outs remain.
    }
    # The bloom prefilter changes no output values (false positives are
    # dropped by the exact verify) — the oracle is the exact form's SQL.
    out["decontaminate_bloom"] = out["decontaminate"]
    # Eval twin composed FROM the two pair oracles so it can never
    # drift from them.
    out["dedup_eval"] = f"""
        WITH ex AS (SELECT a, b FROM ({out["dedup_ngram_jaccard"]})),
        ap AS (SELECT a, b FROM ({out["dedup_minhash_lsh"]})),
        ce AS (SELECT count(*) AS n_exact FROM ex),
        ca AS (SELECT count(*) AS n_approx FROM ap),
        cm AS (SELECT count(*) AS n_matched FROM ap JOIN ex USING (a, b))
        SELECT n_exact, n_approx, n_matched,
               floor(n_matched * 1.0 / n_approx * 1e6 + 0.5) / 1e6
                 AS precision,
               floor(n_matched * 1.0 / n_exact * 1e6 + 0.5) / 1e6 AS recall
        FROM ce CROSS JOIN ca CROSS JOIN cm
    """
    # RRF composes the validated BM25 oracle verbatim; quality ranking
    # reuses the exact expression text_doc_stats already validates.
    out["rrf_hybrid"] = f"""
        WITH brank AS (
          SELECT doc_id, rank AS rank_bm25 FROM ({out["text_bm25"]})),
        qf AS (
          SELECT doc_id,
                 length(text) AS nchars,
                 list_filter(string_split_regex(text, '\\s+'),
                             t -> t <> '') AS tk,
                 length(regexp_replace(text, '\\s', '', 'g')) AS nonspace,
                 length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g'))
                     AS alnum
          FROM documents),
        q2 AS (
          SELECT doc_id,
                 floor((0.4 * (CASE WHEN nchars BETWEEN 100 AND 20000
                                    THEN 1.0
                                    WHEN nchars >= 20 THEN 0.5
                                    ELSE 0.0 END)
                       + 0.3 * least((CASE WHEN len(tk) > 0
                                THEN len(list_filter(tk, t -> lower(t) IN
                                     ('the','a','of','and','to','in','is',
                                      'it','for','on'))) * 1.0 / len(tk)
                                ELSE 0.0 END) * 5.0, 1.0)
                       + 0.3 * (1.0 - (CASE WHEN nonspace > 0
                                THEN (nonspace - alnum) * 1.0 / nonspace
                                ELSE 0.0 END))) * 1e4 + 0.5) / 1e4 AS q
          FROM qf),
        qtop AS (SELECT doc_id, q FROM q2 ORDER BY q DESC, doc_id LIMIT 100),
        qrank AS (
          SELECT doc_id,
                 CAST(row_number() OVER (ORDER BY q DESC, doc_id)
                      AS INTEGER) AS rank_q
          FROM qtop),
        fused AS (
          SELECT doc_id, rank_bm25, rank_q,
                 floor((coalesce(CAST(1.0 AS DOUBLE) / (60 + rank_bm25),
                                 CAST(0.0 AS DOUBLE))
                        + coalesce(CAST(1.0 AS DOUBLE) / (60 + rank_q),
                                   CAST(0.0 AS DOUBLE))) * 1e6 + 0.5) / 1e6
                     AS rrf
          FROM brank FULL OUTER JOIN qrank USING (doc_id)),
        ftop AS (SELECT * FROM fused ORDER BY rrf DESC, doc_id LIMIT 50)
        SELECT CAST(row_number() OVER (ORDER BY rrf DESC, doc_id)
                    AS INTEGER) AS fused_rank,
               doc_id, rrf,
               CAST(coalesce(rank_bm25, 0) AS INTEGER) AS rank_bm25,
               CAST(coalesce(rank_q, 0) AS INTEGER) AS rank_q
        FROM ftop
    """
    # Consensus composes the two validated pair oracles verbatim.
    out["multimodal_dup_consensus"] = f"""
        SELECT a, b,
               CAST((tp.jaccard IS NOT NULL) AS INTEGER)
               + CAST((ip.hamming IS NOT NULL) AS INTEGER) AS n_signals,
               coalesce(tp.jaccard, CAST(-1.0 AS DOUBLE)) AS jaccard,
               CAST(coalesce(ip.hamming, -1) AS INTEGER) AS hamming
        FROM ({out["dedup_minhash_lsh"]}) tp
        FULL OUTER JOIN ({out["multimodal_phash_pairs"]}) ip USING (a, b)
    """
    # LPA unrolls the EXACT rounds the Spark loop runs — same integer
    # argmax, same tie-break, so an iterative algorithm carries a full
    # value oracle.
    out["part_communities"] = """
        WITH e0 AS (
          SELECT l_orderkey AS ok, l_partkey AS pk
          FROM lineitem GROUP BY 1, 2),
        ed AS (
          SELECT x.pk AS a, y.pk AS b, count(*) AS w
          FROM e0 x JOIN e0 y ON x.ok = y.ok AND x.pk < y.pk
          GROUP BY 1, 2 HAVING count(*) >= 2),
        und AS (SELECT a, b, w FROM ed
                UNION ALL SELECT b, a, w FROM ed),
        l0 AS (SELECT DISTINCT a AS node, a AS label FROM und),
        c1 AS (
          SELECT u.a AS node, l.label, CAST(sum(u.w) AS BIGINT) AS lw
          FROM und u JOIN l0 l ON u.b = l.node GROUP BY 1, 2),
        p1 AS (
          SELECT node, label AS new_label FROM (
            SELECT node, label,
                   row_number() OVER (PARTITION BY node
                                      ORDER BY lw DESC, label) AS rn
            FROM c1) WHERE rn = 1),
        l1 AS (
          SELECT l.node, coalesce(p.new_label, l.label) AS label
          FROM l0 l LEFT JOIN p1 p USING (node)),
        c2 AS (
          SELECT u.a AS node, l.label, CAST(sum(u.w) AS BIGINT) AS lw
          FROM und u JOIN l1 l ON u.b = l.node GROUP BY 1, 2),
        p2 AS (
          SELECT node, label AS new_label FROM (
            SELECT node, label,
                   row_number() OVER (PARTITION BY node
                                      ORDER BY lw DESC, label) AS rn
            FROM c2) WHERE rn = 1),
        l2 AS (
          SELECT l.node, coalesce(p.new_label, l.label) AS label
          FROM l1 l LEFT JOIN p2 p USING (node)),
        c3 AS (
          SELECT u.a AS node, l.label, CAST(sum(u.w) AS BIGINT) AS lw
          FROM und u JOIN l2 l ON u.b = l.node GROUP BY 1, 2),
        p3 AS (
          SELECT node, label AS new_label FROM (
            SELECT node, label,
                   row_number() OVER (PARTITION BY node
                                      ORDER BY lw DESC, label) AS rn
            FROM c3) WHERE rn = 1),
        l3 AS (
          SELECT l.node, coalesce(p.new_label, l.label) AS label
          FROM l2 l LEFT JOIN p3 p USING (node))
        SELECT node AS part, label AS community FROM l3
    """
    # k-core unrolls the EXACT peel rounds the Spark loop runs.
    out["part_kcore"] = """
        WITH e0 AS (
          SELECT l_orderkey AS ok, l_partkey AS pk
          FROM lineitem GROUP BY 1, 2),
        ed AS (
          SELECT x.pk AS a, y.pk AS b, count(*) AS w
          FROM e0 x JOIN e0 y ON x.ok = y.ok AND x.pk < y.pk
          GROUP BY 1, 2 HAVING count(*) >= 2),
        u0 AS (SELECT a, b FROM ed UNION ALL SELECT b, a FROM ed),
        d1 AS (SELECT a, count(*) AS deg FROM u0 GROUP BY 1),
        k1 AS (SELECT a FROM d1 WHERE deg >= 3),
        u1 AS (
          SELECT u.a, u.b FROM u0 u
          JOIN k1 x ON u.a = x.a
          JOIN k1 y ON u.b = y.a),
        d2 AS (SELECT a, count(*) AS deg FROM u1 GROUP BY 1),
        k2 AS (SELECT a FROM d2 WHERE deg >= 3),
        u2 AS (
          SELECT u.a, u.b FROM u1 u
          JOIN k2 x ON u.a = x.a
          JOIN k2 y ON u.b = y.a),
        d3 AS (SELECT a, count(*) AS deg FROM u2 GROUP BY 1),
        k3 AS (SELECT a FROM d3 WHERE deg >= 3),
        u3 AS (
          SELECT u.a, u.b FROM u2 u
          JOIN k3 x ON u.a = x.a
          JOIN k3 y ON u.b = y.a)
        SELECT a AS node, CAST(count(*) AS BIGINT) AS core_deg
        FROM u3 GROUP BY 1
    """
    out["part_reach_hops"] = """
        WITH RECURSIVE e0 AS (
          SELECT l_orderkey AS ok, l_partkey AS pk
          FROM lineitem GROUP BY 1, 2),
        ed AS (
          SELECT x.pk AS a, y.pk AS b
          FROM e0 x JOIN e0 y ON x.ok = y.ok AND x.pk < y.pk
          GROUP BY 1, 2 HAVING count(*) >= 2),
        und AS (SELECT a, b FROM ed UNION ALL SELECT b, a FROM ed),
        deg AS (SELECT a, count(*) AS deg FROM und GROUP BY 1),
        reach(node, hop) AS (
          SELECT min(a), 0 FROM deg
          WHERE deg = (SELECT max(deg) FROM deg)
          UNION
          SELECT u.b, r.hop + 1
          FROM reach r JOIN und u ON u.a = r.node
          WHERE r.hop < 4)
        SELECT node, CAST(min(hop) AS INTEGER) AS hop
        FROM reach GROUP BY 1
    """
    out["retrieval_label_eval"] = """
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb, label
                   FROM embeddings),
        q AS (SELECT vec_id AS query_id, emb AS q_emb, label AS q_label
              FROM e WHERE vec_id % 50 = 0),
        scored AS (SELECT query_id, q_label, e.vec_id AS neighbor_id,
                          e.label AS n_label,
                          list_cosine_similarity(q_emb, emb) AS sim
                   FROM q JOIN e ON e.vec_id <> q.query_id),
        tk AS (SELECT query_id, q_label, n_label, rank FROM
                (SELECT *, row_number() OVER (PARTITION BY query_id
                     ORDER BY sim DESC, neighbor_id ASC) AS rank
                 FROM scored)
               WHERE rank <= 10),
        r AS (SELECT query_id, q_label, rank,
                     CASE WHEN n_label = q_label THEN 1 ELSE 0 END AS rel
              FROM tk),
        c AS (SELECT query_id, q_label, rank, rel,
                     sum(rel) OVER (PARTITION BY query_id
                                    ORDER BY rank) AS hits
              FROM r),
        pq AS (SELECT query_id, q_label,
                      sum(rel) AS n_rel,
                      sum(CASE WHEN rel = 1
                          THEN (2520 // rank) * hits ELSE 0 END) AS ap2520,
                      min(CASE WHEN rel = 1 THEN rank END) AS first_rel
               FROM c GROUP BY 1, 2)
        SELECT q_label AS label,
               CAST(count(*) AS BIGINT) AS n_queries,
               CAST(sum(n_rel) AS BIGINT) AS n_rel_at_k,
               CAST(sum(CASE WHEN first_rel IS NOT NULL
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
               floor(sum(n_rel) * 1.0 / (10 * count(*)) * 1e6 + 0.5) / 1e6
                 AS precision_at_k,
               floor(sum(ap2520) * 1.0 / (CAST(2520 * 10 * count(*) AS BIGINT))
                     * 1e6 + 0.5) / 1e6 AS map_at_k,
               floor(sum(CASE WHEN first_rel IS NOT NULL
                         THEN 2520 // first_rel ELSE 0 END) * 1.0
                     / (CAST(2520 * count(*) AS BIGINT)) * 1e6 + 0.5) / 1e6
                 AS mrr_at_k
        FROM pq GROUP BY 1
    """
    out["dedup_edit_verify"] = f"""
        WITH cmp AS (
          SELECT doc_id,
                 substr(trim(regexp_replace(regexp_replace(lower(text),
                        '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')),
                        1, 2000) AS t
          FROM documents),
        p AS (SELECT * FROM ({_minhash_lsh_oracle_sql(0.5)}) mh),
        d AS (SELECT p.a, p.b, p.jaccard,
                     CAST(length(ca.t) AS INTEGER) AS len_a,
                     CAST(length(cb.t) AS INTEGER) AS len_b,
                     CAST(levenshtein(ca.t, cb.t) AS INTEGER) AS edit_dist
              FROM p JOIN cmp ca ON ca.doc_id = p.a
                     JOIN cmp cb ON cb.doc_id = p.b)
        SELECT a, b, jaccard, len_a, len_b, edit_dist,
               CASE WHEN greatest(len_a, len_b) = 0 THEN 0.0
                    ELSE floor(edit_dist * 1.0 / greatest(len_a, len_b)
                               * 1e6 + 0.5) / 1e6 END AS rel_edit,
               (CASE WHEN greatest(len_a, len_b) = 0 THEN 0.0
                     ELSE floor(edit_dist * 1.0 / greatest(len_a, len_b)
                                * 1e6 + 0.5) / 1e6 END) <= 0.4 AS is_dup
        FROM d
    """
    out["ks_source_drift"] = """
        WITH base AS (SELECT source, CAST(n_chars AS BIGINT) AS v
                      FROM documents WHERE n_chars IS NOT NULL),
        gv AS (SELECT v, count(*) AS c_all FROM base GROUP BY 1),
        sv AS (SELECT source, v, count(*) AS c_s FROM base GROUP BY 1, 2),
        srcs AS (SELECT source, count(*) AS n1 FROM base GROUP BY 1),
        tot AS (SELECT count(*) AS n_total FROM base),
        grid AS (SELECT srcs.source, srcs.n1, gv.v, gv.c_all,
                        COALESCE(sv.c_s, 0) AS c_s
                 FROM gv CROSS JOIN srcs
                 LEFT JOIN sv ON sv.source = srcs.source AND sv.v = gv.v),
        cum AS (SELECT source, n1,
                       sum(c_s) OVER (PARTITION BY source
                                      ORDER BY v) AS cum_s,
                       sum(c_all) OVER (PARTITION BY source
                                        ORDER BY v) AS cum_all
                FROM grid),
        d AS (SELECT source, CAST(n1 AS BIGINT) AS n1,
                     CAST(n_total - n1 AS BIGINT) AS n2,
                     CAST(max(abs((n_total - n1) * cum_s
                                  - n1 * (cum_all - cum_s))) AS BIGINT)
                       AS d_num
              FROM cum CROSS JOIN tot
              WHERE n1 > 0 AND n_total - n1 > 0
              GROUP BY 1, 2, 3)
        SELECT source, n1, n2, d_num,
               floor(d_num * 1.0 / (n1 * n2) * 1e6 + 0.5) / 1e6 AS ks
        FROM d
    """
    out["part_component_census"] = """
        WITH RECURSIVE e0 AS (
          SELECT l_orderkey AS ok, l_partkey AS pk
          FROM lineitem GROUP BY 1, 2),
        ed AS (
          SELECT x.pk AS a, y.pk AS b
          FROM e0 x JOIN e0 y ON x.ok = y.ok AND x.pk < y.pk
          GROUP BY 1, 2 HAVING count(*) >= 2),
        und AS (SELECT a AS u, b AS v FROM ed
                UNION ALL SELECT b, a FROM ed),
        n AS (SELECT DISTINCT u AS node FROM und),
        reach AS (
          SELECT node AS src, node AS dst FROM n
          UNION
          SELECT r.src, und.v AS dst FROM reach r JOIN und ON r.dst = und.u),
        comp AS (SELECT src AS node, min(dst) AS component
                 FROM reach GROUP BY 1),
        sz AS (SELECT component, count(*) AS size FROM comp GROUP BY 1)
        SELECT CAST(size AS BIGINT) AS size,
               CAST(count(*) AS BIGINT) AS n_components,
               CAST(size * count(*) AS BIGINT) AS n_nodes
        FROM sz GROUP BY size
    """
    out["pettitt_changepoint"] = """
        WITH daily AS (
          SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS cnt
          FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
        v AS (
          SELECT a.event_type, a.d,
                 CAST(sum(CASE WHEN a.cnt > b.cnt THEN 1
                               WHEN a.cnt < b.cnt THEN -1
                               ELSE 0 END) AS BIGINT) AS v
          FROM daily a JOIN daily b
            ON a.event_type = b.event_type AND a.d <> b.d
          GROUP BY 1, 2),
        u AS (
          SELECT event_type, d,
                 sum(v) OVER (PARTITION BY event_type ORDER BY d) AS u,
                 row_number() OVER (PARTITION BY event_type
                                    ORDER BY d) AS rn,
                 count(*) OVER (PARTITION BY event_type) AS n
          FROM v),
        c AS (
          SELECT event_type, CAST(n AS BIGINT) AS n_days,
                 strftime(d, '%Y-%m-%d') AS cp_day,
                 CAST(abs(u) AS BIGINT) AS k_stat,
                 row_number() OVER (PARTITION BY event_type
                                    ORDER BY abs(u) DESC, d ASC) AS p
          FROM u WHERE rn < n)
        SELECT event_type, n_days, cp_day, k_stat FROM c WHERE p = 1
    """
    out["isotonic_calibration"] = """
        WITH b AS (
          SELECT CAST(least(99, greatest(0,
                   (c - (c % 100)) // 100)) AS BIGINT) AS bucket,
                 count(*) AS n,
                 sum(CASE WHEN event_type = 'purchase'
                     THEN 1 ELSE 0 END) AS pos
          FROM (SELECT CAST(round(value * 100) AS BIGINT) AS c,
                       event_type FROM events
                WHERE value IS NOT NULL)
          GROUP BY 1),
        pre AS (
          SELECT bucket, CAST(n AS BIGINT) AS n, CAST(pos AS BIGINT) AS pos,
                 CAST(sum(n) OVER (ORDER BY bucket) AS BIGINT) AS cw,
                 CAST(sum(pos) OVER (ORDER BY bucket) AS BIGINT) AS cs
          FROM b),
        lo AS (SELECT bucket AS i, cw - n AS w_lo, cs - pos AS s_lo
               FROM pre),
        hi AS (SELECT bucket AS j, cw AS w_hi, cs AS s_hi FROM pre),
        pair_avg AS (
          SELECT i, j, (s_hi - s_lo) * 1.0 / (w_hi - w_lo) AS a
          FROM lo JOIN hi ON i <= j),
        inner_min AS (SELECT i, min(a) AS m FROM pair_avg GROUP BY 1)
        SELECT pre.bucket, pre.n, pre.pos,
               floor(pre.pos * 1.0 / pre.n * 1e6 + 0.5) / 1e6 AS raw_rate,
               max(inner_min.m) AS iso_rate
        FROM pre JOIN inner_min ON pre.bucket >= inner_min.i
        GROUP BY 1, 2, 3, 4
    """
    out["logrank_churn"] = """
        WITH d0 AS (SELECT event_type AS g, user_id,
                           CAST(ts AS DATE) AS day FROM events
                    WHERE ts IS NOT NULL),
        ul AS (SELECT g, user_id, min(day) AS f, max(day) AS l
               FROM d0 GROUP BY 1, 2),
        bounds AS (SELECT min(f) AS mn, max(l) AS mx FROM ul),
        sparse AS (
          SELECT g, day, CAST(sum(s) AS BIGINT) AS s,
                 CAST(sum(d) AS BIGINT) AS d
          FROM (
            SELECT g, f AS day, 1 AS s, 0 AS d FROM ul
            UNION ALL
            SELECT g, l, 0,
                   CASE WHEN l < (SELECT mx FROM bounds)
                        THEN 1 ELSE 0 END
            FROM ul)
          GROUP BY 1, 2),
        cal AS (
          SELECT gg.g,
                 CAST(unnest(generate_series(CAST(b.mn AS TIMESTAMP),
                        CAST(b.mx AS TIMESTAMP),
                        INTERVAL 1 DAY)) AS DATE) AS day
          FROM (SELECT DISTINCT g FROM sparse) gg CROSS JOIN bounds b),
        f AS (SELECT cal.g, cal.day, COALESCE(sp.s, 0) AS s,
                     COALESCE(sp.d, 0) AS d
              FROM cal LEFT JOIN sparse sp
                ON sp.g = cal.g AND sp.day = cal.day),
        nd AS (SELECT g, day, d,
                      sum(s) OVER (PARTITION BY g ORDER BY day)
                      - COALESCE(sum(d) OVER (PARTITION BY g ORDER BY day
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING), 0) AS n
               FROM f),
        p AS (SELECT a.g AS g1, b.g AS g2, a.day,
                     a.n AS n1, a.d AS d1, b.n AS n2, b.d AS d2
              FROM nd a JOIN nd b ON a.day = b.day AND a.g < b.g),
        t AS (SELECT g1, g2, day, d1, d2,
                     ((d1 + d2) * n1) * 1.0 / (n1 + n2) AS e_term,
                     ((d1 + d2) * n1 * n2
                      * ((n1 + n2) - (d1 + d2))) * 1.0
                     / ((n1 + n2) * (n1 + n2) * ((n1 + n2) - 1))
                       AS v_term
              FROM p
              WHERE d1 + d2 > 0 AND n1 + n2 >= 2),
        fd AS (SELECT g1, g2,
                      CAST(sum(d1) AS BIGINT) AS o1,
                      CAST(sum(d2) AS BIGINT) AS o2,
                      list_reduce(list_prepend(0.0,
                        list(e_term ORDER BY day)),
                        (a, b) -> a + b) AS e1,
                      list_reduce(list_prepend(0.0,
                        list(v_term ORDER BY day)),
                        (a, b) -> a + b) AS v
               FROM t GROUP BY 1, 2)
        SELECT g1, g2, o1, o2, e1, v,
               (o1 - e1) * (o1 - e1) / v AS chi2,
               (o1 - e1) * (o1 - e1) / v > 3.841 AS significant
        FROM fd WHERE v > 0
    """
    out["mwu_source_shift"] = """
        WITH base AS (SELECT source, CAST(n_chars AS BIGINT) AS v
                      FROM documents WHERE n_chars IS NOT NULL),
        gv AS (SELECT v, count(*) AS c_all FROM base GROUP BY 1),
        sv AS (SELECT source, v, count(*) AS c_s FROM base GROUP BY 1, 2),
        srcs AS (SELECT source, count(*) AS n1 FROM base GROUP BY 1),
        consts AS (SELECT CAST(sum(c_all) AS BIGINT) AS n_total,
                          CAST(sum(c_all * c_all * c_all - c_all)
                               AS BIGINT) AS tie_t
                   FROM gv),
        grid AS (SELECT srcs.source, srcs.n1, gv.v, gv.c_all,
                        COALESCE(sv.c_s, 0) AS c_s
                 FROM gv CROSS JOIN srcs
                 LEFT JOIN sv ON sv.source = srcs.source AND sv.v = gv.v),
        cum AS (SELECT source, n1, c_all, c_s,
                       sum(c_all) OVER (PARTITION BY source ORDER BY v)
                         - c_all AS less_all,
                       sum(c_s) OVER (PARTITION BY source ORDER BY v)
                         - c_s AS less_s
                FROM grid),
        agg AS (SELECT source, CAST(n1 AS BIGINT) AS n1,
                       CAST(sum(c_s * (2 * (less_all - less_s)
                                       + (c_all - c_s))) AS BIGINT)
                         AS u1_x2
                FROM cum GROUP BY 1, 2),
        j AS (SELECT agg.*, consts.n_total, consts.tie_t,
                     CAST(n_total - n1 AS BIGINT) AS n2,
                     (n_total + 1) * n_total * (n_total - 1) - tie_t
                       AS var_num
              FROM agg CROSS JOIN consts)
        SELECT source, n1, n2, u1_x2,
               floor(u1_x2 * 1.0 / (n1 * n2) * 1e6 + 0.5) / 1e6
                 AS rb_plus1,
               ((u1_x2 - n1 * n2) / 2.0)
               / sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                      * CAST(var_num AS DOUBLE)
                      / (12.0 * CAST(n_total AS DOUBLE)
                         * CAST(n_total - 1 AS DOUBLE))) AS z,
               abs(((u1_x2 - n1 * n2) / 2.0)
                   / sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                          * CAST(var_num AS DOUBLE)
                          / (12.0 * CAST(n_total AS DOUBLE)
                             * CAST(n_total - 1 AS DOUBLE)))) > 1.96
                 AS significant
        FROM j
        WHERE n1 > 0 AND n2 > 0 AND var_num > 0
    """
    out["distinctive_tokens"] = r"""
        WITH st AS (
          SELECT source, term, CAST(count(*) AS BIGINT) AS a
          FROM (SELECT source,
                       unnest(list_filter(string_split_regex(text, '\s+'),
                                          t -> t <> '')) AS term
                FROM documents)
          GROUP BY 1, 2),
        tot AS (SELECT source, CAST(sum(a) AS BIGINT) AS a_tot
                FROM st GROUP BY 1),
        gt AS (SELECT term, CAST(sum(a) AS BIGINT) AS t_all
               FROM st GROUP BY 1),
        gtot AS (SELECT CAST(sum(a) AS BIGINT) AS all_tot FROM st),
        scored AS (
          SELECT st.source, st.term, st.a,
                 gt.t_all - st.a AS b,
                 ((st.a + 1)
                  * (all_tot - a_tot - (gt.t_all - st.a) + 1)) * 1.0
                 / ((gt.t_all - st.a + 1) * (a_tot - st.a + 1)) AS odds
          FROM st JOIN gt USING (term) JOIN tot USING (source)
               CROSS JOIN gtot
          WHERE gt.t_all >= 5),
        r AS (SELECT *, row_number() OVER (PARTITION BY source
                  ORDER BY odds DESC, term ASC) AS rnk
              FROM scored)
        SELECT source, CAST(rnk AS INTEGER) AS rnk, term, a, b,
               floor(odds * 1e6 + 0.5) / 1e6 AS odds_r
        FROM r WHERE rnk <= 10
    """
    out["aqp_revenue_check"] = """
        WITH base AS (
          SELECT l_returnflag AS flag,
                 CAST(round(l_extendedprice * 100) AS BIGINT) AS c,
                 ('0x' || substr(md5(CAST(l_orderkey * 10 + l_linenumber
                      AS VARCHAR)), 1, 8))::BIGINT % 100 AS bucket
          FROM lineitem),
        e AS (SELECT flag, CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(c) AS BIGINT) AS exact_cents
              FROM base GROUP BY 1),
        s AS (SELECT flag, CAST(count(*) AS BIGINT) AS n_sample,
                     CAST(sum(c) * 20 AS BIGINT) AS est_cents
              FROM base WHERE bucket < 5 GROUP BY 1)
        SELECT e.flag, n, n_sample, exact_cents, est_cents,
               CAST(floor(abs(est_cents - exact_cents) * 1.0
                          / exact_cents * 1e6 + 0.5) AS BIGINT) AS err_ppm,
               CAST(floor(abs(est_cents - exact_cents) * 1.0
                          / exact_cents * 1e6 + 0.5) AS BIGINT) <= 50000
                 AS within_tol
        FROM e JOIN s USING (flag)
        WHERE exact_cents > 0
    """
    out["rolling_wau"] = """
        WITH du AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
                    FROM events WHERE ts IS NOT NULL),
        b AS (SELECT max(day) AS mx FROM du),
        ex AS (SELECT DISTINCT user_id,
                      CAST(unnest(generate_series(CAST(day AS TIMESTAMP),
                           CAST(day + INTERVAL 6 DAY AS TIMESTAMP),
                           INTERVAL 1 DAY)) AS DATE) AS d
               FROM du),
        w AS (SELECT ex.d, CAST(count(*) AS BIGINT) AS wau
              FROM ex CROSS JOIN b WHERE ex.d <= b.mx GROUP BY 1),
        dau AS (SELECT day AS d, CAST(count(*) AS BIGINT) AS dau
                FROM du GROUP BY 1)
        SELECT strftime(w.d, '%Y-%m-%d') AS day,
               COALESCE(dau.dau, 0) AS dau, w.wau
        FROM w LEFT JOIN dau ON dau.d = w.d
    """
    out["part_recommendations"] = """
        WITH e0 AS (
          SELECT l_orderkey AS ok, l_partkey AS pk
          FROM lineitem GROUP BY 1, 2),
        ed AS (
          SELECT x.pk AS a, y.pk AS b, CAST(count(*) AS BIGINT) AS w
          FROM e0 x JOIN e0 y ON x.ok = y.ok AND x.pk < y.pk
          GROUP BY 1, 2 HAVING count(*) >= 2),
        und AS (SELECT a, b, w FROM ed
                UNION ALL SELECT b, a, w FROM ed),
        deg AS (SELECT a, CAST(sum(w) AS BIGINT) AS s
                FROM und GROUP BY 1),
        scored AS (
          SELECT und.a AS item, und.b AS rec, und.w,
                 und.w / sqrt(CAST(da.s * db.s AS DOUBLE)) AS sim
          FROM und JOIN deg da ON da.a = und.a
                   JOIN deg db ON db.a = und.b),
        r AS (SELECT *, row_number() OVER (PARTITION BY item
                  ORDER BY sim DESC, rec ASC) AS rnk
              FROM scored)
        SELECT item, CAST(rnk AS INTEGER) AS rnk, rec, w,
               floor(sim * 1e6 + 0.5) / 1e6 AS sim_r
        FROM r WHERE rnk <= 5
    """
    out["price_elasticity"] = """
        WITH j AS (
          SELECT p.p_brand,
                 CAST(round(l.l_extendedprice * 100) AS BIGINT)
                   // CAST(round(l.l_quantity) AS BIGINT) // 100 AS x,
                 CAST(round(l.l_quantity) AS BIGINT) AS y
          FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
          WHERE l.l_quantity > 0),
        a AS (
          SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(x) AS BIGINT) AS sx,
                 CAST(sum(y) AS BIGINT) AS sy,
                 CAST(sum(x * y) AS BIGINT) AS sxy,
                 CAST(sum(x * x) AS BIGINT) AS sx2
          FROM j GROUP BY 1)
        SELECT p_brand, n,
               floor(((n * sxy - sx * sy) * 1.0 / (n * sx2 - sx * sx)
                      * 1000 + 1000.0) * 1e4 + 0.5) / 1e4
                 AS slope_x1k_p1k,
               floor((sy - ((n * sxy - sx * sy) * 1.0
                            / (n * sx2 - sx * sx)) * sx) / n
                     * 1e4 + 0.5) / 1e4 AS intercept_qty
        FROM a
        WHERE n * sx2 - sx * sx > 0
    """
    out["type_burstiness"] = """
        WITH daily AS (
          SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS x
          FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
        a AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(x) AS BIGINT) AS sx,
                 CAST(sum(x * x) AS BIGINT) AS sx2
          FROM daily GROUP BY 1)
        SELECT event_type, n AS n_days, sx,
               floor((n * sx2 - sx * sx) * 1.0 / (n * sx) * 1e6 + 0.5)
                 / 1e6 AS fano,
               (n * sx2 - sx * sx) > (n * sx) AS overdispersed
        FROM a WHERE sx > 0
    """
    out["dow_uniformity"] = """
        WITH cells AS (
          SELECT event_type, dayofweek(ts) + 1 AS dw,
                 CAST(count(*) AS BIGINT) AS o
          FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
        t AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS n
              FROM cells GROUP BY 1),
        spine AS (SELECT t.event_type, t.n, g.dw
                  FROM t CROSS JOIN
                       (SELECT unnest(generate_series(1, 7)) AS dw) g),
        f AS (SELECT spine.event_type, spine.n,
                     COALESCE(cells.o, 0) AS o
              FROM spine LEFT JOIN cells
                ON cells.event_type = spine.event_type
               AND cells.dw = spine.dw),
        a AS (SELECT event_type, n,
                     CAST(sum((7 * o - n) * (7 * o - n)) AS BIGINT)
                       AS chi_num
              FROM f GROUP BY 1, 2)
        SELECT event_type, n, chi_num,
               floor(chi_num * 1.0 / (7 * n) * 1e6 + 0.5) / 1e6 AS chi2,
               chi_num * 1.0 / (7 * n) > 12.592 AS weekly_pattern
        FROM a WHERE n > 0
    """
    out["kendall_daily"] = """
        WITH daily AS (
          SELECT o_orderpriority AS p, CAST(o_orderdate AS DATE) AS d,
                 CAST(count(*) AS BIGINT) AS x,
                 CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                      AS BIGINT) AS y
          FROM orders GROUP BY 1, 2),
        pr AS (
          SELECT a.p,
                 CASE WHEN a.x > b.x THEN 1 WHEN a.x < b.x THEN -1
                      ELSE 0 END AS sx,
                 CASE WHEN a.y > b.y THEN 1 WHEN a.y < b.y THEN -1
                      ELSE 0 END AS sy
          FROM daily a JOIN daily b ON a.p = b.p AND a.d < b.d),
        agg AS (
          SELECT p, CAST(count(*) AS BIGINT) AS n0,
                 CAST(sum(CASE WHEN sx * sy = 1 THEN 1 ELSE 0 END)
                      AS BIGINT) AS nc,
                 CAST(sum(CASE WHEN sx * sy = -1 THEN 1 ELSE 0 END)
                      AS BIGINT) AS nd,
                 CAST(sum(CASE WHEN sx = 0 THEN 1 ELSE 0 END)
                      AS BIGINT) AS n1,
                 CAST(sum(CASE WHEN sy = 0 THEN 1 ELSE 0 END)
                      AS BIGINT) AS n2
          FROM pr GROUP BY 1)
        SELECT p AS o_orderpriority, n0, nc, nd, n1, n2,
               floor((CAST(nc - nd AS DOUBLE)
                      / (sqrt(CAST(n0 - n1 AS DOUBLE))
                         * sqrt(CAST(n0 - n2 AS DOUBLE)))
                      + 1.0) * 1e6 + 0.5) / 1e6 AS tau_plus1
        FROM agg WHERE n0 > n1 AND n0 > n2
    """
    out["spearman_types"] = """
        WITH daily AS (
          SELECT event_type, CAST(ts AS DATE) AS d,
                 CAST(count(*) AS BIGINT) AS cnt
          FROM events GROUP BY 1, 2),
        shared AS (
          SELECT a.event_type AS ta, b.event_type AS tb,
                 a.cnt AS xc, b.cnt AS yc
          FROM daily a JOIN daily b
            ON a.d = b.d AND a.event_type < b.event_type),
        j AS (
          SELECT ta, tb,
                 CAST(2 * rank() OVER (PARTITION BY ta, tb ORDER BY xc)
                      + count(*) OVER (PARTITION BY ta, tb, xc)
                      - 1 AS BIGINT) AS x,
                 CAST(2 * rank() OVER (PARTITION BY ta, tb ORDER BY yc)
                      + count(*) OVER (PARTITION BY ta, tb, yc)
                      - 1 AS BIGINT) AS y
          FROM shared),
        agg AS (
          SELECT ta, tb,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(x) AS BIGINT) AS sx,
                 CAST(sum(y) AS BIGINT) AS sy,
                 CAST(sum(x * y) AS BIGINT) AS sxy,
                 CAST(sum(x * x) AS BIGINT) AS sx2,
                 CAST(sum(y * y) AS BIGINT) AS sy2
          FROM j GROUP BY 1, 2)
        SELECT ta, tb, n,
               floor((CAST(n * sxy - sx * sy AS DOUBLE)
                      / (sqrt(CAST(n * sx2 - sx * sx AS DOUBLE))
                         * sqrt(CAST(n * sy2 - sy * sy AS DOUBLE)))
                      + 1.0) * 1e6 + 0.5) / 1e6 AS rho_plus1
        FROM agg
        WHERE n * sx2 - sx * sx > 0 AND n * sy2 - sy * sy > 0
    """
    out["cramers_v"] = """
        WITH cells AS (
          SELECT o_orderpriority AS p, o_orderstatus AS s,
                 CAST(count(*) AS BIGINT) AS o
          FROM orders GROUP BY 1, 2),
        rm AS (SELECT p, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY 1),
        cm AS (SELECT s, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY 1),
        t AS (SELECT CAST(sum(o) AS BIGINT) AS n,
                     CAST(count(DISTINCT p) AS BIGINT) AS rk,
                     CAST(count(DISTINCT s) AS BIGINT) AS ck
              FROM cells),
        f AS (SELECT cells.p, cells.s, cells.o, rm.r, cm.c,
                     t.n, t.rk, t.ck
              FROM cells JOIN rm USING (p) JOIN cm USING (s) CROSS JOIN t),
        arr AS (
          SELECT n, rk, ck,
                 list(struct_pack(
                        d := CAST(o * n - r * c AS DOUBLE),
                        rc := CAST(r * c AS DOUBLE))
                      ORDER BY p, s) AS cl
          FROM f GROUP BY 1, 2, 3),
        chi AS (
          SELECT n, rk, ck,
                 list_reduce(
                   list_prepend(
                     0.0,
                     list_transform(cl,
                       x -> (x.d / CAST(n AS DOUBLE))
                            * (x.d / x.rc))),
                   (a, b) -> a + b) AS chi2
          FROM arr)
        SELECT n, rk AS n_priorities, ck AS n_statuses,
               floor(chi2 * 1e6 + 0.5) / 1e6 AS chi2,
               floor(sqrt(chi2 / (CAST(n AS DOUBLE)
                                  * CAST(least(rk - 1, ck - 1) AS DOUBLE)))
                     * 1e6 + 0.5) / 1e6 AS cramers_v
        FROM chi WHERE n > 0 AND rk > 1 AND ck > 1
    """
    out["runs_test_daily"] = """
        WITH daily AS (
          SELECT event_type, CAST(ts AS DATE) AS d,
                 CAST(count(*) AS BIGINT) AS cnt
          FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
        rk AS (
          SELECT event_type, d, cnt,
                 row_number() OVER (PARTITION BY event_type
                                    ORDER BY cnt, d) AS rk,
                 count(*) OVER (PARTITION BY event_type) AS nn
          FROM daily),
        med AS (SELECT event_type, cnt AS med FROM rk
                WHERE rk = (nn + 1) // 2),
        signed AS (
          SELECT daily.event_type, daily.d,
                 CASE WHEN daily.cnt > med.med THEN 1 ELSE 0 END AS s
          FROM daily JOIN med USING (event_type)
          WHERE daily.cnt <> med.med),
        flips AS (
          SELECT event_type, s,
                 CASE WHEN lag(s) OVER (PARTITION BY event_type
                                        ORDER BY d) IS NULL
                        OR lag(s) OVER (PARTITION BY event_type
                                        ORDER BY d) <> s
                      THEN 1 ELSE 0 END AS flip
          FROM signed),
        agg AS (
          SELECT event_type,
                 CAST(sum(flip) AS BIGINT) AS r,
                 CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END)
                      AS BIGINT) AS n1,
                 CAST(sum(CASE WHEN s = 0 THEN 1 ELSE 0 END)
                      AS BIGINT) AS n2
          FROM flips GROUP BY 1),
        zc AS (
          SELECT event_type, r, n1, n2,
                 n1 + n2 AS m, 2 * n1 * n2 AS p2
          FROM agg)
        SELECT event_type, r, n1, n2,
               floor(CAST(r * m - p2 - m AS DOUBLE)
                     / (CAST(m AS DOUBLE)
                        * sqrt(CAST(p2 AS DOUBLE) * CAST(p2 - m AS DOUBLE)
                               / CAST(m * m AS DOUBLE)
                               / CAST(m - 1 AS DOUBLE)))
                     * 1e6 + 0.5) / 1e6 AS z,
               abs(CAST(r * m - p2 - m AS DOUBLE)
                   / (CAST(m AS DOUBLE)
                      * sqrt(CAST(p2 AS DOUBLE) * CAST(p2 - m AS DOUBLE)
                             / CAST(m * m AS DOUBLE)
                             / CAST(m - 1 AS DOUBLE)))) > 1.96
                 AS nonrandom
        FROM zc
        WHERE n1 > 0 AND n2 > 0 AND m > 1 AND p2 > m
    """
    out["asof_prev_click"] = """
        SELECT e.event_id, e.user_id,
               CAST(floor(epoch(e.ts)) AS BIGINT) AS ts_s,
               c.event_id AS prev_click,
               c.value AS prev_click_value
        FROM events e LEFT JOIN LATERAL (
          SELECT e2.event_id, e2.value
          FROM events e2
          WHERE e2.event_type = 'click' AND e2.user_id = e.user_id
            AND e2.ts <= e.ts
            AND floor(epoch(e.ts)) - floor(epoch(e2.ts)) <= 86400
          ORDER BY e2.ts DESC, e2.event_id DESC LIMIT 1) c ON TRUE
        WHERE e.event_type = 'purchase'
    """
    out["theils_u"] = """
        WITH cells AS (
          SELECT o_orderpriority AS p, o_orderstatus AS s,
                 CAST(count(*) AS BIGINT) AS o
          FROM orders GROUP BY 1, 2),
        rm AS (SELECT p, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY 1),
        cm AS (SELECT s, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY 1),
        t AS (SELECT CAST(sum(o) AS BIGINT) AS n,
                     CAST(count(DISTINCT p) AS BIGINT) AS rk,
                     CAST(count(DISTINCT s) AS BIGINT) AS ck
              FROM cells),
        lp AS (SELECT list(struct_pack(p := p, r := r) ORDER BY p) AS lp
               FROM rm),
        ls AS (SELECT list(struct_pack(s := s, c := c) ORDER BY s) AS ls
               FROM cm),
        lc AS (SELECT list(struct_pack(p := cells.p, s := cells.s,
                             o := CAST(cells.o AS DOUBLE),
                             r := CAST(rm.r AS DOUBLE),
                             c := CAST(cm.c AS DOUBLE))
                           ORDER BY cells.p, cells.s) AS lc
               FROM cells JOIN rm USING (p) JOIN cm USING (s)),
        ent AS (
          SELECT t.n, t.rk, t.ck,
                 list_reduce(list_prepend(0.0, list_transform(lp.lp,
                   x -> -(x.r / t.n) * ln(x.r / t.n))),
                   (a, b) -> a + b) AS hx,
                 list_reduce(list_prepend(0.0, list_transform(ls.ls,
                   x -> -(x.c / t.n) * ln(x.c / t.n))),
                   (a, b) -> a + b) AS hy,
                 list_reduce(list_prepend(0.0, list_transform(lc.lc,
                   x -> -(x.o / t.n) * ln(x.o / x.c))),
                   (a, b) -> a + b) AS hxy,
                 list_reduce(list_prepend(0.0, list_transform(lc.lc,
                   x -> -(x.o / t.n) * ln(x.o / x.r))),
                   (a, b) -> a + b) AS hyx
          FROM t CROSS JOIN lp CROSS JOIN ls CROSS JOIN lc)
        SELECT CAST(n AS BIGINT) AS n,
               floor(hx * 1e6 + 0.5) / 1e6 AS h_priority,
               floor(hy * 1e6 + 0.5) / 1e6 AS h_status,
               floor((hx - hxy) / hx * 1e6 + 0.5) / 1e6
                 AS u_priority_given_status,
               floor((hy - hyx) / hy * 1e6 + 0.5) / 1e6
                 AS u_status_given_priority
        FROM ent WHERE rk > 1 AND ck > 1
    """
    # Scene cuts ride the validated frame-phash byte-math CTE chain
    # (multimodal_video_pairs oracle) + one lag window.
    out["frame_scene_cuts"] = r"""
        WITH m AS (
          SELECT doc_id,
                 CAST(octet_length(encode(text)) AS BIGINT) AS n,
                 lower(hex(encode(text))) AS h
          FROM documents),
        fr AS (
          SELECT doc_id, h, i, least(256, n - i * 256) AS L
          FROM m, LATERAL (SELECT unnest(range(
               greatest(n // 256, 1))) AS i) _),
        sampled AS (
          SELECT doc_id, i,
                 [ (strpos('0123456789abcdef',
                      h[2*(i*256 + (j*L)//63)+1 : 2*(i*256 + (j*L)//63)+1]) - 1) * 16
                   + (strpos('0123456789abcdef',
                      h[2*(i*256 + (j*L)//63)+2 : 2*(i*256 + (j*L)//63)+2]) - 1)
                   for j in range(0, 63) ] AS bs
          FROM fr WHERE L > 0),
        ph AS (
          SELECT doc_id, i,
                 CAST(COALESCE(list_sum(
                   [CASE WHEN 63 * bs[j+1] >= total
                         THEN (1::BIGINT << j) ELSE 0::BIGINT END
                    for j in range(0, 63)]), 0) AS BIGINT) AS phash
          FROM (SELECT doc_id, i, bs,
                       CAST(list_sum(bs) AS BIGINT) AS total
                FROM sampled)
          UNION ALL
          SELECT doc_id, i, 0::BIGINT FROM fr WHERE L = 0),
        d AS (
          SELECT doc_id,
                 bit_count(xor(phash,
                   lag(phash) OVER (PARTITION BY doc_id ORDER BY i)))
                   AS hm
          FROM ph)
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_frames,
               CAST(sum(CASE WHEN hm >= 20 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_cuts,
               CAST(COALESCE(max(hm), 0) AS BIGINT) AS max_jump
        FROM d GROUP BY 1
    """
    out["cochran_armitage"] = """
        WITH users AS (
          SELECT user_id,
                 CAST(CASE WHEN
                      sum(CASE WHEN event_type = 'purchase'
                               THEN 1 ELSE 0 END) >
                      sum(CASE WHEN event_type = 'error'
                               THEN 1 ELSE 0 END)
                      THEN 1 ELSE 0 END AS BIGINT) AS conv,
                 ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                   ::BIGINT % 4 AS variant
          FROM events GROUP BY user_id),
        per AS (
          SELECT variant, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(conv) AS BIGINT) AS r
          FROM users GROUP BY 1),
        tot AS (
          SELECT CAST(sum(n) AS BIGINT) AS nn,
                 CAST(sum(r) AS BIGINT) AS rr,
                 CAST(sum(variant * n) AS BIGINT) AS snt,
                 CAST(sum(variant * variant * n) AS BIGINT) AS snt2,
                 CAST(sum(variant * r) AS BIGINT) AS srt,
                 CAST(count(*) AS BIGINT) AS k
          FROM per)
        SELECT k AS n_variants, nn AS n_users, rr AS n_converted,
               CAST(srt * nn - rr * snt AS BIGINT) AS t_num,
               floor(CAST(srt * nn - rr * snt AS DOUBLE)
                     / sqrt(CAST(rr AS DOUBLE) * CAST(nn - rr AS DOUBLE)
                            * CAST(nn * snt2 - snt * snt AS DOUBLE)
                            / CAST(nn AS DOUBLE))
                     * 1e6 + 0.5) / 1e6 AS z,
               abs(CAST(srt * nn - rr * snt AS DOUBLE)
                   / sqrt(CAST(rr AS DOUBLE) * CAST(nn - rr AS DOUBLE)
                          * CAST(nn * snt2 - snt * snt AS DOUBLE)
                          / CAST(nn AS DOUBLE))) > 1.96 AS trend
        FROM tot
        WHERE rr > 0 AND rr < nn AND nn * snt2 - snt * snt > 0 AND k > 1
    """
    out["wasserstein_drift"] = """
        WITH base AS (
          SELECT source, CAST(n_chars AS BIGINT) AS v
          FROM documents WHERE n_chars IS NOT NULL),
        gv AS (SELECT v, CAST(count(*) AS BIGINT) AS c_all
               FROM base GROUP BY 1),
        sv AS (SELECT source, v, CAST(count(*) AS BIGINT) AS c_s
               FROM base GROUP BY 1, 2),
        srcs AS (SELECT source, CAST(count(*) AS BIGINT) AS n1
                 FROM base GROUP BY 1),
        tot AS (SELECT CAST(sum(c_all) AS BIGINT) AS n_total FROM gv),
        grid AS (
          SELECT srcs.source, srcs.n1, gv.v, gv.c_all,
                 COALESCE(sv.c_s, 0) AS c_s
          FROM gv CROSS JOIN srcs
          LEFT JOIN sv ON sv.source = srcs.source AND sv.v = gv.v),
        cum AS (
          SELECT source, n1, v,
                 sum(c_s) OVER (PARTITION BY source ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum_s,
                 sum(c_all) OVER (PARTITION BY source ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum_all,
                 lead(v) OVER (PARTITION BY source ORDER BY v) - v
                   AS gap
          FROM grid),
        agg AS (
          SELECT source, n1, n_total - n1 AS n2,
                 CAST(sum(abs(cum_s * (n_total - n1)
                              - (cum_all - cum_s) * n1) * gap)
                      AS BIGINT) AS w1_num
          FROM cum CROSS JOIN tot
          WHERE gap IS NOT NULL
          GROUP BY 1, 2, 3)
        SELECT source, n1, n2, w1_num,
               floor(w1_num / (CAST(n1 AS DOUBLE) * n2) * 1e6 + 0.5)
                 / 1e6 AS w1
        FROM agg WHERE n1 > 0 AND n2 > 0
    """
    out["lm_bigram_score"] = r"""
        WITH tokd AS (
          SELECT doc_id, lang = 'en' AS is_ref,
                 list_filter(string_split_regex(lower(text), '\s+'),
                             x -> x <> '') AS t
          FROM documents),
        tok AS (
          SELECT doc_id, is_ref, i - 1 AS pos, t[i] AS w
          FROM tokd,
               LATERAL (SELECT unnest(range(1, len(t) + 1)) AS i) _),
        bg AS (
          SELECT * FROM (
            SELECT doc_id, is_ref, pos,
                   lag(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w1,
                   w AS w2
            FROM tok)
          WHERE w1 IS NOT NULL),
        c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
                FROM bg WHERE is_ref GROUP BY 1, 2),
        c1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1
               FROM bg WHERE is_ref GROUP BY 1),
        vv AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v
               FROM tok WHERE is_ref),
        probs AS (
          SELECT bg.doc_id, bg.pos,
                 COALESCE(c12.c12, 0) AS c12,
                 COALESCE(c1.c1, 0) AS c1
          FROM bg LEFT JOIN c12 ON bg.w1 = c12.w1 AND bg.w2 = c12.w2
                  LEFT JOIN c1 ON bg.w1 = c1.w1),
        arr AS (
          SELECT doc_id,
                 list(struct_pack(c12 := c12, c1 := c1)
                      ORDER BY pos) AS l,
                 CAST(count(*) AS BIGINT) AS n_bigrams
          FROM probs GROUP BY 1)
        SELECT doc_id, n_bigrams,
               floor(list_reduce(
                       list_prepend(0.0,
                         list_transform(l,
                           x -> (x.c12 + 1) / (x.c1 + vv.v))),
                       (a, b) -> a + b)
                     / n_bigrams * 1000 * 1e6 + 0.5) / 1e6
                 AS score_permille
        FROM arr CROSS JOIN vv
        WHERE n_bigrams >= 1
    """
    # SemDeDup rides the validated emb_kmeans Lloyd CTE chain verbatim,
    # then adds the integer-cleared within-cluster cosine prune.
    out["semdedup_prune"] = r"""
        WITH scaled AS (
          SELECT vec_id, embedding,
                 CASE WHEN s0 > 0 THEN s0 ELSE 1.0 END AS scale
          FROM (SELECT vec_id, embedding,
                       CAST(list_max(list_transform(embedding,
                            v -> abs(v))) AS DOUBLE) / 127 AS s0
                FROM embeddings)),
        coded AS MATERIALIZED (
          SELECT vec_id,
                 list_transform(embedding, v ->
                     CAST(floor(CAST(v AS DOUBLE) / scale + 0.5)
                          AS INTEGER)) AS codes
          FROM scaled),
        q AS (
          SELECT vec_id, i - 1 AS dim, codes[i] AS code
          FROM coded,
               LATERAL (SELECT unnest(range(1, len(codes) + 1)) AS i) _),
        seeds0 AS (
          SELECT vec_id, codes FROM coded
          WHERE vec_id % 100 = 0 ORDER BY vec_id LIMIT 8),
        seedn AS (
          SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1
                      AS INTEGER) AS cluster, codes
          FROM seeds0),
        cents0 AS (
          SELECT cluster, i - 1 AS dim, CAST(codes[i] AS BIGINT) AS c
          FROM seedn,
               LATERAL (SELECT unnest(range(1, len(codes) + 1)) AS i) _),
        d1 AS (
          SELECT q.vec_id, c.cluster,
                 CAST(sum((q.code - c.c) * (q.code - c.c)) AS BIGINT)
                     AS d2
          FROM q JOIN cents0 c USING (dim) GROUP BY 1, 2),
        a1 AS (
          SELECT vec_id, cluster, d2 FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                         ORDER BY d2, cluster) AS rn
            FROM d1) WHERE rn = 1),
        cents1 AS (
          SELECT a.cluster, q.dim,
                 CAST(sum(q.code) // count(*) AS BIGINT) AS c
          FROM q JOIN a1 a USING (vec_id) GROUP BY 1, 2),
        dd2 AS (
          SELECT q.vec_id, c.cluster,
                 CAST(sum((q.code - c.c) * (q.code - c.c)) AS BIGINT)
                     AS d2
          FROM q JOIN cents1 c USING (dim) GROUP BY 1, 2),
        a2 AS (
          SELECT vec_id, cluster FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                         ORDER BY d2, cluster) AS rn
            FROM dd2) WHERE rn = 1),
        mem AS MATERIALIZED (
          SELECT a2.vec_id, a2.cluster, coded.codes,
                 CAST(list_sum(list_transform(coded.codes,
                      c -> CAST(c AS BIGINT) * c)) AS BIGINT) AS n2
          FROM a2 JOIN coded USING (vec_id)),
        dup AS (
          SELECT a.cluster, a.vec_id AS va, b.vec_id AS vb
          FROM mem a JOIN mem b
            ON a.cluster = b.cluster AND a.vec_id < b.vec_id
          WHERE CAST(list_sum(list_transform(
                    range(1, len(a.codes) + 1),
                    i -> CAST(a.codes[i] AS BIGINT) * b.codes[i]))
                  AS BIGINT) > 0
            AND 400 * CAST(list_sum(list_transform(
                    range(1, len(a.codes) + 1),
                    i -> CAST(a.codes[i] AS BIGINT) * b.codes[i]))
                  AS BIGINT)
                * CAST(list_sum(list_transform(
                    range(1, len(a.codes) + 1),
                    i -> CAST(a.codes[i] AS BIGINT) * b.codes[i]))
                  AS BIGINT)
                >= 49 * a.n2 * b.n2),
        pr AS (
          SELECT cluster, CAST(count(*) AS BIGINT) AS n_dup_pairs,
                 CAST(count(DISTINCT vb) AS BIGINT) AS n_pruned
          FROM dup GROUP BY 1),
        mm AS (
          SELECT cluster, CAST(count(*) AS BIGINT) AS n_members
          FROM mem GROUP BY 1)
        SELECT mm.cluster, mm.n_members,
               COALESCE(pr.n_dup_pairs, 0) AS n_dup_pairs,
               COALESCE(pr.n_pruned, 0) AS n_pruned,
               floor(CAST(COALESCE(pr.n_pruned, 0) AS DOUBLE)
                     / mm.n_members * 1e6 + 0.5) / 1e6 AS prune_rate
        FROM mm LEFT JOIN pr USING (cluster)
    """
    # Markov eval composes the validated transition oracle verbatim.
    out["markov_accuracy"] = f"""
        WITH tr AS (SELECT * FROM ({out["session_transitions"]})),
        tot AS (SELECT type_from,
                       CAST(sum(n_transitions) AS BIGINT) AS n_total
                FROM tr GROUP BY 1),
        r AS (SELECT type_from, type_to, n_transitions,
                     row_number() OVER (PARTITION BY type_from
                         ORDER BY n_transitions DESC, type_to) AS rn
              FROM tr)
        SELECT r.type_from,
               r.type_to AS predicted,
               CAST(r.n_transitions AS BIGINT) AS n_correct,
               tot.n_total,
               floor(CAST(r.n_transitions AS DOUBLE) / tot.n_total
                     * 1e6 + 0.5) / 1e6 AS accuracy
        FROM r JOIN tot USING (type_from)
        WHERE r.rn = 1
    """
    # Trend report composes the validated Theil-Sen oracle verbatim.
    out["trend_report"] = f"""
        WITH daily AS (
          SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS cnt
          FROM events GROUP BY 1, 2),
        x AS (
          SELECT event_type,
                 datediff('day', DATE '1970-01-01', d) AS x,
                 cnt AS y
          FROM daily),
        m AS (
          SELECT event_type,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(x) AS BIGINT) AS sx,
                 CAST(sum(y) AS BIGINT) AS sy,
                 CAST(sum(x * y) AS BIGINT) AS sxy,
                 CAST(sum(x * x) AS BIGINT) AS sx2
          FROM x GROUP BY 1),
        ols AS (
          SELECT event_type, n AS n_days,
                 floor(CAST(n * sxy - sx * sy AS DOUBLE)
                       / (n * sx2 - sx * sx) * 1e6 + 0.5) / 1e6
                     AS slope_ols
          FROM m),
        ts_ AS (SELECT event_type, slope_med AS slope_theil_sen
                FROM ({out["trend_theil_sen"]}))
        SELECT ols.event_type, ols.n_days, ols.slope_ols,
               ts_.slope_theil_sen,
               floor(abs(ols.slope_ols - ts_.slope_theil_sen) * 1e6 + 0.5)
                   / 1e6 AS divergence
        FROM ols JOIN ts_ USING (event_type)
    """
    # Leakproof split: recursive closure over the validated MinHash
    # pair oracle, singletons keep their own id, split by component
    # hash (same thresholds as split_counts).
    out["split_leakproof"] = f"""
        WITH RECURSIVE mh AS (SELECT a, b FROM ({out["dedup_minhash_lsh"]})),
        und AS (SELECT a, b FROM mh UNION SELECT b, a FROM mh),
        reach AS (
          SELECT a AS node, b AS r FROM und
          UNION
          SELECT r2.node, und.b
          FROM reach r2 JOIN und ON und.a = r2.r),
        comp AS (
          SELECT node AS doc_id,
                 least(node, min(r)) AS component
          FROM reach GROUP BY node),
        assigned AS (
          SELECT d.doc_id,
                 COALESCE(c.component, d.doc_id) AS component
          FROM documents d LEFT JOIN comp c USING (doc_id))
        SELECT doc_id, component,
               CASE WHEN ('0x' || substr(md5(CAST(component AS VARCHAR)),
                                         1, 8))::BIGINT % 100 < 10
                    THEN 'test'
                    WHEN ('0x' || substr(md5(CAST(component AS VARCHAR)),
                                         1, 8))::BIGINT % 100 < 20
                    THEN 'val'
                    ELSE 'train' END AS split
        FROM assigned
    """
    out["seasonal_outliers"] = """
        WITH daily AS (
          SELECT CAST(datediff('day', DATE '1992-01-01', CAST(ts AS DATE))
                      AS INTEGER) AS dn,
                 count(*) AS cnt
          FROM events GROUP BY 1),
        d2 AS (SELECT *, CAST(dn % 7 AS INTEGER) AS dow FROM daily),
        ranked AS (
          SELECT dow, cnt, dn,
                 row_number() OVER (PARTITION BY dow ORDER BY cnt, dn) AS rn,
                 count(*) OVER (PARTITION BY dow) AS n
          FROM d2),
        med AS (
          SELECT dow, max(CASE WHEN rn = CAST(ceil(n / 2) AS BIGINT)
                               THEN cnt END) AS med
          FROM ranked GROUP BY 1),
        dev AS (
          SELECT d2.dn, d2.dow, d2.cnt, med.med,
                 abs(d2.cnt - med.med) AS dev
          FROM d2 JOIN med USING (dow)),
        dranked AS (
          SELECT dow, dev, dn,
                 row_number() OVER (PARTITION BY dow ORDER BY dev, dn) AS rn,
                 count(*) OVER (PARTITION BY dow) AS n
          FROM dev),
        mad AS (
          SELECT dow, max(CASE WHEN rn = CAST(ceil(n / 2) AS BIGINT)
                               THEN dev END) AS mad
          FROM dranked GROUP BY 1)
        SELECT dev.dn, dev.dow, dev.cnt, dev.med, mad.mad, dev.dev,
               dev.dev > 3 * mad.mad AS is_outlier
        FROM dev JOIN mad USING (dow)
    """
    # --- round-5 additions -------------------------------------------
    out["gopher_rules"] = r"""
        WITH t AS (
          SELECT doc_id, text,
                 list_filter(string_split_regex(text, '\s+'),
                             x -> x <> '') AS toks,
                 list_filter(string_split(text, chr(10)),
                             x -> x <> '') AS lines
          FROM documents),
        m AS (
          SELECT doc_id,
            CAST(len(toks) AS BIGINT) AS n_words,
            CAST(coalesce(list_sum(list_transform(toks,
                 x -> length(x))), 0) AS BIGINT) AS ncw,
            CAST(length(text) - length(replace(text, '#', ''))
                 AS BIGINT) AS n_hash,
            CAST((length(text) - length(replace(text, '...', ''))) // 3
                 AS BIGINT) AS n_ell,
            CAST(len(lines) AS BIGINT) AS n_lines,
            CAST(len(list_filter(lines, l ->
                 regexp_matches(ltrim(l), '^[-*•]'))) AS BIGINT) AS n_bullet,
            CAST(len(list_filter(lines, l ->
                 regexp_matches(rtrim(l), '\.\.\.$'))) AS BIGINT)
                 AS n_ell_end,
            CAST(len(list_filter(toks, x ->
                 regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS n_alpha,
            CAST(len(list_intersect(
                 list_distinct(list_transform(toks, x -> lower(x))),
                 ['the','be','to','of','and','that','have','with']))
                 AS BIGINT) AS n_stop
          FROM t)
        SELECT doc_id, n_words,
          (n_words >= 50 AND n_words <= 100000) AS r_wc,
          (3*n_words <= ncw AND ncw <= 10*n_words) AS r_wlen,
          (10*(n_hash + n_ell) <= n_words) AS r_symbol,
          (10*n_bullet <= 9*n_lines) AS r_bullet,
          (10*n_ell_end <= 3*n_lines) AS r_ellipsis,
          (5*n_alpha >= 4*n_words) AS r_alpha,
          (n_stop >= 2) AS r_stop,
          ((n_words >= 50 AND n_words <= 100000)
           AND (3*n_words <= ncw AND ncw <= 10*n_words)
           AND (10*(n_hash + n_ell) <= n_words)
           AND (10*n_bullet <= 9*n_lines)
           AND (10*n_ell_end <= 3*n_lines)
           AND (5*n_alpha >= 4*n_words)
           AND (n_stop >= 2)) AS "pass"
        FROM m
    """
    out["zipf_slope"] = r"""
        WITH tf AS (
          SELECT lang, w, CAST(count(*) AS BIGINT) AS cnt
          FROM (SELECT lang,
                       unnest(list_filter(
                         string_split_regex(lower(text), '\s+'),
                         t -> t <> '')) AS w
                FROM documents)
          GROUP BY 1, 2),
        ranked AS (
          SELECT lang, cnt,
                 CAST(row_number() OVER (PARTITION BY lang
                      ORDER BY cnt DESC, w ASC) AS BIGINT) AS rnk
          FROM tf),
        top AS (SELECT * FROM ranked WHERE rnk <= 200),
        lst AS (SELECT lang,
                       list(struct_pack(rnk := rnk, cnt := cnt)
                            ORDER BY rnk) AS l,
                       CAST(count(*) AS BIGINT) AS n_terms
                FROM top GROUP BY 1),
        f AS (SELECT lang, n_terms,
          list_reduce(list_prepend(0.0, list_transform(l, t ->
            ln(CAST(t.rnk AS DOUBLE)))), (a, b) -> a + b) AS sx,
          list_reduce(list_prepend(0.0, list_transform(l, t ->
            ln(CAST(t.cnt AS DOUBLE)))), (a, b) -> a + b) AS sy,
          list_reduce(list_prepend(0.0, list_transform(l, t ->
            ln(CAST(t.rnk AS DOUBLE)) * ln(CAST(t.cnt AS DOUBLE)))),
            (a, b) -> a + b) AS sxy,
          list_reduce(list_prepend(0.0, list_transform(l, t ->
            ln(CAST(t.rnk AS DOUBLE)) * ln(CAST(t.rnk AS DOUBLE)))),
            (a, b) -> a + b) AS sx2
          FROM lst)
        SELECT lang, n_terms,
          floor(((CAST(n_terms AS DOUBLE) * sxy - sx * sy)
                 / (CAST(n_terms AS DOUBLE) * sx2 - sx * sx))
                * 1e6 + 0.5) / 1e6 AS slope
        FROM f
        WHERE n_terms > 2
          AND (CAST(n_terms AS DOUBLE) * sx2 - sx * sx) > 0
    """
    out["kruskal_wallis"] = """
        WITH base AS (
          SELECT source AS g, CAST(n_chars AS BIGINT) AS v
          FROM documents WHERE n_chars IS NOT NULL),
        gv AS (SELECT v, CAST(count(*) AS BIGINT) AS c_all
               FROM base GROUP BY 1),
        consts AS (SELECT CAST(sum(c_all) AS BIGINT) AS n,
                          CAST(sum(c_all*c_all*c_all - c_all) AS BIGINT)
                            AS tie_t
                   FROM gv),
        spine AS (SELECT v,
                 CAST(2*(sum(c_all) OVER (ORDER BY v
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      - c_all) + c_all + 1 AS BIGINT) AS u
                  FROM gv),
        sv AS (SELECT g, v, CAST(count(*) AS BIGINT) AS c_g
               FROM base GROUP BY 1, 2),
        per_g AS (SELECT g, CAST(sum(c_g) AS BIGINT) AS ng,
                         CAST(sum(c_g*u) AS BIGINT) AS r2
                  FROM sv JOIN spine USING (v) GROUP BY 1),
        lst AS (SELECT list(struct_pack(g := g, ng := ng, r2 := r2)
                            ORDER BY g) AS l,
                       CAST(count(*) AS BIGINT) AS k
                FROM per_g),
        agg AS (SELECT k, n, tie_t,
          list_reduce(list_prepend(0.0, list_transform(l, t ->
            (CAST(t.r2 AS DOUBLE) * CAST(t.r2 AS DOUBLE))
            / (CAST(t.ng AS DOUBLE) * 4.0))), (a, b) -> a + b) AS s12
          FROM lst, consts)
        SELECT n, k, tie_t,
          floor(((12.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0))
                  * s12 - 3.0 * (CAST(n AS DOUBLE) + 1.0))
                 / (1.0 - CAST(tie_t AS DOUBLE)
                    / (((CAST(n AS DOUBLE) - 1.0) * CAST(n AS DOUBLE))
                       * (CAST(n AS DOUBLE) + 1.0))))
                * 1e6 + 0.5) / 1e6 AS h
        FROM agg
        WHERE k > 1 AND n > 2
          AND (1.0 - CAST(tie_t AS DOUBLE)
               / (((CAST(n AS DOUBLE) - 1.0) * CAST(n AS DOUBLE))
                  * (CAST(n AS DOUBLE) + 1.0))) > 0
    """
    out["mantel_haenszel"] = """
        WITH per AS (
          SELECT CAST(dayofweek(ts) + 1 AS INTEGER) AS m,
                 ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                   ::BIGINT % 2 AS variant,
                 CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                   AS conv
          FROM events),
        cells AS (SELECT m,
          CAST(sum(CASE WHEN variant=0 AND conv=1 THEN 1 ELSE 0 END)
               AS BIGINT) AS a,
          CAST(sum(CASE WHEN variant=0 AND conv=0 THEN 1 ELSE 0 END)
               AS BIGINT) AS b,
          CAST(sum(CASE WHEN variant=1 AND conv=1 THEN 1 ELSE 0 END)
               AS BIGINT) AS c,
          CAST(sum(CASE WHEN variant=1 AND conv=0 THEN 1 ELSE 0 END)
               AS BIGINT) AS d
          FROM per GROUP BY 1),
        ok AS (SELECT * FROM cells WHERE a + b + c + d >= 2),
        lst AS (SELECT list(struct_pack(m := m, a := a, b := b,
                                        c := c, d := d) ORDER BY m) AS l,
                       CAST(count(*) AS BIGINT) AS k_strata,
                       CAST(sum(a) AS BIGINT) AS sum_a
                FROM ok),
        f AS (SELECT k_strata, sum_a,
          list_reduce(list_prepend(0.0, list_transform(l, t ->
            (CAST(t.a AS DOUBLE) * CAST(t.d AS DOUBLE))
            / CAST(t.a + t.b + t.c + t.d AS DOUBLE))),
            (x, y) -> x + y) AS or_num,
          list_reduce(list_prepend(0.0, list_transform(l, t ->
            (CAST(t.b AS DOUBLE) * CAST(t.c AS DOUBLE))
            / CAST(t.a + t.b + t.c + t.d AS DOUBLE))),
            (x, y) -> x + y) AS or_den,
          list_reduce(list_prepend(0.0, list_transform(l, t ->
            (CAST(t.a + t.b AS DOUBLE) * CAST(t.a + t.c AS DOUBLE))
            / CAST(t.a + t.b + t.c + t.d AS DOUBLE))),
            (x, y) -> x + y) AS se,
          list_reduce(list_prepend(0.0, list_transform(l, t ->
            (((CAST(t.a + t.b AS DOUBLE) * CAST(t.c + t.d AS DOUBLE))
              * CAST(t.a + t.c AS DOUBLE)) * CAST(t.b + t.d AS DOUBLE))
            / ((CAST(t.a + t.b + t.c + t.d AS DOUBLE)
                * CAST(t.a + t.b + t.c + t.d AS DOUBLE))
               * (CAST(t.a + t.b + t.c + t.d AS DOUBLE) - 1.0)))),
            (x, y) -> x + y) AS sv
          FROM lst)
        SELECT k_strata, sum_a,
          floor((or_num / or_den) * 1e6 + 0.5) / 1e6 AS or_mh,
          floor((((CAST(sum_a AS DOUBLE) - se)
                  * (CAST(sum_a AS DOUBLE) - se)) / sv)
                * 1e6 + 0.5) / 1e6 AS cmh
        FROM f
        WHERE k_strata > 0 AND or_den > 0 AND sv > 0
    """
    out["theil_sen"] = """
        WITH daily AS (SELECT o_orderdate AS d,
                              CAST(count(*) AS BIGINT) AS cnt
                       FROM orders GROUP BY 1),
        x0 AS (SELECT min(d) AS d0 FROM daily),
        idx AS (SELECT CAST(datediff('day', d0, d) AS BIGINT) AS x, cnt
                FROM daily, x0),
        pairs AS (SELECT CAST(b.cnt - a.cnt AS DOUBLE)
                         / CAST(b.x - a.x AS DOUBLE) AS slope
                  FROM idx a JOIN idx b ON a.x < b.x),
        m AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs FROM pairs),
        r AS (SELECT slope, row_number() OVER (ORDER BY slope) AS rn
              FROM pairs)
        SELECT n_pairs,
               floor(avg(slope) * 1e6 + 0.5) / 1e6 AS slope_med,
               CAST(count(*) AS BIGINT) AS n_mid
        FROM r, m
        WHERE rn = (n_pairs + 1) // 2 OR rn = n_pairs // 2 + 1
        GROUP BY n_pairs
    """
    out["hard_negatives"] = S.duckdb_hard_negatives_sql()
    out["matryoshka_eval"] = S.duckdb_matryoshka_sql()
    out["purchase_streaks"] = """
        WITH d AS (SELECT DISTINCT user_id,
                          CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day
                   FROM events WHERE event_type = 'purchase'),
        isl AS (SELECT user_id, day,
                       day - row_number() OVER (PARTITION BY user_id
                                                ORDER BY day) AS island
                FROM d),
        agg AS (SELECT user_id, island, CAST(count(*) AS BIGINT) AS len,
                       CAST(max(day) AS BIGINT) AS last_day
                FROM isl GROUP BY 1, 2),
        mx AS (SELECT user_id, max(last_day) AS mxd FROM agg GROUP BY 1)
        SELECT a.user_id, a.len AS streak, a.last_day
        FROM agg a JOIN mx ON a.user_id = mx.user_id
                          AND a.last_day = mx.mxd
    """
    out["cvm_drift"] = """
        WITH base AS (SELECT source, CAST(n_chars AS BIGINT) AS v
                      FROM documents WHERE n_chars IS NOT NULL),
        gv AS (SELECT v, count(*) AS c_all FROM base GROUP BY 1),
        sv AS (SELECT source, v, count(*) AS c_s FROM base GROUP BY 1, 2),
        srcs AS (SELECT source, count(*) AS n1 FROM base GROUP BY 1),
        tot AS (SELECT count(*) AS n_total FROM base),
        grid AS (SELECT srcs.source, srcs.n1, gv.v, gv.c_all,
                        COALESCE(sv.c_s, 0) AS c_s
                 FROM gv CROSS JOIN srcs
                 LEFT JOIN sv ON sv.source = srcs.source AND sv.v = gv.v),
        cum AS (SELECT source, n1, c_all,
                       sum(c_s) OVER (PARTITION BY source
                                      ORDER BY v) AS cum_s,
                       sum(c_all) OVER (PARTITION BY source
                                        ORDER BY v) AS cum_all
                FROM grid),
        agg AS (SELECT source, CAST(n1 AS BIGINT) AS n1,
                       CAST(n_total - n1 AS BIGINT) AS n2,
                       CAST(n_total AS BIGINT) AS n_total,
                       sum(CAST(c_all AS HUGEINT)
                           * CAST((n_total - n1) * cum_s
                                  - n1 * (cum_all - cum_s) AS HUGEINT)
                           * CAST((n_total - n1) * cum_s
                                  - n1 * (cum_all - cum_s) AS HUGEINT))
                         AS s
                FROM cum CROSS JOIN tot
                WHERE n1 > 0 AND n_total - n1 > 0
                GROUP BY 1, 2, 3, 4)
        SELECT source, n1, n2,
               floor((CAST(s AS DOUBLE)
                      / (((CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE))
                          * CAST(n1 AS DOUBLE)) * CAST(n2 AS DOUBLE)))
                     * 1e6 + 0.5) / 1e6 AS cvm
        FROM agg
    """
    out["jonckheere"] = """
        WITH base AS (SELECT o_orderpriority AS g,
                             CAST(round(o_totalprice * 100) AS BIGINT) AS v
                      FROM orders WHERE o_totalprice IS NOT NULL),
        sv AS (SELECT g, v, CAST(count(*) AS BIGINT) AS c
               FROM base GROUP BY 1, 2),
        vs AS (SELECT DISTINCT v FROM sv),
        gs AS (SELECT DISTINCT g FROM sv),
        grid AS (SELECT gs.g, vs.v, COALESCE(sv.c, 0) AS c
                 FROM vs CROSS JOIN gs
                 LEFT JOIN sv ON sv.g = gs.g AND sv.v = vs.v),
        cum AS (SELECT g, v, c,
                       CAST(sum(c) OVER (PARTITION BY g ORDER BY v) - c
                            AS BIGINT) AS less
                FROM grid),
        jt AS (SELECT CAST(sum(b.c * (2 * a.less + a.c)) AS BIGINT) AS jt2
               FROM cum a JOIN sv b ON a.v = b.v AND a.g < b.g),
        per_g AS (SELECT g, CAST(sum(c) AS BIGINT) AS ng
                  FROM sv GROUP BY 1),
        consts AS (SELECT CAST(sum(ng) AS BIGINT) AS n,
                          CAST(count(*) AS BIGINT) AS k,
                          CAST(sum(ng * ng) AS BIGINT) AS sn2
                   FROM per_g),
        bl AS (SELECT list(struct_pack(g := g, ng := ng) ORDER BY g) AS l
               FROM per_g),
        bt AS (SELECT list_reduce(list_prepend(0.0, list_transform(l, t ->
                 (CAST(t.ng AS DOUBLE) * CAST(t.ng AS DOUBLE))
                 * (2.0 * CAST(t.ng AS DOUBLE) + 3.0))),
                 (a, b) -> a + b) AS bterm
               FROM bl)
        SELECT n, k, jt2,
               floor((CAST(jt2 - (n * n - sn2) // 2 AS DOUBLE)
                      / (2.0 * sqrt(((CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
                                     * (2.0 * CAST(n AS DOUBLE) + 3.0)
                                     - bterm) / 72.0)))
                     * 1e6 + 0.5) / 1e6 AS z
        FROM jt, consts, bt
        WHERE ((CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
               * (2.0 * CAST(n AS DOUBLE) + 3.0) - bterm) / 72.0 > 0
    """
    out["kappa_lang"] = f"""
        WITH {_TEXT_FEATURES_CTE},
        per AS (SELECT CASE WHEN d.lang = 'en' THEN 'en' ELSE 'other' END
                         AS actual,
                       CASE WHEN f.swr >= 0.08 THEN 'en' ELSE 'other' END
                         AS pred
                FROM documents d JOIN feat2 f ON d.doc_id = f.doc_id),
        agg AS (SELECT CAST(count(*) AS BIGINT) AS n,
                       CAST(sum(CASE WHEN actual = pred THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_agree,
                       CAST(sum(CASE WHEN actual = 'en' THEN 1 ELSE 0 END)
                            AS BIGINT) AS r_en,
                       CAST(sum(CASE WHEN pred = 'en' THEN 1 ELSE 0 END)
                            AS BIGINT) AS c_en
                FROM per)
        SELECT n, n_agree,
               floor((CAST(n * n_agree
                           - (r_en * c_en + (n - r_en) * (n - c_en))
                           AS DOUBLE)
                      / CAST(n * n
                             - (r_en * c_en + (n - r_en) * (n - c_en))
                             AS DOUBLE))
                     * 1e6 + 0.5) / 1e6 AS kappa
        FROM agg
        WHERE n * n > r_en * c_en + (n - r_en) * (n - c_en)
    """
    out["psi_drift"] = """
        WITH u AS (SELECT o_totalprice AS v FROM orders),
        b AS (SELECT min(v) AS mn, max(v) AS mx FROM u),
        s AS (SELECT mn,
                     CASE WHEN mx - mn <= 0 THEN 1.0 ELSE mx - mn END AS span
              FROM b),
        o AS (SELECT least(19, CAST(floor((o_totalprice - mn) / span * 20)
                                    AS BIGINT)) AS bin, count(*) AS n_old
              FROM orders, s
              WHERE o_orderdate < DATE '1998-01-01'
                AND o_totalprice IS NOT NULL GROUP BY 1),
        n AS (SELECT least(19, CAST(floor((o_totalprice - mn) / span * 20)
                                    AS BIGINT)) AS bin, count(*) AS n_new
              FROM orders, s
              WHERE o_orderdate >= DATE '1998-01-01'
                AND o_totalprice IS NOT NULL GROUP BY 1),
        spine AS (SELECT unnest(range(20)) AS bin),
        bins AS (SELECT CAST(spine.bin AS INTEGER) AS bin,
                        COALESCE(o.n_old, 0) AS n_old,
                        COALESCE(n.n_new, 0) AS n_new
                 FROM spine LEFT JOIN o ON o.bin = spine.bin
                            LEFT JOIN n ON n.bin = spine.bin),
        lst AS (SELECT list(struct_pack(bin := bin, n_old := n_old,
                                        n_new := n_new) ORDER BY bin) AS l,
                       CAST(sum(n_old) AS BIGINT) AS n_old_total,
                       CAST(sum(n_new) AS BIGINT) AS n_new_total
                FROM bins)
        SELECT n_old_total, n_new_total,
          floor(list_reduce(list_prepend(0.0, list_transform(l, t ->
            ((CAST(t.n_old AS DOUBLE) + 1.0)
             / (CAST(n_old_total AS DOUBLE) + 20.0)
             - (CAST(t.n_new AS DOUBLE) + 1.0)
               / (CAST(n_new_total AS DOUBLE) + 20.0))
            * ln(((CAST(t.n_old AS DOUBLE) + 1.0)
                  / (CAST(n_old_total AS DOUBLE) + 20.0))
                 / ((CAST(t.n_new AS DOUBLE) + 1.0)
                    / (CAST(n_new_total AS DOUBLE) + 20.0))))),
            (a, b) -> a + b) * 1e6 + 0.5) / 1e6 AS psi
        FROM lst
        WHERE n_old_total > 0 AND n_new_total > 0
    """
    out["hill_tail"] = """
        WITH ranked AS (
          SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS x,
                 row_number() OVER (
                   ORDER BY CAST(round(o_totalprice * 100) AS BIGINT) DESC,
                            o_orderkey ASC) AS rn
          FROM orders),
        xk1 AS (SELECT x AS xk1 FROM ranked WHERE rn = 501),
        lst AS (SELECT list(struct_pack(rn := rn, x := x) ORDER BY rn) AS l,
                       CAST(count(*) AS BIGINT) AS kk
                FROM ranked WHERE rn <= 500),
        f AS (SELECT kk, xk1,
                list_reduce(list_prepend(0.0, list_transform(l, t ->
                  ln(CAST(t.x AS DOUBLE) / CAST(xk1 AS DOUBLE)))),
                  (a, b) -> a + b) AS s
              FROM lst, xk1)
        SELECT kk AS k, CAST(xk1 AS BIGINT) AS xk1_cents,
               floor((s / CAST(kk AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS hill,
               floor((1.0 / (s / CAST(kk AS DOUBLE))) * 1e6 + 0.5) / 1e6
                 AS alpha
        FROM f
        WHERE kk = 500 AND xk1 > 0 AND s > 0
    """
    out["quantile_normalize"] = """
        WITH base AS (SELECT doc_id, source, CAST(n_chars AS BIGINT) AS v
                      FROM documents WHERE n_chars IS NOT NULL),
        sv AS (SELECT source, v, CAST(count(*) AS BIGINT) AS c
               FROM base GROUP BY 1, 2),
        gv AS (SELECT v, CAST(sum(c) AS BIGINT) AS c_all
               FROM sv GROUP BY 1),
        tot AS (SELECT CAST(sum(c_all) AS BIGINT) AS n_total FROM gv),
        idxd AS (SELECT source, v,
                        CAST(2 * (sum(c) OVER (PARTITION BY source
                                               ORDER BY v) - c) + c + 1
                             AS BIGINT) AS u,
                        CAST(sum(c) OVER (PARTITION BY source) AS BIGINT)
                          AS n_s
                 FROM sv),
        idx2 AS (SELECT source, v, (u * n_total + n_s) // (2 * n_s) AS idx
                 FROM idxd, tot),
        spine AS (SELECT v AS v_norm,
                         CAST(sum(c_all) OVER (ORDER BY v) - c_all
                              AS BIGINT) AS cum_prev,
                         CAST(sum(c_all) OVER (ORDER BY v) AS BIGINT) AS cum
                  FROM gv),
        mapped AS (SELECT source, v, v_norm
                   FROM idx2 JOIN spine
                     ON idx > cum_prev AND idx <= cum)
        SELECT b.doc_id, b.source, b.v, m.v_norm
        FROM base b JOIN mapped m ON b.source = m.source AND b.v = m.v
    """
    out["t_closeness"] = """
        WITH cust AS (SELECT c_nationkey AS nation, c_mktsegment AS segment,
                             CAST(floor(c_acctbal / 1000) AS BIGINT) AS b
                      FROM customer),
        gv AS (SELECT b, CAST(count(*) AS BIGINT) AS c_all
               FROM cust GROUP BY 1),
        sv AS (SELECT nation, segment, b, CAST(count(*) AS BIGINT) AS c_g
               FROM cust GROUP BY 1, 2, 3),
        grp AS (SELECT nation, segment, CAST(count(*) AS BIGINT) AS n_g
                FROM cust GROUP BY 1, 2),
        consts AS (SELECT CAST(sum(c_all) AS BIGINT) AS n_total,
                          CAST(count(*) AS BIGINT) AS m
                   FROM gv),
        grid AS (SELECT grp.nation, grp.segment, grp.n_g, gv.b, gv.c_all,
                        COALESCE(sv.c_g, 0) AS c_g
                 FROM gv CROSS JOIN grp
                 LEFT JOIN sv ON sv.nation = grp.nation
                            AND sv.segment = grp.segment AND sv.b = gv.b),
        cum AS (SELECT nation, segment, n_g,
                       sum(c_g) OVER (PARTITION BY nation, segment
                                      ORDER BY b) AS cum_g,
                       sum(c_all) OVER (PARTITION BY nation, segment
                                        ORDER BY b) AS cum_all
                FROM grid),
        agg AS (SELECT nation, segment, n_g, n_total, m,
                       CAST(sum(abs(n_total * cum_g - n_g * cum_all))
                            AS BIGINT) AS emd_num
                FROM cum CROSS JOIN consts
                WHERE m > 1
                GROUP BY 1, 2, 3, 4, 5)
        SELECT CAST(nation AS BIGINT) AS nation, segment,
               n_g AS n_rows, emd_num,
               floor((CAST(emd_num AS DOUBLE)
                      / ((CAST(n_g AS DOUBLE) * CAST(n_total AS DOUBLE))
                         * (CAST(m AS DOUBLE) - 1.0)))
                     * 1e6 + 0.5) / 1e6 AS emd,
               (CAST(emd_num AS DOUBLE)
                / ((CAST(n_g AS DOUBLE) * CAST(n_total AS DOUBLE))
                   * (CAST(m AS DOUBLE) - 1.0))) > 0.2 AS at_risk
        FROM agg
    """
    # --- round-6 additions -------------------------------------------
    out["friedman_test"] = """
        WITH counts AS (SELECT date_trunc('day', ts) AS d,
                               event_type AS t,
                               CAST(count(*) AS BIGINT) AS c
                        FROM events GROUP BY 1, 2),
        grid AS (SELECT dd.d, tt.t, COALESCE(c.c, 0) AS c
                 FROM (SELECT DISTINCT d FROM counts) dd
                 CROSS JOIN (SELECT DISTINCT t FROM counts) tt
                 LEFT JOIN counts c ON c.d = dd.d AND c.t = tt.t),
        u AS (SELECT g.d, g.t,
                     CAST(2 * sum(CASE WHEN o.c < g.c THEN 1 ELSE 0 END)
                          + sum(CASE WHEN o.c = g.c THEN 1 ELSE 0 END)
                          + 1 AS BIGINT) AS u
              FROM grid g JOIN grid o ON o.d = g.d
              GROUP BY g.d, g.t, g.c),
        per_t AS (SELECT t, CAST(sum(u) AS BIGINT) AS r2 FROM u GROUP BY 1),
        consts AS (SELECT CAST(sum(u * u) AS BIGINT) AS sum_u2,
                          (SELECT CAST(count(DISTINCT d) AS BIGINT) FROM u)
                              AS n,
                          (SELECT CAST(count(*) AS BIGINT) FROM per_t) AS k
                   FROM u),
        agg AS (SELECT k, n, sum_u2,
                       CAST(sum((r2 - n * (k + 1)) * (r2 - n * (k + 1)))
                            AS BIGINT) AS num4
                FROM per_t, consts GROUP BY 1, 2, 3)
        SELECT n AS n_blocks, k, sum_u2,
               floor(CAST(k - 1 AS DOUBLE) * CAST(num4 AS DOUBLE)
                     / CAST(sum_u2 - n * k * (k + 1) * (k + 1) AS DOUBLE)
                     * 1e6 + 0.5) / 1e6 AS q
        FROM agg
        WHERE k > 1 AND sum_u2 - n * k * (k + 1) * (k + 1) > 0
    """
    out["cliffs_delta"] = """
        WITH base AS (SELECT CASE WHEN source = 'src0' THEN 'a'
                                  ELSE 'b' END AS g,
                             CAST(n_chars AS BIGINT) AS v
                      FROM documents WHERE n_chars IS NOT NULL),
        sv AS (SELECT g, v, CAST(count(*) AS BIGINT) AS c
               FROM base GROUP BY 1, 2),
        piv AS (SELECT v,
                       CAST(sum(CASE WHEN g = 'a' THEN c ELSE 0 END)
                            AS BIGINT) AS ca,
                       CAST(sum(CASE WHEN g = 'b' THEN c ELSE 0 END)
                            AS BIGINT) AS cb
                FROM sv GROUP BY 1),
        cum AS (SELECT v, ca, cb,
                       CAST(sum(cb) OVER (ORDER BY v) - cb AS BIGINT)
                           AS b_less,
                       CAST(sum(ca) OVER (ORDER BY v) - ca AS BIGINT)
                           AS a_less
                FROM piv),
        agg AS (SELECT CAST(sum(ca) AS BIGINT) AS n_a,
                       CAST(sum(cb) AS BIGINT) AS n_b,
                       CAST(sum(ca * b_less) AS BIGINT) AS n_gt,
                       CAST(sum(cb * a_less) AS BIGINT) AS n_lt,
                       CAST(sum(ca * cb) AS BIGINT) AS n_eq
                FROM cum),
        scored AS (SELECT *,
                          floor(CAST(n_gt - n_lt AS DOUBLE)
                                / (CAST(n_a AS DOUBLE)
                                   * CAST(n_b AS DOUBLE))
                                * 1e6 + 0.5) / 1e6 AS delta
                   FROM agg WHERE n_a > 0 AND n_b > 0)
        SELECT n_a, n_b, n_gt, n_lt, n_eq, delta,
               CASE WHEN abs(delta) < 0.147 THEN 'negligible'
                    WHEN abs(delta) < 0.33 THEN 'small'
                    WHEN abs(delta) < 0.474 THEN 'medium'
                    ELSE 'large' END AS magnitude
        FROM scored
    """
    out["calibration_bins"] = """
        WITH base AS (SELECT CAST(round(value * 100) AS BIGINT) AS cents,
                             event_id AS eid,
                             CASE WHEN event_type = 'purchase'
                                  THEN 1 ELSE 0 END AS pos
                      FROM events WHERE value IS NOT NULL),
        n AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM base),
        ranked AS (SELECT cents, pos,
                          row_number() OVER (ORDER BY cents ASC, eid ASC)
                              AS rn
                   FROM base),
        binned AS (SELECT cents, pos,
                          CAST((rn - 1) * 10 // n_total AS INTEGER) AS bin
                   FROM ranked, n),
        per AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
                       CAST(sum(pos) AS BIGINT) AS n_pos,
                       CAST(min(cents) AS BIGINT) AS cents_min,
                       CAST(max(cents) AS BIGINT) AS cents_max
                FROM binned GROUP BY 1),
        br AS (SELECT CAST(sum(pos) AS DOUBLE) / count(*) AS base
               FROM binned)
        SELECT bin, n, n_pos, cents_min, cents_max,
               floor(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)
                     * 1e6 + 0.5) / 1e6 AS pos_rate,
               floor(base * 1e6 + 0.5) / 1e6 AS base_rate
        FROM per, br
    """
    out["ndcg_eval"] = S.duckdb_ndcg_sql()
    out["js_divergence"] = """
        WITH u AS (SELECT value AS v FROM events
                   WHERE event_type IN ('purchase', 'view')),
        b AS (SELECT min(v) AS mn, max(v) AS mx FROM u),
        s AS (SELECT mn,
                     CASE WHEN mx - mn <= 0 THEN 1.0 ELSE mx - mn END AS span
              FROM b),
        o AS (SELECT least(19, CAST(floor((value - mn) / span * 20)
                                    AS BIGINT)) AS bin, count(*) AS n_old
              FROM events, s
              WHERE event_type = 'purchase' AND value IS NOT NULL
              GROUP BY 1),
        n AS (SELECT least(19, CAST(floor((value - mn) / span * 20)
                                    AS BIGINT)) AS bin, count(*) AS n_new
              FROM events, s
              WHERE event_type = 'view' AND value IS NOT NULL
              GROUP BY 1),
        spine AS (SELECT unnest(range(20)) AS bin),
        bins AS (SELECT CAST(spine.bin AS INTEGER) AS bin,
                        COALESCE(o.n_old, 0) AS n_old,
                        COALESCE(n.n_new, 0) AS n_new
                 FROM spine LEFT JOIN o ON o.bin = spine.bin
                            LEFT JOIN n ON n.bin = spine.bin),
        lst AS (SELECT list(struct_pack(bin := bin, n_old := n_old,
                                        n_new := n_new) ORDER BY bin) AS l,
                       CAST(sum(n_old) AS BIGINT) AS n_old_total,
                       CAST(sum(n_new) AS BIGINT) AS n_new_total
                FROM bins)
        SELECT n_old_total, n_new_total,
          floor(list_reduce(list_prepend(0.0, list_transform(l, t ->
            0.5 * ((CAST(t.n_old AS DOUBLE) + 1.0)
                   / (CAST(n_old_total AS DOUBLE) + 20.0)
                   * ln(((CAST(t.n_old AS DOUBLE) + 1.0)
                         / (CAST(n_old_total AS DOUBLE) + 20.0))
                        / (((CAST(t.n_old AS DOUBLE) + 1.0)
                            / (CAST(n_old_total AS DOUBLE) + 20.0)
                            + (CAST(t.n_new AS DOUBLE) + 1.0)
                              / (CAST(n_new_total AS DOUBLE) + 20.0))
                           / 2.0)))
            + 0.5 * ((CAST(t.n_new AS DOUBLE) + 1.0)
                     / (CAST(n_new_total AS DOUBLE) + 20.0)
                     * ln(((CAST(t.n_new AS DOUBLE) + 1.0)
                           / (CAST(n_new_total AS DOUBLE) + 20.0))
                          / (((CAST(t.n_old AS DOUBLE) + 1.0)
                              / (CAST(n_old_total AS DOUBLE) + 20.0)
                              + (CAST(t.n_new AS DOUBLE) + 1.0)
                                / (CAST(n_new_total AS DOUBLE) + 20.0))
                             / 2.0))))),
            (a, b) -> a + b) * 1e6 + 0.5) / 1e6 AS jsd
        FROM lst
        WHERE n_old_total > 0 AND n_new_total > 0
    """
    out["source_entropy"] = r"""
        WITH tk AS (SELECT source,
                           CAST(len(list_filter(
                             string_split_regex(text, '\s+'),
                             t -> t <> '')) AS BIGINT) AS nt
                    FROM documents),
        per AS (SELECT source, CAST(sum(nt) AS BIGINT) AS n_tokens
                FROM tk GROUP BY 1 HAVING sum(nt) > 0),
        lst AS (SELECT list(struct_pack(source := source,
                                        n_tokens := n_tokens)
                            ORDER BY source) AS l,
                       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
                       CAST(count(*) AS BIGINT) AS n_sources
                FROM per),
        h AS (SELECT n_sources, total_tokens,
                     list_reduce(list_prepend(0.0, list_transform(l, t ->
                       -(CAST(t.n_tokens AS DOUBLE)
                         / CAST(total_tokens AS DOUBLE))
                       * ln(CAST(t.n_tokens AS DOUBLE)
                            / CAST(total_tokens AS DOUBLE)))),
                       (a, b) -> a + b) AS hv
              FROM lst
              WHERE n_sources > 1 AND total_tokens > 0)
        SELECT n_sources, total_tokens,
               floor(hv * 1e6 + 0.5) / 1e6 AS entropy,
               floor(hv / ln(CAST(n_sources AS DOUBLE)) * 1e6 + 0.5) / 1e6
                   AS evenness
        FROM h
    """
    out["rolling_spend"] = """
        WITH p AS (SELECT user_id,
                          CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
                          event_id AS eid,
                          CAST(round(value * 100) AS BIGINT) AS cents
                   FROM events WHERE event_type = 'purchase'),
        w AS (SELECT user_id,
                     CAST(sum(cents) OVER (
                       PARTITION BY user_id ORDER BY ts_s, eid
                       ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS lastn_cents,
                     CAST(count(*) OVER (
                       PARTITION BY user_id ORDER BY ts_s, eid
                       ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS lastn_len,
                     row_number() OVER (
                       PARTITION BY user_id
                       ORDER BY ts_s DESC, eid DESC) AS rk,
                     CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT)
                         AS n_purchases
              FROM p)
        SELECT user_id, n_purchases, lastn_cents, lastn_len,
               floor(CAST(lastn_cents AS DOUBLE)
                     / CAST(lastn_len AS DOUBLE) / 100.0
                     * 1e4 + 0.5) / 1e4 AS lastn_avg
        FROM w WHERE rk = 1
    """
    out["favorite_event_type"] = """
        WITH c AS (SELECT user_id, event_type,
                          CAST(count(*) AS BIGINT) AS c
                   FROM events GROUP BY 1, 2),
        r AS (SELECT user_id, event_type, c,
                     row_number() OVER (
                       PARTITION BY user_id
                       ORDER BY c DESC, event_type ASC) AS rk,
                     CAST(sum(c) OVER (PARTITION BY user_id) AS BIGINT)
                         AS n_total
              FROM c)
        SELECT user_id, event_type AS fav_type, c AS n_fav, n_total
        FROM r WHERE rk = 1
    """
    out["weighted_sample"] = """
        WITH keyed AS (
          SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
                 ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                          1, 13))::BIGINT AS DOUBLE) + 0.5)
                    / 4503599627370496.0)
                 / CAST(n_chars AS DOUBLE) AS key
          FROM documents
          WHERE n_chars IS NOT NULL AND n_chars > 0),
        ranked AS (
          SELECT *, row_number() OVER (ORDER BY key DESC, doc_id ASC)
                        AS rank
          FROM keyed)
        SELECT CAST(rank AS INTEGER) AS rank, doc_id, w,
               floor(key * 1e6 + 0.5) / 1e6 AS key
        FROM ranked WHERE rank <= 50
    """
    out["part_clustering"] = """
        WITH e0 AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                    FROM lineitem),
        ce AS (SELECT x.pk AS a, y.pk AS b
               FROM e0 x JOIN e0 y ON x.ok = y.ok AND x.pk < y.pk
               GROUP BY 1, 2 HAVING count(*) >= 2),
        e AS (SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b
              FROM ce WHERE a <> b),
        deg AS (SELECT node, CAST(count(*) AS BIGINT) AS degree
                FROM (SELECT a AS node FROM e
                      UNION ALL SELECT b FROM e)
                GROUP BY 1),
        tri AS (SELECT ab.a AS x, ab.b AS y, bc.b AS z
                FROM e ab JOIN e bc ON ab.b = bc.a
                          JOIN e ac ON ac.a = ab.a AND ac.b = bc.b),
        per_node AS (SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
                     FROM (SELECT x AS node FROM tri
                           UNION ALL SELECT y FROM tri
                           UNION ALL SELECT z FROM tri)
                     GROUP BY 1)
        SELECT d.node, d.degree,
               COALESCE(p.n_triangles, 0) AS n_triangles,
               floor(CAST(2 * COALESCE(p.n_triangles, 0) AS DOUBLE)
                     / CAST(d.degree * (d.degree - 1) AS DOUBLE)
                     * 1e6 + 0.5) / 1e6 AS clustering_coeff
        FROM deg d LEFT JOIN per_node p ON p.node = d.node
        WHERE d.degree >= 2
    """
    out["kanon_band_search"] = """
        WITH spine AS (SELECT unnest([1, 2, 4, 8, 16]) AS w),
        banded AS (SELECT s.w, c_nationkey AS nation,
                          CAST(floor(c_acctbal / (1000 * s.w)) AS BIGINT)
                              AS band
                   FROM customer CROSS JOIN spine s),
        groups AS (SELECT w, nation, band, CAST(count(*) AS BIGINT) AS n
                   FROM banded GROUP BY 1, 2, 3),
        per_w AS (SELECT w, CAST(count(*) AS BIGINT) AS n_groups,
                         CAST(min(n) AS BIGINT) AS min_group
                  FROM groups GROUP BY 1),
        best AS (SELECT min(CASE WHEN min_group >= 5 THEN w END) AS bw
                 FROM per_w)
        SELECT CAST(w AS INTEGER) AS w, n_groups, min_group,
               min_group >= 5 AS k_ok,
               COALESCE(w = bw, FALSE) AS chosen
        FROM per_w, best
    """
    out["mcnemar_test"] = """
        WITH pu AS (
          SELECT user_id,
                 CAST(sum(CASE WHEN event_type = 'purchase'
                                AND CAST(ts AS DATE) < DATE '2024-01-16'
                               THEN 1 ELSE 0 END) >= 7 AS INT) AS x1,
                 CAST(sum(CASE WHEN event_type = 'purchase'
                                AND CAST(ts AS DATE) >= DATE '2024-01-16'
                               THEN 1 ELSE 0 END) >= 7 AS INT) AS x2
          FROM events GROUP BY 1),
        cells AS (
          SELECT CAST(count(*) AS BIGINT) AS n_users,
                 CAST(sum((1 - x1) * (1 - x2)) AS BIGINT) AS n00,
                 CAST(sum(x1 * (1 - x2)) AS BIGINT) AS n10,
                 CAST(sum((1 - x1) * x2) AS BIGINT) AS n01,
                 CAST(sum(x1 * x2) AS BIGINT) AS n11
          FROM pu)
        SELECT n_users, n00, n10, n01, n11,
               floor(CAST((n10 - n01) * (n10 - n01) AS DOUBLE)
                     / CAST(n10 + n01 AS DOUBLE) * 1e6 + 0.5) / 1e6 AS chi2,
               floor(CAST(greatest(abs(n10 - n01) - 1, 0)
                          * greatest(abs(n10 - n01) - 1, 0) AS DOUBLE)
                     / CAST(n10 + n01 AS DOUBLE) * 1e6 + 0.5) / 1e6
                   AS chi2_cc
        FROM cells WHERE n10 + n01 > 0
    """
    out["cuped_adjustment"] = """
        WITH pu AS (
          SELECT user_id,
                 CAST(sum(CASE WHEN event_type = 'purchase'
                                AND CAST(ts AS DATE) < DATE '2024-01-16'
                               THEN CAST(round(value * 100) AS BIGINT)
                               ELSE 0 END) AS BIGINT) AS x,
                 CAST(sum(CASE WHEN event_type = 'purchase'
                                AND CAST(ts AS DATE) >= DATE '2024-01-16'
                               THEN CAST(round(value * 100) AS BIGINT)
                               ELSE 0 END) AS BIGINT) AS y,
                 ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                   ::BIGINT % 2 AS variant
          FROM events GROUP BY user_id),
        pooled AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 sum(CAST(x AS HUGEINT)) AS sx,
                 sum(CAST(y AS HUGEINT)) AS sy,
                 sum(CAST(x AS HUGEINT) * x) AS sxx,
                 sum(CAST(x AS HUGEINT) * y) AS sxy,
                 sum(CAST(y AS HUGEINT) * y) AS syy
          FROM pu),
        pv AS (
          SELECT variant, CAST(count(*) AS BIGINT) AS n_users,
                 sum(CAST(x AS HUGEINT)) AS svx,
                 sum(CAST(y AS HUGEINT)) AS svy
          FROM pu GROUP BY 1),
        m AS (
          SELECT variant, n_users, svx, svy, n, sx, sy,
                 CAST(n * sxy - sx * sy AS DOUBLE) AS cov_n,
                 CAST(n * sxx - sx * sx AS DOUBLE) AS varx_n,
                 CAST(n * syy - sy * sy AS DOUBLE) AS vary_n
          FROM pv CROSS JOIN pooled)
        SELECT variant, n_users,
               floor(CAST(svy AS DOUBLE) / CAST(n_users AS DOUBLE) / 100.0
                     * 1e6 + 0.5) / 1e6 AS mean_y,
               floor((CAST(svy AS DOUBLE)
                      - (cov_n / varx_n)
                        * (CAST(svx AS DOUBLE)
                           - CAST(n_users AS DOUBLE) * CAST(sx AS DOUBLE)
                             / CAST(n AS DOUBLE)))
                     / CAST(n_users AS DOUBLE) / 100.0 * 1e6 + 0.5) / 1e6
                   AS mean_y_adj,
               floor(cov_n / varx_n * 1e6 + 0.5) / 1e6 AS theta,
               floor(cov_n * cov_n / (varx_n * vary_n) * 1e6 + 0.5) / 1e6
                   AS rho2
        FROM m
        WHERE n > 1 AND varx_n > 0 AND vary_n > 0
    """
    out["levene_variance"] = """
        WITH base AS (SELECT source, CAST(n_chars AS BIGINT) AS v
                      FROM documents WHERE n_chars IS NOT NULL),
        sv AS (SELECT source, v, count(*) AS c FROM base GROUP BY 1, 2),
        cum AS (SELECT source, v,
                       sum(c) OVER (PARTITION BY source ORDER BY v) AS cum,
                       sum(c) OVER (PARTITION BY source) AS n_g
                FROM sv),
        med AS (SELECT source, min(v) AS med FROM cum
                WHERE 2 * cum >= n_g + 1 GROUP BY 1),
        z AS (SELECT base.source, abs(base.v - med.med) AS z
              FROM base JOIN med ON base.source = med.source),
        grp AS (SELECT source, CAST(count(*) AS BIGINT) AS ng,
                       CAST(sum(z) AS BIGINT) AS zg,
                       sum(CAST(z AS HUGEINT) * z) AS ssg
                FROM z GROUP BY 1),
        lst AS (SELECT CAST(count(*) AS BIGINT) AS k,
                       CAST(sum(ng) AS BIGINT) AS n_total,
                       CAST(sum(CAST(zg AS HUGEINT)) AS DOUBLE) AS z_all,
                       CAST(sum(ssg) AS DOUBLE) AS ss_all,
                       list(struct_pack(source := source, ng := ng,
                                        zg := zg)
                            ORDER BY source) AS l
                FROM grp),
        f AS (SELECT k, n_total, z_all, ss_all,
                     list_reduce(list_prepend(0.0, list_transform(l, t ->
                       (CAST(t.zg AS DOUBLE) * CAST(t.zg AS DOUBLE))
                       / CAST(t.ng AS DOUBLE))),
                       (a, b) -> a + b) AS q
              FROM lst)
        SELECT k, n_total,
               floor((q - z_all * z_all / CAST(n_total AS DOUBLE))
                     * 1e6 + 0.5) / 1e6 AS ssb,
               floor((ss_all - q) * 1e6 + 0.5) / 1e6 AS ssw,
               floor((CAST(n_total AS DOUBLE) - CAST(k AS DOUBLE))
                     / (CAST(k AS DOUBLE) - 1.0)
                     * (q - z_all * z_all / CAST(n_total AS DOUBLE))
                     / (ss_all - q) * 1e6 + 0.5) / 1e6 AS f_stat
        FROM f
        WHERE k > 1 AND (ss_all - q) > 0
    """
    out["ad_twosample"] = """
        WITH base AS (SELECT source, CAST(n_chars AS BIGINT) AS v
                      FROM documents WHERE n_chars IS NOT NULL),
        gv AS (SELECT v, count(*) AS c_all FROM base GROUP BY 1),
        sv AS (SELECT source, v, count(*) AS c_s FROM base GROUP BY 1, 2),
        srcs AS (SELECT source, count(*) AS n1 FROM base GROUP BY 1),
        tot AS (SELECT count(*) AS n_total FROM base),
        grid AS (SELECT srcs.source, srcs.n1, gv.v, gv.c_all,
                        COALESCE(sv.c_s, 0) AS c_s
                 FROM gv CROSS JOIN srcs
                 LEFT JOIN sv ON sv.source = srcs.source AND sv.v = gv.v),
        cum AS (SELECT source, n1, CAST(c_all AS BIGINT) AS l, v,
                       CAST(sum(c_s) OVER (PARTITION BY source
                                           ORDER BY v) AS BIGINT) AS m,
                       CAST(sum(c_all) OVER (PARTITION BY source
                                             ORDER BY v) AS BIGINT) AS b
                FROM grid),
        spine AS (SELECT source, n1, n_total,
                         struct_pack(v := v, l := l,
                                     num := CAST(n_total * m - n1 * b
                                                 AS BIGINT),
                                     b := b) AS s
                  FROM cum CROSS JOIN tot
                  WHERE b < n_total),
        lst AS (SELECT source, n1, n_total,
                       list(s ORDER BY s.v) AS l
                FROM spine GROUP BY 1, 2, 3),
        acc AS (SELECT source, n1, n_total,
                       list_reduce(list_prepend(0.0, list_transform(l, t ->
                         CAST(t.l AS DOUBLE)
                         * (CAST(t.num AS DOUBLE) * CAST(t.num AS DOUBLE))
                         / (CAST(t.b AS DOUBLE)
                            * (CAST(n_total AS DOUBLE)
                               - CAST(t.b AS DOUBLE))))),
                         (a, b) -> a + b) AS a
                FROM lst)
        SELECT source, CAST(n1 AS BIGINT) AS n1,
               CAST(n_total - n1 AS BIGINT) AS n2,
               floor(a / (CAST(n1 AS DOUBLE)
                          * CAST(n_total - n1 AS DOUBLE))
                     * 1e6 + 0.5) / 1e6 AS a2
        FROM acc
        WHERE n1 > 0 AND n_total - n1 > 0
    """
    out["sprt_ab"] = f"""
        WITH daily AS (
          SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
                 CAST(count(*) AS BIGINT) AS n_d,
                 CAST(sum(CASE WHEN event_type = 'purchase'
                               THEN 1 ELSE 0 END) AS BIGINT) AS x_d
          FROM events GROUP BY 1),
        cum AS (SELECT day,
                       CAST(sum(n_d) OVER (ORDER BY day) AS BIGINT)
                           AS n_cum,
                       CAST(sum(x_d) OVER (ORDER BY day) AS BIGINT)
                           AS x_cum
                FROM daily),
        l AS (SELECT day, n_cum, x_cum,
                     CAST(x_cum AS DOUBLE) * {_SPRT_LR_POS!r}
                     + CAST(n_cum - x_cum AS DOUBLE) * {_SPRT_LR_NEG!r}
                         AS llr
              FROM cum)
        SELECT day, n_cum, x_cum,
               floor(llr * 1e6 + 0.5) / 1e6 AS llr,
               CASE WHEN llr >= {_SPRT_HI!r} THEN 'accept_h1'
                    WHEN llr <= {_SPRT_LO!r} THEN 'accept_h0'
                    ELSE 'continue' END AS decision
        FROM l
    """
    out["page_hinkley"] = """
        WITH RECURSIVE daily AS (
          SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
                 CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                     AS cents,
                 CAST(count(*) AS BIGINT) AS cnt
          FROM events GROUP BY 1),
        series AS (SELECT day, cents, cnt,
                          CAST(row_number() OVER (ORDER BY day) AS BIGINT)
                              AS i
                   FROM daily),
        ph AS (
          SELECT i, day,
                 CAST(cents AS DOUBLE) / (100.0 * CAST(cnt AS DOUBLE))
                     AS x,
                 0.0 + CAST(cents AS DOUBLE) / (100.0 * CAST(cnt AS DOUBLE))
                     AS sum_x,
                 0.0 + (CAST(cents AS DOUBLE)
                        / (100.0 * CAST(cnt AS DOUBLE))
                        - (0.0 + CAST(cents AS DOUBLE)
                           / (100.0 * CAST(cnt AS DOUBLE))) / 1.0
                        - 0.05) AS m,
                 least(0.0,
                       0.0 + (CAST(cents AS DOUBLE)
                              / (100.0 * CAST(cnt AS DOUBLE))
                              - (0.0 + CAST(cents AS DOUBLE)
                                 / (100.0 * CAST(cnt AS DOUBLE))) / 1.0
                              - 0.05)) AS mmin
          FROM series WHERE i = 1
          UNION ALL
          SELECT s.i, s.day,
                 CAST(s.cents AS DOUBLE) / (100.0 * CAST(s.cnt AS DOUBLE))
                     AS x,
                 p.sum_x + CAST(s.cents AS DOUBLE)
                           / (100.0 * CAST(s.cnt AS DOUBLE)) AS sum_x,
                 p.m + (CAST(s.cents AS DOUBLE)
                        / (100.0 * CAST(s.cnt AS DOUBLE))
                        - (p.sum_x + CAST(s.cents AS DOUBLE)
                           / (100.0 * CAST(s.cnt AS DOUBLE)))
                          / CAST(s.i AS DOUBLE)
                        - 0.05) AS m,
                 least(p.mmin,
                       p.m + (CAST(s.cents AS DOUBLE)
                              / (100.0 * CAST(s.cnt AS DOUBLE))
                              - (p.sum_x + CAST(s.cents AS DOUBLE)
                                 / (100.0 * CAST(s.cnt AS DOUBLE)))
                                / CAST(s.i AS DOUBLE)
                              - 0.05)) AS mmin
          FROM ph p JOIN series s ON s.i = p.i + 1)
        SELECT day,
               floor(x * 1e6 + 0.5) / 1e6 AS x,
               floor(m * 1e6 + 0.5) / 1e6 AS ph,
               floor(mmin * 1e6 + 0.5) / 1e6 AS ph_min,
               (m - mmin) > 5.0 AS alarm
        FROM ph
    """
    out["chao1_vocab"] = r"""
        WITH tf AS (
          SELECT source, w, CAST(count(*) AS BIGINT) AS cnt
          FROM (SELECT source,
                       unnest(list_filter(
                         string_split_regex(lower(text), '\s+'),
                         t -> t <> '')) AS w
                FROM documents)
          GROUP BY 1, 2),
        per AS (SELECT source,
                       CAST(count(*) AS BIGINT) AS vocab,
                       CAST(sum(cnt) AS BIGINT) AS n_tokens,
                       CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END)
                            AS BIGINT) AS f1,
                       CAST(sum(CASE WHEN cnt = 2 THEN 1 ELSE 0 END)
                            AS BIGINT) AS f2
                FROM tf GROUP BY 1)
        SELECT source, n_tokens, vocab, f1, f2,
               floor((CAST(vocab AS DOUBLE)
                      + CAST(f1 AS DOUBLE) * (CAST(f1 AS DOUBLE) - 1.0)
                        / (2.0 * (CAST(f2 AS DOUBLE) + 1.0)))
                     * 1e6 + 0.5) / 1e6 AS chao1,
               floor(CAST(f1 AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                     * 1e6 + 0.5) / 1e6 AS gt_unseen
        FROM per WHERE n_tokens > 0
    """
    out["heaps_law"] = r"""
        WITH tok AS (
          SELECT source, doc_id, w
          FROM (SELECT source, doc_id,
                       unnest(list_filter(
                         string_split_regex(lower(text), '\s+'),
                         t -> t <> '')) AS w
                FROM documents)),
        per_doc AS (SELECT source, doc_id,
                           CAST(count(*) AS BIGINT) AS tok_d
                    FROM tok GROUP BY 1, 2),
        firsts AS (SELECT source, w, min(doc_id) AS fd
                   FROM tok GROUP BY 1, 2),
        new_d AS (SELECT source, fd AS doc_id,
                         CAST(count(*) AS BIGINT) AS new_d
                  FROM firsts GROUP BY 1, 2),
        spine AS (SELECT p.source, p.doc_id, p.tok_d,
                         COALESCE(n.new_d, 0) AS new_d
                  FROM per_doc p LEFT JOIN new_d n
                    ON n.source = p.source AND n.doc_id = p.doc_id),
        curve AS (SELECT source, doc_id,
                         CAST(sum(tok_d) OVER (PARTITION BY source
                                               ORDER BY doc_id) AS BIGINT)
                             AS n_t,
                         CAST(sum(new_d) OVER (PARTITION BY source
                                               ORDER BY doc_id) AS BIGINT)
                             AS v_t
                  FROM spine),
        lst AS (SELECT source,
                       list(struct_pack(doc_id := doc_id, n_t := n_t,
                                        v_t := v_t)
                            ORDER BY doc_id) AS l,
                       CAST(count(*) AS BIGINT) AS n_docs
                FROM curve WHERE n_t > 0 AND v_t > 0 GROUP BY 1),
        f AS (SELECT source, n_docs,
          list_reduce(list_prepend(0.0, list_transform(l, t ->
            ln(CAST(t.n_t AS DOUBLE)))), (a, b) -> a + b) AS sx,
          list_reduce(list_prepend(0.0, list_transform(l, t ->
            ln(CAST(t.v_t AS DOUBLE)))), (a, b) -> a + b) AS sy,
          list_reduce(list_prepend(0.0, list_transform(l, t ->
            ln(CAST(t.n_t AS DOUBLE)) * ln(CAST(t.v_t AS DOUBLE)))),
            (a, b) -> a + b) AS sxy,
          list_reduce(list_prepend(0.0, list_transform(l, t ->
            ln(CAST(t.n_t AS DOUBLE)) * ln(CAST(t.n_t AS DOUBLE)))),
            (a, b) -> a + b) AS sx2
          FROM lst),
        b AS (SELECT source, n_docs, sx, sy,
                     (CAST(n_docs AS DOUBLE) * sxy - sx * sy)
                     / (CAST(n_docs AS DOUBLE) * sx2 - sx * sx) AS beta
              FROM f
              WHERE n_docs > 2
                AND (CAST(n_docs AS DOUBLE) * sx2 - sx * sx) > 0)
        SELECT source, n_docs,
               floor(beta * 1e6 + 0.5) / 1e6 AS beta,
               floor((sy - beta * sx) / CAST(n_docs AS DOUBLE)
                     * 1e6 + 0.5) / 1e6 AS ln_k
        FROM b
    """
    out["ngram_novelty"] = f"""
        WITH {_SHINGLES_CTE},
        grams AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
                  FROM sh GROUP BY 1),
        firsts AS (SELECT shingle, min(doc_id) AS doc_id
                   FROM sh GROUP BY 1),
        novel AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_novel
                  FROM firsts GROUP BY 1)
        SELECT g.doc_id, g.n_grams,
               COALESCE(n.n_novel, 0) AS n_novel,
               CAST(1000000 * COALESCE(n.n_novel, 0) // g.n_grams
                    AS BIGINT) AS novelty_ppm
        FROM grams g LEFT JOIN novel n ON n.doc_id = g.doc_id
    """
    out["perplexity_buckets"] = f"""
        WITH lm AS ({out["lm_bigram_score"]}),
        d AS (SELECT lm.doc_id, lm.score_permille, documents.lang
              FROM lm JOIN documents ON documents.doc_id = lm.doc_id),
        r AS (SELECT lang, score_permille,
                     CAST(row_number() OVER (
                       PARTITION BY lang
                       ORDER BY score_permille DESC, doc_id ASC)
                       AS BIGINT) AS rn,
                     CAST(count(*) OVER (PARTITION BY lang) AS BIGINT)
                         AS n_lang
              FROM d)
        SELECT lang, CAST((rn - 1) * 3 // n_lang AS INTEGER) AS bucket,
               CAST(count(*) AS BIGINT) AS n_docs,
               min(score_permille) AS score_min,
               max(score_permille) AS score_max
        FROM r GROUP BY 1, 2
    """
    out["mann_kendall"] = """
        WITH daily AS (SELECT date_trunc('day', o_orderdate) AS d,
                              CAST(count(*) AS BIGINT) AS c
                       FROM orders GROUP BY 1),
        s AS (SELECT CAST(sum(CASE WHEN b.c > a.c THEN 1
                                   WHEN b.c < a.c THEN -1
                                   ELSE 0 END) AS BIGINT) AS s
              FROM daily a JOIN daily b ON a.d < b.d),
        consts AS (SELECT CAST(sum(t) AS BIGINT) AS n,
                          CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT)
                              AS tie18
                   FROM (SELECT CAST(count(*) AS BIGINT) AS t
                         FROM daily GROUP BY c)),
        j AS (SELECT s, n, n * (n - 1) * (2 * n + 5) - tie18 AS var18
              FROM s, consts)
        SELECT n AS n_days, s, var18,
               floor((CASE WHEN s > 0 THEN CAST(s AS DOUBLE) - 1.0
                           WHEN s < 0 THEN CAST(s AS DOUBLE) + 1.0
                           ELSE 0.0 END
                      / sqrt(CAST(var18 AS DOUBLE) / 18.0))
                     * 1e6 + 0.5) / 1e6 AS z
        FROM j WHERE var18 > 0
    """
    out["cochrans_q"] = """
        WITH ut AS (SELECT user_id AS b, event_type AS t,
                           CAST(count(DISTINCT date_trunc('day', ts))
                                AS BIGINT) AS nd
                    FROM events GROUP BY 1, 2),
        grid AS (SELECT u.b, tt.t,
                        CASE WHEN COALESCE(x.nd, 0) >= 8
                             THEN 1 ELSE 0 END AS x
                 FROM (SELECT DISTINCT b FROM ut) u
                 CROSS JOIN (SELECT DISTINCT t FROM ut) tt
                 LEFT JOIN ut x ON x.b = u.b AND x.t = tt.t),
        per_b AS (SELECT b, CAST(sum(x) AS BIGINT) AS rb
                  FROM grid GROUP BY 1),
        blocks AS (SELECT CAST(sum(rb) AS BIGINT) AS n_succ,
                          CAST(sum(rb * rb) AS BIGINT) AS sum_rb2,
                          CAST(count(*) AS BIGINT) AS n_blocks
                   FROM per_b),
        per_t AS (SELECT t, CAST(sum(x) AS BIGINT) AS cj
                  FROM grid GROUP BY 1),
        lst AS (SELECT list(struct_pack(t := t, cj := cj) ORDER BY t, cj)
                           AS l,
                       CAST(count(*) AS BIGINT) AS k
                FROM per_t),
        j AS (SELECT n_blocks, k, n_succ,
                     (k - 1) * list_reduce(
                       list_prepend(CAST(0 AS BIGINT),
                         list_transform(l, e ->
                           (k * e.cj - n_succ) * (k * e.cj - n_succ))),
                       (p, q) -> p + q) AS num,
                     k * (k * n_succ - sum_rb2) AS den
              FROM lst, blocks)
        SELECT n_blocks, k, n_succ,
               floor(CAST(num AS DOUBLE) / CAST(den AS DOUBLE)
                     * 1e6 + 0.5) / 1e6 AS q
        FROM j WHERE k > 1 AND den > 0
    """
    out["durbin_watson"] = """
        WITH daily AS (SELECT date_trunc('day', o_orderdate) AS d,
                              CAST(sum(CAST(round(o_totalprice * 100)
                                            AS BIGINT)) AS BIGINT) AS y
                       FROM orders GROUP BY 1),
        dt AS (SELECT d, y,
                      CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS t
               FROM daily),
        m AS (SELECT CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(t) AS HUGEINT) AS st,
                     CAST(sum(t * t) AS HUGEINT) AS st2,
                     CAST(sum(y) AS HUGEINT) AS sy,
                     CAST(sum(CAST(t AS HUGEINT) * CAST(y AS HUGEINT))
                          AS HUGEINT) AS sty
              FROM dt),
        mb AS (SELECT n,
                      CAST(CAST(n AS HUGEINT) * sty - st * sy AS DOUBLE)
                      / CAST(CAST(n AS HUGEINT) * st2 - st * st AS DOUBLE)
                          AS b
               FROM m),
        ma AS (SELECT mb.n, mb.b,
                      (CAST(m.sy AS DOUBLE)
                       - mb.b * CAST(m.st AS DOUBLE))
                      / CAST(mb.n AS DOUBLE) AS a
               FROM mb, m),
        res AS (SELECT ma.n, ma.b,
                       CAST(floor((CAST(dt.y AS DOUBLE) - ma.a
                                   - ma.b * CAST(dt.t AS DOUBLE))
                                  * 10000.0 + 0.5) AS HUGEINT) AS eq,
                       lag(CAST(floor((CAST(dt.y AS DOUBLE) - ma.a
                                       - ma.b * CAST(dt.t AS DOUBLE))
                                      * 10000.0 + 0.5) AS HUGEINT))
                           OVER (ORDER BY dt.t) AS eq_prev
                FROM dt, ma),
        agg AS (SELECT n, b,
                       CAST(sum(eq * eq) AS HUGEINT) AS sse,
                       CAST(sum((eq - eq_prev) * (eq - eq_prev))
                            AS HUGEINT) AS ssd
                FROM res GROUP BY 1, 2)
        SELECT n AS n_days,
               floor(b * 1e6 + 0.5) / 1e6 AS slope_cents_per_day,
               floor(CAST(ssd AS DOUBLE) / CAST(sse AS DOUBLE)
                     * 1e6 + 0.5) / 1e6 AS dw
        FROM agg WHERE sse > 0
    """
    out["dunn_posthoc"] = """
        WITH base AS (SELECT source AS g, CAST(n_chars AS BIGINT) AS v
                      FROM documents WHERE n_chars IS NOT NULL),
        gv AS (SELECT v, CAST(count(*) AS BIGINT) AS c_all
               FROM base GROUP BY 1),
        consts AS (SELECT CAST(sum(c_all) AS BIGINT) AS n,
                          CAST(sum(c_all * c_all * c_all - c_all)
                               AS BIGINT) AS tie_t
                   FROM gv),
        spine AS (SELECT v,
                 CAST(2 * (sum(c_all) OVER (ORDER BY v
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      - c_all) + c_all + 1 AS BIGINT) AS u
                  FROM gv),
        sv AS (SELECT g, v, CAST(count(*) AS BIGINT) AS c_g
               FROM base GROUP BY 1, 2),
        per_g AS (SELECT g, CAST(sum(c_g) AS BIGINT) AS ng,
                         CAST(sum(c_g * u) AS BIGINT) AS r2
                  FROM sv JOIN spine USING (v) GROUP BY 1),
        pairs AS (SELECT a.g AS g_a, b.g AS g_b, a.ng AS na, b.ng AS nb,
                         a.r2 AS r2a, b.r2 AS r2b, n, tie_t
                  FROM per_g a JOIN per_g b ON a.g < b.g, consts)
        SELECT g_a, g_b, na, nb,
               floor(((CAST(r2a AS DOUBLE) / (2.0 * CAST(na AS DOUBLE))
                       - CAST(r2b AS DOUBLE) / (2.0 * CAST(nb AS DOUBLE)))
                      / sqrt((CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)
                              / 12.0
                              - CAST(tie_t AS DOUBLE)
                                / (12.0 * (CAST(n AS DOUBLE) - 1.0)))
                             * (1.0 / CAST(na AS DOUBLE)
                                + 1.0 / CAST(nb AS DOUBLE))))
                     * 1e6 + 0.5) / 1e6 AS z
        FROM pairs
        WHERE n > 2
          AND (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0) / 12.0
               - CAST(tie_t AS DOUBLE)
                 / (12.0 * (CAST(n AS DOUBLE) - 1.0)))
              * (1.0 / CAST(na AS DOUBLE) + 1.0 / CAST(nb AS DOUBLE)) > 0
    """
    # Entropy rate composes the validated transition oracle verbatim
    # (the markov_accuracy pattern).
    out["markov_entropy"] = f"""
        WITH tr AS (SELECT * FROM ({out["session_transitions"]})),
        lst AS (SELECT type_from,
                       CAST(sum(n_transitions) AS BIGINT) AS ni,
                       list(struct_pack(type_to := type_to,
                                        nij := CAST(n_transitions
                                                    AS BIGINT))
                            ORDER BY type_to, n_transitions) AS l
                FROM tr GROUP BY 1),
        tot AS (SELECT CAST(sum(ni) AS BIGINT) AS n_all FROM lst)
        SELECT type_from, ni AS n_trans,
               floor(CAST(ni AS DOUBLE) / CAST(n_all AS DOUBLE)
                     * 1e6 + 0.5) / 1e6 AS pi,
               floor(list_reduce(list_prepend(0.0,
                       list_transform(l, e ->
                         (CAST(e.nij AS DOUBLE) / CAST(ni AS DOUBLE))
                         * (ln(CAST(ni AS DOUBLE))
                            - ln(CAST(e.nij AS DOUBLE))))),
                     (p, q) -> p + q) * 1e6 + 0.5) / 1e6 AS h_cond
        FROM lst, tot
    """
    out["adamic_adar"] = """
        WITH e0 AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                    FROM lineitem),
        edges AS (SELECT x.pk AS a, y.pk AS b, count(*) AS w
                  FROM e0 x JOIN e0 y ON x.ok = y.ok AND x.pk < y.pk
                  GROUP BY 1, 2 HAVING count(*) >= 2),
        und AS (SELECT a, b FROM edges
                UNION ALL SELECT b AS a, a AS b FROM edges),
        deg AS (SELECT a AS wn, CAST(count(*) AS BIGINT) AS d
                FROM und GROUP BY 1),
        mid AS (SELECT wn,
                       CAST(floor(1000000.0 / ln(CAST(d AS DOUBLE)) + 0.5)
                            AS BIGINT) AS contrib
                FROM deg WHERE d >= 2 AND d <= 200),
        nbr AS (SELECT b AS wn, a AS n FROM und),
        pairs AS (SELECT x.n AS u, y.n AS v,
                         CAST(sum(m.contrib) AS BIGINT) AS aa_micro,
                         CAST(count(*) AS BIGINT) AS n_common
                  FROM nbr x JOIN mid m ON m.wn = x.wn
                  JOIN nbr y ON y.wn = x.wn
                  WHERE x.n < y.n GROUP BY 1, 2),
        ne AS (SELECT p.u, p.v, p.n_common, p.aa_micro
               FROM pairs p ANTI JOIN und e
                 ON p.u = e.a AND p.v = e.b)
        SELECT u, v, n_common, aa_micro,
               CAST(aa_micro AS DOUBLE) / 1000000.0 AS aa
        FROM ne ORDER BY aa_micro DESC, u ASC, v ASC LIMIT 100
    """
    out["jl_distortion"] = """
        WITH signs AS (SELECT j,
                 list_transform(range(0, 64), i ->
                   CASE WHEN substr(md5('jl:' || CAST(j AS VARCHAR)
                                    || ':' || CAST(i AS VARCHAR)), 1, 1)
                        IN ('0','1','2','3','4','5','6','7')
                        THEN CAST(1.0 AS DOUBLE)
                        ELSE CAST(-1.0 AS DOUBLE) END) AS srow
               FROM range(0, 16) t(j)),
        s AS (SELECT vec_id,
                     list_transform(embedding,
                                    x -> CAST(x AS DOUBLE)) AS emb
              FROM embeddings
              WHERE vec_id % (11 * CAST(ceil(
                  (SELECT count(*) FROM embeddings) / 22000.0)
                  AS BIGINT)) = 0),
        proj AS (SELECT s.vec_id, any_value(s.emb) AS emb,
                        list(list_dot_product(sg.srow, s.emb)
                             ORDER BY sg.j) AS y
                 FROM s CROSS JOIN signs sg GROUP BY s.vec_id),
        pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                 list_reduce(list_prepend(0.0,
                   list_transform(list_zip(a.emb, b.emb),
                     z -> (z[1] - z[2]) * (z[1] - z[2]))),
                   (p, q) -> p + q) AS d2o,
                 list_reduce(list_prepend(0.0,
                   list_transform(list_zip(a.y, b.y),
                     z -> (z[1] - z[2]) * (z[1] - z[2]))),
                   (p, q) -> p + q) AS d2p
                 FROM proj a JOIN proj b ON a.vec_id < b.vec_id)
        SELECT id_a, id_b,
               floor(d2o * 1e6 + 0.5) / 1e6 AS d2_orig,
               floor((d2p / 16.0) / d2o * 1e6 + 0.5) / 1e6 AS ratio
        FROM pairs WHERE d2o > 0
    """
    out["ccf_daily"] = """
        WITH daily AS (
          SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS cnt
          FROM events GROUP BY 1, 2),
        lags AS (SELECT CAST(unnest(range(-3, 4)) AS INTEGER) AS lag),
        j AS (
          SELECT a.event_type AS type_a, b.event_type AS type_b,
                 l.lag, a.cnt AS x, b.cnt AS y
          FROM daily a CROSS JOIN lags l
          JOIN daily b ON a.event_type < b.event_type
                      AND b.d = a.d + l.lag),
        agg AS (
          SELECT type_a, type_b, lag,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(x) AS BIGINT) AS sx,
                 CAST(sum(y) AS BIGINT) AS sy,
                 CAST(sum(x * y) AS BIGINT) AS sxy,
                 CAST(sum(x * x) AS BIGINT) AS sx2,
                 CAST(sum(y * y) AS BIGINT) AS sy2
          FROM j GROUP BY 1, 2, 3)
        SELECT type_a, type_b, lag, n,
               floor((CAST(n * sxy - sx * sy AS DOUBLE)
                      / (sqrt(CAST(n * sx2 - sx * sx AS DOUBLE))
                         * sqrt(CAST(n * sy2 - sy * sy AS DOUBLE)))
                      + 1.0) * 1e6 + 0.5) / 1e6 AS r_plus1
        FROM agg
        WHERE n * sx2 - sx * sx > 0 AND n * sy2 - sy * sy > 0
    """
    out["stl_lite"] = """
        WITH daily AS (
          SELECT date_trunc('day', o_orderdate) AS d,
                 CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                      AS BIGINT) AS y
          FROM orders GROUP BY 1),
        t0 AS (
          SELECT d, y,
                 CAST(sum(y) OVER w AS BIGINT) AS trend7,
                 CAST(count(*) OVER w AS BIGINT) AS c7
          FROM daily
          WINDOW w AS (ORDER BY d
                       ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        t AS (
          SELECT d, y, trend7,
                 CAST(dayofweek(d) AS INTEGER) AS dow,
                 7 * y - trend7 AS detr7
          FROM t0 WHERE c7 = 7),
        seas AS (
          SELECT dow, CAST(sum(detr7) AS BIGINT) AS sn,
                 CAST(count(*) AS BIGINT) AS sc
          FROM t GROUP BY 1)
        SELECT strftime(t.d, '%Y-%m-%d') AS day, t.y,
               floor(CAST(t.trend7 AS DOUBLE) / 7.0 * 1e6 + 0.5) / 1e6
                   AS trend,
               floor(CAST(s.sn AS DOUBLE)
                     / CAST(7 * s.sc AS DOUBLE) * 1e6 + 0.5) / 1e6
                   AS seasonal,
               floor(CAST(7 * s.sc * t.y - s.sc * t.trend7 - s.sn
                          AS DOUBLE)
                     / CAST(7 * s.sc AS DOUBLE) * 1e6 + 0.5) / 1e6
                   AS residual
        FROM t JOIN seas s USING (dow)
    """
    # Silhouette composes the emb_kmeans oracle's Lloyd rounds verbatim
    # (coded / q / seeds / two assign-update rounds), then scores the
    # final assignment on the same integer code metric.
    out["silhouette_eval"] = """
        WITH scaled AS (
          SELECT vec_id, embedding,
                 CASE WHEN s0 > 0 THEN s0 ELSE 1.0 END AS scale
          FROM (SELECT vec_id, embedding,
                       CAST(list_max(list_transform(embedding,
                            v -> abs(v))) AS DOUBLE) / 127 AS s0
                FROM embeddings)),
        coded AS MATERIALIZED (
          SELECT vec_id,
                 list_transform(embedding, v ->
                     CAST(floor(CAST(v AS DOUBLE) / scale + 0.5)
                          AS INTEGER)) AS codes
          FROM scaled),
        q AS MATERIALIZED (
          SELECT vec_id, i - 1 AS dim, codes[i] AS code
          FROM coded,
               LATERAL (SELECT unnest(range(1, len(codes) + 1)) AS i) _),
        seeds0 AS (
          SELECT vec_id, codes FROM coded
          WHERE vec_id % 100 = 0 ORDER BY vec_id LIMIT 8),
        seedn AS (
          SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1
                      AS INTEGER) AS cluster, codes
          FROM seeds0),
        cents0 AS (
          SELECT cluster, i - 1 AS dim, CAST(codes[i] AS BIGINT) AS c
          FROM seedn,
               LATERAL (SELECT unnest(range(1, len(codes) + 1)) AS i) _),
        d1 AS (
          SELECT q.vec_id, c.cluster,
                 CAST(sum((q.code - c.c) * (q.code - c.c)) AS BIGINT)
                     AS d2
          FROM q JOIN cents0 c USING (dim) GROUP BY 1, 2),
        a1 AS (
          SELECT vec_id, cluster FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                         ORDER BY d2, cluster) AS rn
            FROM d1) WHERE rn = 1),
        cents1 AS (
          SELECT a.cluster, q.dim,
                 CAST(sum(q.code) // count(*) AS BIGINT) AS c
          FROM q JOIN a1 a USING (vec_id) GROUP BY 1, 2),
        dd2 AS (
          SELECT q.vec_id, c.cluster,
                 CAST(sum((q.code - c.c) * (q.code - c.c)) AS BIGINT)
                     AS d2
          FROM q JOIN cents1 c USING (dim) GROUP BY 1, 2),
        a2 AS MATERIALIZED (
          SELECT vec_id, cluster FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                         ORDER BY d2, cluster) AS rn
            FROM dd2) WHERE rn = 1),
        memb AS MATERIALIZED (
          SELECT c.vec_id, c.codes, a.cluster
          FROM coded c JOIN a2 a USING (vec_id)),
        samp AS (
          SELECT vec_id AS i, codes AS ci, cluster AS gi
          FROM memb
          WHERE vec_id % (25 * CAST(ceil(
              (SELECT count(*) FROM embeddings) / 50000.0)
              AS BIGINT)) = 0),
        percl AS (
          SELECT s.i, s.gi, m.cluster AS gj,
                 CAST(sum(list_sum(list_transform(
                      range(1, len(s.ci) + 1),
                      t -> CAST(s.ci[t] - m.codes[t] AS BIGINT)
                           * CAST(s.ci[t] - m.codes[t] AS BIGINT))))
                      AS BIGINT) AS sd,
                 CAST(count(*) AS BIGINT) AS cnt
          FROM samp s JOIN memb m ON m.vec_id <> s.i
          GROUP BY 1, 2, 3),
        own AS (
          SELECT i, gi,
                 CAST(sd AS DOUBLE) / CAST(cnt AS DOUBLE) AS a_mean
          FROM percl WHERE gj = gi),
        oth AS (
          SELECT i,
                 min(CAST(sd AS DOUBLE) / CAST(cnt AS DOUBLE)) AS b_mean
          FROM percl WHERE gj <> gi GROUP BY 1)
        SELECT own.i AS vec_id, own.gi AS cluster,
               floor(a_mean * 1e6 + 0.5) / 1e6 AS a_mean,
               floor(b_mean * 1e6 + 0.5) / 1e6 AS b_mean,
               floor(CASE WHEN greatest(a_mean, b_mean) > 0
                          THEN (b_mean - a_mean)
                               / greatest(a_mean, b_mean)
                          ELSE 0.0 END
                     * 1e6 + 0.5) / 1e6 AS s
        FROM own JOIN oth ON oth.i = own.i
    """
    out["disparate_impact"] = """
        WITH pc AS (
          SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders
          FROM orders GROUP BY 1),
        sel AS (
          SELECT CAST(c_nationkey AS INTEGER) AS nationkey,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CASE WHEN COALESCE(pc.n_orders, 0) >= 10
                               THEN 1 ELSE 0 END) AS BIGINT) AS sel
          FROM customer c
          LEFT JOIN pc ON c.c_custkey = pc.o_custkey
          GROUP BY 1),
        ranked AS (
          SELECT *, row_number() OVER (
                   ORDER BY CAST(sel AS DOUBLE) / CAST(n AS DOUBLE) DESC,
                            nationkey ASC) AS rn
          FROM sel),
        ref AS (SELECT sel AS sel_ref, n AS n_ref
                FROM ranked WHERE rn = 1)
        SELECT nationkey, n, sel,
               floor(CAST(sel AS DOUBLE) / CAST(n AS DOUBLE)
                     * 1e6 + 0.5) / 1e6 AS rate,
               CASE WHEN sel_ref > 0 THEN
                 floor(CAST(sel * n_ref AS DOUBLE)
                       / CAST(sel_ref * n AS DOUBLE) * 1e6 + 0.5) / 1e6
               END AS di_ratio,
               (5 * sel * n_ref < 4 * sel_ref * n) AS flag_80pct
        FROM ranked, ref
    """
    out["brier_decomposition"] = """
        WITH base AS (SELECT CAST(round(value * 100) AS BIGINT) AS cents,
                             event_id AS eid,
                             CAST(CASE WHEN event_type = 'purchase'
                                  THEN 1 ELSE 0 END AS BIGINT) AS pos
                      FROM events WHERE value IS NOT NULL),
        nn AS (SELECT CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(pos) AS BIGINT) AS p
               FROM base),
        ranked AS (SELECT pos,
                          CAST(row_number() OVER (
                            ORDER BY cents ASC, eid ASC) - 1
                            AS BIGINT) AS r0
                   FROM base),
        binned AS (SELECT pos, r0, r0 * 10 // n AS b
                   FROM ranked, nn),
        per AS (SELECT b, CAST(count(*) AS BIGINT) AS nb,
                       CAST(sum(pos) AS BIGINT) AS pb,
                       CAST(sum(r0) AS BIGINT) AS sr
                FROM binned GROUP BY 1),
        lst AS (SELECT list(struct_pack(b := b, nb := nb, pb := pb,
                                        sr := sr)
                            ORDER BY b) AS l
                FROM per),
        f AS (SELECT n, p,
                CAST(p AS DOUBLE) / CAST(n AS DOUBLE) AS ybar,
                list_reduce(list_prepend(0.0, list_transform(l, t ->
                  CAST(t.nb AS DOUBLE)
                  * (CAST(t.sr AS DOUBLE) / (CAST(t.nb AS DOUBLE)
                                             * CAST(n AS DOUBLE))
                     - CAST(t.pb AS DOUBLE) / CAST(t.nb AS DOUBLE))
                  * (CAST(t.sr AS DOUBLE) / (CAST(t.nb AS DOUBLE)
                                             * CAST(n AS DOUBLE))
                     - CAST(t.pb AS DOUBLE) / CAST(t.nb AS DOUBLE)))),
                  (x, y) -> x + y) / CAST(n AS DOUBLE) AS rel,
                list_reduce(list_prepend(0.0, list_transform(l, t ->
                  CAST(t.nb AS DOUBLE)
                  * (CAST(t.pb AS DOUBLE) / CAST(t.nb AS DOUBLE)
                     - CAST(p AS DOUBLE) / CAST(n AS DOUBLE))
                  * (CAST(t.pb AS DOUBLE) / CAST(t.nb AS DOUBLE)
                     - CAST(p AS DOUBLE) / CAST(n AS DOUBLE)))),
                  (x, y) -> x + y) / CAST(n AS DOUBLE) AS res
              FROM lst, nn)
        SELECT n AS n_events,
               floor(ybar * 1e6 + 0.5) / 1e6 AS base_rate,
               floor(rel * 1e6 + 0.5) / 1e6 AS reliability,
               floor(res * 1e6 + 0.5) / 1e6 AS resolution,
               floor(ybar * (1.0 - ybar) * 1e6 + 0.5) / 1e6
                   AS uncertainty,
               floor((rel - res + ybar * (1.0 - ybar)) * 1e6 + 0.5) / 1e6
                   AS brier_binned
        FROM f WHERE n > 0
    """
    out["lift_curve"] = """
        WITH base AS (SELECT CAST(round(value * 100) AS BIGINT) AS cents,
                             event_id AS eid,
                             CAST(CASE WHEN event_type = 'purchase'
                                  THEN 1 ELSE 0 END AS BIGINT) AS pos
                      FROM events WHERE value IS NOT NULL),
        nn AS (SELECT CAST(count(*) AS BIGINT) AS nt,
                      CAST(sum(pos) AS BIGINT) AS pt
               FROM base),
        ranked AS (SELECT pos,
                          CAST(row_number() OVER (
                            ORDER BY cents DESC, eid ASC) AS BIGINT)
                            AS rn
                   FROM base),
        binned AS (SELECT pos,
                          CAST((rn - 1) * 10 // nt AS INTEGER) AS decile
                   FROM ranked, nn),
        per AS (SELECT decile, CAST(count(*) AS BIGINT) AS n,
                       CAST(sum(pos) AS BIGINT) AS n_pos
                FROM binned GROUP BY 1),
        cum AS (SELECT decile, n, n_pos,
                       CAST(sum(n) OVER (ORDER BY decile) AS BIGINT)
                           AS cum_n,
                       CAST(sum(n_pos) OVER (ORDER BY decile) AS BIGINT)
                           AS cum_pos
                FROM per)
        SELECT decile, n, n_pos, cum_pos,
               floor(CAST(cum_pos AS DOUBLE) / CAST(pt AS DOUBLE)
                     * 1e6 + 0.5) / 1e6 AS capture,
               floor(CAST(cum_pos * nt AS DOUBLE)
                     / CAST(cum_n * pt AS DOUBLE) * 1e6 + 0.5) / 1e6
                   AS lift
        FROM cum, nn WHERE pt > 0
    """
    out["ljung_box"] = """
        WITH daily AS (SELECT date_trunc('day', o_orderdate) AS d,
                              CAST(sum(CAST(round(o_totalprice * 100)
                                            AS BIGINT)) AS BIGINT) AS y
                       FROM orders GROUP BY 1),
        dt AS (SELECT d, y,
                      CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS t
               FROM daily),
        m AS (SELECT CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(t) AS HUGEINT) AS st,
                     CAST(sum(t * t) AS HUGEINT) AS st2,
                     CAST(sum(y) AS HUGEINT) AS sy,
                     CAST(sum(CAST(t AS HUGEINT) * CAST(y AS HUGEINT))
                          AS HUGEINT) AS sty
              FROM dt),
        mb AS (SELECT n,
                      CAST(CAST(n AS HUGEINT) * sty - st * sy AS DOUBLE)
                      / CAST(CAST(n AS HUGEINT) * st2 - st * st AS DOUBLE)
                          AS b
               FROM m),
        ma AS (SELECT mb.n, mb.b,
                      (CAST(m.sy AS DOUBLE)
                       - mb.b * CAST(m.st AS DOUBLE))
                      / CAST(mb.n AS DOUBLE) AS a
               FROM mb, m),
        res AS (SELECT ma.n, dt.t,
                       CAST(floor((CAST(dt.y AS DOUBLE) - ma.a
                                   - ma.b * CAST(dt.t AS DOUBLE))
                                  * 10000.0 + 0.5) AS HUGEINT) AS eq
                FROM dt, ma),
        sse AS (SELECT CAST(sum(eq * eq) AS HUGEINT) AS sse FROM res),
        lags AS (SELECT CAST(unnest(range(1, 8)) AS BIGINT) AS lag),
        lagged AS (SELECT l.lag, a.n, a.eq AS eqa, b.eq AS eqb
                   FROM res a CROSS JOIN lags l
                   JOIN res b ON b.t = a.t + l.lag),
        per AS (SELECT lag, CAST(max(n) AS BIGINT) AS n,
                       CAST(count(*) AS BIGINT) AS n_pairs,
                       CAST(sum(eqa * eqb) AS HUGEINT) AS sk
                FROM lagged GROUP BY 1)
        SELECT lag, n_pairs,
               floor(CAST(sk AS DOUBLE) / CAST(sse AS DOUBLE)
                     * 1e6 + 0.5) / 1e6 AS r,
               floor(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0)
                     * (CAST(sk AS DOUBLE) / CAST(sse AS DOUBLE))
                     * (CAST(sk AS DOUBLE) / CAST(sse AS DOUBLE))
                     / (CAST(n AS DOUBLE) - CAST(lag AS DOUBLE))
                     * 1e6 + 0.5) / 1e6 AS q_term
        FROM per, sse WHERE sse > 0
    """
    out["conformal_coverage"] = """
        WITH base AS (SELECT CAST(round(value * 100) AS BIGINT) AS cents,
                             event_id AS eid,
                             (dayofmonth(ts) % 2 = 0) AS is_train
                      FROM events WHERE value IS NOT NULL),
        train AS (SELECT cents, eid FROM base WHERE is_train),
        nt AS (SELECT CAST(count(*) AS BIGINT) AS n_train FROM train),
        ranked AS (SELECT cents,
                          CAST(row_number() OVER (
                            ORDER BY cents ASC, eid ASC) AS BIGINT) AS rn
                   FROM train),
        itv AS (SELECT max(n_train) AS n_train,
                       min(CASE WHEN rn = (5 * n_train + 99) // 100
                                THEN cents END) AS lo_cents,
                       min(CASE WHEN rn = (95 * n_train + 99) // 100
                                THEN cents END) AS hi_cents
                FROM ranked, nt),
        test AS (SELECT cents FROM base WHERE NOT is_train),
        agg AS (SELECT CAST(max(n_train) AS BIGINT) AS n_train,
                       CAST(count(*) AS BIGINT) AS n_test,
                       CAST(max(lo_cents) AS BIGINT) AS lo_cents,
                       CAST(max(hi_cents) AS BIGINT) AS hi_cents,
                       CAST(sum(CASE WHEN cents >= lo_cents
                                      AND cents <= hi_cents
                                     THEN 1 ELSE 0 END) AS BIGINT)
                           AS n_covered
                FROM test, itv)
        SELECT n_train, n_test, lo_cents, hi_cents, n_covered,
               floor(CAST(n_covered AS DOUBLE) / CAST(n_test AS DOUBLE)
                     * 1e6 + 0.5) / 1e6 AS coverage
        FROM agg WHERE n_test > 0 AND n_train IS NOT NULL
    """
    out["weighted_quantiles"] = """
        WITH gv AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT)
                               AS cents,
                           CAST(sum(CAST(l_quantity AS BIGINT))
                                AS BIGINT) AS w
                    FROM lineitem GROUP BY 1),
        cum AS (SELECT cents,
                       CAST(sum(w) OVER (ORDER BY cents
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS BIGINT) AS cumw
                FROM gv),
        wt AS (SELECT CAST(sum(w) AS BIGINT) AS wtot FROM gv),
        qs AS (SELECT CAST(unnest([25, 50, 75, 90]) AS INTEGER) AS q)
        SELECT q, CAST(min(cents) AS BIGINT) AS cents,
               CAST(max(wtot) AS BIGINT) AS total_qty,
               CAST(min(cents) AS DOUBLE) / 100.0 AS price
        FROM cum, wt, qs
        WHERE 100 * cumw >= CAST(q AS BIGINT) * wtot
        GROUP BY q
    """
    out["ann_nprobe_sweep"] = S.duckdb_nprobe_sweep_sql()
    out["ann_bits_sweep"] = S.duckdb_bits_sweep_sql()
    out["ann_tradeoff"] = S.duckdb_tradeoff_sql()
    # cluster_balance composes the emb_kmeans oracle's Lloyd rounds
    # (the silhouette_eval pattern) and scores label composition.
    out["cluster_balance"] = """
        WITH scaled AS (
          SELECT vec_id, embedding,
                 CASE WHEN s0 > 0 THEN s0 ELSE 1.0 END AS scale
          FROM (SELECT vec_id, embedding,
                       CAST(list_max(list_transform(embedding,
                            v -> abs(v))) AS DOUBLE) / 127 AS s0
                FROM embeddings)),
        coded AS MATERIALIZED (
          SELECT vec_id,
                 list_transform(embedding, v ->
                     CAST(floor(CAST(v AS DOUBLE) / scale + 0.5)
                          AS INTEGER)) AS codes
          FROM scaled),
        q AS MATERIALIZED (
          SELECT vec_id, i - 1 AS dim, codes[i] AS code
          FROM coded,
               LATERAL (SELECT unnest(range(1, len(codes) + 1)) AS i) _),
        seeds0 AS (
          SELECT vec_id, codes FROM coded
          WHERE vec_id % 100 = 0 ORDER BY vec_id LIMIT 8),
        seedn AS (
          SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1
                      AS INTEGER) AS cluster, codes
          FROM seeds0),
        cents0 AS (
          SELECT cluster, i - 1 AS dim, CAST(codes[i] AS BIGINT) AS c
          FROM seedn,
               LATERAL (SELECT unnest(range(1, len(codes) + 1)) AS i) _),
        d1 AS (
          SELECT q.vec_id, c.cluster,
                 CAST(sum((q.code - c.c) * (q.code - c.c)) AS BIGINT)
                     AS d2
          FROM q JOIN cents0 c USING (dim) GROUP BY 1, 2),
        a1 AS (
          SELECT vec_id, cluster FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                         ORDER BY d2, cluster) AS rn
            FROM d1) WHERE rn = 1),
        cents1 AS (
          SELECT a.cluster, q.dim,
                 CAST(sum(q.code) // count(*) AS BIGINT) AS c
          FROM q JOIN a1 a USING (vec_id) GROUP BY 1, 2),
        dd2 AS (
          SELECT q.vec_id, c.cluster,
                 CAST(sum((q.code - c.c) * (q.code - c.c)) AS BIGINT)
                     AS d2
          FROM q JOIN cents1 c USING (dim) GROUP BY 1, 2),
        a2 AS MATERIALIZED (
          SELECT vec_id, cluster FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                         ORDER BY d2, cluster) AS rn
            FROM dd2) WHERE rn = 1),
        cl AS (
          SELECT a.cluster, e.label, CAST(count(*) AS BIGINT) AS cnt
          FROM a2 a JOIN embeddings e USING (vec_id)
          GROUP BY 1, 2),
        per AS (
          SELECT cluster, label, cnt,
                 row_number() OVER (PARTITION BY cluster
                     ORDER BY cnt DESC, label ASC) AS rn,
                 CAST(sum(cnt) OVER (PARTITION BY cluster) AS BIGINT)
                     AS n_members,
                 CAST(sum(cnt * cnt) OVER (PARTITION BY cluster)
                      AS BIGINT) AS sum_c2
          FROM cl)
        SELECT cluster, n_members, label AS top_label, cnt AS n_top,
               floor(CAST(cnt AS DOUBLE) / CAST(n_members AS DOUBLE)
                     * 1e6 + 0.5) / 1e6 AS purity,
               floor(CAST(sum_c2 AS DOUBLE)
                     / (CAST(n_members AS DOUBLE)
                        * CAST(n_members AS DOUBLE)) * 1e6 + 0.5) / 1e6
                   AS simpson
        FROM per WHERE rn = 1
    """
    out["rake_keyphrases"] = r"""
        WITH toks AS (
          SELECT doc_id, lang, i - 1 AS pos, t[i] AS w
          FROM (SELECT doc_id, lang,
                       list_filter(string_split_regex(lower(text),
                                                      '\s+'),
                                   x -> x <> '') AS t
                FROM documents),
               LATERAL (SELECT unnest(range(1, len(t) + 1)) AS i) _),
        flag AS (SELECT *,
                        (w IN ('the','a','of','and','to','in','is',
                               'it','for','on')) AS is_stop
                 FROM toks),
        isl AS (SELECT *,
                       sum(CASE WHEN is_stop THEN 1 ELSE 0 END)
                           OVER (PARTITION BY doc_id ORDER BY pos)
                           AS island
                FROM flag),
        ph AS MATERIALIZED (
          SELECT doc_id, lang, island,
                 list(w ORDER BY pos) AS ws,
                 CAST(count(*) AS BIGINT) AS n_words
          FROM isl WHERE NOT is_stop
          GROUP BY 1, 2, 3 HAVING count(*) <= 5),
        pw AS (SELECT doc_id, lang, island, n_words, unnest(ws) AS w
               FROM ph),
        stats AS (SELECT lang, w,
                         CAST(count(*) AS BIGINT) AS freq,
                         CAST(sum(n_words) AS BIGINT) AS deg
                  FROM pw GROUP BY 1, 2),
        inst AS (SELECT pw.doc_id, pw.lang, pw.island,
                        CAST(sum(CAST(floor((CAST(s.deg AS DOUBLE)
                                             / CAST(s.freq AS DOUBLE))
                                            * 1000000.0 + 0.5)
                                      AS BIGINT)) AS BIGINT)
                            AS score_micro
                 FROM pw JOIN stats s
                   ON s.lang = pw.lang AND s.w = pw.w
                 GROUP BY 1, 2, 3),
        agg AS (SELECT ph.lang,
                       array_to_string(ph.ws, ' ') AS phrase,
                       CAST(count(*) AS BIGINT) AS n_occ,
                       CAST(max(ph.n_words) AS BIGINT) AS n_words,
                       CAST(max(i.score_micro) AS BIGINT) AS score_micro
                FROM inst i
                JOIN ph ON ph.doc_id = i.doc_id
                       AND ph.lang = i.lang AND ph.island = i.island
                GROUP BY 1, 2)
        SELECT lang,
               CAST(row_number() OVER (PARTITION BY lang
                   ORDER BY score_micro DESC, phrase ASC)
                   AS INTEGER) AS rank,
               phrase, n_words, n_occ,
               CAST(score_micro AS DOUBLE) / 1000000.0 AS score
        FROM agg
        QUALIFY rank <= 20
    """
    out["theil_index"] = """
        WITH pc AS (SELECT o_custkey,
                           CAST(sum(CAST(round(o_totalprice * 100)
                                         AS BIGINT)) AS BIGINT) AS cents
                    FROM orders GROUP BY 1),
        j AS (SELECT CAST(c.c_nationkey AS INTEGER) AS nationkey,
                     pc.cents
              FROM pc JOIN customer c ON c.c_custkey = pc.o_custkey
              WHERE pc.cents > 0),
        g AS (SELECT nationkey, CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(cents) AS BIGINT) AS yg
              FROM j GROUP BY 1),
        tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
                       CAST(sum(yg) AS BIGINT) AS yy
                FROM g),
        w AS (SELECT j.nationkey,
                     CAST(sum(CAST(floor(
                       (CAST(j.cents AS DOUBLE) / CAST(g.yg AS DOUBLE))
                       * ln(CAST(g.n * j.cents AS DOUBLE)
                            / CAST(g.yg AS DOUBLE))
                       * 1000000000.0 + 0.5) AS BIGINT)) AS BIGINT)
                         AS micro
              FROM j JOIN g USING (nationkey)
              GROUP BY 1)
        SELECT g.nationkey, g.n, g.yg AS spend_cents,
               floor(CAST(g.yg AS DOUBLE) / CAST(yy AS DOUBLE)
                     * 1e6 + 0.5) / 1e6 AS s_share,
               floor(CAST(w.micro AS DOUBLE) / 1000000000.0
                     * 1e6 + 0.5) / 1e6 AS t_within,
               floor((CAST(g.yg AS DOUBLE) / CAST(yy AS DOUBLE))
                     * ln(CAST(g.yg AS DOUBLE) * CAST(nn AS DOUBLE)
                          / (CAST(yy AS DOUBLE) * CAST(g.n AS DOUBLE)))
                     * 1e6 + 0.5) / 1e6 AS t_between_term
        FROM g JOIN w USING (nationkey), tot
    """

    # ---- round-7 additions ------------------------------------------
    out["bartlett_test"] = """
        WITH g AS (
          SELECT o_orderpriority AS p, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                      AS BIGINT) AS s,
                 sum(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                          AS HUGEINT)
                     * CAST(round(o_totalprice * 100) AS BIGINT)) AS q
          FROM orders GROUP BY 1 HAVING count(*) >= 2),
        arr AS (
          SELECT list(struct_pack(p := p, n := n,
                   s2 := CAST(CAST(n AS HUGEINT) * q
                              - CAST(s AS HUGEINT) * s AS DOUBLE)
                         / CAST(n * (n - 1) AS DOUBLE)) ORDER BY p) AS gs,
                 CAST(sum(n) AS BIGINT) AS nn,
                 CAST(count(*) AS BIGINT) AS k
          FROM g),
        f AS (
          SELECT nn, k,
            list_reduce(list_prepend(0.0, list_transform(gs,
                t -> (t.n - 1) * t.s2)), (a, b) -> a + b) AS pooled_num,
            list_reduce(list_prepend(0.0, list_transform(gs,
                t -> (t.n - 1) * ln(t.s2))), (a, b) -> a + b) AS ln_sum,
            list_reduce(list_prepend(0.0, list_transform(gs,
                t -> 1.0 / CAST(t.n - 1 AS DOUBLE))), (a, b) -> a + b)
                AS inv_sum,
            len(list_filter(gs, t -> t.s2 <= 0)) AS bad
          FROM arr)
        SELECT nn AS n, k AS n_groups,
          floor((pooled_num / CAST(nn - k AS DOUBLE)) / 10000.0
                * 100.0 + 0.5) / 100.0 AS pooled_var_usd2,
          floor((1.0 + (inv_sum - 1.0 / CAST(nn - k AS DOUBLE))
                       / (3.0 * CAST(k - 1 AS DOUBLE))) * 1e6 + 0.5)
              / 1e6 AS c_factor,
          floor(((CAST(nn - k AS DOUBLE)
                  * ln(pooled_num / CAST(nn - k AS DOUBLE)) - ln_sum)
                 / (1.0 + (inv_sum - 1.0 / CAST(nn - k AS DOUBLE))
                          / (3.0 * CAST(k - 1 AS DOUBLE))))
                * 1e6 + 0.5) / 1e6 AS chi2
        FROM f WHERE k > 1 AND bad = 0
    """
    out["grubbs_outlier"] = """
        WITH daily AS (
          SELECT event_type AS t, CAST(ts AS DATE) AS d,
                 CAST(count(*) AS BIGINT) AS x
          FROM events GROUP BY 1, 2),
        g AS (
          SELECT t, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(x) AS BIGINT) AS s,
                 sum(CAST(x AS HUGEINT) * x) AS q
          FROM daily GROUP BY 1),
        j AS (
          SELECT daily.t, d, x, n, s, q,
                 (CAST(n AS HUGEINT) * x - s)
                 * (CAST(n AS HUGEINT) * x - s) AS dev2
          FROM daily JOIN g USING (t)),
        top AS (
          SELECT *, row_number() OVER (
                   PARTITION BY t ORDER BY dev2 DESC, d ASC) AS rn
          FROM j)
        SELECT t AS event_type, n,
               strftime(d, '%Y-%m-%d') AS worst_day, x AS cnt,
          floor(sqrt(CAST(dev2 AS DOUBLE) * CAST(n - 1 AS DOUBLE)
                     / (CAST(n AS DOUBLE)
                        * CAST(CAST(n AS HUGEINT) * q
                               - CAST(s AS HUGEINT) * s AS DOUBLE)))
                * 1e6 + 0.5) / 1e6 AS grubbs_g
        FROM top
        WHERE rn = 1 AND n >= 3
          AND CAST(n AS HUGEINT) * q - CAST(s AS HUGEINT) * s > 0
    """
    out["anova_oneway"] = """
        WITH g AS (
          SELECT o_orderpriority AS p, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                      AS BIGINT) AS s,
                 sum(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                          AS HUGEINT)
                     * CAST(round(o_totalprice * 100) AS BIGINT)) AS q
          FROM orders GROUP BY 1),
        arr AS (
          SELECT list(struct_pack(p := p, n := n, s := s)
                      ORDER BY p) AS gs,
                 CAST(sum(n) AS BIGINT) AS nn,
                 sum(CAST(s AS HUGEINT)) AS ss,
                 sum(q) AS qq,
                 CAST(count(*) AS BIGINT) AS k
          FROM g),
        f AS (
          SELECT nn, ss, qq, k,
            list_reduce(list_prepend(0.0, list_transform(gs,
                t -> CAST(CAST(t.s AS HUGEINT) * t.s AS DOUBLE)
                     / CAST(t.n AS DOUBLE))), (a, b) -> a + b)
                AS between_raw
          FROM arr),
        ff AS (
          SELECT nn, k,
                 between_raw - CAST(ss * ss AS DOUBLE)
                               / CAST(nn AS DOUBLE) AS ssb,
                 CAST(qq AS DOUBLE) - between_raw AS ssw
          FROM f)
        SELECT nn AS n, k AS n_groups,
          floor(ssb / CAST(k - 1 AS DOUBLE) / 10000.0 * 100.0 + 0.5)
              / 100.0 AS ms_between_usd2,
          floor(ssw / CAST(nn - k AS DOUBLE) / 10000.0 * 100.0 + 0.5)
              / 100.0 AS ms_within_usd2,
          floor(((ssb / CAST(k - 1 AS DOUBLE))
                 / (ssw / CAST(nn - k AS DOUBLE))) * 1e6 + 0.5) / 1e6
              AS f_stat
        FROM ff WHERE k > 1 AND nn > k AND ssw > 0
    """
    out["mutual_information"] = """
        WITH cells AS (
          SELECT event_type AS t,
                 CAST(dayofweek(CAST(ts AS DATE)) AS INTEGER) AS dow,
                 CAST(count(*) AS BIGINT) AS o
          FROM events GROUP BY 1, 2),
        rows_ AS (SELECT t, CAST(sum(o) AS BIGINT) AS r
                  FROM cells GROUP BY 1),
        cols_ AS (SELECT dow, CAST(sum(o) AS BIGINT) AS c
                  FROM cells GROUP BY 1),
        tot AS (SELECT CAST(sum(o) AS BIGINT) AS n,
                       CAST(count(DISTINCT t) AS BIGINT) AS rk,
                       CAST(count(DISTINCT dow) AS BIGINT) AS ck
                FROM cells),
        mi_q AS (
          SELECT CAST(sum(CAST(floor(
                   (CAST(o AS DOUBLE) / CAST(n AS DOUBLE))
                   * ln(CAST(n * o AS DOUBLE) / CAST(r * c AS DOUBLE))
                   * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS mi_nano
          FROM cells JOIN rows_ USING (t) JOIN cols_ USING (dow), tot),
        ht_q AS (
          SELECT CAST(sum(CAST(floor(
                   -(CAST(r AS DOUBLE) / CAST(n AS DOUBLE))
                   * ln(CAST(r AS DOUBLE) / CAST(n AS DOUBLE))
                   * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS ht_nano
          FROM rows_, tot),
        hd_q AS (
          SELECT CAST(sum(CAST(floor(
                   -(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                   * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                   * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS hd_nano
          FROM cols_, tot)
        SELECT n, rk AS n_types, ck AS n_dows,
          floor(CAST(mi_nano AS DOUBLE) / 1e9 * 1e6 + 0.5) / 1e6 AS mi,
          floor(CAST(ht_nano AS DOUBLE) / 1e9 * 1e6 + 0.5) / 1e6
              AS h_type,
          floor(CAST(hd_nano AS DOUBLE) / 1e9 * 1e6 + 0.5) / 1e6
              AS h_dow,
          floor(CASE WHEN (CAST(ht_nano AS DOUBLE) / 1e9)
                          * (CAST(hd_nano AS DOUBLE) / 1e9) > 0
                     THEN (CAST(mi_nano AS DOUBLE) / 1e9)
                          / sqrt((CAST(ht_nano AS DOUBLE) / 1e9)
                                 * (CAST(hd_nano AS DOUBLE) / 1e9))
                     ELSE 0.0 END * 1e6 + 0.5) / 1e6 AS nmi
        FROM tot, mi_q, ht_q, hd_q
        WHERE rk > 1 AND ck > 1
    """
    out["g_test"] = """
        WITH cells AS (
          SELECT event_type AS t,
                 CAST(dayofweek(CAST(ts AS DATE)) AS INTEGER) AS dow,
                 CAST(count(*) AS BIGINT) AS o
          FROM events GROUP BY 1, 2),
        rows_ AS (SELECT t, CAST(sum(o) AS BIGINT) AS r
                  FROM cells GROUP BY 1),
        cols_ AS (SELECT dow, CAST(sum(o) AS BIGINT) AS c
                  FROM cells GROUP BY 1),
        tot AS (SELECT CAST(sum(o) AS BIGINT) AS n,
                       CAST(count(DISTINCT t) AS BIGINT) AS rk,
                       CAST(count(DISTINCT dow) AS BIGINT) AS ck
                FROM cells),
        agg AS (
          SELECT n, rk, ck,
                 CAST(sum(CAST(floor(
                   CAST(o AS DOUBLE)
                   * ln(CAST(o * n AS DOUBLE) / CAST(r * c AS DOUBLE))
                   * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS g_micro
          FROM cells JOIN rows_ USING (t) JOIN cols_ USING (dow), tot
          GROUP BY 1, 2, 3)
        SELECT n, CAST((rk - 1) * (ck - 1) AS BIGINT) AS df,
          floor(2.0 * CAST(g_micro AS DOUBLE) / 1e6 * 1e6 + 0.5) / 1e6
              AS g_stat
        FROM agg WHERE rk > 1 AND ck > 1
    """
    out["ewma_control"] = """
        WITH daily AS (
          SELECT event_type AS t, CAST(ts AS DATE) AS d,
                 CAST(count(*) AS BIGINT) AS x
          FROM events GROUP BY 1, 2),
        st AS (
          SELECT t, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(x) AS BIGINT) AS s,
                 sum(CAST(x AS HUGEINT) * x) AS q,
                 list(CAST(x AS DOUBLE) ORDER BY d) AS xs
          FROM daily GROUP BY 1),
        idx AS (
          SELECT t, d, x,
                 CAST(row_number() OVER (PARTITION BY t ORDER BY d)
                      AS BIGINT) AS i
          FROM daily),
        j AS (SELECT idx.*, n, s, q, xs FROM idx JOIN st USING (t)),
        z AS (
          SELECT *, list_reduce(xs[1:i],
                                (acc, v) -> 0.3 * v + 0.7 * acc) AS zz
          FROM j)
        SELECT t AS event_type, strftime(d, '%Y-%m-%d') AS day,
               x AS cnt,
          floor(zz * 1e6 + 0.5) / 1e6 AS ewma,
          CAST(CASE WHEN abs(zz - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                       > 3.0 * sqrt(CAST(CAST(n AS HUGEINT) * q
                                    - CAST(s AS HUGEINT) * s AS DOUBLE)
                                    / (CAST(n AS DOUBLE)
                                       * CAST(n - 1 AS DOUBLE)))
                         * sqrt(0.3 / (2.0 - 0.3))
                    THEN 1 ELSE 0 END AS INTEGER) AS breach
        FROM z WHERE n >= 2
    """
    out["hurst_rs"] = """
        WITH daily AS (
          SELECT date_trunc('day', o_orderdate) AS d,
                 CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                      AS BIGINT) AS y
          FROM orders GROUP BY 1),
        idx AS (
          SELECT d, y,
                 CAST(row_number() OVER (ORDER BY d) - 1 AS BIGINT) AS r
          FROM daily),
        e AS (
          SELECT r, y, w, r // w AS win, r % w AS tpos
          FROM idx, (SELECT unnest([8, 16, 32]) AS w) _),
        c AS (
          SELECT *, CAST(sum(y) OVER (PARTITION BY w, win ORDER BY tpos
                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
          FROM e),
        g AS (
          SELECT w, win, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(y) AS BIGINT) AS s,
                 sum(CAST(y AS HUGEINT) * y) AS q
          FROM c GROUP BY 1, 2),
        adj AS (
          SELECT c.w, c.win, n, s, q,
                 CAST(n AS HUGEINT) * cum
                 - CAST(tpos + 1 AS HUGEINT) * s AS adj
          FROM c JOIN g USING (w, win)),
        pwin AS (
          SELECT w, win, n, s, q, max(adj) AS mx, min(adj) AS mn
          FROM adj GROUP BY 1, 2, 3, 4, 5),
        perw AS (
          SELECT w,
                 CAST(sum(CAST(floor(
                     CAST(mx - mn AS DOUBLE)
                     / sqrt(CAST(CAST(n AS HUGEINT) * q
                                 - CAST(s AS HUGEINT) * s AS DOUBLE))
                     * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS rs_nano,
                 CAST(count(*) AS BIGINT) AS n_win
          FROM pwin
          WHERE n = w
            AND CAST(n AS HUGEINT) * q - CAST(s AS HUGEINT) * s > 0
          GROUP BY 1),
        arr AS (
          SELECT list(struct_pack(
                     w := w,
                     mean_rs := CAST(rs_nano AS DOUBLE)
                                / (CAST(n_win AS DOUBLE) * 1e9),
                     n_win := n_win) ORDER BY w) AS ps,
                 CAST(count(*) AS BIGINT) AS np
          FROM perw),
        f AS (
          SELECT np, ps,
            list_reduce(list_prepend(0.0, list_transform(ps,
                t -> ln(CAST(t.w AS DOUBLE)))), (a, b) -> a + b) AS sx,
            list_reduce(list_prepend(0.0, list_transform(ps,
                t -> ln(t.mean_rs))), (a, b) -> a + b) AS sy,
            list_reduce(list_prepend(0.0, list_transform(ps,
                t -> ln(CAST(t.w AS DOUBLE)) * ln(t.mean_rs))),
                (a, b) -> a + b) AS sxy,
            list_reduce(list_prepend(0.0, list_transform(ps,
                t -> ln(CAST(t.w AS DOUBLE)) * ln(CAST(t.w AS DOUBLE)))),
                (a, b) -> a + b) AS sx2
          FROM arr)
        SELECT
          floor(list_filter(ps, t -> t.w = 8)[1].mean_rs * 1e6 + 0.5)
              / 1e6 AS rs8,
          floor(list_filter(ps, t -> t.w = 16)[1].mean_rs * 1e6 + 0.5)
              / 1e6 AS rs16,
          floor(list_filter(ps, t -> t.w = 32)[1].mean_rs * 1e6 + 0.5)
              / 1e6 AS rs32,
          floor(((CAST(np AS DOUBLE) * sxy - sx * sy)
                 / (CAST(np AS DOUBLE) * sx2 - sx * sx)) * 1e6 + 0.5)
              / 1e6 AS hurst
        FROM f WHERE np = 3
    """
    out["lorenz_deciles"] = """
        WITH pc AS (
          SELECT o_custkey,
                 CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                      AS BIGINT) AS cents
          FROM orders GROUP BY 1),
        d AS (
          SELECT *, CAST(ntile(10) OVER (ORDER BY cents, o_custkey)
                         AS INTEGER) AS decile
          FROM pc),
        g AS (
          SELECT decile, CAST(count(*) AS BIGINT) AS n_customers,
                 CAST(sum(cents) AS BIGINT) AS spend_cents
          FROM d GROUP BY 1),
        c AS (
          SELECT *, CAST(sum(spend_cents) OVER (ORDER BY decile
                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
          FROM g),
        t AS (SELECT CAST(sum(spend_cents) AS BIGINT) AS tt FROM g)
        SELECT decile, n_customers, spend_cents,
          floor(CAST(spend_cents AS DOUBLE) / CAST(tt AS DOUBLE)
                * 1e6 + 0.5) / 1e6 AS share,
          floor(CAST(cum AS DOUBLE) / CAST(tt AS DOUBLE)
                * 1e6 + 0.5) / 1e6 AS cum_share
        FROM c, t
    """
    out["atkinson_index"] = """
        WITH pc AS (
          SELECT o_custkey,
                 CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                      AS BIGINT) AS cents
          FROM orders GROUP BY 1),
        j AS (
          SELECT CAST(c_nationkey AS INTEGER) AS nationkey, cents
          FROM pc JOIN customer ON c_custkey = o_custkey
          WHERE cents > 0),
        g AS (
          SELECT nationkey, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(cents) AS BIGINT) AS spend_cents,
                 CAST(sum(CAST(floor(ln(CAST(cents AS DOUBLE))
                                     * 1e9 + 0.5) AS BIGINT))
                      AS BIGINT) AS ln_nano
          FROM j GROUP BY 1)
        SELECT nationkey, n, spend_cents,
          floor(exp(CAST(ln_nano AS DOUBLE)
                    / (CAST(n AS DOUBLE) * 1e9)) * 100.0 + 0.5) / 100.0
              AS geo_mean_cents,
          floor((1.0 - exp(CAST(ln_nano AS DOUBLE)
                           / (CAST(n AS DOUBLE) * 1e9))
                       / (CAST(spend_cents AS DOUBLE)
                          / CAST(n AS DOUBLE))) * 1e6 + 0.5) / 1e6
              AS atkinson
        FROM g
    """

    out["good_turing"] = r"""
        WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split_regex(text, '\s+'),
                             t -> t <> '') AS tk
          FROM documents),
        bi AS (
          SELECT tk[i + 1] AS w1, tk[i + 2] AS w2
          FROM toks,
               LATERAL (SELECT unnest(range(len(tk) - 1)) AS i) _
          WHERE len(tk) >= 2),
        tf AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS r
               FROM bi GROUP BY 1, 2),
        cc AS (SELECT r, CAST(count(*) AS BIGINT) AS n_r
               FROM tf GROUP BY 1),
        ranked AS (
          SELECT *, CAST(row_number() OVER (ORDER BY r ASC) AS INTEGER)
                        AS band
          FROM cc),
        nxt AS (SELECT r - 1 AS r, n_r AS n_r1 FROM cc)
        SELECT band, r, n_r,
          floor(CAST(r + 1 AS DOUBLE) * CAST(COALESCE(n_r1, 0) AS DOUBLE)
                / CAST(n_r AS DOUBLE) * 1e6 + 0.5) / 1e6 AS r_star
        FROM ranked LEFT JOIN nxt USING (r)
        WHERE band <= 10
    """
    out["kn_continuation"] = r"""
        WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split_regex(text, '\s+'),
                             t -> t <> '') AS tk
          FROM documents),
        bi AS (
          SELECT DISTINCT tk[i + 1] AS w1, tk[i + 2] AS w2
          FROM toks,
               LATERAL (SELECT unnest(range(len(tk) - 1)) AS i) _
          WHERE len(tk) >= 2),
        total AS (SELECT CAST(count(*) AS BIGINT) AS n_bigram_types
                  FROM bi),
        cont AS (SELECT w2, CAST(count(*) AS BIGINT) AS cont_types
                 FROM bi GROUP BY 1),
        tf AS (SELECT unnest(tk) AS tok FROM toks),
        freqs AS (SELECT tok, CAST(count(*) AS BIGINT) AS freq
                  FROM tf GROUP BY 1),
        top AS (
          SELECT *, CAST(row_number() OVER (
                     ORDER BY freq DESC, tok ASC) AS INTEGER) AS rank
          FROM freqs QUALIFY rank <= 20)
        SELECT rank, tok, freq,
               CAST(COALESCE(cont_types, 0) AS BIGINT) AS cont_types,
          floor(CAST(COALESCE(cont_types, 0) AS DOUBLE)
                / CAST(n_bigram_types AS DOUBLE) * 1e6 + 0.5) / 1e6
              AS p_continuation
        FROM top LEFT JOIN cont ON cont.w2 = top.tok, total
    """
    out["simpson_diversity"] = r"""
        WITH tf AS (
          SELECT lang, tok, CAST(count(*) AS BIGINT) AS n
          FROM (SELECT lang,
                       unnest(list_filter(
                           string_split_regex(text, '\s+'),
                           t -> t <> '')) AS tok
                FROM documents)
          GROUP BY 1, 2),
        g AS (
          SELECT lang, CAST(sum(n) AS BIGINT) AS nn,
                 CAST(count(*) AS BIGINT) AS types,
                 CAST(sum(n * (n - 1)) AS BIGINT) AS pairs
          FROM tf GROUP BY 1)
        SELECT lang, nn AS tokens, types,
          floor((1.0 - CAST(pairs AS DOUBLE)
                       / CAST(nn * (nn - 1) AS DOUBLE)) * 1e6 + 0.5)
              / 1e6 AS simpson_diversity
        FROM g WHERE nn >= 2
    """
    out["readability_scores"] = r"""
        WITH per AS (
          SELECT lang,
                 CAST(len(list_filter(string_split_regex(text, '\s+'),
                                      t -> t <> '')) AS BIGINT) AS words,
                 CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                      AS BIGINT) AS syl
          FROM documents),
        g AS (
          SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(words) AS BIGINT) AS words,
                 CAST(sum(syl) AS BIGINT) AS syllables
          FROM per GROUP BY 1)
        SELECT lang, n_docs, words, syllables,
          floor((206.835
                 - 1.015 * (CAST(words AS DOUBLE)
                            / CAST(n_docs AS DOUBLE))
                 - 84.6 * (CAST(syllables AS DOUBLE)
                           / CAST(words AS DOUBLE))) * 1e6 + 0.5) / 1e6
              AS flesch
        FROM g WHERE words > 0
    """
    out["script_profile"] = r"""
        WITH per AS (
          SELECT source,
                 CAST(length(text) AS BIGINT) AS chars,
                 CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                      AS BIGINT) AS alpha,
                 CAST(length(regexp_replace(text, '[^0-9]', '', 'g'))
                      AS BIGINT) AS digit,
                 CAST(length(regexp_replace(text, '\S', '', 'g'))
                      AS BIGINT) AS space
          FROM documents),
        g AS (
          SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(chars) AS BIGINT) AS chars,
                 CAST(sum(alpha) AS BIGINT) AS alpha,
                 CAST(sum(digit) AS BIGINT) AS digit,
                 CAST(sum(space) AS BIGINT) AS space
          FROM per GROUP BY 1)
        SELECT source, n_docs, chars,
          floor(CAST(alpha AS DOUBLE) / CAST(chars AS DOUBLE)
                * 1e6 + 0.5) / 1e6 AS alpha_ratio,
          floor(CAST(digit AS DOUBLE) / CAST(chars AS DOUBLE)
                * 1e6 + 0.5) / 1e6 AS digit_ratio,
          floor(CAST(space AS DOUBLE) / CAST(chars AS DOUBLE)
                * 1e6 + 0.5) / 1e6 AS space_ratio,
          floor(CAST(chars - alpha - digit - space AS DOUBLE)
                / CAST(chars AS DOUBLE) * 1e6 + 0.5) / 1e6
              AS other_ratio
        FROM g WHERE chars > 0
    """
    out["ttr_windows"] = r"""
        WITH toks AS (
          SELECT lang, doc_id, (i - 1) // 20 AS w, tk[i] AS tok
          FROM (SELECT lang, doc_id,
                       list_filter(string_split_regex(text, '\s+'),
                                   t -> t <> '') AS tk
                FROM documents),
               LATERAL (SELECT unnest(range(1, len(tk) + 1)) AS i) _),
        sizes AS (
          SELECT lang, doc_id, w,
                 CAST(count(*) AS BIGINT) AS n_tok,
                 CAST(count(DISTINCT tok) AS BIGINT) AS n_types
          FROM toks GROUP BY 1, 2, 3),
        g AS (
          SELECT lang, CAST(count(*) AS BIGINT) AS n_windows,
                 CAST(sum(n_types) AS BIGINT) AS sum_types
          FROM sizes WHERE n_tok = 20 GROUP BY 1)
        SELECT lang, n_windows,
          floor(CAST(sum_types AS DOUBLE)
                / CAST(n_windows * 20 AS DOUBLE) * 1e6 + 0.5) / 1e6
              AS mean_ttr
        FROM g
    """

    out["nelson_aalen"] = """
        WITH d0 AS (
          SELECT event_type, user_id, CAST(ts AS DATE) AS day
          FROM events),
        ul AS (
          SELECT event_type, user_id, min(day) AS f, max(day) AS l
          FROM d0 GROUP BY 1, 2),
        mx AS (SELECT max(day) AS maxday FROM d0),
        starts AS (
          SELECT event_type, f AS day, count(*) AS s
          FROM ul GROUP BY 1, 2),
        churns AS (
          SELECT event_type, l AS day, count(*) AS d
          FROM ul, mx WHERE l < maxday GROUP BY 1, 2),
        spine AS (
          SELECT event_type, day,
                 coalesce(s, 0) AS s, coalesce(d, 0) AS d
          FROM (SELECT event_type, day FROM starts
                UNION
                SELECT event_type, day FROM churns) u
          LEFT JOIN starts USING (event_type, day)
          LEFT JOIN churns USING (event_type, day)),
        n0 AS (
          SELECT event_type, day, d,
                 CAST(sum(s) OVER (PARTITION BY event_type
                        ORDER BY day ROWS BETWEEN UNBOUNDED
                        PRECEDING AND CURRENT ROW)
                      - coalesce(sum(d) OVER (PARTITION BY
                        event_type ORDER BY day ROWS BETWEEN
                        UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                      AS BIGINT) AS n
          FROM spine),
        steps AS (
          SELECT event_type, day, n, CAST(d AS BIGINT) AS d
          FROM n0 WHERE d > 0),
        arr AS (
          SELECT event_type,
                 list(struct_pack(day := day, n := n, d := d)
                      ORDER BY day) AS l
          FROM steps GROUP BY 1),
        ex AS (
          SELECT event_type, l[i] AS x,
                 list_reduce(list_prepend(0.0,
                   list_transform(l[1:i],
                     y -> CAST(y.d AS DOUBLE) / CAST(y.n AS DOUBLE))),
                   (a, b) -> a + b) AS haz,
                 list_reduce(list_prepend(0.0,
                   list_transform(l[1:i],
                     y -> CAST(y.d AS DOUBLE)
                          / (CAST(y.n AS DOUBLE)
                             * CAST(y.n AS DOUBLE)))),
                   (a, b) -> a + b) AS var
          FROM arr,
               LATERAL (SELECT unnest(range(1, len(l) + 1)) AS i) _)
        SELECT event_type, strftime(x.day, '%Y-%m-%d') AS day,
               x.n AS n_risk, x.d AS n_churn,
               floor(haz * 1e6 + 0.5) / 1e6 AS cum_hazard,
               floor(var * 1e6 + 0.5) / 1e6 AS hazard_var
        FROM ex
    """
    out["gehan_wilcoxon"] = """
        WITH d0 AS (SELECT event_type AS g, user_id,
                           CAST(ts AS DATE) AS day FROM events
                    WHERE ts IS NOT NULL),
        ul AS (SELECT g, user_id, min(day) AS f, max(day) AS l
               FROM d0 GROUP BY 1, 2),
        bounds AS (SELECT min(f) AS mn, max(l) AS mx FROM ul),
        sparse AS (
          SELECT g, day, CAST(sum(s) AS BIGINT) AS s,
                 CAST(sum(d) AS BIGINT) AS d
          FROM (
            SELECT g, f AS day, 1 AS s, 0 AS d FROM ul
            UNION ALL
            SELECT g, l, 0,
                   CASE WHEN l < (SELECT mx FROM bounds)
                        THEN 1 ELSE 0 END
            FROM ul)
          GROUP BY 1, 2),
        cal AS (
          SELECT gg.g,
                 CAST(unnest(generate_series(CAST(b.mn AS TIMESTAMP),
                        CAST(b.mx AS TIMESTAMP),
                        INTERVAL 1 DAY)) AS DATE) AS day
          FROM (SELECT DISTINCT g FROM sparse) gg CROSS JOIN bounds b),
        f AS (SELECT cal.g, cal.day, COALESCE(sp.s, 0) AS s,
                     COALESCE(sp.d, 0) AS d
              FROM cal LEFT JOIN sparse sp
                ON sp.g = cal.g AND sp.day = cal.day),
        nd AS (SELECT g, day, d,
                      sum(s) OVER (PARTITION BY g ORDER BY day)
                      - COALESCE(sum(d) OVER (PARTITION BY g ORDER BY day
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING), 0) AS n
               FROM f),
        p AS (SELECT a.g AS g1, b.g AS g2, a.day,
                     a.n AS n1, a.d AS d1, b.n AS n2, b.d AS d2
              FROM nd a JOIN nd b ON a.day = b.day AND a.g < b.g),
        t AS (SELECT g1, g2, day, d1, d2,
                     CAST(n1 + n2 AS DOUBLE)
                     * (CAST(d1 AS DOUBLE)
                        - ((d1 + d2) * n1) * 1.0 / (n1 + n2)) AS w_term,
                     CAST((n1 + n2) * (n1 + n2) AS DOUBLE)
                     * (((d1 + d2) * n1 * n2
                         * ((n1 + n2) - (d1 + d2))) * 1.0
                        / ((n1 + n2) * (n1 + n2) * ((n1 + n2) - 1)))
                       AS v_term
              FROM p
              WHERE d1 + d2 > 0 AND n1 + n2 >= 2),
        fd AS (SELECT g1, g2,
                      CAST(sum(d1) AS BIGINT) AS o1,
                      CAST(sum(d2) AS BIGINT) AS o2,
                      list_reduce(list_prepend(0.0,
                        list(w_term ORDER BY day)),
                        (a, b) -> a + b) AS w_stat,
                      list_reduce(list_prepend(0.0,
                        list(v_term ORDER BY day)),
                        (a, b) -> a + b) AS v_w
               FROM t GROUP BY 1, 2)
        SELECT g1, g2, o1, o2,
               floor(w_stat * 1e6 + 0.5) / 1e6 AS w_stat,
               floor(v_w * 1e6 + 0.5) / 1e6 AS v_w,
               floor((w_stat * w_stat) / v_w * 1e6 + 0.5) / 1e6 AS chi2,
               (w_stat * w_stat) / v_w > 3.841 AS significant
        FROM fd WHERE v_w > 0
    """
    out["auc_scores"] = """
        WITH scored AS (
          SELECT CAST(floor(list_reduce(list_prepend(0.0,
                   list_transform(embedding, x -> CAST(x AS DOUBLE))),
                   (a, b) -> a + b) * 1e6 + 0.5) AS BIGINT) AS v,
                 CASE WHEN label = 1 THEN 1 ELSE 0 END AS pos
          FROM embeddings),
        gv AS (SELECT v, CAST(sum(pos) AS BIGINT) AS pc,
                      CAST(sum(1 - pos) AS BIGINT) AS nc
               FROM scored GROUP BY 1),
        cum AS (SELECT *,
                       COALESCE(sum(nc) OVER (ORDER BY v
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING), 0) AS neg_below
                FROM gv),
        u AS (SELECT CAST(sum(pc * (2 * neg_below + nc)) AS BIGINT)
                         AS u2
              FROM cum),
        tot AS (SELECT CAST(sum(pc) AS BIGINT) AS n_pos,
                       CAST(sum(nc) AS BIGINT) AS n_neg
                FROM gv)
        SELECT n_pos, n_neg,
          floor(CAST(u2 AS DOUBLE)
                / (2.0 * CAST(n_pos * n_neg AS DOUBLE))
                * 1e6 + 0.5) / 1e6 AS auc,
          floor(2.0 * (CAST(u2 AS DOUBLE)
                       / (2.0 * CAST(n_pos * n_neg AS DOUBLE)))
                * 1e6 + 0.5) / 1e6 AS gini_plus1
        FROM tot, u WHERE n_pos > 0 AND n_neg > 0
    """
    out["pr_auc"] = """
        WITH scored AS (
          SELECT CAST(floor(list_reduce(list_prepend(0.0,
                   list_transform(embedding, x -> CAST(x AS DOUBLE))),
                   (a, b) -> a + b) * 1e6 + 0.5) AS BIGINT) AS v,
                 CASE WHEN label = 1 THEN 1 ELSE 0 END AS pos
          FROM embeddings),
        gv AS (SELECT v, CAST(sum(pos) AS BIGINT) AS pc,
                      CAST(sum(1 - pos) AS BIGINT) AS nc
               FROM scored GROUP BY 1),
        cum AS (SELECT v, pc,
                       CAST(sum(pc) OVER (ORDER BY v DESC
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS BIGINT) AS tp,
                       CAST(sum(nc) OVER (ORDER BY v DESC
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS BIGINT) AS fp
                FROM gv),
        tot AS (SELECT CAST(sum(pc) AS BIGINT) AS n_pos,
                       CAST(sum(nc) AS BIGINT) AS n_neg,
                       CAST(count(*) AS BIGINT) AS n_thresholds
                FROM gv),
        terms AS (
          SELECT (CAST(pc AS DOUBLE) / CAST(n_pos AS DOUBLE))
                 * (CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE))
                   AS t,
                 v, n_pos, n_neg, n_thresholds
          FROM cum, tot WHERE pc > 0),
        ap AS (SELECT n_pos, n_neg, n_thresholds,
                      list_reduce(list_prepend(0.0,
                        list(t ORDER BY v DESC)),
                        (a, b) -> a + b) AS ap
               FROM terms GROUP BY 1, 2, 3)
        SELECT n_pos, n_neg, n_thresholds,
               floor(ap * 1e6 + 0.5) / 1e6 AS average_precision
        FROM ap WHERE n_pos > 0
    """
    out["equalized_odds"] = """
        WITH pc AS (
          SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders
          FROM orders GROUP BY 1),
        j AS (
          SELECT CAST(c_nationkey AS INTEGER) AS nationkey,
                 CASE WHEN COALESCE(pc.n_orders, 0) >= 10
                      THEN 1 ELSE 0 END AS y,
                 CASE WHEN c_acctbal >= 5000.0 THEN 1 ELSE 0 END AS p
          FROM customer c
          LEFT JOIN pc ON c.c_custkey = pc.o_custkey),
        g AS (
          SELECT nationkey, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(y * p) AS BIGINT) AS tp,
                 CAST(sum(y * (1 - p)) AS BIGINT) AS fn,
                 CAST(sum((1 - y) * p) AS BIGINT) AS fp,
                 CAST(sum((1 - y) * (1 - p)) AS BIGINT) AS tn
          FROM j GROUP BY 1),
        tot AS (
          SELECT CAST(sum(tp) AS BIGINT) AS gtp,
                 CAST(sum(fn) AS BIGINT) AS gfn,
                 CAST(sum(fp) AS BIGINT) AS gfp,
                 CAST(sum(tn) AS BIGINT) AS gtn
          FROM g)
        SELECT nationkey, n, tp, fn, fp, tn,
          floor(CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE)
                * 1e6 + 0.5) / 1e6 AS tpr,
          floor(CAST(fp AS DOUBLE) / CAST(fp + tn AS DOUBLE)
                * 1e6 + 0.5) / 1e6 AS fpr,
          floor((CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE)
                 - CAST(gtp AS DOUBLE) / CAST(gtp + gfn AS DOUBLE))
                * 1e6 + 0.5) / 1e6 AS tpr_gap,
          floor((CAST(fp AS DOUBLE) / CAST(fp + tn AS DOUBLE)
                 - CAST(gfp AS DOUBLE) / CAST(gfp + gtn AS DOUBLE))
                * 1e6 + 0.5) / 1e6 AS fpr_gap
        FROM g, tot WHERE tp + fn > 0 AND fp + tn > 0
    """

    out["lang_id_f1"] = f"""
        WITH {_TEXT_FEATURES_CTE},
        pred AS (
          SELECT CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y,
                 CASE WHEN f.swr >= 0.08 THEN 1 ELSE 0 END AS p
          FROM documents d JOIN feat2 f ON d.doc_id = f.doc_id),
        base AS (
          SELECT cls,
                 CASE WHEN cls = 'en' THEN y ELSE 1 - y END AS yy,
                 CASE WHEN cls = 'en' THEN p ELSE 1 - p END AS pp
          FROM pred, (SELECT unnest(['en', 'other']) AS cls) _),
        g AS (
          SELECT cls AS class,
                 CAST(sum(yy * pp) AS BIGINT) AS tp,
                 CAST(sum((1 - yy) * pp) AS BIGINT) AS fp,
                 CAST(sum(yy * (1 - pp)) AS BIGINT) AS fn
          FROM base GROUP BY 1),
        per2 AS (
          SELECT class, tp, fp, fn, prec, rec,
                 CASE WHEN prec + rec > 0
                      THEN 2.0 * prec * rec / (prec + rec)
                      ELSE 0.0 END AS f1
          FROM (
            SELECT *,
              CASE WHEN tp + fp > 0
                   THEN CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE)
                   ELSE 0.0 END AS prec,
              CASE WHEN tp + fn > 0
                   THEN CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE)
                   ELSE 0.0 END AS rec
            FROM g)),
        macro AS (
          SELECT 'macro' AS class,
                 CAST(sum(tp) AS BIGINT) AS tp,
                 CAST(sum(fp) AS BIGINT) AS fp,
                 CAST(sum(fn) AS BIGINT) AS fn,
                 CAST(NULL AS DOUBLE) AS precision,
                 CAST(NULL AS DOUBLE) AS recall,
                 floor(CAST(sum(CAST(floor(f1 * 1e6 + 0.5) AS BIGINT))
                            AS DOUBLE)
                       / (CAST(count(*) AS DOUBLE) * 1e6)
                       * 1e6 + 0.5) / 1e6 AS f1
          FROM per2)
        SELECT class, tp, fp, fn,
               floor(prec * 1e6 + 0.5) / 1e6 AS precision,
               floor(rec * 1e6 + 0.5) / 1e6 AS recall,
               floor(f1 * 1e6 + 0.5) / 1e6 AS f1
        FROM per2
        UNION ALL SELECT * FROM macro
    """

    out["neighbor_jaccard"] = """
        WITH e0 AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                    FROM lineitem),
        edges AS (SELECT x.pk AS a, y.pk AS b, count(*) AS w
                  FROM e0 x JOIN e0 y ON x.ok = y.ok AND x.pk < y.pk
                  GROUP BY 1, 2 HAVING count(*) >= 2),
        und AS (SELECT a, b FROM edges
                UNION ALL SELECT b AS a, a AS b FROM edges),
        deg AS (SELECT a AS wn, CAST(count(*) AS BIGINT) AS d
                FROM und GROUP BY 1),
        mid AS (SELECT wn FROM deg WHERE d >= 2 AND d <= 200),
        elig AS (SELECT u.b AS wn, u.a AS n
                 FROM und u JOIN mid ON mid.wn = u.b),
        cap_deg AS (SELECT n AS node, CAST(count(*) AS BIGINT) AS dcap
                    FROM elig GROUP BY 1),
        pairs AS (SELECT x.n AS u, y.n AS v,
                         CAST(count(*) AS BIGINT) AS n_common
                  FROM elig x JOIN elig y ON y.wn = x.wn
                  WHERE x.n < y.n GROUP BY 1, 2),
        scored AS (
          SELECT u, v, n_common, du.dcap AS du, dv.dcap AS dv,
                 CAST(floor(CAST(n_common AS DOUBLE) * 1000000.0
                            / CAST(du.dcap + dv.dcap - n_common
                                   AS DOUBLE) + 0.5) AS BIGINT)
                     AS jac_micro
          FROM pairs
          JOIN cap_deg du ON du.node = pairs.u
          JOIN cap_deg dv ON dv.node = pairs.v)
        SELECT u, v, n_common, du, dv, jac_micro,
               CAST(jac_micro AS DOUBLE) / 1000000.0 AS jaccard
        FROM scored
        ORDER BY jac_micro DESC, n_common DESC, u ASC, v ASC
        LIMIT 100
    """
    out["degree_assortativity"] = """
        WITH e0 AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                    FROM lineitem),
        edges AS (SELECT x.pk AS a, y.pk AS b, count(*) AS w
                  FROM e0 x JOIN e0 y ON x.ok = y.ok AND x.pk < y.pk
                  GROUP BY 1, 2 HAVING count(*) >= 2),
        und AS (SELECT a, b FROM edges
                UNION ALL SELECT b AS a, a AS b FROM edges),
        deg AS (SELECT a AS node, CAST(count(*) AS BIGINT) AS d
                FROM und GROUP BY 1),
        inc AS (SELECT dx.d AS x, dy.d AS y
                FROM und u
                JOIN deg dx ON dx.node = u.a
                JOIN deg dy ON dy.node = u.b),
        m AS (SELECT CAST(count(*) AS BIGINT) AS m,
                     CAST(sum(x) AS BIGINT) AS sx,
                     CAST(sum(y) AS BIGINT) AS sy,
                     sum(CAST(x AS HUGEINT) * y) AS sxy,
                     sum(CAST(x AS HUGEINT) * x) AS sx2,
                     sum(CAST(y AS HUGEINT) * y) AS sy2
              FROM inc)
        SELECT CAST(m // 2 AS BIGINT) AS n_edges,
          floor((CAST(CAST(m AS HUGEINT) * sxy
                      - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                 / (sqrt(CAST(CAST(m AS HUGEINT) * sx2
                              - CAST(sx AS HUGEINT) * sx AS DOUBLE))
                    * sqrt(CAST(CAST(m AS HUGEINT) * sy2
                                - CAST(sy AS HUGEINT) * sy AS DOUBLE)))
                 + 1.0) * 1e6 + 0.5) / 1e6 AS r_plus1
        FROM m
        WHERE CAST(m AS HUGEINT) * sx2 - CAST(sx AS HUGEINT) * sx > 0
          AND CAST(m AS HUGEINT) * sy2 - CAST(sy AS HUGEINT) * sy > 0
    """
    out["hits_scores"] = """
        WITH edges AS (
          SELECT DISTINCT o_custkey AS u, l_partkey AS p
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        a1 AS (SELECT p, CAST(count(*) AS BIGINT) AS a1
               FROM edges GROUP BY 1),
        h1 AS (SELECT u, CAST(sum(a1) AS BIGINT) AS h1
               FROM edges JOIN a1 USING (p) GROUP BY 1),
        a2 AS (SELECT p, CAST(sum(h1) AS BIGINT) AS a2
               FROM edges JOIN h1 USING (u) GROUP BY 1),
        mx AS (SELECT max(a2) AS mx FROM a2)
        SELECT p AS partkey, a2 AS authority,
               floor(CAST(a2 AS DOUBLE) / CAST(mx AS DOUBLE)
                     * 1e6 + 0.5) / 1e6 AS auth_ratio
        FROM a2, mx
        ORDER BY a2 DESC, p ASC LIMIT 20
    """
    out["emb_outliers"] = S.duckdb_emb_outliers_sql()
    out["ann_k_sweep"] = S.duckdb_k_sweep_sql()
    out["ts_downsample_minmax"] = """
        WITH daily AS (
          SELECT date_trunc('day', o_orderdate) AS d,
                 CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                      AS BIGINT) AS y
          FROM orders GROUP BY 1),
        idx AS (SELECT d, y,
                       CAST(row_number() OVER (ORDER BY d) - 1
                            AS BIGINT) AS r
                FROM daily),
        cnt AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM idx),
        b AS (SELECT *, CAST((r * 50) // nd AS INTEGER) AS bucket
              FROM idx, cnt),
        br AS (SELECT *, min(r) OVER (PARTITION BY bucket) AS rmin,
                      max(r) OVER (PARTITION BY bucket) AS rmax
               FROM b)
        SELECT bucket, CAST(count(*) AS BIGINT) AS n_days,
               strftime(min(d), '%Y-%m-%d') AS day_from,
               strftime(max(d), '%Y-%m-%d') AS day_to,
               CAST(min(y) AS BIGINT) AS y_min,
               CAST(max(y) AS BIGINT) AS y_max,
               CAST(max(CASE WHEN r = rmin THEN y END) AS BIGINT)
                   AS y_first,
               CAST(max(CASE WHEN r = rmax THEN y END) AS BIGINT)
                   AS y_last
        FROM br GROUP BY 1
    """
    out["croston_forecast"] = """
        WITH daily AS (
          SELECT event_type AS t, CAST(ts AS DATE) AS d,
                 CAST(count(*) AS BIGINT) AS x
          FROM events GROUP BY 1, 2),
        bounds AS (SELECT min(d) AS mn, max(d) AS mx FROM daily),
        cal AS (
          SELECT tt.t,
                 CAST(unnest(generate_series(CAST(b.mn AS TIMESTAMP),
                        CAST(b.mx AS TIMESTAMP),
                        INTERVAL 1 DAY)) AS DATE) AS d
          FROM (SELECT DISTINCT t FROM daily) tt CROSS JOIN bounds b),
        full_ AS (SELECT cal.t, cal.d, COALESCE(daily.x, 0) AS x
                  FROM cal LEFT JOIN daily
                    ON daily.t = cal.t AND daily.d = cal.d),
        pos AS (SELECT t, d, x,
                       CAST(row_number() OVER (PARTITION BY t
                            ORDER BY d) AS BIGINT) AS i
                FROM full_),
        dem AS (SELECT t, i, x,
                       i - COALESCE(lag(i) OVER (PARTITION BY t
                            ORDER BY i), 0) AS gap
                FROM pos WHERE x > 0),
        arr AS (SELECT t, CAST(count(*) AS BIGINT) AS n_demands,
                       list(CAST(x AS DOUBLE) ORDER BY i) AS zs,
                       list(CAST(gap AS DOUBLE) ORDER BY i) AS gs
                FROM dem GROUP BY 1),
        nd AS (SELECT t, CAST(count(*) AS BIGINT) AS n_days
               FROM full_ GROUP BY 1),
        f AS (SELECT arr.t, n_days, n_demands,
                     list_reduce(zs,
                       (acc, z) -> 0.1 * z + 0.9 * acc) AS level,
                     list_reduce(gs,
                       (acc, g) -> 0.1 * g + 0.9 * acc) AS itv
              FROM arr JOIN nd ON nd.t = arr.t
              WHERE n_demands >= 1)
        SELECT t AS event_type, n_days, n_demands,
               floor(level * 1e6 + 0.5) / 1e6 AS level,
               floor(itv * 1e6 + 0.5) / 1e6 AS interval,
               floor(level / itv * 1e6 + 0.5) / 1e6 AS forecast
        FROM f
    """
    out["order_reconciliation"] = """
        WITH per_line AS (
          SELECT l_orderkey AS ok,
                 CAST(floor(l_extendedprice * (1.0 - l_discount)
                            * (1.0 + l_tax) * 100.0 + 0.5) AS BIGINT)
                     AS lc
          FROM lineitem),
        per_order AS (SELECT ok, CAST(sum(lc) AS BIGINT) AS net_cents
                      FROM per_line GROUP BY 1),
        o AS (SELECT o_orderkey,
                     CAST(round(o_totalprice * 100) AS BIGINT)
                         AS o_cents
              FROM orders),
        j AS (
          SELECT o_cents, net_cents,
                 CASE WHEN net_cents IS NULL THEN 'no_lines'
                      WHEN o_cents = net_cents THEN 'exact'
                      WHEN abs(o_cents - net_cents) <= 100
                           THEN 'sub_dollar'
                      ELSE 'large' END AS bucket
          FROM o LEFT JOIN per_order ON per_order.ok = o.o_orderkey),
        tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM j)
        SELECT bucket, CAST(count(*) AS BIGINT) AS n_orders,
               CAST(max(abs(o_cents - COALESCE(net_cents, 0)))
                    AS BIGINT) AS max_abs_diff_cents,
               floor(CAST(count(*) AS DOUBLE)
                     / CAST(n_total AS DOUBLE) * 1e6 + 0.5) / 1e6
                   AS share
        FROM j, tot GROUP BY 1, n_total
    """

    out["tukey_hsd"] = """
        WITH g AS (
          SELECT o_orderpriority AS p, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                      AS BIGINT) AS s,
                 sum(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                          AS HUGEINT)
                     * CAST(round(o_totalprice * 100) AS BIGINT)) AS q
          FROM orders GROUP BY 1),
        arr AS (
          SELECT list(struct_pack(p := p, n := n, s := s)
                      ORDER BY p) AS gs,
                 CAST(sum(n) AS BIGINT) AS nn,
                 sum(q) AS qq,
                 CAST(count(*) AS BIGINT) AS k
          FROM g),
        msw AS (
          SELECT nn, k,
            (CAST(qq AS DOUBLE)
             - list_reduce(list_prepend(0.0, list_transform(gs,
                 t -> CAST(CAST(t.s AS HUGEINT) * t.s AS DOUBLE)
                      / CAST(t.n AS DOUBLE))), (a, b) -> a + b))
            / CAST(nn - k AS DOUBLE) AS msw
          FROM arr)
        SELECT a.p AS p1, b.p AS p2, a.n AS n1, b.n AS n2,
          floor((CAST(a.s AS DOUBLE) / CAST(a.n AS DOUBLE)
                 - CAST(b.s AS DOUBLE) / CAST(b.n AS DOUBLE)) / 100.0
                * 100.0 + 0.5) / 100.0 AS mean_diff_usd,
          floor(abs(CAST(a.s AS DOUBLE) / CAST(a.n AS DOUBLE)
                    - CAST(b.s AS DOUBLE) / CAST(b.n AS DOUBLE))
                / sqrt(msw / 2.0 * (1.0 / CAST(a.n AS DOUBLE)
                                    + 1.0 / CAST(b.n AS DOUBLE)))
                * 1e6 + 0.5) / 1e6 AS q_stat
        FROM g a JOIN g b ON a.p < b.p, msw
        WHERE msw > 0 AND nn > k
    """
    out["chow_test"] = """
        WITH daily AS (
          SELECT date_trunc('day', o_orderdate) AS d,
                 CAST(count(*) AS BIGINT) AS y
          FROM orders GROUP BY 1),
        idx AS (
          SELECT d, y,
                 CAST(row_number() OVER (ORDER BY d) - 1 AS BIGINT) AS t
          FROM daily),
        cnt AS (SELECT CAST(count(*) AS BIGINT) AS n_all FROM idx),
        seg AS (
          SELECT t, y,
                 CASE WHEN t < n_all // 2 THEN 1 ELSE 2 END AS half
          FROM idx, cnt),
        bothg AS (
          SELECT t, y, grp
          FROM seg, LATERAL (SELECT unnest([half, 0]) AS grp) _),
        m AS (
          SELECT grp, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(t) AS BIGINT) AS st,
                 CAST(sum(y) AS BIGINT) AS sy,
                 sum(CAST(t AS HUGEINT) * t) AS stt,
                 sum(CAST(t AS HUGEINT) * y) AS sty,
                 sum(CAST(y AS HUGEINT) * y) AS syy
          FROM bothg GROUP BY 1),
        terms AS (
          SELECT grp, n,
            (CAST(CAST(n AS HUGEINT) * syy
                  - CAST(sy AS HUGEINT) * sy AS DOUBLE)
             - CAST(CAST(n AS HUGEINT) * sty
                    - CAST(st AS HUGEINT) * sy AS DOUBLE)
               * CAST(CAST(n AS HUGEINT) * sty
                      - CAST(st AS HUGEINT) * sy AS DOUBLE)
               / CAST(CAST(n AS HUGEINT) * stt
                      - CAST(st AS HUGEINT) * st AS DOUBLE))
            / CAST(n AS DOUBLE) AS rss
          FROM m
          WHERE CAST(n AS HUGEINT) * stt - CAST(st AS HUGEINT) * st > 0),
        arr AS (
          SELECT list(struct_pack(grp := grp, n := n, rss := rss)
                      ORDER BY grp) AS xs,
                 CAST(count(*) AS BIGINT) AS kk
          FROM terms)
        SELECT
          list_filter(xs, t -> t.grp = 0)[1].n AS n_days,
          CAST(list_filter(xs, t -> t.grp = 0)[1].n // 2 AS BIGINT)
              AS break_index,
          floor(list_filter(xs, t -> t.grp = 0)[1].rss * 1e6 + 0.5)
              / 1e6 AS rss_pooled,
          floor((list_filter(xs, t -> t.grp = 1)[1].rss
                 + list_filter(xs, t -> t.grp = 2)[1].rss)
                * 1e6 + 0.5) / 1e6 AS rss_split,
          floor(((list_filter(xs, t -> t.grp = 0)[1].rss
                  - list_filter(xs, t -> t.grp = 1)[1].rss
                  - list_filter(xs, t -> t.grp = 2)[1].rss) / 2.0)
                / ((list_filter(xs, t -> t.grp = 1)[1].rss
                    + list_filter(xs, t -> t.grp = 2)[1].rss)
                   / CAST(list_filter(xs, t -> t.grp = 0)[1].n - 4
                          AS DOUBLE))
                * 1e6 + 0.5) / 1e6 AS f_stat
        FROM arr
        WHERE kk = 3
          AND list_filter(xs, t -> t.grp = 1)[1].rss
              + list_filter(xs, t -> t.grp = 2)[1].rss > 0
          AND list_filter(xs, t -> t.grp = 0)[1].n > 4
    """
    out["granger_lite"] = """
        WITH daily AS (
          SELECT event_type AS t, CAST(ts AS DATE) AS d,
                 CAST(count(*) AS BIGINT) AS x
          FROM events GROUP BY 1, 2),
        totals AS (SELECT t, CAST(sum(x) AS BIGINT) AS tot
                   FROM daily GROUP BY 1),
        ranked AS (
          SELECT t, row_number() OVER (ORDER BY tot DESC, t ASC) AS rk
          FROM totals QUALIFY rk <= 2),
        bounds AS (SELECT min(d) AS mn, max(d) AS mx FROM daily),
        cal AS (
          SELECT r.t, r.rk,
                 CAST(unnest(generate_series(CAST(b.mn AS TIMESTAMP),
                        CAST(b.mx AS TIMESTAMP),
                        INTERVAL 1 DAY)) AS DATE) AS d
          FROM ranked r CROSS JOIN bounds b),
        filled AS (
          SELECT cal.rk, cal.d, COALESCE(daily.x, 0) AS x
          FROM cal LEFT JOIN daily
            ON daily.t = cal.t AND daily.d = cal.d),
        wide AS (
          SELECT d, max(CASE WHEN rk = 1 THEN x END) AS a,
                    max(CASE WHEN rk = 2 THEN x END) AS b
          FROM filled GROUP BY 1),
        lagged AS (
          SELECT d, a AS ya, b AS yb,
                 lag(a) OVER (ORDER BY d) AS la,
                 lag(b) OVER (ORDER BY d) AS lb
          FROM wide QUALIFY la IS NOT NULL),
        dirs AS (
          SELECT 'b_causes_a' AS direction, ya AS y, la AS l1, lb AS l2
          FROM lagged
          UNION ALL
          SELECT 'a_causes_b', yb, lb, la FROM lagged),
        mom AS (
          SELECT direction, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(y) AS BIGINT) AS sy,
                 CAST(sum(l1) AS BIGINT) AS s1,
                 CAST(sum(l2) AS BIGINT) AS s2,
                 sum(CAST(y AS HUGEINT) * y) AS syy,
                 sum(CAST(l1 AS HUGEINT) * l1) AS s11,
                 sum(CAST(l2 AS HUGEINT) * l2) AS s22,
                 sum(CAST(l1 AS HUGEINT) * l2) AS s12,
                 sum(CAST(l1 AS HUGEINT) * y) AS s1y,
                 sum(CAST(l2 AS HUGEINT) * y) AS s2y
          FROM dirs GROUP BY 1),
        c AS (
          SELECT direction, n,
            CAST(CAST(n AS HUGEINT) * s11
                 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE) AS c11,
            CAST(CAST(n AS HUGEINT) * s22
                 - CAST(s2 AS HUGEINT) * s2 AS DOUBLE) AS c22,
            CAST(CAST(n AS HUGEINT) * s12
                 - CAST(s1 AS HUGEINT) * s2 AS DOUBLE) AS c12,
            CAST(CAST(n AS HUGEINT) * s1y
                 - CAST(s1 AS HUGEINT) * sy AS DOUBLE) AS c1y,
            CAST(CAST(n AS HUGEINT) * s2y
                 - CAST(s2 AS HUGEINT) * sy AS DOUBLE) AS c2y,
            CAST(CAST(n AS HUGEINT) * syy
                 - CAST(sy AS HUGEINT) * sy AS DOUBLE) AS cyy
          FROM mom),
        f AS (
          SELECT direction, n,
                 cyy - c1y * c1y / c11 AS rss_r,
                 cyy - (c22 * c1y * c1y
                        - 2.0 * c12 * c1y * c2y
                        + c11 * c2y * c2y)
                       / (c11 * c22 - c12 * c12) AS rss_u,
                 c11, c11 * c22 - c12 * c12 AS det
          FROM c)
        SELECT direction, n,
          floor((rss_r - rss_u) / rss_r * 1e6 + 0.5) / 1e6
              AS rss_reduction,
          floor((rss_r - rss_u) / (rss_u / CAST(n - 3 AS DOUBLE))
                * 1e6 + 0.5) / 1e6 AS f_stat
        FROM f
        WHERE c11 > 0 AND det > 0 AND rss_u > 0 AND n > 3
    """

    out["fisher_exact"] = """
        WITH RECURSIVE pc AS MATERIALIZED (
          SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders
          FROM orders GROUP BY 1),
        jj AS MATERIALIZED (
          SELECT CASE WHEN COALESCE(pc.n_orders, 0) >= 10
                      THEN 1 ELSE 0 END AS y,
                 CASE WHEN c_acctbal >= 5000.0 THEN 1 ELSE 0 END AS p
          FROM customer c
          LEFT JOIN pc ON c.c_custkey = pc.o_custkey),
        cells AS MATERIALIZED (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(y) AS BIGINT) AS r1,
                 CAST(sum(p) AS BIGINT) AS c1,
                 CAST(sum(y * p) AS BIGINT) AS k_obs
          FROM jj),
        base AS MATERIALIZED (
          SELECT *,
                 greatest(CAST(0 AS BIGINT), r1 + c1 - n) AS kmin,
                 least(r1, c1) AS kmax,
                 greatest(greatest(CAST(0 AS BIGINT), r1 + c1 - n),
                          least(least(r1, c1),
                                (r1 + 1) * (c1 + 1) // (n + 2)))
                     AS kmode
          FROM cells
          WHERE r1 > 0 AND r1 < n AND c1 > 0 AND c1 < n),
        obs AS (
          SELECT kmode AS k, CAST(1.0 AS DOUBLE) AS cur FROM base
          UNION ALL
          SELECT CASE WHEN b.k_obs > o.k THEN o.k + 1 ELSE o.k - 1 END,
                 CASE WHEN b.k_obs > o.k
                      THEN o.cur
                           * CAST((b.r1 - o.k) * (b.c1 - o.k) AS DOUBLE)
                           / CAST((o.k + 1)
                                  * (b.n - b.r1 - b.c1 + o.k + 1)
                                  AS DOUBLE)
                      ELSE o.cur
                           / (CAST((b.r1 - (o.k - 1))
                                   * (b.c1 - (o.k - 1)) AS DOUBLE)
                              / CAST(((o.k - 1) + 1)
                                     * (b.n - b.r1 - b.c1
                                        + (o.k - 1) + 1) AS DOUBLE))
                 END
          FROM obs o, base b WHERE o.k <> b.k_obs),
        relobs AS MATERIALIZED (
          SELECT o.cur AS rel_obs FROM obs o, base b
          WHERE o.k = b.k_obs),
        up AS (
          SELECT b.kmode AS k, CAST(1.0 AS DOUBLE) AS cur,
                 CAST(1.0 AS DOUBLE) AS s_all,
                 CASE WHEN 1.0 <= r.rel_obs * (1.0 + 1e-7)
                      THEN CAST(1.0 AS DOUBLE)
                      ELSE CAST(0.0 AS DOUBLE) END AS s_le
          FROM base b, relobs r
          UNION ALL
          SELECT u.k + 1, x.nxt, u.s_all + x.nxt,
                 u.s_le + CASE WHEN x.nxt <= r.rel_obs * (1.0 + 1e-7)
                               THEN x.nxt ELSE 0.0 END
          FROM up u, base b, relobs r,
               LATERAL (SELECT u.cur
                        * CAST((b.r1 - u.k) * (b.c1 - u.k) AS DOUBLE)
                        / CAST((u.k + 1)
                               * (b.n - b.r1 - b.c1 + u.k + 1)
                               AS DOUBLE) AS nxt) x
          WHERE u.k < b.kmax),
        down AS (
          SELECT b.kmode AS k, CAST(1.0 AS DOUBLE) AS cur,
                 CAST(0.0 AS DOUBLE) AS s_all,
                 CAST(0.0 AS DOUBLE) AS s_le
          FROM base b
          UNION ALL
          SELECT d.k - 1, x.nxt, d.s_all + x.nxt,
                 d.s_le + CASE WHEN x.nxt <= r.rel_obs * (1.0 + 1e-7)
                               THEN x.nxt ELSE 0.0 END
          FROM down d, base b, relobs r,
               LATERAL (SELECT d.cur
                        / (CAST((b.r1 - (d.k - 1))
                                * (b.c1 - (d.k - 1)) AS DOUBLE)
                           / CAST(((d.k - 1) + 1)
                                  * (b.n - b.r1 - b.c1 + (d.k - 1) + 1)
                                  AS DOUBLE)) AS nxt) x
          WHERE d.k > b.kmin),
        ufin AS (SELECT u.s_all, u.s_le FROM up u, base b
                 WHERE u.k = b.kmax),
        dfin AS (SELECT d.s_all, d.s_le FROM down d, base b
                 WHERE d.k = b.kmin)
        SELECT b.n, b.r1, b.c1, b.k_obs,
               b.kmax - b.kmin + 1 AS support,
               floor((u.s_le + d.s_le) / (u.s_all + d.s_all)
                     * 1e6 + 0.5) / 1e6 AS p_two_sided
        FROM base b, ufin u, dfin d
    """
    _qn = RB.qnorm_upper_sql(
        "0.5 + CAST(2 * below + cnt + 1 AS DOUBLE)"
        " / CAST(4 * (n_all + 1) AS DOUBLE)",
        "CAST(2 * (n_all + 1) - (2 * below + cnt + 1) AS DOUBLE)"
        " / CAST(4 * (n_all + 1) AS DOUBLE)",
    )
    out["fligner_killeen"] = f"""
        WITH d AS (
          SELECT o_orderpriority AS g,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS x
          FROM orders),
        gv AS (SELECT g, x, CAST(count(*) AS BIGINT) AS c
               FROM d GROUP BY 1, 2),
        med AS (
          SELECT g, min(x) AS med FROM (
            SELECT g, x,
                   sum(c) OVER (PARTITION BY g ORDER BY x
                                ROWS UNBOUNDED PRECEDING) AS cum,
                   sum(c) OVER (PARTITION BY g) AS ng
            FROM gv) WHERE 2 * cum >= ng GROUP BY g),
        resid AS (SELECT d.g, abs(d.x - m.med) AS v
                  FROM d JOIN med m ON m.g = d.g),
        gvr AS (SELECT g, v, CAST(count(*) AS BIGINT) AS c
                FROM resid GROUP BY 1, 2),
        spine AS (SELECT v, CAST(sum(c) AS BIGINT) AS cnt
                  FROM gvr GROUP BY 1),
        tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_all FROM gvr),
        sp AS (
          SELECT v, cnt,
                 COALESCE(sum(cnt) OVER (ORDER BY v
                     ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING), 0) AS below,
                 n_all
          FROM spine, tot),
        sc0 AS (SELECT v, ({_qn}) AS a FROM sp),
        scores AS (
          SELECT v, CAST(floor(a * 1e9 + 0.5) AS BIGINT) AS an,
                 CAST(floor(a * a * 1e9 + 0.5) AS BIGINT) AS a2n
          FROM sc0),
        j AS (SELECT gvr.g, gvr.c, s.an, s.a2n
              FROM gvr JOIN scores s USING (v)),
        per_g AS (
          SELECT g, CAST(sum(c) AS BIGINT) AS ng,
                 sum(CAST(c AS HUGEINT) * an) AS sa
          FROM j GROUP BY 1),
        gtot AS (
          SELECT CAST(sum(c) AS BIGINT) AS n,
                 sum(CAST(c AS HUGEINT) * an) AS sa_all,
                 sum(CAST(c AS HUGEINT) * a2n) AS s2_all
          FROM j),
        arr AS (
          SELECT n, sa_all, s2_all,
                 list(struct_pack(g := g, ng := ng, sa := sa)
                      ORDER BY g) AS gs,
                 CAST(count(*) AS BIGINT) AS k
          FROM per_g, gtot GROUP BY 1, 2, 3)
        SELECT n AS n_rows, k AS n_groups,
               CAST(k - 1 AS BIGINT) AS df,
          floor(
            list_reduce(list_prepend(0.0, list_transform(gs,
              t -> CAST(t.ng AS DOUBLE)
                   * (CAST(t.sa AS DOUBLE)
                      / (CAST(t.ng AS DOUBLE) * 1e9)
                      - CAST(sa_all AS DOUBLE)
                        / (CAST(n AS DOUBLE) * 1e9))
                   * (CAST(t.sa AS DOUBLE)
                      / (CAST(t.ng AS DOUBLE) * 1e9)
                      - CAST(sa_all AS DOUBLE)
                        / (CAST(n AS DOUBLE) * 1e9)))),
              (a, b) -> a + b)
            / ((CAST(s2_all AS DOUBLE) / 1e9
                - CAST(n AS DOUBLE)
                  * (CAST(sa_all AS DOUBLE)
                     / (CAST(n AS DOUBLE) * 1e9))
                  * (CAST(sa_all AS DOUBLE)
                     / (CAST(n AS DOUBLE) * 1e9)))
               / (CAST(n AS DOUBLE) - 1.0))
            * 1e6 + 0.5) / 1e6 AS fk_stat
        FROM arr WHERE k >= 2 AND n > k
    """
    out["theta_forecast"] = """
        WITH daily AS (
          SELECT date_trunc('day', o_orderdate) AS d,
                 CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                      AS BIGINT) AS y
          FROM orders GROUP BY 1),
        idx AS (
          SELECT CAST(row_number() OVER (ORDER BY d) - 1 AS BIGINT)
                   AS t,
                 y
          FROM daily),
        m AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(t) AS BIGINT) AS st,
                 CAST(sum(y) AS BIGINT) AS sy,
                 sum(CAST(t AS HUGEINT) * t) AS stt,
                 sum(CAST(t AS HUGEINT) * y) AS sty
          FROM idx),
        ab AS (
          SELECT n, st, sy,
                 CAST(CAST(n AS HUGEINT) * stt
                      - CAST(st AS HUGEINT) * st AS DOUBLE) AS ctt,
                 CAST(CAST(n AS HUGEINT) * sty
                      - CAST(st AS HUGEINT) * sy AS DOUBLE) AS cty
          FROM m),
        ab2 AS (
          SELECT n, ctt, cty / ctt AS b,
                 (CAST(sy AS DOUBLE)
                  - (cty / ctt) * CAST(st AS DOUBLE))
                 / CAST(n AS DOUBLE) AS a
          FROM ab),
        zl AS (
          SELECT ab2.*,
                 list(2.0 * CAST(y AS DOUBLE)
                      - (a + b * CAST(t AS DOUBLE)) ORDER BY t) AS zs
          FROM idx, ab2 GROUP BY ALL),
        lv AS (
          SELECT *, list_reduce(zs,
                      (acc, z) -> 0.3 * z + (1.0 - 0.3) * acc) AS level
          FROM zl)
        SELECT n AS n_days,
          floor(a / 100.0 * 1e6 + 0.5) / 1e6 AS intercept_usd,
          floor(b / 100.0 * 1e6 + 0.5) / 1e6 AS slope_usd,
          floor(level / 100.0 * 1e6 + 0.5) / 1e6 AS ses_level_usd,
          floor((level + a + b * (CAST(n - 1 AS DOUBLE) + 1.0)) / 2.0
                / 100.0 * 1e6 + 0.5) / 1e6 AS forecast_h1_usd,
          floor((level + a + b * (CAST(n - 1 AS DOUBLE) + 7.0)) / 2.0
                / 100.0 * 1e6 + 0.5) / 1e6 AS forecast_h7_usd,
          floor((level + a + b * (CAST(n - 1 AS DOUBLE) + 30.0)) / 2.0
                / 100.0 * 1e6 + 0.5) / 1e6 AS forecast_h30_usd
        FROM lv WHERE n >= 3 AND ctt > 0
    """
    out["yule_k_vocab"] = r"""
        WITH tf AS (
          SELECT source, tok, CAST(count(*) AS BIGINT) AS n
          FROM (SELECT source,
                       unnest(list_filter(
                           string_split_regex(text, '\s+'),
                           t -> t <> '')) AS tok
                FROM documents)
          GROUP BY 1, 2),
        g AS (
          SELECT source, CAST(sum(n) AS BIGINT) AS nn,
                 CAST(count(*) AS BIGINT) AS v,
                 CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END)
                      AS BIGINT) AS v1,
                 CAST(sum(CASE WHEN n = 2 THEN 1 ELSE 0 END)
                      AS BIGINT) AS v2,
                 sum(CAST(n AS HUGEINT) * n) AS s2
          FROM tf GROUP BY 1)
        SELECT source, nn AS tokens, v AS vocab, v1, v2,
          floor(10000.0 * (CAST(s2 AS DOUBLE) - CAST(nn AS DOUBLE))
                / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE))
                * 1e6 + 0.5) / 1e6 AS yule_k,
          floor(CAST(v2 AS DOUBLE) / CAST(v AS DOUBLE) * 1e6 + 0.5)
              / 1e6 AS sichel_s,
          CASE WHEN v1 < v THEN
            floor(100.0 * ln(CAST(nn AS DOUBLE))
                  / (1.0 - CAST(v1 AS DOUBLE) / CAST(v AS DOUBLE))
                  * 1e6 + 0.5) / 1e6
          END AS honore_r
        FROM g WHERE nn >= 2
    """
    out["mood_median"] = """
        WITH d AS (
          SELECT o_orderpriority AS g,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS x
          FROM orders),
        spine AS (SELECT x, CAST(count(*) AS BIGINT) AS c
                  FROM d GROUP BY 1),
        tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_all FROM spine),
        med AS (
          SELECT min(x) AS med FROM (
            SELECT x, sum(c) OVER (ORDER BY x
                       ROWS UNBOUNDED PRECEDING) AS cum
            FROM spine), tot
          WHERE 2 * cum >= n_all),
        cells AS (
          SELECT g, CAST(count(*) AS BIGINT) AS ng,
                 CAST(sum(CASE WHEN x <= med THEN 1 ELSE 0 END)
                      AS BIGINT) AS le
          FROM d, med GROUP BY 1),
        arr AS (
          SELECT list(struct_pack(g := g, ng := ng, le := le)
                      ORDER BY g) AS gs,
                 CAST(sum(ng) AS BIGINT) AS n,
                 CAST(sum(le) AS BIGINT) AS le_all,
                 CAST(count(*) AS BIGINT) AS k
          FROM cells)
        SELECT n AS n_rows, k AS n_groups,
               CAST(k - 1 AS BIGINT) AS df, le_all AS n_le_median,
          floor(list_reduce(list_prepend(0.0, list_transform(gs,
            t -> (CAST(t.le AS DOUBLE)
                  - CAST(CAST(t.ng AS HUGEINT) * le_all AS DOUBLE)
                    / CAST(n AS DOUBLE))
                 * (CAST(t.le AS DOUBLE)
                    - CAST(CAST(t.ng AS HUGEINT) * le_all AS DOUBLE)
                      / CAST(n AS DOUBLE))
                 / (CAST(CAST(t.ng AS HUGEINT) * le_all AS DOUBLE)
                    / CAST(n AS DOUBLE))
                 + (CAST(t.ng - t.le AS DOUBLE)
                    - CAST(CAST(t.ng AS HUGEINT) * (n - le_all)
                           AS DOUBLE)
                      / CAST(n AS DOUBLE))
                   * (CAST(t.ng - t.le AS DOUBLE)
                      - CAST(CAST(t.ng AS HUGEINT) * (n - le_all)
                             AS DOUBLE)
                        / CAST(n AS DOUBLE))
                   / (CAST(CAST(t.ng AS HUGEINT) * (n - le_all)
                           AS DOUBLE)
                      / CAST(n AS DOUBLE)))),
            (a, b) -> a + b) * 1e6 + 0.5) / 1e6 AS chi2
        FROM arr WHERE k >= 2 AND le_all > 0 AND le_all < n
    """
    out["adf_lite"] = """
        WITH daily AS (
          SELECT date_trunc('day', o_orderdate) AS d,
                 CAST(count(*) AS BIGINT) AS y
          FROM orders GROUP BY 1),
        lagged AS (
          SELECT y, lag(y) OVER (ORDER BY d) AS x FROM daily),
        m AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(x) AS BIGINT) AS sx,
                 CAST(sum(y - x) AS BIGINT) AS sy,
                 sum(CAST(x AS HUGEINT) * x) AS sxx,
                 sum(CAST(x AS HUGEINT) * (y - x)) AS sxy,
                 sum(CAST(y - x AS HUGEINT) * (y - x)) AS syy
          FROM lagged WHERE x IS NOT NULL),
        cc AS (
          SELECT n,
                 CAST(CAST(n AS HUGEINT) * sxx
                      - CAST(sx AS HUGEINT) * sx AS DOUBLE) AS cxx,
                 CAST(CAST(n AS HUGEINT) * sxy
                      - CAST(sx AS HUGEINT) * sy AS DOUBLE) AS cxy,
                 CAST(CAST(n AS HUGEINT) * syy
                      - CAST(sy AS HUGEINT) * sy AS DOUBLE) AS cyy
          FROM m),
        fin AS (
          SELECT n, cxx, cxy / cxx AS gamma,
                 (cyy - cxy * cxy / cxx) / CAST(n AS DOUBLE) AS rss
          FROM cc)
        SELECT n AS n_obs,
          floor(gamma * 1e6 + 0.5) / 1e6 AS gamma,
          floor(sqrt((rss / CAST(n - 2 AS DOUBLE))
                     / (cxx / CAST(n AS DOUBLE))) * 1e6 + 0.5) / 1e6
              AS se_gamma,
          floor(gamma / sqrt((rss / CAST(n - 2 AS DOUBLE))
                             / (cxx / CAST(n AS DOUBLE)))
                * 1e6 + 0.5) / 1e6 AS adf_t
        FROM fin WHERE cxx > 0 AND n > 2 AND rss > 0
    """
    out["kpss_lite"] = """
        WITH daily AS (
          SELECT date_trunc('day', o_orderdate) AS d,
                 CAST(count(*) AS BIGINT) AS y
          FROM orders GROUP BY 1),
        agg AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(y) AS BIGINT) AS sy,
                 sum(CAST(y AS HUGEINT) * y) AS syy
          FROM daily),
        idx AS (
          SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS i,
                 CAST(sum(y) OVER (ORDER BY d
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
          FROM daily),
        ns AS (
          SELECT n, sy, syy,
                 CAST(n AS HUGEINT) * cum
                 - CAST(i AS HUGEINT) * sy AS nst
          FROM idx, agg),
        fin AS (
          SELECT n, sy, syy, sum(nst * nst) AS q
          FROM ns GROUP BY 1, 2, 3)
        SELECT n AS n_days,
          floor(CAST(q AS DOUBLE)
                / CAST(CAST(n AS HUGEINT) * n
                       * (CAST(n AS HUGEINT) * syy
                          - CAST(sy AS HUGEINT) * sy) AS DOUBLE)
                * 1e6 + 0.5) / 1e6 AS kpss_eta
        FROM fin
        WHERE CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy > 0
          AND n >= 3
    """
    _vr_q = """
          SELECT CAST({q} AS BIGINT) AS q,
                 mq AS n_diffs,
            floor((CAST(cq AS DOUBLE)
                   / CAST(CAST(mq AS HUGEINT) * mq AS DOUBLE))
                  / (CAST({q} AS DOUBLE)
                     * (CAST(c1 AS DOUBLE)
                        / CAST(CAST(m1 AS HUGEINT) * m1 AS DOUBLE)))
                  * 1e6 + 0.5) / 1e6 AS vr
          FROM (
            SELECT CAST(count(*) AS BIGINT) AS mq,
                   CAST(count(*) AS HUGEINT)
                     * sum(CAST(dq AS HUGEINT) * dq)
                   - CAST(sum(dq) AS HUGEINT) * sum(dq) AS cq
            FROM (SELECT y - lag(y, {q}) OVER (ORDER BY d) AS dq
                  FROM daily) WHERE dq IS NOT NULL), base
          WHERE c1 > 0 AND mq >= 2
    """
    out["variance_ratio"] = (
        """
        WITH daily AS (
          SELECT date_trunc('day', o_orderdate) AS d,
                 CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                      AS BIGINT) AS y
          FROM orders GROUP BY 1),
        base AS (
          SELECT CAST(count(*) AS BIGINT) AS m1,
                 CAST(count(*) AS HUGEINT)
                   * sum(CAST(dy AS HUGEINT) * dy)
                 - CAST(sum(dy) AS HUGEINT) * sum(dy) AS c1
          FROM (SELECT y - lag(y, 1) OVER (ORDER BY d) AS dy
                FROM daily) WHERE dy IS NOT NULL)
        """
        + _vr_q.format(q=2)
        + " UNION ALL "
        + _vr_q.format(q=5)
        + " UNION ALL "
        + _vr_q.format(q=10)
    )
    out["sign_test_drift"] = """
        WITH RECURSIVE daily AS MATERIALIZED (
          SELECT date_trunc('day', o_orderdate) AS d,
                 CAST(count(*) AS BIGINT) AS y
          FROM orders GROUP BY 1),
        base AS MATERIALIZED (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CASE WHEN dy > 0 THEN 1 ELSE 0 END)
                      AS BIGINT) AS up,
                 (CAST(count(*) AS BIGINT) + 1) // 2 AS kmode
          FROM (SELECT y - lag(y, 1) OVER (ORDER BY d) AS dy
                FROM daily)
          WHERE dy IS NOT NULL AND dy <> 0
          HAVING count(*) >= 1),
        obs AS (
          SELECT kmode AS k, CAST(1.0 AS DOUBLE) AS cur FROM base
          UNION ALL
          SELECT CASE WHEN b.up > o.k THEN o.k + 1 ELSE o.k - 1 END,
                 CASE WHEN b.up > o.k
                      THEN o.cur * (CAST(b.n - o.k AS DOUBLE)
                                    / CAST(o.k + 1 AS DOUBLE))
                      ELSE o.cur / (CAST(b.n - (o.k - 1) AS DOUBLE)
                                    / CAST(o.k AS DOUBLE))
                 END
          FROM obs o, base b WHERE o.k <> b.up),
        relobs AS MATERIALIZED (
          SELECT o.cur AS rel_obs FROM obs o, base b
          WHERE o.k = b.up),
        up AS (
          SELECT b.kmode AS k, CAST(1.0 AS DOUBLE) AS cur,
                 CAST(1.0 AS DOUBLE) AS s_all,
                 CASE WHEN 1.0 <= r.rel_obs * (1.0 + 1e-7)
                      THEN CAST(1.0 AS DOUBLE)
                      ELSE CAST(0.0 AS DOUBLE) END AS s_le
          FROM base b, relobs r
          UNION ALL
          SELECT u.k + 1, x.nxt, u.s_all + x.nxt,
                 u.s_le + CASE WHEN x.nxt <= r.rel_obs * (1.0 + 1e-7)
                               THEN x.nxt ELSE 0.0 END
          FROM up u, base b, relobs r,
               LATERAL (SELECT u.cur * (CAST(b.n - u.k AS DOUBLE)
                                        / CAST(u.k + 1 AS DOUBLE))
                            AS nxt) x
          WHERE u.k < b.n),
        down AS (
          SELECT b.kmode AS k, CAST(1.0 AS DOUBLE) AS cur,
                 CAST(0.0 AS DOUBLE) AS s_all,
                 CAST(0.0 AS DOUBLE) AS s_le
          FROM base b
          UNION ALL
          SELECT d.k - 1, x.nxt, d.s_all + x.nxt,
                 d.s_le + CASE WHEN x.nxt <= r.rel_obs * (1.0 + 1e-7)
                               THEN x.nxt ELSE 0.0 END
          FROM down d, base b, relobs r,
               LATERAL (SELECT d.cur
                          / (CAST(b.n - (d.k - 1) AS DOUBLE)
                             / CAST(d.k AS DOUBLE)) AS nxt) x
          WHERE d.k > 0),
        ufin AS (SELECT u.s_all, u.s_le FROM up u, base b
                 WHERE u.k = b.n),
        dfin AS (SELECT d.s_all, d.s_le FROM down d
                 WHERE d.k = 0)
        SELECT b.n AS n_moves, b.up AS n_up, b.n - b.up AS n_down,
          floor((u.s_le + COALESCE(d.s_le, 0.0))
                / (u.s_all + COALESCE(d.s_all, 0.0))
                * 1e6 + 0.5) / 1e6 AS p_two_sided
        FROM base b, ufin u LEFT JOIN dfin d ON TRUE
    """
    out["clustering_capped"] = """
        WITH e0 AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                    FROM lineitem),
        edges AS (SELECT x.pk AS a, y.pk AS b, count(*) AS w
                  FROM e0 x JOIN e0 y ON x.ok = y.ok AND x.pk < y.pk
                  GROUP BY 1, 2 HAVING count(*) >= 2),
        und AS (SELECT a, b FROM edges
                UNION ALL SELECT b AS a, a AS b FROM edges),
        deg AS (SELECT a AS v, CAST(count(*) AS BIGINT) AS d
                FROM und GROUP BY 1),
        keep AS (SELECT v FROM deg WHERE d >= 2 AND d <= 200),
        sub AS (SELECT u.a, u.b FROM und u
                JOIN keep ka ON ka.v = u.a
                JOIN keep kb ON kb.v = u.b),
        dsub AS (SELECT a AS v, CAST(count(*) AS BIGINT) AS d
                 FROM sub GROUP BY 1),
        wedges AS (SELECT x.a AS c, x.b AS u, y.b AS w
                   FROM sub x JOIN sub y ON y.a = x.a AND x.b < y.b),
        half AS (SELECT a AS u, b AS w FROM sub WHERE a < b),
        tri AS (SELECT c AS v, CAST(count(*) AS BIGINT) AS t
                FROM wedges JOIN half USING (u, w) GROUP BY 1)
        SELECT dsub.v AS partkey, dsub.d AS degree,
               COALESCE(tri.t, 0) AS triangles,
          CAST(floor(2.0 * CAST(COALESCE(tri.t, 0) AS DOUBLE)
                     * 1000000.0
                     / CAST(dsub.d * (dsub.d - 1) AS DOUBLE) + 0.5)
               AS BIGINT) AS clust_micro
        FROM dsub LEFT JOIN tri ON tri.v = dsub.v
        WHERE dsub.d >= 2
        ORDER BY dsub.d DESC, dsub.v ASC LIMIT 100
    """
    out["neyman_allocation"] = """
        WITH g AS (
          SELECT o_orderpriority AS stratum,
                 CAST(count(*) AS BIGINT) AS n_rows,
                 CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                      AS BIGINT) AS s,
                 sum(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                          AS HUGEINT)
                     * CAST(round(o_totalprice * 100) AS BIGINT)) AS q
          FROM orders GROUP BY 1),
        per AS (
          SELECT stratum, n_rows,
            sqrt(CAST(CAST(n_rows AS HUGEINT) * q
                      - CAST(s AS HUGEINT) * s AS DOUBLE)
                 / (CAST(n_rows AS DOUBLE)
                    * CAST(n_rows - 1 AS DOUBLE))) AS sd
          FROM g WHERE n_rows >= 2),
        arr AS (
          SELECT list(struct_pack(stratum := stratum,
                                  n_rows := n_rows, sd := sd)
                      ORDER BY stratum) AS gs
          FROM per),
        tw AS (
          SELECT gs, list_reduce(list_prepend(0.0, list_transform(gs,
                   t -> CAST(t.n_rows AS DOUBLE) * t.sd)),
                   (a, b) -> a + b) AS tw
          FROM arr)
        SELECT t.stratum AS stratum, t.n_rows AS n_rows,
          floor(t.sd / 100.0 * 1e6 + 0.5) / 1e6 AS sd_usd,
          floor(CAST(t.n_rows AS DOUBLE) * t.sd / tw * 1e6 + 0.5)
              / 1e6 AS weight,
          CAST(floor(1000.0 * CAST(t.n_rows AS DOUBLE) * t.sd / tw
                     + 0.5) AS BIGINT) AS alloc
        FROM tw, unnest(gs) AS u(t)
    """
    out["gumbel_maxima"] = f"""
        WITH daily AS (
          SELECT date_trunc('day', o_orderdate) AS d,
                 CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                      AS BIGINT) AS y
          FROM orders GROUP BY 1),
        blocks AS (
          SELECT date_trunc('month', d) AS m,
                 CAST(max(y) AS BIGINT) AS mx
          FROM daily GROUP BY 1),
        agg AS (
          SELECT CAST(count(*) AS BIGINT) AS n_blocks,
                 CAST(sum(mx) AS BIGINT) AS s,
                 sum(CAST(mx AS HUGEINT) * mx) AS q
          FROM blocks),
        fit AS (
          SELECT n_blocks,
                 CAST(s AS DOUBLE) / CAST(n_blocks AS DOUBLE) AS mean,
                 CAST(CAST(n_blocks AS HUGEINT) * q
                      - CAST(s AS HUGEINT) * s AS DOUBLE) AS var_num
          FROM agg),
        fit2 AS (
          SELECT *,
            sqrt(var_num / (CAST(n_blocks AS DOUBLE)
                            * (CAST(n_blocks AS DOUBLE) - 1.0)))
              * sqrt(6.0) / {RB.PI!r} AS beta
          FROM fit),
        fit3 AS (
          SELECT *, mean - {RB.EULER_GAMMA!r} * beta AS mu
          FROM fit2)
        SELECT n_blocks,
          floor(mean / 100.0 * 1e6 + 0.5) / 1e6 AS mean_max_usd,
          floor(sqrt(var_num / (CAST(n_blocks AS DOUBLE)
                                * (CAST(n_blocks AS DOUBLE) - 1.0)))
                / 100.0 * 1e6 + 0.5) / 1e6 AS sd_max_usd,
          floor(mu / 100.0 * 1e6 + 0.5) / 1e6 AS mu_usd,
          floor(beta / 100.0 * 1e6 + 0.5) / 1e6 AS beta_usd,
          floor((mu - beta * ln(-ln(1.0 - 1.0 / 12.0))) / 100.0
                * 1e6 + 0.5) / 1e6 AS return_level_12_usd
        FROM fit3 WHERE n_blocks >= 2 AND var_num > 0
    """
    _uq = """
          SELECT '{c}' AS column_name,
                 CAST(count(*) AS BIGINT) AS n_rows,
                 CAST(count({c}) AS BIGINT) AS n_nonnull,
                 CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
            floor(CAST(count(DISTINCT {c}) AS DOUBLE)
                  / CAST(count(*) AS DOUBLE) * 1e6 + 0.5) / 1e6
                AS distinct_ratio,
            count(DISTINCT {c}) = count(*) AS is_key
          FROM orders
    """
    out["uniqueness_profile"] = " UNION ALL ".join(
        _uq.format(c=c)
        for c in [
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            "o_totalprice",
            "o_orderpriority",
        ]
    )
    out["cohens_d_family"] = """
        WITH m AS (
          SELECT o_orderstatus AS g, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                      AS BIGINT) AS s,
                 sum(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                          AS HUGEINT)
                     * CAST(round(o_totalprice * 100) AS BIGINT)) AS q
          FROM orders WHERE o_orderstatus IN ('O', 'F') GROUP BY 1),
        a AS (SELECT n AS n1, s AS s1, q AS q1 FROM m WHERE g = 'O'),
        b AS (SELECT n AS n2, s AS s2, q AS q2 FROM m WHERE g = 'F'),
        j AS (
          SELECT *,
            CAST(CAST(n1 AS HUGEINT) * q1
                 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE)
              / CAST(n1 AS DOUBLE) AS c1,
            CAST(CAST(n2 AS HUGEINT) * q2
                 - CAST(s2 AS HUGEINT) * s2 AS DOUBLE)
              / CAST(n2 AS DOUBLE) AS c2,
            CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS m1,
            CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS m2
          FROM a, b)
        SELECT n1, n2,
          floor((m1 - m2) / 100.0 * 1e6 + 0.5) / 1e6 AS mean_diff_usd,
          floor((m1 - m2)
                / sqrt((c1 + c2) / CAST(n1 + n2 - 2 AS DOUBLE))
                * 1e6 + 0.5) / 1e6 AS cohens_d,
          floor((1.0 - 3.0 / (4.0 * CAST(n1 + n2 AS DOUBLE) - 9.0))
                * ((m1 - m2)
                   / sqrt((c1 + c2) / CAST(n1 + n2 - 2 AS DOUBLE)))
                * 1e6 + 0.5) / 1e6 AS hedges_g,
          floor((m1 - m2) / sqrt(c1 / CAST(n1 - 1 AS DOUBLE))
                * 1e6 + 0.5) / 1e6 AS glass_delta
        FROM j WHERE n1 >= 2 AND n2 >= 2 AND c1 > 0 AND c2 > 0
    """
    out["odds_ratio_ci"] = """
        WITH pc AS (
          SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders
          FROM orders GROUP BY 1),
        jj AS (
          SELECT CASE WHEN COALESCE(pc.n_orders, 0) >= 10
                      THEN 1 ELSE 0 END AS y,
                 CASE WHEN c_acctbal >= 5000.0 THEN 1 ELSE 0 END AS p
          FROM customer c
          LEFT JOIN pc ON c.c_custkey = pc.o_custkey),
        cells0 AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(y) AS BIGINT) AS r1,
                 CAST(sum(p) AS BIGINT) AS c1,
                 CAST(sum(y * p) AS BIGINT) AS a
          FROM jj),
        cells AS (
          SELECT a, r1 - a AS b, c1 - a AS c,
                 n - r1 - c1 + a AS d
          FROM cells0),
        fin AS (
          SELECT *,
            CAST(CAST(a AS HUGEINT) * d AS DOUBLE)
              / CAST(CAST(b AS HUGEINT) * c AS DOUBLE) AS orx,
            sqrt(1.0 / CAST(a AS DOUBLE) + 1.0 / CAST(b AS DOUBLE)
                 + 1.0 / CAST(c AS DOUBLE)
                 + 1.0 / CAST(d AS DOUBLE)) AS se
          FROM cells)
        SELECT a, b, c, d,
          floor(orx * 1e6 + 0.5) / 1e6 AS odds_ratio,
          floor(ln(orx) * 1e6 + 0.5) / 1e6 AS ln_or,
          floor((ln(orx) - 1.96 * se) * 1e6 + 0.5) / 1e6 AS ln_lo,
          floor((ln(orx) + 1.96 * se) * 1e6 + 0.5) / 1e6 AS ln_hi
        FROM fin WHERE a > 0 AND b > 0 AND c > 0 AND d > 0
    """
    out["emb_isotropy"] = """
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb
                   FROM embeddings),
        withn AS (
          SELECT vec_id, emb,
                 sqrt(list_dot_product(emb, emb)) AS nrm
          FROM e WHERE sqrt(list_dot_product(emb, emb)) > 0),
        coords AS (
          SELECT vec_id, generate_subscripts(emb, 1) AS k,
                 CAST(floor(unnest(emb) / nrm * 1000000.0 + 0.5)
                      AS BIGINT) AS q
          FROM withn),
        per_dim AS (
          SELECT k, CAST(sum(q) AS BIGINT) AS s,
                 sum(CAST(q AS HUGEINT) * q) AS qq
          FROM coords GROUP BY 1),
        nv AS (SELECT CAST(count(*) AS BIGINT) AS n FROM withn),
        fin AS (
          SELECT CAST(count(*) AS BIGINT) AS dim,
                 sum(CAST(s AS HUGEINT) * s) AS sum_norm2_q,
                 sum(qq) AS ssq_q
          FROM per_dim)
        SELECT n, dim,
               CAST(sum_norm2_q AS DOUBLE) AS sum_norm2_q,
               CAST(ssq_q AS DOUBLE) AS ssq_q,
          floor(CAST(sum_norm2_q - ssq_q AS DOUBLE) / 1e12
                / CAST(CAST(n AS HUGEINT) * (n - 1) AS DOUBLE)
                * 1e9 + 0.5) / 1e9 AS mean_cos
        FROM fin, nv WHERE n >= 2
    """
    out["jackknife_mean"] = """
        WITH daily AS (
          SELECT date_trunc('day', o_orderdate) AS d,
                 CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                      AS BIGINT) AS r,
                 CAST(count(*) AS BIGINT) AS c
          FROM orders GROUP BY 1),
        agg AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(r) AS BIGINT) AS rr,
                 CAST(sum(c) AS BIGINT) AS cc,
                 CAST(max(c) AS BIGINT) AS maxc,
                 list(struct_pack(r := r, c := c) ORDER BY d) AS xs
          FROM daily),
        s1 AS (
          SELECT *, list_reduce(list_prepend(0.0, list_transform(xs,
                   t -> CAST(rr - t.r AS DOUBLE)
                        / CAST(cc - t.c AS DOUBLE))),
                   (a, b) -> a + b) AS sumloo
          FROM agg),
        s2 AS (
          SELECT *, sumloo / CAST(n AS DOUBLE) AS jm,
            list_reduce(list_prepend(0.0, list_transform(xs,
              t -> (CAST(rr - t.r AS DOUBLE)
                    / CAST(cc - t.c AS DOUBLE)
                    - sumloo / CAST(n AS DOUBLE))
                   * (CAST(rr - t.r AS DOUBLE)
                      / CAST(cc - t.c AS DOUBLE)
                      - sumloo / CAST(n AS DOUBLE)))),
              (a, b) -> a + b) AS ssq
          FROM s1)
        SELECT n AS n_days,
          floor(CAST(rr AS DOUBLE) / CAST(cc AS DOUBLE) / 100.0
                * 1e6 + 0.5) / 1e6 AS theta_usd,
          floor(jm / 100.0 * 1e6 + 0.5) / 1e6 AS jack_mean_usd,
          floor((CAST(n AS DOUBLE) - 1.0)
                * (jm - CAST(rr AS DOUBLE) / CAST(cc AS DOUBLE))
                / 100.0 * 1e6 + 0.5) / 1e6 AS jack_bias_usd,
          floor(sqrt((CAST(n AS DOUBLE) - 1.0) / CAST(n AS DOUBLE)
                     * ssq) / 100.0 * 1e6 + 0.5) / 1e6 AS jack_se_usd
        FROM s2 WHERE n >= 2 AND maxc < cc
    """
    out["permutation_shift"] = """
        WITH daily AS (
          SELECT date_trunc('day', o_orderdate) AS d,
                 CAST(count(*) AS BIGINT) AS y
          FROM orders GROUP BY 1),
        idx AS (
          SELECT d, y,
                 CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS i
          FROM daily),
        tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM idx),
        obs AS (
          SELECT n,
            abs(CAST(sum(CASE WHEN i > n // 2 THEN y END) AS DOUBLE)
                / CAST(sum(CASE WHEN i > n // 2 THEN 1 END)
                       AS DOUBLE)
                - CAST(sum(CASE WHEN i <= n // 2 THEN y END)
                       AS DOUBLE)
                  / CAST(sum(CASE WHEN i <= n // 2 THEN 1 END)
                         AS DOUBLE)) AS obs_diff
          FROM idx, tot GROUP BY n),
        assigned AS (
          SELECT k, y,
                 ('0x' || substr(md5(CAST(k AS VARCHAR) || '|'
                                     || strftime(d, '%Y-%m-%d')),
                                 1, 8))::BIGINT % 2 AS h
          FROM daily, (SELECT unnest(range(1, 201)) AS k) _),
        per_k AS (
          SELECT k,
                 CAST(sum(CASE WHEN h = 0 THEN y END) AS BIGINT) AS s0,
                 CAST(sum(CASE WHEN h = 0 THEN 1 END) AS BIGINT) AS c0,
                 CAST(sum(CASE WHEN h = 1 THEN y END) AS BIGINT) AS s1,
                 CAST(sum(CASE WHEN h = 1 THEN 1 END) AS BIGINT) AS c1
          FROM assigned GROUP BY 1
          HAVING sum(CASE WHEN h = 0 THEN 1 END) > 0
             AND sum(CASE WHEN h = 1 THEN 1 END) > 0),
        counted AS (
          SELECT max(o.n) AS n_days, max(o.obs_diff) AS obs_diff,
                 CAST(count(*) AS BIGINT) AS n_valid,
                 CAST(sum(CASE WHEN
                     abs(CAST(s1 AS DOUBLE) / CAST(c1 AS DOUBLE)
                         - CAST(s0 AS DOUBLE) / CAST(c0 AS DOUBLE))
                     >= o.obs_diff THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_ge
          FROM per_k, obs o)
        SELECT n_days,
          floor(obs_diff * 1e6 + 0.5) / 1e6 AS obs_diff,
          n_valid, n_ge,
          floor(CAST(n_ge + 1 AS DOUBLE)
                / CAST(n_valid + 1 AS DOUBLE) * 1e6 + 0.5) / 1e6
              AS p_value
        FROM counted
    """
    out["growth_accounting"] = """
        WITH um AS (
          SELECT DISTINCT o_custkey AS user_id,
                 CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1
                      AS BIGINT) AS mi
          FROM orders),
        fm AS (SELECT user_id, min(mi) AS first_mi FROM um GROUP BY 1),
        cur AS (
          SELECT u.mi,
                 CASE WHEN u.mi = f.first_mi THEN 'new'
                      WHEN p.user_id IS NOT NULL THEN 'retained'
                      ELSE 'resurrected' END AS cls
          FROM um u
          JOIN fm f ON f.user_id = u.user_id
          LEFT JOIN um p ON p.user_id = u.user_id
                        AND p.mi = u.mi - 1),
        per AS (
          SELECT mi, CAST(count(*) AS BIGINT) AS mau,
                 CAST(sum(CASE WHEN cls = 'new' THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_new,
                 CAST(sum(CASE WHEN cls = 'retained'
                               THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_retained,
                 CAST(sum(CASE WHEN cls = 'resurrected'
                               THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_resurrected
          FROM cur GROUP BY 1),
        churn AS (
          SELECT u.mi + 1 AS mi,
                 CAST(count(*) AS BIGINT) AS n_churned
          FROM um u
          LEFT JOIN um nx ON nx.user_id = u.user_id
                         AND nx.mi = u.mi + 1
          WHERE nx.user_id IS NULL
          GROUP BY 1)
        SELECT CAST(per.mi // 12 AS VARCHAR) || '-'
               || lpad(CAST(per.mi % 12 + 1 AS VARCHAR), 2, '0')
                 AS month,
               mau, n_new, n_retained, n_resurrected,
               COALESCE(churn.n_churned, 0) AS n_churned
        FROM per LEFT JOIN churn ON churn.mi = per.mi
    """
    out["cond_entropy_profile"] = """
        WITH cells AS (
          SELECT source, lang, CAST(count(*) AS BIGINT) AS c
          FROM documents GROUP BY 1, 2),
        src AS (SELECT source, CAST(sum(c) AS BIGINT) AS cs
                FROM cells GROUP BY 1),
        tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cells),
        lang AS (SELECT lang, CAST(sum(c) AS BIGINT) AS cl
                 FROM cells GROUP BY 1),
        larr AS (
          SELECT n,
                 list(struct_pack(lang := lang, cl := cl)
                      ORDER BY lang) AS ls,
                 CAST(count(*) AS BIGINT) AS n_langs
          FROM lang, tot GROUP BY 1),
        carr AS (
          SELECT list(struct_pack(source := cells.source,
                                  lang := cells.lang,
                                  c := cells.c, cs := src.cs)
                      ORDER BY cells.source, cells.lang) AS xs,
                 CAST(count(DISTINCT cells.source) AS BIGINT)
                     AS n_sources
          FROM cells JOIN src ON src.source = cells.source),
        fin AS (
          SELECT n, n_langs, n_sources,
            list_reduce(list_prepend(0.0, list_transform(ls,
              t -> -(CAST(t.cl AS DOUBLE) / CAST(n AS DOUBLE))
                   * ln(CAST(t.cl AS DOUBLE) / CAST(n AS DOUBLE)))),
              (a, b) -> a + b) AS h_lang,
            list_reduce(list_prepend(0.0, list_transform(xs,
              t -> -(CAST(t.c AS DOUBLE) / CAST(n AS DOUBLE))
                   * ln(CAST(t.c AS DOUBLE) / CAST(t.cs AS DOUBLE)))),
              (a, b) -> a + b) AS h_cond
          FROM larr, carr)
        SELECT n AS n_docs, n_langs, n_sources,
          floor(h_lang * 1e6 + 0.5) / 1e6 AS h_lang,
          floor(h_cond * 1e6 + 0.5) / 1e6 AS h_lang_given_source,
          floor((h_lang - h_cond) / h_lang * 1e6 + 0.5) / 1e6
              AS uncertainty_coeff
        FROM fin WHERE n > 0 AND n_langs >= 2
    """
    out["mcc_matthews"] = """
        WITH scored AS (
          SELECT CASE WHEN CAST(floor(list_reduce(list_prepend(0.0,
                   list_transform(embedding, x -> CAST(x AS DOUBLE))),
                   (a, b) -> a + b) * 1e6 + 0.5) AS BIGINT) >= 0
                 THEN 1 ELSE 0 END AS pred,
                 CASE WHEN label = 1 THEN 1 ELSE 0 END AS y
          FROM embeddings),
        cells AS (
          SELECT CAST(sum(pred * y) AS BIGINT) AS tp,
                 CAST(sum(pred * (1 - y)) AS BIGINT) AS fp,
                 CAST(sum((1 - pred) * y) AS BIGINT) AS fn,
                 CAST(sum((1 - pred) * (1 - y)) AS BIGINT) AS tn
          FROM scored),
        fin AS (
          SELECT *,
            CAST(CAST(tp AS HUGEINT) * tn
                 - CAST(fp AS HUGEINT) * fn AS DOUBLE) AS num,
            sqrt(CAST(CAST(tp + fp AS HUGEINT) * (tp + fn)
                      * (tn + fp) * (tn + fn) AS DOUBLE)) AS den
          FROM cells)
        SELECT tp, fp, fn, tn,
          floor(CAST(tp + tn AS DOUBLE)
                / CAST(tp + fp + fn + tn AS DOUBLE) * 1e6 + 0.5)
              / 1e6 AS accuracy,
          floor((2.0 * CAST(tp AS DOUBLE))
                / (2.0 * CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE)
                   + CAST(fn AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS f1,
          floor(num / den * 1e6 + 0.5) / 1e6 AS mcc
        FROM fin WHERE den > 0
    """
    out["wilcoxon_signed_rank"] = """
        WITH daily AS (
          SELECT date_trunc('day', o_orderdate) AS d,
                 CAST(count(*) AS BIGINT) AS y
          FROM orders GROUP BY 1),
        idx AS (
          SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS i,
                 y
          FROM daily),
        tot AS (SELECT CAST(count(*) AS BIGINT) AS m FROM idx),
        diffs AS (
          SELECT abs(b.y - a.y) AS v, b.y - a.y > 0 AS pos
          FROM (SELECT i AS p, y FROM idx, tot WHERE i <= m // 2) a
          JOIN (SELECT i - m // 2 AS p, y FROM idx, tot
                WHERE i > m // 2) b USING (p)
          WHERE b.y - a.y <> 0),
        gv AS (
          SELECT v, CAST(count(*) AS BIGINT) AS cnt,
                 CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END)
                      AS BIGINT) AS npos
          FROM diffs GROUP BY 1),
        sp AS (
          SELECT *, COALESCE(sum(cnt) OVER (ORDER BY v
                     ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING), 0) AS below
          FROM gv),
        agg AS (
          SELECT CAST(sum(cnt) AS BIGINT) AS n,
                 sum(CAST(npos AS HUGEINT)
                     * (2 * below + cnt + 1)) AS w2,
                 sum((CAST(cnt AS HUGEINT) * cnt - 1) * cnt) AS tie3
          FROM sp)
        SELECT n AS n_pairs,
          floor(CAST(w2 AS DOUBLE) / 2.0 * 1e6 + 0.5) / 1e6 AS w_plus,
          floor((CAST(w2 AS DOUBLE) / 2.0
                 - CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)
                   / 4.0)
                / sqrt(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)
                       * (2.0 * CAST(n AS DOUBLE) + 1.0) / 24.0
                       - CAST(tie3 AS DOUBLE) / 48.0)
                * 1e6 + 0.5) / 1e6 AS z
        FROM agg
        WHERE n >= 2
          AND CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)
              * (2.0 * CAST(n AS DOUBLE) + 1.0) / 24.0
              - CAST(tie3 AS DOUBLE) / 48.0 > 0
    """
    out["ansari_bradley"] = """
        WITH d AS (
          SELECT CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END
                   AS in1,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS v
          FROM orders WHERE o_orderstatus IN ('O', 'F')),
        gv AS (SELECT v, CAST(count(*) AS BIGINT) AS cnt,
                      CAST(sum(in1) AS BIGINT) AS c1
               FROM d GROUP BY 1),
        tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS nn,
                       CAST(sum(c1) AS BIGINT) AS n1 FROM gv),
        sp AS (
          SELECT v, cnt, c1,
                 COALESCE(sum(cnt) OVER (ORDER BY v
                     ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING), 0) AS below,
                 nn, n1
          FROM gv, tot),
        sc AS (
          SELECT *, least(2 * below + cnt + 1,
                          2 * (nn + 1) - (2 * below + cnt + 1)) AS s2
          FROM sp),
        agg AS (
          SELECT nn, n1,
                 sum(CAST(c1 AS HUGEINT) * s2) AS ab2,
                 sum(CAST(cnt AS HUGEINT) * s2) AS st2,
                 sum(CAST(cnt AS HUGEINT) * s2 * s2) AS sq4
          FROM sc GROUP BY 1, 2),
        fin AS (
          SELECT nn, n1,
                 CAST(ab2 AS DOUBLE) / 2.0 AS ab,
                 CAST(st2 AS DOUBLE) / 2.0 / CAST(nn AS DOUBLE)
                   AS sbar,
                 CAST(sq4 AS DOUBLE) / 4.0
                 - CAST(nn AS DOUBLE)
                   * (CAST(st2 AS DOUBLE) / 2.0 / CAST(nn AS DOUBLE))
                   * (CAST(st2 AS DOUBLE) / 2.0 / CAST(nn AS DOUBLE))
                   AS ssq
          FROM agg)
        SELECT nn AS n_rows, n1 AS n_group1,
          floor(ab * 1e6 + 0.5) / 1e6 AS ab_stat,
          floor((ab - CAST(n1 AS DOUBLE) * sbar)
                / sqrt(CAST(n1 AS DOUBLE)
                       * CAST(nn - n1 AS DOUBLE) * ssq
                       / (CAST(nn AS DOUBLE)
                          * (CAST(nn AS DOUBLE) - 1.0)))
                * 1e6 + 0.5) / 1e6 AS z
        FROM fin WHERE n1 >= 1 AND n1 < nn AND ssq > 0
    """
    out["kendalls_w"] = """
        WITH cells AS (
          SELECT dayofweek(ts) + 1 AS j, event_type AS it,
                 CAST(count(*) AS BIGINT) AS c
          FROM events GROUP BY 1, 2),
        judges AS (SELECT DISTINCT j FROM cells),
        items AS (SELECT DISTINCT it FROM cells),
        full0 AS (
          SELECT judges.j, items.it, COALESCE(cells.c, 0) AS c
          FROM judges CROSS JOIN items
          LEFT JOIN cells ON cells.j = judges.j
                         AND cells.it = items.it),
        perv AS (
          SELECT j, c, CAST(count(*) AS BIGINT) AS cnt
          FROM full0 GROUP BY 1, 2),
        wj AS (
          SELECT *, COALESCE(sum(cnt) OVER (PARTITION BY j ORDER BY c
                     ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING), 0) AS below
          FROM perv),
        ranked AS (
          SELECT f.j, f.it,
                 2 * w.below + w.cnt + 1 AS r2
          FROM full0 f JOIN wj w ON w.j = f.j AND w.c = f.c),
        dims AS (
          SELECT CAST(count(DISTINCT j) AS BIGINT) AS m,
                 CAST(count(DISTINCT it) AS BIGINT) AS k
          FROM ranked),
        per_item AS (
          SELECT it, CAST(sum(r2) AS BIGINT) AS r2sum
          FROM ranked GROUP BY 1),
        ties AS (
          SELECT sum(tj) AS tt FROM (
            SELECT j, sum((CAST(cnt AS HUGEINT) * cnt - 1) * cnt)
                     AS tj
            FROM perv GROUP BY 1)),
        s4 AS (
          SELECT sum((CAST(r2sum AS HUGEINT) - m * (k + 1))
                     * (CAST(r2sum AS HUGEINT) - m * (k + 1)))
                   AS s4,
                 max(m) AS m, max(k) AS k
          FROM per_item, dims)
        SELECT m AS n_judges, k AS n_items,
          floor(12.0 * (CAST(s4 AS DOUBLE) / 4.0)
                / (CAST(m AS DOUBLE) * CAST(m AS DOUBLE)
                   * (CAST(k AS DOUBLE) * CAST(k AS DOUBLE)
                      * CAST(k AS DOUBLE) - CAST(k AS DOUBLE))
                   - CAST(m AS DOUBLE) * CAST(tt AS DOUBLE))
                * 1e6 + 0.5) / 1e6 AS kendalls_w
        FROM s4, ties
        WHERE k >= 2
          AND CAST(m AS DOUBLE) * CAST(m AS DOUBLE)
              * (CAST(k AS DOUBLE) * CAST(k AS DOUBLE)
                 * CAST(k AS DOUBLE) - CAST(k AS DOUBLE))
              - CAST(m AS DOUBLE) * CAST(tt AS DOUBLE) > 0
    """
    out["cronbach_alpha"] = """
        WITH cells AS (
          SELECT event_type AS it, CAST(ts AS DATE) AS d,
                 CAST(count(*) AS BIGINT) AS c
          FROM events GROUP BY 1, 2),
        days AS (SELECT DISTINCT d FROM cells),
        items AS (SELECT DISTINCT it FROM cells),
        full0 AS (
          SELECT items.it, days.d, COALESCE(cells.c, 0) AS c
          FROM items CROSS JOIN days
          LEFT JOIN cells ON cells.it = items.it
                         AND cells.d = days.d),
        per_item AS (
          SELECT it, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(c) AS BIGINT) AS s,
                 sum(CAST(c AS HUGEINT) * c) AS q
          FROM full0 GROUP BY 1),
        item_var AS (
          SELECT CAST(count(*) AS BIGINT) AS k, max(n) AS n,
                 sum(CAST(n AS HUGEINT) * q
                     - CAST(s AS HUGEINT) * s) AS vsum_num
          FROM per_item),
        daily_tot AS (
          SELECT d, CAST(sum(c) AS BIGINT) AS t
          FROM full0 GROUP BY 1),
        tot_var AS (
          SELECT CAST(count(*) AS HUGEINT)
                   * sum(CAST(t AS HUGEINT) * t)
                 - CAST(sum(t) AS HUGEINT) * sum(t) AS vtot_num
          FROM daily_tot)
        SELECT k AS n_items, n AS n_days,
          floor(CAST(k AS DOUBLE) / (CAST(k AS DOUBLE) - 1.0)
                * (1.0 - CAST(vsum_num AS DOUBLE)
                         / CAST(vtot_num AS DOUBLE))
                * 1e6 + 0.5) / 1e6 AS cronbach_alpha
        FROM item_var, tot_var
        WHERE k >= 2 AND n >= 2 AND vtot_num > 0
    """
    out["moran_geary"] = """
        WITH e0 AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                    FROM lineitem),
        edges AS (SELECT x.pk AS a, y.pk AS b, count(*) AS w
                  FROM e0 x JOIN e0 y ON x.ok = y.ok AND x.pk < y.pk
                  GROUP BY 1, 2 HAVING count(*) >= 2),
        vals AS (
          SELECT l_partkey AS node,
                 CAST(sum(CAST(round(l_extendedprice * (1 - l_discount)
                               * 10000) AS BIGINT)) AS BIGINT) AS x
          FROM lineitem GROUP BY 1),
        nodes AS (SELECT DISTINCT a AS node FROM edges
                  UNION SELECT DISTINCT b FROM edges),
        xv AS (SELECT n.node, v.x
               FROM nodes n JOIN vals v ON v.node = n.node),
        agg AS (SELECT CAST(count(*) AS BIGINT) AS n,
                       CAST(sum(x) AS BIGINT) AS s FROM xv),
        nz AS (SELECT node, n,
                      CAST(n AS HUGEINT) * x - s AS nz
               FROM xv, agg),
        ssq AS (SELECT max(n) AS n, sum(nz * nz) AS ssq FROM nz),
        esum AS (
          SELECT CAST(count(*) AS BIGINT) AS n_edges,
                 sum(za.nz * zb.nz) AS crossp,
                 sum((za.nz - zb.nz) * (za.nz - zb.nz)) AS sqdiff
          FROM edges
          JOIN nz za ON za.node = edges.a
          JOIN nz zb ON zb.node = edges.b)
        SELECT n AS n_nodes, n_edges,
          floor(CAST(n AS DOUBLE) / (2.0 * CAST(n_edges AS DOUBLE))
                * (2.0 * CAST(crossp AS DOUBLE)
                   / CAST(ssq AS DOUBLE)) * 1e6 + 0.5) / 1e6
              AS moran_i,
          floor((CAST(n AS DOUBLE) - 1.0)
                / (4.0 * CAST(n_edges AS DOUBLE))
                * (2.0 * CAST(sqdiff AS DOUBLE)
                   / CAST(ssq AS DOUBLE)) * 1e6 + 0.5) / 1e6
              AS geary_c
        FROM esum, ssq
        WHERE n >= 2 AND n_edges >= 1 AND ssq > 0
    """
    out["anova_effect_sizes"] = """
        WITH g AS (
          SELECT o_orderpriority AS p, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                      AS BIGINT) AS s,
                 sum(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                          AS HUGEINT)
                     * CAST(round(o_totalprice * 100) AS BIGINT)) AS q
          FROM orders GROUP BY 1),
        arr AS (
          SELECT list(struct_pack(p := p, n := n, s := s)
                      ORDER BY p) AS gs,
                 CAST(sum(n) AS BIGINT) AS nn,
                 CAST(sum(s) AS BIGINT) AS ss,
                 sum(q) AS qq,
                 CAST(count(*) AS BIGINT) AS k
          FROM g),
        fin AS (
          SELECT nn, k,
            list_reduce(list_prepend(0.0, list_transform(gs,
              t -> CAST(CAST(t.s AS HUGEINT) * t.s AS DOUBLE)
                   / CAST(t.n AS DOUBLE))), (a, b) -> a + b)
              AS between_raw,
            CAST(CAST(ss AS HUGEINT) * ss AS DOUBLE)
              / CAST(nn AS DOUBLE) AS grand,
            CAST(qq AS DOUBLE) AS qqd
          FROM arr)
        SELECT k AS n_groups, nn AS n_rows,
          floor((between_raw - grand) / (qqd - grand) * 1e6 + 0.5)
              / 1e6 AS eta_sq,
          floor(((between_raw - grand)
                 - (CAST(k AS DOUBLE) - 1.0)
                   * ((qqd - between_raw)
                      / (CAST(nn AS DOUBLE) - CAST(k AS DOUBLE))))
                / ((qqd - grand)
                   + (qqd - between_raw)
                     / (CAST(nn AS DOUBLE) - CAST(k AS DOUBLE)))
                * 1e6 + 0.5) / 1e6 AS omega_sq
        FROM fin
        WHERE k >= 2 AND nn > k AND qqd - grand > 0
    """
    out["bh_fdr"] = """
        WITH RECURSIVE pc AS MATERIALIZED (
          SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders
          FROM orders GROUP BY 1),
        jj AS MATERIALIZED (
          SELECT nt.n_name AS nation,
                 CASE WHEN COALESCE(pc.n_orders, 0) >= 10
                      THEN 1 ELSE 0 END AS y,
                 CASE WHEN c_acctbal >= 5000.0 THEN 1 ELSE 0 END AS p
          FROM customer c
          LEFT JOIN pc ON c.c_custkey = pc.o_custkey
          JOIN nation nt ON nt.n_nationkey = c.c_nationkey),
        cells AS MATERIALIZED (
          SELECT nation, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(y) AS BIGINT) AS r1,
                 CAST(sum(p) AS BIGINT) AS c1,
                 CAST(sum(y * p) AS BIGINT) AS k_obs
          FROM jj GROUP BY 1),
        base AS MATERIALIZED (
          SELECT *,
                 greatest(CAST(0 AS BIGINT), r1 + c1 - n) AS kmin,
                 least(r1, c1) AS kmax,
                 greatest(greatest(CAST(0 AS BIGINT), r1 + c1 - n),
                          least(least(r1, c1),
                                (r1 + 1) * (c1 + 1) // (n + 2)))
                     AS kmode
          FROM cells
          WHERE r1 > 0 AND r1 < n AND c1 > 0 AND c1 < n),
        obs AS (
          SELECT nation, kmode AS k, CAST(1.0 AS DOUBLE) AS cur
          FROM base
          UNION ALL
          SELECT o.nation,
                 CASE WHEN b.k_obs > o.k THEN o.k + 1 ELSE o.k - 1 END,
                 CASE WHEN b.k_obs > o.k
                      THEN o.cur
                           * CAST((b.r1 - o.k) * (b.c1 - o.k) AS DOUBLE)
                           / CAST((o.k + 1)
                                  * (b.n - b.r1 - b.c1 + o.k + 1)
                                  AS DOUBLE)
                      ELSE o.cur
                           / (CAST((b.r1 - (o.k - 1))
                                   * (b.c1 - (o.k - 1)) AS DOUBLE)
                              / CAST(((o.k - 1) + 1)
                                     * (b.n - b.r1 - b.c1
                                        + (o.k - 1) + 1) AS DOUBLE))
                 END
          FROM obs o JOIN base b ON b.nation = o.nation
          WHERE o.k <> b.k_obs),
        relobs AS MATERIALIZED (
          SELECT o.nation, o.cur AS rel_obs
          FROM obs o JOIN base b ON b.nation = o.nation
          WHERE o.k = b.k_obs),
        up AS (
          SELECT b.nation, b.kmode AS k, CAST(1.0 AS DOUBLE) AS cur,
                 CAST(1.0 AS DOUBLE) AS s_all,
                 CASE WHEN 1.0 <= r.rel_obs * (1.0 + 1e-7)
                      THEN CAST(1.0 AS DOUBLE)
                      ELSE CAST(0.0 AS DOUBLE) END AS s_le
          FROM base b JOIN relobs r ON r.nation = b.nation
          UNION ALL
          SELECT u.nation, u.k + 1, x.nxt, u.s_all + x.nxt,
                 u.s_le + CASE WHEN x.nxt <= r.rel_obs * (1.0 + 1e-7)
                               THEN x.nxt ELSE 0.0 END
          FROM up u
          JOIN base b ON b.nation = u.nation
          JOIN relobs r ON r.nation = u.nation,
               LATERAL (SELECT u.cur
                        * CAST((b.r1 - u.k) * (b.c1 - u.k) AS DOUBLE)
                        / CAST((u.k + 1)
                               * (b.n - b.r1 - b.c1 + u.k + 1)
                               AS DOUBLE) AS nxt) x
          WHERE u.k < b.kmax),
        down AS (
          SELECT b.nation, b.kmode AS k, CAST(1.0 AS DOUBLE) AS cur,
                 CAST(0.0 AS DOUBLE) AS s_all,
                 CAST(0.0 AS DOUBLE) AS s_le
          FROM base b
          UNION ALL
          SELECT d.nation, d.k - 1, x.nxt, d.s_all + x.nxt,
                 d.s_le + CASE WHEN x.nxt <= r.rel_obs * (1.0 + 1e-7)
                               THEN x.nxt ELSE 0.0 END
          FROM down d
          JOIN base b ON b.nation = d.nation
          JOIN relobs r ON r.nation = d.nation,
               LATERAL (SELECT d.cur
                        / (CAST((b.r1 - (d.k - 1))
                                * (b.c1 - (d.k - 1)) AS DOUBLE)
                           / CAST(((d.k - 1) + 1)
                                  * (b.n - b.r1 - b.c1
                                     + (d.k - 1) + 1) AS DOUBLE))
                          AS nxt) x
          WHERE d.k > b.kmin),
        ufin AS (SELECT u.nation, u.s_all, u.s_le
                 FROM up u JOIN base b ON b.nation = u.nation
                 WHERE u.k = b.kmax),
        dfin AS (SELECT d.nation, d.s_all, d.s_le
                 FROM down d JOIN base b ON b.nation = d.nation
                 WHERE d.k = b.kmin),
        pv AS (
          SELECT b.nation, b.n, b.k_obs,
                 (u.s_le + d.s_le) / (u.s_all + d.s_all) AS p_raw
          FROM base b
          JOIN ufin u ON u.nation = b.nation
          JOIN dfin d ON d.nation = b.nation),
        mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM pv),
        ranked AS (
          SELECT pv.*, mm.m,
                 CAST(row_number() OVER (ORDER BY p_raw ASC,
                                         nation ASC) AS BIGINT)
                     AS rnk
          FROM pv, mm),
        fin AS (
          SELECT *, max(CASE WHEN p_raw * CAST(m AS DOUBLE)
                                  <= CAST(rnk AS DOUBLE) * 0.1
                             THEN rnk END) OVER () AS k_max
          FROM ranked)
        SELECT nation, n, k_obs,
          floor(p_raw * 1e6 + 0.5) / 1e6 AS p_two_sided,
          rnk AS rank,
          COALESCE(rnk <= k_max, FALSE) AS rejected
        FROM fin
    """
    out["page_trend_l"] = """
        WITH cells AS (
          SELECT year(o_orderdate) AS j, month(o_orderdate) AS it,
                 CAST(count(*) AS BIGINT) AS c
          FROM orders GROUP BY 1, 2),
        years AS (SELECT DISTINCT j FROM cells),
        months AS (SELECT CAST(unnest(range(1, 13)) AS INTEGER)
                     AS it),
        full0 AS (
          SELECT years.j, months.it, COALESCE(cells.c, 0) AS c
          FROM years CROSS JOIN months
          LEFT JOIN cells ON cells.j = years.j
                         AND cells.it = months.it),
        perv AS (
          SELECT j, c, CAST(count(*) AS BIGINT) AS cnt
          FROM full0 GROUP BY 1, 2),
        wj AS (
          SELECT *, COALESCE(sum(cnt) OVER (PARTITION BY j ORDER BY c
                     ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING), 0) AS below
          FROM perv),
        ranked AS (
          SELECT f.j, f.it, 2 * w.below + w.cnt + 1 AS r2
          FROM full0 f JOIN wj w ON w.j = f.j AND w.c = f.c),
        agg AS (
          SELECT CAST(count(DISTINCT j) AS BIGINT) AS m,
                 sum(CAST(it AS HUGEINT) * r2) AS l2
          FROM ranked)
        SELECT m AS n_years, CAST(12 AS BIGINT) AS n_months,
          floor(CAST(l2 AS DOUBLE) / 2.0 * 1e6 + 0.5) / 1e6
              AS l_stat,
          floor((CAST(l2 AS DOUBLE) / 2.0
                 - CAST(m AS DOUBLE) * 12.0 * 13.0 * 13.0 / 4.0)
                / sqrt(CAST(m AS DOUBLE) * 144.0 * 13.0 * 143.0
                       / 144.0)
                * 1e6 + 0.5) / 1e6 AS z
        FROM agg WHERE m >= 1
    """
    out["cox_mantel_hr"] = """
        WITH d0 AS (SELECT event_type AS g, user_id,
                           CAST(ts AS DATE) AS day FROM events
                    WHERE ts IS NOT NULL),
        ul AS (SELECT g, user_id, min(day) AS f, max(day) AS l
               FROM d0 GROUP BY 1, 2),
        bounds AS (SELECT min(f) AS mn, max(l) AS mx FROM ul),
        sparse AS (
          SELECT g, day, CAST(sum(s) AS BIGINT) AS s,
                 CAST(sum(d) AS BIGINT) AS d
          FROM (
            SELECT g, f AS day, 1 AS s, 0 AS d FROM ul
            UNION ALL
            SELECT g, l, 0,
                   CASE WHEN l < (SELECT mx FROM bounds)
                        THEN 1 ELSE 0 END
            FROM ul)
          GROUP BY 1, 2),
        cal AS (
          SELECT gg.g,
                 CAST(unnest(generate_series(CAST(b.mn AS TIMESTAMP),
                        CAST(b.mx AS TIMESTAMP),
                        INTERVAL 1 DAY)) AS DATE) AS day
          FROM (SELECT DISTINCT g FROM sparse) gg CROSS JOIN bounds b),
        f AS (SELECT cal.g, cal.day, COALESCE(sp.s, 0) AS s,
                     COALESCE(sp.d, 0) AS d
              FROM cal LEFT JOIN sparse sp
                ON sp.g = cal.g AND sp.day = cal.day),
        nd AS (SELECT g, day, d,
                      sum(s) OVER (PARTITION BY g ORDER BY day)
                      - COALESCE(sum(d) OVER (PARTITION BY g ORDER BY day
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING), 0) AS n
               FROM f),
        p AS (SELECT a.g AS g1, b.g AS g2, a.day,
                     a.n AS n1, a.d AS d1, b.n AS n2, b.d AS d2
              FROM nd a JOIN nd b ON a.day = b.day AND a.g < b.g),
        t AS (SELECT g1, g2, day, d1, d2,
                     CAST(d1 + d2 AS DOUBLE) * n1 / (n1 + n2)
                       AS e1_term,
                     CAST(d1 + d2 AS DOUBLE) * n2 / (n1 + n2)
                       AS e2_term
              FROM p
              WHERE d1 + d2 > 0 AND n1 + n2 >= 2
                AND n1 > 0 AND n2 > 0),
        fd AS (SELECT g1, g2,
                      CAST(sum(d1) AS BIGINT) AS o1,
                      CAST(sum(d2) AS BIGINT) AS o2,
                      list_reduce(list_prepend(0.0,
                        list(e1_term ORDER BY day)),
                        (a, b) -> a + b) AS e1,
                      list_reduce(list_prepend(0.0,
                        list(e2_term ORDER BY day)),
                        (a, b) -> a + b) AS e2
               FROM t GROUP BY 1, 2)
        SELECT g1, g2, o1, o2,
          floor(e1 * 1e6 + 0.5) / 1e6 AS e1,
          floor(e2 * 1e6 + 0.5) / 1e6 AS e2,
          floor((CAST(o1 AS DOUBLE) / e1) / (CAST(o2 AS DOUBLE) / e2)
                * 1e6 + 0.5) / 1e6 AS hazard_ratio,
          floor(ln((CAST(o1 AS DOUBLE) / e1)
                   / (CAST(o2 AS DOUBLE) / e2)) * 1e6 + 0.5) / 1e6
              AS ln_hr
        FROM fd
        WHERE o1 > 0 AND o2 > 0 AND e1 > 0 AND e2 > 0
    """
    out["brunner_munzel"] = """
        WITH d AS (
          SELECT CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END
                   AS in1,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS v
          FROM orders WHERE o_orderstatus IN ('O', 'F')),
        gv AS (SELECT v, CAST(count(*) AS BIGINT) AS cnt,
                      CAST(sum(in1) AS BIGINT) AS c1
               FROM d GROUP BY 1),
        sp AS (
          SELECT v, cnt, c1, cnt - c1 AS c2,
                 COALESCE(sum(cnt) OVER (ORDER BY v
                     ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING), 0) AS below,
                 COALESCE(sum(c1) OVER (ORDER BY v
                     ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING), 0) AS below1,
                 COALESCE(sum(cnt - c1) OVER (ORDER BY v
                     ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING), 0) AS below2
          FROM gv),
        agg AS (
          SELECT CAST(sum(c1) AS BIGINT) AS n1,
                 CAST(sum(c2) AS BIGINT) AS n2,
                 sum(CAST(c1 AS HUGEINT)
                     * (2 * below + cnt + 1)) AS sr1,
                 sum(CAST(c2 AS HUGEINT)
                     * (2 * below + cnt + 1)) AS sr2,
                 sum(CAST(c1 AS HUGEINT)
                     * ((2 * below + cnt + 1)
                        - (2 * below1 + c1 + 1))) AS sx1,
                 sum(CAST(c2 AS HUGEINT)
                     * ((2 * below + cnt + 1)
                        - (2 * below2 + c2 + 1))) AS sx2,
                 sum(CAST(c1 AS HUGEINT)
                     * CAST((2 * below + cnt + 1)
                            - (2 * below1 + c1 + 1) AS HUGEINT)
                     * ((2 * below + cnt + 1)
                        - (2 * below1 + c1 + 1))) AS q1,
                 sum(CAST(c2 AS HUGEINT)
                     * CAST((2 * below + cnt + 1)
                            - (2 * below2 + c2 + 1) AS HUGEINT)
                     * ((2 * below + cnt + 1)
                        - (2 * below2 + c2 + 1))) AS q2
          FROM sp),
        fin AS (
          SELECT n1, n2,
            CAST(CAST(n1 AS HUGEINT) * q1 - sx1 * sx1 AS DOUBLE)
              / (4.0 * CAST(n1 AS DOUBLE)
                 * (CAST(n1 AS DOUBLE) - 1.0)) AS s1sq,
            CAST(CAST(n2 AS HUGEINT) * q2 - sx2 * sx2 AS DOUBLE)
              / (4.0 * CAST(n2 AS DOUBLE)
                 * (CAST(n2 AS DOUBLE) - 1.0)) AS s2sq,
            CAST(sr1 AS DOUBLE) / (2.0 * CAST(n1 AS DOUBLE)) AS rbar1,
            CAST(sr2 AS DOUBLE) / (2.0 * CAST(n2 AS DOUBLE)) AS rbar2
          FROM agg)
        SELECT n1, n2,
          floor((rbar2 - (CAST(n2 AS DOUBLE) + 1.0) / 2.0)
                / CAST(n1 AS DOUBLE) * 1e6 + 0.5) / 1e6 AS p_hat,
          floor(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                * (rbar2 - rbar1)
                / ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                   * sqrt(CAST(n1 AS DOUBLE) * s1sq
                          + CAST(n2 AS DOUBLE) * s2sq))
                * 1e6 + 0.5) / 1e6 AS w_stat
        FROM fin
        WHERE n1 >= 2 AND n2 >= 2
          AND CAST(n1 AS DOUBLE) * s1sq
              + CAST(n2 AS DOUBLE) * s2sq > 0
    """
    _gesd_blocks = [
        """r0 AS (
          SELECT date_trunc('day', o_orderdate) AS d,
                 CAST(count(*) AS BIGINT) AS y
          FROM orders GROUP BY 1)"""
    ]
    _gesd_rows = []
    for _i in range(1, 6):
        _gesd_blocks.append(f"""m{_i} AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(y) AS BIGINT) AS s,
                 sum(CAST(y AS HUGEINT) * y) AS q
          FROM r{_i - 1}),
        sc{_i} AS (
          SELECT d, y, n, s, q,
                 abs(CAST(n AS HUGEINT) * y - s) AS dev
          FROM r{_i - 1}, m{_i}),
        sel{_i} AS (SELECT * FROM sc{_i}
                    ORDER BY dev DESC, d ASC LIMIT 1),
        r{_i} AS (SELECT r.d, r.y FROM r{_i - 1} r, sel{_i}
                  WHERE r.d <> sel{_i}.d)""")
        _gesd_rows.append(f"""
          SELECT CAST({_i} AS BIGINT) AS round,
                 strftime(d, '%Y-%m-%d') AS day, y AS cnt,
            floor(CAST(dev AS DOUBLE)
                  / (CAST(n AS DOUBLE)
                     * sqrt(CAST(CAST(n AS HUGEINT) * q
                                 - CAST(s AS HUGEINT) * s AS DOUBLE)
                            / (CAST(n AS DOUBLE)
                               * CAST(n - 1 AS DOUBLE))))
                  * 1e6 + 0.5) / 1e6 AS r_stat
          FROM sel{_i}
          WHERE n >= 3
            AND CAST(n AS HUGEINT) * q - CAST(s AS HUGEINT) * s > 0
        """)
    out["gesd_outliers"] = (
        "WITH "
        + ",\n        ".join(_gesd_blocks)
        + " "
        + " UNION ALL ".join(_gesd_rows)
    )
    out["pacf_daily"] = """
        WITH daily AS (
          SELECT date_trunc('day', o_orderdate) AS d,
                 CAST(count(*) AS BIGINT) AS y
          FROM orders GROUP BY 1),
        m AS (SELECT CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(y) AS BIGINT) AS s FROM daily),
        lagged AS (
          SELECT y,
                 lag(y, 1) OVER (ORDER BY d) AS l1,
                 lag(y, 2) OVER (ORDER BY d) AS l2,
                 lag(y, 3) OVER (ORDER BY d) AS l3,
                 lag(y, 4) OVER (ORDER BY d) AS l4,
                 lag(y, 5) OVER (ORDER BY d) AS l5,
                 n, s
          FROM daily, m),
        sums AS (
          SELECT max(n) AS n,
            sum((CAST(n AS HUGEINT) * y - s)
                * (CAST(n AS HUGEINT) * y - s)) AS g0,
            sum(CASE WHEN l1 IS NOT NULL THEN
                (CAST(n AS HUGEINT) * y - s)
                * (CAST(n AS HUGEINT) * l1 - s) END) AS g1,
            sum(CASE WHEN l2 IS NOT NULL THEN
                (CAST(n AS HUGEINT) * y - s)
                * (CAST(n AS HUGEINT) * l2 - s) END) AS g2,
            sum(CASE WHEN l3 IS NOT NULL THEN
                (CAST(n AS HUGEINT) * y - s)
                * (CAST(n AS HUGEINT) * l3 - s) END) AS g3,
            sum(CASE WHEN l4 IS NOT NULL THEN
                (CAST(n AS HUGEINT) * y - s)
                * (CAST(n AS HUGEINT) * l4 - s) END) AS g4,
            sum(CASE WHEN l5 IS NOT NULL THEN
                (CAST(n AS HUGEINT) * y - s)
                * (CAST(n AS HUGEINT) * l5 - s) END) AS g5
          FROM lagged),
        rr AS (
          SELECT n, g0,
                 CAST(g1 AS DOUBLE) / CAST(g0 AS DOUBLE) AS r1,
                 CAST(g2 AS DOUBLE) / CAST(g0 AS DOUBLE) AS r2,
                 CAST(g3 AS DOUBLE) / CAST(g0 AS DOUBLE) AS r3,
                 CAST(g4 AS DOUBLE) / CAST(g0 AS DOUBLE) AS r4,
                 CAST(g5 AS DOUBLE) / CAST(g0 AS DOUBLE) AS r5
          FROM sums),
        d1 AS (SELECT *, r1 AS p11, 1.0 - r1 * r1 AS v1 FROM rr),
        d2 AS (SELECT *, (r2 - p11 * r1) / v1 AS p22 FROM d1),
        d2b AS (SELECT *, p11 - p22 * p11 AS p21,
                       v1 * (1.0 - p22 * p22) AS v2 FROM d2),
        d3 AS (SELECT *, (r3 - p21 * r2 - p22 * r1) / v2 AS p33
               FROM d2b),
        d3b AS (SELECT *, p21 - p33 * p22 AS p31,
                       p22 - p33 * p21 AS p32,
                       v2 * (1.0 - p33 * p33) AS v3 FROM d3),
        d4 AS (SELECT *, (r4 - p31 * r3 - p32 * r2 - p33 * r1) / v3
                   AS p44 FROM d3b),
        d4b AS (SELECT *, p31 - p44 * p33 AS p41,
                       p32 - p44 * p32 AS p42,
                       p33 - p44 * p31 AS p43,
                       v3 * (1.0 - p44 * p44) AS v4 FROM d4),
        d5 AS (SELECT *, (r5 - p41 * r4 - p42 * r3 - p43 * r2
                          - p44 * r1) / v4 AS p55 FROM d4b)
        SELECT n AS n_days,
          floor(r1 * 1e6 + 0.5) / 1e6 AS acf_1,
          floor(r2 * 1e6 + 0.5) / 1e6 AS acf_2,
          floor(r3 * 1e6 + 0.5) / 1e6 AS acf_3,
          floor(r4 * 1e6 + 0.5) / 1e6 AS acf_4,
          floor(r5 * 1e6 + 0.5) / 1e6 AS acf_5,
          floor(p11 * 1e6 + 0.5) / 1e6 AS pacf_1,
          floor(p22 * 1e6 + 0.5) / 1e6 AS pacf_2,
          floor(p33 * 1e6 + 0.5) / 1e6 AS pacf_3,
          floor(p44 * 1e6 + 0.5) / 1e6 AS pacf_4,
          floor(p55 * 1e6 + 0.5) / 1e6 AS pacf_5
        FROM d5
        WHERE n > 10 AND g0 > 0 AND v1 > 0 AND v2 > 0 AND v3 > 0
          AND v4 > 0
    """
    _pg_rows = []
    for _p in (7, 30):
        _pg_rows.append(f"""
          SELECT CAST({_p} AS BIGINT) AS period, n AS n_days,
                 CAST(cm AS DOUBLE) AS c_milli,
                 CAST(sm AS DOUBLE) AS s_milli,
            floor(sqrt(CAST(cm AS DOUBLE) * CAST(cm AS DOUBLE)
                       + CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE))
                  / (1e3 * sqrt(CAST(ssq AS DOUBLE)))
                  * 1e6 + 0.5) / 1e6 AS strength
          FROM (
            SELECT max(n) AS n,
              sum(CAST(floor(CAST(CAST(n AS HUGEINT) * y - s
                                  AS DOUBLE)
                             * sin(6.283185307179586
                                   * CAST(t AS DOUBLE) / {float(_p)!r}
                                   + 1.5707963267948966)
                             * 1e3 + 0.5) AS HUGEINT)) AS cm,
              sum(CAST(floor(CAST(CAST(n AS HUGEINT) * y - s
                                  AS DOUBLE)
                             * sin(6.283185307179586
                                   * CAST(t AS DOUBLE)
                                   / {float(_p)!r})
                             * 1e3 + 0.5) AS HUGEINT)) AS sm,
              sum((CAST(n AS HUGEINT) * y - s)
                  * (CAST(n AS HUGEINT) * y - s)) AS ssq
            FROM idx)
          WHERE n >= 2 * {_p} AND ssq > 0
        """)
    out["periodogram_peaks"] = (
        """
        WITH daily AS (
          SELECT date_trunc('day', o_orderdate) AS d,
                 CAST(count(*) AS BIGINT) AS y
          FROM orders GROUP BY 1),
        m AS (SELECT CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(y) AS BIGINT) AS s FROM daily),
        idx AS (
          SELECT CAST(row_number() OVER (ORDER BY d) - 1 AS BIGINT)
                   AS t,
                 y, n, s
          FROM daily, m)
        """
        + " UNION ALL ".join(_pg_rows)
    )
    # ------------------------------------------------ round-9 oracles
    out["jarque_bera"] = """
        WITH d AS (SELECT CAST(round(o_totalprice) AS BIGINT) AS x
                   FROM orders),
        m1 AS (SELECT CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(CAST(x AS HUGEINT)) AS BIGINT) AS s1
               FROM d),
        m1c AS (SELECT n, s1, (2 * s1 + n) // (2 * n) AS c FROM m1),
        t AS (SELECT max(n) AS n,
                     CAST(max(s1) - max(n) * max(c) AS BIGINT) AS e,
                     sum(CAST(x - c AS HUGEINT) * (x - c)) AS t2,
                     sum(CAST(x - c AS HUGEINT) * (x - c) * (x - c))
                       AS t3,
                     sum(CAST(x - c AS HUGEINT) * (x - c) * (x - c)
                         * (x - c)) AS t4
              FROM d, m1c),
        f AS (SELECT n, t2,
                     CAST(e AS DOUBLE) AS ed, CAST(n AS DOUBLE) AS nd,
                     CAST(t2 AS DOUBLE) AS t2d,
                     CAST(t3 AS DOUBLE) AS t3d,
                     CAST(t4 AS DOUBLE) AS t4d
              FROM t),
        g AS (SELECT n, t2, nd,
                     (t2d - ed * ed / nd) / nd AS m2,
                     (t3d - 3.0 * ed * t2d / nd
                      + 2.0 * ed * ed * ed / (nd * nd)) / nd AS m3,
                     (t4d - 4.0 * ed * t3d / nd
                      + 6.0 * ed * ed * t2d / (nd * nd)
                      - 3.0 * ed * ed * ed * ed / (nd * nd * nd)) / nd
                       AS m4
              FROM f),
        h AS (SELECT n, t2, nd,
                     m3 / (m2 * sqrt(m2)) AS g1,
                     m4 / (m2 * m2) - 3.0 AS g2
              FROM g)
        SELECT n,
               floor(g1 * 1e6 + 0.5) / 1e6 AS skewness,
               floor(g2 * 1e6 + 0.5) / 1e6 AS ex_kurtosis,
               floor(nd / 6.0 * (g1 * g1 + g2 * g2 / 4.0) * 1e6 + 0.5)
                 / 1e6 AS jb_stat
        FROM h WHERE n >= 4 AND t2 > 0
    """
    out["turning_point"] = """
        WITH daily AS (
          SELECT date_trunc('day', o_orderdate) AS d,
                 CAST(count(*) AS BIGINT) AS y
          FROM orders GROUP BY 1),
        t AS (SELECT y, lag(y) OVER (ORDER BY d) AS p,
                     lead(y) OVER (ORDER BY d) AS q
              FROM daily),
        agg AS (SELECT CAST(count(*) AS BIGINT) AS n,
                       CAST(sum(CASE WHEN p IS NOT NULL
                                      AND q IS NOT NULL
                                      AND ((p < y AND y > q)
                                           OR (p > y AND y < q))
                                THEN 1 ELSE 0 END) AS BIGINT) AS t_obs
                FROM t)
        SELECT n AS n_days, t_obs,
          floor(2.0 * (CAST(n AS DOUBLE) - 2.0) / 3.0 * 1e6 + 0.5)
            / 1e6 AS expected,
          floor((CAST(t_obs AS DOUBLE)
                 - 2.0 * (CAST(n AS DOUBLE) - 2.0) / 3.0)
                / sqrt((16.0 * CAST(n AS DOUBLE) - 29.0) / 90.0)
                * 1e6 + 0.5) / 1e6 AS z
        FROM agg WHERE n >= 4
    """
    out["bartels_rank"] = """
        WITH daily AS (
          SELECT date_trunc('day', o_orderdate) AS d,
                 CAST(count(*) AS BIGINT) AS y
          FROM orders GROUP BY 1),
        spine AS (SELECT y, CAST(count(*) AS BIGINT) AS cnt
                  FROM daily GROUP BY 1),
        r2m AS (SELECT y,
                       CAST(2 * COALESCE(sum(cnt) OVER (ORDER BY y
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING), 0)
                            + cnt + 1 AS BIGINT) AS r2
                FROM spine),
        cnt_ AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily),
        seq AS (SELECT daily.d, r2m.r2,
                       lead(r2m.r2) OVER (ORDER BY daily.d) AS r2n,
                       cnt_.n
                FROM daily JOIN r2m ON daily.y = r2m.y, cnt_),
        agg AS (SELECT max(n) AS n,
                       CAST(sum(CASE WHEN r2n IS NOT NULL
                                THEN (r2 - r2n) * (r2 - r2n)
                                END) AS BIGINT) AS num4,
                       CAST(sum((r2 - (n + 1)) * (r2 - (n + 1)))
                            AS BIGINT) AS den4
                FROM seq)
        SELECT n AS n_days,
          floor(CAST(num4 AS DOUBLE) / CAST(den4 AS DOUBLE)
                * 1e6 + 0.5) / 1e6 AS rvn,
          floor((CAST(num4 AS DOUBLE) / CAST(den4 AS DOUBLE) - 2.0)
                / sqrt(4.0 * (CAST(n AS DOUBLE) - 2.0)
                       * (5.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                          - 2.0 * CAST(n AS DOUBLE) - 9.0)
                       / (5.0 * CAST(n AS DOUBLE)
                          * (CAST(n AS DOUBLE) + 1.0)
                          * (CAST(n AS DOUBLE) - 1.0)
                          * (CAST(n AS DOUBLE) - 1.0)))
                * 1e6 + 0.5) / 1e6 AS z
        FROM agg WHERE n >= 10 AND den4 > 0
    """
    out["cusum_squares"] = """
        WITH daily AS (
          SELECT date_trunc('day', o_orderdate) AS d,
                 CAST(count(*) AS BIGINT) AS y
          FROM orders GROUP BY 1),
        m AS (SELECT CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(y) AS BIGINT) AS s FROM daily),
        sq AS (SELECT d, n,
                      (CAST(n AS HUGEINT) * y - s)
                      * (CAST(n AS HUGEINT) * y - s) AS z2,
                      CAST(row_number() OVER (ORDER BY d) AS BIGINT)
                        AS t
               FROM daily, m),
        run AS (SELECT d, n, t,
                       sum(z2) OVER (ORDER BY d
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS ct
                FROM sq),
        tot AS (SELECT max(ct) AS c_tot FROM run),
        dev AS (SELECT d, n, t,
                       abs(CAST(n AS HUGEINT) * ct
                           - CAST(t AS HUGEINT) * c_tot) AS dev_num,
                       CAST(n AS HUGEINT) * c_tot AS den
                FROM run, tot),
        best AS (SELECT * FROM dev ORDER BY dev_num DESC, d ASC
                 LIMIT 1)
        SELECT n AS n_days, strftime(d, '%Y-%m-%d') AS peak_day,
          floor(CAST(dev_num AS DOUBLE) / CAST(den AS DOUBLE)
                * 1e6 + 0.5) / 1e6 AS stat
        FROM best WHERE den > 0
    """
    out["foster_stuart"] = """
        WITH daily AS (
          SELECT date_trunc('day', o_orderdate) AS d,
                 CAST(count(*) AS BIGINT) AS y
          FROM orders GROUP BY 1),
        rec AS (SELECT d, y,
                       max(y) OVER (ORDER BY d
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING) AS pmax,
                       min(y) OVER (ORDER BY d
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING) AS pmin,
                       CAST(row_number() OVER (ORDER BY d) AS BIGINT)
                         AS t
                FROM daily),
        agg AS (SELECT CAST(count(*) AS BIGINT) AS n,
                       CAST(sum(CASE
                             WHEN pmax IS NOT NULL AND y > pmax THEN 1
                             WHEN pmax IS NOT NULL AND y < pmin
                               THEN -1
                             ELSE 0 END) AS BIGINT) AS s_stat,
                       CAST(sum(CASE WHEN t >= 2
                                THEN CAST(floor(2e9
                                       / CAST(t AS DOUBLE) + 0.5)
                                     AS BIGINT)
                                ELSE 0 END) AS BIGINT) AS var_nano
                FROM rec)
        SELECT n AS n_days, s_stat,
          floor(CAST(s_stat AS DOUBLE)
                / sqrt(CAST(var_nano AS DOUBLE) / 1e9)
                * 1e6 + 0.5) / 1e6 AS z
        FROM agg WHERE n >= 4 AND var_nano > 0
    """
    out["dixon_q"] = """
        WITH daily AS (
          SELECT date_trunc('day', o_orderdate) AS d,
                 CAST(count(*) AS BIGINT) AS y
          FROM orders GROUP BY 1),
        os_ AS (SELECT CAST(count(*) AS BIGINT) AS n,
                       CAST(max(y) AS BIGINT) AS y_n,
                       CAST(min(y) AS BIGINT) AS y_1
                FROM daily),
        spine AS (SELECT y, CAST(count(*) AS BIGINT) AS c
                  FROM daily GROUP BY 1),
        hi2 AS (SELECT CAST(arg_max(c, y) AS BIGINT) AS c_h1,
                       CAST(min(y) AS BIGINT) AS h2
                FROM (SELECT * FROM spine ORDER BY y DESC LIMIT 2)),
        lo2 AS (SELECT CAST(arg_min(c, y) AS BIGINT) AS c_l1,
                       CAST(max(y) AS BIGINT) AS l2
                FROM (SELECT * FROM spine ORDER BY y ASC LIMIT 2)),
        dmax AS (SELECT strftime(d, '%Y-%m-%d') AS day_max
                 FROM daily ORDER BY y DESC, d ASC LIMIT 1),
        dmin AS (SELECT strftime(d, '%Y-%m-%d') AS day_min
                 FROM daily ORDER BY y ASC, d ASC LIMIT 1)
        SELECT n AS n_days, y_1 AS y_min, y_n AS y_max,
               day_min, day_max,
          floor(CAST(CASE WHEN c_h1 > 1 THEN 0
                     ELSE y_n - h2 END AS DOUBLE)
                / CAST(y_n - y_1 AS DOUBLE) * 1e6 + 0.5) / 1e6
            AS q_high,
          floor(CAST(CASE WHEN c_l1 > 1 THEN 0
                     ELSE l2 - y_1 END AS DOUBLE)
                / CAST(y_n - y_1 AS DOUBLE) * 1e6 + 0.5) / 1e6
            AS q_low
        FROM os_, hi2, lo2, dmax, dmin
        WHERE n >= 4 AND y_n - y_1 > 0
    """
    out["mtld"] = r"""
        WITH RECURSIVE base AS MATERIALIZED (
          SELECT doc_id,
                 (list_filter(string_split_regex(text, '\s+'),
                              t -> t <> ''))[1:200] AS arr
          FROM documents),
        nn AS MATERIALIZED (
          SELECT doc_id, len(arr) AS n_tokens FROM base),
        tk AS MATERIALIZED (
          SELECT doc_id, generate_subscripts(arr, 1) AS pos,
                 unnest(arr) AS tok
          FROM base),
        st AS (
          SELECT doc_id, 0 AS pos, 0 AS f,
                 CAST([] AS VARCHAR[]) AS seen, 0 AS flen
          FROM base
          UNION ALL
          SELECT st.doc_id, st.pos + 1,
                 CASE WHEN 100 * len(CASE WHEN list_contains(st.seen, tk.tok) THEN st.seen ELSE list_append(st.seen, tk.tok) END) <= 72 * (st.flen + 1) THEN st.f + 1 ELSE st.f END,
                 CASE WHEN 100 * len(CASE WHEN list_contains(st.seen, tk.tok) THEN st.seen ELSE list_append(st.seen, tk.tok) END) <= 72 * (st.flen + 1) THEN CAST([] AS VARCHAR[])
                      ELSE CASE WHEN list_contains(st.seen, tk.tok) THEN st.seen ELSE list_append(st.seen, tk.tok) END END,
                 CASE WHEN 100 * len(CASE WHEN list_contains(st.seen, tk.tok) THEN st.seen ELSE list_append(st.seen, tk.tok) END) <= 72 * (st.flen + 1) THEN 0 ELSE st.flen + 1 END
          FROM st JOIN tk ON tk.doc_id = st.doc_id
                         AND tk.pos = st.pos + 1),
        fin AS (
          SELECT st.doc_id, nn.n_tokens, st.f, st.flen, st.seen
          FROM st JOIN nn ON nn.doc_id = st.doc_id
                         AND st.pos = nn.n_tokens)
        SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
               CAST(f AS BIGINT) AS n_factors,
               CASE WHEN (CAST(f AS DOUBLE) + CASE WHEN flen > 0 THEN (1.0 - CAST(len(seen) AS DOUBLE) / CAST(flen AS DOUBLE)) / (1.0 - 0.72) ELSE 0.0 END) > 0
                    THEN floor(CAST(n_tokens AS DOUBLE) / (CAST(f AS DOUBLE) + CASE WHEN flen > 0 THEN (1.0 - CAST(len(seen) AS DOUBLE) / CAST(flen AS DOUBLE)) / (1.0 - 0.72) ELSE 0.0 END)
                               * 1e6 + 0.5) / 1e6
               END AS mtld
        FROM fin
    """
    out["lttb_downsample"] = """
        WITH daily AS (
          SELECT date_trunc('day', o_orderdate) AS d,
                 CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                      AS BIGINT) AS y
          FROM orders GROUP BY 1),
        idx AS (SELECT d, y,
                       CAST(row_number() OVER (ORDER BY d) - 1
                            AS BIGINT) AS t
                FROM daily),
        cnt AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM idx),
        b AS (SELECT d, y, t,
                     CAST(CASE WHEN t = 0 THEN 0
                               WHEN t = nd - 1 THEN 39
                               ELSE 1 + ((t - 1) * 38) // (nd - 2)
                          END AS INTEGER) AS bucket
              FROM idx, cnt),
        aggs AS (SELECT bucket, CAST(count(*) AS BIGINT) AS c,
                        CAST(sum(t) AS BIGINT) AS sx,
                        sum(CAST(y AS HUGEINT)) AS sy
                 FROM b GROUP BY 1),
        j AS (SELECT b.*, p.c AS cp, p.sx AS sxp, p.sy AS syp,
                     n.c AS cn, n.sx AS sxn, n.sy AS syn
              FROM b LEFT JOIN aggs p ON p.bucket = b.bucket - 1
                     LEFT JOIN aggs n ON n.bucket = b.bucket + 1),
        sc AS (SELECT *,
                      abs((CAST(sxp AS HUGEINT) * cn
                           - CAST(sxn AS HUGEINT) * cp)
                          * (CAST(y AS HUGEINT) * cp - syp)
                          - (CAST(sxp AS HUGEINT)
                             - CAST(t AS HUGEINT) * cp)
                          * (CAST(syn AS HUGEINT) * cp - syp * cn))
                        AS score
               FROM j),
        r AS (SELECT *, row_number() OVER (PARTITION BY bucket
                   ORDER BY COALESCE(score, -1) DESC, t ASC) AS rn
              FROM sc)
        SELECT bucket, t, strftime(d, '%Y-%m-%d') AS day,
               y AS y_cents
        FROM r WHERE rn = 1
    """
    out["hodges_lehmann"] = """
        WITH daily AS (
          SELECT date_trunc('day', o_orderdate) AS d,
                 CAST(count(*) AS BIGINT) AS y
          FROM orders GROUP BY 1),
        dw AS (SELECT y, CASE WHEN isodow(d) IN (6, 7)
                              THEN 1 ELSE 0 END AS we
               FROM daily),
        sa AS (SELECT y, CAST(count(*) AS BIGINT) AS ca
               FROM dw WHERE we = 1 GROUP BY 1),
        sb AS (SELECT y AS yb, CAST(count(*) AS BIGINT) AS cb
               FROM dw WHERE we = 0 GROUP BY 1),
        diffs AS (SELECT y - yb AS diff,
                         CAST(sum(ca * cb) AS BIGINT) AS w
                  FROM sa, sb GROUP BY 1),
        tot AS (SELECT CAST(sum(w) AS BIGINT) AS t FROM diffs),
        cum AS (SELECT diff,
                       sum(w) OVER (ORDER BY diff
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS cw,
                       t
                FROM diffs, tot),
        d1 AS (SELECT diff AS d1 FROM cum
               WHERE cw >= (t + 1) // 2 ORDER BY diff LIMIT 1),
        d2 AS (SELECT diff AS d2 FROM cum
               WHERE cw >= t // 2 + 1 ORDER BY diff LIMIT 1),
        counts AS (SELECT CAST(sum(we) AS BIGINT) AS n_weekend,
                          CAST(sum(1 - we) AS BIGINT) AS n_weekday
                   FROM dw)
        SELECT n_weekend, n_weekday,
               CAST(d1 + d2 AS DOUBLE) / 2.0 AS hl_shift
        FROM counts, d1, d2
        WHERE n_weekend >= 1 AND n_weekday >= 1
    """
    out["cucconi"] = """
        WITH d AS (
          SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END
                   AS in2,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS v
          FROM orders WHERE o_orderstatus IN ('O', 'F')),
        gv AS (SELECT v, CAST(count(*) AS BIGINT) AS cnt,
                      CAST(sum(in2) AS BIGINT) AS c2
               FROM d GROUP BY 1),
        sp AS (SELECT v, cnt, c2,
                      CAST(2 * COALESCE(sum(cnt) OVER (ORDER BY v
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING), 0)
                           + cnt + 1 AS BIGINT) AS r2
               FROM gv),
        agg AS (SELECT CAST(sum(cnt - c2) AS BIGINT) AS n1,
                       CAST(sum(c2) AS BIGINT) AS n2,
                       sum(CAST(c2 AS HUGEINT) * r2 * r2) AS p,
                       sum(CAST(c2 AS HUGEINT) * r2) AS sr
                FROM sp),
        f AS (SELECT n1, n2,
                     CAST(n1 AS DOUBLE) AS n1d,
                     CAST(n2 AS DOUBLE) AS n2d,
                     CAST(n1 + n2 AS DOUBLE) AS nd,
                     CAST(p AS DOUBLE) AS pd,
                     CAST(sr AS DOUBLE) AS srd
              FROM agg),
        g AS (SELECT n1, n2, nd, n2d, pd,
                     4.0 * n2d * (nd + 1.0) * (nd + 1.0)
                     - 4.0 * (nd + 1.0) * srd + pd AS qd,
                     4.0 * sqrt(n1d * n2d * (nd + 1.0)
                                * (2.0 * nd + 1.0)
                                * (8.0 * nd + 11.0) / 5.0) AS sd4,
                     2.0 * (nd * nd - 4.0)
                     / ((2.0 * nd + 1.0) * (8.0 * nd + 11.0)) - 1.0
                       AS rho
              FROM f),
        h AS (SELECT n1, n2, rho,
                     (6.0 * pd - 4.0 * n2d * (nd + 1.0)
                      * (2.0 * nd + 1.0)) / sd4 AS u,
                     (6.0 * qd - 4.0 * n2d * (nd + 1.0)
                      * (2.0 * nd + 1.0)) / sd4 AS v
              FROM g)
        SELECT n1, n2,
               floor(u * 1e6 + 0.5) / 1e6 AS u,
               floor(v * 1e6 + 0.5) / 1e6 AS v,
               floor(rho * 1e6 + 0.5) / 1e6 AS rho,
               floor((u * u + v * v - 2.0 * rho * u * v)
                     / (2.0 * (1.0 - rho * rho)) * 1e6 + 0.5) / 1e6
                 AS c_stat
        FROM h WHERE n1 >= 2 AND n2 >= 2
    """
    out["gamma_somers"] = """
        WITH cells AS (
          SELECT CAST(l_quantity AS BIGINT) AS q,
                 CAST(round(l_discount * 100) AS BIGINT) AS dc,
                 CAST(count(*) AS BIGINT) AS n
          FROM lineitem GROUP BY 1, 2),
        pairs AS (
          SELECT a.q AS q1, a.dc AS d1, a.n AS m1,
                 b.q AS q2, b.dc AS d2, b.n AS m2
          FROM cells a JOIN cells b
            ON (a.q < b.q) OR (a.q = b.q AND a.dc < b.dc)),
        agg AS (SELECT
          sum(CASE WHEN q1 < q2 AND d1 < d2
              THEN CAST(m1 AS HUGEINT) * m2 END) AS c,
          sum(CASE WHEN q1 < q2 AND d1 > d2
              THEN CAST(m1 AS HUGEINT) * m2 END) AS dd,
          sum(CASE WHEN q1 < q2 AND d1 = d2
              THEN CAST(m1 AS HUGEINT) * m2 END) AS ty,
          sum(CASE WHEN q1 = q2
              THEN CAST(m1 AS HUGEINT) * m2 END) AS tx
          FROM pairs),
        f AS (SELECT c, dd,
                     CAST(COALESCE(c, 0) AS DOUBLE) AS cd_,
                     CAST(COALESCE(dd, 0) AS DOUBLE) AS dd_,
                     CAST(COALESCE(ty, 0) AS DOUBLE) AS ty_,
                     CAST(COALESCE(tx, 0) AS DOUBLE) AS tx_
              FROM agg)
        SELECT CAST(c AS BIGINT) AS concordant,
               CAST(dd AS BIGINT) AS discordant,
               floor((cd_ - dd_) / (cd_ + dd_) * 1e6 + 0.5) / 1e6
                 AS gamma,
               floor((cd_ - dd_) / (cd_ + dd_ + ty_) * 1e6 + 0.5)
                 / 1e6 AS somers_d,
               floor((cd_ - dd_) / sqrt((cd_ + dd_ + tx_)
                     * (cd_ + dd_ + ty_)) * 1e6 + 0.5) / 1e6 AS tau_b
        FROM f WHERE cd_ + dd_ > 0
    """
    out["barnard_exact"] = """
        WITH pc AS (SELECT o_custkey,
                           CAST(count(*) AS BIGINT) AS n_orders
                    FROM orders GROUP BY 1),
        j AS (SELECT CASE WHEN COALESCE(n_orders, 0) >= 10
                          THEN 1 ELSE 0 END AS y,
                     CASE WHEN c_acctbal >= 5000.0
                          THEN 1 ELSE 0 END AS arm1,
                     md5(CAST(c_custkey AS VARCHAR)) AS h
              FROM customer LEFT JOIN pc ON c_custkey = o_custkey),
        a1 AS (SELECT CAST(count(*) AS BIGINT) AS n1,
                      CAST(sum(y) AS BIGINT) AS k1
               FROM (SELECT * FROM j WHERE arm1 = 1
                     ORDER BY h LIMIT 30)),
        a0 AS (SELECT CAST(count(*) AS BIGINT) AS n2,
                      CAST(sum(y) AS BIGINT) AS k2
               FROM (SELECT * FROM j WHERE arm1 = 0
                     ORDER BY h LIMIT 30)),
        base AS (SELECT n1, k1, n2, k2,
                        (CASE WHEN sqrt(CAST(k1 + k2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE) * (1.0 - CAST(k1 + k2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE)) * (1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(n2 AS DOUBLE))) > 0 THEN (CAST(k1 AS DOUBLE) / CAST(n1 AS DOUBLE) - CAST(k2 AS DOUBLE) / CAST(n2 AS DOUBLE)) / sqrt(CAST(k1 + k2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE) * (1.0 - CAST(k1 + k2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE)) * (1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(n2 AS DOUBLE))) ELSE 0.0 END) AS t_obs
                 FROM a1, a0),
        g AS (SELECT base.*, rg.jg,
                     CAST(rg.jg AS DOUBLE) / 200.0 AS pi
              FROM base, (SELECT unnest(range(1, 200)) AS jg) rg),
        g2 AS (SELECT *,
                      list_transform(range(0, n1 + 1), a_ -> CASE WHEN a_ = 0 THEN 1.0 ELSE list_reduce(list_prepend(1.0, list_transform(range(0, a_), jj -> CAST(n1 - jj AS DOUBLE) / CAST(jj + 1 AS DOUBLE) * (pi / (1.0 - pi)))), (acc, r) -> acc * r) END) AS qa_arr,
                      list_transform(range(0, n2 + 1), a_ -> CASE WHEN a_ = 0 THEN 1.0 ELSE list_reduce(list_prepend(1.0, list_transform(range(0, a_), jj -> CAST(n2 - jj AS DOUBLE) / CAST(jj + 1 AS DOUBLE) * (pi / (1.0 - pi)))), (acc, r) -> acc * r) END) AS qb_arr
               FROM g),
        per AS (SELECT n1, k1, n2, k2, t_obs, pi, jg,
                       list_reduce(list_prepend(0.0, list_transform(range(0, n1 + 1), a -> qa_arr[a + 1] * list_reduce(list_prepend(0.0, list_transform(range(0, n2 + 1), b -> CASE WHEN abs((CASE WHEN sqrt(CAST(a + b AS DOUBLE) / CAST(n1 + n2 AS DOUBLE) * (1.0 - CAST(a + b AS DOUBLE) / CAST(n1 + n2 AS DOUBLE)) * (1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(n2 AS DOUBLE))) > 0 THEN (CAST(a AS DOUBLE) / CAST(n1 AS DOUBLE) - CAST(b AS DOUBLE) / CAST(n2 AS DOUBLE)) / sqrt(CAST(a + b AS DOUBLE) / CAST(n1 + n2 AS DOUBLE) * (1.0 - CAST(a + b AS DOUBLE) / CAST(n1 + n2 AS DOUBLE)) * (1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(n2 AS DOUBLE))) ELSE 0.0 END)) >= abs(t_obs) * (1.0 - 1e-7) THEN qb_arr[b + 1] ELSE 0.0 END)), (acc2, x2) -> acc2 + x2))), (acc, x) -> acc + x)
                       / (list_reduce(list_prepend(0.0, qa_arr), (acc, x) -> acc + x) * list_reduce(list_prepend(0.0, qb_arr), (acc, x) -> acc + x)) AS p
                FROM g2)
        SELECT n1, k1, n2, k2,
               floor(t_obs * 1e6 + 0.5) / 1e6 AS t_obs,
               floor(pi * 1e6 + 0.5) / 1e6 AS pi_hat,
               floor(p * 1e6 + 0.5) / 1e6 AS p_barnard
        FROM per ORDER BY p DESC, jg ASC LIMIT 1
    """
    out["betweenness"] = """
        WITH e0 AS (SELECT l_orderkey AS ok, l_partkey AS pk
                    FROM lineitem GROUP BY 1, 2),
        ed AS (SELECT x.pk AS a, y.pk AS b
               FROM e0 x JOIN e0 y ON x.ok = y.ok AND x.pk < y.pk
               GROUP BY 1, 2 HAVING count(*) >= 2),
        und AS (SELECT a, b FROM ed UNION ALL SELECT b, a FROM ed),
        srcs AS (SELECT node AS src
                 FROM (SELECT DISTINCT a AS node FROM und)
                 ORDER BY md5(CAST(node AS VARCHAR)) LIMIT 4),
        l0 AS (SELECT src, src AS node, CAST(1 AS HUGEINT) AS sigma
               FROM srcs),
        l1r AS (SELECT l0.src, u.b AS node,
                       CAST(sum(l0.sigma) AS HUGEINT) AS sigma
                FROM l0 JOIN und u ON u.a = l0.node GROUP BY 1, 2),
        l1 AS (SELECT l1r.* FROM l1r
               ANTI JOIN l0 ON l0.src = l1r.src AND l0.node = l1r.node),
        l2r AS (SELECT l1.src, u.b AS node,
                       CAST(sum(l1.sigma) AS HUGEINT) AS sigma
                FROM l1 JOIN und u ON u.a = l1.node GROUP BY 1, 2),
        v1 AS (SELECT src, node FROM l0
               UNION ALL SELECT src, node FROM l1),
        l2 AS (SELECT l2r.* FROM l2r
               ANTI JOIN v1 ON v1.src = l2r.src AND v1.node = l2r.node),
        l3r AS (SELECT l2.src, u.b AS node,
                       CAST(sum(l2.sigma) AS HUGEINT) AS sigma
                FROM l2 JOIN und u ON u.a = l2.node GROUP BY 1, 2),
        v2 AS (SELECT src, node FROM v1
               UNION ALL SELECT src, node FROM l2),
        l3 AS (SELECT l3r.* FROM l3r
               ANTI JOIN v2 ON v2.src = l3r.src AND v2.node = l3r.node),
        d3 AS (SELECT src, node, sigma,
                      CAST(0 AS HUGEINT) AS dn FROM l3),
        t2 AS (SELECT l2.src, l2.node,
                      CAST((2 * l2.sigma * (1000000000 + c.dn)
                            + c.sigma) // (2 * c.sigma) AS HUGEINT)
                        AS term
               FROM l2 JOIN und u ON u.a = l2.node
                    JOIN d3 c ON c.src = l2.src AND c.node = u.b),
        d2 AS (SELECT l2.src, l2.node, l2.sigma,
                      CAST(COALESCE(s.t, 0) AS HUGEINT) AS dn
               FROM l2 LEFT JOIN (SELECT src, node, sum(term) AS t
                                  FROM t2 GROUP BY 1, 2) s
                 ON s.src = l2.src AND s.node = l2.node),
        t1 AS (SELECT l1.src, l1.node,
                      CAST((2 * l1.sigma * (1000000000 + c.dn)
                            + c.sigma) // (2 * c.sigma) AS HUGEINT)
                        AS term
               FROM l1 JOIN und u ON u.a = l1.node
                    JOIN d2 c ON c.src = l1.src AND c.node = u.b),
        d1 AS (SELECT l1.src, l1.node, l1.sigma,
                      CAST(COALESCE(s.t, 0) AS HUGEINT) AS dn
               FROM l1 LEFT JOIN (SELECT src, node, sum(term) AS t
                                  FROM t1 GROUP BY 1, 2) s
                 ON s.src = l1.src AND s.node = l1.node),
        bc AS (SELECT node, CAST(sum(dn) AS HUGEINT) AS bc_nano
               FROM (SELECT src, node, dn FROM d1
                     UNION ALL SELECT src, node, dn FROM d2
                     UNION ALL SELECT src, node, dn FROM d3)
               GROUP BY 1)
        SELECT node AS partkey, CAST(bc_nano AS BIGINT) AS bc_nano,
               floor(CAST(bc_nano AS DOUBLE) / 1e9 * 1e6 + 0.5) / 1e6
                 AS betweenness
        FROM bc ORDER BY bc_nano DESC, node ASC LIMIT 20
    """
    out["quade_test"] = """
        WITH cells AS (
          SELECT CAST(year(o_orderdate) AS INTEGER) AS j,
                 CAST(month(o_orderdate) AS INTEGER) AS it,
                 CAST(count(*) AS BIGINT) AS c
          FROM orders GROUP BY 1, 2),
        months AS (SELECT CAST(unnest(range(1, 13)) AS INTEGER) AS it),
        years AS (SELECT DISTINCT j FROM cells),
        full_ AS (SELECT y.j, m.it, COALESCE(c.c, 0) AS c
                  FROM years y CROSS JOIN months m
                  LEFT JOIN cells c ON c.j = y.j AND c.it = m.it),
        perv AS (SELECT j, c, CAST(count(*) AS BIGINT) AS cnt
                 FROM full_ GROUP BY 1, 2),
        rk AS (SELECT j, c, cnt,
                      COALESCE(sum(cnt) OVER (PARTITION BY j ORDER BY c
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0) AS below
               FROM perv),
        ranked AS (SELECT f.j, f.it,
                          2 * r.below + r.cnt + 1 AS r2
                   FROM full_ f JOIN rk r
                     ON r.j = f.j AND r.c = f.c),
        rng AS (SELECT j, CAST(max(c) - min(c) AS BIGINT) AS rg
                FROM full_ GROUP BY 1),
        rv AS (SELECT rg, CAST(count(*) AS BIGINT) AS cnt
               FROM rng GROUP BY 1),
        qrk AS (SELECT rg, cnt,
                       COALESCE(sum(cnt) OVER (ORDER BY rg
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING), 0) AS below
                FROM rv),
        q2 AS (SELECT rng.j, 2 * qrk.below + qrk.cnt + 1 AS q2
               FROM rng JOIN qrk ON qrk.rg = rng.rg),
        s AS (SELECT ranked.j, ranked.it,
                     CAST(q2.q2 AS HUGEINT) * (ranked.r2 - 13) AS s4
              FROM ranked JOIN q2 ON q2.j = ranked.j),
        a16 AS (SELECT CAST(count(DISTINCT j) AS BIGINT) AS n,
                       sum(s4 * s4) AS a16
                FROM s),
        b16 AS (SELECT sum(si4 * si4) AS b16n
                FROM (SELECT it, sum(s4) AS si4 FROM s GROUP BY 1)),
        f AS (SELECT n,
                     CAST(a16 AS DOUBLE) / 16.0 AS af,
                     CAST(b16n AS DOUBLE)
                       / (16.0 * CAST(n AS DOUBLE)) AS bf
              FROM a16, b16)
        SELECT n AS n_blocks, CAST(12 AS BIGINT) AS k_treatments,
               CAST(11 AS BIGINT) AS df1,
               CAST((n - 1) * 11 AS BIGINT) AS df2,
               floor((CAST(n AS DOUBLE) - 1.0) * bf / (af - bf)
                     * 1e6 + 0.5) / 1e6 AS f_stat
        FROM f WHERE n >= 2 AND af - bf > 0
    """
    out["lepage"] = """
        WITH d AS (
          SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END
                   AS in2,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS v
          FROM orders WHERE o_orderstatus IN ('O', 'F')),
        gv AS (SELECT v, CAST(count(*) AS BIGINT) AS cnt,
                      CAST(sum(in2) AS BIGINT) AS c2
               FROM d GROUP BY 1),
        sp AS (SELECT cnt, c2,
                      CAST(2 * COALESCE(sum(cnt) OVER (ORDER BY v
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING), 0)
                           + cnt + 1 AS BIGINT) AS r2
               FROM gv),
        cnt_all AS (SELECT CAST(sum(cnt) AS BIGINT) AS nn FROM sp),
        agg AS (SELECT max(nn) AS nn,
                       CAST(sum(cnt - c2) AS BIGINT) AS n1,
                       CAST(sum(c2) AS BIGINT) AS n2,
                       sum(CAST(c2 AS HUGEINT) * r2) AS w2,
                       sum(CAST(c2 AS HUGEINT)
                           * least(r2, 2 * (nn + 1) - r2)) AS ab2
                FROM sp, cnt_all),
        f AS (SELECT n1, n2, nn,
                     CAST(nn AS DOUBLE) AS nd,
                     CAST(n1 AS DOUBLE) AS n1d,
                     CAST(n2 AS DOUBLE) AS n2d,
                     CAST(w2 AS DOUBLE) / 2.0 AS wd,
                     CAST(ab2 AS DOUBLE) / 2.0 AS abd
              FROM agg),
        g AS (SELECT n1, n2,
                     (wd - n2d * (nd + 1.0) / 2.0)
                     / sqrt(n1d * n2d * (nd + 1.0) / 12.0) AS zw,
                     (abd - CASE WHEN nn % 2 = 0
                            THEN n2d * (nd + 2.0) / 4.0
                            ELSE n2d * (nd + 1.0) * (nd + 1.0)
                                 / (4.0 * nd) END)
                     / sqrt(CASE WHEN nn % 2 = 0
                            THEN n1d * n2d * (nd + 2.0) * (nd - 2.0)
                                 / (48.0 * (nd - 1.0))
                            ELSE n1d * n2d * (nd + 1.0)
                                 * (3.0 + nd * nd)
                                 / (48.0 * nd * nd) END) AS za
              FROM f)
        SELECT n1, n2,
               floor(zw * 1e6 + 0.5) / 1e6 AS z_wilcoxon,
               floor(za * 1e6 + 0.5) / 1e6 AS z_ansari,
               floor((zw * zw + za * za) * 1e6 + 0.5) / 1e6 AS d_stat
        FROM g WHERE n1 >= 2 AND n2 >= 2
    """
    out["eccentricity"] = """
        WITH RECURSIVE e0 AS (
          SELECT l_orderkey AS ok, l_partkey AS pk
          FROM lineitem GROUP BY 1, 2),
        ed AS (SELECT x.pk AS a, y.pk AS b
               FROM e0 x JOIN e0 y ON x.ok = y.ok AND x.pk < y.pk
               GROUP BY 1, 2 HAVING count(*) >= 2),
        und AS (SELECT a, b FROM ed UNION ALL SELECT b, a FROM ed),
        srcs AS (SELECT node AS src
                 FROM (SELECT DISTINCT a AS node FROM und)
                 ORDER BY md5(CAST(node AS VARCHAR)) LIMIT 6),
        reach(src, node, hop) AS (
          SELECT src, src, 0 FROM srcs
          UNION
          SELECT r.src, u.b, r.hop + 1
          FROM reach r JOIN und u ON u.a = r.node
          WHERE r.hop < 6),
        mh AS (SELECT src, node, CAST(min(hop) AS BIGINT) AS hop
               FROM reach GROUP BY 1, 2),
        per AS (SELECT src, CAST(count(*) AS BIGINT) AS n_reached,
                       CAST(max(hop) AS BIGINT) AS ecc
                FROM mh GROUP BY 1),
        alive AS (SELECT src, count(*) AS cnt
                  FROM mh WHERE hop = 6 GROUP BY 1),
        dia AS (SELECT CAST(max(ecc) AS BIGINT) AS diameter_lb
                FROM per)
        SELECT per.src AS source, n_reached, ecc,
               COALESCE(alive.cnt, 0) > 0 AS at_cap, diameter_lb
        FROM per LEFT JOIN alive ON alive.src = per.src, dia
    """
    out["welch_anova"] = """
        WITH grp0 AS (
          SELECT o_orderpriority AS g, CAST(count(*) AS BIGINT) AS ng,
                 sum(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                     AS HUGEINT)) AS sg,
                 sum(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                     AS HUGEINT)
                     * CAST(round(o_totalprice * 100) AS BIGINT))
                   AS qg
          FROM orders GROUP BY 1),
        grp AS (SELECT * FROM grp0
                WHERE ng >= 2 AND CAST(ng AS HUGEINT) * qg - sg * sg > 0),
        lst AS (SELECT CAST(count(*) AS BIGINT) AS k,
                       CAST(sum(ng) AS BIGINT) AS n_total,
                       list(struct_pack(g := g, ng := ng,
                                        sg := sg, qg := qg)
                            ORDER BY g) AS l
                FROM grp),
        f1 AS (SELECT *,
                 list_reduce(list_prepend(0.0, list_transform(l, t ->
                   CAST(t.ng AS DOUBLE)
                   / (CAST(CAST(t.ng AS HUGEINT) * t.qg
                           - t.sg * t.sg AS DOUBLE)
                      / (CAST(t.ng AS DOUBLE)
                         * (CAST(t.ng AS DOUBLE) - 1.0))))),
                   (a, x) -> a + x) AS w_sum,
                 list_reduce(list_prepend(0.0, list_transform(l, t ->
                   CAST(t.ng AS DOUBLE)
                   / (CAST(CAST(t.ng AS HUGEINT) * t.qg
                           - t.sg * t.sg AS DOUBLE)
                      / (CAST(t.ng AS DOUBLE)
                         * (CAST(t.ng AS DOUBLE) - 1.0)))
                   * (CAST(t.sg AS DOUBLE) / CAST(t.ng AS DOUBLE)))),
                   (a, x) -> a + x) AS m_sum
               FROM lst),
        f2 AS (SELECT *, m_sum / w_sum AS m FROM f1),
        f3 AS (SELECT *,
                 list_reduce(list_prepend(0.0, list_transform(l, t ->
                   CAST(t.ng AS DOUBLE)
                   / (CAST(CAST(t.ng AS HUGEINT) * t.qg
                           - t.sg * t.sg AS DOUBLE)
                      / (CAST(t.ng AS DOUBLE)
                         * (CAST(t.ng AS DOUBLE) - 1.0)))
                   * (CAST(t.sg AS DOUBLE) / CAST(t.ng AS DOUBLE) - m)
                   * (CAST(t.sg AS DOUBLE) / CAST(t.ng AS DOUBLE)
                      - m))),
                   (a, x) -> a + x) AS a_sum,
                 list_reduce(list_prepend(0.0, list_transform(l, t ->
                   ((1.0 - CAST(t.ng AS DOUBLE)
                     / (CAST(CAST(t.ng AS HUGEINT) * t.qg
                             - t.sg * t.sg AS DOUBLE)
                        / (CAST(t.ng AS DOUBLE)
                           * (CAST(t.ng AS DOUBLE) - 1.0)))
                     / w_sum)
                    * (1.0 - CAST(t.ng AS DOUBLE)
                       / (CAST(CAST(t.ng AS HUGEINT) * t.qg
                               - t.sg * t.sg AS DOUBLE)
                          / (CAST(t.ng AS DOUBLE)
                             * (CAST(t.ng AS DOUBLE) - 1.0)))
                       / w_sum))
                   / (CAST(t.ng AS DOUBLE) - 1.0))),
                   (a, x) -> a + x) AS h_sum
               FROM f2)
        SELECT k, n_total,
               floor(a_sum / (CAST(k AS DOUBLE) - 1.0)
                     / (1.0 + 2.0 * (CAST(k AS DOUBLE) - 2.0)
                        / (CAST(k AS DOUBLE) * CAST(k AS DOUBLE) - 1.0)
                        * h_sum) * 1e6 + 0.5) / 1e6 AS f_stat,
               floor((CAST(k AS DOUBLE) * CAST(k AS DOUBLE) - 1.0)
                     / (3.0 * h_sum) * 1e6 + 0.5) / 1e6 AS df2
        FROM f3 WHERE k >= 2 AND h_sum > 0
    """
    out["yuen_t"] = """
        WITH d AS (SELECT o_orderstatus AS g,
                          CAST(round(o_totalprice * 100) AS BIGINT)
                            AS v
                   FROM orders WHERE o_orderstatus IN ('O', 'F')),
        sv AS (SELECT g, v, CAST(count(*) AS BIGINT) AS cnt
               FROM d GROUP BY 1, 2),
        sp AS (SELECT g, v, cnt,
                      COALESCE(sum(cnt) OVER (PARTITION BY g ORDER BY v
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0) AS below,
                      CAST(sum(cnt) OVER (PARTITION BY g) AS BIGINT)
                        AS n
               FROM sv),
        sp2 AS (SELECT *, n * 10 // 100 AS gt,
                       n * 10 // 100 + 1 AS lo,
                       n - n * 10 // 100 AS hi
                FROM sp),
        per AS (SELECT g, max(n) AS n, max(gt) AS gt,
                       sum(CAST(v AS HUGEINT)
                           * greatest(CAST(0 AS BIGINT),
                               least(below + cnt, hi)
                               - greatest(below + 1, lo) + 1)) AS tsum,
                       sum(CAST(v AS HUGEINT) * v
                           * greatest(CAST(0 AS BIGINT),
                               least(below + cnt, hi)
                               - greatest(below + 1, lo) + 1)) AS tssq,
                       CAST(min(CASE WHEN below + cnt >= lo THEN v END)
                            AS BIGINT) AS vlo,
                       CAST(min(CASE WHEN below + cnt >= hi THEN v END)
                            AS BIGINT) AS vhi
                FROM sp2 GROUP BY 1),
        p1 AS (SELECT n AS n1, gt AS g1, tsum AS ts1, tssq AS tq1,
                      vlo AS vl1, vhi AS vh1
               FROM per WHERE g = 'O'),
        p2 AS (SELECT n AS n2, gt AS g2, tsum AS ts2, tssq AS tq2,
                      vlo AS vl2, vhi AS vh2
               FROM per WHERE g = 'F'),
        j AS (SELECT * FROM p1, p2),
        f AS (SELECT n1, n2,
                     CAST(n1 - 2 * g1 AS BIGINT) AS h1,
                     CAST(n2 - 2 * g2 AS BIGINT) AS h2,
                     CAST(ts1 AS DOUBLE)
                       / CAST(CAST(n1 - 2 * g1 AS BIGINT) AS DOUBLE)
                       AS xt1,
                     CAST(ts2 AS DOUBLE)
                       / CAST(CAST(n2 - 2 * g2 AS BIGINT) AS DOUBLE)
                       AS xt2,
                     CAST(CAST(n1 AS HUGEINT)
                          * (tq1 + CAST(g1 AS HUGEINT) * vl1 * vl1
                             + CAST(g1 AS HUGEINT) * vh1 * vh1)
                          - (ts1 + CAST(g1 AS HUGEINT) * vl1
                             + CAST(g1 AS HUGEINT) * vh1)
                          * (ts1 + CAST(g1 AS HUGEINT) * vl1
                             + CAST(g1 AS HUGEINT) * vh1) AS DOUBLE)
                       / (CAST(n1 AS DOUBLE)
                          * (CAST(n1 AS DOUBLE) - 1.0)) AS s2w1,
                     CAST(CAST(n2 AS HUGEINT)
                          * (tq2 + CAST(g2 AS HUGEINT) * vl2 * vl2
                             + CAST(g2 AS HUGEINT) * vh2 * vh2)
                          - (ts2 + CAST(g2 AS HUGEINT) * vl2
                             + CAST(g2 AS HUGEINT) * vh2)
                          * (ts2 + CAST(g2 AS HUGEINT) * vl2
                             + CAST(g2 AS HUGEINT) * vh2) AS DOUBLE)
                       / (CAST(n2 AS DOUBLE)
                          * (CAST(n2 AS DOUBLE) - 1.0)) AS s2w2
              FROM j),
        g_ AS (SELECT n1, n2, h1, h2, xt1, xt2,
                      s2w1 * (CAST(n1 AS DOUBLE) - 1.0)
                        / (CAST(h1 AS DOUBLE)
                           * (CAST(h1 AS DOUBLE) - 1.0)) AS d1,
                      s2w2 * (CAST(n2 AS DOUBLE) - 1.0)
                        / (CAST(h2 AS DOUBLE)
                           * (CAST(h2 AS DOUBLE) - 1.0)) AS d2
               FROM f)
        SELECT n1, n2, h1, h2,
               floor(xt1 / 100.0 * 1e6 + 0.5) / 1e6 AS trimmed_mean_1,
               floor(xt2 / 100.0 * 1e6 + 0.5) / 1e6 AS trimmed_mean_2,
               floor((xt1 - xt2) / sqrt(d1 + d2) * 1e6 + 0.5) / 1e6
                 AS t_stat,
               floor((d1 + d2) * (d1 + d2)
                     / (d1 * d1 / (CAST(h1 AS DOUBLE) - 1.0)
                        + d2 * d2 / (CAST(h2 AS DOUBLE) - 1.0))
                     * 1e6 + 0.5) / 1e6 AS df
        FROM g_ WHERE h1 >= 2 AND h2 >= 2 AND d1 + d2 > 0
    """
    out["seasonal_kendall"] = """
        WITH cells AS (
          SELECT CAST(year(o_orderdate) AS INTEGER) AS y,
                 CAST(month(o_orderdate) AS INTEGER) AS m,
                 CAST(count(*) AS BIGINT) AS c
          FROM orders GROUP BY 1, 2),
        months AS (SELECT CAST(unnest(range(1, 13)) AS INTEGER) AS m),
        years AS (SELECT DISTINCT y FROM cells),
        full_ AS (SELECT yy.y, mm.m, COALESCE(c.c, 0) AS c
                  FROM years yy CROSS JOIN months mm
                  LEFT JOIN cells c ON c.y = yy.y AND c.m = mm.m),
        s AS (SELECT CAST(sum(CASE WHEN b.c > a.c THEN 1
                              WHEN b.c < a.c THEN -1 ELSE 0 END)
                     AS BIGINT) AS s
              FROM full_ a JOIN full_ b
                ON a.m = b.m AND a.y < b.y),
        ties AS (SELECT m, c, CAST(count(*) AS BIGINT) AS t
                 FROM full_ GROUP BY 1, 2),
        vm AS (SELECT m, CAST(sum(t) AS BIGINT) AS nm,
                      CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT)
                        AS tt
               FROM ties GROUP BY 1),
        v AS (SELECT CAST(max(nm) AS BIGINT) AS n_years,
                     CAST(sum(nm * (nm - 1) * (2 * nm + 5) - tt)
                          AS BIGINT) AS var18
              FROM vm)
        SELECT n_years, s AS s_stat, var18,
               floor(CASE WHEN s > 0 THEN CAST(s AS DOUBLE) - 1.0
                          WHEN s < 0 THEN CAST(s AS DOUBLE) + 1.0
                          ELSE 0.0 END
                     / sqrt(CAST(var18 AS DOUBLE) / 18.0)
                     * 1e6 + 0.5) / 1e6 AS z
        FROM s, v WHERE var18 > 0
    """
    out["partial_corr"] = """
        WITH d AS (SELECT CAST(l_quantity AS BIGINT) AS x,
                          CAST(round(l_extendedprice * 100) AS BIGINT)
                            AS y,
                          CAST(round(l_discount * 100) AS BIGINT) AS z
                   FROM lineitem),
        agg AS (SELECT CAST(count(*) AS BIGINT) AS n,
                       sum(CAST(x AS HUGEINT)) AS sx,
                       sum(CAST(y AS HUGEINT)) AS sy,
                       sum(CAST(z AS HUGEINT)) AS sz,
                       sum(CAST(x AS HUGEINT) * x) AS sxx,
                       sum(CAST(y AS HUGEINT) * y) AS syy,
                       sum(CAST(z AS HUGEINT) * z) AS szz,
                       sum(CAST(x AS HUGEINT) * y) AS sxy,
                       sum(CAST(x AS HUGEINT) * z) AS sxz,
                       sum(CAST(y AS HUGEINT) * z) AS syz
                FROM d),
        r AS (SELECT n,
                CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS DOUBLE)
                  / sqrt(CAST(CAST(n AS HUGEINT) * sxx - sx * sx
                              AS DOUBLE)
                         * CAST(CAST(n AS HUGEINT) * syy - sy * sy
                                AS DOUBLE)) AS rxy,
                CAST(CAST(n AS HUGEINT) * sxz - sx * sz AS DOUBLE)
                  / sqrt(CAST(CAST(n AS HUGEINT) * sxx - sx * sx
                              AS DOUBLE)
                         * CAST(CAST(n AS HUGEINT) * szz - sz * sz
                                AS DOUBLE)) AS rxz,
                CAST(CAST(n AS HUGEINT) * syz - sy * sz AS DOUBLE)
                  / sqrt(CAST(CAST(n AS HUGEINT) * syy - sy * sy
                              AS DOUBLE)
                         * CAST(CAST(n AS HUGEINT) * szz - sz * sz
                                AS DOUBLE)) AS ryz
              FROM agg)
        SELECT n,
               floor(rxy * 1e6 + 0.5) / 1e6 AS r_qty_price,
               floor(rxz * 1e6 + 0.5) / 1e6 AS r_qty_disc,
               floor(ryz * 1e6 + 0.5) / 1e6 AS r_price_disc,
               floor((rxy - rxz * ryz)
                     / sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz))
                     * 1e6 + 0.5) / 1e6 AS r_qty_price_given_disc
        FROM r WHERE n >= 3
    """
    out["by_fdr"] = (
        out["bh_fdr"]
        .replace(
            "mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM pv)",
            "mm AS (SELECT m,\n"
            "               list_reduce(list_prepend("
            "CAST(0 AS BIGINT),\n"
            "                 list_transform(range(1, m + 1), i ->\n"
            "                   CAST(floor(1e9 / CAST(i AS DOUBLE)"
            " + 0.5) AS BIGINT))),\n"
            "                 (a, x) -> a + x) AS cm_nano\n"
            "        FROM (SELECT CAST(count(*) AS BIGINT) AS m"
            " FROM pv))",
        )
        .replace(
            "SELECT pv.*, mm.m,",
            "SELECT pv.*, mm.m, mm.cm_nano,",
        )
        .replace(
            "max(CASE WHEN p_raw * CAST(m AS DOUBLE)",
            "max(CASE WHEN p_raw * CAST(m AS DOUBLE)"
            " * (CAST(cm_nano AS DOUBLE) / 1e9)",
        )
    )
    return out
