"""Round-10 optimization equality pins: every rewrite this round must
be value-identical to the form it replaced. Each test compares the NEW
registered implementation against the FORMER implementation (re-stated
literally here) or against an independently-built reference relation,
row for row, on the real fixtures."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from pubsub_mapreduce_spark.io import load_tables, widen
from pubsub_mapreduce_spark.operators import dedup, similarity as S
from tests.conftest import SF_MED, SF_SMALL


def _rows(df, cols=None):
    cols = cols or df.columns
    return sorted(
        tuple(
            repr(v + 0.0) if isinstance(v, float) else v for v in r
        )
        for r in df.select(*cols).collect()
    )


def _old_mmr_diversify(emb, query_vec_id=0, pool=50, k=10):
    """The pre-r9 Spark-loop MMR form (commit 067adb0), verbatim: k
    greedy rounds of anti-join + broadcast pair-scoring + 1-row argmax.
    The ADVICE r9 parity pin — the driver-side greedy rewrite must
    reproduce this plan's output bit-for-bit."""
    from pubsub_mapreduce_spark.functions.text import round_half_up
    from pubsub_mapreduce_spark.functions.vectors import norm
    from pubsub_mapreduce_spark.operators.similarity import (
        _as_double,
        _sim_from_dot,
    )

    e = _as_double(emb).select("vec_id", "embedding")
    q = e.where(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("q_emb"),
        norm(F.col("embedding")).alias("q_nrm"),
    )
    cand = (
        widen(e, 8)
        .where(F.col("vec_id") != query_vec_id)
        .crossJoin(broadcast(q))
        .select(
            "vec_id",
            "embedding",
            norm(F.col("embedding")).alias("nrm"),
            _sim_from_dot(
                F.col("q_emb"), F.col("embedding"), F.col("q_nrm"), F.col("nrm")
            ).alias("rel"),
        )
        .orderBy(F.desc("rel"), F.asc("vec_id"))
        .limit(pool)
        .localCheckpoint(eager=False)
    )
    selected = None
    for i in range(1, k + 1):
        if selected is None:
            scored = cand.select(
                "vec_id", "embedding", "nrm", "rel",
                (F.lit(0.5) * F.col("rel") - F.lit(0.5) * F.lit(0.0)).alias(
                    "score"
                ),
            )
        else:
            rem = cand.join(selected.select("vec_id"), "vec_id", "left_anti")
            sel_e = selected.select(
                F.col("embedding").alias("s_emb"),
                F.col("nrm").alias("s_nrm"),
            )
            sims = (
                rem.crossJoin(broadcast(sel_e))
                .select(
                    "vec_id",
                    _sim_from_dot(
                        F.col("s_emb"), F.col("embedding"),
                        F.col("s_nrm"), F.col("nrm"),
                    ).alias("s"),
                )
                .groupBy("vec_id")
                .agg(F.max("s").alias("maxsim"))
            )
            scored = rem.join(sims, "vec_id", "left").select(
                "vec_id", "embedding", "nrm", "rel",
                (
                    F.lit(0.5) * F.col("rel")
                    - F.lit(0.5) * F.coalesce(F.col("maxsim"), F.lit(0.0))
                ).alias("score"),
            )
        pick = (
            scored.orderBy(F.desc("score"), F.asc("vec_id"))
            .limit(1)
            .withColumn("pick", F.lit(i))
        )
        selected = (
            pick if selected is None else selected.unionByName(pick)
        ).localCheckpoint(eager=False)
    return selected.select(
        "pick",
        "vec_id",
        round_half_up(F.col("rel"), 4).alias("rel"),
        round_half_up(F.col("score"), 4).alias("score"),
    )


def test_mmr_driver_greedy_matches_former_spark_form(spark):
    """ADVICE r9: the driver-side greedy MMR must reproduce the former
    anti-join/argmax Spark loop exactly — scores, tie-breaks, rounding
    — at the driver's correctness SF."""
    emb = load_tables(spark, SF_MED)["embeddings"]
    new = S.mmr_diversify(emb)
    old = _old_mmr_diversify(emb)
    assert _rows(new) == _rows(old)
    assert new.columns == old.columns


def test_query_subset_precomputed_count_is_identity(spark):
    """The literal-stride form must select exactly the rows the
    relational count-agg form selects, at any every/max_sample combo
    that exercises both the identity and the capped regime."""
    emb = load_tables(spark, SF_MED)["embeddings"]
    e = S._as_double(emb).select("vec_id", "embedding")
    n = e.count()
    for every, cap in [(50, 2000), (1, 7), (3, 11)]:
        rel = S.query_subset(e, every, max_sample=cap)
        lit = S.query_subset(e, every, max_sample=cap, precomputed_count=n)
        assert _rows(rel, ["vec_id"]) == _rows(lit, ["vec_id"]), (every, cap)


def test_ann_lsh_topk_shared_corpus_and_query_restructure(spark):
    """ann_lsh_topk r10 rewrite (filter-then-bucket query side, shared
    prepared corpus): identical output to the default standalone form
    AND to the former compute-then-filter semantics (covered by the
    DuckDB oracle in test_oracle_parity; this pins the corpus param)."""
    emb = load_tables(spark, SF_MED)["embeddings"]
    corpus = widen(
        S._as_double(emb).select("vec_id", "embedding"), 8
    ).localCheckpoint(eager=False)
    n = corpus.count()
    default = S.ann_lsh_topk(emb, k=5, every=10)
    shared = S.ann_lsh_topk(
        emb, k=5, every=10, corpus=corpus, precomputed_count=n
    )
    assert _rows(default) == _rows(shared)


def test_ann_recall_report_fused_assembly(spark):
    """The fused left-join stats aggregate + consts literals must equal
    the former two-join assembly — pinned against an independent
    recomputation of the report from its own parts."""
    emb = load_tables(spark, SF_MED)["embeddings"]
    rep = S.ann_recall_report(emb, k=5, every=50)
    rows = {r["idx"]: r for r in rep.collect()}
    assert set(rows) == {"lsh", "ivf", "pq", "ivfpq"}
    exact = S.cosine_topk(emb, k=5, every=50)
    ex = {(r["query_id"], r["neighbor_id"]): r["rank"] for r in exact.collect()}
    n_queries = len({q for q, _ in ex})
    for name, df in [
        ("lsh", S.ann_lsh_topk(emb, k=5, every=50)),
        ("ivf", S.ann_ivf_topk(emb, k=5, every=50)),
        ("pq", S.ann_pq_topk(emb, k=5, every=50)),
        ("ivfpq", S.ann_ivfpq_topk(emb, k=5, every=50)),
    ]:
        a = [(r["query_id"], r["neighbor_id"], r["rank"]) for r in df.collect()]
        n_matched = sum(1 for q, nb, _ in a if (q, nb) in ex)
        n_top1 = sum(1 for q, nb, _ in a if ex.get((q, nb)) == 1)
        mrr_x60 = sum(60 // rk for q, nb, rk in a if ex.get((q, nb)) == 1)
        r = rows[name]
        assert r["n_matched"] == n_matched, name
        assert r["n_top1_found"] == n_top1, name
        assert r["n_exact"] == len(ex), name
        assert r["n_queries"] == n_queries, name
        import math

        assert r["mrr"] == math.floor(
            mrr_x60 / (60 * n_queries) * 1e6 + 0.5
        ) / 1e6, name


def test_dedup_recall_report_shared_shingles(spark):
    """dedup_recall_report r10 rewrite (ONE shared shingle pass feeding
    both pair pipelines): identical to composing the two standalone
    pipelines, which each build their own shingles."""
    docs = load_tables(spark, SF_MED)["documents"]
    rep = dedup.dedup_recall_report(docs).collect()
    exact = {
        (r["a"], r["b"])
        for r in dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.5)
        .select("a", "b")
        .collect()
    }
    approx = {
        (r["a"], r["b"])
        for r in dedup.minhash_lsh_pairs(docs, n=3, threshold=0.5)
        .select("a", "b")
        .collect()
    }
    assert len(rep) == 1
    r = rep[0]
    assert r["n_exact"] == len(exact)
    assert r["n_approx"] == len(approx)
    assert r["n_matched"] == len(exact & approx)


def test_theil_sen_with_total_matches_separate_count(spark):
    """theil_sen_daily r10: n_pairs threaded through global_row_number's
    with_total must equal the independent count of the pair relation."""
    from pubsub_mapreduce_spark.operators.robust import theil_sen_daily

    orders = load_tables(spark, SF_SMALL)["orders"]
    out = theil_sen_daily(orders).collect()
    daily_n = (
        orders.groupBy(F.col("o_orderdate").alias("d")).count().count()
    )
    expect_pairs = daily_n * (daily_n - 1) // 2
    assert len(out) == 1
    assert out[0]["n_pairs"] == expect_pairs


def test_pagerank_unpersists_its_cached_relations(spark):
    """ADVICE r9: pagerank/personalized_pagerank must not leak persisted
    relations across calls — after the call returns, the only surviving
    cache entries are at most the (bounded) checkpointed result RDDs."""
    from pubsub_mapreduce_spark.operators.graph import (
        pagerank,
        personalized_pagerank,
    )

    ev = load_tables(spark, SF_SMALL)["events"]
    edges = (
        ev.alias("x")
        .join(ev.alias("y"), F.col("x.user_id") == F.col("y.user_id"))
        .groupBy(
            F.col("x.event_type").alias("type_from"),
            F.col("y.event_type").alias("type_to"),
        )
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    r1 = pagerank(edges)
    r2 = personalized_pagerank(edges)
    assert r1.count() > 0 and r2.count() >= 0
    after = jsc.getPersistentRDDs().size()
    # each call may leave its ONE checkpointed result; the 3 persisted
    # edge/node relations per call must be gone
    assert after - before <= 2, (before, after)
