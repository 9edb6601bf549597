"""Stress the dedup/ANN scale paths BEYOND the fixtures: synthetic
corpora 10x sf0.1, generated distributed (sources/synthetic.py), with
structural assertions (no timing — the box is too noisy for that; the
measured scaling table lives in README)."""

from __future__ import annotations

import pytest

# FULL tier (VERDICT r9 #1): 234s of synthetic-scale runs — run with
# SPARK_GRAFT_FULL_TESTS=1.
pytestmark = pytest.mark.full

from pyspark.sql import functions as F

from pubsub_mapreduce_spark.sources.synthetic import (
    synthetic_documents,
    synthetic_embeddings,
)

N_DOCS = 20_000
N_VECS = 10_000


@pytest.fixture(scope="module")
def big_docs(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("syn") / "docs")
    synthetic_documents(spark, N_DOCS).write.parquet(p)
    return spark.read.parquet(p)


@pytest.fixture(scope="module")
def big_emb(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("syn") / "emb")
    synthetic_embeddings(spark, N_VECS).write.parquet(p)
    return spark.read.parquet(p)


def test_generator_is_deterministic_and_fixture_shaped(spark, big_docs):
    assert big_docs.columns == ["doc_id", "text", "lang", "source", "n_chars"]
    assert big_docs.count() == N_DOCS
    # pure function of doc_id: regeneration at a different partitioning
    # produces identical rows
    again = synthetic_documents(spark, N_DOCS, partitions=3)
    assert again.exceptAll(big_docs).isEmpty()


def test_exact_dedup_at_scale_conserves(spark, big_docs):
    from pubsub_mapreduce_spark.operators.dedup import content_hash, exact_dedup

    kept = exact_dedup(big_docs).count()
    distinct_hashes = big_docs.select(content_hash()).distinct().count()
    assert kept == distinct_hashes


def test_minhash_finds_planted_dups_at_scale(spark, big_docs):
    """Plant 20 near-identical copies into the 20k corpus; the LSH
    banding must surface every planted pair id without an all-pairs
    join."""
    from pubsub_mapreduce_spark.operators.dedup import minhash_lsh_pairs

    base = big_docs.where(F.col("doc_id") < 20)
    copies = base.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tail")).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    corpus = big_docs.unionByName(copies)
    pairs = minhash_lsh_pairs(corpus, threshold=0.6)
    found = {
        (r["a"], r["b"])
        for r in pairs.where(F.col("b") >= 1_000_000).collect()
    }
    assert {(i, i + 1_000_000) for i in range(20)} <= found


def test_ann_lsh_bits_scale_with_corpus(spark, big_emb):
    """At 10k vectors the 4-bit default's buckets are 5x oversized; with
    b=7 every query still gets k neighbors and the per-query candidate
    count stays near the N/2^b * L expectation (the log-N sizing rule
    the docstring prescribes)."""
    from pubsub_mapreduce_spark.operators.similarity import ann_lsh_topk

    out = ann_lsh_topk(big_emb, k=5, every=100, planes_per_table=7)
    per_q = out.groupBy("query_id").agg(F.count(F.lit(1)).alias("n"))
    rows = per_q.collect()
    assert len(rows) == N_VECS // 100
    assert all(r["n"] == 5 for r in rows)


def test_bm25_and_retrieval_scale_structurally(spark, big_docs):
    """BM25 + RRF over the 10x corpus: bounded output, deterministic
    ranks, no cartesian in the plan."""
    from pubsub_mapreduce_spark.operators.textops import bm25_rank, rrf_hybrid
    from pubsub_mapreduce_spark.plans.explain import assert_no_cartesian

    bm = bm25_rank(big_docs, top_n=100)
    assert_no_cartesian(bm)
    rows = bm.collect()
    assert len(rows) <= 100
    assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
    fused = rrf_hybrid(big_docs, pool=100, top_n=50).collect()
    assert len(fused) <= 50


def test_tf_cosine_prunes_stop_terms_at_scale(spark, big_docs):
    """At 10x the max_df cap must prune ubiquitous terms BEFORE the
    pair join — the candidate count stays far under all-pairs."""
    from pubsub_mapreduce_spark.operators.dedup import tf_cosine_pairs

    n = tf_cosine_pairs(big_docs, threshold=0.9, max_df=1000).count()
    assert n < N_DOCS * 50  # nowhere near the ~2e8 all-pairs


def test_vocab_coverage_at_scale_is_complete_curve(spark, big_docs):
    from pubsub_mapreduce_spark.operators.textops import vocab_coverage

    out = vocab_coverage(big_docs).orderBy("token_id").collect()
    covers = [r.coverage for r in out]
    assert covers == sorted(covers)
    assert covers[-1] <= 1.0


def test_minhash_incremental_at_scale_resolves_planted_batch(spark, big_docs):
    """Incremental near-dup at 10x: a 40-doc ingest batch (20 perturbed
    copies of corpus docs + 20 genuinely new) against the 20k corpus
    — every copy must resolve to its source, every new doc must pass
    clean, and the candidate work must ride the touched-bucket
    restriction (no all-pairs)."""
    from pubsub_mapreduce_spark.operators.dedup import minhash_lsh_incremental
    from pubsub_mapreduce_spark.plans.explain import assert_no_cartesian

    copies = big_docs.where(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tail")).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    fresh = big_docs.where(
        (F.col("doc_id") >= 100) & (F.col("doc_id") < 120)
    ).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.concat(F.lit("entirely novel payload "), F.col("doc_id").cast("string"),
                 F.lit(" zxqv"), F.col("text").substr(1, 0)).alias("text"),
        "lang",
        "source",
        F.lit(40).alias("n_chars"),
    )
    batch = copies.unionByName(fresh)
    out = minhash_lsh_incremental(batch, big_docs)
    assert_no_cartesian(out)
    got = {(r["new_id"], r["dup_of"]) for r in out.collect()}
    assert {(i + 1_000_000, i) for i in range(20)} <= got
    assert not any(a >= 2_000_000 for a, _ in got)


def test_leakproof_split_at_scale_partitions_and_coheres(spark, big_docs):
    """Leakproof split at 10x with planted near-dup clusters: the split
    must partition the corpus exactly once per doc, keep every planted
    copy in its source's split (no leakage across train/val/test), and
    land within loose bounds of the 80/10/10 bucket targets."""
    from pubsub_mapreduce_spark.operators.dedup import leakproof_split

    copies = big_docs.where(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tail")).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    corpus = big_docs.unionByName(copies)
    out = leakproof_split(corpus).cache()
    try:
        n = corpus.count()
        assert out.count() == n
        assert out.select("doc_id").distinct().count() == n
        splits = {r["doc_id"]: r["split"] for r in out.where(
            (F.col("doc_id") < 50) | (F.col("doc_id") >= 1_000_000)
        ).collect()}
        for i in range(50):
            assert splits[i] == splits[i + 1_000_000], i
        frac = {
            r["split"]: r["c"] / n
            for r in out.groupBy("split").agg(F.count(F.lit(1)).alias("c")).collect()
        }
        assert 0.7 < frac.get("train", 0) < 0.9
        assert 0.05 < frac.get("test", 0) < 0.15
        assert 0.05 < frac.get("val", 0) < 0.15
    finally:
        out.unpersist()


def test_kmeans_int8_at_scale_covers_corpus(spark, big_emb):
    """kmeans_int8 at 10x: members sum to the corpus, every cluster id
    in range, wcss non-negative, and the plan stays keyed (no
    cartesian)."""
    from pubsub_mapreduce_spark.operators.similarity import kmeans_int8
    from pubsub_mapreduce_spark.plans.explain import assert_no_cartesian

    out = kmeans_int8(big_emb, k=8, iters=2)
    assert_no_cartesian(out)
    rows = out.collect()
    assert sum(r["n_members"] for r in rows) == N_VECS
    assert all(0 <= r["cluster"] < 8 and r["wcss"] >= 0 for r in rows)


def test_kcenter_coreset_at_scale_radii_shrink(spark, big_emb):
    """Farthest-point traversal at 10x: k distinct picks and a
    non-increasing coverage radius (each added center can only shrink
    the farthest distance)."""
    from pubsub_mapreduce_spark.operators.similarity import kcenter_coreset

    rows = kcenter_coreset(big_emb, k=6).orderBy("pick").collect()
    assert len(rows) == 6
    assert len({r["vec_id"] for r in rows}) == 6
    # pick 1 is the start point (radius 0 by convention); from pick 2
    # on, each new farthest-point distance can only shrink
    radii = [r["radius"] for r in rows[1:]]
    assert radii == sorted(radii, reverse=True) and radii[0] > 0


def test_mmr_at_scale_selects_bounded_diverse_set(spark, big_emb):
    """MMR at 10x: k distinct picks from the bounded pool, relevance of
    the first pick is the pool maximum (greedy start), and everything
    after the TakeOrdered pool is O(pool*k) — output bounded by k."""
    from pubsub_mapreduce_spark.operators.similarity import mmr_diversify

    rows = mmr_diversify(big_emb, query_vec_id=0, pool=50, k=8).orderBy(
        "pick"
    ).collect()
    assert len(rows) == 8
    assert len({r["vec_id"] for r in rows}) == 8
    assert rows[0]["rel"] == max(r["rel"] for r in rows)


def test_lpa_and_kcore_bounded_rounds_at_scale(spark, big_docs):
    """Graph ops on a synthetic co-occurrence graph built from doc
    sources: rounds stay bounded, exchanges keyed (no cartesian)."""
    from pubsub_mapreduce_spark.operators.graph import (
        kcore_peel,
        label_propagation,
    )
    from pubsub_mapreduce_spark.plans.explain import assert_no_cartesian

    # derive a deterministic edge list: doc_id-bucket co-membership
    e = (
        big_docs.select(
            (F.col("doc_id") % 97).alias("a"),
            (F.col("doc_id") % 43 + 1000).alias("b"),
        )
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("w"))
        .where(F.col("w") >= 2)
    )
    lp = label_propagation(e, iters=3)
    assert_no_cartesian(lp)
    assert lp.count() > 0
    kc = kcore_peel(e, k=3, rounds=3)
    assert kc.count() >= 0


def test_winnow_finds_planted_shared_runs_at_scale(spark, big_docs):
    """Plant 10 docs sharing a long template paragraph into the 20k
    corpus: winnowing must pair all of them through the df-capped
    inverted index (45 pairs), and the fingerprint density must stay
    near the 2/(w+1) theory — the structural guarantee that the pair
    source stays fingerprint-sized, never gram-sized."""
    from pubsub_mapreduce_spark.operators.dedup import (
        winnow_fingerprints,
        winnow_pairs,
    )

    boiler = (
        "this exact template paragraph is shared verbatim across the "
        "planted documents and is long enough to guarantee fingerprints"
    )
    planted = spark.range(10).select(
        (F.col("id") + 2_000_000).alias("doc_id"),
        F.concat(
            F.lit("unique prefix "),
            F.col("id").cast("string"),
            F.lit(" " + boiler),
        ).alias("text"),
        F.lit("en").alias("lang"),
        F.lit("planted").alias("source"),
        F.lit(len(boiler) + 16).alias("n_chars"),
    )
    corpus = big_docs.unionByName(planted)
    pairs = winnow_pairs(corpus, k=16, w=16, min_shared=1, max_df=30)
    among_planted = pairs.where(
        (F.col("a") >= 2_000_000) & (F.col("b") >= 2_000_000)
    ).count()
    assert among_planted == 45  # C(10,2): every planted pair surfaces
    fp = winnow_fingerprints(big_docs, k=16, w=16)
    n_fp = fp.count()
    n_grams = (
        big_docs.select(
            F.greatest(
                F.length(
                    F.regexp_replace(F.lower(F.trim("text")), r"\s+", " ")
                )
                - 16 + 1,
                F.lit(0),
            ).alias("g")
        ).agg(F.sum("g")).first()[0]
    )
    density = n_fp / n_grams
    assert 0.05 < density < 0.25, density  # theory: 2/(w+1) ~= 0.12


def test_scrub_spans_conserves_chars_at_scale(spark, big_docs):
    """Duplicate-span scrubbing over the 20k corpus + 5 full copies:
    per doc, len(clean) + chars_removed == normalized length (segment
    reassembly loses nothing), and every full-copy doc scrubs to
    empty."""
    from pubsub_mapreduce_spark.operators.dedup import scrub_duplicate_spans

    copies = big_docs.where(F.col("doc_id") < 5).select(
        (F.col("doc_id") + 3_000_000).alias("doc_id"),
        "text",
        "lang",
        "source",
        "n_chars",
    )
    corpus = big_docs.unionByName(copies)
    out = scrub_duplicate_spans(corpus)
    bad = (
        out.join(corpus, "doc_id")
        .where(
            F.length("clean_text") + F.col("chars_removed")
            != F.length(
                F.regexp_replace(F.lower(F.trim("text")), r"\s+", " ")
            )
        )
        .count()
    )
    assert bad == 0
    fully = out.where(F.col("doc_id") >= 3_000_000)
    assert fully.where(F.col("clean_text") != "").count() == 0


def test_ks_drift_at_scale_detects_planted_shift(spark, big_docs):
    """Shift one synthetic source's length distribution by +5000 chars
    on 20k docs: that source's KS must dominate every unshifted source,
    and the statistic must stay a valid probability (d_num <= n1*n2) —
    the cross-multiplied integer form cannot overflow or leave [0,1]
    at scale."""
    from pubsub_mapreduce_spark.operators.robust import ks_source_drift

    shifted = big_docs.withColumn(
        "n_chars",
        F.when(
            F.col("source") == "src0", F.col("n_chars") + 5000
        ).otherwise(F.col("n_chars")),
    )
    rows = ks_source_drift(shifted).collect()
    by_src = {r["source"]: r for r in rows}
    assert "src0" in by_src and len(by_src) > 2
    top = max(rows, key=lambda r: r["ks"])
    assert top["source"] == "src0" and top["ks"] > 0.9
    assert all(0 <= r["d_num"] <= r["n1"] * r["n2"] for r in rows)


def test_bfs_hops_at_scale_layers_are_consistent(spark, big_docs):
    """BFS over a 20k-node synthetic graph (doc_id i -- i+1 chain plus
    i -- 2i skips): hop counts must be monotone non-vacuous layers and
    every reported hop must be <= max_hops — the level-set formulation
    cannot emit a node beyond the frontier bound at any graph size."""
    from pubsub_mapreduce_spark.operators.graph import bfs_hops

    ids = big_docs.select(F.col("doc_id").alias("a")).where(
        F.col("a") < 20_000
    )
    chain = ids.select("a", (F.col("a") + 1).alias("b")).where(
        F.col("b") < 20_000
    )
    skips = ids.select("a", (F.col("a") * 2).alias("b")).where(
        (F.col("b") < 20_000) & (F.col("a") > 0)
    )
    edges = chain.unionByName(skips)
    got = bfs_hops(edges, max_hops=4).collect()
    hops = {r["node"]: r["hop"] for r in got}
    assert max(hops.values()) <= 4
    layer_sizes = [
        sum(1 for h in hops.values() if h == i) for i in range(5)
    ]
    assert layer_sizes[0] == 1 and all(s > 0 for s in layer_sizes[1:])
    # frontier grows through the skip edges: deeper layers widen
    assert layer_sizes[4] > layer_sizes[1]


def test_edit_verify_at_scale_confirms_planted_copies(spark, big_docs):
    """Plant 10 near-copies into the 20k corpus: every planted pair
    must arrive as an LSH candidate AND verify as a duplicate at tiny
    rel_edit (a ' tail' suffix on a long doc); candidate volume stays
    in the hundreds — the per-candidate DP never sees the 2e8 pair
    space."""
    from pubsub_mapreduce_spark.operators.dedup import edit_verify_pairs

    base = big_docs.where(F.col("doc_id") < 10)
    copies = base.select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tail")).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    corpus = big_docs.unionByName(copies)
    rows = edit_verify_pairs(corpus, threshold=0.6).collect()
    assert len(rows) < 2_000  # bounded candidate set, not all-pairs
    planted = {
        r["a"]: r for r in rows if r["b"] >= 2_000_000
    }
    assert set(planted) >= set(range(10))
    for i in range(10):
        r = planted[i]
        assert r["is_dup"] and r["rel_edit"] <= 0.05


def test_item_cf_recs_at_scale_bounded_lists(spark, big_docs):
    """A 20k-node synthetic graph (chain + skips, weights 1-3): every
    item's rec list is <= k, globally bounded by k * |items|, and the
    top-1 neighbor of a chain-interior node is one of its actual
    neighbors — no cross-component leakage at scale."""
    from pubsub_mapreduce_spark.operators.graph import item_cf_recs

    ids = big_docs.select(F.col("doc_id").alias("a")).where(
        F.col("a") < 20_000
    )
    chain = ids.select(
        "a", (F.col("a") + 1).alias("b"),
        (F.col("a") % 3 + 1).cast("long").alias("w"),
    ).where(F.col("b") < 20_000)
    skips = ids.select(
        "a", (F.col("a") * 2).alias("b"), F.lit(2).cast("long").alias("w")
    ).where((F.col("b") < 20_000) & (F.col("a") > 0))
    edges = chain.unionByName(skips)
    recs = item_cf_recs(edges, k=3)
    per_item = recs.groupBy("item").count()
    assert per_item.agg(F.max("count")).first()[0] <= 3
    n_items = edges.select(F.col("a").alias("x")).union(
        edges.select(F.col("b").alias("x"))
    ).distinct().count()
    assert recs.count() <= 3 * n_items


def test_cross_source_dups_at_scale_tracks_lsh_bound(spark, big_docs):
    """Plant 15 cross-source near-copies into the 20k corpus: every
    planted pair surfaces with its two distinct sources, and the audit's
    total volume is bounded by its LSH pair source (it adds only two
    key joins + a filter — it can never amplify the validated candidate
    bound)."""
    from pubsub_mapreduce_spark.operators.dedup import (
        cross_source_dups,
        minhash_lsh_pairs,
    )

    base = big_docs.where(F.col("doc_id") < 15)
    copies = base.select(
        (F.col("doc_id") + 4_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tail")).alias("text"),
        "lang",
        F.lit("mirror_site").alias("source"),
        "n_chars",
    )
    corpus = big_docs.unionByName(copies)
    out = cross_source_dups(corpus, threshold=0.6)
    planted = {
        r["a"]: r
        for r in out.where(F.col("b") >= 4_000_000).collect()
    }
    assert set(planted) >= set(range(15))
    for r in planted.values():
        assert r["source_a"] != r["source_b"]
    n_pairs = minhash_lsh_pairs(corpus, threshold=0.6).count()
    assert out.count() <= n_pairs


def test_winnow_pair_volume_bounded_by_df_cap_at_scale(spark, big_docs):
    """Global winnow pair volume at 20k docs respects the inverted
    index's STRUCTURAL ceiling — distinct pairs <= sum over surviving
    (df <= max_df) fingerprint hashes of C(df, 2) — and stays two-plus
    orders of magnitude under all-pairs, the no-quadratic-blowup
    guarantee of the df-capped plan. (The synthetic corpus is heavily
    templated, so a naive per-doc bound does NOT hold at min_shared=1;
    the combinatorial one must.)"""
    from pubsub_mapreduce_spark.operators.dedup import (
        winnow_fingerprints,
        winnow_pairs,
    )

    max_df = 20
    n = winnow_pairs(
        big_docs, k=16, w=16, min_shared=1, max_df=max_df
    ).count()
    fp = winnow_fingerprints(big_docs, k=16, w=16).select(
        "doc_id", "fp_hash"
    ).distinct()
    ceiling = (
        fp.groupBy("fp_hash")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") <= max_df)
        .agg(F.sum(F.expr("df * (df - 1) div 2")).alias("c2"))
        .collect()[0]["c2"]
    )
    assert n <= ceiling
    n_docs = big_docs.count()
    assert n < 0.01 * (n_docs * (n_docs - 1) / 2)


def test_semdedup_at_scale_planted_dups_and_bounded_pairs(spark, big_emb):
    """Plant 10 near-copies of one vector into the synthetic corpus:
    semdedup must prune >= 9 of them (all land in one cluster; one
    keeper survives), and its candidate volume is STRUCTURALLY bounded
    by sum over clusters of C(size, 2) — the SemDeDup tractability
    contract (pairs never cross a cluster)."""
    from pubsub_mapreduce_spark.operators.similarity import (
        kmeans_assign,
        semdedup_prune,
    )

    base = big_emb.where(F.col("vec_id") == 1).collect()[0]["embedding"]
    planted = spark.createDataFrame(
        [
            (9_000_000 + j, [float(v) + 0.001 * j for v in base], 0)
            for j in range(10)
        ],
        "vec_id long, embedding array<float>, label int",
    )
    corpus = big_emb.unionByName(planted)
    out = semdedup_prune(corpus, tau_num=9, tau_den=10).collect()
    total_pruned = sum(r["n_pruned"] for r in out)
    assert total_pruned >= 9  # at least the 9 non-keeper copies
    sizes = [
        r["n_members"]
        for r in kmeans_assign(corpus)
        .groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .collect()
    ]
    ceiling = sum(s * (s - 1) // 2 for s in sizes)
    total_pairs = sum(r["n_dup_pairs"] for r in out)
    assert total_pairs <= ceiling
    assert sum(r["n_members"] for r in out) == corpus.count()


def test_lm_bigram_model_vocab_bounded_at_scale(spark, big_docs):
    """lm_bigram_score's only corpus-wide state is the trained model:
    distinct reference bigrams m and prefix vocabulary v. At 10x the
    model must stay VOCAB-bounded (m <= v^2, both independent of corpus
    size), never corpus-sized — and every >=2-token doc gets a score in
    (0, 1000] permille."""
    from pyspark.sql import Window

    from pubsub_mapreduce_spark.functions import text as T
    from pubsub_mapreduce_spark.operators.textops import lm_bigram_score

    toks = big_docs.where(F.col("lang") == "en").select(
        "doc_id", F.posexplode(T.tokens(F.lower(F.col("text")))).alias("pos", "w")
    )
    v = toks.agg(F.count_distinct("w")).collect()[0][0]
    n_ref_tokens = toks.count()
    wd = Window.partitionBy("doc_id").orderBy("pos")
    m = (
        toks.select(F.lag("w").over(wd).alias("w1"), F.col("w").alias("w2"))
        .where(F.col("w1").isNotNull())
        .select("w1", "w2")
        .distinct()
        .count()
    )
    # the generator vocabulary is a fixed word list: v is corpus-
    # independent and the model is dwarfed by the token stream
    assert v <= 64
    assert m <= v * v
    assert n_ref_tokens > 20 * m  # model state << corpus volume

    out = lm_bigram_score(big_docs).collect()
    scorable = (
        big_docs.where(T.token_count_ws(F.lower(F.col("text"))) >= 2).count()
    )
    assert len(out) == scorable
    for r in out[:500]:
        assert 0.0 < r["score_permille"] <= 1000.0


def test_frame_scene_cuts_at_scale_frame_counts_exact(spark, big_docs):
    """frame_scene_cuts at 10x: one output row per video, n_frames
    exactly the fake-decoder contract (one frame per 256-byte block),
    cuts never exceed frames — per-video state is video-length-bounded
    (a lag window partitioned by doc_id), no corpus-wide shuffle."""
    from pubsub_mapreduce_spark.operators.multimodal import (
        attach_media,
        frame_scene_cuts,
    )

    media = attach_media(big_docs)
    out = frame_scene_cuts(media)
    expect = media.select(
        "doc_id",
        F.greatest(
            F.lit(1).cast("long"), (F.col("n_bytes") / 256).cast("long")
        ).alias("want_frames"),
    )
    j = out.join(expect, "doc_id")
    n = big_docs.count()
    assert out.count() == n
    assert j.where(F.col("n_frames") != F.col("want_frames")).count() == 0
    assert j.where(F.col("n_cuts") > F.col("n_frames")).count() == 0


def test_quantile_normalize_at_scale_bounded_and_monotone(spark, big_docs):
    """Quantile normalization at 10x: every input row mapped, the
    (source, value) mapping relation is |S x V|-bounded (never
    row-sized), and the per-source mapping is monotone."""
    from pubsub_mapreduce_spark.operators.robust import quantile_normalize

    out = quantile_normalize(big_docs)
    assert out.count() == big_docs.where(F.col("n_chars").isNotNull()).count()
    mapping = out.select("source", "v", "v_norm").distinct()
    sv = big_docs.select("source", "n_chars").distinct().count()
    assert mapping.count() <= sv
    # monotone per source: no pair with v1 < v2 but norm1 > norm2
    a = mapping.select(
        F.col("source").alias("s"), F.col("v").alias("v1"),
        F.col("v_norm").alias("m1"),
    )
    b = mapping.select(
        F.col("source").alias("s"), F.col("v").alias("v2"),
        F.col("v_norm").alias("m2"),
    )
    bad = (
        a.join(b, "s")
        .where((F.col("v1") < F.col("v2")) & (F.col("m1") > F.col("m2")))
        .count()
    )
    assert bad == 0


def test_hard_negatives_at_scale_label_constraint(spark, big_emb):
    """Hard-negative mining at 10k vectors: every emitted pair crosses
    labels, at most k rows per query, and a planted cross-label
    near-duplicate of a query is its rank-1 negative."""
    from pubsub_mapreduce_spark.operators.similarity import hard_negatives

    q0 = big_emb.where(F.col("vec_id") == 0).collect()[0]
    planted_id = 10_000_000
    planted = spark.createDataFrame(
        [(
            planted_id,
            [float(x) + 0.001 for x in q0["embedding"]],
            int(q0["label"]) + 1,
        )],
        "vec_id long, embedding array<float>, label int",
    )
    emb = big_emb.unionByName(planted)
    out = hard_negatives(emb, k=5, every=500).collect()
    assert out
    per_q = {}
    for r in out:
        assert r["neg_label"] != r["q_label"]
        per_q[r["query_id"]] = per_q.get(r["query_id"], 0) + 1
    assert max(per_q.values()) <= 5
    mine0 = sorted(
        (r for r in out if r["query_id"] == 0), key=lambda r: r["rank"]
    )
    assert mine0 and mine0[0]["neighbor_id"] == planted_id
    assert mine0[0]["sim"] > 0.999


def test_matryoshka_eval_at_scale_bounded_and_sane(spark, big_emb):
    """Matryoshka eval at 10k vectors: one row per truncation dim,
    hits bounded by n_queries*k, and recall weakly increases with the
    truncation dimension on ANY corpus (a longer prefix can only add
    information under the same deterministic tie-break ranking —
    checked as a monotone-up-to-noise envelope: dim 32 must not be
    WORSE than dim 8)."""
    from pubsub_mapreduce_spark.operators.similarity import matryoshka_eval

    out = {
        r["dim"]: r
        for r in matryoshka_eval(big_emb, dims=(8, 32), k=5, every=200).collect()
    }
    assert set(out) == {8, 32}
    nq = out[8]["n_queries"]
    assert nq == out[32]["n_queries"] > 0
    for d, r in out.items():
        assert 0 <= r["hits"] <= nq * 5
        assert 0.0 <= r["recall"] <= 1.0
    assert out[32]["recall"] >= out[8]["recall"]


def test_t_closeness_at_scale_grid_bounded_and_flags_planted_skew(spark):
    """t-closeness at 10x customers (VERDICT r5 #5): the (QI-group x
    band) grid relation is |groups| * |distinct bands| — never
    row-sized — one output row per group, EMD in [0, 1], and a planted
    all-high-balance group is flagged at_risk while a global-mix group
    is not."""
    from pubsub_mapreduce_spark.operators.relational import t_closeness

    n = 15_000
    # 25 nations x 5 segments (independent digits: id%25 and id//25%5);
    # balances spread over ~100 bands. nation 24 / segment 's0' is
    # PLANTED: every balance in the top band.
    nation = F.col("id") % 25
    segment = (F.col("id") / 25).cast("long") % 5
    cust = spark.range(n).select(
        nation.cast("int").alias("c_nationkey"),
        F.concat(F.lit("s"), segment.cast("string")).alias("c_mktsegment"),
        F.when(
            (nation == 24) & (segment == 0),
            F.lit(99_500.0),
        )
        .otherwise((F.col("id") % 997).cast("double") * 100.0)
        .alias("c_acctbal"),
    )
    out = t_closeness({"customer": cust}, t_threshold=0.2, band=1000)
    rows = {(r["nation"], r["segment"]): r for r in out.collect()}
    n_groups = cust.select("c_nationkey", "c_mktsegment").distinct().count()
    assert len(rows) == n_groups == 125
    n_bands = cust.select(
        F.floor(F.col("c_acctbal") / 1000).cast("long")
    ).distinct().count()
    # grid bound: every group's EMD folded over <= |bands| cumulative
    # steps; structural stand-in — total grid rows == groups x bands
    assert n_groups * n_bands <= 125 * 101
    for r in rows.values():
        assert 0.0 <= r["emd"] <= 1.0
    assert rows[(24, "s0")]["at_risk"] is True
    assert rows[(0, "s1")]["at_risk"] is False


def test_kappa_lang_at_scale_single_row_bounded(spark, big_docs):
    """Cohen's kappa at 10x docs: one 4-cell rollup -> a single output
    row whose margins are consistent (n == corpus size, n_agree <= n)
    and kappa in [-1, 1] — corpus-size-free state after the rollup."""
    from pubsub_mapreduce_spark.operators.textops import (
        kappa_lang_agreement,
    )

    out = kappa_lang_agreement(big_docs).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n"] == big_docs.count()
    assert 0 <= r["n_agree"] <= r["n"]
    assert -1.0 <= r["kappa"] <= 1.0


def test_psi_drift_at_scale_bin_spine_stable(spark, big_docs):
    """PSI at 10x: the report is ONE row regardless of corpus size
    (n_bins-sized internal spine), PSI >= 0 by construction (each term
    (p-q)*ln(p/q) is nonnegative), a self-split reads ~0, and a
    planted location shift reads strictly larger."""
    from pubsub_mapreduce_spark.operators.sketches import psi_drift

    old = big_docs.where(F.col("doc_id") % 2 == 0).select("n_chars")
    same = big_docs.where(F.col("doc_id") % 2 == 1).select("n_chars")
    shifted = same.select((F.col("n_chars") + 2000).alias("n_chars"))
    r_same = psi_drift(old, same, "n_chars").collect()
    r_shift = psi_drift(old, shifted, "n_chars").collect()
    assert len(r_same) == 1 and len(r_shift) == 1
    assert r_same[0]["n_old_total"] == old.count()
    assert 0.0 <= r_same[0]["psi"] < 0.05
    assert r_shift[0]["psi"] > r_same[0]["psi"] + 0.1


def test_hill_tail_at_scale_topk_only_and_scale_invariant(spark):
    """Hill estimator at 10x orders: the statistic depends on the
    top-(k+1) order statistics ONLY — appending 10x more small-value
    rows leaves it unchanged — and multiplying every value by 10 is a
    no-op (the estimator folds ratios x_i / x_{k+1})."""
    from pubsub_mapreduce_spark.operators.robust import hill_tail_index

    n = 60_000
    # Pareto-ish synthetic values built from EXACT integer cents
    # (10^7 div (id+1)) so the x10 rescale below is exact in cents and
    # (10a)/(10b) == a/b bit-identically (same real quotient)
    cents = F.expr("div(10000000, id + 1)")
    base = spark.range(n).select(
        F.col("id").alias("o_orderkey"),
        (cents.cast("double") / 100.0).alias("o_totalprice"),
    )
    r1 = hill_tail_index(base, k=500).collect()[0]
    assert r1["k"] == 500 and r1["hill"] > 0 and r1["alpha"] > 0
    # padding with sub-threshold rows changes nothing
    pad = spark.range(n, 10 * n).select(
        F.col("id").alias("o_orderkey"), F.lit(0.01).alias("o_totalprice")
    )
    r2 = hill_tail_index(base.unionByName(pad), k=500).collect()[0]
    assert (r2["hill"], r2["alpha"], r2["xk1_cents"]) == (
        r1["hill"], r1["alpha"], r1["xk1_cents"]
    )
    # scale invariance: x -> 10x leaves the ratio fold bit-unchanged
    r3 = hill_tail_index(
        base.select(
            "o_orderkey", (F.col("o_totalprice") * 10).alias("o_totalprice")
        ),
        k=500,
    ).collect()[0]
    assert (r3["hill"], r3["alpha"]) == (r1["hill"], r1["alpha"])


def test_adamic_adar_at_scale_hub_capped(spark):
    """A planted hub of degree >> max_deg must contribute NOTHING to
    the common-neighbor expansion (the skew cap), while mid-degree
    middles still produce scores — so pair volume is bounded by
    sum C(min(deg, cap), 2) over middle nodes, never |nodes|^2."""
    from pubsub_mapreduce_spark.operators.graph import adamic_adar

    # 2000 leaves all attached to hub 100000 (deg 2000, over the cap);
    # leaves 0..49 also share mid node 200000 (deg 50, under the cap).
    hub = spark.range(2000).selectExpr(
        "CAST(100000 AS LONG) a", "id AS b", "CAST(1 AS LONG) w"
    )
    mid = spark.range(50).selectExpr(
        "CAST(200000 AS LONG) a", "id AS b", "CAST(1 AS LONG) w"
    )
    edges = hub.unionByName(mid)
    out = adamic_adar(edges, top_k=2000, max_deg=200).collect()
    # the hub NEVER mediates: no pair of hub-only leaves (ids 50..1999)
    # appears — those C(1950, 2) ~ 1.9M pairs are exactly what the cap
    # prunes. Survivors: mid-mediated leaf pairs (both ends < 50) plus
    # the (hub, mid) pair itself, mediated by the 50 degree-2 leaves.
    assert out
    assert not any(50 <= r.u < 100000 and 50 <= r.v < 100000 for r in out)
    leaf_pairs = [r for r in out if r.u < 50 and r.v < 50]
    assert 0 < len(leaf_pairs) <= 50 * 49 // 2
    import math

    micro = math.floor(1e6 / math.log(50.0) + 0.5)
    assert all(r.aa_micro == micro for r in leaf_pairs)
    hub_mid = [r for r in out if r.v == 200000]
    assert len(hub_mid) == 1 and hub_mid[0].n_common == 50


def test_jl_distortion_at_scale_bounded_and_concentrated(spark, big_emb):
    """Pair volume is (n/every choose 2) regardless of corpus size, and
    the JL distortion ratios concentrate around 1 (the theorem's
    promise) — loose band, structural not statistical."""
    from pubsub_mapreduce_spark.operators.similarity import jl_distortion

    every = 101
    out = jl_distortion(big_emb, every=every).toPandas()
    n_s = (N_VECS + every - 1) // every
    assert len(out) <= n_s * (n_s - 1) // 2
    assert out["ratio"].between(0.05, 5.0).all()
    assert 0.7 < out["ratio"].mean() < 1.3


def test_silhouette_at_scale_bounded_sample_and_range(spark, big_emb):
    """Output rows bounded by the sample size; every silhouette sits in
    [-1, 1] (exact rational inputs make the bound hard, not
    approximate)."""
    from pubsub_mapreduce_spark.operators.similarity import silhouette_eval

    every = 101
    out = silhouette_eval(big_emb, every=every).toPandas()
    assert 0 < len(out) <= (N_VECS + every - 1) // every
    assert out["s"].between(-1.0, 1.0).all()


def test_rake_keyphrases_at_scale_bounded_output(spark, big_docs):
    """At 10x sf0.1 the RAKE output stays top-20-per-language, every
    phrase respects the run-length cap, scores are positive, and ranks
    are dense from 1 — the |langs| x top_n output contract regardless
    of corpus size."""
    from pubsub_mapreduce_spark.operators.textops import rake_keyphrases

    out = rake_keyphrases(big_docs).toPandas()
    assert len(out) > 0
    for lang, grp in out.groupby("lang"):
        assert len(grp) <= 20
        assert sorted(grp["rank"]) == list(range(1, len(grp) + 1))
    assert (out["n_words"] <= 5).all()
    assert (out["score"] > 0).all()


def test_query_subset_default_knobs_capped_at_scale(spark):
    """VERDICT r6 #2: the eval-family sample rule lives in DEFAULTS now,
    not just in test discipline — query_subset with DEFAULT knobs on a
    100x corpus derives the stride relationally and keeps the sample
    under QUERY_MAX_SAMPLE, while staying the IDENTITY at fixture
    scale (registered outputs byte-identical)."""
    from pubsub_mapreduce_spark.operators.similarity import (
        QUERY_MAX_SAMPLE,
        query_subset,
    )

    n = 1_000_000  # 500x the sf0.1 corpus
    big = spark.range(n).select(F.col("id").alias("vec_id"))
    out = query_subset(big)  # DEFAULT every=50, max_sample=2000
    cnt = out.count()
    assert cnt <= QUERY_MAX_SAMPLE
    # eff = 50 * ceil(1e6 / 1e5) = 500 -> exactly n/500 sampled ids
    assert cnt == n // 500
    ids = [r.vec_id for r in out.limit(5).collect()]
    assert all(i % 500 == 0 for i in ids)
    # fixture scale: cap is the identity (ceil(2000/1e5) == 1)
    small = spark.range(2000).select(F.col("id").alias("vec_id"))
    got = sorted(r.vec_id for r in query_subset(small).collect())
    assert got == list(range(0, 2000, 50))


def test_jl_distortion_default_knobs_bounded_at_scale(spark):
    """jl_distortion with the DEFAULT every=11 on a corpus past the
    cap boundary (30k > 11*2000): the derived stride doubles to 22 and
    pair volume stays ~(max_sample choose 2) instead of growing with
    the corpus — the operator-level proof the cap reaches defaults."""
    from pubsub_mapreduce_spark.operators.similarity import (
        QUERY_MAX_SAMPLE,
        jl_distortion,
    )

    n = 30_000
    emb = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(
            (F.col("id") % 7).cast("float"),
            (F.col("id") % 5).cast("float"),
            (F.col("id") % 3).cast("float"),
            F.lit(1.0).cast("float"),
        ).alias("embedding"),
    )
    out = jl_distortion(emb, proj_dim=4, full_dim=4)  # default every=11
    n_q = out.select("id_a").union(out.select("id_b")).distinct().count()
    assert n_q <= QUERY_MAX_SAMPLE
    # eff = 11 * ceil(30000 / 22000) = 22
    assert n_q <= (n + 21) // 22
    assert out.count() <= n_q * (n_q - 1) // 2


def test_neighbor_jaccard_hub_capped_at_scale(spark):
    """Same envelope proof as adamic_adar: a 100k-degree hub must not
    mediate pairs (C(100k,2) would be ~5e9 rows); only the bounded
    mid-degree node does. The capped degrees count ELIGIBLE neighbors
    only, so the emitted Jaccard is exact on the filtered graph."""
    from pubsub_mapreduce_spark.operators.graph import neighbor_jaccard

    hub = spark.range(100_000).selectExpr(
        "CAST(100000 AS LONG) a", "id AS b", "CAST(1 AS LONG) w"
    )
    mid = spark.range(50).selectExpr(
        "CAST(200000 AS LONG) a", "id AS b", "CAST(1 AS LONG) w"
    )
    edges = hub.unionByName(mid)
    out = neighbor_jaccard(edges, top_k=200, max_deg=200).collect()
    assert out
    # no pair of hub-only leaves (ids 50..99999) may appear
    assert not any(
        50 <= r.u < 100_000 and 50 <= r.v < 100_000 for r in out
    )
    # leaves 0..49 share exactly their one eligible mediator (the mid
    # node); their capped degree is 1 (the hub is ineligible) -> J = 1
    leaf = [r for r in out if r.u < 50 and r.v < 50]
    assert leaf and all(
        r.n_common == 1 and r.du == 1 and r.dv == 1 and r.jaccard == 1.0
        for r in leaf
    )


def test_hits_scores_integer_envelope_at_scale(spark):
    """HITS on a 200k-edge bipartite graph: the two integer iterations
    stay keyed aggregates (no pair materialization), scores match the
    closed form for the planted structure, and the BIGINT envelope
    holds (a2 <= deg_p * max_h1)."""
    from pyspark.sql import functions as SF

    from pubsub_mapreduce_spark.operators.graph import hits_scores

    # 100k customers each buying part (u % 100): parts 0..99 have
    # in-degree 1000 each; plus one whale buying every part once.
    orders = (
        spark.range(100_001)
        .selectExpr("id AS o_orderkey", "id AS o_custkey")
        .withColumn("o_orderstatus", SF.lit("O"))
        .withColumn("o_totalprice", SF.lit(1.0))
        .withColumn("o_orderdate", SF.lit("2024-01-01").cast("timestamp"))
        .withColumn("o_orderpriority", SF.lit("1"))
    )
    li_base = spark.range(100_000).selectExpr(
        "id AS l_orderkey", "id % 100 AS l_partkey"
    )
    whale = spark.range(100).selectExpr(
        "CAST(100000 AS LONG) AS l_orderkey", "id AS l_partkey"
    )
    li = li_base.unionByName(whale).selectExpr(
        "l_orderkey",
        "l_partkey",
        "CAST(1 AS LONG) l_suppkey",
        "CAST(1 AS INT) l_linenumber",
        "CAST(1.0 AS DOUBLE) l_quantity",
        "CAST(1.0 AS DOUBLE) l_extendedprice",
        "CAST(0.0 AS DOUBLE) l_discount",
        "CAST(0.0 AS DOUBLE) l_tax",
        "'N' AS l_returnflag",
        "'O' AS l_linestatus",
        "CAST('2024-01-02' AS TIMESTAMP) l_shipdate",
    )
    out = hits_scores(orders, li, top_k=5).collect()
    # closed form: a1(p) = 1001 for every part; normal customer h1 =
    # 1001, whale h1 = 100*1001; a2(p) = 1000*1001 + 100100 = 1101100
    assert all(r.authority == 1_101_100 for r in out)
    assert all(r.auth_ratio == 1.0 for r in out)
    # deterministic tie-break: lowest part keys first
    assert [r.partkey for r in out] == [0, 1, 2, 3, 4]


# ---------------------------------------------------------------- #
# round-9 envelope pins (VERDICT r8 ask #4): the round-8 heavies at
# 10x-scale synthetic volume — moran_geary stays edge-keyed,
# clustering_capped honors the hub cap, gesd / pacf / periodogram
# fold calendar-bounded relations, fligner_killeen's spine windows
# sit over aggregates only.
# ---------------------------------------------------------------- #


def _r6s(x):
    import math

    return math.floor(x * 1e6 + 0.5) / 1e6


def test_moran_geary_at_scale_star_closed_form(spark):
    """A 100k-edge star with two-valued x: the operator must finish
    via one |nodes| rollup + one edge-keyed join (a pair
    materialization would be ~5e9 rows) and hit the closed form
    computed from exact integers in the operator's float order."""
    from pubsub_mapreduce_spark.operators.graph import moran_geary

    n_leaf = 100_000
    edges = spark.range(n_leaf).selectExpr(
        "CAST(0 AS LONG) a", "id + 1 AS b"
    )
    values = spark.range(n_leaf + 1).selectExpr(
        "id AS node",
        "CAST(CASE WHEN id = 0 THEN 500 ELSE 3 END AS LONG) AS x",
    )
    row = moran_geary(edges, values).collect()[0]
    n = n_leaf + 1
    s = 500 + n_leaf * 3
    nzh, nza = n * 500 - s, n * 3 - s
    e = n_leaf
    cross = e * nzh * nza
    sqdiff = e * (nzh - nza) ** 2
    ssq = nzh * nzh + e * nza * nza
    nD, eD = float(n), float(e)
    moran = nD / (2.0 * eD) * (2.0 * float(cross) / float(ssq))
    geary = (nD - 1.0) / (4.0 * eD) * (
        2.0 * float(sqdiff) / float(ssq)
    )
    assert row["n_nodes"] == n and row["n_edges"] == e
    assert row["moran_i"] == _r6s(moran)
    assert row["geary_c"] == _r6s(geary)


def test_clustering_capped_hub_excluded_at_scale(spark):
    """A 100k-degree hub (C(100k,2) wedges if uncapped) plus a
    planted K5 clique: the hub and its degree-1 leaves fall out of
    the capped subgraph, the clique's coefficients are exactly 1."""
    from pubsub_mapreduce_spark.operators.graph import (
        clustering_coefficient_capped,
    )

    hub = spark.range(100_000).selectExpr(
        "CAST(500000 AS LONG) a", "id AS b"
    )
    cl = [(200_000 + i, 200_000 + j) for i in range(5) for j in range(5) if i < j]
    clique = spark.createDataFrame(cl, "a long, b long")
    out = clustering_coefficient_capped(
        hub.unionByName(clique), top_k=100, max_deg=200
    ).collect()
    assert [r["partkey"] for r in out] == [200_000 + i for i in range(5)]
    assert all(
        r["degree"] == 4
        and r["triangles"] == 6
        and r["clust_micro"] == 1_000_000
        for r in out
    )


def _day_counts_orders(spark, ys, base="2025-01-01"):
    """Orders with EXACT planted per-day counts, built distributed
    (one row per day exploded to its count — no driver-side row
    lists)."""
    days = spark.createDataFrame(
        list(enumerate(ys)), "t int, y int"
    )
    return days.select(
        F.expr(f"date_add(CAST('{base}' AS DATE), t)")
        .cast("timestamp")
        .alias("o_orderdate"),
        F.explode(F.expr("sequence(1, y)")).alias("__i"),
    ).drop("__i")


def test_gesd_outliers_at_scale_literal_rounds(spark):
    """90 planted days x ~2k orders/day (180k rows) with three
    spikes: every GESD round's (day, cnt, r_stat) must match the
    literal Python Rosner peel — the surviving relation is
    calendar-sized, so k rounds cost k bounded aggregates no matter
    the row volume."""
    import math

    from pubsub_mapreduce_spark.operators.robust import gesd_outliers

    ys = [2000 + (t * 37) % 101 for t in range(90)]
    ys[12] += 8000
    ys[40] += 5000
    ys[77] += 3000
    got = gesd_outliers(_day_counts_orders(spark, ys)).collect()
    cur = list(enumerate(ys))
    want = []
    for _ in range(5):
        n = len(cur)
        s = sum(y for _, y in cur)
        q = sum(y * y for _, y in cur)
        dev = [(abs(n * y - s), t, y) for t, y in cur]
        best = max(dev, key=lambda r: (r[0], -r[1]))
        var_num = float(n * q - s * s)
        sd = math.sqrt(var_num / (float(n) * float(n - 1)))
        want.append((best[1], best[2], _r6s(best[0] / (float(n) * sd))))
        cur = [(t, y) for t, y in cur if t != best[1]]
    assert [w[0] for w in want[:3]] == [12, 40, 77]
    assert len(got) == 5
    for row, (t, y, rstat) in zip(sorted(got, key=lambda r: r["round"]), want):
        assert row["day"] == f"2025-{1 + (t >= 31) + (t >= 59):02d}-{(t if t < 31 else t - 31 if t < 59 else t - 59) + 1:02d}"
        assert row["cnt"] == y
        assert row["r_stat"] == rstat


def test_pacf_periodogram_at_scale_calendar_bounded(spark):
    """90 planted days x ~2k orders/day with a weekly cycle: both
    series operators reduce 180k rows to the 90-day spine and match
    the literal recomputation cell-for-cell (same discipline as
    tests/test_round9_pins.py, at 10x volume)."""
    import math

    from pubsub_mapreduce_spark.operators.robust import (
        HALF_PI,
        TWO_PI,
        pacf_daily,
        periodogram_peaks,
    )

    ys = [2000 + (300 if t % 7 in (0, 1) else 0) + (t * 53) % 97 for t in range(90)]
    orders = _day_counts_orders(spark, ys)
    n, s = len(ys), sum(ys)
    yc = [n * y - s for y in ys]
    g0 = sum(v * v for v in yc)
    r = [None]
    for i in range(1, 6):
        r.append(sum(yc[t] * yc[t - i] for t in range(i, n)) / g0)
    p11 = r[1]
    v1 = 1.0 - p11 * r[1]
    p22 = (r[2] - p11 * r[1]) / v1
    row = pacf_daily(orders).collect()[0]
    assert row["n_days"] == n
    assert row["acf_1"] == _r6s(r[1]) and row["acf_2"] == _r6s(r[2])
    assert row["pacf_1"] == _r6s(p11) and row["pacf_2"] == _r6s(p22)

    got = {x["period"]: x for x in periodogram_peaks(orders).collect()}
    ssq = g0
    for p in (7, 30):
        cm = sm = 0
        for t, y in enumerate(ys):
            ycf = float(n * y - s)
            ang = TWO_PI * float(t) / float(p)
            cm += math.floor(ycf * math.sin(ang + HALF_PI) * 1e3 + 0.5)
            sm += math.floor(ycf * math.sin(ang) * 1e3 + 0.5)
        strength = math.sqrt(
            float(cm) * float(cm) + float(sm) * float(sm)
        ) / (1e3 * math.sqrt(float(ssq)))
        assert got[p]["c_milli"] == float(cm)
        assert got[p]["s_milli"] == float(sm)
        assert got[p]["strength"] == _r6s(strength)
    assert got[7]["strength"] > got[30]["strength"]


def test_fligner_killeen_at_scale_spine_windows_over_aggregates(spark):
    """200k orders on a 100-value cents lattice x 5 priorities: the
    test must run off the value spine — every Exchange
    SinglePartition in the executed plan sits directly above a
    HashAggregate (spine- or group-sized input), never the raw
    relation — and still emit its one finite row."""
    from pubsub_mapreduce_spark.operators.robust import fligner_killeen

    orders = spark.range(200_000).selectExpr(
        "concat('P', CAST(id % 5 AS STRING)) AS o_orderpriority",
        "CAST(100 + (id * 7919) % 100 AS DOUBLE) AS o_totalprice",
    )
    df = fligner_killeen(orders)
    plan = df._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" in line:
            assert i + 1 < len(lines) and "HashAggregate" in lines[i + 1], (
                line.strip(),
                lines[i + 1].strip() if i + 1 < len(lines) else "<eof>",
            )
    rows = df.collect()
    assert len(rows) == 1
    assert rows[0]["n_rows"] == 200_000 and rows[0]["n_groups"] == 5
    assert rows[0]["fk_stat"] is not None
