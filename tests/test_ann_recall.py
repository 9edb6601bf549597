"""ANN quality gates: approximate top-k must actually find the
neighbors (recall vs the exact brute force). These floors caught a real
bug — single-table 8-bit LSH measured 2% recall before the multi-table
OR-amplification rewrite (88-97% across SFs)."""

from __future__ import annotations

from pubsub_mapreduce_spark.operators.similarity import (
    ann_ivf_topk,
    ann_lsh_topk,
    cosine_topk,
)


def pairs(df):
    return {(r["query_id"], r["neighbor_id"]) for r in df.collect()}


def test_lsh_recall_floor(tables):
    emb = tables["embeddings"]
    exact = pairs(cosine_topk(emb, k=5, every=50))
    got = pairs(ann_lsh_topk(emb, k=5, every=50))
    recall = len(exact & got) / len(exact)
    assert recall >= 0.8, f"multi-table LSH recall {recall:.2f} < 0.8"


def test_ivf_recall_floor(tables):
    emb = tables["embeddings"]
    exact = pairs(cosine_topk(emb, k=5, every=50))
    got = pairs(ann_ivf_topk(emb, k=5, every=50))
    recall = len(exact & got) / len(exact)
    assert recall >= 0.9, f"IVF recall {recall:.2f} < 0.9"


def test_ivf_refined_recall_and_inertia(spark, tables):
    """One Lloyd iteration must not break recall, and must not DECREASE
    total assignment similarity (the k-means objective, spherical form)."""
    from pyspark.sql import functions as F

    from pubsub_mapreduce_spark.operators.similarity import (
        _as_double,
        _nearest_centroid,
        ann_ivf_topk,
        refine_centroids,
    )

    emb = tables["embeddings"]
    exact = pairs(cosine_topk(emb, k=5, every=50))
    got = pairs(ann_ivf_topk(emb, k=5, every=50, refine_iters=1))
    recall = len(exact & got) / len(exact)
    assert recall >= 0.9, f"refined IVF recall {recall:.2f} < 0.9"

    e = _as_double(emb).select("vec_id", "embedding")
    seed = [
        (int(r["vec_id"]), list(r["embedding"]))
        for r in sorted(
            e.where(F.col("vec_id") % 100 == 0).collect(),
            key=lambda r: r["vec_id"],
        )
    ]
    refined = refine_centroids(e, seed, iters=1)

    def inertia(cents):
        return e.select(
            _nearest_centroid(cents, "embedding")["csim"].alias("s")
        ).agg(F.sum("s")).first()[0]

    assert inertia(refined) >= inertia(seed) - 1e-9


def test_knn_graph_matmul_exact_and_lsh_floor(spark, tables):
    """Corpus-wide kNN at every=1: the blocked BLAS matmul kernel must
    EQUAL the exact HOF top-k pair-for-pair (it remains the exact
    reference the celled knn_graph is recall-tested against); the LSH
    formulation at the same k keeps its recall floor (it wins only when
    cluster structure is strong)."""
    from pubsub_mapreduce_spark.operators.similarity import (
        ann_lsh_topk,
        cosine_topk,
        cosine_topk_matmul,
    )

    k = 3
    exact = cosine_topk(tables["embeddings"], k=k, every=1).collect()
    truth: dict[int, set[int]] = {}
    for r in exact:
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    mm = cosine_topk_matmul(tables["embeddings"], k=k, every=1).collect()
    mm_pairs = {(r["query_id"], r["neighbor_id"]) for r in mm}
    assert mm_pairs == {
        (q, n) for q, ns in truth.items() for n in ns
    }, "matmul kNN graph diverged from exact"

    approx = ann_lsh_topk(tables["embeddings"], k=k, every=1).collect()
    per_node: dict[int, set[int]] = {}
    for r in approx:
        assert r["query_id"] != r["neighbor_id"]
        per_node.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    assert max(len(v) for v in per_node.values()) <= k
    hits = sum(len(per_node.get(q, set()) & t) for q, t in truth.items())
    recall = hits / sum(len(t) for t in truth.values())
    assert recall >= 0.80, f"LSH kNN-graph recall {recall:.3f} below floor"


def test_lsh_near_pairs_finds_planted_duplicates(spark, tables):
    """The production near-dup regime: plant a perturbed copy of every
    fixture vector (cosine ~0.99 to its original) and require the
    LSH-bucketed pair source to surface EVERY planted pair at a 0.98
    threshold — at true near-dup sims the 16x8 index's per-pair miss
    probability is ~1e-8, so full recall is the expectation, not luck.
    (At the fixtures' isotropic 0.45 tail recall is structurally ~50%;
    that regime is covered by the exact-form parity test below.)"""
    from pyspark.sql import functions as F

    from pubsub_mapreduce_spark.operators.similarity import (
        _as_double,
        lsh_near_pairs,
    )
    from pubsub_mapreduce_spark.functions.vectors import cosine

    e = _as_double(tables["embeddings"]).select("vec_id", "embedding")
    noisy = F.expr(
        "transform(embedding, (v, i) -> v + 0.02 * sin(CAST(vec_id * 67 + i AS DOUBLE)))"
    )
    dups = e.select((F.col("vec_id") + 10000).alias("vec_id"), noisy.alias("embedding"))
    corpus = e.unionByName(dups)

    # ground truth: planted pairs whose exact cosine clears the threshold
    truth_df = (
        e.alias("x")
        .join(
            dups.select(
                (F.col("vec_id") - 10000).alias("ovec"), F.col("embedding").alias("demb")
            ).alias("y"),
            F.col("x.vec_id") == F.col("y.ovec"),
        )
        .select(
            "x.vec_id",
            cosine(F.col("x.embedding"), F.col("y.demb")).alias("sim"),
        )
        .where(F.col("sim") >= 0.98)
    )
    truth = {(int(r["vec_id"]), int(r["vec_id"]) + 10000) for r in truth_df.collect()}
    assert len(truth) >= 400, "perturbation too large — planted dups not near-dups"

    found = {
        (r["a"], r["b"])
        for r in lsh_near_pairs(corpus, threshold=0.98).collect()
    }
    missed = truth - found
    assert not missed, f"LSH missed {len(missed)}/{len(truth)} planted dup pairs"


def test_lsh_near_pairs_subset_of_exact(tables):
    """Every LSH-surfaced pair must appear in the exact all-pairs result
    with the SAME rounded sim (the verify step is exact — LSH only
    filters candidates, never invents or rescores them)."""
    from pubsub_mapreduce_spark.operators.similarity import (
        embedding_near_pairs,
        lsh_near_pairs,
    )

    emb = tables["embeddings"]
    exact = {
        (r["a"], r["b"]): r["sim"]
        for r in embedding_near_pairs(emb, threshold=0.4).collect()
    }
    got = {
        (r["a"], r["b"]): r["sim"] for r in lsh_near_pairs(emb, threshold=0.4).collect()
    }
    assert got, "LSH pair set vacuously empty"
    for pair, sim in got.items():
        assert pair in exact and exact[pair] == sim


def test_ivf_knn_graph_recall_on_clustered_data(spark, tables):
    """ivf_knn_graph's contract is exact kNN within probed cells; on data
    WITH cluster structure (the workload IVF exists for) that must
    translate into near-perfect global recall. 10 planted clusters of 50
    perturbed copies each, centroid seeds one-per-cluster by
    construction (ids 0..49 = cluster 0, seeds at id % 50 == 0)."""
    from pyspark.sql import functions as F

    from pubsub_mapreduce_spark.operators.similarity import (
        _as_double,
        cosine_topk,
        ivf_knn_graph,
    )

    centers = (
        _as_double(tables["embeddings"])
        .where(F.col("vec_id") < 10)
        .select(F.col("vec_id").alias("cluster"), F.col("embedding").alias("cemb"))
    )
    ids = spark.range(500).select(
        F.col("id").alias("vec_id"), (F.col("id") / 50).cast("long").alias("cluster")
    )
    corpus = ids.join(centers, "cluster").select(
        "vec_id",
        F.expr(
            "transform(cemb, (v, i) -> v + 0.1 * sin(CAST(vec_id * 131 + i AS DOUBLE)))"
        ).alias("embedding"),
    )
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(corpus, k=3, every=1).collect()
    }
    got = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_knn_graph(
            corpus, k=3, centroid_every=50, n_max_centroids=64, nprobe=2
        ).collect()
    }
    recall = len(exact & got) / len(exact)
    assert recall >= 0.9, f"celled kNN recall {recall:.3f} < 0.9 on clustered data"


def test_ivf_centroids_bounded_and_ordered(tables):
    """The centroid collect is capped IN-PLAN: at most n_max rows reach
    the driver, in ascending vec_id order, regardless of corpus size."""
    from pubsub_mapreduce_spark.operators.similarity import _as_double, ivf_centroids

    e = _as_double(tables["embeddings"]).select("vec_id", "embedding")
    cents = ivf_centroids(e, centroid_every=10, n_max_centroids=7)
    assert len(cents) == 7
    ids = [c for c, _ in cents]
    assert ids == sorted(ids) and ids[0] == 0 and ids[-1] == 60


def test_behavioral_similarity_sparse_is_exact(spark, tables):
    """The sparse inverted-index form must equal brute-force top-k over
    the dense profiles pair-for-pair (integer-count arithmetic — no FP
    tolerance needed)."""
    from pubsub_mapreduce_spark.operators.similarity import (
        behavioral_similarity_sparse,
        cosine_topk,
        user_profile_vectors,
    )

    events = tables["events"]
    profiles = user_profile_vectors(events)
    exact = {
        (r["query_id"], r["neighbor_id"], r["rank"], r["sim"])
        for r in cosine_topk(profiles, k=5, every=1).collect()
    }
    got = {
        (r["user_id"], r["similar_user"], r["rank"], r["sim"])
        for r in behavioral_similarity_sparse(events, k=5).collect()
    }
    assert got == exact


def test_pq_adc_finds_planted_duplicates(spark, tables):
    """PQ quality gate in the regime PQ is for: plant a tiny-noise copy
    of every query vector; the copy's ADC distance to its original must
    rank top-1 (quantization error is per-subspace codeword radius —
    large vs isotropic strangers' gaps only when the true distance is
    near zero, which is exactly the near-dup case). Also pins the code
    domain: every code in [0, 16)."""
    from pyspark.sql import functions as F

    from pubsub_mapreduce_spark.operators.similarity import (
        _as_double,
        ann_pq_topk,
        pq_encode,
    )

    e = _as_double(tables["embeddings"]).select("vec_id", "embedding")
    noisy = F.expr(
        "transform(embedding, (v, i) -> v + 0.005 * sin(CAST(vec_id * 67 + i AS DOUBLE)))"
    )
    dups = e.select((F.col("vec_id") + 10000).alias("vec_id"), noisy.alias("embedding"))
    corpus = e.unionByName(dups)
    top1 = {
        r["query_id"]: r["neighbor_id"]
        for r in ann_pq_topk(corpus, k=1, every=50).collect()
        if r["query_id"] < 10000
    }
    assert top1, "no queries scored"
    missed = {q: n for q, n in top1.items() if n != q + 10000}
    assert not missed, f"ADC top-1 missed planted duplicates: {missed}"

    codes = pq_encode(e).select(F.explode("codes").alias("c")).collect()
    assert all(0 <= r["c"] < 16 for r in codes)


def test_ivfpq_finds_planted_duplicates(spark, tables):
    """IVF+PQ end to end: a tiny-noise copy lands in the same centroid
    cell as its original (assignment margin >> noise) and its ADC
    distance beats every stranger's — top-1 must be the planted copy."""
    from pyspark.sql import functions as F

    from pubsub_mapreduce_spark.operators.similarity import (
        _as_double,
        ann_ivfpq_topk,
    )

    e = _as_double(tables["embeddings"]).select("vec_id", "embedding")
    noisy = F.expr(
        "transform(embedding, (v, i) -> v + 0.005 * sin(CAST(vec_id * 67 + i AS DOUBLE)))"
    )
    dups = e.select((F.col("vec_id") + 10000).alias("vec_id"), noisy.alias("embedding"))
    corpus = e.unionByName(dups)
    top1 = {
        r["query_id"]: r["neighbor_id"]
        for r in ann_ivfpq_topk(corpus, k=1, every=50).collect()
        if r["query_id"] < 10000
    }
    assert top1, "no queries scored"
    missed = {q: n for q, n in top1.items() if n != q + 10000}
    assert not missed, f"IVFPQ top-1 missed planted duplicates: {missed}"


def test_multiprobe_recall_with_quarter_index(tables):
    """Multi-probe at 4 tables must reach the recall band of the
    16-table single-probe index (the claim it exists for: same recall,
    1/4 the index rows)."""
    from pubsub_mapreduce_spark.operators.similarity import (
        ann_lsh_multiprobe_topk,
    )

    emb = tables["embeddings"]
    exact = pairs(cosine_topk(emb, k=5, every=50))
    got = pairs(ann_lsh_multiprobe_topk(emb, k=5, every=50))
    recall = len(exact & got) / len(exact)
    assert recall >= 0.8, f"multi-probe recall {recall:.2f} < 0.8"
