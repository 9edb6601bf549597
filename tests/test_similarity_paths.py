"""The two brute-force top-k formulations — JVM HOF per-pair scoring vs
Arrow/Pandas-UDF BLAS matmul — must produce the SAME ranking (they
compute the same cosine, only the summation strategy differs)."""

from __future__ import annotations

from pubsub_mapreduce_spark.operators.similarity import (
    cosine_topk,
    cosine_topk_matmul,
)


def test_matmul_topk_matches_hof(tables):
    emb = tables["embeddings"]
    hof = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["sim"])
        for r in cosine_topk(emb, k=5, every=50).collect()
    }
    mat = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["sim"])
        for r in cosine_topk_matmul(emb, k=5, every=50).collect()
    }
    assert hof.keys() == mat.keys()
    for key, (n_hof, s_hof) in hof.items():
        n_mat, s_mat = mat[key]
        assert n_mat == n_hof, (key, n_hof, n_mat)
        assert abs(s_mat - s_hof) < 1e-9, (key, s_hof, s_mat)


def test_quantize_embeddings_quality(spark, tables):
    """int8 quantization contract: per-vector max reconstruction error
    <= scale/2 by construction, and cosine(x, dequant(x)) >= 0.995 —
    the fidelity that makes int8 the storage format for a 100TB store."""
    from pubsub_mapreduce_spark.operators.similarity import quantize_embeddings

    out = quantize_embeddings(tables["embeddings"]).collect()
    assert out
    for r in out:
        assert r["n_dims"] == 64
        assert r["max_abs_err"] <= r["scale_r"] / 2 + 1e-6, r

    # fidelity: dequantized vectors stay nearly parallel to the originals
    from pyspark.sql import functions as F

    from pubsub_mapreduce_spark.functions.vectors import cosine

    emb = tables["embeddings"]
    qmax = 127.0
    scale = F.array_max(F.transform("embedding", lambda v: F.abs(v))).cast(
        "double"
    ) / F.lit(qmax)
    deq = F.transform(
        "embedding",
        lambda v: F.floor(v.cast("double") / F.col("s") + F.lit(0.5))
        * F.col("s"),
    )
    fid = (
        emb.withColumn("s", F.when(scale > 0, scale).otherwise(F.lit(1.0)))
        .withColumn("deq", deq)
        .select(F.min(cosine(F.col("embedding"), F.col("deq"))).alias("m"))
        .first()["m"]
    )
    assert fid >= 0.995, fid


def test_pca_invariants(spark, tables):
    """PCA family is rows-only checked by the driver (float64 moments
    are not summation-order-reproducible), so the math is pinned here:
    trace == sum of eigenvalues, components orthonormal, per-component
    projected variance == its eigenvalue, explained fractions sum
    toward 1 monotonically."""
    import numpy as np

    from pubsub_mapreduce_spark.operators.similarity import (
        _pca_eig,
        pca_project,
        pca_variance_report,
    )

    emb = tables["embeddings"]
    vals, vecs, mean, n = _pca_eig(emb)
    X = np.stack([r["embedding"] for r in emb.select("embedding").collect()])
    X = X.astype(np.float64)
    cov = np.cov(X, rowvar=False, bias=True)
    assert abs(vals.sum() - np.trace(cov)) < 1e-9 * abs(np.trace(cov))
    assert np.allclose(vecs.T @ vecs, np.eye(vecs.shape[1]), atol=1e-9)
    assert all(vals[i] >= vals[i + 1] - 1e-12 for i in range(len(vals) - 1))
    proj = pca_project(emb, k=4).toPandas()
    P = np.stack(proj["proj"].to_numpy())
    pv = P.var(axis=0)  # biased variance matches the /n covariance
    assert np.allclose(pv, vals[:4], rtol=1e-6)
    rep = pca_variance_report(emb, k=4).collect()
    cums = [r["cumulative"] for r in rep]
    assert cums == sorted(cums) and cums[-1] <= 1.0 + 1e-12
