"""MinHash-LSH quality floors vs the exact n-gram Jaccard ground truth
(sf0.01, same threshold): precision is 1.0 BY CONSTRUCTION (candidates
are exact-Jaccard-verified inside the operator), so the test pins what
the hash/banding choices can actually move — candidate recall."""

from __future__ import annotations

import pytest

from pubsub_mapreduce_spark.io import load_tables
from pubsub_mapreduce_spark.operators.dedup import (
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
)

from conftest import SF_MED


@pytest.fixture(scope="module")
def docs_med(spark):
    return load_tables(spark, SF_MED)["documents"]


def test_minhash_lsh_recall_floor_and_exact_precision(spark, docs_med):
    exact = {(r["a"], r["b"]): r["jaccard"] for r in ngram_jaccard_pairs(docs_med).collect()}
    got = {(r["a"], r["b"]): r["jaccard"] for r in minhash_lsh_pairs(docs_med).collect()}
    assert exact, "ground truth must be non-empty"
    # precision: every emitted pair is a true pair with the exact score
    assert set(got) <= set(exact)
    for pair, j in got.items():
        assert j == exact[pair]
    # recall floor: 16x4-bit banding at threshold 0.5 should catch ~all
    assert len(got) / len(exact) >= 0.9


def test_incremental_equals_full_restricted(spark, docs_med):
    """The incremental form must emit EXACTLY the full self-join's pairs
    that touch the new batch (both forms share signatures, banding, and
    the verify), re-oriented to (new_id, dup_of)."""
    from pyspark.sql import functions as F

    from pubsub_mapreduce_spark.operators.dedup import minhash_lsh_incremental

    corpus = docs_med.where(F.col("doc_id") % 10 < 8)
    new_batch = docs_med.where(F.col("doc_id") % 10 >= 8)
    new_ids = {r["doc_id"] for r in new_batch.select("doc_id").collect()}
    full = {
        (r["a"], r["b"]): r["jaccard"] for r in minhash_lsh_pairs(docs_med).collect()
    }
    expected = {
        (min(a, b), max(a, b)): j
        for (a, b), j in full.items()
        if a in new_ids or b in new_ids
    }
    got = {
        (min(r["new_id"], r["dup_of"]), max(r["new_id"], r["dup_of"])): r["jaccard"]
        for r in minhash_lsh_incremental(new_batch, corpus).collect()
    }
    assert got == expected
    assert all(r["new_id"] in new_ids for r in
               minhash_lsh_incremental(new_batch, corpus).collect())
