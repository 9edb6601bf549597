"""MinHash-LSH computes each relation once, plus the plan-audit signal
that catches an operator computing one subtree per consumer, and the
per-index ranking direction of ann_recall_report's fused window."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from pubsub_mapreduce_spark.io import load_tables
from pubsub_mapreduce_spark.operators import dedup
from pubsub_mapreduce_spark.operators import similarity as S
from pubsub_mapreduce_spark.plans.explain import (
    explain_str,
    keyed_shuffle_count,
    repeated_exchanges,
)

from conftest import SF_MED


@pytest.fixture(scope="module")
def docs_med(spark):
    return load_tables(spark, SF_MED)["documents"]


def _partial_min_aggregates(df) -> int:
    """HashAggregate nodes computing partial mins: one per signature
    aggregate in the plan."""
    return sum(
        1
        for block in explain_str(df).split("\n\n")
        if re.match(r"\(\d+\) HashAggregate", block) and "partial_min(" in block
    )


def test_minhash_lsh_forms_sign_once(spark, docs_med):
    """The pair form and the incremental form each run ONE signature
    aggregate, with pinned keyed shuffle counts: signatures, buckets, candidate distinct, and the
    shingle-set aggregate per verify side (AQE reuses the second at run
    time)."""
    corpus = docs_med.where(F.col("doc_id") % 10 < 8)
    new_batch = docs_med.where(F.col("doc_id") % 10 >= 8)
    forms = {
        "pairs": (dedup.minhash_lsh_pairs(docs_med), 5),
        "incremental": (dedup.minhash_lsh_incremental(new_batch, corpus), 5),
    }
    for name, (df, shuffles) in forms.items():
        assert _partial_min_aggregates(df) == 1, name
        assert keyed_shuffle_count(df) == shuffles, name


def test_minhash_lsh_threshold_zero_pairs_overlap(spark, docs_med):
    """At threshold 0.0 the set-based verify still emits only pairs that
    share a shingle, each scored exactly as the inverted-index
    ground truth scores it."""
    exact = {
        (r["a"], r["b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs_med, threshold=0.0).collect()
    }
    got = dedup.minhash_lsh_pairs(docs_med, threshold=0.0).collect()
    assert got, "expected candidate pairs"
    for r in got:
        assert r["jaccard"] > 0
        assert exact[(r["a"], r["b"])] == r["jaccard"]


_PLAN = """== Physical Plan ==
AdaptiveSparkPlan (9)

(1) Scan parquet
Output [2]: [doc_id#1L, text#2]

(2) Exchange
Input [2]: [doc_id#1L, text#2]
Arguments: RoundRobinPartitioning(8), REPARTITION_BY_NUM, [plan_id=10]

(3) Exchange
Input [2]: [doc_id#3L, text#4]
Arguments: RoundRobinPartitioning(8), REPARTITION_BY_NUM, [plan_id=11]

(4) Exchange
Input [2]: [doc_id#163L, buf#405]
Arguments: hashpartitioning(doc_id#163L, 8), ENSURE_REQUIREMENTS, [plan_id=590]

(5) Exchange
Input [2]: [doc_id#170L, buf#407]
Arguments: hashpartitioning(doc_id#170L, 8), ENSURE_REQUIREMENTS, [plan_id=613]

(6) Exchange
Input [2]: [doc_id#171L, buf#408]
Arguments: hashpartitioning(doc_id#171L, 8), ENSURE_REQUIREMENTS, [plan_id=614]

(7) Exchange
Input [3]: [band#5, bucket#6L, m#7]
Arguments: hashpartitioning(band#5, bucket#6L, 8), ENSURE_REQUIREMENTS, [plan_id=20]

(8) ReusedExchange [Reuses operator id: 7]
Output [3]: [band#8, bucket#9L, m#10]

(9) AdaptiveSparkPlan
Output [1]: [doc_id#1L]
"""


def test_repeated_exchanges_counts_unreused_copies():
    # three copies of one doc_id exchange count; the single band/bucket
    # exchange (reused, not repeated) and round-robin widening don't
    assert repeated_exchanges(_PLAN) == 3
    assert repeated_exchanges(_PLAN.replace("(6) Exchange", "(6) Sort")) == 2
    assert repeated_exchanges(_PLAN.replace("doc_id#170L, 8", "doc_id#170L, 4")) == 2


def test_repeated_exchanges_on_a_spark_plan(spark):
    """Two branches of one aggregate that differ only in a filter are
    not reused, and their exchanges are flagged; one branch is not."""
    base = (
        spark.range(1000)
        .withColumn("k", F.col("id") % 7)
        .groupBy("k")
        .agg(F.sum("id").alias("s"))
    )
    twice = base.where(F.col("s") > 10).join(base.where(F.col("k") > 2), "k")
    assert repeated_exchanges(explain_str(twice)) == 2
    assert repeated_exchanges(explain_str(base)) == 0


def test_fused_topk_ranks_nan_like_standalone(spark):
    """ann_recall_report's fused window ranks each index in its own
    direction: a NaN similarity ranks first for lsh/ivf exactly as in
    the standalone _topk (sim desc), and a NaN distance last for pq
    (adist asc)."""
    nan = float("nan")
    sims = [(1, 10, 0.5), (1, 11, nan), (1, 12, 0.9), (1, 13, 0.5), (2, 20, 0.1)]
    scored = spark.createDataFrame(sims, "query_id long, neighbor_id long, sim double")
    dists = spark.createDataFrame(
        [(1, 30, nan), (1, 31, 0.2), (1, 32, 0.1)],
        "query_id long, neighbor_id long, adist double",
    )
    none = F.lit(None).cast("double")
    tagged = scored.select(
        F.lit("lsh").alias("idx"), "query_id", "neighbor_id", "sim", none.alias("adist")
    ).unionByName(
        dists.select(
            F.lit("pq").alias("idx"), "query_id", "neighbor_id", none.alias("sim"), "adist"
        )
    )
    fused = {
        (r["idx"], r["query_id"], r["neighbor_id"]): r["a_rank"]
        for r in S._fused_topk(tagged, 3).collect()
    }
    standalone = {
        ("lsh", r["query_id"], r["neighbor_id"]): r["rank"]
        for r in S._topk(scored, 3).collect()
    }
    assert {k: v for k, v in fused.items() if k[0] == "lsh"} == standalone
    assert standalone[("lsh", 1, 11)] == 1  # NaN sorts as the largest sim
    assert [fused[("pq", 1, nb)] for nb in (32, 31, 30)] == [1, 2, 3]
