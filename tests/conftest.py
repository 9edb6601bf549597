from __future__ import annotations

import hashlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pubsub_mapreduce_spark.session import get_spark  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"

# ---------------------------------------------------------------------
# Gate tier vs full tier (VERDICT r9 #1): the default run is the GATE
# tier, sized to sit well inside the Tier-1 pytest window;
# SPARK_GRAFT_FULL_TESTS=1 runs the exhaustive tier as well.
#
# What the gate drops:
# - @pytest.mark.full files/tests (costs from a --durations=0 run,
#   2026-08-18): property sweeps (test_properties, 290s),
#   synthetic-scale runs (test_synthetic_scale, 234s), the 405-query
#   execute-all smoke (test_all_queries_run, 257s — replaced in the gate
#   by the always-on analysis smoke test_all_queries_construct), one
#   scale pin (ann_k_sweep cap, 26s).
# - GATE_SLOW_TESTS: six streaming tests that each run 8s or more
#   (~130s together in a full-tier run): the mapper -> FileTopic ->
#   reducer topology, the T6 rate and T7 running-total invariant, the
#   watermark pin on closed windows, the two window-start-key
#   equivalence pins, and the event-time-timer sessionizer
#   (transformWithState). The sub-8s streaming tests still run in the
#   gate.
# - test_parity[*]: the gate keeps a DETERMINISTIC subset — every query
#   whose md5(name) % 4 == 0 (~quarter of 405) plus every query touched
#   by the r9/r10 optimization rounds (PARITY_FRESH) — ~130 exact
#   oracle comparisons (~2.5 min). The driver's own oracle check plus
#   the per-round full drives (405/405 MATCH artifacts) carry the
#   exhaustive signal.
#
# tests/test_gate_lists.py checks that every GATE_SLOW_TESTS entry
# names a test that exists and every PARITY_FRESH entry a registered
# query, with no duplicates in either literal.
GATE_SLOW_TESTS = {
    "test_streaming.py::test_two_stage_topology_through_topic",
    "test_streaming.py::test_running_total_and_rate_invariant",
    "test_streaming.py::test_watermark_protects_closed_windows",
    "test_streaming.py::test_window_start_key_matches_struct_window_key",
    "test_streaming.py::test_window_start_key_never_closes_earlier_than_struct_key",
    "test_streaming.py::test_session_timer_stream_equals_batch",
}

# queries rewritten/re-plumbed in optimization rounds 9-10: their exact
# oracle comparison always runs in the gate tier
PARITY_FRESH = {
    "ann_eval", "ann_tradeoff", "ann_bits_sweep", "ann_nprobe_sweep",
    "ann_k_sweep", "sim_cosine_topk", "sim_ann_lsh", "sim_ann_pq",
    "sim_ann_ivfpq", "sim_ann_multiprobe", "sim_ann_filtered",
    "sim_ann_ivf", "knn_graph", "user_similarity",
    "user_similarity_sparse", "silhouette_eval", "semdedup_prune",
    "emb_kmeans", "cluster_balance", "sim_mmr", "theil_sen",
    "trend_theil_sen", "event_pagerank", "event_ppr", "dedup_eval",
    "dedup_minhash_lsh", "dedup_ngram_jaccard", "dedup_containment",
    "dedup_tfcosine", "cross_source_dups", "split_leakproof",
    "dedup_minhash_incremental", "moran_geary", "multimodal_audio_pairs",
    "multimodal_dup_consensus", "emb_coreset", "dedup_canonical",
    "dedup_clusters", "dedup_edit_verify", "dedup_scrub_spans",
    "part_kcore", "adamic_adar", "part_communities",
}


def _parity_in_gate(name: str) -> bool:
    if name in PARITY_FRESH:
        return True
    h = int(hashlib.md5(name.encode()).hexdigest()[:8], 16)
    return h % 4 == 0


def pytest_collection_modifyitems(config, items):
    if os.environ.get("SPARK_GRAFT_FULL_TESTS") == "1":
        return
    kept, dropped = [], []
    for it in items:
        base = os.path.basename(str(it.fspath))
        key = f"{base}::{it.name.split('[')[0]}"
        if it.get_closest_marker("full") or key in GATE_SLOW_TESTS:
            dropped.append(it)
            continue
        if base == "test_oracle_parity.py" and it.name.startswith(
            "test_parity["
        ):
            qname = it.name.split("[", 1)[1].rstrip("]")
            if not _parity_in_gate(qname):
                dropped.append(it)
                continue
        kept.append(it)
    if dropped:
        config.hook.pytest_deselected(items=dropped)
        items[:] = kept


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def tables(spark):
    from pubsub_mapreduce_spark.io import load_tables

    return load_tables(spark, SF_SMALL)
