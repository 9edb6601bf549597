"""Self-tests of the benchmark's own helpers (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os

import pytest

import datagen
import harness
import knobgen
import run
from measure import Tracer, batches_from_progress, progress_metrics, tail_percentile, window_to_tick


# -- percentile rule -------------------------------------------------------


def test_tail_percentile_needs_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]  # 1..100
    # p99 has 1 sample beyond, p95 5, p90 10: p90 is the highest
    assert tail_percentile(xs) == (90, 90.0)
    assert tail_percentile(xs[:40]) == (75, 30.0)  # 10 beyond p75 of 40
    assert tail_percentile(xs[:20]) == (50, 10.0)
    assert tail_percentile(xs[:19]) is None  # p50 of 19 has 9 beyond


def test_tail_percentile_counts_groups_beyond():
    # 100 samples in 20 groups of 5: p90 has 10 samples but 2 groups beyond
    xs = [float(i) for i in range(100)]
    groups = [i // 5 for i in range(100)]
    assert tail_percentile(xs, groups) == (50, 49.0)  # 10 groups beyond p50
    assert tail_percentile(xs, groups, min_beyond=11) is None


def test_tail_percentile_is_order_independent():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 10
    assert tail_percentile(xs) == tail_percentile(sorted(xs))


# -- window-to-tick latency mapping ----------------------------------------


def test_window_to_tick_maps_each_window_to_its_single_tick():
    t0 = 1_700_000_000.05  # ticks sit mid-window
    for k in range(0, 500, 7):
        ts = t0 + k * knobgen.TICK_S
        window_start = int(ts * 10) / 10.0  # Spark's 100 ms tumbling start
        assert window_to_tick(window_start, t0, knobgen.TICK_S, 0.1) == k


def test_window_to_tick_rejects_windows_between_ticks():
    t0 = 1_700_000_000.05
    assert window_to_tick(t0 + 0.15 - 0.05, t0, 0.2, 0.1) is None


# -- progress-to-metric extraction -----------------------------------------


def _progress(batch, rows, add_ms, trig_ms, state_rows, ts="2026-01-01T00:00:00.000Z"):
    return {
        "batchId": batch,
        "timestamp": ts,
        "numInputRows": rows,
        "durationMs": {
            "latestOffset": 5,
            "walCommit": 10,
            "queryPlanning": 20,
            "addBatch": add_ms,
            "commitOffsets": 15,
            "triggerExecution": trig_ms,
        },
        "stateOperators": [
            {"numRowsTotal": state_rows, "memoryUsedBytes": 1000 * state_rows, "commitTimeMs": 30}
        ],
    }


def test_progress_extraction():
    prog = [
        _progress(0, 100, 1000, 1200, 10),
        {"batchId": 0, "timestamp": "2026-01-01T00:00:05.000Z", "numInputRows": 0,
         "durationMs": {"latestOffset": 1, "triggerExecution": 1}},  # idle report
        _progress(1, 50, 500, 600, 20),
        _progress(2, 0, 300, 400, 15),
    ]
    batches = batches_from_progress(prog)
    assert [b.batch_id for b in batches] == [0, 1, 2]
    assert batches[0].start == pytest.approx(1767225600.0)
    m = progress_metrics(batches)
    assert m["streaming.batches"] == 3
    assert m["streaming.add_batch_s_p50"] == pytest.approx(0.5)
    assert m["streaming.trigger_s_p50"] == pytest.approx(0.6)
    assert m["streaming.rows_per_batch_p50"] == 50
    assert m["streaming.wal_commit_s_p50"] == pytest.approx(0.01)
    assert m["streaming.state_commit_s_p50"] == pytest.approx(0.03)
    assert m["streaming.state_rows_total"] == 15  # the last batch's state
    assert m["streaming.state_memory_bytes"] == 15000


# -- seeded generation -----------------------------------------------------


def _digest(d):
    return {
        n: hashlib.sha256(open(os.path.join(d, n), "rb").read()).hexdigest()
        for n in sorted(os.listdir(d))
    }


def test_same_seed_same_bytes(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    datagen.write_dataset(a, 7, 0.001, 120, 30)
    datagen.write_dataset(b, 7, 0.001, 120, 30)
    datagen.write_dataset(c, 8, 0.001, 120, 30)
    assert _digest(a) == _digest(b)
    assert _digest(a)["lineitem.parquet"] != _digest(c)["lineitem.parquet"]
    assert _digest(a)["documents.parquet"] != _digest(c)["documents.parquet"]


def test_knob_ticks_are_seeded_with_poison():
    lines, valid = knobgen.tick_lines(3, 17, 1000.05)
    assert (lines, valid) == knobgen.tick_lines(3, 17, 1000.05)
    assert valid == list(range(knobgen.KNOBS))
    bad = 0
    for k in range(400):
        lines, _ = knobgen.tick_lines(3, k, 1000.05)
        msgs = []
        for line in lines:
            try:
                msgs.append(json.loads(line))
            except json.JSONDecodeError:
                bad += 1
        good = [m for m in msgs if isinstance(m.get("id"), int) and "n" in m]
        assert [m["id"] for m in good] == list(range(knobgen.KNOBS))
        assert all(m["ts"] == pytest.approx(1000.05 + k * knobgen.TICK_S) for m in good)
    assert 0 < bad < 400 * 0.2  # a small share of ticks carry one poison line


def test_corpus_plants_exact_and_near_duplicates():
    import numpy as np

    c = datagen.corpus(np.random.default_rng(5), 300)
    text = c.docs.column("text").to_pylist()
    norm = [t.lower().strip() for t in text]
    assert len(set(norm)) == len(text) - len(c.exact_copies)
    for copy, orig in c.exact_copies.items():
        assert norm[copy] == norm[orig] and copy > orig
    assert len(c.near_pairs) == 30
    for a, b in c.near_pairs:
        assert datagen.jaccard(datagen.shingles(text[a]), datagen.shingles(text[b])) >= datagen.MIN_NEAR_JACCARD


# -- tracing and the metric catalogue --------------------------------------


def test_tracer_nests_spans_and_disabled_records_nothing():
    tr = Tracer(enabled=True)
    with tr.span("outer", op="x"):
        with tr.span("inner", op="x"):
            pass
    outer, inner = tr.spans
    assert inner.parent == outer.id and outer.parent is None
    assert outer.start <= inner.start <= inner.end <= outer.end
    off = Tracer(enabled=False)
    with off.span("outer"):
        pass
    assert off.spans == [] and off.overhead_s == 0.0


def test_benchmark_json_matches_the_catalogue():
    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == harness.E2E
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == harness.PER_LAYER
