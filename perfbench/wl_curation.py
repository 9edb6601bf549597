"""llm_curation: a closed loop of one client running the engine's
curation operators over a seeded corpus with planted duplicates.

Each pass runs the registered fixture forms of clean_text,
quality_quantile_gate, exact_dedup, minhash_lsh_pairs,
minhash_lsh_incremental (a new batch against the corpus),
ngram_decontaminate and ann_lsh_topk, then drops the caches the
operators left behind, as a pipeline does between corpora. A run makes
one pass per PASS_NOMINAL_S of run length; latency is the time of a whole
pass, from input to complete result. There is no warm-up: at run lengths
up to PASS_NOMINAL_S a run is one batch job as a user submits it, cold
code paths included.
"""

from __future__ import annotations

import math
import time

from harness import Context, Counts, Result, oracle_mismatches, prepare_dataset, run_call
from measure import median

OPS = (
    ("text_clean", "textops"),
    ("quality_gate", "textops"),
    ("dedup_exact", "dedup"),
    ("dedup_minhash_lsh", "dedup"),
    ("dedup_minhash_incremental", "dedup"),
    ("decontaminate", "textops"),
    ("sim_ann_lsh", "similarity"),
)
N_DOCS = 600
N_VECS = 300
SF = 0.001  # the star schema is only read, never queried
PREPARE_REPS = 3
PASS_NOMINAL_S = 30.0


def run(ctx: Context) -> Result:
    from __spark_entry__ import queries

    res = Result()
    data, corpus = prepare_dataset(ctx, res, PREPARE_REPS, SF, N_DOCS, N_VECS)
    qs = queries()
    spark = ctx.spark

    last = {}
    per_layer: dict[str, list[float]] = {"textops": [], "dedup": [], "similarity": []}
    build = []
    counts = Counts()
    t_meas = time.perf_counter()
    n_pass = max(1, math.ceil(ctx.seconds / PASS_NOMINAL_S))
    for p in range(n_pass):
        calls = []
        t_pass = time.perf_counter()
        for name, layer in OPS:
            c = run_call(
                ctx,
                name,
                lambda name=name: qs[name](spark, data),
                layer,
                f"p{p}.{name}",
                counts if p == 0 else None,
            )
            res.attempted += 1
            if c.error:
                res.failed += 1
                res.errors.append(f"{name}: {c.error}")
            calls.append((layer, c))
        spark.catalog.clearCache()
        res.latency_s.append(time.perf_counter() - t_pass)
        build.append(sum(c.build_s for _, c in calls))
        for layer in per_layer:
            per_layer[layer].append(sum(c.exec_s for lay, c in calls if lay == layer))
        last.update((c.name, c) for _, c in calls)
    res.measured_s = time.perf_counter() - t_meas
    res.throughput_per_s = N_DOCS * n_pass / res.measured_s

    bad = oracle_mismatches(data, last)
    res.errors += [f"{n}: oracle mismatch: {why}" for n, why in bad.items()]

    # exact dedup removes exactly the planted copies, keeping originals
    exact = last["dedup_exact"].frame
    if exact is not None:
        dups = exact[exact["n_copies"] > 1]
        res.check(
            int((exact["n_copies"] - 1).sum()) == len(corpus.exact_copies),
            f"exact dedup removed {int((exact['n_copies'] - 1).sum())} docs, "
            f"{len(corpus.exact_copies)} planted",
        )
        res.check(
            set(dups["keeper_id"]) == set(corpus.exact_copies.values()),
            "exact dedup kept other documents than the planted originals",
        )
    # near-dup recall: share of planted pairs minhash_lsh_pairs reports
    pairs = last["dedup_minhash_lsh"].frame
    if pairs is not None:
        found = set(zip(pairs["a"], pairs["b"]))
        hit = sum(1 for a, b in corpus.near_pairs if (min(a, b), max(a, b)) in found)
        res.quality = hit / len(corpus.near_pairs)

    res.layers = {
        "operators.plan_build_s": median(build),
        **{f"operators.{layer}.exec_s": median(v) for layer, v in per_layer.items()},
        **(counts.values if ctx.tracer.enabled else {}),
    }
    return res
