"""Similarity search over the ``embeddings`` table (``array<float>``).

Three tiers:
- ``cosine_topk``      : exact brute-force top-k for a query subset —
                         the correctness baseline, oracle-checked.
- ``ann_lsh_topk``     : random-hyperplane LSH bucketing — the scale
                         path; candidates only within matching buckets.
- ``ann_ivf_topk``     : IVF-style coarse quantization with deterministic
                         centroids + nprobe search.
- ``embedding_near_pairs``: all pairs above a cosine threshold (near-dup
                         by embedding).

Vector math is JVM-side HOFs (functions.vectors) — no Python in the
scoring loop. For very large k*dim a Pandas-UDF matmul formulation would
win on constant factors; at 64-dim the HOF path keeps everything in
whole-stage codegen and avoids the Arrow boundary.

Scale notes: brute force is O(|Q| * |N|) — run it only on a bounded query
set. LSH/IVF cut |N| per query by bucketing; both express the bucket
assignment as a broadcast join against a tiny plan-side table (hyperplanes
/ centroids), so the only big shuffle is the per-bucket candidate join.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from ..functions.vectors import cosine, norm

DIM = 64


def _as_double(df: DataFrame, col: str = "embedding") -> DataFrame:
    """Cast float32 embeddings to double once, up front — all downstream
    arithmetic is then double in both Spark and the DuckDB oracle, keeping
    cross-engine noise at the 1e-15 level (<< ranking gaps)."""
    return df.withColumn(col, F.col(col).cast("array<double>"))


# Absolute ceiling on eval/query samples (VERDICT r6 advisory): the
# fixed-FRACTION stride (vec_id % every) grows the broadcast sample
# linearly with the corpus, so default knobs at 100x data would ship a
# 100x query matrix to every task. The effective stride is derived
# RELATIONALLY from the corpus count —
#     every_eff = every * ceil(n / (every * max_sample))
# — which keeps the sample <= max_sample (+1) at any scale while being
# the IDENTITY whenever n <= every * max_sample (ceil(..) == 1), so
# every registered fixture output (n <= 2000 vectors at sf0.1) is
# byte-identical. Mirrored verbatim in the oracles via query_mod_sql.
QUERY_MAX_SAMPLE = 2000


def query_subset(
    emb: DataFrame,
    every: int = 50,
    max_sample: int = QUERY_MAX_SAMPLE,
    corpus: DataFrame | None = None,
    precomputed_count: int | None = None,
) -> DataFrame:
    """Deterministic query set: every ``every_eff``-th vec_id, where
    ``every_eff`` is ``every`` scaled up (relationally, from a one-row
    broadcast count — no driver collect) so the sample never exceeds
    ``max_sample`` regardless of corpus size.

    ``corpus``: the frame whose ROW COUNT defines the cap — pass it
    when ``emb`` is not corpus-shaped (e.g. the per-(vector, table)
    LSH index, n_tables rows per vector); defaults to ``emb`` itself.
    The oracle twin is ``query_mod_sql``, byte-for-byte the same
    arithmetic (BIGINT count / double literal, ceil, BIGINT modulo).

    ``precomputed_count``: an exact corpus row count the caller already
    holds (bounded driver state — ONE bigint) — the stride becomes a
    plan literal and the per-branch count-agg + broadcast-join subplan
    disappears. Value-identical by construction: the same ceil/modulo
    arithmetic evaluated on the same count (optimization r10, guide
    §2.4 — composers like ann_recall_report otherwise re-count the
    corpus once per index branch)."""
    if precomputed_count is not None:
        import math

        eff_lit = every * int(
            math.ceil(precomputed_count / float(every * max_sample))
        )
        return emb.where(F.col("vec_id") % F.lit(eff_lit) == 0)
    src = emb if corpus is None else corpus
    cnt = src.agg(F.count(F.lit(1)).cast("long").alias("_qs_n"))
    eff = (
        F.ceil(F.col("_qs_n") / F.lit(float(every * max_sample))).cast(
            "long"
        )
        * every
    )
    return (
        emb.crossJoin(F.broadcast(cnt))
        .where(F.col("vec_id") % eff == 0)
        .drop("_qs_n")
    )


def query_mod_sql(
    every: int, tbl: str = "e", max_sample: int = QUERY_MAX_SAMPLE
) -> str:
    """DuckDB twin of ``query_subset``'s capped stride: a WHERE-clause
    fragment. The scalar count subquery must reference the same
    corpus-shaped relation the Spark side counts."""
    return (
        f"vec_id % ({every} * CAST(ceil((SELECT count(*) FROM {tbl})"
        f" / {float(every * max_sample)}) AS BIGINT)) = 0"
    )


def _sim_from_dot(q_emb, emb, nq, ne):
    """cosine() with the two norms PRECOMPUTED as per-vector columns:
    sim = dot/(nq*ne) with the same zero-norm guard. Value-identical to
    cosine(q_emb, emb) — norm(a) is the same fold over the same array
    whether evaluated per pair or once per vector — but the pair stage
    does ONE 64-element fold instead of three (A/B at sf0.1: the celled
    kNN scoring join drops ~2x; see ivf_knn_graph docstring)."""
    from ..functions.vectors import dot

    d = dot(q_emb, emb)
    return F.when((nq > 0) & (ne > 0), d / (nq * ne)).otherwise(F.lit(0.0))



def _topk(scored: DataFrame, k: int) -> DataFrame:
    """Shared ranking epilogue: deterministic (sim desc, neighbor_id asc)
    row_number top-k per query, sim rounded for cross-engine comparison.
    ONE definition so every formulation ranks identically. Rounding is
    ``round_half_up`` (floor(x*1e4+0.5)/1e4), NOT engine round(): Spark
    and DuckDB disagree on shortest-repr .5 boundaries, and sims are
    exactly the small-magnitude ratio column that hits them."""
    from ..functions.text import round_half_up

    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "rank",
            round_half_up(F.col("sim"), 4).alias("sim"),
        )
    )


def cosine_topk(
    emb: DataFrame,
    k: int = 5,
    every: int = 50,
    exclude_self: bool = True,
    corpus: DataFrame | None = None,
    precomputed_count: int | None = None,
) -> DataFrame:
    """Exact top-k nearest neighbors by cosine for the query subset.

    Broadcast the (small) query side against the full candidate scan; rank
    per query with a row_number window partitioned by query id (sort only
    within each query's candidate list). Ties broken by neighbor id.

    The corpus side is widened to >=8 partitions before the scoring
    join: the |corpus| x |queries| HOF dot products are the hot map
    stage, and a single-row-group fixture scan otherwise runs them on
    one core (A/B at sf0.1: 3.0s -> 1.5s at width 8; 16/32 slower
    again — same width-matters trade-off as minhash_lsh_pairs). No-op
    on real multi-partition scans.

    ``corpus``: a prebuilt widened (vec_id, embedding double) relation —
    composers (ann_recall_report, ann_tradeoff_table) checkpoint ONE and
    pass it into every branch instead of each branch re-scanning +
    re-widening (optimization r10, guide §2.4). Value-identical: the
    same projection of the same rows. ``precomputed_count``: see
    query_subset."""
    e = (
        corpus
        if corpus is not None
        else _as_double(emb).select("vec_id", "embedding")
    )
    q = query_subset(e, every, precomputed_count=precomputed_count).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        norm(F.col("embedding")).alias("q_nrm"),
    )
    from ..io import widen

    cand = (e if corpus is not None else widen(e, 8)).withColumn(
        "nrm", norm(F.col("embedding"))
    )
    pairs = cand.join(
        broadcast(q), F.col("vec_id") != F.col("query_id") if exclude_self else F.lit(True)
    )
    scored = pairs.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        _sim_from_dot(
            F.col("q_emb"), F.col("embedding"), F.col("q_nrm"), F.col("nrm")
        ).alias("sim"),
    )
    return _topk(scored, k)


def embedding_near_pairs(emb: DataFrame, threshold: float = 0.9) -> DataFrame:
    """All pairs (a < b) with cosine >= threshold — the EXACT brute-force
    near-pair reference. O(|corpus|²) by construction (a broadcast
    nested-loop at small data, a near-cartesian shuffle at scale): this
    is deliberately NOT the production path — ``lsh_near_pairs`` is the
    registered default pair source; this form exists as the recall/
    parity oracle it is tested against (tests/test_similarity_paths.py)
    and for bounded sub-corpora where exactness beats sublinearity.
    """
    from ..functions.text import round_half_up

    e = _as_double(emb).select("vec_id", "embedding")
    a = e.select(F.col("vec_id").alias("a"), F.col("embedding").alias("emb_a"))
    b = e.select(F.col("vec_id").alias("b"), F.col("embedding").alias("emb_b"))
    return (
        a.join(b, F.col("a") < F.col("b"))
        .select(
            "a",
            "b",
            round_half_up(cosine(F.col("emb_a"), F.col("emb_b")), 4).alias("sim"),
        )
        .where(F.col("sim") >= threshold)
    )


def cosine_topk_matmul(
    emb: DataFrame, k: int = 5, every: int = 50, exclude_self: bool = True
) -> DataFrame:
    """Exact brute-force top-k — the Arrow/Pandas-UDF matrix-multiply
    formulation of ``cosine_topk``, for when k*dim is large enough that
    BLAS beats the per-element HOF path.

    Shape: the (bounded) query matrix ships to every task in the UDF
    closure (a broadcast by construction); each Arrow batch scores
    candidates against ALL queries in one ``(N, D) @ (D, Q)`` matmul and
    emits only its LOCAL top-k per query, so the shuffle to the global
    top-k window carries at most partitions * Q * k rows — never the
    full |corpus| x |Q| score matrix."""
    import pandas as pd

    e = _as_double(emb).select("vec_id", "embedding")
    q_pd = query_subset(e, every).toPandas()
    q_ids = q_pd["vec_id"].to_numpy()
    q_mat = np.stack(q_pd["embedding"].to_numpy()).astype(np.float64)
    q_norms = np.linalg.norm(q_mat, axis=1)
    q_norms[q_norms == 0] = np.inf  # zero query -> all sims 0.0, like cosine()

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy()
            m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            norms = np.linalg.norm(m, axis=1, keepdims=True)
            norms[norms == 0] = np.inf  # zero candidate -> sim 0.0
            # raw dot then ONE division by the norm product — the same
            # op order as cosine()/list_cosine_similarity (dot/(na*nb)),
            # not pre-normalized rows (which would add a per-element
            # division rounding step the oracle never performs)
            sims = (m @ q_mat.T) / (norms * q_norms[None, :])  # (N, Q)
            out = {"query_id": [], "neighbor_id": [], "sim": []}
            for j, qid in enumerate(q_ids):
                s = sims[:, j]
                mask = ids != qid if exclude_self else np.ones_like(ids, bool)
                cand_idx = np.nonzero(mask)[0]
                # lexsort: primary -sim, secondary neighbor_id asc — the
                # SAME tie-break as _topk, so the local cut never drops a
                # candidate the global ranking would have kept
                order = np.lexsort((ids[cand_idx], -s[cand_idx]))[:k]
                top = cand_idx[order]
                out["query_id"].extend([qid] * len(top))
                out["neighbor_id"].extend(ids[top])
                out["sim"].extend(s[top])
            yield pd.DataFrame(out)

    partial = e.mapInPandas(score, "query_id long, neighbor_id long, sim double")
    return _topk(partial, k)


def _hyperplanes(n_planes: int, dim: int = DIM, seed: int = 42) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def lsh_tables(
    n_tables: int, planes_per_table: int, seed: int = 42, dim: int = DIM
) -> list[list[list[float]]]:
    """The L x b x dim hyperplane tensor for multi-table sign-LSH —
    shared by the Spark bucket expression AND the DuckDB oracle mirror,
    so both engines hash with the SAME planes (bit-equal buckets,
    validated: 500 vectors x 16 tables, zero mismatches)."""
    all_planes = _hyperplanes(n_tables * planes_per_table, dim=dim, seed=seed)
    return [
        all_planes[t * planes_per_table : (t + 1) * planes_per_table]
        for t in range(n_tables)
    ]


def _bucket_expr(tables: list[list[list[float]]]):
    """Spark Column: array of per-table sign-LSH bucket ids for
    ``embedding``. One SQL parse of a nested HOF loop over the 3-level
    literal plane tensor (see ann_lsh_topk docstring for the A/Bs that
    chose this form)."""
    from ..functions.vectors import sql_array_lit, sql_dot

    ppt = len(tables[0])
    weights = "array(" + ",".join(f"{1 << i}L" for i in range(ppt)) + ")"
    return F.expr(
        f"""transform({sql_array_lit(tables)}, tp -> aggregate(
              zip_with(tp, {weights},
                (p, w) -> CASE WHEN {sql_dot('p', 'embedding')} >= 0
                          THEN w ELSE 0L END),
              0L, (acc, v) -> acc + v))"""
    )


def lsh_near_pairs(
    emb: DataFrame,
    threshold: float = 0.45,
    n_tables: int = 16,
    planes_per_table: int = 8,
    seed: int = 42,
    max_bucket: int | None = 10_000,
) -> DataFrame:
    """(Size ``planes_per_table`` ~ log2(N / target_bucket) as the
    corpus grows — see ann_lsh_topk's measured sizing rule; the
    ``max_bucket`` cap bounds the worst cell meanwhile.)

    Near-dup pairs via sign-LSH bucketed candidates + exact cosine
    verify — the SCALE-PATH replacement for ``embedding_near_pairs``'s
    all-pairs join, and the default pair source for the embedding-dedup
    family.

    Contract (the standard approximate-dedup contract, same as
    MinHash-LSH for Jaccard): a pair is emitted iff (a) it collides in
    >= 1 of the L hash tables AND (b) its exact cosine >= threshold.
    Recall is a function of the threshold regime: at true near-dup sims
    (>= 0.99) a 16x8 index misses ~6e-9 of pairs (pinned on planted
    duplicates in tests/test_ann_recall.py); at the fixtures' isotropic
    0.45-0.51 tail it is ~40-50%% — embeddings with NO cluster structure
    are exactly where no sublinear method can have both recall and
    pruning, which is why the exact form is kept as the test oracle.

    Plan shape: bucket computation is the map-only nested-HOF loop; the
    candidate join is an equi-join on (table, bucket) — never a
    cartesian/BroadcastNestedLoopJoin (plan-guarded in tests) — and the
    degenerate-bucket cap bounds any single bucket's quadratic blowup
    exactly like minhash_lsh_pairs' 10k cap. The (a, b) dedup collapses
    multi-table collisions before the verify, so each surviving pair is
    scored ONCE. Shuffles: one on (table, bucket) for the cap window
    (reused by the join's hash partitioning), one on (a, b) for the
    dedup — both keyed, both skew-bounded by the cap.

    Cross-engine: the DuckDB oracle (``duckdb_lsh_pairs_cte``) mirrors
    planes, buckets, cap, dedup, and verify bit-for-bit, so the driver's
    exact value-hash gate applies to this operator's REAL semantics."""
    from ..functions.text import round_half_up
    from ..io import widen

    tables = lsh_tables(n_tables, planes_per_table, seed)
    e = widen(_as_double(emb).select("vec_id", "embedding"), 8).withColumn(
        "nrm", norm(F.col("embedding"))
    )
    indexed = e.select(
        "vec_id",
        "embedding",
        "nrm",
        F.posexplode(_bucket_expr(tables)).alias("tbl", "bucket"),
    )
    if max_bucket is not None:
        w = Window.partitionBy("tbl", "bucket")
        indexed = (
            indexed.withColumn("bsz", F.count(F.lit(1)).over(w))
            .where(F.col("bsz") <= max_bucket)
            .drop("bsz")
        )
    # NOTE (A/B'd): the self-join reads the index from BOTH sides and
    # Catalyst does not dedup the two identical subplans, so the bucket
    # computation runs twice. Persisting the index via localCheckpoint
    # was MEASURED SLOWER here (sim_near_pairs 1.88s -> 2.57s at sf0.1:
    # the materialization barrier + row serialization cost more than
    # the duplicated, fully-parallel map stage). On a real cluster
    # reusing the index across MANY queries, persist it explicitly —
    # one recompute inside a single query is the cheaper trade.
    left = indexed.select(
        "tbl",
        "bucket",
        F.col("vec_id").alias("a"),
        F.col("embedding").alias("emb_a"),
        F.col("nrm").alias("na"),
    )
    right = indexed.select(
        "tbl",
        "bucket",
        F.col("vec_id").alias("b"),
        F.col("embedding").alias("emb_b"),
        F.col("nrm").alias("nb"),
    )
    cands = (
        left.join(right, ["tbl", "bucket"])
        .where(F.col("a") < F.col("b"))
        # embeddings are functionally determined by the ids — id-only
        # dedup is exact and cheaper than comparing array payloads
        .dropDuplicates(["a", "b"])
    )
    return (
        cands.select(
            "a",
            "b",
            round_half_up(
                _sim_from_dot(
                    F.col("emb_a"), F.col("emb_b"), F.col("na"), F.col("nb")
                ),
                4,
            ).alias("sim"),
        )
        .where(F.col("sim") >= threshold)
    )


def _duckdb_vec_lit(vec: list[float]) -> str:
    """DuckDB list literal via repr — the same shortest-round-trip text
    the Spark side parses, so both engines hold identical doubles."""
    return "[" + ",".join(repr(float(x)) for x in vec) + "]"


def _duckdb_lsh_idx(tables: list[list[list[float]]]) -> str:
    """UNION ALL text materializing the (vec_id, emb, tbl, bucket) LSH
    index over an ``e(vec_id, emb)`` CTE — one SELECT per hash table,
    bucket = Σ 2^i · [dot(plane_i, emb) >= 0], the same sign math as
    ``_bucket_expr`` (bit-validated across engines)."""
    selects = []
    for t, tp in enumerate(tables):
        terms = [
            f"(CASE WHEN list_dot_product(emb, {_duckdb_vec_lit(p)}) >= 0"
            f" THEN {1 << i} ELSE 0 END)"
            for i, p in enumerate(tp)
        ]
        selects.append(
            f"SELECT vec_id, emb, {t} AS tbl, ("
            + " + ".join(terms)
            + ") AS bucket FROM e"
        )
    return "\n  UNION ALL ".join(selects)


def duckdb_lsh_topk_sql(
    k: int = 5,
    every: int = 50,
    n_tables: int = 16,
    planes_per_table: int = 4,
    seed: int = 42,
    src: str = "embeddings",
) -> str:
    """DuckDB mirror of ``ann_lsh_topk``: same plane literals, same
    OR-amplified candidate set (collide in >= 1 table), same exact-cosine
    scoring and (sim desc, neighbor asc) ranking — turning the ANN query
    from a rows-only check into a full value-hash oracle."""
    tables = lsh_tables(n_tables, planes_per_table, seed)
    return f"""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM {src}),
      idx0 AS ({_duckdb_lsh_idx(tables)}),
      q AS (SELECT vec_id AS query_id, tbl, bucket FROM idx0
            WHERE {query_mod_sql(every)}),
      cand AS (SELECT DISTINCT q.query_id, i.vec_id AS neighbor_id
               FROM q JOIN idx0 i
                 ON q.tbl = i.tbl AND q.bucket = i.bucket
                    AND i.vec_id <> q.query_id),
      scored AS (SELECT c.query_id, c.neighbor_id,
                        list_cosine_similarity(eq.emb, en.emb) AS sim
                 FROM cand c
                 JOIN e eq ON c.query_id = eq.vec_id
                 JOIN e en ON c.neighbor_id = en.vec_id)
      SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank,
             floor(sim * 1e4 + 0.5) / 1e4 AS sim
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY sim DESC, neighbor_id ASC) AS rank
            FROM scored)
      WHERE rank <= {k}
    """


def duckdb_lsh_pairs_cte(
    threshold: float = 0.45,
    n_tables: int = 16,
    planes_per_table: int = 8,
    seed: int = 42,
    max_bucket: int | None = 10_000,
    src: str = "embeddings",
) -> str:
    """DuckDB CTE text ending in ``pairs(a, b, sim)`` that mirrors
    ``lsh_near_pairs`` exactly: same plane literals, same bucket math
    (list_dot_product sign == the HOF fold sign, bit-validated), same
    cap / dedup / verify / rounding. Compose as
    ``WITH {cte} SELECT ... FROM pairs``."""
    tables = lsh_tables(n_tables, planes_per_table, seed)
    idx = _duckdb_lsh_idx(tables)
    cap = (
        f"SELECT vec_id, emb, tbl, bucket FROM (SELECT *, COUNT(*) OVER "
        f"(PARTITION BY tbl, bucket) AS bsz FROM idx0) WHERE bsz <= {max_bucket}"
        if max_bucket is not None
        else "SELECT * FROM idx0"
    )
    return f"""
      e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM {src}),
      idx0 AS ({idx}),
      idx AS ({cap}),
      cand AS (SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
               FROM idx x JOIN idx y
                 ON x.tbl = y.tbl AND x.bucket = y.bucket
                    AND x.vec_id < y.vec_id),
      pairs AS (
        SELECT a, b, sim FROM (
          SELECT a, b,
                 floor(list_cosine_similarity(ea.emb, eb.emb) * 1e4 + 0.5)
                   / 1e4 AS sim
          FROM cand
          JOIN e ea ON cand.a = ea.vec_id
          JOIN e eb ON cand.b = eb.vec_id)
        WHERE sim >= {threshold})
    """


def ann_lsh_topk(
    emb: DataFrame,
    k: int = 5,
    every: int = 50,
    n_tables: int = 16,
    planes_per_table: int = 4,
    seed: int = 42,
    corpus: DataFrame | None = None,
    precomputed_count: int | None = None,
    _scored: bool = False,
) -> DataFrame:
    """Approximate top-k via MULTI-TABLE random-hyperplane LSH: L
    independent hash tables of b sign bits each; a vector is a candidate
    for a query if they collide in ANY table (OR-amplification).

    A single b-bit table requires agreement on all b hyperplanes — at
    cosine ~0.5 (per-plane agreement ~2/3) one 8-bit table has ~4%
    recall, measured exactly that on the fixtures. With L=16 tables of 4
    bits, per-table collision ~0.2 and miss probability (1-0.2)^16 ~ 3%
    -> ~97% recall at ~L*2^-b of the corpus scored per query. The index
    is L rows per vector (the classic LSH space-for-recall trade);
    recall floor pinned in tests/test_ann_recall.py.

    SIZE THE BITS WITH THE CORPUS: b ~ log2(N / target_bucket_size),
    because candidates per query scale with N/2^b — fixed b=4 (16
    buckets) measured 0.68s at 2k vectors but 10.7s at 20k (each bucket
    10x bigger), while b=7 restored 3.8s and b=8 with L=12 2.3s at the
    same recall regime (synthetic 20k-vector A/B). At 10^9+ vectors the
    same rule gives b~20-24; the defaults here match the sf-fixture
    scale AND the value-hash oracle's mirrored plane table.

    Plan shape (A/B-measured at sf0.1, 3 reps/variant in one session):
    the 64 plane dots are a NESTED HOF LOOP over a 3-level literal
    planes array, not 64 unrolled fold expressions — unrolled codegen
    ran 2x slower warm (5.9-7.6s vs ~3.0s) and compiled far slower
    cold. The whole bucket expression is rendered as ONE SQL string
    (``sql_array_lit``): building the 4096-leaf plane table from
    per-element F.lit Columns measured 2.8-4s of py4j plan-construction
    time per call — more than the query's execution — vs ~0.1s for a
    single parse (total 3.7s -> ~1.9s, parity-tested). The input is
    widened first: bucket computation is pure per-row math, and the
    fixtures' single-row-group scan would otherwise run it on one core
    (no-op at 100TB where scans carry >= cores partitions).
    """
    from ..io import widen

    tables = lsh_tables(n_tables, planes_per_table, seed)
    buckets = _bucket_expr(tables)
    base = (
        corpus
        if corpus is not None
        else widen(_as_double(emb).select("vec_id", "embedding"), 8)
    )
    e = base.withColumn("nrm", norm(F.col("embedding")))
    # index: one row per (vector, table) with that table's sign-bit bucket
    indexed = e.select(
        "vec_id", "embedding", "nrm", F.posexplode(buckets).alias("table", "bucket")
    )
    # query side: FILTER the corpus to the bounded sample first, THEN
    # compute its buckets — the former query_subset(indexed, ...) form
    # filtered AFTER the posexplode, so the 64 plane dots (the hot map
    # stage) ran over the WHOLE corpus a second time just to derive the
    # |sample|-row broadcast side (optimization r10, guide §2.4).
    # Value-identical: the bucket array is a pure per-row function and
    # filter/compute commute; same (query, table, bucket) rows.
    q = query_subset(
        e, every, corpus=emb, precomputed_count=precomputed_count
    ).select(
        "vec_id",
        "embedding",
        "nrm",
        F.posexplode(buckets).alias("table", "bucket"),
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
        "table",
        "bucket",
    )
    cands = (
        indexed.join(broadcast(q), on=["table", "bucket"])
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "q_emb", "q_nrm", "vec_id", "embedding", "nrm")
        # collided in >=1 table -> score once; embeddings are functionally
        # determined by the ids, so id-only dedup is exact and cheaper
        # than comparing the array payloads
        .dropDuplicates(["query_id", "vec_id"])
    )
    scored = cands.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        _sim_from_dot(
            F.col("q_emb"), F.col("embedding"), F.col("q_nrm"), F.col("nrm")
        ).alias("sim"),
    )
    if _scored:
        # composer path (ann_recall_report): the raw scored candidates,
        # so the caller can fuse the four per-index top-k windows into
        # one (optimization r10) — ranking semantics unchanged there
        return scored
    return _topk(scored, k)


def embedding_norm_stats(emb: DataFrame) -> DataFrame:
    """Per-label embedding profile: count, mean/min/max L2 norm — the
    sanity sweep a pipeline runs before trusting a new embedding batch
    (all-zero vectors, scale drift between model versions, label skew).
    Norms are a codegen'd HOF fold computed map-side; the only shuffle is
    the |labels|-sized aggregate."""
    from ..functions.text import round_half_up as rh

    e = _as_double(emb)
    nrm = norm(F.col("embedding"))
    return e.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        rh(F.avg(nrm), 4).alias("avg_norm"),
        rh(F.min(nrm), 4).alias("min_norm"),
        rh(F.max(nrm), 4).alias("max_norm"),
    )


def _centroid_sims_sql(cents: list[tuple[int, list[float]]], col: str) -> str:
    """SQL text for array<struct<cid, csim>> of cosine sims between
    ``col`` and every centroid — centroids ride as plan literals
    (ascending-cid order). Rendered as one expression string: per-element
    F.lit construction of a 512x64 centroid table costs seconds of py4j
    round trips (see ann_lsh_topk docstring)."""
    from ..functions.vectors import sql_array_lit, sql_cosine

    cids = "array(" + ",".join(f"{int(c)}L" for c, _ in cents) + ")"
    vecs = sql_array_lit([v for _, v in cents])
    return (
        f"zip_with({cids}, {vecs}, "
        f"(i, p) -> named_struct('cid', i, 'csim', {sql_cosine('p', col)}))"
    )


def _centroid_sims(cents: list[tuple[int, list[float]]], col: str):
    return F.expr(_centroid_sims_sql(cents, col))


def _nearest_centroid(cents: list[tuple[int, list[float]]], col: str):
    """Argmax fold over ``_centroid_sims``: strict > keeps the first
    maximum, so ties resolve to the smallest cid (same tie-break as an
    (csim DESC, cid ASC) ranking)."""
    return F.expr(
        f"""aggregate({_centroid_sims_sql(cents, col)},
              named_struct('cid', CAST(-1 AS BIGINT), 'csim', -2.0D),
              (acc, x) -> CASE WHEN x.csim > acc.csim THEN x ELSE acc END)"""
    )


def refine_centroids(
    e: DataFrame, cents: list[tuple[int, list[float]]], iters: int = 1
) -> list[tuple[int, list[float]]]:
    """Lloyd (k-means) refinement of an IVF centroid set, spherical
    flavor: assign every vector to its nearest centroid by cosine, then
    recenter each cluster on its member mean. One distributed pass per
    iteration — assignment is the map-only literal argmax, the recenter
    is a (cid, dim)-keyed average of |corpus| x dim exploded values, and
    only |C| x dim aggregated means come back to the driver. Empty
    clusters keep their previous centroid. Deterministic end to end
    (seeded start, exact argmax, fixed iteration count — no RNG)."""
    for _ in range(iters):
        best = _nearest_centroid(cents, "embedding")
        # two selects: a generator (posexplode) in the same projection as
        # the HOF-aggregate trips lambda-field resolution in analysis
        assigned = e.select(best["cid"].alias("cid"), "embedding")
        means = (
            assigned.select("cid", F.posexplode("embedding").alias("pos", "v"))
            .groupBy("cid", "pos")
            .agg(F.avg("v").alias("m"))
            .collect()
        )
        by_cid: dict[int, dict[int, float]] = {}
        for r in means:
            by_cid.setdefault(r["cid"], {})[r["pos"]] = r["m"]
        cents = [
            (
                cid,
                [by_cid[cid][p] for p in range(len(vec))]
                if cid in by_cid
                else vec,
            )
            for cid, vec in cents
        ]
    return cents


def ivf_centroids(
    e: DataFrame, centroid_every: int = 100, n_max_centroids: int = 512
) -> list[tuple[int, list[float]]]:
    """Deterministic IVF centroid seed set: every Nth vec_id, capped at
    ``n_max_centroids``. The cap is applied IN-PLAN (orderBy + limit
    BEFORE collect), so the driver pulls at most the index constant —
    never |corpus|/centroid_every rows — at any data scale."""
    rows = (
        e.where(F.col("vec_id") % centroid_every == 0)
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(n_max_centroids)
        .collect()
    )
    return [(int(r["vec_id"]), list(r["embedding"])) for r in rows]


def ivf_knn_graph(
    emb: DataFrame,
    k: int = 3,
    centroid_every: int = 100,
    n_max_centroids: int = 512,
    nprobe: int = 2,
    cents: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """Corpus-wide kNN graph via IVF cells — every vector is a query,
    candidates restricted to the vector's ``nprobe`` nearest centroid
    cells. The scale path that replaced the brute-force formulation
    (``cosine_topk_matmul`` at every=1 collected the WHOLE corpus to the
    driver as the query matrix; this collects only the capped centroid
    set).

    Contract: exact kNN WITHIN the probed cells (the standard IVF search
    contract). Global recall is a function of cluster structure and
    nprobe — pinned on planted clusters in tests/test_ann_recall.py; on
    the fixtures' isotropic vectors it is the nprobe/|C| coverage
    fraction, the regime where every sublinear method degrades.

    Plan shape: centroids ride as a bounded plan literal and everything
    stays JVM-side — one map-only HOF pass sorts the centroid sims and
    keeps the top-``nprobe`` slice, whose first element is the cell
    assignment. The sequential HOF arithmetic is bit-equal to DuckDB's
    list_cosine_similarity (oracle: ``duckdb_ivf_knn_sql``), so a
    near-tied argmax resolves the same way in both engines. There is
    NO |corpus| x |C| explode+window shuffle (only nprobe rows explode
    per vector); the candidate join is an equi-join on cid (sort-merge
    over |C| keys — AQE splits skewed cells); pair scoring is the
    sequential HOF cosine. The only corpus-sized
    shuffles: the cid join and the final per-query top-k window."""
    e0 = _as_double(emb).select("vec_id", "embedding")
    if cents is None:
        # a real IVF index builds its centroid set ONCE (index build)
        # and serves many queries from it — callers that query the same
        # corpus repeatedly should pass a prebuilt ``cents``
        cents = ivf_centroids(e0, centroid_every, n_max_centroids)
    from ..io import widen

    e = widen(e0, 8).withColumn("nrm", norm(F.col("embedding")))
    # ONE |corpus| x |C| centroid-sims pass for BOTH sides of the
    # cid self-join (optimization r10, guide §2.4): the former form
    # ran the argmax fold (assignment) AND the array_sort (probe
    # list) as separate corpus-wide HOF passes, one per join branch.
    # The sorted top-nprobe slice subsumes the argmax: comparator
    # (csim desc, cid asc) puts the max-csim / smallest-cid struct
    # FIRST, exactly the strict-> fold's tie rule and the oracle's
    # row_number(ORDER BY csim DESC, cid ASC) — so element 1 IS the
    # assignment and nprobe >= 1 always holds. Checkpointed so the
    # heavy sims pass executes once; only nprobe structs per row
    # materialize, never the full |C| array.
    probe_arr = F.expr(
        f"""slice(array_sort({_centroid_sims_sql(cents, 'embedding')},
              (l, r) -> CASE WHEN l.csim > r.csim THEN -1
                             WHEN l.csim < r.csim THEN 1
                             WHEN l.cid < r.cid THEN -1
                             WHEN l.cid > r.cid THEN 1
                             ELSE 0 END),
            1, {int(nprobe)})"""
    )
    base = e.select(
        "vec_id", "embedding", "nrm", probe_arr.alias("probe_cs")
    ).localCheckpoint(eager=False)
    assigned = base.select(
        "vec_id",
        "embedding",
        "nrm",
        F.expr("element_at(probe_cs, 1).cid").alias("cid"),
    )
    probes = base.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
        F.explode("probe_cs").alias("pr"),
    ).select("query_id", "q_emb", "q_nrm", F.col("pr.cid").alias("cid"))
    cands = probes.join(assigned, "cid").where(F.col("vec_id") != F.col("query_id"))
    scored = cands.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        _sim_from_dot(
            F.col("q_emb"), F.col("embedding"), F.col("q_nrm"), F.col("nrm")
        ).alias("sim"),
    )
    return _topk(scored, k)


def duckdb_ivf_knn_sql(
    k: int = 3,
    centroid_every: int = 100,
    n_max_centroids: int = 512,
    nprobe: int = 2,
    e_cte: str = "SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings",
    query_filter: str = "TRUE",
    final_select: str | None = None,
) -> str:
    """DuckDB mirror of ``ivf_knn_graph``: same centroid selection
    (vec_id %% N, ordered, limited), same argmax assignment tie-break,
    same nprobe ranking, same per-cell candidates and HOF-bit-equal
    sims. ``query_filter`` restricts the query side (e.g. a bounded
    subset for ann_ivf_topk); ``final_select`` overrides the output
    projection (column renames for domain-specific wrappers)."""
    out = final_select or (
        "query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, "
        "floor(sim * 1e4 + 0.5) / 1e4 AS sim"
    )
    return f"""
      WITH e AS ({e_cte}),
      cents AS (SELECT vec_id AS cid, emb AS cemb FROM e
                WHERE vec_id % {centroid_every} = 0
                ORDER BY vec_id LIMIT {n_max_centroids}),
      csims AS (SELECT e.vec_id, e.emb, cents.cid,
                       list_cosine_similarity(e.emb, cents.cemb) AS csim
                FROM e CROSS JOIN cents),
      ranked AS (SELECT *, row_number() OVER (PARTITION BY vec_id
                     ORDER BY csim DESC, cid ASC) AS rn FROM csims),
      assigned AS (SELECT vec_id, emb, cid FROM ranked WHERE rn = 1),
      probes AS (SELECT vec_id AS query_id, emb AS q_emb, cid
                 FROM ranked WHERE rn <= {nprobe} AND ({query_filter})),
      scored AS (SELECT p.query_id, a.vec_id AS neighbor_id,
                        list_cosine_similarity(p.q_emb, a.emb) AS sim
                 FROM probes p JOIN assigned a
                   ON p.cid = a.cid AND a.vec_id <> p.query_id)
      SELECT {out}
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY sim DESC, neighbor_id ASC) AS rank
            FROM scored)
      WHERE rank <= {k}
    """


def ann_ivf_topk(
    emb: DataFrame,
    k: int = 5,
    every: int = 50,
    centroid_every: int = 100,
    nprobe: int = 5,
    n_max_centroids: int = 512,
    refine_iters: int = 0,
    cents: list[tuple[int, list[float]]] | None = None,
    assigned: DataFrame | None = None,
    corpus: DataFrame | None = None,
    precomputed_count: int | None = None,
    _scored: bool = False,
) -> DataFrame:
    """IVF-flavored ANN: deterministic centroid set (every Nth vector
    stands in for k-means training, keeping the operator reproducible),
    vectors assigned to their nearest centroid, queries probe the
    ``nprobe`` nearest centroid lists.

    Plan shape: the centroid table is tiny BY CONSTRUCTION (|corpus| /
    centroid_every), so it ships as a plan-side LITERAL and nearest-
    centroid assignment is a map-only HOF argmax in a single projection —
    no crossJoin row blowup, and crucially no per-vector window (the
    previous formulation shuffled |corpus| x |C| rows, each carrying the
    64-dim embedding, just to rank them; measured 9s -> ~2s at sf0.1).
    Probes still rank via explode+window but only over the bounded query
    subset. The candidate join broadcasts the probe side, so the corpus
    is never shuffled before scoring; the only corpus-sized exchange is
    the final per-query top-k window over candidate rows.

    ``n_max_centroids`` caps the literal table like a real IVF nlist —
    an index constant, not data-proportional, so the plan stays bounded
    as the corpus grows. Assignment is the pure-JVM HOF argmax
    (``_nearest_centroid``): its sequential arithmetic is bit-equal to
    DuckDB's list_cosine_similarity, so no Python worker runs and a
    near-tied argmax resolves as in the oracle (``duckdb_ivf_knn_sql``).

    ``refine_iters`` > 0 runs that many Lloyd iterations over the seed
    centroids (``refine_centroids``) before indexing — better-balanced
    inverted lists at the cost of one distributed pass each."""
    e0 = (
        corpus
        if corpus is not None
        else _as_double(emb).select("vec_id", "embedding")
    )
    if cents is None:
        # index-build/query split: pass a prebuilt ``cents`` when
        # serving many queries over the same corpus
        cents = ivf_centroids(e0, centroid_every, n_max_centroids)
    from ..io import widen

    # width 8 A/B'd best (vs none/16/32: 5.0/3.4/3.5/3.5s at sf0.1) —
    # same single-row-group-fixture trade-off as ann_lsh_topk
    e = e0 if corpus is not None else widen(e0, 8)
    if refine_iters:
        cents = refine_centroids(e, cents, iters=refine_iters)
    if assigned is None:
        best = _nearest_centroid(cents, "embedding")
        # candidate-side norm precomputed once per vector
        # (see _sim_from_dot)
        assigned = e.select(
            "vec_id", "embedding", best["cid"].alias("cid")
        ).withColumn("nrm", norm(F.col("embedding")))
    # else: a sweep passed a prebuilt (vec_id, embedding, cid, nrm)
    # index relation — nprobe is a query-side knob, so sharing the
    # assignment across probe widths is value-identical by definition
    q = query_subset(e, every, precomputed_count=precomputed_count).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        norm(F.col("embedding")).alias("q_nrm"),
    )
    probes = (
        q.select(
            "query_id",
            "q_emb",
            "q_nrm",
            F.explode(_centroid_sims(cents, "q_emb")).alias("pr"),
        )
        .select(
            "query_id",
            "q_emb",
            "q_nrm",
            F.col("pr.cid").alias("cid"),
            F.col("pr.csim").alias("csim"),
        )
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.col("csim").desc(), F.col("cid").asc()
                )
            ),
        )
        .where(F.col("rk") <= nprobe)
        .select("query_id", "q_emb", "q_nrm", "cid")
    )
    cands = broadcast(probes).join(assigned, on="cid").where(
        F.col("vec_id") != F.col("query_id")
    )
    scored = cands.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        _sim_from_dot(
            F.col("q_emb"), F.col("embedding"), F.col("q_nrm"), F.col("nrm")
        ).alias("sim"),
    )
    if _scored:
        return scored  # composer path - see ann_lsh_topk
    return _topk(scored, k)


def quantize_embeddings(emb: DataFrame, bits: int = 8) -> DataFrame:
    """Symmetric per-vector int8 quantization — the storage scale path
    for a 100TB embedding store (4x smaller than float32, 8x smaller
    than the doubles they'd widen to; dot products on int8 codes are
    also what SIMD-accelerated ANN kernels consume).

    Per vector: scale = max|x| / (2^(bits-1) - 1); code_i =
    floor(x_i/scale + 0.5) (round-half-toward-+inf — one IEEE divide and
    add per element, deterministic across engines, unlike engine round()
    on exact .5 code boundaries, which float32 inputs DO hit since they
    are dyadic rationals). Emits per-vector reconstruction error so a
    pipeline can gate on quality: max_abs_err <= scale/2 by construction
    (asserted in tests), and cosine(x, dequant(x)) stays ~1 at 8 bits.

    All pure JVM HOFs over the array column — no Python, no shuffle:
    a map-only plan that runs at scan speed over any corpus size."""
    qmax = float(2 ** (bits - 1) - 1)
    x = F.col("embedding")
    scale = F.array_max(F.transform(x, lambda v: F.abs(v))).cast("double") / F.lit(
        qmax
    )
    df = emb.select(
        "vec_id",
        "label",
        x.alias("embedding"),
        F.when(scale > 0, scale).otherwise(F.lit(1.0)).alias("scale"),
    )
    codes = F.transform(
        F.col("embedding"),
        lambda v: F.floor(v.cast("double") / F.col("scale") + F.lit(0.5)).cast(
            "int"
        ),
    )
    df = df.withColumn("codes", codes)
    dequant_err = F.array_max(
        F.zip_with(
            F.col("embedding"),
            F.col("codes"),
            lambda v, c: F.abs(v.cast("double") - c * F.col("scale")),
        )
    )
    from ..functions.text import round_half_up

    return df.select(
        "vec_id",
        "label",
        F.size("codes").alias("n_dims"),
        round_half_up(F.col("scale"), 6).alias("scale_r"),
        F.aggregate("codes", F.lit(0).cast("long"), lambda a, c: a + c).alias(
            "code_sum"
        ),
        round_half_up(dequant_err, 6).alias("max_abs_err"),
    )


def _int8_codes(emb: DataFrame, bits: int = 8) -> DataFrame:
    """(vec_id, codes array<int>) under the same symmetric quantization
    as ``quantize_embeddings`` (same scale / floor(x/s + 0.5) formula,
    kept textually in sync — see its docstring for determinism notes)."""
    qmax = float(2 ** (bits - 1) - 1)
    x = F.col("embedding")
    scale = F.array_max(F.transform(x, lambda v: F.abs(v))).cast("double") / F.lit(
        qmax
    )
    d = emb.select(
        "vec_id",
        x.alias("embedding"),
        F.when(scale > 0, scale).otherwise(F.lit(1.0)).alias("scale"),
    )
    return d.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda v: F.floor(v.cast("double") / F.col("scale") + F.lit(0.5)).cast(
                "int"
            ),
        ).alias("codes"),
    )


def embedding_covariance(emb: DataFrame) -> DataFrame:
    """Distributed covariance/correlation matrix of the embedding corpus
    — the second-moment statistics behind whitening, PCA seeding, and
    drift monitoring of a 100TB embedding store. Computed over the
    int8-QUANTIZED codes (``quantize_embeddings``'s formula) so every
    accumulated quantity is an INTEGER: int sums are exact and
    order/partitioning-independent, which is what gives an approximate-
    family operator a full value-hash oracle (float sums differ at the
    ulp by summation order; see README 'Money aggregates in DECIMAL'
    for the same argument).

    ONE corpus pass: an Arrow ``mapInPandas`` stage computes X'^T X' in
    int64 per batch, where X' = [X | 1] is the code matrix AUGMENTED
    with a ones column (numpy integer matmul — exact, no float
    accumulation). The augmented Gram carries everything at once:
    (i,j) products, the per-dim sums in column d, and the row count at
    (d,d) — so the dimension stats need neither a second scan nor an
    eager collect. Each batch emits only the (d+1)(d+2)/2 upper-
    triangle partial sums; one keyed shuffle carries |batches| x 2145
    rows regardless of corpus size. The aggregated Gram is ~2k rows and
    feeds three branches (pairs, sums, variances), so it is
    localCheckpointed — Catalyst has no cross-branch CSE and would
    otherwise replay the corpus scan per branch. Overflow-safe under
    ANSI to ~3.5e14 rows (127^2 x n < 2^63).

    A/B history at sf0.1: pure-JVM HOF flatten/explode of per-row
    products 7.4s (per-element named_struct building in a nested
    transform runs interpreted — the word_shingles finding, struct
    edition — and it shuffled |rows| x 2080 products); two-pass int64
    matmul + eager dim-stats collect 1.1s; this augmented single-pass
    form 0.47s first execution, ~0.3s once the checkpointed Gram is
    materialized.

    cov(i,j) = (S_ij - S_i*S_j/n)/n and corr from the diagonal, all
    derived in one fixed IEEE op order mirrored by the oracle."""
    import numpy as np
    import pandas as pd

    codes = _int8_codes(emb)

    def partial_gram(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf["codes"].to_numpy()).astype(np.int64)
            X = np.hstack([X, np.ones((X.shape[0], 1), dtype=np.int64)])
            G = X.T @ X
            iu = np.triu_indices(G.shape[0])
            yield pd.DataFrame({"i": iu[0], "j": iu[1], "p": G[iu]})

    gram_full = (
        codes.select("codes")
        .mapInPandas(partial_gram, schema="i int, j int, p long")
        .groupBy("i", "j")
        .agg(F.sum("p").alias("sp"))
        .localCheckpoint(eager=False)
    )
    # the ones column sits at index d; d is schema-level (one-row peek)
    ones_col = int(emb.select(F.size("embedding").alias("d")).first()["d"])
    gram = gram_full.where((F.col("i") < ones_col) & (F.col("j") < ones_col))
    sums = gram_full.where(
        (F.col("j") == ones_col) & (F.col("i") < ones_col)
    ).select(F.col("i").alias("d"), F.col("sp").alias("s"))
    total = gram_full.where(
        (F.col("i") == ones_col) & (F.col("j") == ones_col)
    ).select(F.col("sp").alias("n"))
    var = gram.where(F.col("i") == F.col("j")).select(
        F.col("i").alias("d"), F.col("sp").alias("sq")
    )
    dstat = (
        sums.join(var, "d")
        .crossJoin(broadcast(total))
        .select(
            "d",
            "s",
            "n",
            (
                (
                    F.col("sq").cast("double")
                    - F.col("s").cast("double") * F.col("s") / F.col("n")
                )
                / F.col("n")
            ).alias("var"),
        )
    )
    a, b = dstat.alias("a"), dstat.alias("b")
    cov = (
        F.col("sp").cast("double")
        - F.col("a.s").cast("double") * F.col("b.s") / F.col("a.n")
    ) / F.col("a.n")
    from ..functions.text import round_half_up

    return (
        gram.join(broadcast(a), F.col("i") == F.col("a.d"))
        .join(broadcast(b), F.col("j") == F.col("b.d"))
        .select(
            "i",
            "j",
            round_half_up(cov, 8).alias("cov"),
            F.when(
                (F.col("a.var") > 0) & (F.col("b.var") > 0),
                round_half_up(cov / F.sqrt(F.col("a.var") * F.col("b.var")), 6),
            ).alias("corr"),
        )
    )


def _pca_eig(emb: DataFrame) -> tuple:
    """(eigvals desc, eigvecs cols matching, mean, n) of the embedding
    covariance, computed from ONE distributed pass: per-Arrow-batch
    float64 moments (X^T X, column sums, count) reduced to d(d+1)/2 + d
    + 1 numbers per batch, combined on the driver (d x d is bounded —
    the IVF-centroid-collect pattern), then LAPACK ``eigh``. Float64
    sums are not bit-reproducible across partitionings (hence the PCA
    family is rows-only checked; ``embedding_covariance`` is the
    exact-integer sibling), but the 1e-9-relative invariants pinned in
    tests (trace == Σλ, orthonormality, per-component projected
    variance == λ) hold regardless of summation order."""
    import numpy as np
    import pandas as pd

    def moments(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            G = X.T @ X
            iu = np.triu_indices(G.shape[0])
            d = G.shape[0]
            rows = {
                "i": list(iu[0]) + list(range(d)) + [-1],
                "j": list(iu[1]) + [-1] * d + [-1],
                "v": list(G[iu]) + list(X.sum(axis=0)) + [float(len(X))],
            }
            yield pd.DataFrame(rows)

    parts = (
        emb.select("embedding")
        .mapInPandas(moments, schema="i int, j int, v double")
        .groupBy("i", "j")
        .agg(F.sum("v").alias("v"))
        .collect()  # bounded: d(d+1)/2 + d + 1 rows
    )
    import numpy as np

    d = max(r["i"] for r in parts) + 1
    G = np.zeros((d, d))
    s = np.zeros(d)
    n = 0.0
    for r in parts:
        if r["i"] == -1:
            n = r["v"]
        elif r["j"] == -1:
            s[r["i"]] = r["v"]
        else:
            G[r["i"], r["j"]] = r["v"]
            G[r["j"], r["i"]] = r["v"]
    mean = s / n
    cov = G / n - np.outer(mean, mean)
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1]
    return vals[order], vecs[:, order], mean, n


def pca_variance_report(emb: DataFrame, k: int = 8) -> DataFrame:
    """Top-k principal components of the embedding corpus: eigenvalue,
    explained-variance fraction, cumulative fraction — the
    dimensionality budget a compression/whitening stage reads before
    choosing a target rank."""
    vals, _vecs, _mean, _n = _pca_eig(emb)
    total = float(vals.sum())
    rows = []
    cum = 0.0
    for i in range(min(k, len(vals))):
        cum += float(vals[i])
        rows.append((i, float(vals[i]), float(vals[i]) / total, cum / total))
    return emb.sparkSession.createDataFrame(
        rows, "component int, eigenvalue double, explained double, cumulative double"
    )


def pca_project(emb: DataFrame, k: int = 8) -> DataFrame:
    """Project every embedding onto the top-k principal axes (centered)
    — the whitening/compression map stage. The k x d component matrix
    rides the task closures (a few KB); projection is an Arrow-batched
    BLAS matmul per batch, map-only, no shuffle."""
    import numpy as np
    import pandas as pd

    _vals, vecs, mean, _n = _pca_eig(emb)
    W = vecs[:, :k]

    def project(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            P = (X - mean) @ W
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "proj": [list(map(float, p)) for p in P]}
            )

    return emb.select("vec_id", "embedding").mapInPandas(
        project, schema="vec_id long, proj array<double>"
    )


def pca_spectrum_check(emb: DataFrame, k: int = 8) -> DataFrame:
    """Exact-oracle PCA gate form (the production report stays
    :func:`pca_variance_report`). Moments are built on the int8 codes
    (``_int8_codes`` — same one-pass augmented int64 Gram as
    ``embedding_covariance``), so every distributed quantity is an
    integer: exact, order/partitioning-independent, and mirrorable in
    DuckDB SQL. Only the bounded eigen step (LAPACK ``eigh`` on the
    d x d matrix — the IVF-centroid-collect pattern) stays float-side,
    and its correctness is folded into a deterministic boolean.

    Output per component i in [0, k):
      - ``trace_scaled``  BIGINT: n^2 * trace(C) = sum_d (n*sq_d - s_d^2)
        — pins sum(lambda) exactly (integer, both engines).
      - ``frob2_scaled``  VARCHAR: n^4 * ||C||_F^2 = n^4 * sum(lambda^2)
        = sum_{i,j} (n*sp_ij - s_i*s_j)^2 — exceeds int64, so carried as
        the exact decimal string (Python bigint / DuckDB HUGEINT).
      - ``within_tol``    BOOLEAN: eigh invariants at 1e-9 relative —
        eigenvalues descending and >= -tol, |sum(lambda) - trace| and
        |sum(lambda^2) - frob2/n^4| within tol, V^T V orthonormal.
    The oracle reproduces the two exact integers from the same code
    formula and literal TRUE; a regression in the moment pass breaks
    the integers, one in the eigen step flips the boolean."""
    import numpy as np
    import pandas as pd

    codes = _int8_codes(emb)

    def partial_gram(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf["codes"].to_numpy()).astype(np.int64)
            X = np.hstack([X, np.ones((X.shape[0], 1), dtype=np.int64)])
            G = X.T @ X
            iu = np.triu_indices(G.shape[0])
            yield pd.DataFrame({"i": iu[0], "j": iu[1], "p": G[iu]})

    parts = (
        codes.select("codes")
        .mapInPandas(partial_gram, schema="i int, j int, p long")
        .groupBy("i", "j")
        .agg(F.sum("p").alias("sp"))
        .collect()  # bounded: (d+1)(d+2)/2 rows
    )
    d = max(r["i"] for r in parts)  # ones column sits at index d
    n = 0
    s = [0] * d
    sp = [[0] * d for _ in range(d)]
    for r in parts:
        i, j, p = r["i"], r["j"], int(r["sp"])
        if i == d and j == d:
            n = p
        elif j == d:
            s[i] = p
        elif i < d and j < d:
            sp[i][j] = p
            sp[j][i] = p
    # exact integer forms (Python bigint — no overflow, no float error)
    cov_scaled = [[n * sp[i][j] - s[i] * s[j] for j in range(d)] for i in range(d)]
    trace_scaled = sum(cov_scaled[i][i] for i in range(d))
    frob2_scaled = sum(
        cov_scaled[i][j] * cov_scaled[i][j] for i in range(d) for j in range(d)
    )
    C = np.array(cov_scaled, dtype=np.float64) / (float(n) * float(n))
    vals, vecs = np.linalg.eigh(C)
    order = np.argsort(vals)[::-1]
    vals, vecs = vals[order], vecs[:, order]
    trace = float(trace_scaled) / (float(n) ** 2)
    tol = 1e-9 * max(trace, 1.0)
    sum_ok = abs(float(vals.sum()) - trace) <= tol
    frob2 = float(frob2_scaled) / (float(n) ** 4)
    frob_ok = abs(float((vals * vals).sum()) - frob2) <= 1e-9 * max(frob2, 1.0)
    orth_ok = bool(
        np.abs(vecs.T @ vecs - np.eye(d)).max() <= 1e-9
    )
    rows = []
    for i in range(min(k, len(vals))):
        desc_ok = i == 0 or vals[i] <= vals[i - 1] + tol
        psd_ok = vals[i] >= -tol
        rows.append(
            (
                i,
                int(trace_scaled),
                str(frob2_scaled),
                bool(sum_ok and frob_ok and orth_ok and desc_ok and psd_ok),
            )
        )
    return emb.sparkSession.createDataFrame(
        rows,
        "component int, trace_scaled long, frob2_scaled string, "
        "within_tol boolean",
    )


def user_profile_vectors(events: DataFrame) -> DataFrame:
    """Dense per-user daily-activity profile vectors: (vec_id=user_id,
    embedding=array<double> of per-day event counts over the global day
    spine, zero-filled). The day spine is bounded (years ~ thousands of
    entries), so per-user state is one small array; counts are integers,
    so every downstream dot/norm is EXACT in float64 (< 2^53) regardless
    of summation order — cross-engine sims are bit-equal by arithmetic,
    not luck."""
    daily = events.groupBy(
        F.col("user_id"), F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    bounds = daily.agg(
        F.min("day").alias("d0"),
        F.datediff(F.max("day"), F.min("day")).alias("span"),
    )
    indexed = daily.join(broadcast(bounds)).select(
        "user_id", F.datediff("day", "d0").alias("i"), "cnt", "span"
    )
    return (
        indexed.groupBy("user_id", "span")
        .agg(F.map_from_entries(F.collect_list(F.struct("i", "cnt"))).alias("m"))
        .select(
            F.col("user_id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(0), F.col("span")),
                lambda i: F.coalesce(F.element_at(F.col("m"), i), F.lit(0))
                .cast("double"),
            ).alias("embedding"),
        )
    )


def behavioral_similarity(
    events: DataFrame,
    k: int = 5,
    centroid_every: int = 25,
    n_max_centroids: int = 256,
    nprobe: int = 2,
) -> DataFrame:
    """Time-series similarity search over activity profiles: for each
    user, the top-k users with the most similar daily event-count
    series (cosine over per-day counts) — candidates restricted to the
    user's ``nprobe`` nearest IVF cells.

    The previous formulation scored every user against every other via
    a driver-collected query matrix (``cosine_topk_matmul`` at every=1
    pulled ALL user profiles to the driver and shipped them in every
    task closure — a scale-killer at |users| growth). This one reuses
    ``ivf_knn_graph``: only the capped centroid set is collected; the
    corpus-sized work is the cid equi-join plus the top-k window.

    Exactness: profile entries are integer counts, so HOF dots/norms are
    exact and the DuckDB oracle (dense profiles rebuilt in SQL + the
    same IVF mirror) hash-matches exactly — no BLAS in the path, which
    is what makes the sims reproducible op-for-op. For truly sparse+wide
    profiles (per-URL instead of per-day) use
    ``behavioral_similarity_sparse`` — the exact inverted-index form.
    """
    # the celled kNN self-joins its input (probes x assigned), which
    # would recompute the profile aggregation once per branch — a lazy
    # localCheckpoint materializes profiles ONCE on first action and
    # both branches (plus the centroid collect) reuse it (A/B at sf0.1:
    # 2.4s -> ~1.5s; same lineage-truncation idiom as
    # dedup.connected_components)
    profiles = user_profile_vectors(events).localCheckpoint(eager=False)
    out = ivf_knn_graph(
        profiles,
        k=k,
        centroid_every=centroid_every,
        n_max_centroids=n_max_centroids,
        nprobe=nprobe,
    )
    return out.select(
        F.col("query_id").alias("user_id"),
        F.col("neighbor_id").alias("similar_user"),
        "rank",
        "sim",
    )


def behavioral_similarity_sparse(
    events: DataFrame,
    k: int = 5,
    event_type: str | None = None,
    max_day_width: int | None = None,
) -> DataFrame:
    """EXACT top-k behavioral similarity via the sparse inverted-index
    join: dot products as an equi-join of (user, day, cnt) rows on day —
    shuffle cost Σ_day |active_day|², the right plan when most users are
    inactive most days (real activity data; a fully dense corpus is
    this form's worst case — the celled ``behavioral_similarity`` is
    the dense-regime twin). Kept as the exact reference the celled
    default is recall-tested against (tests/test_ann_recall.py).

    ``event_type`` restricts to one activity slice (the registered
    query uses the purchase slice: ~35% day-density on the fixtures,
    the sparse regime this plan is FOR). ``max_day_width`` is the
    join-width guard (VERDICT r5 #3): a day on which more than
    ``max_day_width`` distinct users are active contributes
    O(width²) join rows but almost no pair discrimination — the
    stopword-day analogue of the LSH ``max_df`` shingle cap — so such
    days are dropped from the profiles (norms AND dots, so the output
    is still the exact cosine of the capped profiles; the DuckDB
    oracle mirrors the cap). With the cap, join volume is bounded by
    |days| * max_day_width² regardless of user count."""
    daily = events
    if event_type is not None:
        daily = daily.where(F.col("event_type") == event_type)
    daily = daily.groupBy(
        F.col("user_id"), F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    if max_day_width is not None:
        daily = (
            daily.withColumn(
                "day_width",
                F.count(F.lit(1)).over(Window.partitionBy("day")),
            )
            .where(F.col("day_width") <= max_day_width)
            .drop("day_width")
        )
    # the (user, day, cnt) profile relation feeds THREE consumers
    # (norms + both join sides): ReuseExchange dedups the aggregate's
    # shuffle but the width-cap window and filter above it replay per
    # consumer — checkpoint the |users|x|days|-bounded relation once
    # (optimization r10, guide §2.4)
    daily = daily.localCheckpoint(eager=False)
    norms = daily.groupBy("user_id").agg(
        F.sqrt(F.sum(F.col("cnt") * F.col("cnt")).cast("double")).alias("nrm")
    )
    a = daily.select(F.col("user_id").alias("ua"), "day", F.col("cnt").alias("ca"))
    b = daily.select(F.col("user_id").alias("ub"), "day", F.col("cnt").alias("cb"))
    # The dot is symmetric and the per-term products are exact BIGINTs
    # (order-free sum), so compute each unordered pair ONCE (ua < ub)
    # and mirror after the aggregation — halves the join output and the
    # (ua, ub) shuffle. A/B at sf0.1 purchase slice: 6.5s -> 3.6s.
    dots_half = (
        a.join(b, "day")
        .where(F.col("ua") < F.col("ub"))
        .groupBy("ua", "ub")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("dot"))
    )
    dots = dots_half.unionByName(
        dots_half.select(
            F.col("ub").alias("ua"), F.col("ua").alias("ub"), "dot"
        )
    )
    scored = (
        dots.join(norms.withColumnRenamed("user_id", "ua").withColumnRenamed("nrm", "na"), "ua")
        .join(norms.withColumnRenamed("user_id", "ub").withColumnRenamed("nrm", "nb"), "ub")
        .select(
            F.col("ua").alias("query_id"),
            F.col("ub").alias("neighbor_id"),
            (F.col("dot").cast("double") / (F.col("na") * F.col("nb"))).alias("sim"),
        )
    )
    out = _topk(scored, k)
    return out.select(
        F.col("query_id").alias("user_id"),
        F.col("neighbor_id").alias("similar_user"),
        "rank",
        "sim",
    )


# --- product quantization (PQ) ---------------------------------------

M_SUB = 8  # subspaces
SUB_DIM = DIM // M_SUB
N_CODES = 16  # codewords per subspace (4-bit codes)


def pq_seeds(e: DataFrame, code_every: int = 100, n_codes: int = N_CODES):
    """Deterministic PQ codeword seed set: every Nth vec_id, capped
    IN-PLAN before the collect (the ivf_centroids discipline — the
    driver pulls at most ``n_codes`` rows at any corpus size). Codeword
    j of subspace s is seed j's s-th subvector, standing in for
    per-subspace k-means training to keep the operator reproducible
    and SQL-derivable (the oracle re-derives the same seeds from the
    table)."""
    rows = (
        e.where(F.col("vec_id") % code_every == 0)
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(n_codes)
        .collect()
    )
    return [list(r["embedding"]) for r in rows]


def _sql_sqdist(a: str, b: str) -> str:
    """SQL text of sequential squared-L2 over two array expressions —
    fold order matches the oracle's expanded left-associated sum
    (0.0 + t0 == t0 bit-exactly, then identical add order)."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
        "0.0D, (acc, v) -> acc + v)"
    )


def _pq_codes_expr(seeds: list[list[float]], col: str = "embedding"):
    """array<bigint> of per-subspace nearest-codeword ids. Argmin fold
    with strict < keeps the FIRST minimum — ties resolve to the
    smallest code id, same as a (d ASC, j ASC) ranking."""
    from ..functions.vectors import sql_array_lit

    ids = sql_array_lit(list(range(len(seeds))))
    subs = []
    for s in range(M_SUB):
        cws = sql_array_lit([v[s * SUB_DIM : (s + 1) * SUB_DIM] for v in seeds])
        dist = _sql_sqdist(f"slice({col}, {s * SUB_DIM + 1}, {SUB_DIM})", "c")
        subs.append(
            f"""aggregate(zip_with({ids}, {cws},
                  (j, c) -> named_struct('j', j, 'd', {dist})),
                named_struct('j', CAST(-1 AS BIGINT), 'd', CAST('Infinity' AS DOUBLE)),
                (acc, x) -> CASE WHEN x.d < acc.d THEN x ELSE acc END).j"""
        )
    return F.expr("array(" + ",".join(subs) + ")")


def pq_encode(
    emb: DataFrame, code_every: int = 100, n_codes: int = N_CODES
) -> DataFrame:
    """Product-quantize the corpus: 64 floats -> 8 4-bit codes (64x
    compression) as (vec_id, codes array<bigint>). Map-only — the
    codebook rides as a plan literal; encoding fuses with the scan and
    no shuffle touches the corpus. The compressed representation is
    what a 100TB ANN index actually stores and scans."""
    from ..io import widen

    e0 = _as_double(emb).select("vec_id", "embedding")
    seeds = pq_seeds(e0, code_every, n_codes)
    return widen(e0, 8).select(
        "vec_id", _pq_codes_expr(seeds).alias("codes")
    )


def ann_pq_topk(
    emb: DataFrame,
    k: int = 5,
    every: int = 50,
    code_every: int = 100,
    n_codes: int = N_CODES,
    seeds: list | None = None,
    corpus: DataFrame | None = None,
    precomputed_count: int | None = None,
    _scored: bool = False,
) -> DataFrame:
    """ANN by product quantization: queries scan the CODES, not the
    vectors — per pair cost is m_sub codeword lookups + an 8-term
    distance per subspace instead of a 64-wide float scan, and the
    candidate relation the scan reads is 64x smaller. The third member
    of the ANN family (LSH buckets prune by collision, IVF by cell;
    PQ compresses the exhaustive scan itself — and composes with IVF
    cells at 100TB, where each probed cell scans codes).

    Deterministic end to end: seed codebook, argmin/rank tie-breaks to
    the smaller id, ADC arithmetic bit-mirrored by the DuckDB oracle
    (``duckdb_pq_sql``) — so the driver's exact value hash applies to
    an APPROXIMATE operator. Returns (query_id, neighbor_id, rank,
    adist); rank ascends by distance."""
    from ..functions.text import round_half_up
    from ..io import widen

    e0 = (
        corpus
        if corpus is not None
        else _as_double(emb).select("vec_id", "embedding")
    )
    if seeds is None:
        # ``seeds`` accepts a precomputed codebook so composers
        # (ann_recall_report) collect it once — a pure deterministic
        # function of (emb, code_every, n_codes), value-identical
        seeds = pq_seeds(e0, code_every, n_codes)
    cand = (e0 if corpus is not None else widen(e0, 8)).select(
        "vec_id", _pq_codes_expr(seeds).alias("codes")
    )
    queries = query_subset(
        e0, every, precomputed_count=precomputed_count
    ).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    ).withColumn("lut", F.expr(_pq_lut_expr(seeds)))
    # ADC from the per-query LUT: bit-identical to the inline form
    # (same hoisted expression), ~16x less per-pair arithmetic
    scored = (
        cand.join(F.broadcast(queries), F.col("vec_id") != F.col("query_id"))
        .withColumn("adist", F.expr(_PQ_ADC_FROM_LUT))
    )
    if _scored:
        # composer path — see ann_lsh_topk
        return scored.select(
            "query_id", F.col("vec_id").alias("neighbor_id"), "adist"
        )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adist").asc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "rank",
            round_half_up(F.col("adist"), 4).alias("adist"),
        )
    )


def duckdb_pq_sql(
    k: int = 5,
    every: int = 50,
    code_every: int = 100,
    n_codes: int = N_CODES,
    codes_only: bool = False,
) -> str:
    """DuckDB mirror of ``pq_encode`` / ``ann_pq_topk``: same seed
    selection, same expanded squared-L2 (left-associated adds), same
    argmin and rank tie-breaks; the cross-subspace ADC sum is
    ``list_reduce`` over the s-ordered distance list, bit-matching the
    Spark fold."""
    sq = " + ".join(
        f"((e.emb[s.s * {SUB_DIM} + {i + 1}] - seeds.emb[s.s * {SUB_DIM} + {i + 1}])"
        f" * (e.emb[s.s * {SUB_DIM} + {i + 1}] - seeds.emb[s.s * {SUB_DIM} + {i + 1}]))"
        for i in range(SUB_DIM)
    )
    qsq = " + ".join(
        f"((q.q_emb[cd.s * {SUB_DIM} + {i + 1}] - seeds.emb[cd.s * {SUB_DIM} + {i + 1}])"
        f" * (q.q_emb[cd.s * {SUB_DIM} + {i + 1}] - seeds.emb[cd.s * {SUB_DIM} + {i + 1}]))"
        for i in range(SUB_DIM)
    )
    base = f"""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      seeds AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, emb
                FROM (SELECT vec_id, emb FROM e WHERE vec_id % {code_every} = 0
                      ORDER BY vec_id LIMIT {n_codes}) _),
      dists AS (
        SELECT e.vec_id, s.s, seeds.j, ({sq}) AS d
        FROM e, (SELECT unnest(range({M_SUB})) AS s) s, seeds),
      codes AS (
        SELECT vec_id, s, j FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id, s
                                       ORDER BY d ASC, j ASC) AS rn
          FROM dists) WHERE rn = 1)
    """
    if codes_only:
        return base + """
      SELECT vec_id, CAST(s AS INTEGER) AS sub, j AS code FROM codes
        """
    return base + f""",
      q AS (SELECT vec_id AS query_id, emb AS q_emb FROM e
            WHERE {query_mod_sql(every)}),
      ad AS (
        SELECT q.query_id, cd.vec_id AS neighbor_id,
               CAST(list_reduce(list(({qsq}) ORDER BY cd.s),
                                (a, b) -> a + b) AS DOUBLE) AS adist
        FROM q, codes cd
        JOIN seeds ON seeds.j = cd.j
        WHERE cd.vec_id <> q.query_id
        GROUP BY q.query_id, cd.vec_id)
      SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank,
             floor(adist * 1e4 + 0.5) / 1e4 AS adist
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY adist ASC, neighbor_id ASC) AS rank
            FROM ad)
      WHERE rank <= {k}
    """


def ann_ivfpq_topk(
    emb: DataFrame,
    k: int = 5,
    every: int = 50,
    centroid_every: int = 100,
    nprobe: int = 5,
    n_max_centroids: int = 512,
    code_every: int = 100,
    n_codes: int = N_CODES,
    cents: list | None = None,
    seeds: list | None = None,
    corpus: DataFrame | None = None,
    precomputed_count: int | None = None,
    _scored: bool = False,
) -> DataFrame:
    """IVF+PQ — the composition a billion-vector index actually runs
    (the FAISS IVFPQ shape): centroid cells prune the candidate set to
    ``nprobe`` inverted lists, and within each probed cell the scan
    reads 8-byte PQ codes instead of 256-byte float vectors, scoring
    by asymmetric distance. Cells cut WORK, codes cut BYTES — at 100TB
    the index fits in a fraction of the corpus footprint and each
    query touches nprobe/|C| of it.

    Everything deterministic and value-hash-oracled end to end
    (``duckdb_ivfpq_sql``): literal-argmax cell assignment (cosine,
    ties to smaller cid), PQ argmin encoding (ties to smaller code),
    sequence-mirrored ADC arithmetic, (adist asc, neighbor asc)
    ranking.

    One map-only corpus projection computes cell assignment and codes
    together: the (vec_id, cid, codes) relation is what a warehouse
    persists (bucketed by cid), and searches never touch raw vectors
    again. Probe selection and the ADC LUT are map-only against plan
    literals; the only joins ride cid (broadcast probe side) and the
    only keyed exchange is the per-query top-k."""
    from ..functions.text import round_half_up
    from ..io import widen

    e0 = (
        corpus
        if corpus is not None
        else _as_double(emb).select("vec_id", "embedding")
    )
    if cents is None:
        cents = ivf_centroids(e0, centroid_every, n_max_centroids)
    if seeds is None:
        seeds = pq_seeds(e0, code_every, n_codes)
    e = e0 if corpus is not None else widen(e0, 8)
    best = _nearest_centroid(cents, "embedding")
    assigned = e.select(
        "vec_id",
        best["cid"].alias("cid"),
        _pq_codes_expr(seeds).alias("codes"),
    )
    q = (
        query_subset(e0, every, precomputed_count=precomputed_count)
        .select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
        )
        .withColumn("lut", F.expr(_pq_lut_expr(seeds)))
    )
    probes = (
        q.select(
            "query_id", "lut", F.explode(_centroid_sims(cents, "q_emb")).alias("pr")
        )
        .select(
            "query_id",
            "lut",
            F.col("pr.cid").alias("cid"),
            F.col("pr.csim").alias("csim"),
        )
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.col("csim").desc(), F.col("cid").asc()
                )
            ),
        )
        .where(F.col("rk") <= nprobe)
        .select("query_id", "lut", "cid")
    )
    cands = broadcast(probes).join(assigned, "cid").where(
        F.col("vec_id") != F.col("query_id")
    )
    # ADC from the per-query LUT (see ann_pq_topk) — the probe rows
    # carry the 128-double table instead of the raw query vector
    scored = cands.withColumn("adist", F.expr(_PQ_ADC_FROM_LUT))
    if _scored:
        # composer path — see ann_lsh_topk
        return scored.select(
            "query_id", F.col("vec_id").alias("neighbor_id"), "adist"
        )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adist").asc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "rank",
            round_half_up(F.col("adist"), 4).alias("adist"),
        )
    )


def duckdb_ivfpq_sql(
    k: int = 5,
    every: int = 50,
    centroid_every: int = 100,
    nprobe: int = 5,
    n_max_centroids: int = 512,
    code_every: int = 100,
    n_codes: int = N_CODES,
) -> str:
    """DuckDB mirror of ``ann_ivfpq_topk``: the IVF builder's cell
    assignment/probe CTEs composed with the PQ builder's seed/code
    CTEs; ADC via list_reduce over the s-ordered expanded sums, same
    tie-breaks everywhere."""
    sq = " + ".join(
        f"((e.emb[s.s * {SUB_DIM} + {i + 1}] - seeds.emb[s.s * {SUB_DIM} + {i + 1}])"
        f" * (e.emb[s.s * {SUB_DIM} + {i + 1}] - seeds.emb[s.s * {SUB_DIM} + {i + 1}]))"
        for i in range(SUB_DIM)
    )
    qsq = " + ".join(
        f"((p.q_emb[cd.s * {SUB_DIM} + {i + 1}] - seeds.emb[cd.s * {SUB_DIM} + {i + 1}])"
        f" * (p.q_emb[cd.s * {SUB_DIM} + {i + 1}] - seeds.emb[cd.s * {SUB_DIM} + {i + 1}]))"
        for i in range(SUB_DIM)
    )
    return f"""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      cents AS (SELECT vec_id AS cid, emb AS cemb FROM e
                WHERE vec_id % {centroid_every} = 0
                ORDER BY vec_id LIMIT {n_max_centroids}),
      csims AS (SELECT e.vec_id, e.emb, cents.cid,
                       list_cosine_similarity(e.emb, cents.cemb) AS csim
                FROM e CROSS JOIN cents),
      ranked AS (SELECT *, row_number() OVER (PARTITION BY vec_id
                     ORDER BY csim DESC, cid ASC) AS rn FROM csims),
      assigned AS (SELECT vec_id, cid FROM ranked WHERE rn = 1),
      probes AS (SELECT vec_id AS query_id, emb AS q_emb, cid
                 FROM ranked WHERE rn <= {nprobe} AND {query_mod_sql(every)}),
      seeds AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, emb
                FROM (SELECT vec_id, emb FROM e WHERE vec_id % {code_every} = 0
                      ORDER BY vec_id LIMIT {n_codes}) _),
      dists AS (
        SELECT e.vec_id, s.s, seeds.j, ({sq}) AS d
        FROM e, (SELECT unnest(range({M_SUB})) AS s) s, seeds),
      codes AS (
        SELECT vec_id, s, j FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id, s
                                       ORDER BY d ASC, j ASC) AS rn
          FROM dists) WHERE rn = 1),
      ad AS (
        SELECT p.query_id, a.vec_id AS neighbor_id,
               CAST(list_reduce(list(({qsq}) ORDER BY cd.s),
                                (x, y) -> x + y) AS DOUBLE) AS adist
        FROM probes p
        JOIN assigned a ON a.cid = p.cid AND a.vec_id <> p.query_id
        JOIN codes cd ON cd.vec_id = a.vec_id
        JOIN seeds ON seeds.j = cd.j
        GROUP BY p.query_id, a.vec_id)
      SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank,
             floor(adist * 1e4 + 0.5) / 1e4 AS adist
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY adist ASC, neighbor_id ASC) AS rank
            FROM ad)
      WHERE rank <= {k}
    """


def _pq_lut_expr(seeds: list[list[float]], q_col: str = "q_emb") -> str:
    """SQL text of the per-QUERY ADC lookup table: lut[s][j] = squared
    L2 between the query's s-th subvector and codeword j — the same
    expanded left-associated 8-term sums the oracle mirrors, evaluated
    ONCE per query instead of once per (query, corpus) pair. Values are
    bit-identical (same expression, same inputs, just hoisted), so the
    oracle doesn't change; per-pair work drops from m_sub*sub_dim
    multiplies to m_sub array lookups + adds — A/B at sf0.1 (3 warm
    reps, same session): inline 1.24s vs LUT 0.59s, 2.1x."""
    from ..functions.vectors import sql_array_lit

    cb = sql_array_lit(
        [[v[s * SUB_DIM : (s + 1) * SUB_DIM] for v in seeds] for s in range(M_SUB)]
    )
    s_ids = sql_array_lit(list(range(M_SUB)))
    terms = " + ".join(
        f"((element_at({q_col}, cast(s * {SUB_DIM} + {i + 1} as int)) - "
        f"element_at(c, {i + 1})) * "
        f"(element_at({q_col}, cast(s * {SUB_DIM} + {i + 1} as int)) - "
        f"element_at(c, {i + 1})))"
        for i in range(SUB_DIM)
    )
    return (
        f"zip_with({s_ids}, {cb}, (s, cws) -> "
        f"transform(cws, c -> {terms}))"
    )


_PQ_ADC_FROM_LUT = (
    "aggregate(zip_with(codes, lut, (cj, l) -> "
    "element_at(l, cast(cj + 1 as int))), 0.0D, (acc, v) -> acc + v)"
)


def _fused_topk(tagged: DataFrame, k: int) -> DataFrame:
    """(idx, query_id, neighbor_id, a_rank): top-k per (idx, query_id)
    over a union of several indexes' scored rows in ONE window. A row
    carries either ``sim`` (ranked desc, exactly ``_topk``'s order, NaN
    first) or ``adist`` (ranked asc); the other column is null, so
    within a partition the null column ties and each index ranks by its
    own direction, then by neighbor_id asc."""
    w = Window.partitionBy("idx", "query_id").orderBy(
        F.col("sim").desc(), F.col("adist").asc(), F.col("neighbor_id").asc()
    )
    return (
        tagged.withColumn("a_rank", F.row_number().over(w))
        .where(F.col("a_rank") <= k)
        .select("idx", "query_id", "neighbor_id", "a_rank")
    )


def ann_recall_report(
    emb: DataFrame, k: int = 5, every: int = 50
) -> DataFrame:
    """Index-quality evaluation IN the engine: recall@k and MRR for
    every ANN strategy (LSH / IVF / PQ / IVFPQ) against the exact
    brute-force top-k — the report that decides which index (and which
    knobs) a corpus deploys, run as one Catalyst plan over the same
    tables. The brute-force side is the cost ceiling being beaten, so
    at 100TB this runs on a SAMPLE of queries (``every``) — exactly
    how production recall monitoring works.

    Determinism discipline: recall is a single integer/integer
    division; MRR sums ``60 div rank`` (lcm(1..5) = 60, so each
    reciprocal is an exact integer) and divides ONCE at the end —
    order-free integer sums, one rounded division, exactly
    oracle-able. Columns: n_matched counts approx∩exact pairs,
    n_top1_found counts queries whose TRUE nearest neighbor appears
    anywhere in the approx top-k (MRR's support set)."""
    from ..functions.text import round_half_up

    # ONE prepared corpus for every branch (optimization r10, guide
    # §2.4): the exact pass + all four index builds each re-scanned,
    # re-cast and re-widened the corpus (plus one count-agg subplan per
    # query_subset) — checkpoint the widened double relation once and
    # plumb it (and its count, bounded driver state) through every
    # builder. Value-identical: same projection of the same rows.
    from ..io import widen

    corpus = widen(
        _as_double(emb).select("vec_id", "embedding"), 8
    ).localCheckpoint(eager=False)
    n_corpus = corpus.count()
    # exact is consumed twice (pair-recall + top1/MRR) and the approx
    # union twice (matched + mrr): with no cross-branch CSE each
    # consumer would re-run the WHOLE brute-force/index pipeline.
    # Both relations are bounded by |queries| * k * n_indexes rows —
    # checkpoint them once (measured ~9% warm at sf0.1 — the index
    # builds dominate; the win grows with |queries| and corpus size).
    exact = cosine_topk(
        emb, k=k, every=every, corpus=corpus, precomputed_count=n_corpus
    ).localCheckpoint(eager=False)
    # the centroid table and PQ codebook are pure deterministic
    # functions of (emb, stride, cap) — collect each ONCE and share
    # across the index builds (the ann_tradeoff_table discipline;
    # two TakeOrdered collect jobs saved per report)
    cents = ivf_centroids(corpus)
    seeds = pq_seeds(corpus)
    share = {"corpus": corpus, "precomputed_count": n_corpus}
    # ONE ranking window for all four indexes (optimization r10, guide
    # §2.4): the per-index _topk windows fused into a single
    # (idx, query_id)-partitioned row_number over the tagged scored
    # union (``_fused_topk``). Each index keeps its own direction:
    # lsh/ivf carry ``sim`` (ranked desc, as in _topk), pq/ivfpq carry
    # ``adist`` (ranked asc), and the other column is null.
    approx = [
        ("lsh", ann_lsh_topk(emb, k=k, every=every, _scored=True, **share)),
        (
            "ivf",
            ann_ivf_topk(
                emb, k=k, every=every, cents=cents, _scored=True, **share
            ),
        ),
        (
            "pq",
            ann_pq_topk(
                emb, k=k, every=every, seeds=seeds, _scored=True, **share
            ),
        ),
        (
            "ivfpq",
            ann_ivfpq_topk(
                emb, k=k, every=every, cents=cents, seeds=seeds,
                _scored=True, **share
            ),
        ),
    ]
    u = None
    for name, df in approx:
        part = df.select(
            F.lit(name).alias("idx"),
            "query_id",
            "neighbor_id",
            *(
                F.col(c) if c in df.columns else F.lit(None).cast("double").alias(c)
                for c in ("sim", "adist")
            ),
        )
        u = part if u is None else u.unionByName(part)
    a = _fused_topk(u, k).localCheckpoint(eager=False)
    # ONE left join + ONE aggregate replace the former matched-join-agg
    # AND top1-join-agg chains (optimization r10, guide §2.4): exact
    # pairs are unique per (query_id, neighbor_id) — a per-query
    # ranking — so the left join has multiplicity 1 and counting
    # non-null ranks / rank==1 rows reproduces both inner-join counts
    # exactly (an idx with zero matches now yields 0s instead of a
    # missing row, which the pre-existing coalesce already normalized).
    ex = exact.select(
        "query_id", "neighbor_id", F.col("rank").alias("e_rank")
    )
    stats = (
        a.join(ex, ["query_id", "neighbor_id"], "left")
        .groupBy("idx")
        .agg(
            F.count("e_rank").alias("n_matched"),
            F.sum(
                F.when(F.col("e_rank") == 1, 1).otherwise(0)
            ).cast("long").alias("n_top1_found"),
            F.sum(
                F.when(F.col("e_rank") == 1, F.expr("60 div a_rank"))
            ).alias("mrr_x60"),
        )
    )
    # the two report constants are bounded driver state (the moran_geary
    # discipline): collect once as literals instead of a broadcast-agg
    # subplan — exact is already checkpointed, so this is one tiny job
    cr = exact.agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.countDistinct("query_id").alias("n_queries"),
    ).collect()[0]
    n_exact = F.lit(int(cr["n_exact"])).cast("long")
    n_queries = F.lit(int(cr["n_queries"])).cast("long")
    idxs = a.select("idx").distinct()
    z = F.lit(0).cast("long")
    return (
        idxs.join(stats, "idx", "left")
        .select(
            "idx",
            n_queries.alias("n_queries"),
            F.coalesce("n_matched", z).alias("n_matched"),
            n_exact.alias("n_exact"),
            round_half_up(
                F.coalesce("n_matched", z) / n_exact, 6
            ).alias("recall"),
            F.coalesce("n_top1_found", z).alias("n_top1_found"),
            round_half_up(
                F.coalesce("mrr_x60", z) / (60 * n_queries), 6
            ).alias("mrr"),
        )
    )


def duckdb_ann_eval_sql(k: int = 5, every: int = 50) -> str:
    """DuckDB mirror of ``ann_recall_report``: the four index oracles
    embedded as subqueries, the same integer-count/single-division
    arithmetic."""
    exact = f"""
      (WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       q AS (SELECT vec_id AS query_id, emb AS q_emb FROM e
             WHERE {query_mod_sql(every)}),
       scored AS (SELECT query_id, e.vec_id AS neighbor_id,
                         list_cosine_similarity(q_emb, emb) AS sim
                  FROM q JOIN e ON e.vec_id <> q.query_id)
       SELECT query_id, neighbor_id, rank
       FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY sim DESC, neighbor_id ASC) AS rank FROM scored)
       WHERE rank <= {k})
    """
    return f"""
      WITH exact AS (SELECT * FROM {exact}),
      a AS (
        SELECT 'lsh' AS idx, query_id, neighbor_id, rank AS a_rank
        FROM ({duckdb_lsh_topk_sql(k=k, every=every)})
        UNION ALL
        SELECT 'ivf', query_id, neighbor_id, rank
        FROM ({duckdb_ivf_knn_sql(k=k, nprobe=5,
                                  query_filter=query_mod_sql(every))})
        UNION ALL
        SELECT 'pq', query_id, neighbor_id, rank
        FROM ({duckdb_pq_sql(k=k, every=every)})
        UNION ALL
        SELECT 'ivfpq', query_id, neighbor_id, rank
        FROM ({duckdb_ivfpq_sql(k=k, every=every)})),
      ex AS (SELECT query_id, neighbor_id FROM exact),
      matched AS (SELECT idx, count(*) AS n_matched
                  FROM a JOIN ex USING (query_id, neighbor_id) GROUP BY 1),
      top1 AS (SELECT query_id, neighbor_id FROM exact WHERE rank = 1),
      mrr AS (SELECT idx, count(*) AS n_top1_found,
                     CAST(sum(60 // a_rank) AS BIGINT) AS mrr_x60
              FROM a JOIN top1 USING (query_id, neighbor_id) GROUP BY 1),
      consts AS (SELECT count(*) AS n_exact,
                        count(DISTINCT query_id) AS n_queries FROM exact),
      idxs AS (SELECT DISTINCT idx FROM a)
      SELECT idxs.idx, n_queries,
             COALESCE(n_matched, 0) AS n_matched, n_exact,
             floor(COALESCE(n_matched, 0) * 1.0 / n_exact * 1e6 + 0.5) / 1e6
               AS recall,
             COALESCE(n_top1_found, 0) AS n_top1_found,
             floor(COALESCE(mrr_x60, 0) * 1.0 / (60 * n_queries) * 1e6 + 0.5)
               / 1e6 AS mrr
      FROM idxs CROSS JOIN consts
      LEFT JOIN matched ON matched.idx = idxs.idx
      LEFT JOIN mrr ON mrr.idx = idxs.idx
    """


def ann_lsh_multiprobe_topk(
    emb: DataFrame,
    k: int = 5,
    every: int = 50,
    n_tables: int = 4,
    planes_per_table: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Multi-probe LSH (Lv et al. 2007): each query probes its own
    bucket PLUS every 1-bit-flip neighbor bucket in each table. A
    near-neighbor that disagrees on exactly one plane — the dominant
    miss mode at high cosine — is recovered without another table, so
    the INDEX shrinks: 4 tables multi-probed reach the recall ~16
    single-probe tables buy, at 1/4 the index rows (the index, not
    the query fan-out, is what a 100TB deployment stores and
    shuffles). Probe fan-out multiplies only the bounded QUERY side
    ((1 + b) rows per query-table); the corpus-side index is one row
    per (vector, table), identical to ``ann_lsh_topk``'s.

    Same scoring/ranking epilogue as the single-probe form; recall
    floor pinned in tests, and the bucket arithmetic (XOR of one
    shifted bit) mirrors exactly in the oracle."""
    from ..io import widen

    tables = lsh_tables(n_tables, planes_per_table, seed)
    buckets = _bucket_expr(tables)
    b = planes_per_table
    e = widen(_as_double(emb).select("vec_id", "embedding"), 8).withColumn(
        "nrm", norm(F.col("embedding"))
    )
    indexed = e.select(
        "vec_id", "embedding", "nrm", F.posexplode(buckets).alias("table", "bucket")
    )
    # query side: the home bucket (f = 0) and each 1-bit flip (f >= 1)
    q = (
        query_subset(indexed, every, corpus=emb)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            F.col("nrm").alias("q_nrm"),
            "table",
            "bucket",
        )
        .withColumn("f", F.explode(F.sequence(F.lit(0), F.lit(b))))
        .select(
            "query_id",
            "q_emb",
            "q_nrm",
            "table",
            F.when(F.col("f") == 0, F.col("bucket"))
            .otherwise(
                F.expr("bucket ^ shiftleft(1, cast(f - 1 as int))")
            )
            .alias("bucket"),
        )
    )
    cands = (
        indexed.join(broadcast(q), on=["table", "bucket"])
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "q_emb", "q_nrm", "vec_id", "embedding", "nrm")
        .dropDuplicates(["query_id", "vec_id"])
    )
    scored = cands.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        _sim_from_dot(
            F.col("q_emb"), F.col("embedding"), F.col("q_nrm"), F.col("nrm")
        ).alias("sim"),
    )
    return _topk(scored, k)


def duckdb_lsh_multiprobe_sql(
    k: int = 5,
    every: int = 50,
    n_tables: int = 4,
    planes_per_table: int = 4,
    seed: int = 42,
    src: str = "embeddings",
) -> str:
    """DuckDB mirror of ``ann_lsh_multiprobe_topk``: same plane
    literals, home + 1-bit-flip probe buckets via xor, same scoring."""
    tables = lsh_tables(n_tables, planes_per_table, seed)
    b = planes_per_table
    return f"""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM {src}),
      idx0 AS ({_duckdb_lsh_idx(tables)}),
      q AS (SELECT vec_id AS query_id, tbl,
                   CASE WHEN f = 0 THEN bucket
                        ELSE xor(bucket, 1 << (f - 1)) END AS bucket
            FROM idx0, (SELECT unnest(range({b + 1})) AS f) _
            WHERE {query_mod_sql(every)}),
      cand AS (SELECT DISTINCT q.query_id, i.vec_id AS neighbor_id
               FROM q JOIN idx0 i
                 ON q.tbl = i.tbl AND q.bucket = i.bucket
                    AND i.vec_id <> q.query_id),
      scored AS (SELECT c.query_id, c.neighbor_id,
                        list_cosine_similarity(eq.emb, en.emb) AS sim
                 FROM cand c
                 JOIN e eq ON c.query_id = eq.vec_id
                 JOIN e en ON c.neighbor_id = en.vec_id)
      SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank,
             floor(sim * 1e4 + 0.5) / 1e4 AS sim
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY sim DESC, neighbor_id ASC) AS rank
            FROM scored)
      WHERE rank <= {k}
    """


def label_centroid_drift(emb: DataFrame) -> DataFrame:
    """Embedding-distribution drift monitor: split each label's vectors
    into two cohorts (even/odd vec_id — stand-in for old/new snapshot)
    and report the cosine between the cohorts' centroid directions. A
    healthy static distribution reads ~1.0; a drop flags the label
    whose embedding space moved (encoder update, data shift) — the
    embedding-side companion to profile_drift/histogram_drift.

    Exactness: centroids are computed on the int8 QUANTIZED codes, so
    the per-(label, cohort, dim) sums are BIGINT (order-free); the
    cosine is then ONE mirrored float expression — IEEE-754 requires
    sqrt correctly rounded, so dot/(sqrt(na2)*sqrt(nb2)) is
    bit-identical cross-engine. (Float centroids would be summation-
    order-dependent and unoracleable — the same reason emb_covariance
    runs on codes.) int64 headroom: |sum| <= 127 * n_vecs, squares need
    n_vecs <= ~7e8 per (label, cohort); shard-and-rescale beyond.

    Scale: one (label, cohort, dim)-keyed aggregate (|labels| * dims
    rows out), then a dims-sized join per label — never touches raw
    vectors after the first map."""
    from ..functions.text import round_half_up

    q = _int8_codes(emb).join(emb.select("vec_id", "label"), "vec_id")
    h = q.select(
        "label",
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode("codes").alias("dim", "code"),
    )
    sums = h.groupBy("label", "half", "dim").agg(F.sum("code").alias("s"))
    a = sums.where(F.col("half") == 0).select(
        "label", "dim", F.col("s").alias("sa")
    )
    b = sums.where(F.col("half") == 1).select(
        "label", "dim", F.col("s").alias("sb")
    )
    ab = (
        a.join(b, ["label", "dim"])
        .groupBy("label")
        .agg(
            F.sum(F.col("sa") * F.col("sb")).alias("dot"),
            F.sum(F.col("sa") * F.col("sa")).alias("na2"),
            F.sum(F.col("sb") * F.col("sb")).alias("nb2"),
        )
    )
    cnts = q.groupBy("label").agg(
        F.sum(F.when(F.col("vec_id") % 2 == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("vec_id") % 2 == 1, 1).otherwise(0)).alias("n_b"),
    )
    cos = F.col("dot").cast("double") / (
        F.sqrt(F.col("na2").cast("double"))
        * F.sqrt(F.col("nb2").cast("double"))
    )
    return ab.join(cnts, "label").select(
        "label", "n_a", "n_b", round_half_up(cos, 6).alias("drift_cos")
    )


def mmr_diversify(
    emb: DataFrame, query_vec_id: int = 0, pool: int = 50, k: int = 10
) -> DataFrame:
    """Maximal Marginal Relevance diversified retrieval (Carbonell &
    Goldstein): greedily pick ``k`` results from the top-``pool``
    candidates, each step taking

        argmax  0.5 * rel(c) - 0.5 * max_{s in selected} sim(c, s)

    — the vector-search feature that stops a result page from being
    ten near-copies of the same document. lambda fixed at 1/2 (exact
    halving, so the float chain mirrors).

    Determinism/oracle: relevance and pair sims use the shared
    ``_sim_from_dot`` fold (bit-equal to DuckDB list_cosine_similarity
    — verified corpus-wide), candidates and every greedy argmax
    tie-break on vec_id, and the DuckDB twin replays the SAME greedy
    recursion in a recursive CTE carrying the chosen list. Exact value
    hash on an ITERATIVE float algorithm.

    Scale shape: one broadcast-scored corpus scan -> TakeOrdered pool
    (the only corpus-sized work), then k tiny rounds over <= pool rows
    (anti-join + broadcast pair-scoring + 1-row argmax), lineage
    truncated per round. Everything after the pool is O(pool * k)."""
    from ..functions.text import round_half_up
    from ..functions.vectors import norm
    from ..io import widen

    e = _as_double(emb).select("vec_id", "embedding")
    q = e.where(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("q_emb"),
        norm(F.col("embedding")).alias("q_nrm"),
    )
    # The corpus-sized work stays in-engine (broadcast scoring scan +
    # TakeOrdered pool); the k greedy rounds then run over <= ``pool``
    # rows, which the former form expressed as k Spark rounds of
    # anti-join + broadcast pair-scoring + 1-row argmax + checkpoint
    # (~2.3s of per-round job overhead at sf0.1 for microseconds of
    # arithmetic). The pool is knob-bounded (never data-sized), so the
    # greedy runs on the DRIVER over the collected pool — the house
    # bounded-collect pattern (connected_components' capped union-find,
    # the kcenter 1-row collects). Bit-identical: Python float64 ops
    # ARE IEEE doubles, and the pairwise sim reproduces the engine's
    # SEQUENTIAL fold (dot = left-to-right acc + x*y, one division by
    # the norm product) term-for-term, so scores, tie-breaks and the
    # round_half_up match the former plan and the recursive-CTE oracle
    # exactly (pinned against the former Spark-loop form in
    # tests/test_round10_opt.py::test_mmr_driver_greedy_matches_former_spark_form,
    # and against the oracle in test_oracle_parity). A/B at sf0.1:
    # 2.3s -> ~0.6s.
    pool_rows = (
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
        .collect()
    )
    cand = {
        int(r["vec_id"]): (
            [float(x) for x in r["embedding"]],
            float(r["nrm"]),
            float(r["rel"]),
        )
        for r in pool_rows
    }

    def _dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    def _sim(ea, na, eb, nb):
        if na > 0 and nb > 0:
            return _dot(ea, eb) / (na * nb)
        return 0.0

    import math

    def _r4(x):
        return math.floor(x * 1e4 + 0.5) / 1e4

    selected: list[tuple[int, int, float, float]] = []  # (pick, id, rel, score)
    chosen: list[int] = []
    for i in range(1, k + 1):
        best = None
        for vid, (emb_v, nrm_v, rel_v) in cand.items():
            if vid in chosen:
                continue
            if not chosen:
                score = 0.5 * rel_v - 0.5 * 0.0
            else:
                maxsim = max(
                    _sim(cand[s][0], cand[s][1], emb_v, nrm_v)
                    for s in chosen
                )
                score = 0.5 * rel_v - 0.5 * maxsim
            key = (-score, vid)
            if best is None or key < best[0]:
                best = (key, vid, rel_v, score)
        if best is None:
            break
        chosen.append(best[1])
        selected.append((i, best[1], _r4(best[2]), _r4(best[3])))
    return emb.sparkSession.createDataFrame(
        selected, "pick int, vec_id long, rel double, score double"
    )


def kmeans_int8(
    emb: DataFrame, k: int = 8, iters: int = 2, seed_every: int = 100
) -> DataFrame:
    """Distributed k-means that is EXACTLY value-hashable: Lloyd
    iterations over the int8 QUANTIZED codes, so assignment distances
    are integer L2 sums (argmin tie -> lowest cluster id), centroid
    updates are elementwise integer sums with truncating division, and
    ``iters`` is fixed — the whole clustering is a pure function of
    the corpus, bit-identical on any engine/partitioning (float
    k-means can never carry a cross-engine oracle; this is the same
    move as emb_covariance/label_centroid_drift). Semantic clustering
    for the curation pipeline (topic balance, semantic dedup cells) at
    int8 fidelity.

    Plan per iteration: ONE (vec, dim)-exploded broadcast join against
    the k*dims centroid relation -> (vec, cluster) integer distance
    aggregate (vec-keyed shuffle) -> per-vec argmin window on the same
    partitioning -> (cluster, dim) update aggregate. Centroids are
    k*dims rows, lazily checkpointed per round (no driver
    materialization; seeds are an in-engine orderBy+limit). Empty
    clusters drop (standard Lloyd behavior), deterministically.

    Returns the final per-cluster report: member count and within-
    cluster sum of squares (integer)."""
    assign = kmeans_assign(emb, k=k, iters=iters, seed_every=seed_every)
    return assign.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum("d2").alias("wcss"),
    )


def kmeans_assign(
    emb: DataFrame,
    k: int = 8,
    iters: int = 2,
    seed_every: int = 100,
    codes: DataFrame | None = None,
) -> DataFrame:
    """The (vec_id, cluster, d2) assignment relation behind
    ``kmeans_int8`` — exposed so cluster-scoped consumers (SemDeDup
    pruning, per-cluster balance reports) share the exact,
    value-hashable Lloyd rounds instead of re-deriving them. Same plan
    notes as kmeans_int8.

    ``codes``: a prebuilt checkpointed (vec_id, codes) relation —
    consumers that ALSO need the int8 codes (silhouette_eval,
    semdedup_prune) pass the one they build so the quantization HOF
    pass runs once per query, not once here and once at the caller
    (optimization r10, guide §2.4). Value-identical: _int8_codes is a
    pure per-row function."""
    # Codes stay ARRAYS end-to-end and centroids live on the DRIVER
    # (optimization r9, guide §1.2 "the distributed algorithm" +
    # §2.4). The former form exploded to (vec, dim, code),
    # broadcast-joined the k*dims centroid relation on dim
    # (|corpus| * dims * k intermediate rows), shuffled them into a
    # (vec_id, cluster) distance aggregate, ran an argmin window and
    # localCheckpointed assign + cents PER ROUND — ~12 jobs for 2
    # rounds at sf0.1. Centroids are k x dims bounded knob-sized state
    # (512 longs at the defaults) — the house bounded-collect pattern:
    # collect them per round and embed as ONE SQL literal, so the
    # assignment is a map-side argmin fold over the literal array
    # (array_min over struct(d2, cluster) IS the (d2 asc, cluster asc)
    # window tie rule) and each Lloyd round is exactly ONE aggregate
    # job (the centroid update collect). Bit-identical by
    # construction: the integer d2 fold equals the integer SUM
    # (order-free), collected ints re-embed exactly as literals, and
    # sum div count is unchanged (equality pinned in
    # tests/test_round9_opt.py). A/B at sf0.1: emb_kmeans 1.9s ->
    # ~0.7s, inherited by every kmeans consumer (silhouette_eval /
    # cluster_balance / semdedup_prune). At 100TB the per-round plan
    # is one map pass + one map-side-combined aggregate — the textbook
    # distributed Lloyd step with k*dims driver state.
    if codes is None:
        codes = (
            _int8_codes(emb)
            .select("vec_id", "codes")
            .localCheckpoint(eager=False)
        )
    seed_rows = (
        codes.where(F.col("vec_id") % seed_every == 0)
        .orderBy("vec_id")
        .limit(k)
        .select("codes")
        .collect()
    )
    # (cluster, carr) pairs, cluster = seed order rank — exactly the
    # former row_number() - 1 over vec_id asc
    cents = [
        (ci, [int(v) for v in r["codes"]]) for ci, r in enumerate(seed_rows)
    ]
    if not cents:
        # no seeds (empty corpus / stride misses): the former join-based
        # rounds produced an empty assignment — preserve that
        return codes.select(
            "vec_id",
            F.lit(None).cast("int").alias("cluster"),
            F.lit(None).cast("long").alias("d2"),
        ).where(F.lit(False))
    dims = len(cents[0][1])

    def cents_lit(cs):
        return F.expr(
            "array("
            + ",".join(
                f"struct({ci} as cluster, array("
                + ",".join(f"{v}L" for v in arr)
                + ") as carr)"
                for ci, arr in cs
            )
            + ")"
        )

    def best_of(cs):
        return F.array_min(
            F.transform(
                cents_lit(cs),
                lambda s: F.struct(
                    F.aggregate(
                        F.zip_with(
                            F.col("codes"),
                            s["carr"],
                            lambda x, y: (x.cast("long") - y)
                            * (x.cast("long") - y),
                        ),
                        F.lit(0).cast("long"),
                        lambda acc, v: acc + v,
                    ).alias("d2"),
                    s["cluster"].alias("cluster"),
                ),
            )
        )

    for _ in range(iters - 1):
        # centroid update: ONE map-side-combined aggregate job — the
        # per-dim long sums ride as dims aggregate columns (no explode)
        # and the truncating mean (sum div count, unchanged) is taken
        # on the driver over the collected k rows.
        upd = (
            codes.select(best_of(cents)["cluster"].alias("cluster"), "codes")
            .groupBy("cluster")
            .agg(
                F.count(F.lit(1)).alias("n"),
                *[
                    F.sum(F.element_at("codes", i + 1).cast("long")).alias(
                        f"s{i}"
                    )
                    for i in range(dims)
                ],
            )
            .collect()
        )
        def _trunc_div(s: int, n: int) -> int:
            # Spark/DuckDB integer div TRUNCATES toward zero; Python //
            # floors — they differ on negative sums (codes are signed)
            return -((-s) // n) if s < 0 else s // n

        cents = sorted(
            (
                int(r["cluster"]),
                [
                    _trunc_div(int(r[f"s{i}"]), int(r["n"]))
                    for i in range(dims)
                ],
            )
            for r in upd
        )
    best = best_of(cents)
    return codes.select(
        "vec_id",
        best["cluster"].alias("cluster"),
        best["d2"].alias("d2"),
    ).localCheckpoint(eager=False)


def semdedup_prune(
    emb: DataFrame,
    k: int = 8,
    iters: int = 2,
    tau_num: int = 7,
    tau_den: int = 20,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication"): cluster the
    embedding space, then inside each cluster prune every vector that
    is near-duplicate (cosine >= tau) of a LOWER-id member — the
    cluster-scoped semantic dedup pass that makes web-scale pruning
    tractable: candidate pairs exist only WITHIN a cluster, never
    across the corpus.

    Exactness: rides ``kmeans_assign``'s integer Lloyd rounds, and the
    cosine test is cleared of sqrt/floats entirely —

        cos(a, b) >= tau  (tau = tau_num/tau_den, dot > 0)
        <=>  tau_den^2 * dot^2 >= tau_num^2 * |a|^2 * |b|^2

    — pure int64 on the int8 codes (|dot| <= 64*127^2 ~ 1e6, both
    sides < 2^50), so prune verdicts are bit-identical cross-engine.
    Keeper rule: lowest vec_id in each dominating pair survives
    (deterministic; SemDeDup's keep-one-per-group with an explicit
    total order).

    Returns the per-cluster pruning report: members, near-dup pairs,
    pruned count, and the prune rate (one rounded division).

    Scale shape: the pairwise stage is the SemDeDup contract — O(sum
    of cluster sizes squared), controlled by k (clusters sized to
    ~corpus/k); the pair relation never leaves the cluster key, so the
    shuffle is cluster-bucketed. For 100 TB, k grows with the corpus so
    cluster cardinality stays bounded — the knob the paper's recipe
    sets. The per-pair dot is a fused zip_with fold over the int8
    codes — pure Catalyst, no Python worker."""
    # ONE quantization pass shared with the Lloyd rounds (optimization
    # r10, guide §2.4 — the silhouette_eval discipline)
    coded = (
        _int8_codes(emb)
        .select("vec_id", "codes")
        .localCheckpoint(eager=False)
    )
    assign = kmeans_assign(emb, k=k, iters=iters, codes=coded)
    n2 = F.aggregate(
        F.transform(
            "codes", lambda c: c.cast("long") * c.cast("long")
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    m = (
        assign.select("vec_id", "cluster")
        .join(coded, "vec_id")
        .select("vec_id", "cluster", "codes", n2.alias("n2"))
    ).localCheckpoint(eager=False)
    a = m.select(
        F.col("vec_id").alias("va"),
        "cluster",
        F.col("codes").alias("ca"),
        F.col("n2").alias("na2"),
    )
    b = m.select(
        F.col("vec_id").alias("vb"),
        "cluster",
        F.col("codes").alias("cb"),
        F.col("n2").alias("nb2"),
    )
    dot = F.aggregate(
        F.zip_with(
            "ca", "cb", lambda x, y: x.cast("long") * y.cast("long")
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    pairs = (
        a.join(b, "cluster")
        .where(F.col("va") < F.col("vb"))
        .select("cluster", "va", "vb", dot.alias("dot"), "na2", "nb2")
        .where(
            (F.col("dot") > 0)
            & (
                F.lit(tau_den * tau_den) * F.col("dot") * F.col("dot")
                >= F.lit(tau_num * tau_num) * F.col("na2") * F.col("nb2")
            )
        )
    )
    pruned = pairs.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("long").alias("n_dup_pairs"),
        F.count_distinct("vb").cast("long").alias("n_pruned"),
    )
    members = m.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("long").alias("n_members")
    )
    from ..functions.text import round_half_up

    return (
        members.join(pruned, "cluster", "left")
        .select(
            "cluster",
            "n_members",
            F.coalesce("n_dup_pairs", F.lit(0).cast("long")).alias(
                "n_dup_pairs"
            ),
            F.coalesce("n_pruned", F.lit(0).cast("long")).alias("n_pruned"),
            round_half_up(
                F.coalesce("n_pruned", F.lit(0).cast("long"))
                / F.col("n_members"),
                6,
            ).alias("prune_rate"),
        )
    )


def kcenter_coreset(emb: DataFrame, k: int = 10, start_id: int = 0) -> DataFrame:
    """Greedy k-center coreset selection (farthest-point traversal):
    start from ``start_id``, then repeatedly add the point FARTHEST
    from everything selected so far — the classic 2-approximation to
    the k-center cover, and the standard diversity-driven data-
    selection/pruning move (pick the k most mutually-unlike documents
    to label/inspect/seed curriculum from). MMR diversifies a RANKING;
    this covers the SPACE.

    Exact by construction: distances are integer L2 on the int8 codes
    (argmax ties -> lowest vec_id), so the selected sequence and every
    coverage radius are pure functions of the corpus — the DuckDB twin
    unrolls the same greedy rounds. Emits (pick, vec_id, radius):
    radius is the selection-time distance to the selected set, the
    non-increasing curve whose elbow says when coverage saturates.

    Scale shape: each round is ONE fused corpus map (the incremental
    min update against the single new center — k composed 64-int
    zip_with folds fuse into one codegen stage) + a TakeOrdered
    argmax; only the 1-row winner reaches the driver (the bounded
    IVF-seed collect pattern). Exact greedy k-center is inherently k
    sequential passes; that IS the algorithm, not a plan accident."""
    c = _int8_codes(emb)
    start = c.where(F.col("vec_id") == start_id).collect()[0]

    def dist_to(codes_row):
        lit = F.array(*[F.lit(int(x)) for x in codes_row])
        return F.aggregate(
            F.zip_with("codes", lit, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    # per-round checkpoint: without it round i's plan replays ALL i
    # prior interpreted distance folds plus the quantization HOF
    # (composed maps DO fuse, but HOF lambdas evaluate interpreted per
    # element — measured 15.8s for k=10 at sf0.1; checkpointed each
    # round pays exactly ONE new fold per pass).
    state = c.where(F.col("vec_id") != start_id).select(
        "vec_id", "codes", dist_to(start.codes).alias("mind")
    ).localCheckpoint(eager=False)
    picks = [(1, start_id, 0)]
    for i in range(2, k + 1):
        row = (
            state.orderBy(F.desc("mind"), F.asc("vec_id")).limit(1).collect()
        )[0]
        picks.append((i, row.vec_id, row.mind))
        state = state.where(F.col("vec_id") != row.vec_id).select(
            "vec_id",
            "codes",
            F.least(F.col("mind"), dist_to(row.codes)).alias("mind"),
        ).localCheckpoint(eager=False)
    return emb.sparkSession.createDataFrame(
        picks, "pick int, vec_id long, radius long"
    )


def triplet_mining(
    emb: DataFrame, k: int = 20, every: int = 50
) -> DataFrame:
    """Contrastive-training triplet builder: for each anchor (the
    deterministic query subset), the hardest POSITIVE (most-similar
    same-label neighbor) and the hardest NEGATIVE (most-similar
    DIFFERENT-label neighbor) from its exact top-``k``, with the
    margin between them — the batch-mining step metric-learning
    pipelines run before every epoch (random negatives are too easy;
    hard negatives carry the gradient). Anchors lacking either side
    within the top-k are dropped (standard semi-hard mining).

    Composition: exact top-k (shared _topk ranking, rounded sims) +
    two label joins + per-anchor argmax with neighbor-id tie-breaks —
    fully deterministic, mirrored verbatim by the oracle. At 100TB
    the same shape runs over ann_*_topk candidates instead of the
    brute-force list (swap one relation)."""
    from ..functions.text import round_half_up

    nb = cosine_topk(emb, k=k, every=every)
    lab = emb.select("vec_id", "label")
    j = (
        nb.join(
            lab.select(
                F.col("vec_id").alias("query_id"),
                F.col("label").alias("q_label"),
            ),
            "query_id",
        )
        .join(
            lab.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("label").alias("n_label"),
            ),
            "neighbor_id",
        )
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id")
    )
    pos = (
        j.where(F.col("q_label") == F.col("n_label"))
        .withColumn("rn", F.row_number().over(wq))
        .where(F.col("rn") == 1)
        .select(
            "query_id",
            F.col("neighbor_id").alias("pos_id"),
            F.col("sim").alias("pos_sim"),
        )
    )
    neg = (
        j.where(F.col("q_label") != F.col("n_label"))
        .withColumn("rn", F.row_number().over(wq))
        .where(F.col("rn") == 1)
        .select(
            "query_id",
            F.col("neighbor_id").alias("neg_id"),
            F.col("sim").alias("neg_sim"),
        )
    )
    return pos.join(neg, "query_id").select(
        F.col("query_id").alias("anchor_id"),
        "pos_id",
        "neg_id",
        "pos_sim",
        "neg_sim",
        round_half_up(F.col("pos_sim") - F.col("neg_sim") + F.lit(1.0), 4).alias(
            "margin_plus1"
        ),
    )


def label_noise_scan(
    emb: DataFrame, k: int = 5, every: int = 10
) -> DataFrame:
    """k-NN label-noise detector (confident-learning-lite): a vector
    whose neighborhood votes for a DIFFERENT label than its own is a
    likely mislabel — the dataset-QA pass that catches annotation
    errors before they train in. Majority vote over the exact top-k
    (integer counts, ties -> smallest label), flagged against the
    point's own label.

    Same deterministic composition family as triplet_mining: exact
    top-k + label join + integer argmax — fully mirrored. At 100TB the
    neighbor list swaps to an ann_*_topk relation."""
    nb = cosine_topk(emb, k=k, every=every)
    lab = emb.select("vec_id", "label")
    votes = (
        nb.join(
            lab.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("label").alias("n_label"),
            ),
            "neighbor_id",
        )
        .groupBy("query_id", "n_label")
        .agg(F.count(F.lit(1)).alias("v"))
    )
    wv = Window.partitionBy("query_id").orderBy(F.desc("v"), F.asc("n_label"))
    maj = (
        votes.withColumn("rn", F.row_number().over(wv))
        .where(F.col("rn") == 1)
        .select(
            "query_id",
            F.col("n_label").alias("knn_label"),
            F.col("v").alias("n_votes"),
        )
    )
    return maj.join(
        lab.select(
            F.col("vec_id").alias("query_id"),
            F.col("label").alias("own_label"),
        ),
        "query_id",
    ).select(
        F.col("query_id").alias("vec_id"),
        "own_label",
        "knn_label",
        "n_votes",
        (F.col("own_label") != F.col("knn_label")).alias("is_noisy"),
    )


def retrieval_label_eval(
    emb: DataFrame, k: int = 10, every: int = 50
) -> DataFrame:
    """Embedding-quality evaluation against LABEL ground truth: exact
    cosine top-k per sampled query, relevance = neighbor shares the
    query's label, rolled up per label into precision@k, MAP@k and
    MRR@k — the companion to ``ann_recall_report`` (which grades the
    INDEX against exact search; this grades the EMBEDDING against the
    labels — the report that decides whether a new encoder checkpoint
    ships). Reference parity: the reference has no retrieval surface
    at all (mapreduce/mapper.go, reducer.go are knob pipelines); this
    extends the engine's training-data QA family.

    Determinism discipline: every per-position quantity is an exact
    integer — lcm(1..k)=2520 (k=10) makes each precision@i term
    ``cum_hits * (2520 div i)`` and each reciprocal rank ``2520 div
    first_rel_rank`` integral, so per-label sums are order-free and
    the ONE division per metric happens at the end under
    round_half_up. MAP uses the @k-normalized variant (AP denominator
    = k, not |relevant|) so the denominator stays a constant — the
    standard choice for fixed-depth eval. Scale: the exact top-k side
    is bounded by the query SAMPLE (``every``), like ann_recall_report;
    everything after is |queries|*k rows."""
    from ..functions.text import round_half_up

    if k > 10:
        raise ValueError("retrieval_label_eval: k > 10 breaks lcm=2520")
    labels = emb.select("vec_id", "label")
    t = (
        cosine_topk(emb, k=k, every=every)
        .join(
            labels.select(
                F.col("vec_id").alias("query_id"),
                F.col("label").alias("q_label"),
            ),
            "query_id",
        )
        .join(
            broadcast(
                labels.select(
                    F.col("vec_id").alias("neighbor_id"),
                    F.col("label").alias("n_label"),
                )
            ),
            "neighbor_id",
        )
        .withColumn(
            "rel",
            # when/otherwise, not a bare ==-cast: a NULL label must
            # read "not relevant" (0) on BOTH engines — Spark's ==
            # yields NULL where the DuckDB CASE yields 0
            F.when(
                F.col("q_label") == F.col("n_label"), F.lit(1)
            ).otherwise(F.lit(0)),
        )
    )
    w = Window.partitionBy("query_id").orderBy("rank")
    per_q = (
        t.withColumn("hits", F.sum("rel").over(w))
        .groupBy("query_id", "q_label")
        .agg(
            F.sum("rel").cast("long").alias("n_rel"),
            F.sum(
                F.when(
                    F.col("rel") == 1,
                    F.expr("2520 div rank") * F.col("hits"),
                ).otherwise(F.lit(0).cast("long"))
            )
            .cast("long")
            .alias("ap2520"),
            F.min(F.when(F.col("rel") == 1, F.col("rank"))).alias(
                "first_rel"
            ),
        )
    )
    kq = F.lit(k) * F.col("n_queries")
    return (
        per_q.groupBy(F.col("q_label").alias("label"))
        .agg(
            F.count(F.lit(1)).alias("n_queries"),
            F.sum("n_rel").cast("long").alias("n_rel_at_k"),
            F.sum("ap2520").cast("long").alias("ap2520_sum"),
            F.sum(
                F.when(
                    F.col("first_rel").isNotNull(),
                    F.expr("2520 div first_rel"),
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("rr2520_sum"),
            F.sum(F.col("first_rel").isNotNull().cast("int"))
            .cast("long")
            .alias("n_covered"),
        )
        .select(
            "label",
            "n_queries",
            "n_rel_at_k",
            "n_covered",
            round_half_up(F.col("n_rel_at_k") / kq, 6).alias(
                "precision_at_k"
            ),
            round_half_up(
                F.col("ap2520_sum") / (F.lit(2520) * kq), 6
            ).alias("map_at_k"),
            round_half_up(
                F.col("rr2520_sum") / (F.lit(2520) * F.col("n_queries")), 6
            ).alias("mrr_at_k"),
        )
    )


def hard_negatives(
    emb: DataFrame,
    k: int = 5,
    every: int = 50,
    centroid_every: int = 100,
    n_max_centroids: int = 512,
    nprobe: int = 5,
) -> DataFrame:
    """Contrastive hard-negative mining: for each sampled query vector,
    the top-``k`` most-similar vectors carrying a DIFFERENT label —
    the pairs an embedding-model trainer feeds the contrastive loss
    (easy negatives are free; the hard ones near the decision boundary
    are what moves the model; cf. DPR / SimCSE-style in-batch vs mined
    negatives).

    Same IVF plan shape as ``ann_ivf_topk`` (literal centroid table,
    map-only argmax assignment, broadcast probes, one corpus-sized
    candidate join) with the label riding both sides and the
    ``label != query_label`` predicate applied INSIDE the candidate
    join — pruning before scoring, so mining costs no more than plain
    ANN. Assignment stays on the pure-JVM literal path: this query is
    exact-oracle-paired (BLAS stays out of oracle-paired plans).

    At 100 TB: identical envelope to the ANN family — the only
    corpus-sized exchange is the per-query top-k window over probed-
    cell candidates; queries are a bounded sample by construction."""
    e0 = _as_double(emb).select("vec_id", "embedding", "label")
    cents = ivf_centroids(e0, centroid_every, n_max_centroids)
    from ..io import widen

    e = widen(e0, 8)
    best = _nearest_centroid(cents, "embedding")
    assigned = e.select(
        "vec_id", "embedding", "label", best["cid"].alias("cid")
    ).withColumn("nrm", norm(F.col("embedding")))
    q = query_subset(e, every).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("q_emb"),
        norm(F.col("embedding")).alias("q_nrm"),
    )
    probes = (
        q.select(
            "query_id",
            "q_label",
            "q_emb",
            "q_nrm",
            F.explode(_centroid_sims(cents, "q_emb")).alias("pr"),
        )
        .select(
            "query_id",
            "q_label",
            "q_emb",
            "q_nrm",
            F.col("pr.cid").alias("cid"),
            F.col("pr.csim").alias("csim"),
        )
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.col("csim").desc(), F.col("cid").asc()
                )
            ),
        )
        .where(F.col("rk") <= nprobe)
        .select("query_id", "q_label", "q_emb", "q_nrm", "cid")
    )
    cands = broadcast(probes).join(assigned, on="cid").where(
        (F.col("vec_id") != F.col("query_id"))
        & (F.col("label") != F.col("q_label"))
    )
    scored = cands.select(
        "query_id",
        "q_label",
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neg_label"),
        _sim_from_dot(
            F.col("q_emb"), F.col("embedding"), F.col("q_nrm"), F.col("nrm")
        ).alias("sim"),
    )
    from ..functions.text import round_half_up

    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "q_label",
            "neighbor_id",
            "neg_label",
            F.col("rank").cast("int").alias("rank"),
            round_half_up(F.col("sim"), 4).alias("sim"),
        )
    )


def duckdb_hard_negatives_sql(
    k: int = 5,
    every: int = 50,
    centroid_every: int = 100,
    n_max_centroids: int = 512,
    nprobe: int = 5,
) -> str:
    """DuckDB mirror of ``hard_negatives``: same centroid selection and
    argmax assignment tie-break as ``duckdb_ivf_knn_sql``, with the
    label carried and the != predicate in the candidate join."""
    return f"""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb, label
                 FROM embeddings),
      cents AS (SELECT vec_id AS cid, emb AS cemb FROM e
                WHERE vec_id % {centroid_every} = 0
                ORDER BY vec_id LIMIT {n_max_centroids}),
      csims AS (SELECT e.vec_id, e.emb, e.label, cents.cid,
                       list_cosine_similarity(e.emb, cents.cemb) AS csim
                FROM e CROSS JOIN cents),
      ranked AS (SELECT *, row_number() OVER (PARTITION BY vec_id
                     ORDER BY csim DESC, cid ASC) AS rn FROM csims),
      assigned AS (SELECT vec_id, emb, label, cid FROM ranked WHERE rn = 1),
      probes AS (SELECT vec_id AS query_id, label AS q_label,
                        emb AS q_emb, cid
                 FROM ranked
                 WHERE rn <= {nprobe} AND {query_mod_sql(every)}),
      scored AS (SELECT p.query_id, p.q_label, a.vec_id AS neighbor_id,
                        a.label AS neg_label,
                        list_cosine_similarity(p.q_emb, a.emb) AS sim
                 FROM probes p JOIN assigned a
                   ON p.cid = a.cid AND a.vec_id <> p.query_id
                  AND a.label <> p.q_label)
      SELECT query_id, q_label, neighbor_id, neg_label,
             CAST(rank AS INTEGER) AS rank,
             floor(sim * 1e4 + 0.5) / 1e4 AS sim
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY sim DESC, neighbor_id ASC) AS rank
            FROM scored)
      WHERE rank <= {k}
    """


def matryoshka_eval(
    emb: DataFrame,
    dims: tuple = (8, 16, 32),
    k: int = 5,
    every: int = 50,
    full_dim: int = 64,
) -> DataFrame:
    """Matryoshka truncation eval (Kusupati et al. 2022): recall@k of
    cosine search over the FIRST-d dimensions against the full-dim
    exact top-k, per truncation d — the measurement behind the
    store-small/search-fast embedding trade (truncate to d floats, keep
    X% of neighbors). The decision table a 100TB vector store consults
    before dropping 8x of its footprint.

    One plan: the query sample broadcasts against the corpus once, each
    pair scores all |dims|+1 prefixes (per-dim norms precomputed as
    columns; each prefix dot is ONE sequential fold over the slice —
    bit-equal to DuckDB list_dot_product on the same slice), a stacked
    (dim, sim) relation ranks per (dim, query), and truncated hit sets
    join the full-dim reference. Integer hits, one division per dim.

    At 100TB: cost = (|dims|+1) x the exact-topk sampled eval (bounded
    query set by construction), corpus scanned once."""
    from ..functions.text import round_half_up
    from ..functions.vectors import dot
    from ..io import widen

    all_dims = tuple(dims) + (full_dim,)
    e = _as_double(emb).select("vec_id", "embedding")

    def with_norms(df, col, prefix):
        out = df
        for d in all_dims:
            out = out.withColumn(
                f"{prefix}nrm_{d}", norm(F.slice(F.col(col), 1, d))
            )
        return out

    q = with_norms(
        query_subset(e, every).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
        ),
        "q_emb",
        "q_",
    )
    cand = with_norms(widen(e, 8), "embedding", "c_")
    pairs = cand.join(broadcast(q), F.col("vec_id") != F.col("query_id"))
    sims = pairs.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        *[
            F.when(
                (F.col(f"q_nrm_{d}") > 0) & (F.col(f"c_nrm_{d}") > 0),
                dot(
                    F.slice(F.col("q_emb"), 1, d),
                    F.slice(F.col("embedding"), 1, d),
                )
                / (F.col(f"q_nrm_{d}") * F.col(f"c_nrm_{d}")),
            )
            .otherwise(F.lit(0.0))
            .alias(f"sim_{d}")
            for d in all_dims
        ],
    )
    stack_expr = "stack({}, {}) as (dim, sim)".format(
        len(all_dims), ", ".join(f"{d}, sim_{d}" for d in all_dims)
    )
    stacked = sims.select("query_id", "neighbor_id", F.expr(stack_expr))
    w = Window.partitionBy("dim", "query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    topk = (
        stacked.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("dim", "query_id", "neighbor_id")
        .localCheckpoint(eager=False)
    )
    ref = topk.where(F.col("dim") == full_dim).select(
        "query_id", "neighbor_id"
    )
    trunc = topk.where(F.col("dim") != full_dim)
    hits = (
        trunc.join(ref, ["query_id", "neighbor_id"])
        .groupBy("dim")
        .agg(F.count(F.lit(1)).cast("long").alias("hits"))
    )
    nq = ref.select("query_id").distinct().count()
    spine = emb.sparkSession.createDataFrame(
        [(int(d),) for d in dims], "dim int"
    )
    z = F.lit(0).cast("long")
    # nq == 0 (empty query sample) would make recall = hits/0 — emit a
    # NULL recall on the spine instead so the degenerate case reads as
    # "no queries evaluated", not NaN (oracle mirrors with CASE WHEN).
    recall = (
        F.lit(None).cast("double")
        if nq == 0
        else round_half_up(F.coalesce("hits", z) / F.lit(float(nq * k)), 6)
    )
    return (
        spine.join(hits, "dim", "left")
        .select(
            "dim",
            F.lit(int(nq)).cast("long").alias("n_queries"),
            F.coalesce("hits", z).alias("hits"),
            recall.alias("recall"),
        )
    )


def duckdb_matryoshka_sql(
    dims: tuple = (8, 16, 32),
    k: int = 5,
    every: int = 50,
    full_dim: int = 64,
) -> str:
    """DuckDB mirror of ``matryoshka_eval``: same prefix slices, same
    list_dot_product (bit-equal to the engine's sequential fold), same
    tie-breaks and hit counting."""
    all_dims = tuple(dims) + (full_dim,)
    sim_selects = "\n UNION ALL ".join(
        f"""SELECT {d} AS dim, query_id, neighbor_id,
              CASE WHEN sqrt(list_dot_product(q_emb[1:{d}], q_emb[1:{d}])) > 0
                    AND sqrt(list_dot_product(emb[1:{d}], emb[1:{d}])) > 0
                   THEN list_dot_product(q_emb[1:{d}], emb[1:{d}])
                        / (sqrt(list_dot_product(q_emb[1:{d}], q_emb[1:{d}]))
                           * sqrt(list_dot_product(emb[1:{d}], emb[1:{d}])))
                   ELSE 0.0 END AS sim
            FROM pairs"""
        for d in all_dims
    )
    return f"""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb
                 FROM embeddings),
      q AS (SELECT vec_id AS query_id, emb AS q_emb FROM e
            WHERE {query_mod_sql(every)}),
      pairs AS (SELECT q.query_id, q.q_emb, e.vec_id AS neighbor_id, e.emb
                FROM q CROSS JOIN e WHERE e.vec_id <> q.query_id),
      sims AS ({sim_selects}),
      topk AS (SELECT dim, query_id, neighbor_id
               FROM (SELECT *, row_number() OVER (
                       PARTITION BY dim, query_id
                       ORDER BY sim DESC, neighbor_id ASC) AS rk
                     FROM sims)
               WHERE rk <= {k}),
      ref AS (SELECT query_id, neighbor_id FROM topk
              WHERE dim = {full_dim}),
      nq AS (SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS n FROM ref),
      hits AS (SELECT t.dim, CAST(count(*) AS BIGINT) AS hits
               FROM topk t JOIN ref r
                 ON t.query_id = r.query_id
                AND t.neighbor_id = r.neighbor_id
               WHERE t.dim <> {full_dim}
               GROUP BY 1),
      spine AS (SELECT unnest([{', '.join(str(d) for d in dims)}]) AS dim)
      SELECT CAST(spine.dim AS INTEGER) AS dim,
             nq.n AS n_queries,
             COALESCE(hits.hits, 0) AS hits,
             CASE WHEN nq.n > 0
                  THEN floor(COALESCE(hits.hits, 0)
                        / CAST(nq.n * {k} AS DOUBLE) * 1e6 + 0.5) / 1e6
             END AS recall
      FROM spine CROSS JOIN nq LEFT JOIN hits ON hits.dim = spine.dim
    """


def ndcg_eval(emb: DataFrame, k: int = 10, every: int = 50) -> DataFrame:
    """NDCG@k against label ground truth — the GRADED-position metric
    completing the retrieval-eval suite (``retrieval_label_eval``'s
    P@k/MAP/MRR weight positions by reciprocal rank; NDCG discounts by
    log-position, the standard leaderboard metric):

        DCG  = sum_i rel_i / ln(i + 1)
        IDCG = sum_{i<=n_rel} 1 / ln(i + 1)
        NDCG = DCG / IDCG          (0 when the query has no relevant)

    Natural-log discounts: NDCG is a RATIO, so the log base cancels —
    ln gives bit-for-bit the standard log2 NDCG value while staying on
    the correctly-rounded libm ln both engines share (zipf/theils_u
    discipline). Float sums are position-ordered sequential folds
    (rank-sorted per query, query_id-sorted per label), never
    hash-order aggregates, so the metric value-hashes exactly.

    Scale: identical envelope to retrieval_label_eval — the exact
    top-k runs on the ``every``-strided query sample; per-query folds
    are k-sized, per-label folds |queries/label|-sized."""
    from ..functions.text import round_half_up

    labels = emb.select("vec_id", "label")
    t = (
        cosine_topk(emb, k=k, every=every)
        .join(
            labels.select(
                F.col("vec_id").alias("query_id"),
                F.col("label").alias("q_label"),
            ),
            "query_id",
        )
        .join(
            broadcast(
                labels.select(
                    F.col("vec_id").alias("neighbor_id"),
                    F.col("label").alias("n_label"),
                )
            ),
            "neighbor_id",
        )
        .withColumn(
            "rel",
            F.when(
                F.col("q_label") == F.col("n_label"), F.lit(1)
            ).otherwise(F.lit(0)),
        )
    )
    per_q = t.groupBy("query_id", "q_label").agg(
        F.array_sort(F.collect_list(F.struct("rank", "rel"))).alias("l"),
        F.sum("rel").cast("long").alias("n_rel"),
    )
    dcg = F.aggregate(
        F.col("l"),
        F.lit(0.0),
        lambda a, s: a
        + s["rel"].cast("double")
        / F.log(s["rank"].cast("double") + 1.0),
    )
    idcg = F.aggregate(
        F.sequence(F.lit(1), F.col("n_rel")),
        F.lit(0.0),
        lambda a, i: a + F.lit(1.0) / F.log(i.cast("double") + 1.0),
    )
    scored = per_q.select(
        "query_id",
        "q_label",
        "n_rel",
        F.when(F.col("n_rel") > 0, dcg / idcg)
        .otherwise(F.lit(0.0))
        .alias("ndcg"),
    )
    per_label = scored.groupBy(F.col("q_label").alias("label")).agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.sum(F.when(F.col("n_rel") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_covered"),
        F.array_sort(
            F.collect_list(F.struct("query_id", "ndcg"))
        ).alias("ql"),
    )
    mean_ndcg = (
        F.aggregate(
            F.col("ql"), F.lit(0.0), lambda a, s: a + s["ndcg"]
        )
        / F.col("n_queries").cast("double")
    )
    return per_label.select(
        "label",
        "n_queries",
        "n_covered",
        round_half_up(mean_ndcg, 6).alias("ndcg_at_k"),
    )


def duckdb_ndcg_sql(k: int = 10, every: int = 50) -> str:
    """DuckDB mirror of ``ndcg_eval``: same exact cosine top-k (the
    sequential-fold dot is bit-equal to list_dot_product), same
    rank-sorted DCG / positional IDCG folds, same query-sorted label
    mean."""
    return f"""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb, label
                 FROM embeddings),
      q AS (SELECT vec_id AS query_id, emb AS q_emb, label AS q_label
            FROM e WHERE {query_mod_sql(every)}),
      sims AS (
        SELECT q.query_id, q.q_label, e.vec_id AS neighbor_id,
               e.label AS n_label,
               CASE WHEN sqrt(list_dot_product(q.q_emb, q.q_emb)) > 0
                     AND sqrt(list_dot_product(e.emb, e.emb)) > 0
                    THEN list_dot_product(q.q_emb, e.emb)
                         / (sqrt(list_dot_product(q.q_emb, q.q_emb))
                            * sqrt(list_dot_product(e.emb, e.emb)))
                    ELSE 0.0 END AS sim
        FROM q CROSS JOIN e WHERE e.vec_id <> q.query_id),
      topk AS (
        SELECT query_id, q_label, neighbor_id, n_label, rk AS rank
        FROM (SELECT *, row_number() OVER (
                PARTITION BY query_id
                ORDER BY sim DESC, neighbor_id ASC) AS rk
              FROM sims)
        WHERE rk <= {k}),
      marked AS (
        SELECT query_id, q_label, rank,
               CASE WHEN q_label = n_label THEN 1 ELSE 0 END AS rel
        FROM topk),
      per_q AS (
        SELECT query_id, q_label,
               CAST(sum(rel) AS BIGINT) AS n_rel,
               list_reduce(
                 list_prepend(0.0,
                   list(CAST(rel AS DOUBLE)
                        / ln(CAST(rank AS DOUBLE) + 1.0) ORDER BY rank)),
                 (a, b) -> a + b) AS dcg
        FROM marked GROUP BY 1, 2),
      scored AS (
        SELECT query_id, q_label, n_rel,
               CASE WHEN n_rel > 0 THEN dcg / list_reduce(
                 list_prepend(0.0,
                   list_transform(range(1, CAST(n_rel AS INTEGER) + 1),
                     i -> 1.0 / ln(CAST(i AS DOUBLE) + 1.0))),
                 (a, b) -> a + b)
               ELSE 0.0 END AS ndcg
        FROM per_q)
      SELECT q_label AS label,
             CAST(count(*) AS BIGINT) AS n_queries,
             CAST(sum(CASE WHEN n_rel > 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_covered,
             floor(list_reduce(
                     list_prepend(0.0, list(ndcg ORDER BY query_id)),
                     (a, b) -> a + b)
                   / CAST(count(*) AS DOUBLE) * 1e6 + 0.5) / 1e6
                 AS ndcg_at_k
      FROM scored GROUP BY 1
    """


def ann_nprobe_sweep(
    emb: DataFrame,
    k: int = 5,
    every: int = 50,
    nprobes: tuple = (1, 2, 4),
    exact: DataFrame | None = None,
    cents: list | None = None,
    corpus: DataFrame | None = None,
    precomputed_count: int | None = None,
) -> DataFrame:
    """IVF nprobe TUNING TABLE: recall@k of the IVF index against the
    exact top-k at each candidate probe width — the knob sweep that
    sizes an index deployment (``ann_recall_report`` compares index
    FAMILIES at fixed knobs; this walks ONE family's latency/recall
    dial; recall is monotone in nprobe since probed cell sets nest).

    Each probe width re-derives the same deterministic centroid set
    (nprobe is a QUERY-side knob — a production sweep reuses one built
    index; in-plan the rebuild is the bounded centroid collect, not a
    corpus pass). The HOF argmax assignment keeps the sequential dots
    bit-equal to the oracle's list arithmetic. Integer counts,
    one division per row; the exact side is lazily checkpointed (it
    feeds every probe width's join — no cross-branch CSE otherwise).
    ``exact``/``cents`` accept a precomputed brute-force top-k relation
    and centroid table so a composer (``ann_tradeoff_table``) shares
    them instead of rebuilding — value-identical, both are
    deterministic functions of (emb, k, every) / (emb, stride, cap).

    Scale: the exact brute force is bounded by the ``every``-strided
    query sample (the recall-monitoring pattern); everything after is
    |queries| * k * |nprobes| rows."""
    from functools import reduce

    from ..functions.text import round_half_up

    if exact is None:
        exact = cosine_topk(
            emb, k=k, every=every, corpus=corpus,
            precomputed_count=precomputed_count,
        ).localCheckpoint(eager=False)
    from ..io import widen

    e0 = (
        corpus
        if corpus is not None
        else _as_double(emb).select("vec_id", "embedding")
    )
    if cents is None:
        # one bounded centroid collect shared by every probe width
        cents = ivf_centroids(e0)
    # the corpus->cell assignment is a pure function of (emb, cents):
    # build it ONCE (lazily checkpointed — three probe widths would
    # otherwise each replay the |corpus| x |cells| argmax)
    best = _nearest_centroid(cents, "embedding")
    assigned = (
        (e0 if corpus is not None else widen(e0, 8))
        .select("vec_id", "embedding", best["cid"].alias("cid"))
        .withColumn("nrm", norm(F.col("embedding")))
        .localCheckpoint(eager=False)
    )
    # NOTE (optimization r10): collecting these two constants as
    # literals was A/B'd and REVERTED — the blocking collect serializes
    # the exact pipeline against the branch materializations that AQE
    # otherwise overlaps (5-rep interleaved: 2.70 -> 2.75; same shape in
    # bits_sweep). The broadcast-agg subplan stays.
    consts = exact.agg(
        F.count(F.lit(1)).cast("long").alias("n_exact"),
        F.countDistinct("query_id").cast("long").alias("n_queries"),
    )
    # ONE tagged pipeline for ALL probe widths (optimization r10, guide
    # §2.4, the ann_bits_sweep discipline): the former per-width
    # ann_ivf_topk calls each built their own probe ranking, broadcast
    # and top-k window — 3x the stage count for nested candidate sets.
    # The probe ranking runs ONCE at max(nprobes); width p's probe set
    # is exactly its rk <= p prefix (cells nest), and ranking over
    # (nprobe, query_id) == the per-width ranking over query_id — same
    # window tie rules as ann_ivf_topk ((csim desc, cid asc) probes,
    # (sim desc, neighbor asc) top-k), so each width's rows are
    # value-identical to its standalone call.
    mx = max(int(p) for p in nprobes)
    qrel = query_subset(
        e0, every, precomputed_count=precomputed_count
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        norm(F.col("embedding")).alias("q_nrm"),
    )
    probes_ranked = (
        qrel.select(
            "query_id",
            "q_emb",
            "q_nrm",
            F.explode(_centroid_sims(cents, "q_emb")).alias("pr"),
        )
        .select(
            "query_id",
            "q_emb",
            "q_nrm",
            F.col("pr.cid").alias("cid"),
            F.col("pr.csim").alias("csim"),
        )
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.col("csim").desc(), F.col("cid").asc()
                )
            ),
        )
        .where(F.col("rk") <= mx)
    )
    tagged = reduce(
        lambda x, y: x.unionByName(y),
        [
            probes_ranked.where(F.col("rk") <= int(p)).select(
                F.lit(int(p)).alias("nprobe"),
                "query_id",
                "q_emb",
                "q_nrm",
                "cid",
            )
            for p in nprobes
        ],
    )
    cands = broadcast(tagged).join(assigned, on="cid").where(
        F.col("vec_id") != F.col("query_id")
    )
    scored = cands.select(
        "nprobe",
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        _sim_from_dot(
            F.col("q_emb"), F.col("embedding"), F.col("q_nrm"), F.col("nrm")
        ).alias("sim"),
    )
    wk = Window.partitionBy("nprobe", "query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    a = (
        scored.withColumn("rank", F.row_number().over(wk))
        .where(F.col("rank") <= k)
        .select("nprobe", "query_id", "neighbor_id")
    )
    matched = a.join(
        exact.select("query_id", "neighbor_id"),
        ["query_id", "neighbor_id"],
    ).groupBy("nprobe").agg(
        F.count(F.lit(1)).cast("long").alias("n_matched")
    )
    spine = emb.sparkSession.createDataFrame(
        [(int(p),) for p in nprobes], "nprobe int"
    )
    z = F.lit(0).cast("long")
    return (
        spine.join(matched, "nprobe", "left")
        .crossJoin(broadcast(consts))
        .select(
            "nprobe",
            "n_queries",
            F.coalesce("n_matched", z).alias("n_matched"),
            "n_exact",
            round_half_up(
                F.coalesce("n_matched", z) / F.col("n_exact"), 6
            ).alias("recall"),
        )
    )


def duckdb_nprobe_sweep_sql(
    k: int = 5, every: int = 50, nprobes: tuple = (1, 2, 4)
) -> str:
    """DuckDB mirror of ``ann_nprobe_sweep``: the same IVF oracle per
    probe width (shared centroid/assignment arithmetic via
    duckdb_ivf_knn_sql), the same exact side and integer recall."""
    branches = "\n UNION ALL ".join(
        f"""SELECT {int(p)} AS nprobe, query_id, neighbor_id
            FROM ({duckdb_ivf_knn_sql(k=k, nprobe=int(p),
                                      query_filter=query_mod_sql(every))})"""
        for p in nprobes
    )
    plist = ", ".join(str(int(p)) for p in nprobes)
    return f"""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      q AS (SELECT vec_id AS query_id, emb AS q_emb FROM e
            WHERE {query_mod_sql(every)}),
      scored AS (SELECT query_id, e.vec_id AS neighbor_id,
                        list_cosine_similarity(q_emb, emb) AS sim
                 FROM q JOIN e ON e.vec_id <> q.query_id),
      exact AS (SELECT query_id, neighbor_id
                FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                          ORDER BY sim DESC, neighbor_id ASC) AS rank
                      FROM scored)
                WHERE rank <= {k}),
      a AS ({branches}),
      matched AS (SELECT nprobe, CAST(count(*) AS BIGINT) AS n_matched
                  FROM a JOIN exact USING (query_id, neighbor_id)
                  GROUP BY 1),
      consts AS (SELECT CAST(count(*) AS BIGINT) AS n_exact,
                        CAST(count(DISTINCT query_id) AS BIGINT)
                            AS n_queries
                 FROM exact),
      spine AS (SELECT unnest([{plist}]) AS nprobe)
      SELECT CAST(spine.nprobe AS INTEGER) AS nprobe, n_queries,
             COALESCE(n_matched, 0) AS n_matched, n_exact,
             floor(COALESCE(n_matched, 0) * 1.0 / n_exact * 1e6 + 0.5)
                 / 1e6 AS recall
      FROM spine CROSS JOIN consts
      LEFT JOIN matched ON matched.nprobe = spine.nprobe
    """


def jl_signs(proj_dim: int = 16, full_dim: int = 64) -> list:
    """Deterministic Achlioptas-style ±1 JL sign matrix: sign(j, i) is
    +1 iff the first hex digit of md5('jl:j:i') is 0-7 (the top bit of
    the first nibble). A pure function of (j, i) — no RNG, no state —
    so the oracle SQL re-derives the identical matrix with DuckDB's
    md5() and the projection is reproducible on any engine."""
    import hashlib

    return [
        [
            1.0
            if hashlib.md5(f"jl:{j}:{i}".encode()).hexdigest()[0]
            in "01234567"
            else -1.0
            for i in range(full_dim)
        ]
        for j in range(proj_dim)
    ]


def _sqdist(a, b):
    """Squared L2 distance as ONE sequential fold over the zipped pair —
    mirrored term-for-term in the oracle (list_reduce over the same
    transform), so the double is bit-identical cross-engine."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def jl_distortion(
    emb: DataFrame,
    proj_dim: int = 16,
    every: int = 11,
    full_dim: int = 64,
) -> DataFrame:
    """Johnson–Lindenstrauss projection audit: project embeddings onto
    ``proj_dim`` deterministic ±1 directions (``jl_signs``) and report,
    for every sampled pair, the squared-distance distortion

        ratio = ( ||Rx - Ry||^2 / proj_dim ) / ||x - y||^2

    — the measurement behind the dimensionality-reduction trade every
    100TB vector pipeline faces (JL says ratios concentrate near 1 as
    proj_dim grows; pairs far from 1 are where a 4x-cheaper index would
    misrank). The ±1 matrix is the database-friendly JL construction
    (Achlioptas 2003): projection is 16 sign-flipped sequential-fold
    dots, no Gaussian sampling, derived bit-identically in both engines
    from md5 (``jl_signs``).

    Exactness: doubles throughout, but every reduction is a SEQUENTIAL
    fold (projection dots via the shared ``dot``; distances via
    ``_sqdist``) mirrored term-for-term in the oracle — no
    partition-order reassociation anywhere — and the two final
    divisions are mirrored verbatim under round_half_up. Coincident
    pairs (d2_orig == 0) drop by exact-zero predicate.

    Scale: the sample is bounded by construction (every ``every``-th
    vec_id — the ANN-eval envelope), so pairs are (n/every)^2
    regardless of corpus size; the projection touches only sampled
    rows. Auditing the FULL corpus would instead project once
    (16 folds/row, one map) and sample pairs per LSH bucket."""
    from ..functions.text import round_half_up
    from ..functions.vectors import dot

    signs = jl_signs(proj_dim, full_dim)
    e = _as_double(emb).select("vec_id", "embedding")
    s = query_subset(e, every)
    proj = s.select(
        "vec_id",
        "embedding",
        F.array(
            *[
                dot(
                    F.array(*[F.lit(v) for v in signs[j]]),
                    F.col("embedding"),
                )
                for j in range(proj_dim)
            ]
        ).alias("y"),
    ).localCheckpoint(eager=False)
    a = proj.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("ea"),
        F.col("y").alias("ya"),
    )
    b = proj.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("eb"),
        F.col("y").alias("yb"),
    )
    d2o = _sqdist(F.col("ea"), F.col("eb"))
    d2p = _sqdist(F.col("ya"), F.col("yb"))
    return (
        a.join(broadcast(b), F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            d2o.alias("__d2o"),
            d2p.alias("__d2p"),
        )
        .where(F.col("__d2o") > 0)
        .select(
            "id_a",
            "id_b",
            round_half_up(F.col("__d2o"), 6).alias("d2_orig"),
            round_half_up(
                (F.col("__d2p") / F.lit(float(proj_dim))) / F.col("__d2o"),
                6,
            ).alias("ratio"),
        )
    )


def silhouette_eval(
    emb: DataFrame,
    k: int = 8,
    iters: int = 2,
    seed_every: int = 100,
    every: int = 25,
) -> DataFrame:
    """Silhouette audit of the int8 k-means clustering — the quality
    score the clustering family lacks (``kmeans_int8`` reports WCSS,
    which always improves with k; silhouette asks whether each point
    actually SITS in its cluster): for every sampled point i,

        a(i) = mean squared-code-distance to its own cluster's other
               members,   b(i) = min over other clusters of the mean
               squared distance,   s(i) = (b - a) / max(a, b)

    — the squared-distance silhouette variant on the SAME integer
    int8-code metric the Lloyd rounds use, so the audit scores exactly
    the geometry the clustering optimized.

    Exactness: assignments come from the exactly-value-hashable
    ``kmeans_assign``; pair distances are INTEGER L2 sums over int8
    codes (order-free BIGINT reductions); a and b are mirrored
    divisions of exact BIGINTs, and s is one mirrored float expression
    under round_half_up. Points whose cluster has no other member drop
    by integer predicate (silhouette undefined), as do samples with no
    other cluster.

    Scale: the sample is every ``every``-th vec_id (the ANN-eval
    envelope), so the pair stage is |corpus| x |sample| integer folds
    — corpus scanned once; everything downstream is |sample| x k."""
    from ..functions.text import round_half_up

    # ONE quantization pass shared with the Lloyd rounds (optimization
    # r10, guide §2.4): the former form built _int8_codes here AND
    # inside kmeans_assign — two corpus scans + two HOF passes per call
    codes0 = (
        _int8_codes(emb)
        .select("vec_id", "codes")
        .localCheckpoint(eager=False)
    )
    assign = kmeans_assign(
        emb, k=k, iters=iters, seed_every=seed_every, codes=codes0
    ).select("vec_id", "cluster")
    codes = (
        codes0
        .join(assign, "vec_id")
        .localCheckpoint(eager=False)
    )
    # Cluster-moment closed form (optimization r9, guide §2.3/§1.2 "the
    # distributed algorithm"): the former plan joined the WHOLE corpus
    # against the broadcast sample (|corpus| x |sample| pair rows, one
    # 64-element integer fold each) and shuffled them into a
    # (i, gi, gj) aggregate. Expanding ||ci - cj||^2 gives
    #   sum_{j in gj} ||ci - cj||^2
    #     = cnt_gj * ||ci||^2 + S2_gj - 2 * ci . V_gj
    # with V_gj = elementwise code sum and S2_gj = sum ||cj||^2 over the
    # cluster — ONE k-row moment aggregate over the corpus, then
    # |sample| x k map-side dot products. All quantities are exact
    # BIGINT sums (order-free), so sd/cnt are bit-identical to the
    # pair-join form (the self term contributes 0 to sd; cnt drops 1 in
    # the own cluster exactly as the j != i join predicate did; pinned
    # in tests/test_round9_opt.py). A/B at sf0.1: 4.9s -> ~2s; at scale
    # the pair stage disappears entirely (|corpus| x k moments, not
    # |corpus| x |sample| pairs).
    n2_of = lambda c: F.aggregate(  # noqa: E731
        F.transform(c, lambda x: x.cast("long") * x.cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    head = emb.select("embedding").head()
    dims = len(head[0]) if head and head[0] is not None else 1
    mom = codes.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("long").alias("__cnt"),
        F.array(
            *[
                F.sum(F.element_at("codes", i + 1).cast("long"))
                for i in range(dims)
            ]
        ).alias("__v"),
        F.sum(n2_of(F.col("codes"))).cast("long").alias("__s2"),
    )
    samp = query_subset(codes, every, corpus=emb).select(
        F.col("vec_id").alias("i"),
        F.col("codes").alias("ci"),
        F.col("cluster").alias("gi"),
        n2_of(F.col("codes")).alias("__n2i"),
    )
    dotv = F.aggregate(
        F.zip_with(
            F.col("ci"), F.col("__v"), lambda x, y: x.cast("long") * y
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    percl = (
        samp.crossJoin(broadcast(mom))
        .select(
            "i",
            "gi",
            F.col("cluster").alias("gj"),
            (
                F.col("__cnt") * F.col("__n2i")
                + F.col("__s2")
                - F.lit(2).cast("long") * dotv
            ).alias("sd"),
            (
                F.col("__cnt")
                - F.when(F.col("cluster") == F.col("gi"), 1).otherwise(0)
            ).cast("long").alias("cnt"),
        )
        .where(F.col("cnt") > 0)
    )
    own = percl.where(F.col("gj") == F.col("gi")).select(
        "i",
        "gi",
        (F.col("sd").cast("double") / F.col("cnt").cast("double")).alias(
            "a_mean"
        ),
    )
    other = (
        percl.where(F.col("gj") != F.col("gi"))
        .select(
            "i",
            (
                F.col("sd").cast("double") / F.col("cnt").cast("double")
            ).alias("m"),
        )
        .groupBy("i")
        .agg(F.min("m").alias("b_mean"))
    )
    j = own.join(other, "i")
    # a == b == 0 (the point and BOTH nearest clusters are exact
    # duplicates at quantized distance 0): silhouette is 0 by
    # convention — never a 0/0 (ANSI division throws; the
    # disparate_impact precedent)
    s = F.when(
        F.greatest("a_mean", "b_mean") > 0,
        (F.col("b_mean") - F.col("a_mean"))
        / F.greatest("a_mean", "b_mean"),
    ).otherwise(F.lit(0.0))
    return j.select(
        F.col("i").alias("vec_id"),
        F.col("gi").alias("cluster"),
        round_half_up(F.col("a_mean"), 6).alias("a_mean"),
        round_half_up(F.col("b_mean"), 6).alias("b_mean"),
        round_half_up(s, 6).alias("s"),
    )


def ann_bits_sweep(
    emb: DataFrame,
    k: int = 5,
    every: int = 50,
    bits: tuple = (3, 4, 5, 6),
    n_tables: int = 8,
    seed: int = 42,
    exact: DataFrame | None = None,
    corpus: DataFrame | None = None,
    precomputed_count: int | None = None,
) -> DataFrame:
    """LSH bucket-bits TUNING TABLE: recall@k of the multi-table
    sign-LSH index against the exact top-k at each per-table bit width
    — the sweep behind the b ~ log2(N / target_bucket) sizing rule the
    ann_lsh_topk docstring prescribes (``ann_nprobe_sweep`` walks the
    IVF family's query-side dial; this walks LSH's INDEX-side dial:
    more bits -> smaller buckets -> fewer candidates scored but a
    higher per-table miss rate, recall decaying roughly like
    (1 - p^b)^L).

    Every width's planes are PREFIXES of one seed-derived stream
    (lsh_tables(L, b) = planes[0:L*b] reshaped), so the 64-element
    plane dots — the hot map stage — are computed ONCE for the widest
    width as a per-vector sign-bit array (lazily checkpointed); each
    width's per-table bucket is then an integer slice-and-weigh of
    those bits, bit-identical to ann_lsh_topk's bucket expression by
    construction (signs of the same dots, same 2^i weights — pinned
    against the standalone operator in tests). Candidates are
    OR-amplified across ``n_tables`` tables, and the exact side is one
    lazily-checkpointed brute-force pass over the bounded query sample
    (shareable via ``exact`` — ann_tradeoff_table passes it in).
    Integer counts, one division per row.

    Scale: sweep cost = |bits| x the bucketed kNN (each bounded by
    bucket collisions, never all-pairs) + ONE exact sampled pass;
    at production N the same sweep runs on a sampled slice to pick b
    before the full index build."""
    from functools import reduce

    from ..functions.text import round_half_up

    from ..functions.vectors import sql_array_lit, sql_dot
    from ..io import widen

    if exact is None:
        exact = cosine_topk(
            emb, k=k, every=every, corpus=corpus,
            precomputed_count=precomputed_count,
        ).localCheckpoint(eager=False)
    # NOTE (optimization r10): a consts-as-literals form was A/B'd and
    # REVERTED here — the blocking collect serializes the exact pipeline
    # against the per-width branch materializations AQE overlaps
    # (5-rep interleaved: 2.53 -> 2.65). The broadcast-agg subplan stays.
    consts = exact.agg(
        F.count(F.lit(1)).cast("long").alias("n_exact"),
        F.countDistinct("query_id").cast("long").alias("n_queries"),
    )
    max_b = max(int(x) for x in bits)
    planes = _hyperplanes(n_tables * max_b, seed=seed)
    sbits = F.expr(
        f"transform({sql_array_lit(planes)}, p -> CASE WHEN "
        f"{sql_dot('p', 'embedding')} >= 0 THEN 1L ELSE 0L END)"
    )
    base = (
        corpus
        if corpus is not None
        else widen(_as_double(emb).select("vec_id", "embedding"), 8)
    )
    e = (
        base
        .withColumn("nrm", norm(F.col("embedding")))
        .withColumn("sbits", sbits)
        .localCheckpoint(eager=False)
    )
    # query side ONCE for all widths: filter the checkpointed corpus to
    # the bounded sample, then read each width's buckets off the shared
    # sign bits — the former per-width query_subset(indexed, ...) form
    # re-counted the corpus AND re-filtered the full posexploded index
    # once per width (optimization r10, guide §2.4). Value-identical:
    # bucket arrays are pure per-row functions of sbits and
    # filter/compute commute.
    q0 = query_subset(
        e, every, corpus=emb, precomputed_count=precomputed_count
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
        F.col("sbits").alias("q_sbits"),
    )
    # ONE tagged pipeline for ALL widths (optimization r10, guide §2.4):
    # the former loop ran a separate bucket join + pair dedup + top-k
    # window PER width — 4x the stage count for the same total rows.
    # Tagging every row with its width and keying the join, the dedup
    # and the ranking window on (bits, ...) is value-identical per
    # width group: row_number over (bits, query_id) == the per-width
    # row_number over query_id, same (sim desc, neighbor asc) ties.
    idx_unions, q_unions = [], []
    for x in bits:
        width = int(x)
        wts = (
            "array(" + ",".join(f"{1 << i}L" for i in range(width)) + ")"
        )
        # table t's bucket = sum_i 2^i * sign(planes[t*b + i] . emb):
        # exactly lsh_tables(L, b)'s layout, read off the shared bits
        bucket_arr = F.expr(
            f"transform(sequence(0, {n_tables - 1}), t -> aggregate("
            f"zip_with(slice(sbits, t * {width} + 1, {width}), {wts},"
            " (x, w) -> x * w), 0L, (acc, v) -> acc + v))"
        )
        idx_unions.append(
            e.select(
                F.lit(width).alias("bits"),
                "vec_id",
                "embedding",
                "nrm",
                F.posexplode(bucket_arr).alias("table", "bucket"),
            )
        )
        q_bucket_arr = F.expr(
            f"transform(sequence(0, {n_tables - 1}), t -> aggregate("
            f"zip_with(slice(q_sbits, t * {width} + 1, {width}), {wts},"
            " (x, w) -> x * w), 0L, (acc, v) -> acc + v))"
        )
        q_unions.append(
            q0.select(
                F.lit(width).alias("bits"),
                "query_id",
                "q_emb",
                "q_nrm",
                F.posexplode(q_bucket_arr).alias("table", "bucket"),
            )
        )
    indexed = reduce(lambda x, y: x.unionByName(y), idx_unions)
    q = reduce(lambda x, y: x.unionByName(y), q_unions)
    cands = (
        indexed.join(broadcast(q), on=["bits", "table", "bucket"])
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "bits", "query_id", "q_emb", "q_nrm", "vec_id", "embedding", "nrm"
        )
        .dropDuplicates(["bits", "query_id", "vec_id"])
    )
    scored = cands.select(
        "bits",
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        _sim_from_dot(
            F.col("q_emb"),
            F.col("embedding"),
            F.col("q_nrm"),
            F.col("nrm"),
        ).alias("sim"),
    )
    wk = Window.partitionBy("bits", "query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    a = (
        scored.withColumn("rank", F.row_number().over(wk))
        .where(F.col("rank") <= k)
        .select("bits", "query_id", "neighbor_id")
    )
    matched = a.join(
        exact.select("query_id", "neighbor_id"),
        ["query_id", "neighbor_id"],
    ).groupBy("bits").agg(
        F.count(F.lit(1)).cast("long").alias("n_matched")
    )
    spine = emb.sparkSession.createDataFrame(
        [(int(b),) for b in bits], "bits int"
    )
    z = F.lit(0).cast("long")
    return (
        spine.join(matched, "bits", "left")
        .crossJoin(broadcast(consts))
        .where(F.col("n_exact") > 0)  # empty query sample: no table
        .select(
            "bits",
            "n_queries",
            F.coalesce("n_matched", z).alias("n_matched"),
            "n_exact",
            round_half_up(
                F.coalesce("n_matched", z) / F.col("n_exact"), 6
            ).alias("recall"),
        )
    )


def duckdb_bits_sweep_sql(
    k: int = 5,
    every: int = 50,
    bits: tuple = (3, 4, 5, 6),
    n_tables: int = 8,
    seed: int = 42,
) -> str:
    """DuckDB mirror of ``ann_bits_sweep``: the same LSH oracle per bit
    width (shared plane literals via duckdb_lsh_topk_sql), the same
    exact side and integer recall."""
    branches = "\n UNION ALL ".join(
        f"""SELECT {int(b)} AS bits, query_id, neighbor_id
            FROM ({duckdb_lsh_topk_sql(k=k, every=every,
                                       n_tables=n_tables,
                                       planes_per_table=int(b),
                                       seed=seed)})"""
        for b in bits
    )
    blist = ", ".join(str(int(b)) for b in bits)
    return f"""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      q AS (SELECT vec_id AS query_id, emb AS q_emb FROM e
            WHERE {query_mod_sql(every)}),
      scored AS (SELECT query_id, e.vec_id AS neighbor_id,
                        list_cosine_similarity(q_emb, emb) AS sim
                 FROM q JOIN e ON e.vec_id <> q.query_id),
      exact AS (SELECT query_id, neighbor_id
                FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                          ORDER BY sim DESC, neighbor_id ASC) AS rank
                      FROM scored)
                WHERE rank <= {k}),
      a AS ({branches}),
      matched AS (SELECT bits, CAST(count(*) AS BIGINT) AS n_matched
                  FROM a JOIN exact USING (query_id, neighbor_id)
                  GROUP BY 1),
      consts AS (SELECT CAST(count(*) AS BIGINT) AS n_exact,
                        CAST(count(DISTINCT query_id) AS BIGINT)
                            AS n_queries
                 FROM exact),
      spine AS (SELECT unnest([{blist}]) AS bits)
      SELECT CAST(spine.bits AS INTEGER) AS bits, n_queries,
             COALESCE(n_matched, 0) AS n_matched, n_exact,
             floor(COALESCE(n_matched, 0) * 1.0 / n_exact * 1e6 + 0.5)
                 / 1e6 AS recall
      FROM spine CROSS JOIN consts
      LEFT JOIN matched ON matched.bits = spine.bits
      WHERE n_exact > 0
    """


def cluster_balance(
    emb: DataFrame, k: int = 8, iters: int = 2, seed_every: int = 100
) -> DataFrame:
    """Label composition of each int8 k-means cluster — the topic-
    balance report a curation pipeline reads next to ``silhouette_eval``
    (silhouette asks "is the geometry tight?"; this asks "does the
    cluster MEAN anything?" — per cluster: the dominant label, its
    purity, and the Simpson concentration index sum_l (c_l / n)^2,
    1/k-ish when mixed, 1.0 when pure).

    Exactness: label counts ride the exactly-value-hashable
    ``kmeans_assign``; the dominant label is a deterministic
    (count desc, label asc) window pick; purity and Simpson are
    mirrored divisions of exact BIGINTs under round_half_up.

    Scale: one (cluster, label) rollup over the assignment relation —
    k x |labels| rows downstream."""
    from ..functions.text import round_half_up

    assign = kmeans_assign(
        emb, k=k, iters=iters, seed_every=seed_every
    ).select("vec_id", "cluster")
    j = assign.join(emb.select("vec_id", "label"), "vec_id")
    cl = j.groupBy("cluster", "label").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    w = Window.partitionBy("cluster").orderBy(
        F.desc("cnt"), F.asc("label")
    )
    per = cl.select(
        "cluster",
        "label",
        "cnt",
        F.row_number().over(w).alias("rn"),
        F.sum("cnt")
        .over(Window.partitionBy("cluster"))
        .cast("long")
        .alias("n_members"),
        F.sum(F.col("cnt") * F.col("cnt"))
        .over(Window.partitionBy("cluster"))
        .cast("long")
        .alias("sum_c2"),
    ).where(F.col("rn") == 1)
    nd = F.col("n_members").cast("double")
    return per.select(
        "cluster",
        "n_members",
        F.col("label").alias("top_label"),
        F.col("cnt").alias("n_top"),
        round_half_up(F.col("cnt").cast("double") / nd, 6).alias(
            "purity"
        ),
        round_half_up(
            F.col("sum_c2").cast("double") / (nd * nd), 6
        ).alias("simpson"),
    )


def ann_tradeoff_table(
    emb: DataFrame,
    k: int = 5,
    every: int = 50,
    bits: tuple = (3, 4, 5, 6),
    nprobes: tuple = (1, 2, 4),
    n_tables: int = 8,
    centroid_every: int = 100,
    n_max_centroids: int = 512,
) -> DataFrame:
    """The ANN DEPLOYMENT DECISION TABLE: both index families' knob
    sweeps (``ann_bits_sweep``, ``ann_nprobe_sweep``) fused into one
    relation with the analytic per-query candidate cost each knob
    implies —

        LSH:  est = n_tables * N / 2^bits      (OR-amplified buckets)
        IVF:  est = nprobe * N / n_cells       (probed cell mass)

    — so "which family, at which knob, buys recall X cheapest?" is one
    ORDER BY over this output instead of two artifacts and a napkin.

    Exactness: both sweeps are already exact-oracle relations; the
    cost columns are INTEGER expressions (div) of the exact corpus
    count and the exact centroid-seed count (the same % stride and
    cap the index build uses). Scale: the two sweeps' envelopes,
    unchanged; the fusion is a constant-row union.

    The EXACT brute-force pass — the most expensive relation either
    sweep builds — is computed ONCE here (lazily checkpointed, the
    part_kcore precedent) and fed to both sweeps; both consume the
    identical deterministic (emb, k, every) relation, so the fusion
    is bit-identical to the standalone sweeps (pinned in
    tests/test_round6_ops2.py)."""
    # ONE prepared corpus + count shared by the exact pass, both sweeps
    # and the consts aggregate (optimization r10, guide §2.4 — the
    # ann_recall_report discipline): formerly each sweep re-scanned,
    # re-cast and re-widened the corpus and re-counted it per branch.
    from ..io import widen

    corpus = widen(
        _as_double(emb).select("vec_id", "embedding"), 8
    ).localCheckpoint(eager=False)
    n_corpus = corpus.count()
    exact = cosine_topk(
        emb, k=k, every=every, corpus=corpus, precomputed_count=n_corpus
    ).localCheckpoint(eager=False)
    consts = corpus.agg(
        F.count(F.lit(1)).cast("long").alias("n_corpus"),
        F.least(
            F.lit(n_max_centroids).cast("long"),
            F.sum(
                F.when(F.col("vec_id") % centroid_every == 0, 1).otherwise(
                    0
                )
            ).cast("long"),
        ).alias("n_cells"),
    )
    lsh = (
        ann_bits_sweep(
            emb, k=k, every=every, bits=bits, n_tables=n_tables,
            exact=exact, corpus=corpus, precomputed_count=n_corpus,
        )
        .crossJoin(broadcast(consts))
        .select(
            F.lit("lsh").alias("family"),
            F.col("bits").cast("int").alias("knob"),
            "n_queries",
            "recall",
            F.expr(f"CAST({n_tables} AS BIGINT) * n_corpus")
            .cast("long")
            .alias("__num"),
            F.pow(F.lit(2.0), F.col("bits").cast("double"))
            .cast("long")
            .alias("__den"),
        )
        .select(
            "family",
            "knob",
            "n_queries",
            "recall",
            F.expr("__num div __den").cast("long").alias("est_candidates"),
        )
    )
    ivf = (
        ann_nprobe_sweep(
            emb, k=k, every=every, nprobes=nprobes, exact=exact,
            corpus=corpus, precomputed_count=n_corpus,
        )
        .crossJoin(broadcast(consts))
        .select(
            F.lit("ivf").alias("family"),
            F.col("nprobe").cast("int").alias("knob"),
            "n_queries",
            "recall",
            F.expr("CAST(nprobe AS BIGINT) * n_corpus div n_cells")
            .cast("long")
            .alias("est_candidates"),
        )
    )
    return lsh.unionByName(ivf)


def duckdb_tradeoff_sql(
    k: int = 5,
    every: int = 50,
    bits: tuple = (3, 4, 5, 6),
    nprobes: tuple = (1, 2, 4),
    n_tables: int = 8,
    centroid_every: int = 100,
    n_max_centroids: int = 512,
) -> str:
    """DuckDB mirror of ``ann_tradeoff_table``: both sweep oracles
    verbatim plus the same integer cost expressions."""
    return f"""
      WITH consts AS (
        SELECT CAST(count(*) AS BIGINT) AS n_corpus,
               least(CAST({n_max_centroids} AS BIGINT),
                     CAST(sum(CASE WHEN vec_id % {centroid_every} = 0
                                   THEN 1 ELSE 0 END) AS BIGINT))
                   AS n_cells
        FROM embeddings),
      lsh AS (SELECT * FROM (
        {duckdb_bits_sweep_sql(k=k, every=every, bits=bits,
                               n_tables=n_tables)})),
      ivf AS (SELECT * FROM (
        {duckdb_nprobe_sweep_sql(k=k, every=every, nprobes=nprobes)}))
      SELECT 'lsh' AS family, CAST(bits AS INTEGER) AS knob,
             n_queries, recall,
             CAST((CAST({n_tables} AS BIGINT) * n_corpus)
                  // CAST(power(2.0, CAST(bits AS DOUBLE)) AS BIGINT)
                  AS BIGINT) AS est_candidates
      FROM lsh, consts
      UNION ALL
      SELECT 'ivf' AS family, CAST(nprobe AS INTEGER) AS knob,
             n_queries, recall,
             CAST(CAST(nprobe AS BIGINT) * n_corpus // n_cells
                  AS BIGINT) AS est_candidates
      FROM ivf, consts
    """


def emb_outliers(emb: DataFrame, top_k: int = 20) -> DataFrame:
    """Global embedding outliers: the ``top_k`` vectors farthest (L2)
    from the corpus centroid — the "these vectors are not like the
    others" screen an embedding batch gets before indexing (model-
    version strays, zero-shot garbage, corrupt rows), complementing
    ``emb_norm_stats`` (scale drift) and ``label_noise`` (label-local
    neighbors) with a corpus-global geometric check.

    Exactness: coordinates are quantized to integer micros up front
    (floor(x*1e6 + 0.5), defined semantics); per-dim sums are exact
    BIGINTs, so n*c_d - S_d is an exact integer and the squared
    distance to the centroid, sum_d (n*c_d - S_d)^2 / n^2, folds
    SEQUENTIALLY in dim order over identical doubles — ordering
    (dist2 desc, vec_id asc) is engine-exact.

    Scale: one posexplode rollup to 64 rows (the centroid), broadcast
    back as a sorted array; the distance pass is map-side; TakeOrdered
    for the top_k. No pairwise stage anywhere."""
    from ..functions.text import round_half_up

    e = emb.select(
        "vec_id",
        "label",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda v: F.floor(v * 1000000.0 + F.lit(0.5)).cast("long"),
        ).alias("c"),
    )
    dims = e.select(
        "vec_id", F.posexplode(F.col("c")).alias("dim", "x")
    )
    sums = dims.groupBy("dim").agg(F.sum("x").cast("long").alias("s"))
    sarr = sums.groupBy().agg(
        F.array_sort(F.collect_list(F.struct("dim", "s"))).alias("ss"),
        F.lit(1).alias("__one"),
    )
    cnt = e.agg(F.count(F.lit(1)).cast("long").alias("n"))
    j = e.crossJoin(F.broadcast(sarr)).crossJoin(F.broadcast(cnt))
    d2 = F.aggregate(
        F.zip_with(
            F.col("c"),
            F.transform(F.col("ss"), lambda t: t["s"]),
            lambda x, t: (
                (F.col("n") * x - t).cast("double")
                * (F.col("n") * x - t).cast("double")
            ),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    ) / (F.col("n") * F.col("n")).cast("double")
    return (
        j.select("vec_id", "label", d2.alias("d2"))
        .orderBy(F.desc("d2"), F.asc("vec_id"))
        .limit(top_k)
        .select(
            "vec_id",
            "label",
            round_half_up(
                F.sqrt(F.col("d2")) / 1000000.0, 6
            ).alias("dist_to_centroid"),
        )
    )


def duckdb_emb_outliers_sql(top_k: int = 20) -> str:
    """DuckDB mirror of ``emb_outliers``: same micro quantization,
    BIGINT centroid sums, dim-ordered distance fold, integer-double
    ordering."""
    return """
      WITH e AS (
        SELECT vec_id, label,
               list_transform(embedding,
                 v -> CAST(floor(CAST(v AS DOUBLE) * 1e6 + 0.5)
                           AS BIGINT)) AS c
        FROM embeddings),
      sums AS (
        SELECT i AS dim, CAST(sum(c[i]) AS BIGINT) AS s
        FROM e, LATERAL (SELECT unnest(range(1, len(c) + 1)) AS i) _
        GROUP BY 1),
      sarr AS (SELECT list(s ORDER BY dim) AS ss FROM sums),
      cnt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e),
      d AS (
        SELECT vec_id, label,
               list_reduce(list_prepend(0.0,
                 list_transform(range(1, len(c) + 1),
                   i -> CAST(n * c[i] - ss[i] AS DOUBLE)
                        * CAST(n * c[i] - ss[i] AS DOUBLE))),
                 (a, b) -> a + b) / CAST(n * n AS DOUBLE) AS d2
        FROM e, sarr, cnt)
      SELECT vec_id, label,
             floor(sqrt(d2) / 1e6 * 1e6 + 0.5) / 1e6
                 AS dist_to_centroid
      FROM d
      ORDER BY d2 DESC, vec_id ASC
      LIMIT {top_k}
    """.replace("{top_k}", str(int(top_k)))


def ann_k_sweep(
    emb: DataFrame,
    ks: tuple = (1, 5, 10, 20),
    every: int = 50,
    n_tables: int = 16,
    planes_per_table: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Recall-at-k CURVE of the multi-table LSH index: one max-k index
    pass and one max-k exact pass, then recall@k for every k in ``ks``
    read off the rank prefixes — the third ANN tuning dial
    (``ann_bits_sweep`` walks the index knob, ``ann_nprobe_sweep`` the
    query knob; this walks the CONSUMER's k, answering "is the index
    still good enough if the application asks for 20 neighbors instead
    of 5?" — recall@k typically decays with k since deeper true
    neighbors sit in colder buckets).

    Exactness: both sides are the deterministic rank relations
    (_topk's integer tie-breaks); matching and counting are pure
    integer; recall is one mirrored division.

    Scale: ONE bucketed index pass + ONE bounded exact pass at
    max(ks) — the sweep itself adds only constant-sized counting."""
    from functools import reduce as _reduce

    from ..functions.text import round_half_up

    kmax = max(int(k) for k in ks)
    # one prepared corpus for the exact AND the index pass (the
    # ann_recall_report discipline, optimization r10 — guide §2.4)
    from ..io import widen

    corpus = widen(
        _as_double(emb).select("vec_id", "embedding"), 8
    ).localCheckpoint(eager=False)
    n_corpus = corpus.count()
    exact = cosine_topk(
        emb, k=kmax, every=every, corpus=corpus,
        precomputed_count=n_corpus,
    ).localCheckpoint(eager=False)
    approx = ann_lsh_topk(
        emb,
        k=kmax,
        every=every,
        n_tables=n_tables,
        planes_per_table=planes_per_table,
        seed=seed,
        corpus=corpus,
        precomputed_count=n_corpus,
    )
    j = exact.select(
        "query_id", "neighbor_id", F.col("rank").alias("re")
    ).join(
        approx.select(
            "query_id", "neighbor_id", F.col("rank").alias("ra")
        ),
        ["query_id", "neighbor_id"],
        "left",
    )
    ke = F.explode(F.array(*[F.lit(int(k)) for k in ks])).alias("k")
    per = (
        j.select("re", "ra", ke)
        .where(F.col("re") <= F.col("k"))
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_exact"),
            F.sum(
                F.when(
                    F.col("ra").isNotNull()
                    & (F.col("ra") <= F.col("k")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_matched"),
        )
    )
    nq = exact.agg(
        F.countDistinct("query_id").cast("long").alias("n_queries")
    )
    return per.crossJoin(broadcast(nq)).select(
        "k",
        "n_queries",
        "n_matched",
        "n_exact",
        round_half_up(
            F.col("n_matched").cast("double")
            / F.col("n_exact").cast("double"),
            6,
        ).alias("recall"),
    )


def duckdb_k_sweep_sql(
    ks: tuple = (1, 5, 10, 20),
    every: int = 50,
    n_tables: int = 16,
    planes_per_table: int = 4,
    seed: int = 42,
) -> str:
    """DuckDB mirror of ``ann_k_sweep``: the LSH top-kmax oracle and
    the exact top-kmax brute force, prefix-matched per k."""
    kmax = max(int(k) for k in ks)
    klist = ", ".join(str(int(k)) for k in ks)
    return f"""
      WITH approx AS (
        SELECT query_id, neighbor_id, rank AS ra
        FROM ({duckdb_lsh_topk_sql(k=kmax, every=every,
                                   n_tables=n_tables,
                                   planes_per_table=planes_per_table,
                                   seed=seed)})),
      e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      q AS (SELECT vec_id AS query_id, emb AS q_emb FROM e
            WHERE {query_mod_sql(every)}),
      scored AS (SELECT query_id, e.vec_id AS neighbor_id,
                        list_cosine_similarity(q_emb, emb) AS sim
                 FROM q JOIN e ON e.vec_id <> q.query_id),
      exact AS (SELECT query_id, neighbor_id, re FROM (
                  SELECT query_id, neighbor_id,
                         row_number() OVER (PARTITION BY query_id
                           ORDER BY sim DESC, neighbor_id ASC) AS re
                  FROM scored) WHERE re <= {kmax}),
      nq AS (SELECT CAST(count(DISTINCT query_id) AS BIGINT)
                 AS n_queries FROM exact),
      jj AS (SELECT exact.query_id, exact.neighbor_id, re, ra
             FROM exact LEFT JOIN approx
               ON approx.query_id = exact.query_id
              AND approx.neighbor_id = exact.neighbor_id),
      per AS (
        SELECT k, CAST(count(*) AS BIGINT) AS n_exact,
               CAST(sum(CASE WHEN ra IS NOT NULL AND ra <= k
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_matched
        FROM jj, (SELECT unnest([{klist}]) AS k) _
        WHERE re <= k GROUP BY 1)
      SELECT CAST(k AS INTEGER) AS k, n_queries, n_matched, n_exact,
        floor(CAST(n_matched AS DOUBLE) / CAST(n_exact AS DOUBLE)
              * 1e6 + 0.5) / 1e6 AS recall
      FROM per, nq
    """


def emb_isotropy(emb: DataFrame) -> DataFrame:
    """Isotropy read of the embedding space: the mean pairwise cosine
    over all ordered pairs, computed WITHOUT a pair join via the
    sum-vector identity

        sum_{i != j} cos(i, j) = ||sum_i v^_i||^2 - sum_i ||v^_i||^2

    on unit-normalized vectors — the one-number "is this space
    anisotropically collapsed?" gate (a healthy isotropic space reads
    ~0; a cone-collapsed one, the classic contextual-embedding
    pathology, reads >> 0) that sizes whether ``emb_pca``-style
    whitening is worth running. O(n d), never O(n^2).

    Exactness contract: normalized coordinates are quantized to
    integer micros per vector (floor(v_k / ||v|| * 1e6 + 0.5) — the
    house integer-quantization discipline), so the per-dimension sums,
    their squares and the pair identity are exact order-free BIGINTs;
    the mean is one mirrored division. sum_norm2_q and ssq_q ship as
    exact integers, making the value hash sharp.

    Scale: one posexplode + one d-row rollup."""
    from ..functions.text import round_half_up
    from ..functions.vectors import norm

    DEC = "decimal(38,0)"
    e = _as_double(emb).select("vec_id", "embedding")
    withn = e.select(
        "vec_id", "embedding", norm(F.col("embedding")).alias("nrm")
    ).where(F.col("nrm") > 0)
    coords = withn.select(
        "vec_id",
        F.posexplode("embedding").alias("k", "x"),
        F.col("nrm"),
    ).select(
        "vec_id",
        "k",
        F.floor(F.col("x") / F.col("nrm") * 1000000.0 + F.lit(0.5))
        .cast("long")
        .alias("q"),
    )
    per_dim = coords.groupBy("k").agg(
        F.sum("q").cast("long").alias("s"),
        F.sum(F.col("q").cast(DEC) * F.col("q").cast(DEC))
        .cast(DEC)
        .alias("qq"),
    )
    nv = withn.agg(F.count(F.lit(1)).cast("long").alias("n"))
    fin = per_dim.agg(
        F.count(F.lit(1)).cast("long").alias("dim"),
        F.sum(F.col("s").cast(DEC) * F.col("s").cast(DEC))
        .cast(DEC)
        .alias("sum_norm2_q"),
        F.sum("qq").cast(DEC).alias("ssq_q"),
    ).crossJoin(F.broadcast(nv))
    mean_cos = (
        (F.col("sum_norm2_q") - F.col("ssq_q")).cast("double")
        / 1e12
        / (F.col("n").cast(DEC) * (F.col("n") - 1).cast(DEC)).cast(
            "double"
        )
    )
    return fin.where(F.col("n") >= 2).select(
        "n",
        "dim",
        F.col("sum_norm2_q").cast("double").alias("sum_norm2_q"),
        F.col("ssq_q").cast("double").alias("ssq_q"),
        round_half_up(mean_cos, 9).alias("mean_cos"),
    )
