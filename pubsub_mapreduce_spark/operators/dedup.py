"""Deduplication operators over the ``documents`` table — the
training-data-pipeline surface (exact, MinHash-LSH, SimHash, n-gram
Jaccard, embedding-cosine near-dup).

All declarative DataFrame compositions; the only shuffles are on the
natural keys (content hash / shingle / band signature), each with
map-side partial aggregation. No Python UDFs anywhere in this module.

Scale notes (100TB of documents):
- exact: one shuffle on a 128-bit content hash; skew-free by construction.
- MinHash-LSH: cost is |shingles| for signatures and for the verify's
  shingle sets (one shuffle on doc_id each), then |docs| x bands rows
  into ONE (band, bucket) aggregate that collects each bucket's
  members. Pairs are exploded from those lists, so work is quadratic
  only within a bucket — the whole point of LSH. Giant buckets
  (degenerate content) are capped by list size. Signatures, bucket
  lists and candidate pairs each have one consumer, so none is
  computed twice; nothing is cached.
- SimHash: 32x bit-explode before the (doc, bit) aggregate; partial agg
  collapses it map-side to 32 rows per doc.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import round_half_up, token_hash32, tokens

# 2^31-1: big enough for 32-bit shingle hashes, small enough that the
# universal-hash product a*h stays inside int64 (ANSI overflow checking on)
MERSENNE_P = (1 << 31) - 1
N_PERM = 64
LSH_BANDS = 16  # 16 bands x 4 rows: ~50% candidate recall at jaccard 0.5
_BUCKET_CAP = 10000  # LSH buckets with more members emit no pairs


def _perm_coeffs(n_perm: int = N_PERM, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic universal-hash coefficients (a*x + b) mod p."""
    rng = random.Random(seed)
    return [
        (rng.randrange(1, MERSENNE_P - 1), rng.randrange(0, MERSENNE_P - 1))
        for _ in range(n_perm)
    ]


def normalized_text(col="text"):
    return F.lower(F.trim(F.col(col) if isinstance(col, str) else col))


def content_hash(col="text"):
    return F.md5(normalized_text(col).cast("binary"))


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact dedup by normalized-content hash: one group per distinct
    content, keeper = min doc_id, n_copies for audit. Single shuffle on
    the md5 hash (uniform, skew-free)."""
    return (
        docs.select(F.col("doc_id"), content_hash().alias("content_md5"))
        .groupBy("content_md5")
        .agg(
            F.min("doc_id").alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def word_shingles(
    docs: DataFrame,
    n: int = 3,
    text: str = "text",
    distinct: bool = True,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Word n-gram shingles per doc: (doc_id, shingle string), built by
    ONE overlapping-regex lookahead pass over whitespace-collapsed text
    — A/B-measured 12x faster at sf0.1 (0.28s vs 3.5s) than the
    ``transform(sequence, i -> concat_ws(slice))`` HOF, whose per-element
    string building runs interpreted (same finding as
    textops.ngram_decontaminate). The collapse to single spaces makes
    the captured gram byte-identical to the concat_ws(' ') join the HOF
    produced; docs shorter than ``n`` tokens keep the whole-text-as-one-
    shingle behavior via the fallback branch. Lookahead is Java-regex-
    only — the DuckDB oracle builds shingles by list slicing.

    ``distinct=True`` (set semantics, needed for exact Jaccard) costs a
    full shuffle of the exploded rows; pass ``distinct=False`` for
    consumers that are duplicate-insensitive (MinHash: min over a multiset
    equals min over its set) — that path is shuffle-free until its own
    aggregate.

    ``carry``: extra per-doc columns preserved through the explode (e.g.
    a batch-membership flag) — lets one shingle pass feed consumers that
    need doc metadata without a |docs|-sized join back."""
    out = docs.select("doc_id", *carry, F.explode(_grams(text, n)).alias("shingle")).where(
        F.col("shingle") != ""
    )
    return out.distinct() if distinct else out


def _grams(text: str, n: int):
    """The array of a doc's word n-grams (see ``word_shingles``); docs
    shorter than n tokens produce their whole text as one gram."""
    nt = F.regexp_replace(normalized_text(text), r"\s+", " ")
    toks = tokens(nt)
    pat = r"(?=(" + " ".join([r"\S+"] * n) + r"))\S+"
    return F.when(
        F.size(toks) >= n, F.regexp_extract_all(nt, F.lit(pat), 1)
    ).otherwise(F.array(F.concat_ws(" ", toks)))


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """EXACT n-gram Jaccard similar pairs (a < b, jaccard >= threshold).

    shingle-inverted-index self-join: shuffle on shingle, pairs generated
    only for docs sharing a shingle (never the full cross product), then
    |A ∩ B| counted per pair and |A|,|B| joined back in. This is the
    exact-verification oracle that MinHash approximates.

    At 100TB the shingle join is the hotspot: stopword-like shingles give
    skewed keys -> we drop shingles shared by more than ``max_df`` docs
    (they carry no discriminative signal; standard trick). The Jaccard is
    then computed CONSISTENTLY over the filtered shingle universe — both
    |A ∩ B| and |A|,|B| count only df<=max_df shingles — so it is the
    exact Jaccard of the discriminative sets, not a mixed-universe ratio.
    max_df is a no-op at test SF (no shingle is that common), where this
    equals plain Jaccard, which is what the oracle checks.

    ``shingles``: a prebuilt DISTINCT (doc_id, shingle) relation —
    composers that also run the MinHash pipeline over the same corpus
    (dedup_recall_report) pass ONE shared shingle set so the
    tokenize+explode+distinct chain runs once, not once per side
    (optimization r10, guide §2.4). Value-identical by construction:
    word_shingles is deterministic per doc.
    """
    sh = (
        word_shingles(docs, n=n).localCheckpoint(eager=False)
        if shingles is None
        else shingles
    )
    max_df = 1000
    common_shingles = (
        sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df")).where(F.col("df") <= max_df)
    )
    sh_f = sh.join(common_shingles.select("shingle"), "shingle")
    sizes = sh_f.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh_f.select(F.col("doc_id").alias("a"), "shingle")
    b = sh_f.select(F.col("doc_id").alias("b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "a").withColumnRenamed("sz", "sz_a"), "a")
        .join(sizes.withColumnRenamed("doc_id", "b").withColumnRenamed("sz", "sz_b"), "b")
        .withColumn(
            "jaccard",
            round_half_up(
                F.col("common") / (F.col("sz_a") + F.col("sz_b") - F.col("common")), 6
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def minhash_signatures(
    docs: DataFrame,
    n: int = 3,
    n_perm: int = N_PERM,
    seed: int = 42,
    shingles: DataFrame | None = None,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """MinHash signatures: per doc, ``min((a_i*h + b_i) mod p)`` over its
    shingle hashes for each of n_perm permutations. The permutation axis
    is an array column (HOF transform), NOT an explode — so the shuffle is
    one row per (doc, shingle), aggregated with ``zip_with``-style
    elementwise min via array aggregate.

    The base shingle hash is the md5-derived ``token_hash32``, which
    DuckDB reproduces bit for bit, so the oracle twins can rebuild the
    same signatures. The LSH output is exact-Jaccard-verified, so the
    base hash moves candidate recall only, never emits a false pair."""
    coeffs = _perm_coeffs(n_perm, seed)
    sh = word_shingles(docs, n=n, carry=carry) if shingles is None else shingles
    base = token_hash32(F.col("shingle")) % F.lit(MERSENNE_P)
    hm = sh.select("doc_id", *carry, base.alias("hm"))
    # n_perm independent MIN aggregates over one base hash column: a single
    # shuffle of (doc_id -> n_perm partial mins), all map-side combined.
    # (The naive alternative — explode the n_perm-wide array — shuffles
    # n_perm x |shingles| rows: measured 27s vs 4s at sf0.1.) The whole
    # agg is ONE SQL expression string — array() wrapped around the 64
    # mins — because composing it from per-coefficient F.lit/F.min
    # Columns costs ~450 py4j round trips (~1.3s driver time per call vs
    # 0.6s; full query 4.7-7.7s -> 3.2-3.7s warm, parity-tested).
    arr = "array(" + ",".join(
        f"min(({a}L * hm + {b}L) % {MERSENNE_P}L)" for a, b in coeffs
    ) + ")"
    # carry cols are functionally dependent on doc_id, so adding them to
    # the grouping key changes nothing about the aggregate's output rows
    return hm.groupBy("doc_id", *carry).agg(F.expr(arr).alias("signature"))


def _banded(
    sig: DataFrame, bands: int, rows_per_band: int, carry: tuple[str, ...] = ()
) -> DataFrame:
    """(doc_id, band, bucket) rows: bucket id = xxhash64 over
    (band-index, raw signature slice) — hashes the long array directly,
    no per-band string concat, no MD5."""
    return sig.select(
        "doc_id",
        *carry,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.xxhash64(
                    b, F.slice(F.col("signature"), b * rows_per_band + 1, rows_per_band)
                ),
            )
        ).alias("band", "bucket"),
    )


def _lsh_candidates(banded: DataFrame) -> DataFrame:
    """Distinct (new_id, dup_of) candidate pairs from (doc_id, is_new,
    band, bucket) rows — the banding back end shared by
    ``minhash_lsh_pairs`` (every doc new) and both forms of
    ``minhash_lsh_incremental``.

    ONE aggregate per (band, bucket) collects the bucket's members: the
    degenerate-bucket cap (identical boilerplate content at scale) is
    the list's size, buckets without a new doc drop out, and pairs are
    exploded from the list. A pair is a new doc plus a bucket mate that
    is either old or an earlier new doc (dup_of < new_id) — first-in-
    batch keeps precedence, ``incremental_dedup``'s keeper rule; with
    every doc new this is the a < b self-join. The banded relation has
    this single consumer: Catalyst has no cross-branch CSE, so a second
    reader (a bucket-size join, a self-join side) would recompute the
    signature aggregate."""
    o, n = F.col("o"), F.col("n")
    return (
        banded.groupBy("band", "bucket")
        .agg(F.collect_list(F.struct("doc_id", "is_new")).alias("m"))
        .where((F.size("m") >= 2) & (F.size("m") <= _BUCKET_CAP))
        .where(F.exists("m", lambda d: d["is_new"]))
        .select(F.explode("m").alias("o"), F.filter("m", lambda d: d["is_new"]).alias("ns"))
        .select("o", F.explode("ns").alias("n"))
        .where((~o["is_new"] | (o["doc_id"] < n["doc_id"])) & (o["doc_id"] != n["doc_id"]))
        .select(n["doc_id"].alias("new_id"), o["doc_id"].alias("dup_of"))
        .distinct()
    )


def _jaccard_verify(
    cands: DataFrame,
    shingles: DataFrame,
    threshold: float,
) -> DataFrame:
    """(new_id, dup_of, jaccard) for the candidate pairs whose exact
    shingle-set Jaccard reaches ``threshold``: |A ∩ B| is the size of
    the two sets' intersection, and pairs sharing no shingle are
    dropped (as an inverted-index join never produces them), so
    ``threshold=0.0`` still emits only overlapping pairs. Same score as
    ``ngram_jaccard_pairs``: round_half_up(common / (|A|+|B|-common), 6).

    Each doc's set is ONE ``collect_set`` over the raw (doc_id,
    shingle) relation ``shingles``; both joins read those sets through
    identical plans, so AQE shares their exchange."""
    sets = shingles.groupBy("doc_id").agg(F.collect_set("shingle").alias("s"))
    sn = sets.select(F.col("doc_id").alias("new_id"), F.col("s").alias("sn"))
    pairs = cands.join(sn, "new_id").join(
        sets.select(F.col("doc_id").alias("dup_of"), F.col("s").alias("so")), "dup_of"
    )
    common = F.size(F.array_intersect("sn", "so"))
    return (
        pairs.select(
            "new_id",
            "dup_of",
            common.alias("common"),
            F.size("sn").alias("sz_n"),
            F.size("so").alias("sz_o"),
        )
        .where(F.col("common") > 0)
        .withColumn(
            "jaccard",
            round_half_up(
                F.col("common") / (F.col("sz_n") + F.col("sz_o") - F.col("common")), 6
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("new_id", "dup_of", "jaccard")
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    n: int = 3,
    n_perm: int = N_PERM,
    bands: int = LSH_BANDS,
    threshold: float = 0.5,
    seed: int = 42,
    verify: bool = True,
    shingles_raw: DataFrame | None = None,
) -> DataFrame:
    """MinHash + LSH banding near-dup candidate pairs, optionally
    verified with exact Jaccard (the scale path: LSH prunes the O(n^2)
    pair space to same-bucket candidates; exact verification then runs
    only on candidates).

    Returns (a, b, jaccard) like ``ngram_jaccard_pairs`` when
    verify=True; (a, b) candidates otherwise.

    One signature aggregate, one bucket aggregate (``_lsh_candidates``)
    and one shingle-set aggregate for the verify (``_jaccard_verify``);
    nothing is cached, so repeated calls leave no storage behind.
    """
    rows_per_band = n_perm // bands
    # Widen a too-narrow doc scan BEFORE tokenize/shingle: the per-row
    # regex+explode work is the hot map stage and a single-row-group
    # fixture file otherwise runs it on one core. Width 8 (not full
    # defaultParallelism) A/B-measured best — full query 9.4s -> 5.5s at
    # sf0.1, while 32-wide was net SLOWER (each extra partition carries
    # its own n_perm x |docs| partial-min state into the combine). No-op
    # at 100TB where scans already carry >= 8 partitions.
    from ..io import widen

    # The shingle relation feeds the signature aggregate and the
    # verify's shingle sets. It is NOT persisted: both branches share the
    # widened scan's exchange, so only the regex tokenization runs twice,
    # and A/B at sf0.1 on a 4-core VM the cached form was no faster (cold
    # 13.2/11.1s vs 11.6/11.5s) while it outlived the call — a returned
    # lazy frame cannot unpersist. Both verify joins read the shingle
    # sets through identical plans, so AQE reuses that exchange; under a
    # cached input it cannot (the cache stage canonicalizes with raw
    # expression ids).
    # ``shingles_raw``: a prebuilt multiset shingle relation a composer
    # (dedup_recall_report) shares with the exact-Jaccard side so the
    # corpus is tokenized once per REPORT, not once per pipeline —
    # value-identical, word_shingles is deterministic per doc. When
    # given, ``docs`` is never touched (no widen — the shared relation
    # carries its own).
    if shingles_raw is None:
        docs = widen(docs, 8)
        sh_raw = word_shingles(docs, n=n, distinct=False)
    else:
        sh_raw = shingles_raw
    sig = minhash_signatures(docs, n=n, n_perm=n_perm, seed=seed, shingles=sh_raw)
    banded = _banded(sig, bands, rows_per_band).withColumn("is_new", F.lit(True))
    cands = _lsh_candidates(banded)
    # with every doc new, dup_of < new_id: (dup_of, new_id) is (a, b)
    ab = (F.col("dup_of").alias("a"), F.col("new_id").alias("b"))
    if not verify:
        return cands.select(*ab)
    return _jaccard_verify(cands, sh_raw, threshold).select(*ab, "jaccard")


def embedding_dedup(
    emb: DataFrame,
    threshold: float = 0.45,
    docs: DataFrame | None = None,
    pair_source: str = "lsh",
) -> DataFrame:
    """Embedding-cosine near-dup: each doc whose embedding is within
    ``threshold`` cosine of a lower-id doc is a duplicate; its keeper is
    the smallest such neighbor (single-link to the representative —
    deterministic without an iterative connected-components pass, which
    Spark would express as a loop of self-joins and is overkill for
    keeper selection).

    Pair generation delegates to ``similarity.lsh_near_pairs`` — the
    sign-LSH bucketed candidate generator (equi-join on (table, bucket),
    never a cartesian), exact-cosine-verified, with the brute-force
    ``embedding_near_pairs`` kept as the recall oracle in tests. The
    keeper reduction below is pair-source-agnostic. Optionally joins
    doc ids back to documents via ``docs``."""
    from .similarity import embedding_near_pairs, lsh_near_pairs

    pairs = (
        lsh_near_pairs(emb, threshold=threshold)
        if pair_source == "lsh"
        else embedding_near_pairs(emb, threshold=threshold)
    )
    out = pairs.groupBy(F.col("b").alias("dup_id")).agg(
        F.min("a").alias("keeper_id"),
        F.max("sim").alias("max_sim"),
        F.count(F.lit(1)).alias("n_neighbors"),
    )
    if docs is not None:
        out = out.join(
            docs.select(F.col("doc_id").alias("dup_id")), "dup_id", "left_semi"
        )
    return out


def connected_components(
    pairs: DataFrame,
    a: str = "a",
    b: str = "b",
    max_iter: int = 20,
    max_driver_edges: int = 5_000_000,
) -> DataFrame:
    """Dedup CLUSTERS from near-dup pairs: transitive closure — each
    node's label converges to the smallest doc_id reachable through any
    chain of near-dup edges, which is the honest keeper semantics
    (A~B, B~C => A,B,C one group even if A!~C directly).

    HYBRID execution, chosen by edge count. Near-dup pair sets are a
    tiny fraction of the corpus (60 pairs at sf0.1; even 1% of 10^10
    docs paired is well under the cap), and below ``max_driver_edges``
    (5M edges ~ 80MB) the distributed loop's cost is pure per-job
    launch overhead — measured 4.3s for the 60-edge sf0.1 graph, ~8
    Spark jobs of scheduling for microseconds of work — so small graphs
    run exact union-find on the driver (bounded by the cap, like the
    IVF centroid collect). Above the cap, iterative min-label
    propagation: per iteration a symmetric edge join + min aggregate
    (two shuffles), iterations bounded by cluster diameter (dedup
    clusters are shallow), each iteration localCheckpointed, early exit
    on convergence. Both paths produce identical labels (min node id
    per component) — pinned against each other and the DuckDB
    recursive-CTE oracle in tests.

    Returns (doc_id, component) for every node appearing in ``pairs``.
    """
    edges = pairs.select(F.col(a).alias("u"), F.col(b).alias("v"))
    edge_rows = None
    if max_driver_edges > 0:
        capped = edges.limit(max_driver_edges + 1).collect()
        if len(capped) <= max_driver_edges:
            edge_rows = capped
    if edge_rows is not None:
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]  # path halving
                x = parent[x]
            return x

        for r in edge_rows:
            ru, rv = find(int(r["u"])), find(int(r["v"]))
            if ru != rv:
                parent[max(ru, rv)] = min(ru, rv)
        comp: dict[int, int] = {}
        for node in parent:
            root = find(node)
            comp[root] = min(comp.get(root, root), node)
        out = [(node, comp[find(node)]) for node in parent]
        return pairs.sparkSession.createDataFrame(
            out, "doc_id long, component long"
        )
    sym = edges.union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint(eager=False)
    labels = (
        sym.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=False)
    )
    for _ in range(max_iter):
        nbr_min = (
            sym.join(
                labels.select(
                    F.col("node").alias("v"), F.col("label").alias("vlabel")
                ),
                "v",
            )
            .groupBy("u")
            .agg(F.min("vlabel").alias("nlabel"))
        )
        new_labels = (
            labels.join(nbr_min.withColumnRenamed("u", "node"), "node", "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint(eager=False)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .where(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("component"))


def dedup_clusters(
    emb: DataFrame,
    threshold: float = 0.45,
    max_iter: int = 20,
    pair_source: str = "lsh",
) -> DataFrame:
    """Embedding near-dup CLUSTERS (transitive): component id = smallest
    doc_id in the cluster (the keeper), one row per clustered doc. The
    single-link ``embedding_dedup`` keeper is the direct-neighbor
    approximation of this. Edges come from the LSH-bucketed pair source
    by default (see ``embedding_dedup``); the closure itself is
    pair-source-agnostic."""
    from .similarity import embedding_near_pairs, lsh_near_pairs

    pairs = (
        lsh_near_pairs(emb, threshold=threshold)
        if pair_source == "lsh"
        else embedding_near_pairs(emb, threshold=threshold)
    )
    return connected_components(pairs, max_iter=max_iter)


def simhash(docs: DataFrame, text: str = "text") -> DataFrame:
    """32-bit SimHash fingerprint per document.

    Per token, a 32-bit md5-derived hash votes +1/-1 on each bit position;
    bit i of the fingerprint is 1 iff the summed vote is >= 0. Token
    multiplicity counts (standard SimHash). The (doc, bit) aggregate runs
    with map-side partial aggregation, so the 32x bit expansion never
    crosses the shuffle at full width. The doc scan is widened to 8
    partitions before the tokenize+explode map stage (1.0s -> 0.48s at
    sf0.1; no-op on real multi-partition scans).
    """
    from ..io import widen

    docs = widen(docs, 8)
    toks = docs.select(
        "doc_id", F.explode(tokens(normalized_text(text))).alias("tok")
    ).select("doc_id", token_hash32(F.col("tok")).alias("h"))
    bits = toks.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(31))).alias("i"),
        "h",
    ).select(
        "doc_id",
        "i",
        F.when(F.expr("(h >> i) & 1") == 1, 1).otherwise(-1).alias("vote"),
    )
    return (
        bits.groupBy("doc_id", "i")
        .agg(F.sum("vote").alias("s"))
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.when(F.col("s") >= 0, F.expr("CAST(1 AS BIGINT) << i")).otherwise(
                    F.lit(0).cast("long")
                )
            ).alias("simhash")
        )
    )


def simhash_near_pairs(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= max_hamming, found
    via the standard block-permutation trick: split the 32-bit key into
    (max_hamming+1) blocks; any pair within distance max_hamming agrees
    on at least one block -> join on (block_idx, block_value), then
    verify exact Hamming via bit_count(xor)."""
    n_blocks = max_hamming + 1
    block_bits = 32 // n_blocks
    sh = simhash(docs)
    blocks = sh.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), b * block_bits).bitwiseAND(
                        F.lit((1 << block_bits) - 1)
                    )
                    for b in range(n_blocks)
                ]
            )
        ).alias("blk", "blkval"),
    )
    left = blocks.select("blk", "blkval", F.col("doc_id").alias("a"), F.col("simhash").alias("sh_a"))
    right = blocks.select("blk", "blkval", F.col("doc_id").alias("b"), F.col("simhash").alias("sh_b"))
    return (
        left.join(right, ["blk", "blkval"])
        .where(F.col("a") < F.col("b"))
        .select(
            "a",
            "b",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


def dedup_canonical(
    emb: DataFrame,
    threshold: float = 0.45,
    max_iter: int = 20,
    pair_source: str = "lsh",
) -> DataFrame:
    """The materialization a pipeline actually runs after clustering:
    one canonical keeper per transitive near-dup cluster (smallest id),
    singletons kept as their own cluster of one. Output is the retained
    corpus roster: (component=keeper id, n_members).

    Plan: cluster labels from ``dedup_clusters`` left-join back onto the
    full roster (clustered docs are the rare side; the join shuffles
    keys only), coalesce unlabeled docs to themselves, then a
    |components|-sized count. Downstream, joining this on component ==
    doc_id against the corpus IS the dedup filter — no row comparisons
    at read time, the expensive transitive closure was paid once."""
    clusters = dedup_clusters(
        emb, threshold=threshold, max_iter=max_iter, pair_source=pair_source
    )
    roster = emb.select(F.col("vec_id").alias("doc_id"))
    labeled = roster.join(clusters, on="doc_id", how="left").select(
        "doc_id", F.coalesce("component", F.col("doc_id")).alias("component")
    )
    return labeled.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_members")
    )


def incremental_dedup(new_docs: DataFrame, corpus: DataFrame) -> DataFrame:
    """Incremental exact dedup: admit only new-batch documents whose
    normalized content is (a) unseen in the existing corpus and (b)
    unique within the batch (keeper = min doc_id).

    The production shape for a growing 100TB corpus: the corpus side is
    a precomputed hash index (just the md5 column, stored
    bucketed-by-hash so reruns skip its shuffle), NOT a rescan of the
    corpus text. Batch-internal dedup is a groupBy on the hash; the
    corpus check is a LEFT ANTI join on the same key, so both ride ONE
    hash partitioning. The anti join admits a hash exactly when absent
    from the index — no window, no distinct-then-join."""
    corpus_hashes = corpus.select(content_hash().alias("content_md5")).distinct()
    batch_unique = (
        new_docs.select(
            "doc_id", "source", content_hash().alias("content_md5")
        )
        .groupBy("content_md5")
        .agg(
            F.min("doc_id").alias("keeper_id"),
            F.min_by("source", "doc_id").alias("source"),
            F.count(F.lit(1)).alias("n_batch_copies"),
        )
    )
    return batch_unique.join(corpus_hashes, "content_md5", "left_anti")


def minhash_lsh_incremental(
    new_docs: DataFrame,
    corpus: DataFrame,
    n: int = 3,
    n_perm: int = N_PERM,
    bands: int = LSH_BANDS,
    threshold: float = 0.5,
    seed: int = 42,
) -> DataFrame:
    """Incremental NEAR-dup: the new-crawl-vs-existing-corpus form of
    ``minhash_lsh_pairs`` — the production shape for a growing 100TB
    corpus, where re-running the full-corpus self-join per ingest batch
    is the classic scale mistake. Returns (new_id, dup_of, jaccard):
    for each new-batch doc, every exact-Jaccard-verified near-match
    against (a) the corpus and (b) EARLIER new-batch docs
    (dup_of < new_id — first-in-batch keeps precedence, mirroring
    ``incremental_dedup``'s keeper rule).

    Shares its banding and verify with ``minhash_lsh_pairs``
    (``_lsh_candidates``, ``_jaccard_verify``): banded rows carry an
    ``is_new`` flag, the one bucket aggregate keeps only buckets that
    hold a new doc, and pairs are emitted only for new docs — candidate
    volume scales with |batch|, not |corpus|^2. The degenerate-bucket
    cap counts every member of a kept bucket, so it equals the
    full-corpus cap restricted to the batch's buckets.

    Both sides must be signed, so this computes ONE shingle pass + ONE
    signature aggregate over the tagged union (``carry=('is_new',)``
    threads the membership flag through explode/groupBy — no
    |docs|-sized join back); the verify's shingle sets come from that
    same shingle pass.
    """
    from ..io import widen

    rows_per_band = n_perm // bands
    tagged = widen(new_docs, 8).withColumn("is_new", F.lit(True)).unionByName(
        widen(corpus, 8).withColumn("is_new", F.lit(False))
    )
    # feeds the signature aggregate and the verify's shingle sets,
    # uncached for the reasons given in minhash_lsh_pairs
    sh = word_shingles(tagged, n=n, distinct=False, carry=("is_new",))
    sig = minhash_signatures(
        tagged,
        n=n,
        n_perm=n_perm,
        seed=seed,
        shingles=sh,
        carry=("is_new",),
    )
    cands = _lsh_candidates(_banded(sig, bands, rows_per_band, carry=("is_new",)))
    return _jaccard_verify(cands, sh, threshold)


def duplicate_substring_spans(
    docs: DataFrame,
    k: int = 20,
    min_span: int = 40,
    text: str = "text",
) -> DataFrame:
    """Corpus-level duplicate-SUBSTRING detection (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): for
    every document, the maximal character spans all of whose length-k
    windows occur at least twice in the corpus (in another document, or
    at another offset of the same one). Doc-level dedup (exact/MinHash)
    misses the quoted paragraph or nav-bar template inside otherwise-
    unique pages; this is the operator that finds those.

    The reference algorithm builds a suffix array over the concatenated
    corpus — inherently single-machine. The Spark-first equivalent is an
    inverted index over OVERLAPPING char k-grams:

      1. one lookahead-regex pass (``(?=(.{k})).``) emits every k-gram
         in offset order, so ``posexplode`` index == start offset —
         no per-char HOF string building (the interpreted-transform
         trap measured in word_shingles applies verbatim);
      2. one keyed shuffle counts occurrences per gram (map-side
         partial agg absorbs within-partition duplicates);
      3. offsets of grams with count >= 2 come back via a left-semi
         join riding the same gram hash — never wider than the gram
         relation itself (build side is one row per gram, so a hot
         gram cannot blow the join up);
      4. per doc, consecutive duplicated offsets merge into maximal
         spans by run-grouping (offset - row_number is constant within
         a run): one doc-keyed window + groupBy.

    A span of length k+r-1 arises from r consecutive duplicated
    offsets; ``min_span`` filters the merged result. Offsets are
    0-based into the NORMALIZED text (lowercased, whitespace collapsed
    to single spaces) — the span text is re-derived by substring at the
    end, one doc_id-keyed join.

    At 100TB: rows = total corpus chars, the same order as the shingle
    relations the MinHash path already shuffles; to cut constants,
    stride the outer scan (emit every s-th offset, s <= min_span-k+1,
    then re-scan only flagged docs at stride 1) — semantics preserved
    because any qualifying span contains a strided hit. Stride 1 here:
    the fixtures are small and the oracle checks the exact form.
    """
    from ..io import widen

    nt = F.regexp_replace(normalized_text(text), r"\s+", " ")
    grams = F.regexp_extract_all(nt, F.lit(rf"(?=(.{{{k}}}))."), 1)
    g = (
        widen(docs, 8)
        .select("doc_id", F.posexplode(grams).alias("pos", "gram"))
    )
    dup = (
        g.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= 2)
        .select("gram")
    )
    hits = g.join(dup, "gram", "left_semi")
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("pos")
    runs = hits.withColumn("grp", F.col("pos") - F.row_number().over(w))
    spans = (
        runs.groupBy("doc_id", "grp")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") - F.min("pos") + k).alias("span_len"),
        )
        .where(F.col("span_len") >= min_span)
    )
    return spans.join(
        docs.select("doc_id", nt.alias("__nt")), "doc_id"
    ).select(
        "doc_id",
        "span_start",
        "span_len",
        F.substring(
            F.col("__nt"), F.col("span_start") + 1, F.col("span_len")
        ).alias("span_text"),
    )


def scrub_duplicate_spans(
    docs: DataFrame,
    k: int = 20,
    min_span: int = 40,
    text: str = "text",
) -> DataFrame:
    """Duplicate-substring REMOVAL (the rewrite half of Lee et al.
    2022): every doc comes back with the corpus-duplicated spans cut
    out of its normalized text, plus removal telemetry. The span
    *report* (``duplicate_substring_spans``) tells you where the
    boilerplate is; this operator is the one a training-data pipeline
    actually runs — C4-style template scrubbing, but corpus-global
    rather than per-page heuristics. Reference scope: the reference
    engine has no text surface (core is util/knobs/mapper/reducer Go
    loops); this extends the demanded LLM-pipeline family.

    Plan: reuses the span machinery (one corpus-char-order shuffle for
    the k-gram inverted index), then everything else is doc-keyed and
    small:

      1. spans from ``duplicate_substring_spans`` (>= min_span);
      2. char-interval MERGE per doc — two runs of duplicated offsets
         separated by one clean offset still overlap in char space for
         k >= 3, so a running-max-end window groups overlapping
         [start, end) intervals (start > max(prior ends) opens a
         group);
      3. kept segments are the gaps between merged spans plus the tail
         (lag(end) default 0 -> [prev_end, start)); the scrubbed text
         is the order-preserving concat of segment substrings — a
         sort_array over the per-doc segment structs, never a window
         over corpus chars;
      4. docs with no qualifying span pass through with the normalized
         text and zero counters (left join on the span relation).

    At 100TB the added cost over the span report is one groupBy(doc)
    over span rows (tiny: only flagged docs) — the k-gram index shuffle
    dominates, exactly as in the report form. Output is deterministic:
    merged spans are disjoint, segments reassemble by start offset."""
    from pyspark.sql import Window

    nt = F.regexp_replace(normalized_text(text), r"\s+", " ")
    base = docs.select("doc_id", nt.alias("__nt"))
    spans = duplicate_substring_spans(docs, k=k, min_span=min_span, text=text)

    w = Window.partitionBy("doc_id").orderBy("span_start")
    prev_max_end = F.max(F.col("span_start") + F.col("span_len")).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    opens = F.when(
        prev_max_end.isNull() | (F.col("span_start") > prev_max_end), 1
    ).otherwise(0)
    merged = (
        spans.withColumn(
            "grp",
            F.sum(opens).over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("doc_id", "grp")
        .agg(
            F.min("span_start").alias("mstart"),
            F.max(F.col("span_start") + F.col("span_len")).alias("mend"),
        )
        # merged spans are tiny (flagged docs only) but feed TWO
        # consumers (gaps + per_doc): without the checkpoint the whole
        # k-gram span pipeline replays per branch (r7 solo profile:
        # scrub 3.0s warm vs the span report's 1.5s — the delta was
        # exactly one replay; 3.0 -> ~2.1s with the boundary)
        .localCheckpoint(eager=False)
    )
    wm = Window.partitionBy("doc_id").orderBy("mstart")
    gaps = merged.select(
        "doc_id",
        F.coalesce(F.lag("mend").over(wm), F.lit(0)).alias("seg_start"),
        F.col("mstart").alias("seg_end"),
    )
    per_doc = merged.groupBy("doc_id").agg(
        F.max("mend").alias("tail_start"),
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.col("mend") - F.col("mstart")).alias("chars_removed"),
    )
    tails = per_doc.join(base, "doc_id").select(
        "doc_id",
        F.col("tail_start").alias("seg_start"),
        F.length("__nt").cast("long").alias("seg_end"),
    )
    segs = (
        gaps.unionByName(tails)
        .where(F.col("seg_end") > F.col("seg_start"))
        .join(base, "doc_id")
        .select(
            "doc_id",
            F.struct(
                F.col("seg_start"),
                F.substring(
                    F.col("__nt"),
                    (F.col("seg_start") + 1).cast("int"),
                    (F.col("seg_end") - F.col("seg_start")).cast("int"),
                ).alias("seg"),
            ).alias("s"),
        )
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("s")), lambda x: x["seg"]
                ),
                "",
            ).alias("__scrubbed")
        )
    )
    return (
        base.join(per_doc, "doc_id", "left")
        .join(segs, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("n_spans").isNotNull(), F.coalesce("__scrubbed", F.lit("")))
            .otherwise(F.col("__nt"))
            .alias("clean_text"),
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("chars_removed", F.lit(0))
            .cast("long")
            .alias("chars_removed"),
        )
    )


_WINNOW_POS = 1 << 20  # max normalized doc length the pos encoding admits
_WINNOW_ENC = 1 << 21


def winnow_fingerprints(
    docs: DataFrame, k: int = 8, w: int = 16, text: str = "text"
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken 2003,
    the MOSS algorithm): hash every overlapping char k-gram, slide a
    w-wide window over the hash sequence, and select each window's
    minimum (rightmost position on hash ties). Guarantee: any shared
    substring of length >= w + k - 1 between two documents yields at
    least one shared selected fingerprint — the density/recall contract
    plain "every n-th hash" sampling cannot give.

    All integer, exactly mirrored in SQL: the 32-bit gram hash is the
    shared-with-DuckDB md5 prefix; (hash, rightmost-pos) tie-break is
    encoded into ONE int64 key ``h * 2^21 + (2^20 - pos)`` so the
    window MIN picks min-hash-then-max-pos in a single orderable value
    (struct-min is not portable across engines). Positions must stay
    under 2^20 for the encoding to be order-correct, so the normalized
    text is HARD-TRUNCATED to 2^20 + k - 1 chars before gram extraction
    — an over-length doc degrades predictably (fingerprints cover its
    first ~1M chars) instead of silently corrupting keys with negative
    position offsets. Chunk first (``textops.chunk_documents``) when
    full coverage of longer docs matters, which a 100TB pipeline does
    anyway.

    Plan shape: one corpus-char-order generate (the lookahead-regex
    k-gram pass, same as the duplicate-span family), one doc-keyed
    window, one distinct — no corpus-wide shuffle beyond the distinct
    on (doc, selected-key), which is fingerprint-sized (~2/(w+1)
    density), not gram-sized. Docs with fewer than w + k - 1 chars
    have no complete window and yield no fingerprints (documented
    contract; lower w for short-doc corpora)."""
    from pyspark.sql import Window

    from ..io import widen

    # cap at 2^20 + k - 1 chars so every gram position fits the int64
    # (hash, 2^20 - pos) encoding — see docstring
    nt = F.substring(
        F.regexp_replace(normalized_text(text), r"\s+", " "),
        1,
        _WINNOW_POS + k - 1,
    )
    # materialize the normalized text ONCE per doc before the explode:
    # an `ng` expression referencing `nt` directly would land in the
    # Project AFTER the Generate and re-run lower()+regexp_replace over
    # the full document for EVERY exploded gram row — O(len^2) per doc
    # (a 1M-char doc turns into ~10^12 char ops). Two stacked selects
    # keep `__nt` an attribute (CollapseProject won't re-inline a
    # non-cheap expression referenced twice), so the Generate carries
    # plain attributes only.
    base = widen(docs, 8).select("doc_id", nt.alias("__nt"))
    g = base.select(
        "doc_id",
        F.regexp_extract_all("__nt", F.lit(rf"(?=(.{{{k}}}))."), 1).alias(
            "__grams"
        ),
        (F.length("__nt") - k + 1).alias("ng"),
    ).select("doc_id", "ng", F.posexplode("__grams").alias("pos", "gram"))
    h = F.conv(
        F.substring(F.md5(F.col("gram").cast("binary")), 1, 8), 16, 10
    ).cast("long")
    keys = g.select(
        "doc_id",
        "pos",
        "ng",
        (h * F.lit(_WINNOW_ENC) + (F.lit(_WINNOW_POS) - F.col("pos"))).alias(
            "key"
        ),
    )
    win = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, w - 1)
    sel = (
        keys.withColumn("wkey", F.min("key").over(win))
        .where(F.col("pos") <= F.col("ng") - w)
        .select("doc_id", "wkey")
        .distinct()
    )
    return sel.select(
        "doc_id",
        (F.lit(_WINNOW_POS) - F.col("wkey") % F.lit(_WINNOW_ENC)).alias(
            "fp_pos"
        ),
        F.expr(f"wkey div {_WINNOW_ENC}").alias("fp_hash"),
    )


def winnow_pairs(
    docs: DataFrame,
    k: int = 16,
    w: int = 16,
    min_shared: int = 3,
    max_df: int = 20,
    text: str = "text",
) -> DataFrame:
    """Document-pair matching over winnowing fingerprints — the MOSS
    similarity report: pairs sharing >= min_shared distinct selected
    hashes, with the shared count. The inverted-index join rides the
    fingerprint hash; hashes selected in more than ``max_df`` docs are
    dropped first (the stopword-gram guard every inverted-index pair
    source in this module carries), so one boilerplate gram cannot
    quadratically explode a bucket. Fingerprint relation is
    ~2/(w+1) of gram volume, so the join input is a small fraction of
    what the MinHash path already shuffles."""
    # the fingerprint relation is consumed 4x (df filter, both join
    # sides) and Catalyst has no cross-branch CSE (attribute ids differ
    # per branch, so even ReusedExchange can't kick in) — one lazy
    # localCheckpoint truncates the lineage so the gram pass + winnow
    # window run ONCE (measured 5.0s -> ~2s warm at sf0.1)
    fp = (
        winnow_fingerprints(docs, k=k, w=w, text=text)
        .select("doc_id", "fp_hash")
        .distinct()
        .localCheckpoint(eager=False)
    )
    rare = (
        fp.groupBy("fp_hash")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") <= max_df)
        .select("fp_hash")
    )
    fpr = fp.join(rare, "fp_hash", "left_semi")
    a = fpr.select(F.col("doc_id").alias("a"), "fp_hash")
    b = fpr.select(F.col("doc_id").alias("b"), "fp_hash")
    return (
        a.join(b, "fp_hash")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def dedup_recall_report(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Dedup-quality evaluation IN the engine: MinHash-LSH near-dup
    pairs scored against the exact n-gram-Jaccard ground truth — one
    row of (n_exact, n_approx, n_matched, precision, recall). The
    companion to ``similarity.ann_recall_report``: the report that
    sizes the LSH banding (b, r) for a corpus before a 100TB dedup
    run, computed on a sample exactly as production recall monitoring
    does.

    By construction precision is 1.0 whenever the LSH path's
    exact-Jaccard verify is on (candidates that fail the threshold are
    dropped), so the informative number is RECALL — the banding miss
    rate. All counts are integers; the two ratios are single
    divisions — exactly oracle-able."""
    from pyspark.sql.functions import broadcast

    from ..functions.text import round_half_up
    from ..io import widen

    # ONE shingle pass for the whole report (optimization r10, guide
    # §2.4 — VERDICT r9 #4): the exact n-gram side and the MinHash-LSH
    # side each built their OWN tokenize+explode chain (one distinct,
    # one raw) over the same corpus. Share the raw multiset
    # (checkpointed — feeds the LSH signature aggregate and shingle
    # sets, and is the source of the distinct set the exact inverted
    # index checkpoints). Value-identical: word_shingles is deterministic
    # per doc and min-over-multiset == min-over-set for the signatures.
    docs_w = widen(docs, 8)
    sh_raw = word_shingles(docs_w, n=n, distinct=False).localCheckpoint(
        eager=False
    )
    sh_dist = sh_raw.distinct().localCheckpoint(eager=False)
    # each pair relation feeds TWO consumers (its own count + the
    # matched join) and Catalyst has no cross-branch CSE — without a
    # checkpoint the whole inverted-index pair pipeline (the expensive
    # exact n-gram pass especially) replays once per consumer
    # (guide §2.4: remove the duplicated pass outright; measured
    # 8.4s -> ~5s warm at sf0.1). Both relations are |pairs|-bounded.
    exact = (
        ngram_jaccard_pairs(docs, n=n, threshold=threshold, shingles=sh_dist)
        .select("a", "b")
        .localCheckpoint(eager=False)
    )
    approx = (
        minhash_lsh_pairs(docs, n=n, threshold=threshold, shingles_raw=sh_raw)
        .select("a", "b")
        .localCheckpoint(eager=False)
    )
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    n_approx = approx.agg(F.count(F.lit(1)).alias("n_approx"))
    n_matched = (
        approx.join(exact, ["a", "b"]).agg(F.count(F.lit(1)).alias("n_matched"))
    )
    z = F.col
    return (
        n_exact.crossJoin(broadcast(n_approx))
        .crossJoin(broadcast(n_matched))
        .select(
            "n_exact",
            "n_approx",
            "n_matched",
            round_half_up(z("n_matched") / z("n_approx"), 6).alias("precision"),
            round_half_up(z("n_matched") / z("n_exact"), 6).alias("recall"),
        )
    )


def dedup_rate_by_source(docs: DataFrame) -> DataFrame:
    """Dedup telemetry: per source, document count, distinct-content
    count, and the duplication ratio — the report that tells a corpus
    owner WHERE the copies come from before any dedup run commits
    (a mirror-heavy source shows up immediately). One pass: the
    content hash is computed map-side, then a single per-source
    aggregate with an exact distinct (swap for HLL at 100TB, the
    profile_table discipline)."""
    from ..functions.text import round_half_up

    return (
        docs.select("source", content_hash().alias("h"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("h").alias("n_unique"),
        )
        .select(
            "source",
            "n_docs",
            "n_unique",
            round_half_up(
                (F.col("n_docs") - F.col("n_unique")) / F.col("n_docs"), 6
            ).alias("dup_ratio"),
        )
    )


def containment_pairs(
    docs: DataFrame, n: int = 3, threshold: float = 0.8
) -> DataFrame:
    """ASYMMETRIC near-dup: shingle containment ``|A∩B| / min(|A|,|B|)``
    — catches a short document embedded inside a long one (quoted
    posts, boilerplate wrappers, article+comments pages), which
    symmetric Jaccard misses because the union is dominated by the
    long side. The containment-vs-jaccard gap IS the signal: high
    containment + low jaccard = subset duplicate, the case a training-
    data pipeline keeps ONE of, not both.

    Same inverted-index shape (and max_df skew cap) as
    ngram_jaccard_pairs — shuffle on shingle, pairs only for docs
    sharing one, never a cross product."""
    # checkpoint the distinct shingle relation (optimization r10, guide
    # §2.4): it feeds the df rollup AND the filtered join, whose three
    # consumers (sizes, a, b) otherwise replay the tokenize+explode+
    # distinct chain 4x — the same discipline ngram_jaccard_pairs
    # already carries
    sh = word_shingles(docs, n=n).localCheckpoint(eager=False)
    max_df = 1000
    keep = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") <= max_df)
    )
    sh_f = sh.join(keep.select("shingle"), "shingle")
    sizes = sh_f.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh_f.select(F.col("doc_id").alias("a"), "shingle")
    b = sh_f.select(F.col("doc_id").alias("b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.withColumnRenamed("doc_id", "a").withColumnRenamed("sz", "sz_a")
    sb = sizes.withColumnRenamed("doc_id", "b").withColumnRenamed("sz", "sz_b")
    return (
        inter.join(sa, "a")
        .join(sb, "b")
        .select(
            "a",
            "b",
            round_half_up(
                F.col("common") / F.least(F.col("sz_a"), F.col("sz_b")), 6
            ).alias("containment"),
            round_half_up(
                F.col("common")
                / (F.col("sz_a") + F.col("sz_b") - F.col("common")),
                6,
            ).alias("jaccard"),
        )
        .where(F.col("containment") >= threshold)
    )


def tf_cosine_pairs(
    docs: DataFrame, threshold: float = 0.8, max_df: int = 1000
) -> DataFrame:
    """Bag-of-words COSINE similar pairs over raw term frequencies —
    the third lexical-similarity geometry next to Jaccard (set) and
    containment (subset): cosine rewards repeated shared vocabulary
    even when the sets differ, the right notion for template-y docs.

    Exactness: tf vectors are INTEGER, so the shared-term dot product
    and the norms are order-free BIGINT sums; the cosine is one
    mirrored ``dot/(sqrt(na2)*sqrt(nb2))`` (IEEE sqrt is correctly
    rounded in both engines). Same inverted-index shape as
    ngram_jaccard_pairs — pairs only materialize for docs sharing a
    term, with the same ``max_df`` stop-term skew cap, applied
    CONSISTENTLY to dots and norms (cosine of the filtered vectors)."""
    from ..functions.text import tokens as _toks

    # checkpoint the tf relation (optimization r10, guide §2.4): it feeds
    # the df rollup AND the filtered join, whose three consumers
    # (norms, a, b) otherwise replay the tokenize+explode+aggregate
    # chain — the containment_pairs/ngram_jaccard_pairs discipline
    tf = (
        docs.select(
            "doc_id", F.explode(_toks(normalized_text())).alias("term")
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )
    keep = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") <= max_df)
        .select("term")
    )
    tf_f = tf.join(keep, "term")
    norms = tf_f.groupBy("doc_id").agg(
        F.sum(F.col("tf") * F.col("tf")).alias("n2")
    )
    a = tf_f.select(F.col("doc_id").alias("a"), "term", F.col("tf").alias("tfa"))
    b = tf_f.select(F.col("doc_id").alias("b"), "term", F.col("tf").alias("tfb"))
    dots = (
        a.join(b, "term")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.sum(F.col("tfa") * F.col("tfb")).alias("dot"))
    )
    na = norms.withColumnRenamed("doc_id", "a").withColumnRenamed("n2", "na2")
    nb = norms.withColumnRenamed("doc_id", "b").withColumnRenamed("n2", "nb2")
    cos = F.col("dot").cast("double") / (
        F.sqrt(F.col("na2").cast("double"))
        * F.sqrt(F.col("nb2").cast("double"))
    )
    return (
        dots.join(na, "a")
        .join(nb, "b")
        .select("a", "b", round_half_up(cos, 6).alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )


def leakproof_split(
    docs: DataFrame,
    threshold: float = 0.5,
    test_pct: int = 10,
    val_pct: int = 10,
) -> DataFrame:
    """Contamination-safe train/val/test assignment: split by NEAR-DUP
    CLUSTER, not by document — near-duplicates of a test document in
    the training set are soft leakage that a doc-keyed split can't
    prevent (sampling.train_val_test_split keys on doc_id and keeps
    eval sets stable, but two near-identical docs can straddle the
    boundary). Here every MinHash-LSH component rides ONE hash, so a
    whole duplicate cluster lands in one split by construction.

    Deterministic end-to-end: md5-portable MinHash pairs -> min-label
    components (singletons = own id) -> the same md5 bucket thresholds
    as split_counts, keyed on the component. The oracle recomputes the
    closure with a recursive CTE over the validated pair oracle."""
    from .sampling import hash_bucket

    pairs = minhash_lsh_pairs(docs, n=3, threshold=threshold)
    comp = connected_components(pairs)
    assigned = (
        docs.select("doc_id")
        .join(
            comp.select(
                F.col("doc_id").alias("doc_id"),
                F.col("component").alias("component"),
            ),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).alias("component"),
        )
    )
    b = hash_bucket("component")
    return assigned.select(
        "doc_id",
        "component",
        F.when(b < test_pct, F.lit("test"))
        .when(b < test_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("train"))
        .alias("split"),
    )


def cross_source_dups(docs: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Provenance-aware dedup audit: NEAR-duplicate pairs whose two
    copies come from DIFFERENT sources — the 'same page mirrored /
    syndicated article / template reshared' signal that per-source
    dedup never sees and that silently double-weights content in a
    source-balanced mix. (Exact cross-source copies are the degenerate
    case and surface here too at jaccard 1.0.)

    Rides the validated MinHash-LSH pair source (``minhash_lsh_pairs``
    with the md5-portable hash, so the whole table value-hashes); the
    only additions are two broadcast-friendly doc_id->source
    decorations and the inequality filter. Output bounded by the
    near-dup pair count."""
    pairs = minhash_lsh_pairs(docs, threshold=threshold)
    src = docs.select("doc_id", "source")
    return (
        pairs.join(
            src.select(
                F.col("doc_id").alias("a"), F.col("source").alias("source_a")
            ),
            "a",
        )
        .join(
            src.select(
                F.col("doc_id").alias("b"), F.col("source").alias("source_b")
            ),
            "b",
        )
        .where(F.col("source_a") != F.col("source_b"))
        .select("a", "b", "source_a", "source_b", "jaccard")
    )


def quality_keeper(docs: DataFrame) -> DataFrame:
    """Quality-aware exact dedup: like ``exact_dedup`` but the keeper
    per content group is the HIGHEST-quality copy (tie -> lowest
    doc_id), not blindly the lowest id — the curation-grade retention
    rule (duplicate groups often span a clean original and a
    boilerplate-wrapped mirror; keep the clean one). Quality is the
    scaled 4-dp integer ``floor(q*1e4 + 0.5)`` (corpus_card's formula),
    so the argmax is an integer comparison and the whole table
    value-hashes. One md5-keyed window; emits the retained corpus with
    group audit columns."""
    from pyspark.sql import Window

    from ..functions import text as TT

    c = F.col("text")
    scored = docs.select(
        "doc_id",
        "source",
        content_hash().alias("content_md5"),
        F.floor(TT.quality_score(c, TT.tokens(c)) * 1e4 + F.lit(0.5))
        .cast("long")
        .alias("q4"),
    )
    w = Window.partitionBy("content_md5").orderBy(
        F.desc("q4"), F.asc("doc_id")
    )
    wn = Window.partitionBy("content_md5")
    return (
        scored.select(
            "doc_id",
            "source",
            "content_md5",
            "q4",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(wn).alias("n_copies"),
        )
        .where(F.col("rn") == 1)
        .select("doc_id", "source", "content_md5", "q4", "n_copies")
    )


def edit_verify_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    max_rel_edit: float = 0.4,
    max_len: int = 2000,
) -> DataFrame:
    """Edit-distance verification of near-dup candidates: every
    MinHash-LSH candidate pair re-scored with character Levenshtein
    over an ASCII-normalized prefix, emitting the distance, the
    length-relative distance and an ``is_dup`` verdict — the
    second-opinion verifier for the shingle-based pipeline (Jaccard is
    order-insensitive; edit distance catches reshuffled-paragraph
    false "duplicates" that bag-of-shingles scoring cannot). Candidate
    generation stays the validated bucketed LSH source
    (``minhash_lsh_pairs``), so the quadratic-per-pair DP runs only on
    the bounded candidate set, and ``max_len`` caps each DP at
    O(max_len^2) regardless of document size (dominant-prefix
    verification, documented contract).

    Cross-engine discipline: Spark's levenshtein counts CODE POINTS,
    DuckDB's counts BYTES — they diverge on any non-ASCII character
    (measured: 'café' vs 'cafe' = 1 vs 2). The comparison string is
    therefore normalized to [a-z0-9 ] (lower -> strip non-alnum ->
    collapse spaces -> trim -> prefix), where bytes == code points
    and the two engines agree exactly; DuckDB mirrors with the same
    regexes under the 'g' flag. Division happens once per pair under
    round_half_up; the both-empty edge pins rel_edit = 0 (a dup)
    instead of 0/0."""
    from ..functions.text import round_half_up

    cmp = docs.select(
        "doc_id",
        F.substring(
            F.trim(
                F.regexp_replace(
                    F.regexp_replace(
                        F.lower(F.col("text")), "[^a-z0-9 ]", ""
                    ),
                    " +",
                    " ",
                )
            ),
            1,
            max_len,
        ).alias("cmp_text"),
    )
    pairs = minhash_lsh_pairs(docs, threshold=threshold)
    scored = (
        pairs.join(
            cmp.select(
                F.col("doc_id").alias("a"), F.col("cmp_text").alias("ta")
            ),
            "a",
        )
        .join(
            cmp.select(
                F.col("doc_id").alias("b"), F.col("cmp_text").alias("tb")
            ),
            "b",
        )
        .select(
            "a",
            "b",
            "jaccard",
            F.length("ta").alias("len_a"),
            F.length("tb").alias("len_b"),
            F.levenshtein("ta", "tb").alias("edit_dist"),
        )
        .withColumn(
            "rel_edit",
            F.when(
                F.greatest("len_a", "len_b") == 0, F.lit(0.0)
            ).otherwise(
                round_half_up(
                    F.col("edit_dist") / F.greatest("len_a", "len_b"), 6
                )
            ),
        )
        .withColumn("is_dup", F.col("rel_edit") <= F.lit(max_rel_edit))
    )
    return scored


def ngram_novelty(docs: DataFrame, n: int = 3) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a doc's distinct
    word n-grams whose FIRST corpus occurrence (min doc_id) is this
    doc — the memorization/repetition signal a training-data mix
    reads per document where ``cross_doc_repetition`` reads it per
    gram: novelty ~ 1 is fresh text, novelty ~ 0 is a doc assembled
    entirely from phrases the corpus already contains (boilerplate,
    near-copies the pairwise dedup family scores only against single
    partners).

    Exactness: all counts are BIGINTs off the distinct (doc, shingle)
    relation (``word_shingles``, the LSH family's exact shingle
    definition); the ratio ships as integer parts-per-million
    (1e6 * novel // grams) — no float anywhere.

    Scale: one shuffle keyed by shingle for the min-doc firsts
    (map-side combinable), one |docs|-keyed count join back. The
    first-occurrence relation is exactly the incremental-dedup
    keeper scan, reused as a per-doc statistic."""
    sh = word_shingles(docs, n=n, distinct=True)
    grams = sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_grams")
    )
    novel = (
        sh.groupBy("shingle")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_novel"))
    )
    return (
        grams.join(novel, "doc_id", "left")
        .withColumn("n_novel", F.coalesce("n_novel", F.lit(0).cast("long")))
        .select(
            "doc_id",
            "n_grams",
            "n_novel",
            F.expr("1000000 * n_novel div n_grams")
            .cast("long")
            .alias("novelty_ppm"),
        )
    )
