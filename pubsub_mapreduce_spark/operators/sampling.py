"""Deterministic sampling and dataset splits for the training-data
pipeline: hash-mod sampling, not ``df.sample``.

``df.sample`` draws from a per-partition RNG, so the sample changes with
the partitioning, the Spark version, and every rerun — useless for
reproducible corpus curation at 100TB, where the sample membership must
be (a) stable across reruns/engines and (b) a pure per-row function so
it costs a scan, no shuffle and no coordination. Keying on a stable id
hash gives both: the same document lands in the same bucket on any
engine, any partitioning, any scale. (Same construction as the
reference's fixed knob-id -> array-slot routing, util/util.go:10 —
identity-determined placement, generalized to a hash.)

The hash is the shared-with-DuckDB md5 trick (functions.text
token_hash32): first 8 hex chars of md5, parsed as int — deterministic,
uniform enough for percentage buckets, and expressible in ANSI SQL for
the oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

N_BUCKETS = 100


def hash_bucket(key: Column | str, n_buckets: int = N_BUCKETS) -> Column:
    """Stable bucket in [0, n_buckets) from a key column: first 8 hex
    chars of md5(key-as-string), mod n. Pure projection — codegen'd,
    shuffle-free, engine-independent."""
    c = key if isinstance(key, Column) else F.col(key)
    h = F.conv(F.substring(F.md5(c.cast("string").cast("binary")), 1, 8), 16, 10)
    return (h.cast("long") % n_buckets).alias("bucket")


def sample_pct(df: DataFrame, key: str, pct: int) -> DataFrame:
    """Keep rows whose hash bucket < pct — a deterministic ~pct% sample.
    Membership is a pure function of the key: reruns, repartitions, and
    other engines agree row-for-row (unlike ``df.sample``)."""
    return df.where(hash_bucket(key) < pct)


def train_val_test_split(
    df: DataFrame, key: str, val_pct: int = 10, test_pct: int = 10
) -> DataFrame:
    """Assign each row a stable split label from its key hash:
    [0, test_pct) -> test, [test_pct, test_pct+val_pct) -> val, rest ->
    train. Adding documents later never moves an existing document
    between splits — the property that keeps eval sets uncontaminated
    as a 100TB corpus grows."""
    b = hash_bucket(key)
    return df.withColumn(
        "split",
        F.when(b < test_pct, F.lit("test"))
        .when(b < test_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("train")),
    )


def stratified_sample(
    df: DataFrame,
    key: str,
    stratum: str,
    rates: dict[str, int],
    default_pct: int = 0,
) -> DataFrame:
    """Deterministic stratified sample: per-stratum keep percentages
    (e.g. downsample web crawl to 5% while keeping 100% of books —
    the standard corpus-mixing move when assembling training data).

    Membership is ``hash_bucket(key) < pct(stratum)`` — still a pure
    per-row projection + filter: no shuffle, no per-stratum count pass,
    no coordination, and the kept set only shrinks/grows per stratum
    when its rate changes (rows never migrate between strata samples).
    Contrast ``df.sampleBy``, which is RNG-based and non-reproducible
    across engines/partitionings for the same reason as ``df.sample``.

    Unknown strata fall back to ``default_pct`` (0 = drop), so a new
    source appearing in a 100TB corpus is excluded-by-default rather
    than silently flooding the mix.
    """
    pct = F.lit(default_pct)
    for value, p in sorted(rates.items()):
        pct = F.when(F.col(stratum) == value, F.lit(p)).otherwise(pct)
    return df.where(hash_bucket(key) < pct)


def oversample(
    df: DataFrame,
    key: str,
    stratum: str,
    factors: dict[str, float],
    default: float = 1.0,
) -> DataFrame:
    """Deterministic corpus-mixture resampling with REPLICATION: factor
    2.5 keeps every row twice plus a hash-chosen half a third time;
    factor 0.25 is a plain 25% subsample — one operator covers both the
    up- and down-weighting of a training mix (epochs-per-source as
    data, not training-loop config). ``stratified_sample`` is the
    rate<=1 special case.

    Still a pure per-row function of the key hash: the integer part is
    an ``explode(sequence)`` fan-out (the T3 move), the fractional part
    a hash-bucket test — no shuffle, reproducible across engines/
    partitionings, and a factor change only adds/removes the highest
    copies of each row. Emits ``copy`` (0-based) so downstream shard
    packing can interleave replicas instead of clustering them."""
    pct = F.lit(float(default))
    for value, f in sorted(factors.items()):
        pct = F.when(F.col(stratum) == value, F.lit(float(f))).otherwise(pct)
    base = F.floor(pct).cast("int")
    extra = (hash_bucket(key) < F.round((pct - F.floor(pct)) * 100, 0)).cast("int")
    n_copies = base + extra
    return (
        df.withColumn("__n", n_copies)
        .where(F.col("__n") > 0)
        .withColumn("copy", F.explode(F.sequence(F.lit(0), F.col("__n") - 1)))
        .drop("__n")
    )


def pack_shards(
    df: DataFrame,
    key: str,
    weight: Column,
    budget: int,
    n_buckets: int = 32,
) -> DataFrame:
    """Deterministic contiguous shard packing: order rows by ``key``,
    accumulate ``weight`` (e.g. token count), and assign
    ``shard_id = floor(exclusive_running_total / budget)`` — the
    sequence-sharding step that turns a curated corpus into
    fixed-token-budget training shards, reproducibly.

    A running total is a prefix sum, and the naive Spark form —
    ``Window.orderBy(key)`` with no partition — executes as ONE task
    scanning the whole corpus. This implements the distributed two-phase
    prefix sum instead: (1) range-bucket rows by key (the bucket
    function is monotone in key, so bucket order == key order); (2)
    per-bucket weight sums — ``n_buckets`` rows — get exclusive
    cumulative offsets via the only single-partition window in the
    plan, bounded by the constant ``n_buckets`` exactly like the IVF
    centroid collect (similarity.py); (3) offsets broadcast-join back
    and each bucket computes its interior cumsum independently,
    partitioned by bucket. All arithmetic is integer (sums) or exact
    double (|values| < 2^53), so DuckDB's naive global-window form
    reproduces every shard id bit-for-bit.

    Returns (key, w, shard_id). At 100TB, ``n_buckets`` scales with the
    cluster (it only bounds the tiny offsets table) and the range
    bounds come from the table's min/max statistics — one footer read.
    Here they are a 1-row eager aggregate resolved to literals (the
    bounded-collect pattern of the IVF centroid seed): leaving them as
    a crossJoined subplan made Catalyst recompute the bounds scan in
    BOTH prefix-sum passes — a third full read of the key column."""
    kc = F.col(key)
    d = df.select(kc.alias("k"), weight.alias("w"))
    mn, mx = d.agg(F.min("k"), F.max("k")).first()
    bucket = F.least(
        F.lit(n_buckets - 1),
        F.floor((F.col("k") - F.lit(mn)) * n_buckets / F.lit(mx - mn + 1)),
    ).cast("int")
    from pyspark.sql.functions import broadcast

    d2 = d.select("k", "w", bucket.alias("bucket"))
    wo = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        d2.groupBy("bucket")
        .agg(F.sum("w").alias("bw"))
        .select("bucket", F.coalesce(F.sum("bw").over(wo), F.lit(0)).alias("off"))
    )
    wi = Window.partitionBy("bucket").orderBy("k")
    return (
        d2.join(broadcast(offsets), "bucket")
        .select(
            F.col("k").alias(key),
            "w",
            F.floor((F.col("off") + F.sum("w").over(wi) - F.col("w")) / budget)
            .cast("int")
            .alias("shard_id"),
        )
    )


def per_stratum_cap(
    df: DataFrame, key: str, stratum: str, cap: int
) -> DataFrame:
    """Deterministic per-stratum COUNT cap: keep at most ``cap`` rows
    per stratum, chosen by content-independent hash order — the corpus
    balancing move when a mix is specified as absolute budgets ("at
    most N docs per domain") rather than rates (see
    ``stratified_sample`` for the rate form).

    Hash-ordering (md5 of the key, tie-break key) makes the kept set a
    uniform, reproducible choice that is stable under partitioning,
    insertion order, AND engine — unlike orderBy(rand()) — and adding
    rows to a stratum only ever displaces the highest-hash keepers.
    Cost: one shuffle on the stratum + a per-stratum sort (bounded by
    the stratum size); at 100TB a skewed mega-stratum sorts in one
    task, so pair with a pre-filter (e.g. stratified_sample at a
    generous rate) when a stratum exceeds task memory."""
    kc = F.col(key)
    w = Window.partitionBy(stratum).orderBy(
        F.md5(kc.cast("string").cast("binary")), kc
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= cap)
        .drop("__rn")
    )


def mixture_weights(docs: DataFrame) -> DataFrame:
    """Temperature-based corpus mixing weights (tau = 0.5): per-source
    sampling shares proportional to sqrt(token count) — the standard
    square-root temperature reweighting (GPT-3/PaLM data recipes) that
    up-samples small high-quality sources without letting the giant
    crawl drown them. Feeds ``oversample`` (the boost column IS its
    epochs-per-source input).

    Determinism discipline: sqrt is IEEE-754 correctly rounded — the
    ONE non-integer op here that is bit-identical across engines
    (general pow is not, which is why tau is fixed at 0.5). The
    cross-source normalizing sum folds over the source-ordered list
    (collect_list -> sort_array -> aggregate; DuckDB mirrors with
    list(... ORDER BY) + list_reduce), so the few-elements float sum
    has ONE defined association order on both engines. The per-source
    rollup is the only data-sized shuffle; the weight table is
    |sources| rows."""
    from ..functions.text import round_half_up as rh
    from ..functions.text import tokens

    counts = (
        docs.withColumn("__toks", tokens(F.col("text")))
        .groupBy("source")
        .agg(F.sum(F.size("__toks")).cast("long").alias("n_tokens"))
    )
    packed = counts.agg(
        F.sort_array(
            F.collect_list(F.struct("source", "n_tokens"))
        ).alias("arr")
    )
    w_of = lambda x: F.sqrt(x["n_tokens"].cast("double"))  # noqa: E731
    tot_w = F.aggregate(
        F.col("arr"), F.lit(0.0), lambda acc, x: acc + w_of(x)
    )
    tot_n = F.aggregate(
        F.col("arr"), F.lit(0).cast("long"), lambda acc, x: acc + x["n_tokens"]
    )
    x = F.col("x")
    return (
        packed.select(
            F.explode("arr").alias("x"),
            tot_w.alias("__tw"),
            tot_n.alias("__tn"),
        )
        .select(
            x["source"].alias("source"),
            x["n_tokens"].alias("n_tokens"),
            rh(x["n_tokens"] / F.col("__tn"), 6).alias("share_natural"),
            rh(w_of(x) / F.col("__tw"), 6).alias("share_temp"),
            rh(
                (w_of(x) / F.col("__tw"))
                / (x["n_tokens"] / F.col("__tn")),
                4,
            ).alias("boost"),
        )
    )


def budget_allocation(
    docs: DataFrame, budget: int = 10000, by: str = "source"
) -> DataFrame:
    """Largest-remainder apportionment of a fixed sampling budget across
    strata: each stratum gets ``floor(budget * n_i / N)`` seats, then
    the leftover seats go to the largest integer remainders
    ``budget*n_i - base_i*N`` (ties by stratum name) — the standard
    Hamilton method, here sizing how many documents to draw per source
    when composing a training mix with an exact global row budget
    (sum(alloc) == budget ALWAYS, which proportional-rounding naive
    floor/round does not guarantee).

    Pure integer arithmetic end-to-end — no floats to mirror. One
    stratum-keyed count shuffle; apportionment runs on the |strata|-
    sized aggregate (the only window sorts strata, never rows)."""
    from pyspark.sql import Window

    counts = docs.groupBy(F.col(by).alias("stratum")).agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = counts.agg(F.sum("n").alias("n_total"))
    base = (
        counts.crossJoin(F.broadcast(tot))
        # integer div, not float floor: budget*n can pass 2^53 at scale
        .withColumn("base", F.expr(f"({budget} * n) div n_total"))
        .withColumn(
            "rem",
            F.lit(budget) * F.col("n") - F.col("base") * F.col("n_total"),
        )
    )
    wl = Window.orderBy(F.desc("rem"), F.asc("stratum"))
    wall = Window.partitionBy(F.lit(1))
    return (
        base.withColumn("leftover", F.lit(budget) - F.sum("base").over(wall))
        .withColumn("pos", F.row_number().over(wl))
        .select(
            "stratum",
            "n",
            (
                F.col("base")
                + F.when(F.col("pos") <= F.col("leftover"), F.lit(1)).otherwise(
                    F.lit(0)
                )
            ).alias("alloc"),
        )
    )


def pps_systematic(
    df: DataFrame,
    key: str,
    weight: Column,
    n: int = 500,
    n_buckets: int = 32,
) -> DataFrame:
    """Systematic probability-proportional-to-size sampling: lay the
    rows out on the cumulative-weight line (ordered by ``key``), then
    take one point every ``stride = total/n`` units starting at
    ``stride/2`` — each row is hit with probability proportional to
    its weight, heavy rows can be hit multiple times (``n_hits`` is
    the PPS multiplicity), and the whole draw is deterministic: no
    RNG, bit-identical across engines/partitionings/reruns. The
    classic survey/importance-sampling design (Madow), here for
    weight-proportional corpus subsampling (e.g. sample orders by
    spend, documents by token count).

    The cumulative line is the SAME distributed two-phase prefix sum
    as pack_shards (range-bucket -> n_buckets-row offset window ->
    per-bucket interior cumsum); selection is then a per-row integer
    expression — hits in [a, a+w) = f(a+w-1) - f(a-1) with
    f(x) = (x - anchor) div stride + 1 clamped at 0. All integer."""
    kc = F.col(key)
    d = df.select(kc.alias("k"), weight.alias("w"))
    mn, mx = d.agg(F.min("k"), F.max("k")).first()
    bucket = F.least(
        F.lit(n_buckets - 1),
        F.floor((F.col("k") - F.lit(mn)) * n_buckets / F.lit(mx - mn + 1)),
    ).cast("int")
    from pyspark.sql.functions import broadcast

    d2 = d.select("k", "w", bucket.alias("bucket"))
    wo = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        d2.groupBy("bucket")
        .agg(F.sum("w").alias("bw"))
        .select(
            "bucket", F.coalesce(F.sum("bw").over(wo), F.lit(0)).alias("off")
        )
    )
    tot = d2.agg(F.sum("w").alias("t"))
    wi = Window.partitionBy("bucket").orderBy("k")
    lined = (
        d2.join(broadcast(offsets), "bucket")
        .crossJoin(broadcast(tot))
        .select(
            "k",
            "w",
            (F.col("off") + F.sum("w").over(wi) - F.col("w")).alias("a"),
            F.expr(f"greatest(1L, t div {n})").alias("stride"),
            F.expr(f"greatest(1L, t div {n}) div 2").alias("anchor"),
        )
    )

    n_hits = F.expr(
        """(CASE WHEN a + w - 1 >= anchor
                 THEN (a + w - 1 - anchor) div stride + 1 ELSE 0 END)
         - (CASE WHEN a - 1 >= anchor
                 THEN (a - 1 - anchor) div stride + 1 ELSE 0 END)"""
    )
    return lined.select(
        F.col("k").alias(key),
        F.col("w").alias("cents"),
        F.col("a").alias("pos"),
        n_hits.alias("n_hits"),
    ).where(F.col("n_hits") >= 1)


def negative_samples(
    orders: DataFrame,
    lineitem: DataFrame,
    part: DataFrame,
    n_neg: int = 3,
    cust_every: int = 50,
) -> DataFrame:
    """Deterministic NEGATIVE sampling for recommender/contrastive
    training data: for every (customer, purchased part) positive, draw
    ``n_neg`` hash-picked candidate parts and keep those the customer
    NEVER bought (rejection by anti-join, the step naive random
    sampling skips and then trains on false negatives). Zero RNG: the
    j-th candidate is ``md5(cust#part#j) mod |parts| + 1``, so the
    drawn set is reproducible across engines/reruns — the DuckDB twin
    regenerates it bit-for-bit (same md5 trick as sampling/ordering).

    Collisions with true positives are DROPPED, not resampled (the
    count per positive is n_neg minus rejections — at 100TB rejection
    odds are |user's items|/|catalog|, negligible; documenting the
    drop is honest, resampling loops are not plan-expressible).

    Plan: positives are one (cust, part) distinct; candidate expansion
    is a literal n_neg-way explode (map-side); the rejection is one
    broadcast-ready anti-join back on the positive key. ``cust_every``
    subsamples customers deterministically to bound output."""
    from ..functions.text import token_hash32

    pos = (
        lineitem.join(
            orders.select("o_orderkey", "o_custkey"),
            lineitem["l_orderkey"] == F.col("o_orderkey"),
        )
        .select(F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("pos_part"))
        .distinct()
        .where(F.col("cust") % cust_every == 0)
    )
    np_ = part.agg(F.max("p_partkey").alias("n_parts"))
    cand = (
        pos.crossJoin(F.broadcast(np_))
        .select(
            "cust",
            "pos_part",
            "n_parts",
            F.explode(F.array(*[F.lit(j) for j in range(n_neg)])).alias("j"),
        )
        .select(
            "cust",
            "pos_part",
            "j",
            (
                token_hash32(
                    F.concat_ws(
                        "#",
                        F.col("cust").cast("string"),
                        F.col("pos_part").cast("string"),
                        F.col("j").cast("string"),
                    )
                )
                % F.col("n_parts")
                + 1
            ).alias("neg_part"),
        )
    )
    owned = pos.select("cust", F.col("pos_part").alias("neg_part"))
    return cand.join(owned, ["cust", "neg_part"], "left_anti").select(
        "cust", "pos_part", "j", "neg_part"
    )


def dsir_importance(
    docs: DataFrame,
    target_lang: str = "en",
    n_buckets: int = 256,
) -> DataFrame:
    """DSIR-style data selection weights (Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling"): score
    every document by how target-like its hashed-n-gram feature
    profile is, so a curation run can resample the raw crawl toward a
    small high-quality target domain. DSIR proper uses a sum of
    per-feature log probability ratios; logs are transcendental and
    NOT bit-reproducible across engines, so this exact-oracle form
    scores the ratio of EXPECTED bucket frequencies instead:

        importance = (S_t / N_t) / (S_r / N_r)
                   = (S_t * N_r) / (S_r * N_t)     (one float division)

    where S_t / S_r sum the Laplace-smoothed target/raw bucket counts
    over the doc's tokens and N_t / N_r are the corresponding totals —
    every accumulated quantity an exact BIGINT, > 1 meaning
    "target-like". Feature = whitespace token hashed into ``n_buckets``
    via the md5-portable ``token_hash32`` (same trick as the sampling
    buckets above, so the DuckDB oracle reproduces it verbatim).

    Scale shape (build/apply, like a real DSIR run): the bucket-count
    model is ONE |buckets|-sized aggregate over the exploded tokens
    (map-side combine makes the exchange |buckets|-sized); scoring is
    a broadcast join of that tiny model onto the token stream plus one
    doc-keyed sum. No driver state beyond the broadcast model."""
    return dsir_score(docs, dsir_model(docs, target_lang, n_buckets), n_buckets)


def _dsir_buckets(docs: DataFrame, n_buckets: int) -> DataFrame:
    """(doc_id, lang, bkt) token-bucket stream shared by build and
    apply — one row per token, bucket via the md5-portable hash."""
    from ..functions.text import token_hash32, tokens

    return docs.select(
        "doc_id",
        "lang",
        F.explode(tokens(F.col("text"))).alias("tok"),
    ).select(
        "doc_id",
        "lang",
        (token_hash32(F.col("tok")) % n_buckets).alias("bkt"),
    )


def dsir_model(
    docs: DataFrame, target_lang: str = "en", n_buckets: int = 256
) -> DataFrame:
    """BUILD step: the |buckets|-sized Laplace-smoothed count model
    (bkt, r1, t1) — the thing a production DSIR run materializes once
    and reuses across every scoring pass."""
    return (
        _dsir_buckets(docs, n_buckets)
        .groupBy("bkt")
        .agg(
            (F.count(F.lit(1)) + 1).alias("r1"),
            (
                F.count(F.when(F.col("lang") == target_lang, 1)) + 1
            ).alias("t1"),
        )
    )


def dsir_score(
    docs: DataFrame, model: DataFrame, n_buckets: int = 256
) -> DataFrame:
    """APPLY step: broadcast the bucket model onto the token stream,
    one doc-keyed integer aggregate, one mirrored division.

    Tokens hashing to buckets ABSENT from the model (possible whenever
    the scored corpus is not the model's build corpus) still count:
    the left join coalesces their r1/t1 to 1, i.e. exactly the Laplace
    +1 prior an all-buckets-dense model would hold for a zero-count
    bucket, and n_toks counts every token."""
    from ..functions.text import round_half_up as rh

    # totals as the DENSE model would hold them: every bucket absent
    # from the sparse model contributes its Laplace prior of 1 to both
    # sides, so scoring here == scoring against an n_buckets-row model
    pad = F.lit(int(n_buckets)) - F.count(F.lit(1))
    totals = model.agg(
        (F.sum("r1") + pad).cast("long").alias("nr"),
        (F.sum("t1") + pad).cast("long").alias("nt"),
    )
    scored = (
        _dsir_buckets(docs, n_buckets)
        .join(F.broadcast(model), "bkt", "left")
        .withColumn("r1", F.coalesce("r1", F.lit(1)))
        .withColumn("t1", F.coalesce("t1", F.lit(1)))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_toks"),
            F.sum("t1").cast("long").alias("st"),
            F.sum("r1").cast("long").alias("sr"),
        )
    )
    return scored.crossJoin(F.broadcast(totals)).select(
        "doc_id",
        "n_toks",
        rh(
            (F.col("st") * F.col("nr")).cast("double")
            / (F.col("sr") * F.col("nt")),
            6,
        ).alias("importance"),
    )


def aqp_sum_check(
    lineitem: DataFrame, pct: int = 5, tol_ppm: int = 50_000
) -> DataFrame:
    """Approximate-query-processing readout: per return flag, estimate
    SUM(extendedprice) from a deterministic ``pct``% hash sample and
    report the measured error against the exact sum — the BlinkDB-style
    "scan 5%, answer within tolerance" capability, with the error
    CLAIM itself a first-class, exactly-checkable column (the sampling
    is ``hash_bucket`` membership, so both the sample and therefore
    the estimate are pure integers any engine reproduces — no
    bound-check carve-out needed, every column value-hashes).

    est = sample_cents * (100/pct) (integer), err_ppm =
    round(|est - exact| * 1e6 / exact) via one division of BIGINTs,
    within_tol = err_ppm <= tol_ppm. At 100TB this is the point: the
    5% scan is ~20x cheaper and the report says per group whether the
    shortcut held. Scale shape: two partial-agg rollups (full + the
    filter-pushed sample — Catalyst prunes to the same single scan
    when both sides share it; here they are two scans of the same
    table, each map-side combined)."""
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    base = lineitem.select(
        F.col("l_returnflag").alias("flag"),
        cents.alias("c"),
        hash_bucket(F.col("l_orderkey") * 10 + F.col("l_linenumber")),
    )
    exact = base.groupBy("flag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("c").cast("long").alias("exact_cents"),
    )
    samp = (
        base.where(F.col("bucket") < pct)
        .groupBy("flag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sample"),
            (F.sum("c") * (100 // pct)).cast("long").alias("est_cents"),
        )
    )
    err_ppm = F.floor(
        F.abs(F.col("est_cents") - F.col("exact_cents"))
        / F.col("exact_cents")
        * 1e6
        + F.lit(0.5)
    ).cast("long")
    return (
        exact.join(samp, "flag")
        .where(F.col("exact_cents") > 0)
        .select(
            "flag",
            "n",
            "n_sample",
            "exact_cents",
            "est_cents",
            err_ppm.alias("err_ppm"),
            (err_ppm <= F.lit(tol_ppm)).alias("within_tol"),
        )
    )


def weighted_sample(
    docs: DataFrame, k: int = 50, weight: str = "n_chars"
) -> DataFrame:
    """Weighted sampling WITHOUT replacement via Efraimidis–Spirakis
    exponential keys — the one-pass distributed answer to "draw k docs
    with probability proportional to weight" (a training-mix sampler
    that needs no total-weight pass and no sequential state; compare
    ``pps_systematic``, which needs the ordered cumulative pass):

        key_i = ln(u_i) / w_i,   u_i ~ U(0,1);   take the top-k keys.

    (Classically key = u^(1/w) maximized; ln is monotone, so ranking
    ln(u)/w descending is the same draw — and ln + division mirror
    bit-exactly cross-engine where pow() would not.)

    Determinism discipline: u_i derives from md5 of the doc id — the
    13-hex-digit (52-bit) prefix h makes u = (h + 0.5) / 2^52 an EXACT
    double in (0, 1), identical in DuckDB; ln is the correctly-rounded
    libm call both engines share. Deterministic tie-break on doc_id.
    Zero/NULL weights are excluded (their inclusion probability is 0).

    Scale: pure projection + one top-k (local per-partition top-k
    merged once) — no shuffle of the corpus, no driver state."""
    c = F.col("doc_id")
    h = F.conv(
        F.substring(F.md5(c.cast("string").cast("binary")), 1, 13), 16, 10
    ).cast("long")
    u = (h.cast("double") + 0.5) / F.lit(float(1 << 52))
    key = F.log(u) / F.col(weight).cast("double")
    keyed = docs.where(
        F.col(weight).isNotNull() & (F.col(weight) > 0)
    ).select("doc_id", F.col(weight).alias("w"), key.alias("key"))
    # orderBy().limit(k) plans as TakeOrderedAndProject — per-partition
    # top-k merged once, NEVER a single-partition global sort (the
    # row_number-over-unpartitioned-window shape moves the corpus to
    # one task); the rank window then runs on the k-row survivor set.
    top = keyed.orderBy(F.col("key").desc(), F.col("doc_id").asc()).limit(k)
    from ..functions.text import round_half_up

    return top.withColumn(
        "rank",
        F.row_number().over(
            Window.orderBy(F.col("key").desc(), F.col("doc_id").asc())
        ),
    ).select(
        "rank",
        "doc_id",
        F.col("w").cast("long").alias("w"),
        round_half_up(F.col("key"), 6).alias("key"),
    )


def neyman_allocation(
    orders: DataFrame, n_total: int = 1000
) -> DataFrame:
    """Neyman-optimal stratified-sample allocation over order
    priorities: n_h proportional to N_h * sd_h — the design step
    BEFORE ``stratified_docs``-style proportional sampling when strata
    variances differ (a high-variance stratum needs more than its
    population share to minimize the estimator's variance):

        n_h = round(n_total * N_h sd_h / sum_g N_g sd_g)

    Exactness: per-stratum sd from exact BIGINT/DECIMAL cents moments
    (one sqrt); the weight normalizer folds in stratum order (the
    sorted-list discipline); the allocation is floor(x + 0.5) on a
    mirrored double. Scale: one k-row stratum rollup."""
    from pyspark.sql import functions as F

    from ..functions.text import round_half_up

    DEC = "decimal(38,0)"
    c = F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")
    g = orders.groupBy(F.col("o_orderpriority").alias("stratum")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(c).cast("long").alias("s"),
        F.sum(c.cast(DEC) * c.cast(DEC)).cast(DEC).alias("q"),
    )
    var_num = (
        F.col("n_rows").cast(DEC) * F.col("q")
        - F.col("s").cast(DEC) * F.col("s").cast(DEC)
    ).cast("double")
    sd = F.sqrt(
        var_num
        / (
            F.col("n_rows").cast("double")
            * (F.col("n_rows") - 1).cast("double")
        )
    )
    per = g.where(F.col("n_rows") >= 2).select(
        "stratum", "n_rows", sd.alias("sd")
    )
    arr = per.groupBy().agg(
        F.array_sort(
            F.collect_list(F.struct("stratum", "n_rows", "sd"))
        ).alias("gs")
    )
    totw = F.aggregate(
        F.col("gs"),
        F.lit(0.0),
        lambda acc, t: acc + t["n_rows"].cast("double") * t["sd"],
    )
    exploded = arr.select(
        totw.alias("tw"), F.explode("gs").alias("t")
    )
    wh = F.col("t")["n_rows"].cast("double") * F.col("t")["sd"]
    return exploded.select(
        F.col("t")["stratum"].alias("stratum"),
        F.col("t")["n_rows"].alias("n_rows"),
        round_half_up(F.col("t")["sd"] / 100.0, 6).alias("sd_usd"),
        round_half_up(wh / F.col("tw"), 6).alias("weight"),
        F.floor(F.lit(float(n_total)) * wh / F.col("tw") + F.lit(0.5))
        .cast("long")
        .alias("alloc"),
    )
