"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, processed via Arrow-batched ``mapInPandas``.

The decode step itself is STUBBED (no image/audio libraries in this
container): ``decode_image_batch`` raises NotImplementedError unless
``fake=True``, in which case a deterministic fake decoder derives
"features" from the raw bytes. Everything around the stub — the schema
contract, the Arrow batch shape, the partitioning, the UDF signature —
is real and tested; swapping in PIL/ffmpeg is a one-function change.

Scale notes: binary payloads ride the scan as plain parquet BINARY; the
mapInPandas stage is embarrassingly parallel (no shuffle), and feature
extraction emits narrow rows so the expensive bytes are dropped as early
as possible (project-away after decode).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media_type", StringType()),  # image|audio|video
        StructField("format", StringType()),  # png|wav|mp4|...
        StructField("data", BinaryType()),
        StructField("n_bytes", LongType()),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media_type", StringType()),
        StructField("n_bytes", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("checksum", StringType()),
    ]
)


def attach_media(docs: DataFrame) -> DataFrame:
    """Manufacture a media table from the documents fixture: the utf-8
    text bytes stand in for an opaque payload. Real pipelines read the
    payloads from parquet/blob storage with exactly this schema."""
    return docs.select(
        "doc_id",
        F.lit("image").alias("media_type"),
        F.lit("raw").alias("format"),
        F.col("text").cast("binary").alias("data"),
        F.octet_length(F.col("text").cast("binary")).alias("n_bytes"),
    )


def _fake_decode(data: bytes) -> tuple[int, int]:
    """Deterministic fake image decode: fold bytes into a (width, height).
    Stands in for PIL.Image.open(...).size — same call shape."""
    n = len(data)
    return (n % 640) + 1, (sum(data[:16]) % 480) + 1


def decode_image_batch(df: DataFrame, fake: bool = True) -> DataFrame:
    """Decode/feature-extract stage over Arrow batches.

    With ``fake=False`` this is where a real decoder (PIL, torchvision,
    ffmpeg) plugs in; the container has none, so it raises — clearly a
    stub, per the build contract.
    """
    if not fake:
        raise NotImplementedError(
            "Real image decode requires PIL/ffmpeg, not present in this "
            "container. Use fake=True for the deterministic stub."
        )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            dims = [_fake_decode(bytes(b)) for b in pdf["data"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": pdf["n_bytes"],
                    "width": [w for w, _ in dims],
                    "height": [h for _, h in dims],
                    "checksum": [
                        hashlib.sha256(bytes(b)).hexdigest()[:16] for b in pdf["data"]
                    ],
                }
            )

    return df.mapInPandas(run, schema=FEATURE_SCHEMA)


def frame_sample(df: DataFrame, every_n: int = 10) -> DataFrame:
    """Frame-sampling plumbing for video payloads: emits one row per
    sampled "frame" (deterministic fake: one frame per 256-byte block,
    sampled every ``every_n``). Shows the 1->N mapInPandas expansion
    shape a real ffmpeg frame extractor would use."""
    out_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("frame_idx", LongType()),
            StructField("frame_bytes", BinaryType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"doc_id": [], "frame_idx": [], "frame_bytes": []}
            for doc_id, data in zip(pdf["doc_id"], pdf["data"]):
                blob = bytes(data)
                n_frames = max(1, len(blob) // 256)
                for i in range(0, n_frames, every_n):
                    rows["doc_id"].append(doc_id)
                    rows["frame_idx"].append(i)
                    rows["frame_bytes"].append(blob[i * 256 : (i + 1) * 256])
            yield pd.DataFrame(rows)

    # widen before the per-payload Python frame loop (guide §4.1; see
    # audio_window_energy note) — row-wise, value-identical
    from ..io import widen

    return widen(df, 8).mapInPandas(run, schema=out_schema)


def audio_window_energy(df: DataFrame, window: int = 256) -> DataFrame:
    """Audio feature extraction plumbing: per fixed-size sample window,
    integer energy (sum of samples) and peak — the VAD/silence-trim
    shape a real librosa/ffmpeg stage would fill in. The payload bytes
    are treated as unsigned 8-bit PCM (the deterministic stand-in for a
    decoded waveform; a real decoder swaps in at the ``frombuffer``
    line).

    Arrow-batched ``mapInPandas``, numpy integer reductions per window
    — exact (no float accumulation), embarrassingly parallel, no
    shuffle; bytes are dropped at projection so only (doc, window,
    stats) rows flow on. The trailing partial window is emitted (real
    audio is not block-aligned). Fully value-oracled: DuckDB recomputes
    the same sums from the hex dump."""
    import numpy as np

    out_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("win", LongType()),
            StructField("n_samples", LongType()),
            StructField("energy", LongType()),
            StructField("peak", LongType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in ("doc_id", "win", "n_samples", "energy", "peak")}
            for doc_id, data in zip(pdf["doc_id"], pdf["data"]):
                samples = np.frombuffer(bytes(data), dtype=np.uint8)
                for w in range(0, max(1, len(samples) + window - 1) // window):
                    chunk = samples[w * window : (w + 1) * window]
                    if len(chunk) == 0:
                        continue
                    rows["doc_id"].append(doc_id)
                    rows["win"].append(w)
                    rows["n_samples"].append(len(chunk))
                    rows["energy"].append(int(chunk.sum(dtype=np.int64)))
                    rows["peak"].append(int(chunk.max()))
            yield pd.DataFrame(rows)

    # widen a single-row-group scan before the per-byte Python window
    # loop (optimization r9, guide §4.1/§2.6: the hot map stage
    # otherwise runs on ONE core; width 8 is the house A/B'd sweet
    # spot). Row-wise computation — partitioning cannot change values.
    from ..io import widen

    return widen(df, 8).mapInPandas(run, schema=out_schema)


def binary_meta(docs: DataFrame) -> DataFrame:
    """Pure-SQL metadata over binary payloads (no Python): byte length,
    sha256, base64 prefix — the cheap pre-decode audit columns."""
    data = F.col("text").cast("binary")
    return docs.select(
        "doc_id",
        F.octet_length(data).alias("n_bytes"),
        F.sha2(data, 256).alias("sha256"),
        F.substring(F.base64(data), 1, 24).alias("b64_prefix"),
    )


def _phash63(data: bytes) -> int:
    """63-bit average-hash over 63 stride-sampled payload bytes: bit j =
    [63 * b_j >= Σ b_i] — an INTEGER compare, not a float mean, so a SQL
    oracle reproduces it exactly. Stands in for DCT-pHash over decoded
    pixels (pixel access is UDF-side either way; swapping in a real
    decoder changes only the byte source). 63 bits keep the hash in
    signed-int64 positive range and split evenly into 9 x 7-bit blocks
    for the Hamming block join."""
    n = len(data)
    if n == 0:
        return 0
    bs = [data[(j * n) // 63] for j in range(63)]
    total = sum(bs)
    return sum((1 << j) for j, b in enumerate(bs) if 63 * b >= total)


def image_phash(df: DataFrame, fake: bool = True) -> DataFrame:
    """Perceptual hash per media payload -> (doc_id, phash) — the image
    near-dup primitive. Arrow-batched mapInPandas, map-only (no
    shuffle); the expensive payload bytes are projected away at the
    hash boundary so only 8-byte hashes flow downstream."""
    if not fake:
        raise NotImplementedError(
            "Real perceptual hashing requires an image decoder (PIL), "
            "not present in this container. Use fake=True for the "
            "deterministic byte-math stub."
        )
    out_schema = StructType(
        [StructField("doc_id", LongType()), StructField("phash", LongType())]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "phash": [_phash63(bytes(b)) for b in pdf["data"]],
                }
            )

    # widen before the per-payload Python hash loop (guide §4.1; see
    # audio_window_energy note) — row-wise, value-identical
    from ..io import widen

    return widen(df, 8).mapInPandas(run, schema=out_schema)


def phash_near_pairs(
    df: DataFrame, max_hamming: int = 8, fake: bool = True
) -> DataFrame:
    """Image near-dup pairs by perceptual-hash Hamming distance, via the
    same block-permutation trick as dedup.simhash_near_pairs: the 63-bit
    hash splits into 9 blocks of 7 bits; any pair within distance 8
    agrees on >= 1 block (pigeonhole), so candidates come from an
    equi-join on (block, value) — never an all-pairs comparison — and
    the exact Hamming verify runs only on collisions. Completes the
    dedup family across modalities: exact (md5) / token (minhash,
    simhash) / embedding (LSH cosine) / image (pHash)."""
    n_blocks, block_bits = 9, 7
    assert max_hamming < n_blocks, "block trick needs max_hamming < n_blocks"
    ph = image_phash(df, fake=fake)
    blocks = ph.select(
        "doc_id",
        "phash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("phash"), b * block_bits).bitwiseAND(
                        F.lit((1 << block_bits) - 1)
                    )
                    for b in range(n_blocks)
                ]
            )
        ).alias("blk", "blkval"),
    )
    left = blocks.select(
        "blk", "blkval", F.col("doc_id").alias("a"), F.col("phash").alias("ph_a")
    )
    right = blocks.select(
        "blk", "blkval", F.col("doc_id").alias("b"), F.col("phash").alias("ph_b")
    )
    return (
        left.join(right, ["blk", "blkval"])
        .where(F.col("a") < F.col("b"))
        .select(
            "a",
            "b",
            F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b"))).alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


def resize_images(df: DataFrame, max_dim: int = 256, fake: bool = True) -> DataFrame:
    """Resize stage: cap the longer image side at ``max_dim`` preserving
    aspect ratio. With ``fake=False`` this is where PIL's
    ``Image.resize`` plugs in; absent here, so the deterministic stub
    scales the fake-decoded dims and truncates the payload by the area
    ratio — integer/byte math a SQL oracle recomputes exactly, so the
    plumbing (Arrow batches, schema, no-shuffle map-only plan) carries a
    full value check, not just a shape test."""
    if not fake:
        raise NotImplementedError(
            "Real image resize requires PIL, not present in this "
            "container. Use fake=True for the deterministic stub."
        )
    out_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("width", LongType()),
            StructField("height", LongType()),
            StructField("new_width", LongType()),
            StructField("new_height", LongType()),
            StructField("out_bytes", LongType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import math

        for pdf in batches:
            rows = {k.name: [] for k in out_schema.fields}
            for doc_id, data in zip(pdf["doc_id"], pdf["data"]):
                blob = bytes(data)
                w, h = _fake_decode(blob)
                scale = min(1.0, float(max_dim) / float(max(w, h)))
                nw, nh = max(1, int(w * scale)), max(1, int(h * scale))
                resized = blob[: max(1, int(len(blob) * scale * scale))]
                rows["doc_id"].append(doc_id)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["new_width"].append(nw)
                rows["new_height"].append(nh)
                rows["out_bytes"].append(len(resized))
            yield pd.DataFrame(rows)

    return df.mapInPandas(run, schema=out_schema)


def frame_phash(frames: DataFrame, fake: bool = True) -> DataFrame:
    """Per-FRAME perceptual hash: ``_phash63`` over each sampled
    frame's bytes -> (doc_id, frame_idx, phash). Same Arrow map-only
    shape as ``image_phash``; frame bytes are projected away at the
    hash boundary."""
    if not fake:
        raise NotImplementedError(
            "Real frame hashing requires a video decoder (ffmpeg), not "
            "present in this container. Use fake=True for the stub."
        )
    out_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("frame_idx", LongType()),
            StructField("phash", LongType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "frame_idx": pdf["frame_idx"],
                    "phash": [_phash63(bytes(b)) for b in pdf["frame_bytes"]],
                }
            )

    return frames.mapInPandas(run, schema=out_schema)


def video_near_pairs(
    df: DataFrame,
    every_n: int = 1,
    max_hamming: int = 8,
    min_frames: int = 1,
    fake: bool = True,
) -> DataFrame:
    """Video near-dup: sample frames, hash each, and call two videos
    near-duplicates when at least ``min_frames`` sampled frame PAIRS
    match within ``max_hamming`` — the re-encoded/trimmed-copy detector
    (YouTube-style content matching), completing the dedup family's
    video modality by COMPOSING the existing pieces: ``frame_sample``
    (1->N expansion) -> ``frame_phash`` (map-only) -> the same 9x7-bit
    Hamming block join as images (candidates only via (block, value)
    collisions — pigeonhole-complete for max_hamming < 9, never
    all-pairs).

    Returns (a, b, n_matched) with n_matched = distinct qualifying
    frame pairs. At scale the knobs trade recall for work exactly like
    the image path; ``every_n`` subsamples frames (a real pipeline
    samples keyframes), and the block join's fan-out is bounded by
    frame count x 9 rows per video."""
    fh = frame_phash(frame_sample(df, every_n=every_n), fake=fake)
    n_blocks, block_bits = 9, 7
    assert max_hamming < n_blocks, "block trick needs max_hamming < n_blocks"
    blocks = fh.select(
        "doc_id",
        "frame_idx",
        "phash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("phash"), b * block_bits).bitwiseAND(
                        F.lit((1 << block_bits) - 1)
                    )
                    for b in range(n_blocks)
                ]
            )
        ).alias("blk", "blkval"),
    )
    left = blocks.select(
        "blk", "blkval", F.col("doc_id").alias("a"),
        F.col("frame_idx").alias("fa"), F.col("phash").alias("ph_a"),
    )
    right = blocks.select(
        "blk", "blkval", F.col("doc_id").alias("b"),
        F.col("frame_idx").alias("fb"), F.col("phash").alias("ph_b"),
    )
    matched = (
        left.join(right, ["blk", "blkval"])
        .where(F.col("a") < F.col("b"))
        .select(
            "a", "b", "fa", "fb",
            F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b"))).alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )
    return (
        matched.groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_matched"))
        .where(F.col("n_matched") >= min_frames)
    )


def dup_consensus(
    docs: DataFrame, threshold: float = 0.5, max_hamming: int = 8
) -> DataFrame:
    """Multi-signal duplicate report: pairs flagged by the text
    MinHash-LSH detector, the image perceptual-hash detector, or both
    — with ``n_signals`` marking cross-modal agreement (the
    high-precision subset a multimodal pipeline deletes outright;
    single-signal pairs go to review). Fixture media is the text bytes
    (attach_media); its fake byte-fold phash is NOT locality-sensitive,
    so near-identical texts share no phash and agreement only occurs
    on byte-identical payloads — with real image codecs the n_signals=2
    band is the dominant one.

    Plan: each side is its own bucketed candidate generation (banded
    MinHash / pHash block join — never all-pairs); the merge is one
    full-outer equi-join on the (a, b) pair key, sized by the flag
    sets, not the corpus. Oracle composes the two validated pair
    oracles verbatim."""
    from .dedup import minhash_lsh_pairs

    text_pairs = minhash_lsh_pairs(docs, n=3, threshold=threshold)
    img_pairs = phash_near_pairs(attach_media(docs), max_hamming=max_hamming)
    return (
        text_pairs.join(img_pairs, ["a", "b"], "full_outer")
        .select(
            "a",
            "b",
            (
                F.col("jaccard").isNotNull().cast("int")
                + F.col("hamming").isNotNull().cast("int")
            ).alias("n_signals"),
            F.coalesce(F.col("jaccard"), F.lit(-1.0)).alias("jaccard"),
            F.coalesce(F.col("hamming"), F.lit(-1)).alias("hamming"),
        )
    )


def audio_fingerprints(
    df: DataFrame, n_bits: int = 32, window: int = 4
) -> DataFrame:
    """Haitsma–Kalker-style audio fingerprint: the SIGN of successive
    window-energy deltas, packed into an ``n_bits``-bit integer — the
    robust shape real audio dedup uses (energy-delta signs survive
    volume/codec changes; absolute energies don't). Consumes
    audio_window_energy's integer energies, so the whole fingerprint
    is exact bit math on BIGINTs. Payloads shorter than
    ``(n_bits+1)*window`` bytes yield partial prints (high bits 0);
    ``n_windows`` is emitted so consumers can length-block. A payload
    with FEWER THAN TWO energy windows (< ~2*window bytes) has no
    delta to sign: it still gets a row, with ``afp = 0, n_windows =
    0``, so consumers can tell short audio from missing audio (docs
    with NO energy window at all stay absent — that is 'no audio').

    One doc-keyed window pass (lead) + one packing aggregate — bits at
    disjoint positions combine with ``+`` (house rule: Column ``|`` is
    boolean), inputs non-negative by construction."""
    from pyspark.sql import Window

    en = audio_window_energy(df, window=window).where(F.col("win") <= n_bits)
    w = Window.partitionBy("doc_id").orderBy("win")
    bits = (
        en.withColumn("nxt", F.lead("energy").over(w))
        .where(F.col("win") < n_bits)
        .where(F.col("nxt").isNotNull())
        .select(
            "doc_id",
            "win",
            F.when(F.col("nxt") > F.col("energy"), F.lit(1))
            .otherwise(F.lit(0))
            .alias("bit"),
        )
    )
    fps = bits.groupBy("doc_id").agg(
        # SQL form: the Python shiftleft binding wants a literal bit
        # count, the SQL function takes a column
        F.sum(
            F.col("bit") * F.expr("shiftleft(CAST(1 AS BIGINT), CAST(win AS INT))")
        ).alias("afp"),
        F.count(F.lit(1)).alias("n_windows"),
    )
    # sub-2-window docs have no delta rows and would vanish from the
    # groupBy — emit them as (afp=0, n_windows=0) via a left join from
    # the set of docs that produced at least one energy window.
    return (
        en.select("doc_id")
        .distinct()
        .join(fps, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("afp", F.lit(0).cast("long")).alias("afp"),
            F.coalesce("n_windows", F.lit(0).cast("long")).alias(
                "n_windows"
            ),
        )
    )


def audio_near_pairs(df: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Audio near-dup pairs by fingerprint Hamming distance — the AUDIO
    member of the cross-modal dedup family (md5 text / MinHash token /
    LSH embedding / pHash image / frame-pair video / THIS), using the
    same block-permutation pigeonhole as simhash_near_pairs: the
    32-bit fingerprint splits into 4 bytes; any pair within distance 3
    agrees on >= 1 byte, so candidates come from an equi-join on
    (block, value) — never all-pairs — and the exact Hamming verify
    runs only on collisions. The candidate join is ALSO blocked on
    n_windows (compare same-duration clips only — standard in audio
    matching, and it keeps zero-padded short prints from piling into
    one degenerate high-byte-0 bucket at scale)."""
    n_blocks, block_bits = 4, 8
    assert max_hamming < n_blocks
    # n_windows = 0 rows are the "too short to fingerprint" marker from
    # audio_fingerprints — they carry no signal (afp = 0 for all of
    # them) and would otherwise all collide into one degenerate bucket.
    fp = audio_fingerprints(df).where(F.col("n_windows") >= 1)
    blocks = fp.select(
        "doc_id",
        "afp",
        "n_windows",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("afp"), b * block_bits).bitwiseAND(
                        F.lit((1 << block_bits) - 1)
                    )
                    for b in range(n_blocks)
                ]
            )
        ).alias("blk", "blkval"),
    )
    left = blocks.select(
        "blk",
        "blkval",
        F.col("n_windows").alias("nw"),
        F.col("doc_id").alias("a"),
        F.col("afp").alias("fa"),
    )
    right = blocks.select(
        "blk",
        "blkval",
        F.col("n_windows").alias("nw"),
        F.col("doc_id").alias("b"),
        F.col("afp").alias("fb"),
    )
    return (
        left.join(right, ["blk", "blkval", "nw"])
        .where(F.col("a") < F.col("b"))
        .select(
            "a",
            "b",
            F.bit_count(F.col("fa").bitwiseXOR(F.col("fb"))).alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


def image_gate(
    docs: DataFrame, min_dim: int = 32, max_aspect: int = 3
) -> DataFrame:
    """Resolution/aspect-ratio quality gate — the first filter a
    multimodal training pipeline applies after decode (drop icons,
    banners, and degenerate strips before any expensive featurization).
    A decoded image passes when both dimensions reach ``min_dim`` and
    the aspect ratio is within ``max_aspect`` : 1 — checked as the
    integer cross-multiplication ``max(w, h) <= max_aspect * min(w, h)``
    (no float division anywhere), so the per-source report is exactly
    value-hashable.

    Composes the existing decode stage (``attach_media`` ->
    ``decode_image_batch``, Arrow map-only); the rollup is one
    |sources|-keyed aggregate. Emits (source, n_images, n_pass,
    pass_ppm) with ppm as a truncating integer division, mirrored."""
    meta = decode_image_batch(attach_media(docs)).join(
        docs.select("doc_id", "source"), "doc_id"
    )
    ok = (
        (F.col("width") >= min_dim)
        & (F.col("height") >= min_dim)
        & (
            F.greatest("width", "height")
            <= F.lit(max_aspect) * F.least("width", "height")
        )
    )
    return (
        meta.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_images"),
            F.sum(ok.cast("long")).alias("n_pass"),
        )
        .select(
            "source",
            "n_images",
            "n_pass",
            F.expr("n_pass * 1000000 div n_images").alias("pass_ppm"),
        )
    )


def frame_scene_cuts(
    df: DataFrame, threshold: int = 20, fake: bool = True
) -> DataFrame:
    """Scene-cut detection: a cut is a frame whose perceptual hash jumps
    >= ``threshold`` Hamming bits from the PREVIOUS frame — the standard
    cheap shot-boundary heuristic (a hard cut changes most of the
    frame's spectral signature at once; within-scene motion changes a
    few bits). Video curation uses the cut census to pick keyframes and
    to flag slideshow-like or static content (n_cuts == 0 with many
    frames).

    Rides the same fake-decoder contract as the rest of the video
    family (``frame_phash`` byte-math — the Spark-side plumbing is
    real: frame generate, Arrow hash pass, per-video lag window; only
    the codec is faked in this container). Integer end-to-end:
    bit_count(xor) vs an integer threshold, so the census value-hashes
    exactly.

    Scale: one frame generate + hash pass (map-only), one per-video
    window — no joins, no corpus-wide shuffle beyond the doc_id
    partitioning the window needs."""
    from pyspark.sql import Window

    fh = frame_phash(frame_sample(df, every_n=1), fake=fake)
    wd = Window.partitionBy("doc_id").orderBy("frame_idx")
    hm = fh.select(
        "doc_id",
        F.bit_count(
            F.col("phash").bitwiseXOR(F.lag("phash").over(wd))
        ).alias("hm"),
    )
    return (
        hm.groupBy("doc_id")
        .agg(
            (F.count(F.lit(1))).cast("long").alias("n_frames"),
            F.sum(
                F.when(F.col("hm") >= threshold, 1).otherwise(0)
            )
            .cast("long")
            .alias("n_cuts"),
            F.coalesce(F.max("hm"), F.lit(0)).cast("long").alias(
                "max_jump"
            ),
        )
    )
