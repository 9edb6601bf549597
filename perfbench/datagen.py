"""Seeded input generation for the benchmark.

Every table has the schema of the engine's parquet fixtures (the ten
tables ``pubsub_mapreduce_spark.io.TABLES`` names), so the registered
queries and their DuckDB twins run on them unchanged. Each table is one
parquet file with one row group, the fixtures' layout. The same seed
always gives the same bytes.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "old", "large", "hot", "cold", "red", "small", "new"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
LANGS = ["en", "en", "en", "es", "zh", "de", "fr"]
N_SOURCES = 20
EMB_DIM = 64
EXACT_FRAC = 0.05  # share of documents that are planted exact copies
NEAR_FRAC = 0.10  # share that are planted near copies
MIN_NEAR_JACCARD = 0.6  # word 3-shingle Jaccard of a near copy and its original

DAY_US = 86_400_000_000
ORDER_DAY0 = np.datetime64("1995-01-01", "us")
EVENT_T0 = np.datetime64("2024-01-01", "us")


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    path = os.path.join(out_dir, f"{name}.parquet")
    tmp = path + ".tmp"
    pq.write_table(table, tmp, row_group_size=max(1, table.num_rows))
    os.replace(tmp, path)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform 2-decimal amounts: integer cents, so every value is the
    shortest decimal the fixtures' exact-DECIMAL oracles expect."""
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.array(values, dtype=object)[rng.integers(0, len(values), n)])


def _dates(rng: np.random.Generator, day0: np.datetime64, days: int, n: int) -> pa.Array:
    d = day0 + rng.integers(0, days, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), type=pa.timestamp("us"))


def star_tables(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    """The TPC-H-shaped star schema plus ``events`` at scale ``sf``
    (sf 0.1 = 600k lineitems, the fixtures' bench size)."""
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(10, int(200_000 * sf))
    n_ord = max(10, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_users = max(10, int(15_000 * sf))
    n_events = max(10, int(1_000_000 * sf))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    adj = np.array(PART_ADJ, dtype=object)[rng.integers(0, len(PART_ADJ), n_part)]
    noun = np.array(PART_NOUN, dtype=object)[rng.integers(0, len(PART_NOUN), n_part)]
    keys = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(keys),
            "p_name": pa.array(adj + " " + noun),
            "p_brand": pa.array(
                np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)).astype(object)
            ),
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": 900.0 + (keys % 1000) / 10.0,
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
            "o_orderstatus": _pick(rng, ["O", "F", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _dates(rng, ORDER_DAY0, 2404, n_ord),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line).astype(np.int64)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["O", "F"], n_line),
            "l_shipdate": _dates(rng, ORDER_DAY0 + np.timedelta64(1, "D"), 2499, n_line),
        }
    )
    offs = np.sort(rng.integers(0, 30 * DAY_US, n_events))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
            "ts": pa.array(EVENT_T0 + offs.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_events).astype(np.int64)),
            "event_type": _pick(rng, EVENT_TYPES, n_events),
            "value": _money(rng, 0.0, 560.0, n_events),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]
            ),
        }
    )
    return t


@dataclass
class Corpus:
    """A seeded document corpus with planted duplicates.

    ``exact_copies`` maps each planted exact copy to its original (same
    text up to case and surrounding blanks, which ``exact_dedup``
    normalizes away). ``near_pairs`` are (original, copy) doc ids whose
    word 3-shingle Jaccard is at least ``MIN_NEAR_JACCARD``."""

    docs: pa.Table
    exact_copies: dict[int, int] = field(default_factory=dict)
    near_pairs: list[tuple[int, int]] = field(default_factory=list)


def shingles(text: str, n: int = 3) -> set[str]:
    """Distinct word n-grams of lower-cased, whitespace-normalized text:
    the sets ``dedup.minhash_lsh_pairs`` verifies Jaccard on."""
    w = text.lower().split()
    return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}


def jaccard(a: set[str], b: set[str]) -> float:
    return len(a & b) / len(a | b) if a or b else 1.0


def _vocab(rng: np.random.Generator, size: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    while len(words) < size:
        k = int(rng.integers(3, 9))
        words.add("".join(letters[rng.integers(0, 26, k)]))
    return sorted(words)


def corpus(rng: np.random.Generator, n_docs: int) -> Corpus:
    """``n_docs`` documents: originals of 15-90 words drawn Zipf-like
    from a 400-word vocabulary (some carrying a URL or an e-mail address
    for ``clean_text`` to strip), then planted exact copies and near
    copies (a few words replaced) of randomly chosen originals."""
    vocab = np.array(_vocab(rng, 400), dtype=object)
    weights = 1.0 / np.arange(1, len(vocab) + 1)
    weights /= weights.sum()
    n_exact = int(n_docs * EXACT_FRAC)
    n_near = int(n_docs * NEAR_FRAC)
    n_orig = n_docs - n_exact - n_near
    texts: list[str] = []
    seen: set[str] = set()
    while len(texts) < n_orig:
        words = list(vocab[rng.choice(len(vocab), int(rng.integers(15, 91)), p=weights)])
        r = rng.random()
        if r < 0.1:
            words.insert(int(rng.integers(0, len(words))), f"https://{words[0]}.example/{words[-1]}")
        elif r < 0.2:
            words.insert(int(rng.integers(0, len(words))), f"{words[0]}@{words[-1]}.example")
        text = " ".join(words)
        if text.lower().strip() not in seen:
            seen.add(text.lower().strip())
            texts.append(text)
    out = Corpus(docs=pa.table({}))
    sh = [shingles(t) for t in texts]
    while len(texts) < n_orig + n_exact:
        src = int(rng.integers(0, n_orig))
        variant = texts[src].upper() if rng.random() < 0.5 else texts[src]
        out.exact_copies[len(texts)] = src
        texts.append(" " * int(rng.integers(0, 3)) + variant + " " * int(rng.integers(0, 3)))
    while len(texts) < n_docs:
        src = int(rng.integers(0, n_orig))
        words = texts[src].split()
        if len(words) < 30:
            continue
        for _ in range(max(1, len(words) // 40)):
            words[int(rng.integers(0, len(words)))] = str(vocab[rng.integers(0, len(vocab))])
        text = " ".join(words)
        if text.lower().strip() in seen or jaccard(sh[src], shingles(text)) < MIN_NEAR_JACCARD:
            continue
        seen.add(text.lower().strip())
        out.near_pairs.append((src, len(texts)))
        texts.append(text)
    ids = np.arange(n_docs, dtype=np.int64)
    out.docs = pa.table(
        {
            "doc_id": pa.array(ids),
            "text": texts,
            "lang": _pick(rng, LANGS, n_docs),
            "source": pa.array([f"src{i % N_SOURCES}" for i in range(n_docs)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    return out


def embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """Unit-norm float32 vectors in ten loose clusters (``label``)."""
    labels = rng.integers(0, 10, n)
    centers = rng.standard_normal((10, EMB_DIM))
    v = centers[labels] + 1.5 * rng.standard_normal((n, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }
    )


def write_dataset(
    out_dir: str, seed: int, sf: float, n_docs: int, n_vecs: int
) -> Corpus:
    """Write all ten tables under ``out_dir``; return the corpus with its
    planted duplicates (also written as ``planted.json``)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    for name, table in star_tables(rng, sf).items():
        _write(out_dir, name, table)
    c = corpus(rng, n_docs)
    _write(out_dir, "documents", c.docs)
    _write(out_dir, "embeddings", embeddings(rng, n_vecs))
    with open(os.path.join(out_dir, "planted.json"), "w") as f:
        json.dump({"exact_copies": c.exact_copies, "near_pairs": c.near_pairs}, f)
    return c
