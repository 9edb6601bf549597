"""Round-4 ADVICE regression pins:

1. asof_join must carry ALL right-side fields from ONE right row even
   when value columns contain NULLs (single-struct carry, no stitching).
2. winnow_fingerprints must stay key-correct for docs longer than the
   2^20 position budget (hard truncation, no negative-offset bleed).
3. dsir_score must Laplace-smooth tokens whose buckets are absent from
   the model (left join + coalesce, dense-model totals) and count them
   in n_toks.
4. interval_overlap_join must NOT match degenerate (empty) intervals.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from pubsub_mapreduce_spark.operators import rangejoin as RJ


def _ts(s):
    return datetime.fromisoformat(s)


def test_asof_join_null_value_columns_single_row(spark):
    """Right rows with NULLs in some value columns: every carried field
    must come from the nearest right row — a NULL there stays NULL, it
    must NOT be back-filled from an older right row."""
    left = spark.createDataFrame(
        [(1, _ts("2024-01-01 10:00:00"))], "id long, lt timestamp"
    )
    right = spark.createDataFrame(
        [
            # older row: both values present
            (1, _ts("2024-01-01 08:00:00"), 100.0, "old"),
            # nearest row: v1 is NULL — the old 100.0 must not leak in
            (1, _ts("2024-01-01 09:00:00"), None, "new"),
        ],
        "id long, rt timestamp, v1 double, v2 string",
    )
    out = RJ.asof_join(
        left, right, on=["id"], left_time="lt", right_time="rt",
        value_cols=["v1", "v2"],
    ).collect()
    assert len(out) == 1
    assert out[0]["asof_v1"] is None and out[0]["asof_v2"] == "new"


def test_asof_join_tolerance_uses_matched_row_time(spark):
    """Tolerance must measure the gap to the row the values came from."""
    left = spark.createDataFrame(
        [(1, _ts("2024-01-01 10:00:00"))], "id long, lt timestamp"
    )
    right = spark.createDataFrame(
        [
            (1, _ts("2024-01-01 06:00:00"), "far"),
            (1, _ts("2024-01-01 09:30:00"), "near"),
        ],
        "id long, rt timestamp, v string",
    )
    out = RJ.asof_join(
        left, right, on=["id"], left_time="lt", right_time="rt",
        value_cols=["v"], tolerance_s=3600,
    ).collect()
    assert out[0]["asof_v"] == "near"
    out2 = RJ.asof_join(
        left, right, on=["id"], left_time="lt", right_time="rt",
        value_cols=["v"], tolerance_s=60,
    ).collect()
    assert out2[0]["asof_v"] is None  # near is 30 min away: over budget


def test_asof_join_null_right_time_not_candidate(spark):
    left = spark.createDataFrame(
        [(1, _ts("2024-01-01 10:00:00"))], "id long, lt timestamp"
    )
    right = spark.createDataFrame(
        [(1, None, "ghost")], "id long, rt timestamp, v string"
    )
    out = RJ.asof_join(
        left, right, on=["id"], left_time="lt", right_time="rt",
        value_cols=["v"],
    ).collect()
    assert out[0]["asof_v"] is None


def test_interval_overlap_skips_empty_intervals(spark):
    """An empty interval strictly inside a real one satisfies the raw
    predicate but overlaps nothing under half-open semantics."""
    big = spark.createDataFrame(
        [(1, _ts("2024-01-01"), _ts("2024-01-10"))],
        "lid long, start timestamp, end timestamp",
    )
    empt = spark.createDataFrame(
        [
            (10, _ts("2024-01-05"), _ts("2024-01-05")),  # empty, inside
            (11, _ts("2024-01-06"), _ts("2024-01-04")),  # negative
            (12, _ts("2024-01-03"), _ts("2024-01-04")),  # real: matches
        ],
        "rid long, start timestamp, end timestamp",
    )
    got = {r["rid_r"] for r in RJ.interval_overlap_join(big, empt).collect()}
    assert got == {12}


def test_winnow_overlong_doc_positions_stay_valid(spark):
    """A doc past the 2^20-char budget must yield only non-negative
    fingerprint positions inside the truncated prefix — the old encoding
    bled negative (2^20 - pos) offsets into the hash bits."""
    from pubsub_mapreduce_spark.operators.dedup import (
        _WINNOW_POS,
        winnow_fingerprints,
    )

    # repeating non-periodic-ish text comfortably past the budget
    text = ("abcdefghij klmnopqrst uvwxyz0123 " * ((_WINNOW_POS // 33) + 40))
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    fp = winnow_fingerprints(docs, k=8, w=16).collect()
    assert fp, "truncated doc must still fingerprint"
    assert all(0 <= r["fp_pos"] < _WINNOW_POS for r in fp)
    assert all(r["fp_hash"] >= 0 for r in fp)


def test_dsir_score_unseen_buckets_laplace(spark):
    """Scoring a corpus disjoint from the model's build corpus: tokens
    hashing to unseen buckets count in n_toks and contribute the
    Laplace prior (r1=t1=1), matching a densified model exactly."""
    from pubsub_mapreduce_spark.operators.sampling import (
        _dsir_buckets,
        dsir_model,
        dsir_score,
    )

    ref = spark.createDataFrame(
        [(1, "en", "alpha beta gamma"), (2, "de", "delta epsilon")],
        "doc_id long, lang string, text string",
    )
    new = spark.createDataFrame(
        [(10, "en", "zeta eta theta iota kappa")],
        "doc_id long, lang string, text string",
    )
    model = dsir_model(ref, "en", 256)
    out = dsir_score(new, model, 256).collect()
    assert len(out) == 1 and out[0]["n_toks"] == 5
    # replicate against an explicitly densified model
    dense = (
        spark.range(256)
        .select(F.col("id").cast("long").alias("bkt"))
        .join(model, "bkt", "left")
        .select(
            "bkt",
            F.coalesce("r1", F.lit(1)).alias("r1"),
            F.coalesce("t1", F.lit(1)).alias("t1"),
        )
    )
    nr = dense.agg(F.sum("r1")).collect()[0][0]
    nt = dense.agg(F.sum("t1")).collect()[0][0]
    toks = (
        _dsir_buckets(new, 256)
        .join(dense, "bkt")
        .agg(F.sum("t1").alias("st"), F.sum("r1").alias("sr"))
        .collect()[0]
    )
    want = round((toks["st"] * nr) / (toks["sr"] * nt), 6)
    assert abs(out[0]["importance"] - want) < 1e-9


def test_skyline_oracle_window_form_equals_not_exists():
    """The sweep-killing O(n^2) NOT-EXISTS skyline oracle was rewritten
    as the sorted-pass window form; pin their equivalence (DuckDB-only,
    row-set equality at sf0.01)."""
    import duckdb

    import __spark_entry__ as entrymod

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW orders AS SELECT * FROM "
        "'/root/testdata/sf0.01/orders.parquet'"
    )
    naive = """
        WITH t AS (
          SELECT o_orderkey, o_totalprice,
                 CAST(datediff('day', DATE '1992-01-01', o_orderdate)
                      AS INTEGER) AS order_day
          FROM orders)
        SELECT q.o_orderkey, q.o_totalprice, q.order_day
        FROM t q
        WHERE NOT EXISTS (
          SELECT 1 FROM t p
          WHERE (p.o_totalprice <= q.o_totalprice
                 AND p.order_day < q.order_day)
             OR (p.o_totalprice < q.o_totalprice
                 AND p.order_day <= q.order_day))
    """
    a = sorted(map(tuple, con.execute(naive).fetchall()))
    b = sorted(
        map(
            tuple,
            con.execute(entrymod.oracle_sql()["skyline_orders"]).fetchall(),
        )
    )
    assert a and a == b
