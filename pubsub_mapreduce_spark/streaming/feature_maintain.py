"""Batch per-user purchase features read back by registered queries:
the rolling spend over the last ``ROLLING_N`` purchases
(``rolling_spend_batch``) and the modal event type
(``favorite_type_batch``). Each is one user-keyed shuffle with a bounded
window inside it, and each is paired with an exact DuckDB oracle.

Reference scope: the reference's only keyed state is latest-per-key
(knobs.go:101); these are batch feature-store queries beyond it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ROLLING_N = 3


def _purchases(events: DataFrame) -> DataFrame:
    return events.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.unix_timestamp("ts").alias("ts_s"),
        F.col("event_id").alias("eid"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )


def rolling_spend_batch(events: DataFrame, n: int = ROLLING_N) -> DataFrame:
    """Per user, the sum of the last ``n`` purchase amounts by
    (ts, event_id) order plus the lifetime purchase count — one
    user-keyed shuffle, a bounded last-N window inside it. Integer
    cents end-to-end; the only division (the mean) is rounded once."""
    from pyspark.sql import Window
    from ..functions.text import round_half_up

    p = _purchases(events)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts_s").asc(), F.col("eid").asc())
        .rowsBetween(1 - n, 0)
    )
    wall = Window.partitionBy("user_id")
    ranked = p.select(
        "user_id",
        "ts_s",
        "eid",
        F.sum("cents").over(w).alias("lastn_cents"),
        F.count(F.lit(1)).over(w).cast("long").alias("lastn_len"),
        F.row_number()
        .over(
            Window.partitionBy("user_id").orderBy(
                F.col("ts_s").desc(), F.col("eid").desc()
            )
        )
        .alias("rk"),
        F.count(F.lit(1)).over(wall).cast("long").alias("n_purchases"),
    )
    return ranked.where(F.col("rk") == 1).select(
        "user_id",
        "n_purchases",
        "lastn_cents",
        "lastn_len",
        round_half_up(
            F.col("lastn_cents").cast("double")
            / F.col("lastn_len").cast("double")
            / 100.0,
            4,
        ).alias("lastn_avg"),
    )


def favorite_type_batch(events: DataFrame) -> DataFrame:
    """Per user, the modal event type under the deterministic
    (count DESC, type ASC) tie-break — one keyed rollup plus a
    |users x types|-bounded ranking window."""
    from pyspark.sql import Window

    counts = events.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("c").desc(), F.col("event_type").asc()
    )
    wall = Window.partitionBy("user_id")
    return (
        counts.select(
            "user_id",
            "event_type",
            "c",
            F.row_number().over(w).alias("rk"),
            F.sum("c").over(wall).cast("long").alias("n_total"),
        )
        .where(F.col("rk") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("fav_type"),
            F.col("c").alias("n_fav"),
            "n_total",
        )
    )
