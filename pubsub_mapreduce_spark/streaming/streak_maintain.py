"""Per-user purchase streaks, batch form (``streaks_batch``), which the
registered ``purchase_streaks`` query reads.

Semantics: a user's streak is the number of CONSECUTIVE calendar days,
ending at their latest purchase day, on which they purchased. Same-day
repeats don't extend it; a gap day resets it to 1. Computed as
gaps-and-islands over each user's distinct purchase days, so the
answer does not depend on arrival order.

Reference scope: the reference has no per-key custom state machine
(its only keyed state is latest-per-key, knobs.go:101).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _purchase_days(events: DataFrame) -> DataFrame:
    return events.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("day"),
    )


def streaks_batch(events: DataFrame) -> DataFrame:
    """Gaps-and-islands over each user's distinct purchase days — the
    streak is the size of the island containing the max day. One
    shuffle on user_id; everything windows inside it."""
    from pyspark.sql import Window

    d = _purchase_days(events).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    isl = d.select(
        "user_id",
        "day",
        (F.col("day") - F.row_number().over(w)).alias("island"),
    )
    wi = Window.partitionBy("user_id")
    agg = (
        isl.groupBy("user_id", "island")
        .agg(
            F.count(F.lit(1)).cast("long").alias("len"),
            F.max("day").alias("last_day"),
        )
        .withColumn("mx", F.max("last_day").over(wi))
        .where(F.col("last_day") == F.col("mx"))
    )
    return agg.select(
        "user_id", F.col("len").alias("streak"), "last_day"
    )
