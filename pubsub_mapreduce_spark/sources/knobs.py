"""Knob sources: the reference's simulator (simulate-knobs.go) and the
knobs subscriber's parse (knobs.go:85-100) re-expressed in Spark.

- ``parse_knob_messages``: wire JSON -> typed knob rows, dropping poison
  messages; the streaming source is a ``FileTopic`` subscription
  (``sources/topic.py``) parsed by it.
- ``knob_batch``: deterministic batch replay of the simulator for
  oracle-checked tests (``spark.range`` + column math, no Python).

Output schema of both: ``id long, n long, ts timestamp`` — the knobs
wire message (simulate-knobs.go:25-29) with ``ts`` upgraded from
epoch-double to a real TimestampType at the edge (SURVEY.md section 1.4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.codecs import sine_wave

TOTAL_KNOBS = 5  # util/util.go:10
CYCLE_BASE_S = 20  # simulate-knobs.go:21: period = 20*(id+1) seconds


def _with_knob_value(df: DataFrame, n: int, cycle: bool) -> DataFrame:
    """Attach the simulator's value profile: constant ``n`` or the sine
    wave n(t) = N*sin(pi*(t mod 20(id+1))/(20(id+1))) (simulate-knobs.go:64-71)."""
    if not cycle:
        return df.withColumn("n", F.lit(n).cast("long"))
    period = (F.col("id") + 1) * CYCLE_BASE_S
    t = F.col("ts").cast("double")
    return df.withColumn("n", sine_wave(t, F.lit(n), period.cast("double")))


def parse_knob_messages(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """C1 poison-message semantics (SURVEY.md §2.5): the reference acks
    and drops any message whose parse panics (knobs.go:85-90), so poison
    messages never kill the pipeline and never block the subscription.

    Spark form: PERMISSIVE ``from_json`` turns unparseable payloads into
    a null struct, and missing/mistyped fields into null fields — we keep
    rows with a usable (id, n, ts) and drop the rest, exactly the
    reference's drop-but-continue behavior (its exactly-once upgrade is
    the checkpoint, not this filter). Works identically on batch and
    streaming DataFrames."""
    from ..functions.codecs import KNOBS_SCHEMA, from_epoch_seconds

    parsed = raw.select(
        F.from_json(F.col(value_col).cast("string"), KNOBS_SCHEMA).alias("m")
    )
    return (
        parsed.where(
            F.col("m").isNotNull()
            & F.col("m.id").isNotNull()
            & F.col("m.n").isNotNull()
            & F.col("m.ts").isNotNull()
        )
        .select(
            F.col("m.id").alias("id"),
            F.col("m.n").alias("n"),
            from_epoch_seconds(F.col("m.ts")).alias("ts"),
        )
    )


def knob_batch(
    spark: SparkSession,
    n: int = 10000,
    cycle: bool = False,
    ticks: int = 100,
    start_epoch_s: int = 1_704_067_200,  # 2024-01-01T00:00:00Z
    tick_ms: int = 250,
) -> DataFrame:
    """Deterministic batch replay of the simulator: ``ticks`` ticks x
    TOTAL_KNOBS knobs, tick period 250ms (simulate-knobs.go:20). Pure
    ``spark.range`` + expressions — reproducible, partition-parallel."""
    base = (
        spark.range(ticks)
        .select(
            F.col("id").alias("tick"),
            F.explode(F.sequence(F.lit(0), F.lit(TOTAL_KNOBS - 1))).alias("id"),
        )
        .select(
            F.col("id").cast("long").alias("id"),
            F.timestamp_seconds(
                F.lit(start_epoch_s) + F.col("tick") * F.lit(tick_ms / 1000.0)
            ).alias("ts"),
        )
    )
    return _with_knob_value(base, n, cycle).select("id", "n", "ts")
