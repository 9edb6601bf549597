"""Scalar / codec functions F1-F9 from the reference (SURVEY.md section 2.4).

All are thin compositions of built-in ``pyspark.sql.functions`` — they stay
inside whole-stage codegen (no Python UDFs), so they cost nothing at 100TB.

Reference citations:
- F3 JSON dynamic field pick : knobs.go:93-100
- F4 int -> hex string       : flood.go:77  (strconv.FormatInt(id, 16))
- F5 hex string -> int       : mapper.go:99 (strconv.ParseInt(s, 16, 8))
- F6 base64 encode           : reducer.go:110
- F7 epoch-float timestamp   : simulate-knobs.go:28,66 (UnixNano()/1e9)
- F8 sine/mod/floor math     : simulate-knobs.go:66-69, knobs.go:64

The rest are one built-in each at their single call site: F1 JSON
serialize (knobs.go:72, reducer.go:105) is the device sink's
``json.dumps``, F2 typed JSON parse (flood.go:68-72) is
``parse_knob_messages``' ``from_json`` over ``KNOBS_SCHEMA``, and F9
float -> int64 truncation (knobs.go:98-99) is the ``cast("long")`` in
``sine_wave``.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

# The reference's wire schemas (SURVEY.md section 1.1), made explicit.
KNOBS_SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField("n", LongType()),
        StructField("ts", DoubleType()),  # fractional epoch seconds
    ]
)


def json_field(col: Column | str, path: str) -> Column:
    """F3: dynamic JSON field access (knobs.go:93-100)."""
    return F.get_json_object(col, path)


def int_to_hex(col: Column | str) -> Column:
    """F4: int -> lowercase base-16 string, matching Go's FormatInt
    (flood.go:77 — Go emits lowercase; Spark's ``hex`` is uppercase)."""
    return F.lower(F.hex(col))


def hex_to_int(col: Column | str) -> Column:
    """F5: base-16 string -> long. The reference parses with 8-bit width
    (mapper.go:99) so ids >127 would fail there; we keep full long range
    (divergence noted in SURVEY.md section 7)."""
    return F.conv(col, 16, 10).cast("long")


def b64_encode(col: Column | str) -> Column:
    """F6: bytes/string -> base64 (reducer.go:110)."""
    return F.base64(col if isinstance(col, Column) else F.col(col).cast("binary"))


def epoch_seconds(ts_col: Column | str) -> Column:
    """F7: timestamp -> fractional epoch seconds double, the reference's
    wire time representation (simulate-knobs.go:28)."""
    c = ts_col if isinstance(ts_col, Column) else F.col(ts_col)
    return c.cast("double")


def from_epoch_seconds(col: Column | str) -> Column:
    """F7 inverse: fractional epoch seconds -> TimestampType."""
    return F.timestamp_seconds(col if isinstance(col, Column) else F.col(col))


def sine_wave(t_seconds: Column, amplitude: Column, period_s: Column) -> Column:
    """F8: the simulator's sine profile
    ``n(t) = N * sin(pi * (t mod period) / period)`` (simulate-knobs.go:66-69),
    truncated to long as the reference does (float->int cast)."""
    phase = F.pmod(t_seconds, period_s) / period_s
    return (amplitude * F.sin(phase * math.pi)).cast("long")
