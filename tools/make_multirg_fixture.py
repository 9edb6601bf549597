"""Build a MULTI-FILE variant of an sf fixture directory for
measurement-only use (VERDICT r9 #8).

Every sf0.1 fixture table is a single parquet file with ONE row group,
so every Spark scan arrives as ONE partition and the first map stage of
every query runs single-threaded regardless of cores — the measured
root cause of the flat 8-vs-32-core scaling ratios (the plans
parallelize; the local fixture can't). This tool rewrites each table as
N files (row-preserving, deterministic order column untouched) into a
sibling directory; point the profiler at it for scaling studies:

  python tools/make_multirg_fixture.py SF_DIR OUT_DIR 8
  SPARK_GRAFT_SF_DIR=OUT_DIR python tools/profile_query.py NAME...

NEVER use the variant for oracle or timing runs meant to compare with
the single-file fixtures; it exists only so core-scaling measurements
reflect plan quality instead of the fixture's layout.
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

from pubsub_mapreduce_spark.session import get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def main() -> None:
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    dst = (
        sys.argv[2]
        if len(sys.argv) > 2
        else src.rstrip("/") + "-multi8"
    )
    n = int(sys.argv[3]) if len(sys.argv) > 3 else 8
    spark = get_spark(
        app_name="make-multirg",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(dst, exist_ok=True)
    for t in TABLES:
        df = spark.read.parquet(os.path.join(src, f"{t}.parquet"))
        out = os.path.join(dst, f"{t}.parquet")
        # row-preserving round-robin split; io.read_table globs
        # directories and single files alike
        df.repartition(n).write.mode("overwrite").parquet(out)
        print(t, "->", out, flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
