"""SparkSession factory tuned for both local testing and cluster scale.

Local tests run on ``local[N]``; the same configs are the ones we would
ship to a 1000-executor cluster: AQE for runtime re-planning (skew joins,
coalesced shuffle partitions), Arrow for any Pandas-UDF boundary, UTC
session time so timestamp semantics match the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults sized for the local[32]/128GiB test box. On a real cluster the
# shuffle-partition count should be ~2-3x total executor cores (or left to
# AQE's coalescing with a high initial count); we set an explicit base and
# let AQE coalesce down.
DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))


def get_spark(
    app_name: str = "pubsub-mapreduce-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with scale-aware defaults.

    - AQE on: runtime shuffle coalescing + skew-join splitting means the
      static ``shuffle.partitions`` only needs to be an upper bound.
    - Broadcast threshold left at default (10MB): dimension tables
      (region/nation/supplier/part/customer at small SF) broadcast
      automatically; large-SF customer falls back to shuffle join, which
      is the correct behavior at 100TB.
    - UTC session timezone: parquet timestamps compare bit-identically
      with the DuckDB oracle (which is timezone-naive).
    - Streaming checkpoints go through the FileSystem-API file manager.
      For ``file://`` paths Spark would pick the FileContext manager, and
      without Hadoop's native library every ``FileContext.rename`` forks
      ``readlink`` two or three times and every create forks ``chmod``
      (once for the file, once for its ``.crc``). That made the state
      commit most of a live micro-batch's cost. ``FileSystem.rename`` on
      ``file://`` is ``rename(2)``, which is atomic, and the checkpoint
      holds the same files, checksum files included. ``extra_conf``
      overrides this default, as it overrides every other one.
    - A read of up to 1024 root paths lists them on the driver (Spark's
      threshold is 32). A file-stream micro-batch builds a file index
      over every file it picked up, and above the threshold Spark lists
      them with a distributed job of one task per path. Under the
      ``local[...]`` masters this package runs on, those tasks each stat
      one local file on the driver's own cores, and the job cost a knob
      drain batch of 40 files a quarter to half a second. ``extra_conf``
      overrides this too.
    """
    # Before the JVM launches: make google.protobuf importable from
    # the container's Cloud-SDK copy if no wheel is installed, so the
    # transformWithState state protocol works in forked Python workers
    # (they inherit $PYTHONPATH from here). No-op when protobuf exists
    # or no SDK copy is present; opt out via SPARK_GRAFT_NO_PB_SHIM=1.
    from .compat import ensure_protobuf

    ensure_protobuf()
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # the events fixture stores TIMESTAMP(NANOS) which Spark's vectorized
        # reader rejects; read as long and convert in io.read_table (ns -> us
        # truncation, matching DuckDB's read of the same file)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.spill.compress", "true")
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
