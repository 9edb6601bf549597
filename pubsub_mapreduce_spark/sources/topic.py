"""File-backed topic: the test/local stand-in for the reference's
Pub/Sub topics (util/util.go:25-43 get-or-create topic,
util/util.go:45-70 get-or-create subscription).

A "topic" is an append-only parquet directory; publishing is an
append write (batch) or an append-mode streaming sink (continuous);
subscribing is a file-source streaming read. A broker connector
would bind to the same call shape — every operator up- and downstream
sees an identical DataFrame (SURVEY.md §2.1 S1, §4).

Semantics vs the reference:
- get-or-create: the directory is created on first publish; subscribing
  to a not-yet-published topic needs an explicit schema (like a
  subscription existing before traffic).
- competing consumers: Spark partition-parallel tasks replace replica
  pods sharing one subscription (deploy:74-77).
- delivery: checkpointed exactly-once per query, an upgrade over the
  reference's at-least-once ack-after-process (SURVEY.md §2.5 C1).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery


class FileTopic:
    def __init__(self, path: str):
        self.path = path

    # -- publish (K1: the batched topic sink) --------------------------

    def publish(self, df: DataFrame) -> None:
        """Batch publish: one append write == one flushed publish batch
        (the reference's time/count/byte-threshold buffering collapses
        into the caller's batch boundary)."""
        df.write.mode("append").parquet(self.path)

    def publish_stream(
        self,
        df: DataFrame,
        checkpoint: str,
        trigger_once: bool = True,
        processing_time: str | None = None,
    ) -> StreamingQuery:
        """Continuous publish: append-mode parquet sink. The micro-batch
        trigger IS the publish batching (knobs.go:51-55's DelayThreshold
        == trigger interval)."""
        w = (
            df.writeStream.outputMode("append")
            .format("parquet")
            .option("path", self.path)
            .option("checkpointLocation", checkpoint)
        )
        if processing_time is not None:
            w = w.trigger(processingTime=processing_time)
        elif trigger_once:
            w = w.trigger(availableNow=True)
        return w.start()

    # -- subscribe (S1: the subscription source) -----------------------

    def subscribe(
        self,
        spark: SparkSession,
        schema: str,
        max_files_per_trigger: int | None = None,
    ) -> DataFrame:
        """Streaming read of the topic. ``max_files_per_trigger`` is the
        flow-control knob (the reference's MaxOutstandingMessages,
        mapper.go:48-51)."""
        r = spark.readStream.schema(schema)
        if max_files_per_trigger is not None:
            r = r.option("maxFilesPerTrigger", max_files_per_trigger)
        return r.parquet(self.path)

    def read_batch(self, spark: SparkSession) -> DataFrame:
        """Batch replay of everything ever published."""
        return spark.read.parquet(self.path)

    def exists(self) -> bool:
        return os.path.isdir(self.path)
