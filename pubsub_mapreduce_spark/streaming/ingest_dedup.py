"""Streaming near-dup ingest: the end-to-end loop a training-data
pipeline actually runs — a document stream lands in micro-batches, each
batch is LSH-matched against the ever-growing admitted corpus through
the STORED MinHash index, survivors are appended to the corpus store
and their banded rows to the index. No corpus re-signing, ever: per
batch the corpus contributes (a) an index scan whose buckets without a
batch doc drop out in the bucket aggregate and (b) one text read pruned
to verify candidates.

Tiering (the streaming dedup family, weakest->strongest):
- ``pipeline.dedup_stream``      exact content hash, watermark state
- ``pipeline.near_dedup_stream`` SimHash fingerprint equality, row-wise
- this module                    LSH candidates + exact-Jaccard verify
                                 against the FULL admitted corpus —
                                 horizon-free (the index IS the state,
                                 on storage, not in the state store)

Semantics: greedy first-wins, the same keeper rule as
``dedup.minhash_lsh_incremental`` (corpus first, then earlier-in-batch
by doc_id). A doc near-matching a REJECTED earlier doc is still
dropped — greedy admission, the standard corpus-dedup contract (the
alternative, re-checking against survivors only, would need an
in-batch sequential pass).

Delivery: Spark's foreachBatch is at-least-once — a crash between the
corpus append and checkpoint commit replays the batch. The batch-id
ledger (same pattern as ``sinks.DeviceConfigSink``) makes the replayed
side effect a no-op, upgrading the store to effectively-once.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.dedup import build_minhash_index, minhash_lsh_incremental


class LshIngest:
    """foreachBatch handler owning the admitted-corpus + index stores.

    ``store_dir`` layout: ``admitted/`` (document rows), ``index/``
    ((doc_id, band, bucket) rows — in production written bucketed by
    (band, bucket) via ``io.write_bucketed``; plain parquet here keeps
    the test store self-contained), ``ledger/`` (batch-id markers).
    """

    def __init__(
        self,
        store_dir: str,
        n: int = 3,
        threshold: float = 0.5,
    ):
        self.admitted_dir = os.path.join(store_dir, "admitted")
        self.index_dir = os.path.join(store_dir, "index")
        self.ledger_dir = os.path.join(store_dir, "ledger")
        self.n = n
        self.threshold = threshold

    def _seen(self, batch_id: int) -> bool:
        return os.path.exists(os.path.join(self.ledger_dir, f"{batch_id}.done"))

    def _mark(self, batch_id: int) -> None:
        os.makedirs(self.ledger_dir, exist_ok=True)
        with open(os.path.join(self.ledger_dir, f"{batch_id}.done"), "w") as f:
            f.write("")

    def __call__(self, batch: DataFrame, batch_id: int) -> None:
        if self._seen(batch_id):
            return
        spark = batch.sparkSession
        batch = batch.persist()
        try:
            if batch.isEmpty():
                self._mark(batch_id)
                return
            have_corpus = os.path.isdir(self.admitted_dir)
            corpus = (
                spark.read.parquet(self.admitted_dir)
                if have_corpus
                else batch.limit(0)
            )
            index = (
                spark.read.parquet(self.index_dir)
                if have_corpus
                else build_minhash_index(batch.limit(0), n=self.n)
            )
            dup_ids = (
                minhash_lsh_incremental(
                    batch,
                    corpus,
                    n=self.n,
                    threshold=self.threshold,
                    corpus_index=index,
                )
                .select(F.col("new_id").alias("doc_id"))
                .distinct()
            )
            admitted = batch.join(dup_ids, "doc_id", "left_anti").persist()
            admitted.write.mode("append").parquet(self.admitted_dir)
            build_minhash_index(admitted, n=self.n).write.mode("append").parquet(
                self.index_dir
            )
            admitted.unpersist()
            self._mark(batch_id)
        finally:
            batch.unpersist()
            # drops what this handler cached even when a write failed
            # (the LSH operator itself caches nothing); an unbounded
            # stream would otherwise accumulate cache
            spark.catalog.clearCache()


def start_lsh_ingest(
    docs_stream: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    **kwargs,
):
    """Wire a streaming documents DataFrame into the LSH ingest loop.
    Returns the StreamingQuery; admitted docs land under
    ``store_dir/admitted``."""
    writer = (
        docs_stream.writeStream.foreachBatch(LshIngest(store_dir, **kwargs))
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
