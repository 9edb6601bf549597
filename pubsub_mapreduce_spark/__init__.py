"""PySpark-native analytics engine with the capabilities of the
davidcavazos/PubSub-MapReduce reference pipeline, extended with a batch
relational surface and large-scale training-data-pipeline operators.

Layout
------
- ``session``   : tuned SparkSession builder (AQE, shuffle partitions, UTC)
- ``io``        : fixture readers (parquet star schema + events/documents/embeddings)
- ``functions`` : scalar/codec/text/vector helpers (reference F1-F9 + extras)
- ``operators`` : batch operator library — the reference pipeline T1-T8,
                  relational query builders, dedup, similarity, multimodal
- ``sources``   : knob parse and batch replay, the file-backed topic
- ``streaming`` : Structured Streaming forms of the reference pipeline
- ``plans``     : physical-plan introspection helpers (pushdown/broadcast asserts)

All reference citations in docstrings are ``file:line`` into the read-only
reference checkout; the implementations here are Spark-first re-expressions,
not ports.
"""

__version__ = "0.1.0"
