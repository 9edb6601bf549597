"""What a long-lived process is left holding after the engine runs: no
cached relations from repeated operator calls, and no interpreter or
environment state changed by building a session."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from pubsub_mapreduce_spark.operators import dedup
from pubsub_mapreduce_spark.operators import relational as R

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_repeated_operator_calls_leave_cache_manager_empty(spark, tables):
    """Each operator that shares an intermediate relation between its
    consumers materialises it with a lazy local checkpoint, which is
    released with the relation, not registered with the session's
    CacheManager for the app's lifetime. Called twice and executed,
    they leave the CacheManager empty."""
    docs, ev = tables["documents"], tables["events"]
    calls = [
        lambda: dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.5),
        lambda: dedup.dedup_recall_report(docs),
        lambda: dedup.containment_pairs(docs, n=3, threshold=0.8),
        lambda: dedup.tf_cosine_pairs(docs, threshold=0.8),
        lambda: R.association_rules({"events": ev}),
    ]
    spark.catalog.clearCache()
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    for build in calls:
        for _ in range(2):
            build().count()
    assert cache_manager.isEmpty()


_SNAPSHOT = """
import json, os, sys
from pyspark.sql import SparkSession

# the JVM launch is not under test: stop at the builder
SparkSession.Builder.getOrCreate = lambda self: None
shim = os.path.join(sys.argv[1], ".protobuf_shim")

def state():
    return {
        "sys.path": list(sys.path),
        "PYTHONPATH": os.environ.get("PYTHONPATH"),
        "TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK": os.environ.get(
            "TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK"
        ),
        "shim": os.path.exists(shim),
    }

from pubsub_mapreduce_spark.session import get_spark

before = state()
get_spark(app_name="state-probe", master="local[1]")
print(json.dumps([before, state()]))
"""


def test_get_spark_leaves_interpreter_and_environment_unchanged():
    """Building a session changes nothing in the calling process
    before the JVM starts: ``sys.path``, ``$PYTHONPATH`` (which Python
    workers inherit) and ``TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK``
    are as they were, and no ``.protobuf_shim/`` appears in the
    checkout. Runs in a fresh interpreter whose environment carries
    neither variable, so state left by this test process cannot hide a
    change."""
    env = {
        k: v
        for k, v in os.environ.items()
        if k not in ("PYTHONPATH", "TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK")
    }
    out = subprocess.run(
        [sys.executable, "-c", _SNAPSHOT, REPO],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
        check=True,
    )
    before, after = json.loads(out.stdout.strip().splitlines()[-1])
    assert after == before
