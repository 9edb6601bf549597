"""What every workload shares: the metric catalogue, the pinned Spark
session, timed calls into the engine with their plan and job counts,
and the DuckDB oracle comparison."""

from __future__ import annotations

import os
import sys
import time
from dataclasses import dataclass, field
from typing import Any, Callable

from measure import Tracer, median, vm_hwm_mb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# name -> unit. Every workload reports every end-to-end metric; each is
# the workload's own reading of the quantity (see README.md).
E2E = {
    "setup_s": "s",
    "peak_mem_mb": "MiB",
    "throughput_per_s": "1/s",
    "latency_p50_s": "s",
    "quality": "ratio",
}

# Per-layer metrics. A workload that does not exercise a layer reports 0.
PER_LAYER = {
    "session.start_s": "s",
    "io.read_table_s": "s",
    "sources.read_lag_p50_s": "s",
    "sources.gen_late_p99_s": "s",
    "streaming.batches": "count",
    "streaming.rows_per_batch_p50": "rows",
    "streaming.add_batch_s_p50": "s",
    "streaming.query_planning_s_p50": "s",
    "streaming.wal_commit_s_p50": "s",
    "streaming.commit_offsets_s_p50": "s",
    "streaming.latest_offset_s_p50": "s",
    "streaming.state_commit_s_p50": "s",
    "streaming.trigger_s_p50": "s",
    "streaming.state_rows_total": "rows",
    "streaming.state_memory_bytes": "bytes",
    "sinks.call_s_p50": "s",
    "sinks.pushes": "count",
    "sinks.suppressed": "count",
    "sinks.push_retries": "count",
    "operators.plan_build_s": "s",
    "operators.relational.exec_s": "s",
    "operators.dedup.exec_s": "s",
    "operators.similarity.exec_s": "s",
    "operators.textops.exec_s": "s",
    "plans.keyed_shuffles": "count",
    "plans.broadcast_joins": "count",
    "plans.scans": "count",
    "plans.python_eval_nodes": "count",
    "session.jobs": "count",
    "session.stages": "count",
    "session.tasks": "count",
    "latency.samples": "count",
    "latency.tail_pct": "pct",
    "latency.tail_s": "s",
    "trace.spans": "count",
    "trace.overhead_frac": "ratio",
}

PYTHON_EVAL_NODES = (
    "BatchEvalPython",
    "ArrowEvalPython",
    "MapInPandas",
    "MapInArrow",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "AggregateInPandas",
    "WindowInPandas",
)


@dataclass
class Context:
    spark: Any
    tracer: Tracer
    seed: int
    seconds: float
    work: str  # this run's scratch directory inside the checkout

    def log(self, msg: str) -> None:
        print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


@dataclass
class Result:
    """A workload's outcome. ``prepare_s`` holds one entry per repeated
    input preparation; ``warmup_s`` the one-off warm-up."""

    throughput_per_s: float = 0.0
    latency_s: list[float] = field(default_factory=list)
    latency_groups: list[object] | None = None
    quality: float = 0.0
    prepare_s: list[float] = field(default_factory=list)
    read_table_s: list[float] = field(default_factory=list)
    warmup_s: float = 0.0
    measured_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)

    def check(self, ok: bool, msg: str) -> None:
        if not ok:
            self.errors.append(msg)


def start_session(work: str) -> tuple[Any, dict[str, str]]:
    """The engine's own session factory, pinned to this machine: one
    local core per CPU this process may use and, by the factory's own
    sizing rule, twice as many shuffle partitions (its default of 32 is
    sized for a 32-core box); scratch space inside the run's directory."""
    from pubsub_mapreduce_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=2 * cpus,
        extra_conf={
            # no hsperfdata files: they would go to /tmp, outside the run
            "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.streaming.numRecentProgressUpdates": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    jvm = spark.sparkContext._jvm
    info = {
        "master": spark.sparkContext.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_memory": spark.conf.get("spark.driver.memory"),
        "spark_version": spark.version,
        "java_version": jvm.java.lang.System.getProperty("java.version"),
        "cpus": str(cpus),
    }
    return spark, info


def peak_mem_mb(spark: Any) -> float:
    """Peak memory the driver holds for the program: the JVM's peak use
    of every memory pool but eden (tenured and survivor heap, code cache,
    metaspace), from its memory-pool counters, plus the Python driver's
    VmHWM. Eden is left out because its peak is the young-generation size
    the collector picks for its pause-time goal, which swings by a
    gigabyte between runs of the same work; the JVM's own VmHWM (heap
    committed, not used) swings with it."""
    mgmt = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    used = sum(
        pool.getPeakUsage().getUsed()
        for pool in mgmt.getMemoryPoolMXBeans()
        if "Eden" not in pool.getName()
    )
    return used / 2**20 + vm_hwm_mb()


def stop_session(spark: Any) -> None:
    """Stop Spark and wait until the JVM (and the Python workers it
    forked) have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def read_tables(ctx: Context, data_dir: str) -> float:
    """Resolve every table through ``io.read_table``; seconds taken."""
    from pubsub_mapreduce_spark import io

    t = time.perf_counter()
    for name in io.TABLES:
        with ctx.tracer.span("io.read_table", op=name):
            io.read_table(ctx.spark, data_dir, name)
    return time.perf_counter() - t


@dataclass
class Call:
    """One timed call: a registered query built then executed to pandas."""

    name: str
    build_s: float
    exec_s: float
    frame: Any  # pandas.DataFrame, or None when the call raised
    error: str | None = None

    @property
    def total_s(self) -> float:
        return self.build_s + self.exec_s


@dataclass
class Counts:
    """Plan and job counts summed over traced calls."""

    values: dict[str, float] = field(
        default_factory=lambda: {
            "plans.keyed_shuffles": 0.0,
            "plans.broadcast_joins": 0.0,
            "plans.scans": 0.0,
            "plans.python_eval_nodes": 0.0,
            "session.jobs": 0.0,
            "session.stages": 0.0,
            "session.tasks": 0.0,
        }
    )

    def add_plan(self, df: Any) -> None:
        """Count plan nodes with the engine's own ``plans.explain`` rules."""
        from pubsub_mapreduce_spark.plans import explain

        v = self.values
        v["plans.keyed_shuffles"] += explain.keyed_shuffle_count(df)
        v["plans.broadcast_joins"] += explain.node_count(
            df, "BroadcastHashJoin"
        ) + explain.node_count(df, "BroadcastNestedLoopJoin")
        v["plans.scans"] += explain.node_count(df, "Scan parquet")
        v["plans.python_eval_nodes"] += sum(
            explain.node_count(df, n) for n in PYTHON_EVAL_NODES
        )

    def add_jobs(self, spark: Any, group: str) -> None:
        st = spark.sparkContext.statusTracker()
        v = self.values
        for job in st.getJobIdsForGroup(group):
            info = st.getJobInfo(job)
            if info is None:
                continue
            v["session.jobs"] += 1
            for sid in info.stageIds:
                si = st.getStageInfo(sid)
                if si is not None:
                    v["session.stages"] += 1
                    v["session.tasks"] += si.numTasks


def run_call(
    ctx: Context,
    name: str,
    build: Callable[[], Any],
    layer: str,
    op: str,
    counts: Counts | None = None,
) -> Call:
    """Build a DataFrame (time inside the builder, including any eager
    work it does) and execute it to pandas, the client's consumption.
    Traced, the call runs in its own job group and its plan and job
    counts are added to ``counts`` outside the timed region."""
    sc = ctx.spark.sparkContext
    if ctx.tracer.enabled:
        with ctx.tracer.overhead():
            sc.setJobGroup(op, name)
    df = None
    t0 = time.perf_counter()
    try:
        with ctx.tracer.span("operators.plan_build", op=op):
            t0 = time.perf_counter()
            df = build()
            t1 = time.perf_counter()
        with ctx.tracer.span(f"operators.{layer}.exec", op=op):
            frame = df.toPandas()
            t2 = time.perf_counter()
        call = Call(name, t1 - t0, t2 - t1, frame)
    except Exception as e:  # a failed operation is counted, not fatal
        now = time.perf_counter()
        call = Call(name, now - t0, 0.0, None, f"{type(e).__name__}: {e}"[:500])
    if ctx.tracer.enabled and counts is not None:
        with ctx.tracer.overhead():
            if df is not None:
                counts.add_plan(df)
            counts.add_jobs(ctx.spark, op)
    return call


class _Frame:
    """Adapts a collected pandas frame to the ``toPandas()`` interface
    ``tests/oracle_check.compare`` takes, so results are compared without
    executing the query again."""

    def __init__(self, frame: Any):
        self._frame = frame

    def toPandas(self) -> Any:  # noqa: N802  (Spark's name)
        return self._frame


def oracle_mismatches(data_dir: str, calls: dict[str, Call]) -> dict[str, str]:
    """Compare each call's result with its DuckDB twin from
    ``__spark_entry__.oracle_sql()`` under the repository's compare
    contract; returns name -> reason for every mismatch."""
    sys.path.insert(0, os.path.join(ROOT, "tests"))
    import oracle_check
    from __spark_entry__ import oracle_sql

    sqls = oracle_sql()
    con = oracle_check.duck_con(data_dir)
    bad: dict[str, str] = {}
    try:
        for name, call in calls.items():
            if call.frame is None:
                bad[name] = call.error or "no result"
                continue
            try:
                oracle_check.compare(_Frame(call.frame), con, sqls[name], name)
            except AssertionError as e:
                bad[name] = str(e)[:500]
    finally:
        con.close()
    return bad


def tail_layers(res: Result) -> dict[str, float]:
    from measure import tail_percentile

    tail = tail_percentile(res.latency_s, res.latency_groups)
    return {
        "latency.samples": float(len(res.latency_s)),
        "latency.tail_pct": float(tail[0]) if tail else 0.0,
        "latency.tail_s": float(tail[1]) if tail else 0.0,
    }


def setup_seconds(session_s: float, res: Result) -> float:
    return session_s + median(res.prepare_s) + res.warmup_s


def prepare_dataset(
    ctx: Context, res: Result, reps: int, sf: float, n_docs: int, n_vecs: int
):
    """Generate the seeded tables and resolve them through
    ``io.read_table``, ``reps`` times into fresh directories (set-up is
    measured as the median repetition); the last copy is the one used.
    Returns its directory and corpus."""
    import datagen

    for rep in range(reps):
        data_dir = os.path.join(ctx.work, f"data{rep}")
        t = time.perf_counter()
        with ctx.tracer.span("setup.generate", op=f"rep{rep}"):
            corpus = datagen.write_dataset(data_dir, ctx.seed, sf, n_docs, n_vecs)
        res.read_table_s.append(read_tables(ctx, data_dir))
        res.prepare_s.append(time.perf_counter() - t)
    return data_dir, corpus
