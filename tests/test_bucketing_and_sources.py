"""Bucketed co-located joins (the 100TB fact-fact join strategy) and
source-edge semantics: poison-message ingestion (C1) and the live rate
source (S2/S3)."""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from pubsub_mapreduce_spark.io import write_bucketed
from pubsub_mapreduce_spark.plans.explain import node_count
from pubsub_mapreduce_spark.sources.knobs import (
    TOTAL_KNOBS,
    knob_stream,
    parse_knob_messages,
)


def test_bucketed_join_has_no_shuffle(spark, tables):
    """Both sides bucketed on the join key -> the join plan contains no
    Exchange at all: scan partitioning IS the join partitioning."""
    write_bucketed(
        tables["orders"], "orders_b", ["o_custkey"], n_buckets=8,
        sort_by=["o_custkey"],
    )
    write_bucketed(
        tables["customer"], "customer_b", ["c_custkey"], n_buckets=8,
        sort_by=["c_custkey"],
    )
    o = spark.table("orders_b")
    c = spark.table("customer_b")
    joined = o.join(c, o.o_custkey == c.c_custkey).select(
        "o_orderkey", "c_custkey", "c_mktsegment"
    )
    assert node_count(joined, "Exchange") == 0, "bucketed join still shuffles"
    # and it is still the same answer as the plain join
    plain = tables["orders"].join(
        tables["customer"],
        tables["orders"].o_custkey == tables["customer"].c_custkey,
    )
    assert joined.count() == plain.count()


def test_bucketed_agg_has_no_shuffle(spark, tables):
    """Aggregating on the bucket key also skips the exchange."""
    write_bucketed(tables["orders"], "orders_b2", ["o_custkey"], n_buckets=8)
    agg = (
        spark.table("orders_b2")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert node_count(agg, "Exchange") == 0
    assert agg.count() == tables["orders"].select("o_custkey").distinct().count()


def test_poison_messages_dropped_not_fatal(spark):
    """C1 (knobs.go:85-90): unparseable / mistyped / incomplete messages
    are dropped; good ones flow. No exception, no poison-pill stall."""
    raw = spark.createDataFrame(
        [
            ('{"id": 1, "n": 42, "ts": 1525474779.668172}',),  # good
            ('{"id": 2, "n": 7, "ts": 1525474780.0}',),  # good
            ("not json at all",),  # poison: parse fails
            ('{"id": 3, "n": 5}',),  # poison: missing ts
            ('{"id": "x", "n": 1, "ts": 1.0}',),  # poison: wrong type
            ("",),  # poison: empty
        ],
        "value string",
    )
    out = parse_knob_messages(raw).collect()
    assert {(r["id"], r["n"]) for r in out} == {(1, 42), (2, 7)}
    assert all(r["ts"] is not None for r in out)


def test_rate_source_knob_stream_live(spark, tmp_path):
    """S2/S3 live: the rate-source knob stream produces the wire schema
    and one row per knob per tick, with the constant-n profile."""
    stream = knob_stream(spark, n=100, rows_per_second=10)
    assert stream.isStreaming
    assert [f.name for f in stream.schema.fields] == ["id", "n", "ts"]
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("knobs_live")
        .trigger(processingTime="250 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 20
        while time.time() < deadline:
            if spark.sql("select * from knobs_live").count() >= TOTAL_KNOBS:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    rows = spark.sql("select * from knobs_live").collect()
    assert len(rows) >= TOTAL_KNOBS
    assert {r["id"] for r in rows} <= set(range(TOTAL_KNOBS))
    assert all(r["n"] == 100 for r in rows)


def test_partitioned_write_prunes_at_listing_time(spark, tables, tmp_path):
    """write_partitioned + filter on the partition column -> the scan
    carries the predicate as a PartitionFilter (resolved at file-listing
    time, zero non-matching files opened) and it no longer appears in the
    data filters. Row counts unchanged vs filtering the unpartitioned
    source."""
    from pubsub_mapreduce_spark.io import write_partitioned

    path = str(tmp_path / "events_by_type")
    write_partitioned(tables["events"], path, ["event_type"])
    back = spark.read.parquet(path).where(F.col("event_type") == "error")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "event_type" in plan.split(
        "PushedFilters"
    )[0], f"partition filter not applied at listing time:\n{plan}"
    expected = tables["events"].where(F.col("event_type") == "error").count()
    assert back.count() == expected


def test_partitioned_write_splits_large_partitions(spark, tables, tmp_path):
    """maxRecordsPerFile bounds file size so one hot partition still
    reads as multiple parallel tasks."""
    import glob

    from pubsub_mapreduce_spark.io import write_partitioned

    path = str(tmp_path / "events_split")
    write_partitioned(
        tables["events"], path, ["event_type"], max_records_per_file=100
    )
    files = glob.glob(f"{path}/event_type=*/*.parquet")
    per_dir: dict[str, int] = {}
    for f in files:
        d = f.rsplit("/", 2)[1]
        per_dir[d] = per_dir.get(d, 0) + 1
    assert max(per_dir.values()) > 1, f"hot partition not split: {per_dir}"


def test_dynamic_partition_overwrite_backfills_one_day(spark, tables, tmp_path):
    """overwrite_partitions replaces only the partitions in the incoming
    frame: the corrected day changes, every other day's rows survive
    byte-for-byte — the lake backfill contract (static overwrite would
    truncate the whole dataset)."""
    from pyspark.sql import functions as F

    from pubsub_mapreduce_spark.io import overwrite_partitions, write_partitioned

    path = str(tmp_path / "events_by_day")
    ev = tables["events"].withColumn("day", F.to_date("ts"))
    write_partitioned(ev, path, ["day"])
    # materialize the pre-state driver-side: the lazy frame would re-read
    # files the overwrite is about to replace
    before_rows = spark.read.parquet(path).collect()
    target_day = min(r["day"] for r in before_rows)

    fixed = (
        ev.where(F.col("day") == F.lit(target_day))
        .withColumn("value", F.col("value") * 2)
    )
    overwrite_partitions(fixed, path, ["day"])

    after_rows = spark.read.parquet(path).collect()
    assert len(after_rows) == len(before_rows)
    # untouched days identical
    untouched = lambda rows: sorted(
        tuple(r) for r in rows if r["day"] != target_day
    )
    assert untouched(before_rows) == untouched(after_rows)
    # target day rewritten: value doubled vs the original rows
    orig = {
        r["event_id"]: r["value"] for r in before_rows if r["day"] == target_day
    }
    changed = [r for r in after_rows if r["day"] == target_day]
    assert changed and len(changed) == len(orig)
    assert all(r["value"] == orig[r["event_id"]] * 2 for r in changed)


def test_jsonl_ingest_quarantines_poison_lines(spark, tmp_path):
    """C1 analogue (knobs.go:85-90): malformed lines never fail the job —
    they land, accounted, in the quarantine side with the raw text kept;
    a wrong-typed field poisons its whole line like the reference's
    panicking callback."""
    from pubsub_mapreduce_spark.sources.ingest import (
        quarantine_stats,
        read_jsonl,
        split_quarantine,
    )

    p = tmp_path / "knobs.jsonl"
    p.write_text(
        "\n".join(
            [
                '{"id": 1, "n": 42, "ts": 1525474779.6}',
                '{"id": 2, "n": 7, "ts": 1525474780.1}',
                "{not json at all",
                '{"id": 3, "n": "abc", "ts": 1525474781.0}',  # wrong type
                '{"id": 4, "ts": 1525474782.0}',  # missing field: legal JSON
            ]
        )
    )
    df = read_jsonl(spark, str(p), "id long, n long, ts double")
    good, bad = split_quarantine(df)
    g = {r["id"]: r for r in good.collect()}
    assert set(g) == {1, 2, 4}  # missing field -> null, NOT poison
    assert g[4]["n"] is None
    raws = [r["_corrupt_record"] for r in bad.collect()]
    assert len(raws) == 2 and "{not json at all" in raws
    s = quarantine_stats(df).first()
    assert (s["n_lines"], s["n_parsed"], s["n_quarantined"]) == (5, 3, 2)


def test_jsonl_stream_matches_batch_quarantine(spark, tmp_path):
    from pubsub_mapreduce_spark.sources.ingest import (
        read_jsonl,
        read_jsonl_stream,
        split_quarantine,
    )

    d = tmp_path / "stream"
    d.mkdir()
    (d / "a.jsonl").write_text('{"id": 1, "n": 5}\nboom\n{"id": 2, "n": 6}')
    (d / "b.jsonl").write_text('{"id": 3, "n": 7}\n{"id": 4, "n": "x"}')
    schema = "id long, n long"
    stream = read_jsonl_stream(spark, str(d), schema)
    q = (
        stream.writeStream.format("memory")
        .queryName("ingest_q")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    q.stop()
    got = spark.sql("select * from ingest_q")
    batch = read_jsonl(spark, str(d), schema)
    for df in (got, batch):
        good, bad = split_quarantine(df)
        assert sorted(r["id"] for r in good.collect()) == [1, 2, 3]
        assert bad.count() == 2


def test_zorder_layout_tightens_both_dimensions(spark, tmp_path):
    """The point of z-ordering: per-file bounding boxes shrink on BOTH
    clustering columns, so row-group stats prune filters on either.
    A single-column sort only tightens its own column — pinned as the
    contrast."""
    from pyspark.sql import functions as F

    from pubsub_mapreduce_spark.io import load_tables, write_zordered
    from tests.conftest import SF_MED

    orders = load_tables(spark, SF_MED)["orders"].select(
        "o_orderkey",
        "o_custkey",
        F.datediff("o_orderdate", F.lit("1992-01-01").cast("date")).alias("day"),
    )

    def mean_spans(path):
        df = spark.read.parquet(path).withColumn("f", F.input_file_name())
        rows = (
            df.groupBy("f")
            .agg(
                (F.max("o_custkey") - F.min("o_custkey")).alias("cs"),
                (F.max("day") - F.min("day")).alias("ds"),
            )
            .collect()
        )
        n = len(rows)
        return sum(r["cs"] for r in rows) / n, sum(r["ds"] for r in rows) / n

    write_zordered(orders, str(tmp_path / "z"), "o_custkey", "day", n_files=16)
    (
        orders.repartitionByRange(16, "o_custkey")
        .sortWithinPartitions("o_custkey")
        .write.mode("overwrite")
        .parquet(str(tmp_path / "s"))
    )
    z_cust, z_day = mean_spans(str(tmp_path / "z"))
    s_cust, s_day = mean_spans(str(tmp_path / "s"))
    full_cust = 1500  # sf0.01 custkey domain
    full_day = orders.agg(F.max("day") - F.min("day")).first()[0]
    # z-order: BOTH dims tighter than the full domain
    assert z_cust < full_cust * 0.6, (z_cust, full_cust)
    assert z_day < full_day * 0.6, (z_day, full_day)
    # single-column sort: its own column tight, the other unpruned
    assert s_cust < full_cust * 0.2
    assert s_day > full_day * 0.8, (s_day, full_day)


def test_table_checksum_order_invariant_and_sensitive(spark, tables):
    from pyspark.sql import functions as F

    from pubsub_mapreduce_spark.io import table_checksum

    o = tables["orders"]
    cols = ["o_orderkey", "o_custkey", "o_orderstatus"]
    a = table_checksum(o, cols).first()
    # invariant under repartitioning and row order
    b = table_checksum(o.repartition(13).sortWithinPartitions("o_custkey"), cols).first()
    assert (a["n_rows"], a["checksum"]) == (b["n_rows"], b["checksum"])
    # sensitive to a single changed value
    mutated = o.withColumn(
        "o_custkey",
        F.when(F.col("o_orderkey") == o.select(F.min("o_orderkey")).first()[0],
               F.col("o_custkey") + 1).otherwise(F.col("o_custkey")),
    )
    c = table_checksum(mutated, cols).first()
    assert c["checksum"] != a["checksum"] and c["n_rows"] == a["n_rows"]


def test_observed_quarantine_audits_without_second_scan(spark, tmp_path):
    """The Observation-attached audit counters materialize from the SAME
    job that writes the good rows — values match the standalone stats
    pass without re-reading the input."""
    from pubsub_mapreduce_spark.sources.ingest import (
        observed_quarantine,
        read_jsonl,
        split_quarantine,
    )

    p = tmp_path / "in.jsonl"
    p.write_text('{"id": 1}\nboom\n{"id": 2}\n{"id": "x"}')
    parsed, obs = observed_quarantine(read_jsonl(spark, str(p), "id long"))
    good, _bad = split_quarantine(parsed)
    good.write.format("noop").mode("overwrite").save()  # the real job
    assert obs.get == {"n_lines": 4, "n_parsed": 2, "n_quarantined": 2}
