"""Streaming semantics tests (SURVEY §2.9): micro-batch pull with progress/
resume, backpressure signaling, tombstones, snapshot+change unification,
and real Structured Streaming watermarked windows."""

from __future__ import annotations

from pyspark.sql import functions as F

from sqlserver_cdc_to_kafka_spark.fixtures.cdc_events import cdc_events
from sqlserver_cdc_to_kafka_spark.functions.datetime_fns import as_event_time
from sqlserver_cdc_to_kafka_spark.streaming.change_feed import (
    MicroBatcher,
    with_tombstones,
)
from sqlserver_cdc_to_kafka_spark.streaming.sinks import TransactionalDirSink
from sqlserver_cdc_to_kafka_spark.streaming.snapshot_stream import (
    SnapshotStream,
    unified_feed,
)
from sqlserver_cdc_to_kafka_spark.streaming.windows import (
    read_events_stream,
    run_stream_to_memory,
    streaming_dedupe,
    windowed_counts,
)
from sqlserver_cdc_to_kafka_spark.tables import load_table


def test_microbatcher_exactly_once_progress_and_resume(spark, sf_dir, tmp_path):
    feed = cdc_events(spark, sf_dir)
    total_rows = feed.count()
    sink = TransactionalDirSink(str(tmp_path / "out"), "orders")
    mb = MicroBatcher(feed, sink, batch_size=500)
    emitted = mb.run_to_completion()
    assert emitted == total_rows
    seen = [
        spark.read.parquet(str(tmp_path / "out" / "data" / f"batch={b}")).count()
        for b in sorted(sink.committed_batches())
    ]
    assert sum(seen) == total_rows
    # backpressure signal: every batch except the last is exactly full (T3)
    assert all(n == 500 for n in seen[:-1])
    # the manifest replays to the max index (T2 resume)
    assert sink.last_progress() == feed.agg(F.max("change_seq")).collect()[0][0]
    # a fresh batcher on the same sink resumes there and emits nothing
    before = open(sink.manifest_path).read()
    mb2 = MicroBatcher(feed, sink, batch_size=500)
    assert mb2.run_once() == 0
    assert open(sink.manifest_path).read() == before


def test_tombstones_follow_deletes(spark, sf_dir):
    feed = cdc_events(spark, sf_dir)
    out = with_tombstones(feed, ["o_orderkey"])
    n_deletes = feed.filter(F.col("__operation") == 1).count()
    tombs = out.filter(F.col("__tombstone"))
    assert tombs.count() == n_deletes
    assert tombs.filter(F.col("o_custkey").isNotNull()).count() == 0


def test_snapshot_stream_reverse_pagination_no_dupes_no_gaps(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    ss = SnapshotStream(orders, ["o_orderkey"], batch_size=400)
    keys: list[int] = []
    while True:
        page = ss.next_page()
        if page is None:
            break
        page_keys = [r["o_orderkey"] for r in page.select("o_orderkey").collect()]
        # the collect ran the page: its observed low key is the resume key
        assert ss.page_key() == ((min(page_keys),) if page_keys else None)
        # reverse order within each page (T7 invariant)
        assert page_keys == sorted(page_keys, reverse=True)
        keys.extend(page_keys)
    assert len(keys) == orders.count()
    assert len(set(keys)) == len(keys)  # no double-reads
    assert keys == sorted(keys, reverse=True)  # globally descending


def test_unified_feed_carries_both_snapshot_and_changes(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders").limit(100)
    feed = cdc_events(spark, sf_dir).limit(50)
    ss = SnapshotStream(orders, ["o_orderkey"], batch_size=100)
    page = ss.next_page()
    unified = unified_feed([page], feed)
    ops = {r["__operation"] for r in unified.select("__operation").distinct().collect()}
    assert 0 in ops  # snapshot rows present
    assert ops - {0}  # change rows present
    assert unified.count() == 150


def test_snapshot_unified_drain_witness_releases_its_pages(spark, sf_dir):
    """The T7 witness drains every keyset page and leaves none of them
    cached (the pager caches nothing); its union still holds every row."""
    from sqlserver_cdc_to_kafka_spark.queries.cdc import q_stream_snapshot_unified_drain

    persisted = spark.sparkContext._jsc.getPersistentRDDs
    before = persisted().size()
    out = q_stream_snapshot_unified_drain(spark, sf_dir)
    assert persisted().size() == before
    orders = load_table(spark, sf_dir, "orders")
    assert out.count() == orders.count() + cdc_events(spark, sf_dir).count()


def test_streaming_windowed_counts_match_batch(spark, sf_dir):
    ev_stream = read_events_stream(spark, sf_dir)
    run_stream_to_memory(windowed_counts(ev_stream), "win_out")
    got = {
        (r["window_start"], r["event_type"]): r["n"]
        for r in spark.sql("SELECT * FROM win_out").collect()
    }
    # batch equivalent over the same data; append mode only emits windows
    # whose end is past the final watermark (max event time - 30 min), so
    # apply the same cutoff to the batch side.
    ev = load_table(spark, sf_dir, "events")
    ev = ev.withColumn("event_time", as_event_time(ev, "ts"))
    cutoff = ev.agg(
        (F.max("event_time") - F.expr("INTERVAL 30 MINUTES")).alias("wm")
    ).collect()[0]["wm"]
    want = {
        (r["window_start"], r["event_type"]): r["n"]
        for r in ev.groupBy(F.window("event_time", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n",
        )
        .filter(F.col("window_end") <= F.lit(cutoff))
        .collect()
    }
    assert got == want
    assert len(got) > 0


def test_streaming_dedupe_drops_duplicate_ids(spark, sf_dir):
    ev_stream = read_events_stream(spark, sf_dir)
    run_stream_to_memory(streaming_dedupe(ev_stream), "dedupe_out")
    n = spark.sql("SELECT COUNT(*) AS n FROM dedupe_out").collect()[0]["n"]
    n_src = load_table(spark, sf_dir, "events").count()
    assert n == n_src  # fixture ids are unique; dedupe must not drop real rows
