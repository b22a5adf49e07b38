"""Custom streaming DataSource tests: change-index offsets, rate limiting,
driver-side range reads, checkpoint resume, replay of an uncommitted
micro-batch, and seq gaps wider than a batch."""

from __future__ import annotations

import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from sqlserver_cdc_to_kafka_spark.fixtures.cdc_events import cdc_events
from sqlserver_cdc_to_kafka_spark.sources.cdc_datasource import ChangeFeedDataSource
from sqlserver_cdc_to_kafka_spark.streaming.pipeline_run import foreach_batch_writer
from sqlserver_cdc_to_kafka_spark.streaming.sinks import TransactionalDirSink


def _materialize_feed(spark, sf_dir, tmp_path):
    feed = cdc_events(spark, sf_dir)
    stage = tmp_path / "stage"
    feed.coalesce(1).write.mode("overwrite").parquet(str(stage))
    path = tmp_path / "feed.parquet"
    shutil.copyfile(next(stage.glob("part-*.parquet")), path)
    return feed, str(path)


def test_stream_reads_everything_in_rate_limited_batches(spark, sf_dir, tmp_path):
    feed, path = _materialize_feed(spark, sf_dir, tmp_path)
    spark.dataSource.register(ChangeFeedDataSource)
    stream = (
        spark.readStream.format("cdc_change_feed")
        .option("path", path)
        .option("batchSize", 2000)
        .option("seqColumn", "change_seq")
        .load()
    )
    assert stream.isStreaming
    # default trigger (not availableNow): every micro-batch re-plans its
    # offset window, so the T3 rate limit drains the log batch by batch
    q = (
        stream.writeStream.format("memory")
        .queryName("cdc_src_out")
        .start()
    )
    q.processAllAvailable()
    n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
    q.stop()

    got = spark.sql("SELECT * FROM cdc_src_out")
    assert got.count() == feed.count()
    # content identical (sum over a couple of columns)
    assert (
        got.agg(F.sum("change_seq"), F.sum("o_orderkey")).collect()
        == feed.agg(F.sum("change_seq"), F.sum("o_orderkey")).collect()
    )
    # rate limiting actually split the read into multiple micro-batches
    max_seq = feed.agg(F.max("change_seq")).collect()[0][0]
    assert n_batches >= max_seq // 2000


def test_stream_checkpoint_resume_no_duplicates(spark, sf_dir, tmp_path):
    feed, path = _materialize_feed(spark, sf_dir, tmp_path)
    spark.dataSource.register(ChangeFeedDataSource)
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"

    def run_once():
        # availableNow: processes up to the offset visible at start — with
        # the rate limit that is one batch per run; repeated runs catch up
        # from the checkpoint (the reference's run-till-stopped supervisor)
        q = (
            spark.readStream.format("cdc_change_feed")
            .option("path", path)
            .option("batchSize", 2000)
            .load()
            .writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    n_feed = feed.count()
    prev = -1
    for _ in range(10):
        run_once()
        n = spark.read.parquet(str(out)).count()
        assert n >= prev  # never loses data
        if n == n_feed and n == prev:
            break  # converged AND an extra restart added nothing
        prev = n
    got = spark.read.parquet(str(out))
    assert got.count() == n_feed  # everything arrived exactly once
    assert got.select("change_seq").distinct().count() == n_feed


def _write_gapped_log(path: str) -> None:
    """2,000 inserts: change_seq 0–999, then a gap, then 10,000–10,999."""
    seq = pa.array([*range(1000), *range(10_000, 11_000)], pa.int64())
    ops = pa.array([2] * len(seq), pa.int32())
    pq.write_table(pa.table({"__operation": ops, "change_seq": seq, "o_orderkey": seq}), path)


def _drain_into(spark, path, ckpt, sink, batch_size, fail_on=None):
    """Drain ``path`` into ``sink`` through ``foreach_batch_writer``; the
    micro-batch numbered ``fail_on`` raises before it commits."""
    spark.dataSource.register(ChangeFeedDataSource)
    write = foreach_batch_writer(sink)

    def on_batch(batch, batch_id):
        if batch_id == fail_on:
            raise RuntimeError(f"micro-batch {batch_id} fails")
        write(batch, batch_id)

    q = (
        spark.readStream.format("cdc_change_feed")
        .option("path", path)
        .option("batchSize", batch_size)
        .load()
        .writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", str(ckpt))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return q.recentProgress


def _assert_drained(spark, sink):
    seqs = sink.read_committed(spark).select("change_seq")
    assert seqs.count() == seqs.distinct().count() == 2000
    assert sink.last_progress() == 10999


def test_restart_replays_the_uncommitted_micro_batch(spark, tmp_path):
    """A micro-batch whose foreachBatch raises stays in Spark's offset log
    uncommitted; the restart on the same checkpoint re-reads exactly its
    range through readBetweenOffsets (nothing is prefetched in the new
    runner), then drains the rest."""
    path = str(tmp_path / "feed.parquet")
    _write_gapped_log(path)
    sink = TransactionalDirSink(str(tmp_path / "out"), "orders")
    ckpt = tmp_path / "ckpt"

    with pytest.raises(StreamingQueryException):
        _drain_into(spark, path, ckpt, sink, batch_size=400, fail_on=2)
    assert sink.last_progress() == 799

    progress = _drain_into(spark, path, ckpt, sink, batch_size=400)
    assert progress[0]["batchId"] == 2
    assert progress[0]["numInputRows"] == 200  # change_seq 800–999
    _assert_drained(spark, sink)


def test_seq_gap_wider_than_a_batch_drains(spark, tmp_path):
    """Each read advances at most batchSize positions, so the 9,000-position
    gap is crossed by empty micro-batches instead of stalling the stream."""
    path = str(tmp_path / "feed.parquet")
    _write_gapped_log(path)
    sink = TransactionalDirSink(str(tmp_path / "out"), "orders")

    progress = _drain_into(spark, path, tmp_path / "ckpt", sink, batch_size=300)
    assert max(p["numInputRows"] for p in progress) <= 300
    _assert_drained(spark, sink)
