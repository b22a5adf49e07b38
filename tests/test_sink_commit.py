"""The sink's commit costs one Spark job: rows and manifest position come
from an Observation on the batch's own write (T2), so neither the sink nor
its callers scan a batch a second time. Also: empty batches commit
nothing, and a torn trailing manifest line is skipped, not fatal."""

from __future__ import annotations

import json
import os
import shutil
import uuid

import pytest
from pyspark.sql import functions as F

from sqlserver_cdc_to_kafka_spark.fixtures.cdc_events import cdc_events
from sqlserver_cdc_to_kafka_spark.sources.cdc_datasource import ChangeFeedDataSource
from sqlserver_cdc_to_kafka_spark.streaming.pipeline_run import (
    PipelineRun,
    foreach_batch_writer,
)
from sqlserver_cdc_to_kafka_spark.streaming.sinks import TransactionalDirSink
from sqlserver_cdc_to_kafka_spark.tables import load_table


def _jobs_in_group(spark, fn) -> int:
    sc = spark.sparkContext
    group = f"test-{uuid.uuid4()}"
    sc.setJobGroup(group, "job count probe")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _manifest(sink) -> list[dict]:
    with open(sink.manifest_path) as f:
        return [json.loads(line) for line in f]


def _feed_file(spark, sf_dir, tmp_path) -> str:
    """The change log as one parquet file: a scan-only source, so each
    action over it is one job (no exchange for AQE to stage)."""
    stage = tmp_path / "stage"
    cdc_events(spark, sf_dir).coalesce(1).write.parquet(str(stage))
    path = tmp_path / "feed.parquet"
    shutil.copyfile(next(stage.glob("part-*.parquet")), path)
    return str(path)


def test_commit_batch_is_one_job(spark, sf_dir, tmp_path):
    feed = spark.read.parquet(_feed_file(spark, sf_dir, tmp_path)).filter(
        F.col("change_seq") < 1500
    )
    expected = feed.agg(F.count(F.lit(1)), F.max("change_seq")).collect()[0]
    sink = TransactionalDirSink(str(tmp_path / "out"), "orders")
    committed = []
    assert _jobs_in_group(spark, lambda: committed.append(sink.commit_batch(feed, 0))) == 1
    assert committed == [True]
    (rec,) = _manifest(sink)
    assert rec["position"] == expected[1]
    assert sink.read_committed(spark).count() == expected[0]


def test_empty_batch_commits_nothing(spark, sf_dir, tmp_path):
    feed = cdc_events(spark, sf_dir)
    sink = TransactionalDirSink(str(tmp_path / "out"), "orders")
    assert sink.commit_batch(feed.filter(F.col("change_seq") < 100), 0)
    before = open(sink.manifest_path).read()
    assert sink.commit_batch(feed.filter(F.lit(False)), 1) is False
    assert open(sink.manifest_path).read() == before
    assert not os.path.exists(tmp_path / "out" / "_staging" / "batch=1")
    assert not os.path.exists(tmp_path / "out" / "data" / "batch=1")
    # the id stays free: a later non-empty batch can still take it
    assert sink.commit_batch(feed.filter(F.col("change_seq") >= 100), 1)
    assert set(sink.committed_batches()) == {0, 1}


def test_stream_launches_one_job_per_micro_batch(spark, sf_dir, tmp_path):
    path = _feed_file(spark, sf_dir, tmp_path)
    feed = spark.read.parquet(path)
    spark.dataSource.register(ChangeFeedDataSource)
    sink = TransactionalDirSink(str(tmp_path / "out"), "orders")
    q = (
        spark.readStream.format("cdc_change_feed")
        .option("path", path)
        .option("batchSize", 2000)
        .load()
        .writeStream.foreachBatch(foreach_batch_writer(sink))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(batches) >= 2
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId))
    assert len(jobs) == len(batches)
    # each manifest position is its batch's max(change_seq); the last is the log's
    recs = _manifest(sink)
    assert len(recs) == len(batches)
    for rec in recs:
        data = spark.read.parquet(str(tmp_path / "out" / "data" / f"batch={rec['batch_id']}"))
        assert rec["position"] == data.agg(F.max("change_seq")).collect()[0][0]
    assert recs[-1]["position"] == feed.agg(F.max("change_seq")).collect()[0][0]


def test_pipeline_run_manifest_positions(spark, sf_dir, tmp_path):
    """Snapshot pages record None; each change batch records the max
    change_seq it holds — the positions separate max() jobs used to give."""
    orders = load_table(spark, sf_dir, "orders")
    feed = cdc_events(spark, sf_dir)
    sink = TransactionalDirSink(str(tmp_path / "out"), "orders")
    PipelineRun(spark, orders, feed, ["o_orderkey"], sink, batch_size=700).run()
    recs = _manifest(sink)
    seqs = sorted(r[0] for r in feed.select("change_seq").collect())
    # change batches poll the log in change_seq order, 700 rows at a time
    want = [seqs[min(i + 700, len(seqs)) - 1] for i in range(0, len(seqs), 700)]
    assert [r["position"] for r in recs if r["position"] is not None] == want
    n_pages = -(-orders.count() // 700)
    assert [r["position"] for r in recs].count(None) == n_pages
    for rec in recs:
        data = spark.read.parquet(str(tmp_path / "out" / "data" / f"batch={rec['batch_id']}"))
        assert rec["position"] == data.agg(F.max("change_seq")).collect()[0][0]


def _write_manifest(sink, text: str) -> None:
    with open(sink.manifest_path, "w") as f:
        f.write(text)


def _rec(batch_id: int, position) -> str:
    return json.dumps(
        {"topic": "orders", "kind": "change_rows", "position": position, "batch_id": batch_id}
    ) + "\n"


def test_torn_trailing_manifest_line_is_skipped(tmp_path):
    sink = TransactionalDirSink(str(tmp_path / "out"), "orders")
    _write_manifest(sink, _rec(0, 10) + _rec(1, 20) + '{"topic": "orders", "ki')
    assert set(sink.committed_batches()) == {0, 1}
    assert sink.last_progress() == 20
    # the next append cuts the torn line off instead of fusing with it
    assert sink.reset_progress() == 1
    assert sink.last_progress() is None
    assert len(_manifest(sink)) == 3


def test_malformed_manifest_line_before_the_last_raises(tmp_path):
    sink = TransactionalDirSink(str(tmp_path / "out"), "orders")
    _write_manifest(sink, _rec(0, 10) + "{not json\n" + _rec(2, 30))
    with pytest.raises(ValueError):
        sink.last_progress()


def test_manifest_writes_are_fsynced(spark, sf_dir, tmp_path, monkeypatch):
    """A commit's manifest append and compaction's new manifest reach the
    disk before the call returns (append) or the rename commits (compact)."""
    events = []
    fsync, replace = os.fsync, os.replace

    def spy_fsync(fd):
        st = os.fstat(fd)
        events.append(("fsync", st.st_ino, st.st_size))
        fsync(fd)

    def spy_replace(src, dst):
        events.append(("replace", os.stat(src).st_ino, dst))
        replace(src, dst)

    monkeypatch.setattr(os, "fsync", spy_fsync)
    monkeypatch.setattr(os, "replace", spy_replace)
    feed = cdc_events(spark, sf_dir).withColumn("__tombstone", F.lit(False))
    sink = TransactionalDirSink(str(tmp_path / "out"), "orders")
    assert sink.commit_batch(feed.filter(F.col("change_seq") < 100), 0)
    st = os.stat(sink.manifest_path)
    assert events[-1] == ("fsync", st.st_ino, st.st_size)

    events.clear()
    sink.compact(spark, ["o_orderkey"])
    ino = os.stat(sink.manifest_path).st_ino
    assert events.index(("replace", ino, sink.manifest_path)) > events.index(
        ("fsync", ino, os.stat(sink.manifest_path).st_size)
    )
