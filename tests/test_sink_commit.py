"""The sink's commit costs one Spark job: rows and manifest position come
from an Observation on the batch's own write (T2), so neither the sink nor
its callers scan a batch a second time. Also: empty batches commit
nothing, a torn trailing manifest line is skipped, not fatal, a stream
that loses its checkpoint still commits every row once, and a reset never
hides rows a stream did not re-ingest."""

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
from sqlserver_cdc_to_kafka_spark.streaming.windows import events_schema
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
    log = spark.read.parquet(_feed_file(spark, sf_dir, tmp_path))
    feed = log.filter(F.col("change_seq") < 1500)
    expected = feed.agg(F.count(F.lit(1)), F.max("change_seq")).collect()[0]
    sink = TransactionalDirSink(str(tmp_path / "out"), "orders")
    committed = []
    assert _jobs_in_group(spark, lambda: committed.append(sink.commit_batch(feed))) == 1
    assert committed == _manifest(sink)
    (rec,) = committed
    assert rec["position"] == expected[1]
    assert sink.read_committed(spark).count() == expected[0]

    # a batch overlapping the committed rows: the filter to rows past the
    # position runs inside the same one job
    more = log.filter(F.col("change_seq") < 3000)
    total = more.agg(F.count(F.lit(1)), F.max("change_seq")).collect()[0]
    assert _jobs_in_group(spark, lambda: committed.append(sink.commit_batch(more))) == 1
    assert committed == _manifest(sink)
    assert committed[1]["batch_id"] == 1
    assert committed[1]["position"] == total[1]
    assert sink.read_committed(spark).count() == total[0]


def test_empty_batch_commits_nothing(spark, sf_dir, tmp_path):
    feed = cdc_events(spark, sf_dir)
    sink = TransactionalDirSink(str(tmp_path / "out"), "orders")
    assert sink.commit_batch(feed.filter(F.col("change_seq") < 100))
    before = open(sink.manifest_path).read()
    assert sink.commit_batch(feed.filter(F.lit(False))) is None
    assert open(sink.manifest_path).read() == before
    assert not os.path.exists(tmp_path / "out" / "_staging" / "batch=1")
    assert not os.path.exists(tmp_path / "out" / "data" / "batch=1")
    # the id stays free: a later non-empty batch takes it
    assert sink.commit_batch(feed.filter(F.col("change_seq") >= 100))["batch_id"] == 1
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


def _write_log(path: str, n: int) -> None:
    """A change log of ``n`` inserts with change_seq 0..n-1."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    seq = pa.array(range(n), pa.int64())
    ops = pa.array([2] * n, pa.int32())
    pq.write_table(pa.table({"__operation": ops, "change_seq": seq, "o_orderkey": seq}), path)


def _drain(spark, path: str, ckpt, sink) -> None:
    """Drain the log at ``path`` into ``sink`` through a ``cdc_change_feed``
    stream checkpointed at ``ckpt``."""
    spark.dataSource.register(ChangeFeedDataSource)
    q = (
        spark.readStream.format("cdc_change_feed")
        .option("path", path)
        .option("batchSize", 2000)
        .load()
        .withColumn("__tombstone", F.lit(False))
        .writeStream.foreachBatch(foreach_batch_writer(sink))
        .option("checkpointLocation", str(ckpt))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def _seqs(spark, sink) -> list[int]:
    return sorted(r[0] for r in sink.read_committed(spark).select("change_seq").collect())


def test_stream_checkpoint_loss_commits_every_row_once(spark, tmp_path):
    """The sink ignores Spark's batch ids: when the checkpoint is lost and
    the source replans from the start, the replayed micro-batches are cut
    to the rows past the manifest's position instead of being dropped (or
    kept) whole by id."""
    path = str(tmp_path / "feed.parquet")
    ckpt = tmp_path / "ckpt"
    sink = TransactionalDirSink(str(tmp_path / "out"), "orders")

    _write_log(path, 2500)
    _drain(spark, path, ckpt, sink)
    assert sink.last_progress() == 2499
    _write_log(path, 6000)
    shutil.rmtree(ckpt)
    _drain(spark, path, ckpt, sink)

    assert _seqs(spark, sink) == list(range(6000))
    recs = _manifest(sink)
    positions = [r["position"] for r in recs]
    assert all(b > a for a, b in zip(positions, positions[1:]))
    assert positions[-1] == 5999
    ids = [r["batch_id"] for r in recs]
    assert len(ids) == len(set(ids))


def test_stream_reset_reingests_only_without_its_checkpoint(spark, tmp_path):
    """A change_rows reset makes a stream re-ingest only once its checkpoint
    is deleted too. Resumed from an intact checkpoint, the stream commits
    only the rows past that checkpoint, so reads and compaction keep the
    rows from before the reset; a fresh checkpoint re-reads the log, which
    then supersedes them."""
    path = str(tmp_path / "feed.parquet")
    ckpt = tmp_path / "ckpt"
    sink = TransactionalDirSink(str(tmp_path / "out"), "orders")
    _write_log(path, 2500)
    _drain(spark, path, ckpt, sink)

    assert sink.reset_progress() == 1
    _write_log(path, 6000)
    _drain(spark, path, ckpt, sink)
    assert _seqs(spark, sink) == list(range(6000))
    assert sink.compact(spark, ["o_orderkey"]) == 6000
    assert _seqs(spark, sink) == list(range(6000))

    assert sink.reset_progress() == 1
    shutil.rmtree(ckpt)
    _drain(spark, path, ckpt, sink)
    assert _seqs(spark, sink) == list(range(6000))
    assert sink.compact(spark, ["o_orderkey"]) == 6000
    assert _seqs(spark, sink) == list(range(6000))
    assert len(os.listdir(os.path.join(sink.root, "data"))) == 1


def test_pipeline_run_manifest_positions(spark, sf_dir, tmp_path):
    """Each trigger's record carries both the key its snapshot page ended at
    (observed on the commit's write) and the max change_seq its change
    batch holds; once the snapshot is done, records carry a position only."""
    orders = load_table(spark, sf_dir, "orders")
    feed = cdc_events(spark, sf_dir)
    sink = TransactionalDirSink(str(tmp_path / "out"), "orders")
    PipelineRun(spark, orders, feed, ["o_orderkey"], sink, batch_size=700).run()
    recs = _manifest(sink)
    seqs = sorted(r[0] for r in feed.select("change_seq").collect())
    # change batches poll the log in change_seq order, 700 rows at a time
    want = [seqs[min(i + 700, len(seqs)) - 1] for i in range(0, len(seqs), 700)]
    assert [r["position"] for r in recs] == want
    # pages read the keys high to low, 700 at a time: each ends at its lowest
    keys = sorted((r[0] for r in orders.select("o_orderkey").collect()), reverse=True)
    pages = [[keys[min(i + 700, len(keys)) - 1]] for i in range(0, len(keys), 700)]
    assert [r["snapshot_key"] for r in recs] == pages + [None] * (len(recs) - len(pages))
    for rec in recs:
        data = spark.read.parquet(str(tmp_path / "out" / "data" / f"batch={rec['batch_id']}"))
        assert rec["position"] == data.agg(F.max("change_seq")).collect()[0][0]


def test_pipeline_run_trigger_is_one_job(spark, sf_dir, tmp_path):
    """A trigger over scan-only inputs is one Spark job: the snapshot page
    and the change batch share the commit's write, which also observes the
    page's row count and low key (no cache, collect or probe job)."""
    orders = load_table(spark, sf_dir, "orders")
    feed = spark.read.parquet(_feed_file(spark, sf_dir, tmp_path))
    n_orders, n_feed = orders.count(), feed.count()
    sink = TransactionalDirSink(str(tmp_path / "out"), "orders")
    # a batch larger than both inputs: one trigger drains them
    batch = max(n_orders, n_feed) + 1
    run = PipelineRun(spark, orders, feed, ["o_orderkey"], sink, batch_size=batch)
    totals = []
    assert _jobs_in_group(spark, lambda: totals.append(run.run())) == 1
    (rec,) = _manifest(sink)
    assert rec["snapshot_key"] == [orders.agg(F.min("o_orderkey")).collect()[0][0]]
    assert rec["position"] == feed.agg(F.max("change_seq")).collect()[0][0]
    n_deletes = feed.filter(F.col("__operation") == 1).count()
    assert totals == [n_orders + n_feed + n_deletes]


def test_pipeline_run_trigger_round_trips(spark, sf_dir, tmp_path, monkeypatch):
    """A trigger builds its plan from SQL text, with no call-site capture
    (``session.get_spark``), so it costs a bounded number of py4j round
    trips rather than several per column and function (1,683 per commit
    when each builder made one Column at a time). ``m`` commands are py4j
    releasing proxies on Python GC, so their count varies from run to run."""
    from py4j.clientserver import ClientServerConnection

    orders = load_table(spark, sf_dir, "orders")
    feed = cdc_events(spark, sf_dir)
    sink = TransactionalDirSink(str(tmp_path / "out"), "orders")
    run = PipelineRun(spark, orders, feed, ["o_orderkey"], sink, batch_size=700)
    sent = []
    send = ClientServerConnection.send_command

    def counting_send(self, command):
        sent.append(command[:1])
        return send(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting_send)
    run.run()
    monkeypatch.undo()
    commits = len(sink.committed_batches())
    assert commits == 3
    assert sum(c != "m" for c in sent) <= 250 * commits


def test_sink_reads_launch_no_schema_job(spark, sf_dir, tmp_path):
    """load_table and read_committed take their schema from the parquet
    footer (equal to the one Spark infers: tests/test_footer_schema.py), so
    they launch no schema-inference job; nor does the streaming jobs'
    events schema, which load_table gives."""
    orders = load_table(spark, sf_dir, "orders")
    feed = cdc_events(spark, sf_dir)
    sink = TransactionalDirSink(str(tmp_path / "out"), "orders")
    PipelineRun(spark, orders, feed, ["o_orderkey"], sink, batch_size=700).run()
    assert _jobs_in_group(spark, lambda: load_table(spark, sf_dir, "orders")) == 0
    assert _jobs_in_group(spark, lambda: sink.read_committed(spark)) == 0
    assert _jobs_in_group(spark, lambda: events_schema(spark, sf_dir)) == 0


def test_snapshot_key_without_a_text_round_trip_raises(spark, sf_dir, tmp_path):
    """Date and decimal snapshot key values are stored as text, which the
    keyset seek casts back; a binary key has no such round trip, so its
    commit raises instead of storing a string the seek would misread."""
    import datetime
    import decimal

    page = cdc_events(spark, sf_dir).filter(F.col("change_seq") < 10)
    sink = TransactionalDirSink(str(tmp_path / "out"), "orders")
    key = [datetime.date(2020, 1, 2), decimal.Decimal("1.50")]
    assert sink.commit_batch(page, snapshot_key=key)
    assert _manifest(sink)[-1]["snapshot_key"] == ["2020-01-02", "1.50"]
    before = open(sink.manifest_path).read()
    more = cdc_events(spark, sf_dir).filter(F.col("change_seq").between(10, 19))
    with pytest.raises(TypeError):
        sink.commit_batch(more, snapshot_key=[bytearray(b"k")])
    assert open(sink.manifest_path).read() == before


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
    assert sink.commit_batch(feed.filter(F.col("change_seq") < 100))
    st = os.stat(sink.manifest_path)
    assert events[-1] == ("fsync", st.st_ino, st.st_size)

    events.clear()
    sink.compact(spark, ["o_orderkey"])
    ino = os.stat(sink.manifest_path).st_ino
    assert events.index(("replace", ino, sink.manifest_path)) > events.index(
        ("fsync", ino, os.stat(sink.manifest_path).st_size)
    )
