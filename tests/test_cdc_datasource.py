"""Custom streaming DataSource tests: change-index offsets, rate limiting,
driver-side range reads, checkpoint resume, replay of an uncommitted
micro-batch, and seq gaps wider than a batch."""

from __future__ import annotations

import os
import shutil
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from sqlserver_cdc_to_kafka_spark.fixtures.cdc_events import cdc_events
from sqlserver_cdc_to_kafka_spark.sources.cdc_datasource import ChangeFeedDataSource
from sqlserver_cdc_to_kafka_spark.streaming.pipeline_run import foreach_batch_writer
from sqlserver_cdc_to_kafka_spark.streaming.sinks import TransactionalDirSink


# the driver's own OMP_NUM_THREADS as this process inherited it, read before
# any test starts a session
_DRIVER_OMP = os.environ.get("OMP_NUM_THREADS")


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
    """Each read spans at most batchSize positions from the first change_seq
    past its start, so the 9,000-position gap costs no micro-batch: 0–999
    and 10,000–10,999 at batchSize 300 drain in 4 + 4 micro-batches, none
    empty."""
    path = str(tmp_path / "feed.parquet")
    _write_gapped_log(path)
    sink = TransactionalDirSink(str(tmp_path / "out"), "orders")

    progress = _drain_into(spark, path, tmp_path / "ckpt", sink, batch_size=300)
    ran = [p["numInputRows"] for p in progress if "addBatch" in p["durationMs"]]
    assert ran == [300, 300, 300, 100] * 2  # idle-trigger progress runs no batch
    _assert_drained(spark, sink)


@pytest.mark.parametrize("stats", [True, False], ids=["stats", "no_stats"])
def test_reader_reads_only_row_groups_in_range(tmp_path, monkeypatch, stats):
    """The reader (no Spark needed) drains a multi-row-group log in windows
    of at most batchSize positions from the first change_seq past each
    offset, with replays equal to the reads. With footer statistics it
    reads only the row groups that reach into each window; without them it
    reads every group and still returns the same rows."""
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    from sqlserver_cdc_to_kafka_spark.sources.cdc_datasource import ChangeFeedStreamReader

    path = str(tmp_path / "feed.parquet")
    seq = pa.array([*range(1000), *range(10_000, 11_000)], pa.int64())
    log = pa.table({"__operation": pa.array([2] * len(seq), pa.int32()), "change_seq": seq})
    pq.write_table(log, path, row_group_size=250, write_statistics=stats)
    schema = StructType([StructField("__operation", IntegerType()), StructField("change_seq", LongType())])
    reader = ChangeFeedStreamReader(schema, {"path": path, "batchSize": 300})
    touched = []
    read_groups = pq.ParquetFile.read_row_groups

    def spy(self, groups, *args, **kwargs):
        touched.extend(groups)
        return read_groups(self, groups, *args, **kwargs)

    monkeypatch.setattr(pq.ParquetFile, "read_row_groups", spy)
    offset, sizes, seqs = {"seq": -1}, [], []
    while True:
        touched.clear()
        batches, end = reader.read(offset)
        got = [s for b in batches for s in b.column("change_seq").to_pylist()]
        if end == offset:
            assert got == []
            break
        # each group holds 250 consecutive positions: a window of 300 spans
        # at most two of them (plus the one holding the start, read for its
        # first position past the offset)
        assert len(set(touched)) <= 3 if stats else set(touched) == set(range(8))
        assert got and max(got) == end["seq"] and max(got) - min(got) < 300
        assert [s for b in reader.readBetweenOffsets(offset, end) for s in b.column(1).to_pylist()] == got
        sizes.append(len(got))
        seqs += got
        offset = end
    assert sizes == [300, 300, 300, 100] * 2
    assert seqs == seq.to_pylist()


def test_stream_drops_preupdate_rows(spark, sf_dir, tmp_path):
    """The stream path drops PreUpdate rows (op 3, P3) as the pull path's S1
    scan does: over a feed whose updates of even ``o_orderkey`` are
    relabelled op 3, a ``cdc_change_feed`` drain commits none of them and
    every other change exactly once."""
    feed = cdc_events(spark, sf_dir).withColumn(
        "__operation",
        F.expr("CASE WHEN __operation = 4 AND o_orderkey % 2 = 0 THEN 3 ELSE __operation END"),
    )
    stage = tmp_path / "stage"
    feed.coalesce(1).write.parquet(str(stage))
    path = str(tmp_path / "feed.parquet")
    shutil.copyfile(next(stage.glob("part-*.parquet")), path)
    kept = feed.filter("__operation != 3")
    assert feed.count() > kept.count()
    cols = ["__operation", "change_seq", "o_orderkey", "o_orderstatus"]
    sink = TransactionalDirSink(str(tmp_path / "out"), "orders")

    _drain_into(spark, path, tmp_path / "ckpt", sink, batch_size=700)
    got = sink.read_committed(spark).select(cols).collect()
    assert Counter(map(tuple, got)) == Counter(map(tuple, kept.select(cols).collect()))
    assert sink.last_progress() == kept.agg(F.max("change_seq")).collect()[0][0]


def test_reader_advances_past_a_preupdate_only_window(tmp_path):
    """A window whose rows are all PreUpdate returns no rows but still ends
    at its last position, in reads and in replays alike, so the stream moves
    on instead of stalling."""
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    from sqlserver_cdc_to_kafka_spark.sources.cdc_datasource import ChangeFeedStreamReader

    path = str(tmp_path / "feed.parquet")
    seq = pa.array(range(900), pa.int64())
    ops = pa.array([2] * 300 + [3] * 300 + [4] * 300, pa.int32())
    pq.write_table(pa.table({"__operation": ops, "change_seq": seq}), path)
    schema = StructType([StructField("__operation", IntegerType()), StructField("change_seq", LongType())])
    reader = ChangeFeedStreamReader(schema, {"path": path, "batchSize": 300})
    reads = []
    offset = {"seq": -1}
    while True:
        batches, end = reader.read(offset)
        rows = [r for b in batches for r in zip(*(c.to_pylist() for c in b.columns))]
        if end == offset:
            break
        assert rows == [r for b in reader.readBetweenOffsets(offset, end)
                        for r in zip(*(c.to_pylist() for c in b.columns))]
        reads.append((end["seq"], {op for op, _ in rows}))
        offset = end
    assert reads == [(299, {2}), (599, set()), (899, {4})]


def test_reader_imports_no_pandas(tmp_path):
    """A fresh source runner reads and replays without importing pandas
    (about 0.2–0.3 s of CPU per stream query when it does)."""
    import subprocess
    import sys

    path = str(tmp_path / "feed.parquet")
    _write_gapped_log(path)
    child = f"""
import sys
from pyspark.sql.types import IntegerType, LongType, StructField, StructType
from sqlserver_cdc_to_kafka_spark.sources.cdc_datasource import ChangeFeedStreamReader
schema = StructType([StructField(c, t) for c, t in
                     [("__operation", IntegerType()), ("change_seq", LongType()), ("o_orderkey", LongType())]])
reader = ChangeFeedStreamReader(schema, {{"path": {path!r}, "batchSize": 300}})
batches, end = reader.read({{"seq": 999}})
assert end == {{"seq": 10299}}, end
assert sum(b.num_rows for b in reader.readBetweenOffsets({{"seq": 999}}, end)) == 300
assert "pandas" not in sys.modules
"""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    subprocess.run([sys.executable, "-c", child], cwd=root, check=True)


def test_python_processes_get_omp_num_threads_of_task_cpus(spark, tmp_path):
    """Every Python process Spark launches gets ``OMP_NUM_THREADS`` = task
    cpus ("1" here), so numpy's BLAS pool starts one thread: the planner
    that calls a data source's ``schema()``, the stream's source runner
    that calls ``read()``, and a ``mapInPandas`` worker as before. The
    driver's own environment keeps what it inherited."""
    from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

    def omp():
        return os.environ.get("OMP_NUM_THREADS", "unset")

    class OmpReader(SimpleDataSourceStreamReader):
        def initialOffset(self):
            return {"n": 0}

        def read(self, start):
            if start["n"]:
                return iter([]), start
            return iter([(omp(),)]), {"n": 1}

    class OmpSource(DataSource):
        @classmethod
        def name(cls):
            return "omp_probe"

        def schema(self):
            return f"planner_omp_{omp()} string"

        def simpleStreamReader(self, schema):
            return OmpReader()

    spark.dataSource.register(OmpSource)
    q = (
        spark.readStream.format("omp_probe").load()
        .writeStream.format("memory")
        .queryName("omp_probe_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        q.stop()
    got = spark.sql("SELECT * FROM omp_probe_out")
    assert got.columns == ["planner_omp_1"]  # the planner's value
    assert [tuple(r) for r in got.collect()] == [("1",)]  # the runner's value

    def worker_omp(batches):
        for b in batches:
            yield b.assign(omp=omp())

    (row,) = spark.range(1).mapInPandas(worker_omp, "id long, omp string").collect()
    assert row["omp"] == "1"
    assert os.environ.get("OMP_NUM_THREADS") == _DRIVER_OMP
