"""End-to-end pipeline integration (§3.1 hot loop): snapshot + changes +
tombstones + metrics -> transactional sink, then self-validation over the
committed output with the engine's own validators (§5 as product)."""

from __future__ import annotations

import json
import os
import time
from collections import Counter

import pytest
from pyspark.sql import functions as F

from sqlserver_cdc_to_kafka_spark.fixtures.cdc_events import cdc_events
from sqlserver_cdc_to_kafka_spark.model.envelope import OP_DELETE
from sqlserver_cdc_to_kafka_spark.operators.compaction import last_value_per_key
from sqlserver_cdc_to_kafka_spark.operators.validation import topic_summary
from sqlserver_cdc_to_kafka_spark.streaming.change_feed import MicroBatcher
from sqlserver_cdc_to_kafka_spark.streaming.metrics import (
    AccumulatingReporter,
    ReporterBase,
)
from sqlserver_cdc_to_kafka_spark.streaming.pipeline_run import PipelineRun
from sqlserver_cdc_to_kafka_spark.streaming.sinks import TransactionalDirSink
from sqlserver_cdc_to_kafka_spark.tables import load_table


def _setup(spark, sf_dir, tmp_path, batch_size=700):
    orders = load_table(spark, sf_dir, "orders")
    feed = cdc_events(spark, sf_dir)
    sink = TransactionalDirSink(str(tmp_path / "out"), "orders")
    rep = AccumulatingReporter()
    run = PipelineRun(
        spark, orders, feed, ["o_orderkey"], sink, [rep], batch_size=batch_size
    )
    return orders, feed, sink, rep, run


class Crash(Exception):
    """Stands in for the process dying at the point it is raised."""


def _crash_after_commit(sink, k):
    """Crash right after the sink's k-th commit returns."""
    commit, done = sink.commit_batch, []

    def commit_batch(*args, **kwargs):
        ok = commit(*args, **kwargs)
        done.append(bool(ok))
        if done.count(True) == k:
            raise Crash
        return ok

    sink.commit_batch = commit_batch


def _committed_rows(spark, sink) -> Counter:
    # snapshot rows stamp __event_time with the wall clock at run time
    out = sink.read_committed(spark)
    read_time = F.when(F.col("__operation") != 0, F.col("__event_time"))
    return Counter(map(repr, out.withColumn("__event_time", read_time).collect()))


def _manifest_ids(sink) -> list[int]:
    with open(sink.manifest_path) as f:
        return [json.loads(line)["batch_id"] for line in f]


def test_pipeline_end_to_end_with_self_validation(spark, sf_dir, tmp_path):
    orders, feed, sink, rep, run = _setup(spark, sf_dir, tmp_path)
    total = run.run()
    n_orders = orders.count()
    n_changes = feed.count()
    n_deletes = feed.filter(F.col("__operation") == OP_DELETE).count()
    assert total == n_orders + n_changes + n_deletes  # snapshots+changes+tombstones

    out = sink.read_committed(spark)
    assert out.count() == total

    # --- §5 validator 1 over our own output: counts by kind reconcile
    summary = topic_summary(
        out.filter(~F.col("__tombstone")).withColumn("t", F.lit("orders")),
        ["t"],
        ["o_orderkey"],
    ).collect()[0]
    assert summary["n_snapshots"] == n_orders
    assert summary["n_total"] == n_orders + n_changes
    assert summary["n_deletes"] == n_deletes

    # --- compaction over snapshot+changes+tombstones == replaying the feed
    live = last_value_per_key(
        out.withColumn(
            "order_in_batch",
            F.when(F.col("__tombstone"), F.lit(1)).otherwise(F.lit(0)),
        ).withColumn(
            # tombstones carry NULL change_seq (payload nulled); they sort
            # AFTER everything for their key (emitted right after the delete)
            "ordk",
            F.struct(
                F.coalesce("change_seq", F.lit(2**62)).alias("seq"),
                "order_in_batch",
            ),
        ),
        ["o_orderkey"],
        "ordk",
        drop_deleted=False,
    )
    # keys whose last record is a tombstone are gone after compaction
    gone = live.filter(F.col("__tombstone"))
    assert gone.count() == feed.filter(F.col("__operation") == OP_DELETE).count()

    # --- metrics reported for every committed batch; tombstones are rows
    # but not deletes
    assert [m.batch_id for m in rep.emitted] == sorted(sink.committed_batches())
    assert sum(m.rows for m in rep.emitted) == total
    assert sum(m.deletes for m in rep.emitted) == n_deletes


def test_pipeline_resume_after_crash(spark, sf_dir, tmp_path):
    """A run that dies after its second commit resumes from the manifest:
    the rerun commits and reports exactly the rows the crash left out, and
    a run over the finished sink commits nothing."""
    orders, feed, sink, rep, run = _setup(spark, sf_dir, tmp_path, batch_size=500)
    n_deletes = feed.filter(F.col("__operation") == OP_DELETE).count()
    n_total = orders.count() + feed.count() + n_deletes
    _crash_after_commit(sink, 2)
    with pytest.raises(Crash):
        run.run()
    before = sink.read_committed(spark).count()
    assert 0 < before < n_total

    _, _, sink2, rep2, run2 = _setup(spark, sf_dir, tmp_path, batch_size=500)
    assert run2.run() == n_total - before
    assert sink2.read_committed(spark).count() == n_total
    assert sum(m.rows for m in rep2.emitted) == n_total - before
    assert [m.batch_id for m in rep2.emitted] == sorted(sink2.committed_batches())[2:]

    _, _, sink3, rep3, run3 = _setup(spark, sf_dir, tmp_path, batch_size=500)
    assert run3.run() == 0
    assert rep3.emitted == []
    assert sink3.read_committed(spark).count() == n_total


def test_second_run_returns_only_its_own_rows(spark, sf_dir, tmp_path):
    """run() returns the rows that call committed: a second run over the
    drained sink commits and reports nothing, so it returns 0."""
    _, _, sink, rep, run = _setup(spark, sf_dir, tmp_path)
    assert run.run() == sink.read_committed(spark).count()
    n_reports = len(rep.emitted)
    assert run.run() == 0
    assert len(rep.emitted) == n_reports


class _EmitClock(ReporterBase):
    """Notes the wall clock at each emit beside the record emitted."""

    def __init__(self) -> None:
        self.emitted: list[tuple] = []

    def emit(self, metrics) -> None:
        self.emitted.append((metrics, time.time()))


def test_batch_metrics_interval_starts_before_its_commit(spark, sf_dir, tmp_path):
    """A batch's metrics interval starts when its commit starts, so it ends
    (start + batch_seconds) no later than the record is emitted."""
    orders = load_table(spark, sf_dir, "orders")
    sink = TransactionalDirSink(str(tmp_path / "out"), "orders")
    clock = _EmitClock()
    PipelineRun(
        spark, orders, cdc_events(spark, sf_dir), ["o_orderkey"], sink, [clock],
        batch_size=700,
    ).run()
    assert len(clock.emitted) == len(sink.committed_batches())
    for m, emitted_at in clock.emitted:
        assert m.interval_start_ts + m.batch_seconds <= emitted_at


def test_pull_drivers_drop_preupdate_rows(spark, sf_dir, tmp_path):
    """Both pull drivers poll through the S1 scan, which drops PreUpdate
    rows (op 3, P3). Over a feed whose updates of even ``o_orderkey`` are
    relabelled op 3, PipelineRun and a standalone MicroBatcher commit none
    of them, every other change exactly once, and end at the last position
    of the rest. The stream path's twin is
    ``test_cdc_datasource.test_stream_drops_preupdate_rows``."""
    feed = cdc_events(spark, sf_dir).withColumn(
        "__operation",
        F.expr("CASE WHEN __operation = 4 AND o_orderkey % 2 = 0 THEN 3 ELSE __operation END"),
    )
    kept = feed.filter("__operation != 3")
    assert feed.count() > kept.count()
    change_cols = ["__operation", "change_seq", "o_orderkey", "o_orderstatus"]
    want = Counter(tuple(r) for r in kept.select(change_cols).collect())
    last = kept.agg(F.max("change_seq")).collect()[0][0]
    orders = load_table(spark, sf_dir, "orders")

    run_sink = TransactionalDirSink(str(tmp_path / "run"), "orders")
    PipelineRun(spark, orders, feed, ["o_orderkey"], run_sink, batch_size=700).run()
    mb_sink = TransactionalDirSink(str(tmp_path / "mb"), "orders")
    assert MicroBatcher(feed, mb_sink, batch_size=700).run_to_completion() == len(want)

    for sink in (run_sink, mb_sink):
        out = sink.read_committed(spark)
        changes = out.filter("change_seq IS NOT NULL").select(change_cols).collect()
        assert Counter(tuple(r) for r in changes) == want
        assert sink.last_progress() == last
    assert run_sink.read_committed(spark).filter("__operation = 0").count() == orders.count()


CRASH_POINTS = range(1, 4)


@pytest.fixture(scope="module")
def uninterrupted(spark, sf_dir, tmp_path_factory):
    """The committed rows of a run that is never interrupted (batch 700)."""
    _, _, sink, _, run = _setup(spark, sf_dir, tmp_path_factory.mktemp("whole"))
    run.run()
    # 3 commits at sf0.001, each a snapshot page with a change batch:
    # CRASH_POINTS covers a crash after every commit
    assert len(sink.committed_batches()) == len(CRASH_POINTS)
    return _committed_rows(spark, sink)


@pytest.mark.parametrize("k", CRASH_POINTS)
def test_crash_after_commit_k_resumes_exactly_once(
    spark, sf_dir, tmp_path, uninterrupted, k
):
    _, _, sink, _, run = _setup(spark, sf_dir, tmp_path)
    _crash_after_commit(sink, k)
    with pytest.raises(Crash):
        run.run()
    assert len(_manifest_ids(sink)) == k

    _, _, sink2, _, run2 = _setup(spark, sf_dir, tmp_path)
    run2.run()
    assert _committed_rows(spark, sink2) == uninterrupted
    ids = _manifest_ids(sink2)
    assert len(ids) == len(set(ids)) == len(CRASH_POINTS)


@pytest.mark.parametrize("n", [2, 3], ids=["full_page", "last_page"])
def test_crash_between_data_rename_and_manifest_append(
    spark, sf_dir, tmp_path, uninterrupted, n
):
    """The n-th commit dies after its data directory is renamed into place
    but before its manifest record is appended: the directory is invisible,
    and the resumed run commits the same batch id over it. Commit 2 holds a
    full snapshot page, commit 3 the short last one (it completes the
    snapshot); each holds a change batch too."""
    _, _, sink, _, run = _setup(spark, sf_dir, tmp_path)
    append, calls = sink._append, []

    def torn_append(*records):
        calls.append(records)
        if len(calls) == n:
            raise Crash
        append(*records)

    sink._append = torn_append
    with pytest.raises(Crash):
        run.run()
    assert _manifest_ids(sink) == list(range(n - 1))
    assert os.path.isdir(tmp_path / "out" / "data" / f"batch={n - 1}")

    _, _, sink2, _, run2 = _setup(spark, sf_dir, tmp_path)
    run2.run()
    assert _committed_rows(spark, sink2) == uninterrupted
    ids = _manifest_ids(sink2)
    assert len(ids) == len(set(ids)) == len(CRASH_POINTS)


def test_failed_snapshot_commit_releases_its_page(spark, sf_dir, tmp_path):
    """A commit that raises on the first snapshot page leaves no page
    cached for the rest of the session."""
    _, _, sink, _, run = _setup(spark, sf_dir, tmp_path)

    def commit_batch(*args, **kwargs):
        raise Crash

    sink.commit_batch = commit_batch
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    with pytest.raises(Crash):
        run.run()
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == before


def test_date_keyed_snapshot_resumes_after_crash(spark, tmp_path):
    """A snapshot key JSON has no type for (a date) is stored so that the
    resumed run's keyset seek restores it: a crash after the first page
    resumes below that page, and every row commits exactly once."""
    day = F.lit("2020-01-01").cast("date")
    table = spark.range(1200).select(
        F.date_add(day, F.col("id").cast("int")).alias("d"), F.col("id").alias("v")
    )
    feed = spark.range(50).select(
        F.lit(4).alias("__operation"),
        F.col("id").alias("change_seq"),
        F.date_add(day, F.col("id").cast("int")).alias("d"),
        (F.col("id") + 1000).alias("v"),
    )

    def run(crash_after=None):
        sink = TransactionalDirSink(str(tmp_path / "out"), "days")
        if crash_after:
            _crash_after_commit(sink, crash_after)
        return sink, PipelineRun(spark, table, feed, ["d"], sink, batch_size=500)

    sink, crashing = run(crash_after=1)
    with pytest.raises(Crash):
        crashing.run()
    assert len(_manifest_ids(sink)) == 1

    left = 1200 + 50 - sink.read_committed(spark).count()  # the rows the crash left
    assert left == 1200 - 500  # the first commit held page 1 and all 50 changes
    sink, resumed = run()
    assert resumed.run() == left
    got = Counter(
        tuple(r) for r in sink.read_committed(spark).select("__operation", "d", "v").collect()
    )
    want = Counter(tuple(r) for r in table.select(F.lit(0), "d", "v").collect())
    want.update(tuple(r) for r in feed.select("__operation", "d", "v").collect())
    assert got == want
    ids = _manifest_ids(sink)
    assert len(ids) == len(set(ids)) == 3  # pages of 500, 500 and 200 rows


def test_rerun_after_compaction_commits_nothing(spark, sf_dir, tmp_path):
    """compact() keeps the change position and the snapshot key, so a rerun
    over the compacted sink neither re-snapshots nor re-tails."""
    _, _, sink, _, run = _setup(spark, sf_dir, tmp_path)
    run.run()
    n_live = sink.compact(spark, ["o_orderkey"])
    _, _, sink2, rep2, run2 = _setup(spark, sf_dir, tmp_path)
    assert run2.run() == 0
    assert rep2.emitted == []
    assert sink2.read_committed(spark).count() == n_live


def test_compact_counts_from_its_own_write(spark, sf_dir, tmp_path, monkeypatch):
    """compact() takes its row count from an Observation on the compacted
    write: it never reads its own staged generation back."""
    from pyspark.sql import DataFrameReader

    _, _, sink, _, run = _setup(spark, sf_dir, tmp_path)
    run.run()
    read, paths = DataFrameReader.parquet, []

    def parquet(self, *args, **kwargs):
        paths.extend(args)
        return read(self, *args, **kwargs)

    monkeypatch.setattr(DataFrameReader, "parquet", parquet)
    n_live = sink.compact(spark, ["o_orderkey"])
    assert paths and not [p for p in paths if "_staging" in p]
    assert n_live == sink.read_committed(spark).count()


def test_sink_log_compaction(spark, sf_dir, tmp_path):
    orders, feed, sink, rep, run = _setup(spark, sf_dir, tmp_path)
    run.run()
    resume_before = sink.last_progress()
    n_batches_before = len(sink.committed_batches())
    assert n_batches_before > 1

    n_live = sink.compact(spark, ["o_orderkey"])

    # surviving keys = all orders minus deleted ones (fixture: delete ⊂ insert)
    n_deleted = feed.filter(F.col("__operation") == OP_DELETE).count()
    assert n_live == orders.count() - n_deleted

    out = sink.read_committed(spark)
    assert out.count() == n_live
    assert out.select("o_orderkey").distinct().count() == n_live
    # compaction must not move the resume point
    assert sink.last_progress() == resume_before
    assert len(sink.committed_batches()) == 1

    # deleted keys are really gone; updated keys carry the updated status
    deleted_keys = {r[0] for r in feed.filter(F.col("__operation") == 1)
                    .select("o_orderkey").collect()}
    live_keys = {r[0] for r in out.select("o_orderkey").collect()}
    assert not (deleted_keys & live_keys)
    updated = out.filter((F.col("o_orderkey") % 5 == 0))
    assert updated.filter(F.col("o_orderstatus") != "U").count() == 0


def test_reset_progress_wipes_everything(spark, sf_dir, tmp_path):
    from sqlserver_cdc_to_kafka_spark.streaming.sinks import reset_progress

    orders, feed, sink, rep, run = _setup(spark, sf_dir, tmp_path)
    run.run()
    assert sink.last_progress() is not None
    reset_progress(sink)
    assert sink.last_progress() is None
    assert sink.committed_batches() == {}
    # a fresh run re-snapshots and re-tails from scratch
    orders2, feed2, sink2, rep2, run2 = _setup(spark, sf_dir, tmp_path)
    total = run2.run()
    assert total > 0
    assert sink2.read_committed(spark).count() == total


def test_foreachbatch_binding_with_readstream(spark, sf_dir, tmp_path):
    """readStream → foreachBatch(TransactionalDirSink) → exactly-once across
    a restart: Spark checkpoint replays the epoch, the sink dedupes it."""
    import shutil

    from sqlserver_cdc_to_kafka_spark.streaming.pipeline_run import (
        foreach_batch_writer,
    )
    from sqlserver_cdc_to_kafka_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type",
        F.col("event_id").alias("change_seq"),
    )
    src = tmp_path / "src"; src.mkdir()
    ckpt = tmp_path / "ckpt"
    for i, part in enumerate([ev.filter(F.col("event_id") < 500),
                              ev.filter(F.col("event_id") >= 500)]):
        stage = tmp_path / f"s{i}"
        part.coalesce(1).write.mode("overwrite").parquet(str(stage))
        shutil.copyfile(next(stage.glob("part-*.parquet")), src / f"{i}.parquet")

    sink = TransactionalDirSink(str(tmp_path / "out"), "events")

    def run_once():
        q = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
            .writeStream.foreachBatch(foreach_batch_writer(sink))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    n1 = sink.read_committed(spark).count()
    assert n1 == ev.count()
    run_once()  # restart with nothing new: no dupes
    assert sink.read_committed(spark).count() == n1
    assert sink.last_progress() == ev.agg(F.max("event_id")).collect()[0][0]


def test_compaction_twice_with_new_batches_between(spark, sf_dir, tmp_path):
    """Second compaction over (compacted generation + fresh batches)."""
    orders, feed, sink, rep, run = _setup(spark, sf_dir, tmp_path)
    run.run()
    n1 = sink.compact(spark, ["o_orderkey"])
    # new change batch arrives after compaction: re-insert 5 deleted keys
    deleted = feed.filter(F.col("__operation") == 1).orderBy("change_seq").limit(5)
    revived = deleted.withColumn("__operation", F.lit(2)).withColumn(
        "change_seq", F.col("change_seq") + 1_000_000
    ).withColumn("__tombstone", F.lit(False))
    next_id = max(sink.committed_batches()) + 1
    assert sink.commit_batch(revived)["batch_id"] == next_id
    n2 = sink.compact(spark, ["o_orderkey"])
    assert n2 == n1 + 5
    assert sink.last_progress() == revived.agg(F.max("change_seq")).collect()[0][0]
    out = sink.read_committed(spark)
    assert out.count() == n2
