"""Tombstone epochs and kind-scoped resets.

1. A tombstone written by ``TransactionalDirSink.reset_progress`` must start
   a real epoch: a from-scratch rerun must have its re-ingested batches
   accepted by ``commit_batch`` instead of silently dropped against
   pre-reset progress, and once they commit, reads and compaction must see
   only them, so the table holds the source exactly once.

2. ``last_progress`` must treat a tombstone as a resume boundary only for
   its own kind — a reset scoped to snapshot_rows must not wipe the
   change_rows resume point (per-(topic, kind) scoping, like the
   reference's progress tracking).
"""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F

from sqlserver_cdc_to_kafka_spark.fixtures.cdc_events import cdc_events
from sqlserver_cdc_to_kafka_spark.streaming.change_feed import MicroBatcher
from sqlserver_cdc_to_kafka_spark.streaming.sinks import TransactionalDirSink


def _run_batcher(feed, sink):
    return MicroBatcher(feed, sink, batch_size=700).run_to_completion()


def test_sink_attached_rerun_after_reset_reingests_everything(
    spark, sf_dir, tmp_path
):
    feed = cdc_events(spark, sf_dir).filter(F.col("change_seq") < 2000)
    n_feed = feed.count()
    max_seq = feed.agg(F.max("change_seq")).collect()[0][0]
    sink = TransactionalDirSink(str(tmp_path / "t"), "t")

    assert _run_batcher(feed, sink) == n_feed
    assert sink.last_progress() == max_seq
    n_ids = len(sink.committed_batches())

    assert sink.reset_progress() == 1
    assert sink.last_progress() is None

    # the critical path: a SINK-ATTACHED rerun from scratch. Every batch
    # must commit (not be dropped against pre-reset progress), under fresh
    # ids after the tombstone's, and the resume point must advance past the
    # tombstone to the re-ingested position.
    assert _run_batcher(feed, sink) == n_feed
    assert sorted(sink.committed_batches()) == list(range(2 * n_ids + 1))
    assert sink.last_progress() == max_seq
    # the re-ingested batches supersede the pre-reset ones: the table holds
    # the corpus exactly once
    assert sink.read_committed(spark).count() == n_feed

    # and a crash-replay of an already-committed post-reset batch is still
    # a no-op (idempotence preserved within the new epoch)
    batch = feed.filter(F.col("change_seq") < 700)
    before = open(sink.manifest_path).read()
    assert sink.commit_batch(batch) is None
    assert open(sink.manifest_path).read() == before


def test_reset_hides_the_old_epoch_from_reads_and_compaction(
    spark, sf_dir, tmp_path
):
    """After a change_rows reset and a rerun over a smaller source, reads
    and compaction see only the rerun's batches, and compaction deletes the
    superseded directories."""
    feed = cdc_events(spark, sf_dir).withColumn("__tombstone", F.lit(False))
    sink = TransactionalDirSink(str(tmp_path / "t"), "t")
    _run_batcher(feed.filter(F.col("change_seq") < 2000), sink)
    assert sink.reset_progress() == 1
    later = feed.filter(F.col("change_seq") < 1000)
    _run_batcher(later, sink)

    def rows(df):
        return sorted(df.select("change_seq").collect())

    assert rows(sink.read_committed(spark)) == rows(later)
    # one survivor per key of the rerun, none of the keys only the first
    # epoch held
    keys = {r[0] for r in later.select("o_orderkey").collect()}
    assert sink.compact(spark, ["o_orderkey"]) == len(keys)
    got = sink.read_committed(spark).select("o_orderkey").collect()
    assert sorted(r[0] for r in got) == sorted(keys)
    (rec,) = sink.committed_batches().values()
    assert os.listdir(os.path.join(sink.root, "data")) == [rec["path"]]


def test_tombstone_only_bounds_its_own_kind(spark, sf_dir, tmp_path):
    feed = cdc_events(spark, sf_dir).filter(F.col("change_seq") < 2000)
    max_seq = feed.agg(F.max("change_seq")).collect()[0][0]
    sink = TransactionalDirSink(str(tmp_path / "t"), "t")
    _run_batcher(feed, sink)

    # hand-write a snapshot_rows record then reset ONLY snapshot_rows
    with open(sink.manifest_path, "a") as f:
        f.write(
            json.dumps(
                {
                    "topic": "t",
                    "kind": "snapshot_rows",
                    "position": "key=42",
                    "batch_id": 999,
                }
            )
            + "\n"
        )
    assert sink.last_progress("snapshot_rows") == "key=42"
    assert sink.reset_progress(kinds=("snapshot_rows",)) == 1

    # snapshot progress wiped; change_rows resume UNAFFECTED
    assert sink.last_progress("snapshot_rows") is None
    assert sink.last_progress() == max_seq
    assert sink.last_progress("change_rows") == max_seq
