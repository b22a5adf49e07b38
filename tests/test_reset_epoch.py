"""Round-6 ADVICE fixes: tombstone epochs and kind-scoped resets.

1. A tombstone written by ``TransactionalDirSink.reset_progress`` must start
   a real batch-id epoch: a from-scratch rerun whose ids restart at 0 (a
   Spark checkpoint reset alongside the progress reset) must have its
   re-ingested batches accepted by ``commit_batch`` instead of silently
   dropped against pre-reset manifest ids (the data-loss scenario the
   round-5 test avoided by re-running without a sink attached).

2. ``last_progress`` must treat a tombstone as a resume boundary only for
   its own kind — a reset scoped to snapshot_rows must not wipe the
   change_rows resume point (per-(topic, kind) scoping, like the
   reference's progress tracking).
"""

from __future__ import annotations

import itertools
import json

import pyspark.sql.functions as F

from sqlserver_cdc_to_kafka_spark.fixtures.cdc_events import cdc_events
from sqlserver_cdc_to_kafka_spark.streaming.change_feed import MicroBatcher
from sqlserver_cdc_to_kafka_spark.streaming.sinks import TransactionalDirSink


def _run_batcher(feed, sink):
    """Drain ``feed`` into ``sink`` under explicit batch ids 0, 1, ... — the
    ids a fresh Spark checkpoint hands ``foreachBatch`` — instead of the
    manifest's next ids."""
    ids = itertools.count()
    mb = MicroBatcher(
        feed, sink, batch_size=700,
        commit=lambda batch, _bid: sink.commit_batch(batch, next(ids)),
    )
    return mb.run_to_completion()


def test_sink_attached_rerun_after_reset_reingests_everything(
    spark, sf_dir, tmp_path
):
    feed = cdc_events(spark, sf_dir).filter(F.col("change_seq") < 2000)
    n_feed = feed.count()
    max_seq = feed.agg(F.max("change_seq")).collect()[0][0]
    sink = TransactionalDirSink(str(tmp_path / "t"), "t")

    assert _run_batcher(feed, sink) == n_feed
    assert sink.last_progress() == max_seq
    ids = sorted(sink.committed_batches())

    assert sink.reset_progress() == 1
    assert sink.last_progress() is None

    # the critical path: a SINK-ATTACHED rerun from scratch. Its batches
    # restart at batch_id 0, below the tombstone's id; every one must
    # commit (not be dropped as a pre-reset duplicate), and the resume
    # point must advance past the tombstone to the re-ingested position.
    assert _run_batcher(feed, sink) == n_feed
    assert sorted(sink.committed_batches()) == ids + [len(ids)]
    assert sink.last_progress() == max_seq
    # the re-ingested batches supersede the pre-reset ones: the table holds
    # the corpus exactly once
    assert sink.read_committed(spark).count() == n_feed

    # and a crash-replay of an already-committed post-reset batch id is
    # still a no-op (idempotence preserved within the new epoch)
    batch = feed.filter(F.col("change_seq") < 700)
    assert sink.commit_batch(batch, 0, 123) is False


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
