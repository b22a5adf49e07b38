"""Structured-Streaming change-feed pipeline (SURVEY §2.9 T1-T11).

The reference's hot loop (``cdc_kafka/main.py:203-353``) polls CDC tables on
a 3-10 s cadence, heap-merges rows in ChangeIndex order up to the common
frontier, produces them with per-topic progress records in one Kafka
transaction, and emits delete tombstones. Spark-first restatement:

- **source** (T1/T3): a micro-batch over the change feed. In production this
  is ``readStream`` against Kafka/Delta-CDF; for a keyset-polled JDBC source
  the same batching happens in ``foreachBatch`` pull mode — each trigger
  issues the S1 window scan from the last committed position, bounded by
  ``batch_size`` (the reference's lagging-table backpressure:
  a full batch means "still behind, poll again immediately").
- **progress** (T2): the sink's manifest is the only progress state, as the
  compacted progress topic is the reference's (progress_tracking.py:235-258).
  A trigger reads its start position from the manifest and commits data
  and new position together under an id the sink picks, so a batcher that
  starts on a sink — after a clean stop or a crash — picks up where the
  last commit left off.
- **order** (O1/O2): within a micro-batch, emission is ordered by the change
  index (repartitionByRange + sortWithinPartitions at scale).

This module holds the pull-mode pieces: the tombstone expansion and a
MicroBatcher that polls a static feed through the S1 scan
(``sources/snapshot.change_window_scan``). The ``readStream`` path reads
through ``sources/cdc_datasource`` and commits with
``pipeline_run.foreach_batch_writer`` instead.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from sqlserver_cdc_to_kafka_spark.model.envelope import OP_DELETE
from sqlserver_cdc_to_kafka_spark.sources.snapshot import change_window_scan
from sqlserver_cdc_to_kafka_spark.streaming.sinks import TransactionalDirSink
from sqlserver_cdc_to_kafka_spark.tables import quote

DEFAULT_BATCH_SIZE = 2000  # options.py:282-285


def with_tombstones(batch: DataFrame, key_cols: Sequence[str]) -> DataFrame:
    """T6: append a (key, null-payload) companion row after every Delete.
    Tombstones sort directly after their delete event (same index, higher
    emission order) so compaction applies them last. One pass over
    ``batch``: each delete row is exploded into itself and its tombstone,
    so an uncached batch is evaluated once."""
    out = batch.selectExpr(
        "*",
        f"explode(CASE WHEN __operation = {OP_DELETE} THEN array(false, true) "
        "ELSE array(false) END) AS __tombstone",
    )
    return out.selectExpr(
        *[
            quote(c) if c in key_cols or c == "__operation"
            else f"CASE WHEN NOT __tombstone THEN {quote(c)} END AS {quote(c)}"
            for c in batch.columns
        ],
        "__tombstone",
    )


@dataclass
class MicroBatcher:
    """Pull-mode micro-batch driver over a bounded feed (the shape of a
    foreachBatch JDBC puller). It keeps no progress of its own: each trigger
    polls after the sink's last committed position and commits through the
    sink, which numbers the batch — data and progress in one commit, as in
    the reference's transaction (main.py:319-350)."""

    feed: DataFrame
    sink: TransactionalDirSink
    batch_size: int = DEFAULT_BATCH_SIZE
    # commits a batch to ``sink``, truthy when it did; ``sink.commit_batch``
    # when None
    commit: Callable[[DataFrame], object] | None = None

    def run_once(self, snapshot: DataFrame | None = None) -> int:
        """One trigger: poll (the S1 scan past the committed position, so
        PreUpdate rows are dropped, P3) → commit, with the ``snapshot`` rows
        (on the feed's columns) in the same commit when given (T7: a
        snapshot page and a change batch share one write and one manifest
        record).
        Returns the change rows polled, 0 when the feed holds nothing past
        the committed position. A full batch (== batch_size) signals a
        lagging table: the caller should immediately re-trigger (T3)
        instead of waiting the poll interval. The rows are counted by an
        Observation on the commit's own write, so polling costs no job of
        its own."""
        obs = Observation()
        batch = change_window_scan(
            self.feed, self.sink.last_progress(), batch_size=self.batch_size
        ).observe(obs, F.expr("count(1) AS rows"))
        if snapshot is not None:
            batch = batch.unionByName(snapshot)
        commit = self.commit or self.sink.commit_batch
        if not commit(batch):
            return 0
        return obs.get["rows"]

    def run_to_completion(self) -> int:
        """Trigger until a batch comes back short of ``batch_size``: the
        feed is drained. Returns the change rows polled."""
        total = 0
        while True:
            n = self.run_once()
            total += n
            if n < self.batch_size:
                return total
