"""Structured-Streaming change-feed pipeline (SURVEY §2.9 T1-T11).

The reference's hot loop (``cdc_kafka/main.py:203-353``) polls CDC tables on
a 3-10 s cadence, heap-merges rows in ChangeIndex order up to the common
frontier, produces them with per-topic progress records in one Kafka
transaction, and emits delete tombstones. Spark-first restatement:

- **source** (T1/T3): a micro-batch over the change feed. In production this
  is ``readStream`` against Kafka/Delta-CDF; for a keyset-polled JDBC source
  the same batching happens in ``foreachBatch`` pull mode — each trigger
  issues the S1 window scan from the last offset, bounded by
  ``max_rows_per_trigger`` (the reference's lagging-table backpressure:
  a full batch means "still behind, poll again immediately").
- **frontier** (T4): per-feed max index; emission bounded by min(frontiers).
- **sink** (T2/T6): ``foreachBatch`` writes data + a keyed progress record
  atomically with the batch id — Spark's checkpoint gives resume; the
  explicit progress table mirrors the reference's compacted progress topic
  for parity and auditability.
- **order** (O1/O2): within a micro-batch, emission is ordered by the change
  index (repartitionByRange + sortWithinPartitions at scale).

This module implements the pieces as composable functions plus a
MicroBatcher that drives them over a static feed for tests — the pull-mode
shape. The same functions are wired to ``readStream`` sources unchanged.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sqlserver_cdc_to_kafka_spark.model.envelope import OP_DELETE

MIN_POLL_INTERVAL_S = 3  # constants.py:6
MAX_POLL_INTERVAL_S = 10  # constants.py:7
DEFAULT_BATCH_SIZE = 2000  # options.py:282-285


def poll_window(
    feed: DataFrame,
    after,
    up_to,
    idx_col: str = "change_seq",
    max_rows: int = DEFAULT_BATCH_SIZE,
) -> DataFrame:
    """One trigger's pull (S1 as a micro-batch): rows strictly after the
    stored offset, at most the frontier, capped at max_rows in index order —
    ``maxOffsetsPerTrigger`` semantics (T3)."""
    return (
        feed.filter((F.col(idx_col) > F.lit(after)) & (F.col(idx_col) <= F.lit(up_to)))
        .orderBy(idx_col)
        .limit(max_rows)
    )


def with_tombstones(
    batch: DataFrame, key_cols: Sequence[str], op_col: str = "__operation"
) -> DataFrame:
    """T6: append a (key, null-payload) companion row after every Delete.
    Tombstones sort directly after their delete event (same index, higher
    emission order) so compaction applies them last."""
    payload = [c for c in batch.columns if c not in key_cols and c != op_col]
    tombs = batch.filter(F.col(op_col) == OP_DELETE).select(
        F.col(op_col),
        *key_cols,
        *[F.lit(None).cast(batch.schema[c].dataType).alias(c) for c in payload],
        F.lit(True).alias("__tombstone"),
    )
    return batch.withColumn("__tombstone", F.lit(False)).unionByName(tombs)


@dataclass
class ProgressEntry:
    """Mirror of the reference's ProgressEntry (progress_tracking.py:19-87):
    keyed (topic, kind) -> last index or snapshot key."""

    topic: str
    kind: str  # 'change_rows' | 'snapshot_rows' (constants.py:38-39)
    position: object
    batch_id: int


@dataclass
class MicroBatcher:
    """Pull-mode micro-batch driver over a bounded feed — the test harness
    for the streaming semantics (and the shape of a foreachBatch JDBC
    puller). Tracks per-topic progress exactly-once-style: progress is
    recorded with the batch id; replaying a batch id is idempotent
    (main.py:319-350's transaction, restated)."""

    feed: DataFrame
    topic: str
    idx_col: str = "change_seq"
    batch_size: int = DEFAULT_BATCH_SIZE
    sink: Callable[[DataFrame, int], None] | None = None
    progress_log: list[ProgressEntry] = field(default_factory=list)
    _offset: object = None
    _batch_id: int = 0

    def last_offset(self):
        return self._offset

    def run_once(self, frontier=None) -> int:
        """One trigger: poll → emit → record progress. Returns emitted rows.
        A full batch (== batch_size) signals a lagging table: the caller
        should immediately re-trigger (T3) instead of waiting the poll
        interval."""
        if frontier is None:
            frontier = self.feed.agg(F.max(self.idx_col)).collect()[0][0]
        after = self._offset if self._offset is not None else -1
        batch = poll_window(
            self.feed, after, frontier, self.idx_col, self.batch_size
        ).cache()
        try:
            rows, new_offset = batch.agg(
                F.count(F.lit(1)), F.max(self.idx_col)
            ).collect()[0]
            if rows == 0:
                return 0
            if self.sink is not None:
                self.sink(batch, self._batch_id)
            # data + progress recorded together per batch id (T2): replaying
            # this batch id after a crash overwrites, never duplicates.
            self.progress_log.append(
                ProgressEntry(self.topic, "change_rows", new_offset, self._batch_id)
            )
            self._offset = new_offset
            self._batch_id += 1
            return rows
        finally:
            batch.unpersist()

    def run_to_completion(self, max_batches: int = 10_000) -> int:
        total = 0
        for _ in range(max_batches):
            n = self.run_once()
            total += n
            if n < self.batch_size:
                break
        return total


def resume_offset(progress_log: Sequence[ProgressEntry], topic: str):
    """T2 resume: last-value-per-key replay of the progress log (the
    compacted-progress-topic read, progress_tracking.py:235-258)."""
    last = None
    for e in progress_log:
        if e.topic == topic and e.kind == "change_rows":
            last = e.position
    return last
