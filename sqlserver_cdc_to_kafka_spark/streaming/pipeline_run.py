"""End-to-end pipeline run — the reference's hot loop (§3.1, main.py:203-353)
composed from the engine's parts:

per trigger: the next snapshot page joins the next change micro-batch (T7) →
tombstones appended after deletes (T6) → both, with their progress,
committed in ONE write and one manifest record (T2, manifest transaction;
the page's key and row count are observed on that write, so a trigger is
one Spark job over scan-only inputs) → metrics observed in-job and reported
(A9/X2).

The sink's manifest is the run's only progress state: a run reads its
snapshot resume key and its change position from it, and the sink numbers
each commit, so a run that crashed resumes where its last commit left off
and a run over a finished sink commits nothing.

This is pull-mode over bounded feeds. A ``readStream`` source commits
through ``foreach_batch_writer`` instead, with no snapshot, tombstones or
metrics."""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from sqlserver_cdc_to_kafka_spark.streaming.change_feed import (
    MicroBatcher,
    with_tombstones,
)
from sqlserver_cdc_to_kafka_spark.streaming.metrics import (
    ReporterBase,
    observed_batch,
    report_batch,
)
from sqlserver_cdc_to_kafka_spark.streaming.sinks import TransactionalDirSink
from sqlserver_cdc_to_kafka_spark.streaming.snapshot_stream import (
    SnapshotStream,
    snapshot_rows,
)


@dataclass
class PipelineRun:
    """Drive one table's snapshot + change feed to completion against a
    transactional sink, reporting metrics per batch."""

    spark: SparkSession
    source_table: DataFrame
    change_feed: DataFrame
    key_cols: list[str]
    sink: TransactionalDirSink
    reporters: list[ReporterBase] = field(default_factory=list)
    batch_size: int = 2000

    def run(self) -> int:
        """Interleave snapshot pages with change micro-batches, as the
        reference fills the gap between CDC polls with snapshot work
        (main.py:214-267), resuming from the sink's manifest. Each trigger
        is one write: the next snapshot page and the next change batch
        commit together, under one manifest record that carries both the
        page's key (observed on that write) and the change position.
        Returns the rows this call committed (snapshot rows + change rows +
        tombstones)."""
        snap = SnapshotStream(
            self.source_table,
            self.key_cols,
            self.batch_size,
            last_key=self.sink.last_progress(field="snapshot_key"),
        )
        committed = 0

        def commit(batch: DataFrame) -> int:
            nonlocal committed
            observed, obs = observed_batch(with_tombstones(batch, self.key_cols))
            t0 = time.time()
            # one write: it fulfils the metrics Observation, the page's and
            # the sink's, which supplies the manifest position
            record = self.sink.commit_batch(observed, snapshot_key=snap.page_key)
            if record is None:
                return 0
            m = report_batch(obs.get, record["batch_id"], t0, self.reporters)
            committed += m.rows
            return m.rows

        mb = MicroBatcher(self.change_feed, self.sink, batch_size=self.batch_size, commit=commit)
        while True:
            page = snap.next_page()
            # on the feed's types, as all the sink's batches (the read time too)
            rows = None if page is None else snapshot_rows(page, self.change_feed, cast=True)
            emitted = mb.run_once(rows)
            if snap.completed and emitted < self.batch_size:
                return committed


def foreach_batch_writer(sink: TransactionalDirSink):
    """The production binding (§3.1 Spark restatement): a foreachBatch
    function committing every micro-batch through the transactional sink.
    Spark's checkpoint provides replay; the sink's position idempotence
    makes the replay exactly-once (T2) — the pair is the reference's
    data+progress Kafka transaction. Spark's batch id is ignored, so a
    replayed micro-batch, even one re-planned after the checkpoint was
    lost, commits only its rows past the manifest's position. Precondition:
    the source delivers ``change_seq`` in ascending order across
    micro-batches, as a CDC log does. The stream's reads start at its
    checkpoint, not at the manifest: after a sink reset it re-ingests only
    if its checkpoint is deleted too. The sink's one write job reads the
    uncached batch once."""

    def write(batch: DataFrame, _batch_id: int) -> None:
        sink.commit_batch(batch)

    return write
