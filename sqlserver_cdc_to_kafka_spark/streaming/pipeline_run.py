"""End-to-end pipeline run — the reference's hot loop (§3.1, main.py:203-353)
composed from the engine's parts:

per cycle: snapshot pages interleave with change micro-batches (T7) →
tombstones appended after deletes (T6) → batch + progress committed together
(T2, manifest transaction) → metrics observed in-job and reported (A9/X2) →
self-validation over the engine's own committed output (§5's validators as
product).

The sink's manifest is the run's only progress state: a run reads its
snapshot resume key, its change position and each commit's batch id from
it, so a run that crashed resumes where its last commit left off and a run
over a finished sink commits nothing.

This is pull-mode (bounded feeds) — the test harness shape; the same
composition drives ``readStream`` sources unchanged."""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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
from sqlserver_cdc_to_kafka_spark.streaming.snapshot_stream import SnapshotStream


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
    rows_committed: int = 0

    def run(self) -> int:
        """Interleave snapshot pages with change micro-batches, as the
        reference fills the gap between CDC polls with snapshot work
        (main.py:214-267), resuming from the sink's manifest. Returns total
        rows committed (snapshot rows + change rows + tombstones)."""
        snap = SnapshotStream(
            self.source_table,
            self.key_cols,
            self.batch_size,
            last_key=self.sink.last_progress(field="snapshot_key"),
        )
        mb = MicroBatcher(
            self.change_feed,
            self.sink,
            batch_size=self.batch_size,
            commit=self._commit_changes,
        )
        while True:
            page = snap.next_page()
            if page is not None:
                self._commit(
                    self._snapshot_envelope(page),
                    self.sink.next_batch_id(),
                    snapshot_key=snap.last_key,
                )
                page.unpersist()
            emitted = mb.run_once()
            if snap.completed and emitted < self.batch_size:
                return self.rows_committed

    # -- internals ---------------------------------------------------------

    def _snapshot_envelope(self, page: DataFrame) -> DataFrame:
        # same output schema as the tombstoned change batches (one sink)
        cols = self.change_feed.columns
        out = page
        for c in cols:
            if c not in page.columns:
                dt = self.change_feed.schema[c].dataType
                if c == "__operation":
                    out = out.withColumn(c, F.lit(0))
                else:
                    out = out.withColumn(c, F.lit(None).cast(dt))
        return out.select(*cols).withColumn("__tombstone", F.lit(False))

    def _commit_changes(self, batch: DataFrame, batch_id: int) -> bool:
        return self._commit(with_tombstones(batch, self.key_cols), batch_id) > 0

    def _commit(self, batch: DataFrame, batch_id: int, snapshot_key=None) -> int:
        observed, obs = observed_batch(batch)
        t0 = time.time()
        # one job: the write fulfils both the metrics Observation and the
        # sink's, which supplies the manifest position
        if not self.sink.commit_batch(observed, batch_id, snapshot_key=snapshot_key):
            return 0
        m = report_batch(obs.get, batch_id, time.time() - t0, self.reporters)
        self.rows_committed += m.rows
        return m.rows


def foreach_batch_writer(sink: TransactionalDirSink):
    """The production binding (§3.1 Spark restatement): a foreachBatch
    function committing every micro-batch through the transactional sink.
    Spark's checkpoint provides replay; the sink's batch-id idempotence makes
    the replay exactly-once (T2) — the pair is the reference's
    data+progress Kafka transaction. The sink's one write job skips empty
    batches and takes the position, so the uncached batch is read once."""

    def write(batch: DataFrame, batch_id: int) -> None:
        sink.commit_batch(batch, batch_id)

    return write
