"""Snapshot + change-stream unification (SURVEY §2.9 T7).

Reference behavior (``main.py:214-267``, ``build_startup_state.py:230-232``):
the initial snapshot backfill runs CONCURRENTLY with change tailing on the
same topic. Snapshot pages read high-key → low-key so rows inserted after
the snapshot's start (which have higher keys) arrive only via CDC — no
double-read and no gap. Snapshot rows carry op=Snapshot and NULL LSN.

Spark restatement: the snapshot is a bounded keyset-paged stream interleaved
with the change micro-batches; both unify on the envelope schema via
``unionByName``. This module drives that interleave in pull mode (the
foreachBatch shape)."""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sqlserver_cdc_to_kafka_spark.sources.snapshot import snapshot_envelope, snapshot_page


@dataclass
class SnapshotStream:
    """Resumable reverse-keyset snapshot pager (S2 driven as a stream).
    Progress = the last (lowest) key tuple emitted; resume seeks strictly
    below it (tracked_tables.py:219-256)."""

    source: DataFrame
    key_cols: list[str]
    batch_size: int = 2000
    last_key: Sequence | None = None
    completed: bool = False

    def next_page(self) -> DataFrame | None:
        """None once the table is exhausted (snapshot-completed sentinel,
        constants.py:35).

        The resume key is a one-row aggregate (``min(struct(key_cols))`` —
        the page scans high→low, so its minimum key is the last row emitted);
        the page itself never leaves the executors. Collecting the whole
        2,000-row page to read one key would be a driver-memory risk with
        wide/blob rows."""
        if self.completed:
            return None
        page = snapshot_page(
            self.source, self.key_cols, self.last_key, self.batch_size
        ).cache()
        summary = page.agg(
            F.count("*").alias("n"),
            F.min(F.struct(*self.key_cols)).alias("low_key"),
        ).collect()[0]
        if summary["n"] == 0:
            page.unpersist()
            self.completed = True
            return None
        self.last_key = tuple(summary["low_key"][c] for c in self.key_cols)
        if summary["n"] < self.batch_size:
            self.completed = True
        return page


def snapshot_rows(page: DataFrame, feed: DataFrame) -> DataFrame:
    """T7: snapshot rows (op=0, NULL LSN, read time, all columns updated) on
    ``feed``'s columns, a column the envelope lacks as a NULL of the feed's
    type (a page may be the whole table)."""
    env = snapshot_envelope(page)
    return env.select(
        *[
            c if c in env.columns else F.lit(None).cast(feed.schema[c].dataType).alias(c)
            for c in feed.columns
        ]
    )


def unified_feed(snapshot_pages: list[DataFrame], change_batch: DataFrame) -> DataFrame:
    """T7: one output feed carrying both snapshot rows and change rows."""
    out = change_batch
    for p in snapshot_pages:
        out = out.unionByName(snapshot_rows(p, change_batch))
    return out
