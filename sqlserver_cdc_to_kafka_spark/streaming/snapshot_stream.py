"""Snapshot + change-stream unification (SURVEY §2.9 T7).

Reference behavior (``main.py:214-267``, ``build_startup_state.py:230-232``):
the initial snapshot backfill runs CONCURRENTLY with change tailing on the
same topic. Snapshot pages read high-key → low-key so rows inserted after
the snapshot's start (which have higher keys) arrive only via CDC — no
double-read and no gap. Snapshot rows carry op=Snapshot and NULL LSN.

Spark restatement: the snapshot is a bounded keyset-paged stream interleaved
with the change micro-batches; both unify on the envelope schema via
``unionByName``. This module drives that interleave in pull mode (the
foreachBatch shape): a page is a lazy keyset query that its consumer runs
(``PipelineRun`` writes it in the same job as a change batch), and an
Observation on that run gives the page's row count and resume key, so
paging caches nothing and adds no Spark job."""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from sqlserver_cdc_to_kafka_spark.sources.snapshot import envelope_sql, snapshot_page
from sqlserver_cdc_to_kafka_spark.tables import quote


@dataclass
class SnapshotStream:
    """Resumable reverse-keyset snapshot pager (S2 driven as a stream).
    Progress = the last (lowest) key tuple emitted; resume seeks strictly
    below it (tracked_tables.py:219-256)."""

    source: DataFrame
    key_cols: list[str]
    batch_size: int = 2000
    last_key: Sequence | None = None
    completed: bool = field(default=False, init=False)
    _seen: Observation | None = field(default=None, init=False, repr=False)

    def next_page(self) -> DataFrame | None:
        """The next page, not yet run; None once the table is exhausted
        (snapshot-completed sentinel, constants.py:35).

        The page is observed: the action that runs it (a pipeline trigger's
        one write) also counts its rows and takes ``min(struct(key_cols))``
        — the page scans high→low, so that is the last row emitted — and
        ``page_key`` reads them afterwards. So the pager caches nothing and
        runs no job of its own, and the page never leaves the executors.
        Run each page and take its ``page_key`` before asking for the next
        one."""
        if self._seen is not None:
            raise RuntimeError("run the last page and take its page_key() first")
        if self.completed:
            return None
        self._seen = Observation()
        keys = ", ".join(quote(c) for c in self.key_cols)
        return snapshot_page(self.source, self.key_cols, self.last_key, self.batch_size).observe(
            self._seen, F.expr("count(1) AS n"), F.expr(f"min(struct({keys})) AS low_key")
        )

    def page_key(self) -> tuple | None:
        """After the action that ran the last page: the key it ended at, the
        resume key, or None when it was empty or no page is pending (waits
        for that action's observed metrics). A page short of ``batch_size``
        completes the stream."""
        if self._seen is None:
            return None
        summary, self._seen = self._seen.get, None
        self.completed = summary["n"] < self.batch_size
        if not summary["n"]:
            return None
        self.last_key = tuple(summary["low_key"][c] for c in self.key_cols)
        return self.last_key


def snapshot_rows(page: DataFrame, feed: DataFrame, cast: bool = False) -> DataFrame:
    """T7: snapshot rows (op=0, NULL LSN, read time, all columns updated) on
    ``feed``'s columns, in one projection: a column the envelope lacks is a
    NULL of the feed's type (a page may be the whole table), and with
    ``cast`` every column takes the feed's type (the read time too)."""
    env = envelope_sql(page.columns)
    exprs = []
    for f in feed.schema:
        e = env.get(f.name, "NULL")
        if cast or f.name not in env:
            e = f"CAST({e} AS {f.dataType.simpleString()})"
        exprs.append(f"{e} AS {quote(f.name)}")
    return page.selectExpr(*exprs)


def unified_feed(snapshot_pages: list[DataFrame], change_batch: DataFrame) -> DataFrame:
    """T7: one output feed carrying both snapshot rows and change rows."""
    out = change_batch
    for p in snapshot_pages:
        out = out.unionByName(snapshot_rows(p, change_batch))
    return out
