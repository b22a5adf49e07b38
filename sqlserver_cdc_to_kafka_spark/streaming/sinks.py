"""Sinks: exactly-once batch commits + tombstone-aware keyed output
(SURVEY §2.1 S9/S11, §2.9 T2/T6).

Reference behavior: every micro-batch's data messages AND per-topic progress
records are produced inside ONE Kafka transaction (``main.py:319-350``,
``kafka.py:134-156``) — a crash never leaves data without progress or
vice versa — and a restart resumes from the progress topic alone
(``progress_tracking.py:235-258``). Spark's Kafka sink alone is
at-least-once, so the idiomatic restatement is ``foreachBatch`` + an
idempotent, batch-id-keyed commit protocol — which is exactly what
Structured Streaming's own file sink does with its manifest log,
generalized here so any directory-backed format gets it.

``TransactionalDirSink`` implements that protocol without external
dependencies (no Kafka broker in this environment; swapping ``_write_files``
for a transactional producer keyed by batch id gives the Kafka version):

1. write the batch under ``_staging/batch=<id>/`` (side-effect-free retry)
   with an ``Observation`` attached, so the write's own job also counts the
   rows and takes ``max(change_seq)`` — the batch is scanned once;
2. if the write observed no rows, drop the stage directory and commit
   nothing; otherwise atomically rename it into place;
3. append the progress record ``(topic, kind, position, batch_id)`` to the
   manifest and fsync it, the position being the observed
   ``max(change_seq)`` — readers only see directories listed in the
   manifest, so a crash between 2 and 3 is invisible and a replay of the
   same batch id is idempotent (stage dir overwritten, manifest append
   deduped by batch id). A record commits with its line's newline: an
   append a crash cut short leaves a torn last line, which readers skip
   and the next append cuts off.

The manifest is the pull-mode pipeline's only progress state: the change
position (``last_progress``), the snapshot resume key (a snapshot page's
``snapshot_key`` field) and the next batch id (``next_batch_id``) are all
read back from it, so a run that starts on an existing sink resumes there.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


@dataclass
class TransactionalDirSink:
    """Exactly-once directory sink: data files + progress manifest commit
    together, keyed by batch id (T2)."""

    root: str
    topic: str

    def __post_init__(self) -> None:
        os.makedirs(os.path.join(self.root, "_staging"), exist_ok=True)
        os.makedirs(os.path.join(self.root, "data"), exist_ok=True)

    @property
    def manifest_path(self) -> str:
        return os.path.join(self.root, "_manifest.jsonl")

    def _records(self) -> list[dict]:
        """Manifest records in append order — the replay-the-progress-topic
        view. Epochs are positional: a reset tombstone of kind K starts a
        new epoch FOR KIND K; records of kind K after it belong to the new
        epoch. No stored epoch field, so legacy manifests parse the same."""
        if not os.path.exists(self.manifest_path):
            return []
        with open(self.manifest_path) as f:
            committed = f.read().rpartition("\n")[0]
        # an append writes its newline last, so a last line without one is
        # an append a crash cut short: never committed, so not a record
        return [json.loads(line) for line in committed.splitlines()]

    def _append(self, *records: dict) -> None:
        """Append manifest records durably, first cutting off a torn last
        line (see ``_records``) so the new records never fuse with it."""
        with open(self.manifest_path, "a+b") as f:
            f.seek(0)
            f.truncate(f.read().rfind(b"\n") + 1)
            f.write(b"".join(json.dumps(r).encode() + b"\n" for r in records))
            f.flush()
            os.fsync(f.fileno())

    def committed_batches(self) -> dict[int, dict]:
        out: dict[int, dict] = {}
        for rec in self._records():
            out[rec["batch_id"]] = rec  # last write wins (replay supersedes)
        return out

    def next_batch_id(self) -> int:
        """The id after the highest one in the manifest, reset tombstones
        included — the next pull-mode commit's id (0 on an empty sink)."""
        return max((r["batch_id"] for r in self._records()), default=-1) + 1

    def last_progress(self, kind: str = "change_rows", field: str = "position"):
        """T2 resume point: the last committed value of ``field`` FOR THIS
        KIND (the compacted-progress-topic replay,
        progress_tracking.py:235-258). ``position`` is the change index;
        ``snapshot_key`` is the last key a snapshot page committed. Records
        where the field is null (a snapshot page's position, a change
        batch's key) are skipped. A reset tombstone (see
        ``reset_progress``) is a hard boundary for ITS kind only: a reset
        scoped to snapshot_rows must not wipe the change_rows resume point
        (per-(topic, kind) progress, like the reference). Snapshot pages
        commit as change_rows, so a reset of either kind re-snapshots."""
        bounds = {kind, "snapshot_rows"} if field == "snapshot_key" else {kind}
        resume = None
        for rec in self._records():
            if rec.get("kind") not in bounds:
                continue
            if rec.get("tombstone"):
                resume = None  # epoch boundary: nothing before it counts
            elif rec.get(field) is not None:
                resume = rec[field]
        return resume

    def _current_epoch_batch_ids(self, kind: str = "change_rows") -> set[int]:
        """Batch ids committed since the last reset tombstone of this kind —
        the idempotence scope. After a reset, a from-scratch rerun restarts
        at batch id 0; ids from BEFORE the tombstone must not shadow it
        (they'd silently drop every re-ingested batch), so the duplicate
        check is epoch-local."""
        ids: set[int] = set()
        for rec in self._records():
            if rec.get("kind") != kind:
                continue
            if rec.get("tombstone"):
                ids.clear()
            else:
                ids.add(rec["batch_id"])
        return ids

    def commit_batch(
        self, batch: DataFrame, batch_id: int, position=None, snapshot_key=None
    ) -> bool:
        """Idempotent commit in one Spark job: returns False (no-op) if this
        batch id is already committed in the current epoch — the
        crash-replay path — or if the batch is empty.

        The row count and the manifest position come from an Observation
        on the write itself: ``count(1)`` and ``max(change_seq)``, so no
        separate job scans the batch. Snapshot pages (all-null
        ``change_seq``) record ``None``. A non-None ``position`` overrides
        the observed one. A snapshot page passes the last key it read as
        ``snapshot_key``; the record keeps it in a field of its own, so a
        restart pages on below it (``last_progress(field="snapshot_key")``).

        A replay of a pre-reset batch id is NOT a duplicate: it overwrites
        the old data directory and its manifest record supersedes the old
        one (last write wins), which is exactly re-ingest-from-scratch."""
        if batch_id in self._current_epoch_batch_ids("change_rows"):
            return False
        stage = os.path.join(self.root, "_staging", f"batch={batch_id}")
        final = os.path.join(self.root, "data", f"batch={batch_id}")
        if os.path.exists(stage):
            shutil.rmtree(stage)  # leftover from a crashed attempt
        obs = Observation()
        batch.observe(
            obs, F.count(F.lit(1)).alias("rows"), F.max("change_seq").alias("pos")
        ).write.mode("overwrite").parquet(stage)
        observed = obs.get
        if not observed["rows"]:
            shutil.rmtree(stage)
            return False
        if os.path.exists(final):
            shutil.rmtree(final)
        os.rename(stage, final)
        self._append(
            {
                "topic": self.topic,
                "kind": "change_rows",
                "position": observed["pos"] if position is None else position,
                "batch_id": batch_id,
                "snapshot_key": snapshot_key,
            }
        )
        return True

    def reset_progress(self, kinds: tuple[str, ...] = ("change_rows",)) -> int:
        """progress_reset_tool analog (reference progress_reset_tool.py:12,
        progress_tracking.py reset_progress): append a *tombstone* progress
        record per (topic, kind) — position=None, a fresh batch-id epoch —
        so replaying the log yields no resume point and the next run starts
        from scratch. Data files are untouched (same as the reference: only
        the progress topic is rewritten) and other topics' sinks never see
        it. Returns the number of tombstones written."""
        kinds_seen = {r["kind"] for r in self.committed_batches().values()}
        if self.last_progress(field="snapshot_key") is not None:
            kinds_seen.add("snapshot_rows")  # pages commit as change_rows
        present = [k for k in kinds if k in kinds_seen]
        if not present:
            return 0
        next_id = self.next_batch_id()
        tombs = [
            {
                "topic": self.topic,
                "kind": kind,
                "position": None,
                "batch_id": next_id + n,
                "tombstone": True,
            }
            for n, kind in enumerate(present)
        ]
        self._append(*tombs)
        return len(tombs)

    def read_committed(self, spark: SparkSession, as_of: int | None = None) -> DataFrame:
        """Read ONLY manifest-listed data (uncommitted staging invisible).
        Records may carry an explicit ``path`` (compacted generations).

        ``as_of``: time travel — read the table as it was after batch id
        ``as_of`` committed (later batches invisible). Compaction collapses
        history, so travel only reaches past the last compacted generation."""
        batches = self.committed_batches()
        if as_of is not None:
            batches = {b: r for b, r in batches.items() if b <= as_of}
        # progress-reset tombstones carry no data directory
        batches = {b: r for b, r in batches.items() if not r.get("tombstone")}
        dirs = [
            os.path.join(self.root, "data", batches[b].get("path", f"batch={b}"))
            for b in sorted(batches)
        ]
        if not dirs:
            raise ValueError("no committed batches" + (f" at or before {as_of}" if as_of is not None else ""))
        return spark.read.parquet(*dirs)

    def compact(
        self,
        spark: SparkSession,
        key_cols: list[str],
        order_col: str = "change_seq",
        tombstone_col: str = "__tombstone",
    ) -> int:
        """Log compaction (the background process a compacted Kafka topic
        gets from the broker): collapse all committed batches to the last
        record per key, dropping keys whose final record is a tombstone, and
        atomically replace the batch directories with one compacted batch.

        Progress is preserved: the compacted batch takes the max committed
        batch id, position and snapshot key, so resume semantics are
        unchanged — a rerun after compaction commits nothing. Returns
        surviving row count. At scale this is the same one-shuffle
        ``max_by`` with the output range-partitioned by key."""
        from sqlserver_cdc_to_kafka_spark.operators.compaction import (
            last_value_per_key,
        )

        batches = self.committed_batches()
        if not batches:
            return 0
        df = self.read_committed(spark)
        # NULL order values are either snapshot rows (base state — oldest for
        # their key: every change logically follows the backfill, T7) or
        # tombstones (emitted right after their delete — newest for the key)
        ordk = F.struct(
            F.when(F.col(tombstone_col), F.lit(2**62))
            .otherwise(F.coalesce(F.col(order_col), F.lit(-1)))
            .alias("o"),
            F.col(tombstone_col).cast("int").alias("t"),
        )
        last = last_value_per_key(
            df.withColumn("__ordk", ordk), key_cols, "__ordk", drop_deleted=False
        )
        live = last.filter(~F.col(tombstone_col)).drop("__ordk")

        max_id = max(batches)
        # capture progress BEFORE rewriting the manifest
        position = self.last_progress()
        snapshot_key = self.last_progress(field="snapshot_key")
        # crash-safe ordering: (1) write the compacted generation under a
        # fresh directory name, (2) atomically replace the manifest — THE
        # commit point: readers switch from the old dirs to the new one in
        # one rename, (3) only then delete the superseded dirs (a crash
        # leaves invisible orphans, never missing data).
        gen_dir = f"compacted={max_id}"
        stage = os.path.join(self.root, "_staging", gen_dir)
        final = os.path.join(self.root, "data", gen_dir)
        if os.path.exists(stage):
            shutil.rmtree(stage)
        obs = Observation()  # the write's own job counts the survivors
        live.observe(obs, F.count(F.lit(1)).alias("n")).write.mode("overwrite").parquet(stage)
        n = obs.get["n"]
        if os.path.exists(final):
            shutil.rmtree(final)
        os.rename(stage, final)
        tmp_manifest = self.manifest_path + ".tmp"
        with open(tmp_manifest, "w") as f:
            f.write(
                json.dumps(
                    {
                        "topic": self.topic,
                        "kind": "change_rows",
                        "position": position,
                        "batch_id": max_id,
                        "path": gen_dir,
                        "snapshot_key": snapshot_key,
                    }
                )
                + "\n"
            )
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp_manifest, self.manifest_path)  # commit point
        for b, rec in batches.items():
            d = os.path.join(self.root, "data", rec.get("path", f"batch={b}"))
            if rec.get("path") != gen_dir and os.path.exists(d):
                shutil.rmtree(d)
        return n


def reset_progress(sink: TransactionalDirSink) -> None:
    """The reference's progress_reset_tool (progress_reset_tool.py:12):
    wipe a topic's progress AND its committed data so the next run
    re-snapshots from scratch. Destructive by design; staging is cleared
    too so no phantom batch can resurrect."""
    for sub in ("data", "_staging"):
        d = os.path.join(sink.root, sub)
        if os.path.exists(d):
            shutil.rmtree(d)
        os.makedirs(d, exist_ok=True)
    if os.path.exists(sink.manifest_path):
        os.remove(sink.manifest_path)
