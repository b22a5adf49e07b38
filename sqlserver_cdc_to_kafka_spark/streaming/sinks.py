"""Sinks: exactly-once batch commits + tombstone-aware keyed output
(SURVEY §2.1 S9/S11, §2.9 T2/T6).

Reference behavior: every micro-batch's data messages AND per-topic progress
records are produced inside ONE Kafka transaction (``main.py:319-350``,
``kafka.py:134-156``) — a crash never leaves data without progress or
vice versa — and a restart resumes from the progress topic alone
(``progress_tracking.py:235-258``). Spark's Kafka sink alone is
at-least-once, so the idiomatic restatement is ``foreachBatch`` + a sink
idempotent by SOURCE POSITION (not by Spark's batch id, so it never has to
agree with Spark's checkpoint) that numbers its own commits.

``TransactionalDirSink`` implements that protocol without external
dependencies (no Kafka broker in this environment; swapping ``_write_files``
for a transactional producer gives the Kafka version):

1. write the batch under ``_staging/batch=<id>/`` (side-effect-free retry)
   with an ``Observation`` attached, so the write's own job also counts the
   rows and takes ``max(change_seq)`` — the batch is scanned once;
2. if the write observed no rows, drop the stage directory and commit
   nothing; otherwise atomically rename it into place;
3. append the progress record ``(topic, kind, position, batch_id,
   snapshot_key)`` to the manifest and fsync it, the position being the
   observed ``max(change_seq)``. A ``PipelineRun`` trigger writes its
   snapshot page and its change batch together, so its one record holds
   both the page's key (observed on the same write) and the change
   position — readers only see directories listed in the
   manifest, so a crash between 2 and 3 is invisible (the next commit takes
   the same id over it). Replays are deduped by position: step 1 writes
   only rows whose ``change_seq`` is null (snapshot rows, tombstones) or
   above the committed position. A record commits with its line's newline:
   an append a crash cut short leaves a torn last line, which readers skip
   and the next append cuts off.

The manifest is the pull drivers' only progress state: the change
position (``last_progress``), the snapshot resume key (a snapshot page's
``snapshot_key`` field) and the next batch id are all read back from it, so
a run that starts on an existing sink resumes there. A stream reads from
Spark's checkpoint, but through the same position filter.
"""

from __future__ import annotations

import datetime
import decimal
import json
import os
import shutil
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sqlserver_cdc_to_kafka_spark.tables import first_data_file


def _key_text(value) -> str:
    # a date or decimal snapshot key resumes through key_tuple_below's cast
    # to the column type; a binary one would not, so it raises
    if isinstance(value, (datetime.date, decimal.Decimal)):
        return str(value)
    raise TypeError(f"cannot store snapshot key value {value!r} in the manifest")


def _spark_footer_schema(data_dir: str) -> T.StructType | None:
    """The Spark schema Spark stores in the footer of each parquet file it
    writes (``org.apache.spark.sql.parquet.row.metadata``), read from the
    first file of ``data_dir``; None for a file without one. Spark's own
    ``readSchemaFromFooter`` prefers the same schema."""
    import pyarrow.parquet as pq

    meta = pq.read_metadata(first_data_file(data_dir)).metadata or {}
    stored = meta.get(b"org.apache.spark.sql.parquet.row.metadata")
    return None if stored is None else T.StructType.fromJson(json.loads(stored))


@dataclass
class TransactionalDirSink:
    """Exactly-once directory sink: data files + progress manifest commit
    together, idempotent by change position (T2)."""

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
            end = f.seek(0, os.SEEK_END)
            while end:  # back to the last newline: reads the torn bytes only
                f.seek(end - 1)
                if f.read(1) == b"\n":
                    break
                end -= 1
            f.truncate(end)
            f.write(
                b"".join(json.dumps(r, default=_key_text).encode() + b"\n" for r in records)
            )
            f.flush()
            os.fsync(f.fileno())

    @staticmethod
    def _next_id(records: list[dict]) -> int:
        # the id after the highest one in the manifest, tombstones included
        return max((r["batch_id"] for r in records), default=-1) + 1

    @staticmethod
    def _visible(records: list[dict]) -> list[dict]:
        """The data records a reader sees: a change_rows reset drops the
        data before it once the first commit after it re-ingests from the
        start (a snapshot page, or rows back to the first change batch's
        position); one past that (a stream resumed from its checkpoint) does
        not, so that data stays."""
        data: list[dict] = []
        reset = False
        for rec in records:
            if rec.get("tombstone"):
                reset = reset or rec["kind"] == "change_rows"
                continue
            if reset:
                start = next((r["position"] for r in data if r.get("position") is not None), None)
                if rec.get("first") is None or start is None or rec["first"] <= start:
                    data = []
                reset = False
            data.append(rec)
        return data

    @staticmethod
    def _progress(records: list[dict], kind: str, field: str):
        bounds = {kind, "snapshot_rows"} if field == "snapshot_key" else {kind}
        resume = None
        for rec in records:
            if rec.get("kind") not in bounds:
                continue
            if rec.get("tombstone"):
                resume = None  # epoch boundary: nothing before it counts
            elif rec.get(field) is not None:
                resume = rec[field]
        return resume

    def committed_batches(self) -> dict[int, dict]:
        return {rec["batch_id"]: rec for rec in self._records()}

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
        return self._progress(self._records(), kind, field)

    def commit_batch(self, batch: DataFrame, snapshot_key=None) -> dict | None:
        """Commit the rows of ``batch`` past the committed position (and
        those with a null ``change_seq``) in one Spark job, under the id
        after the highest one in the manifest (one manifest read gives
        both), so a replayed batch commits only its new rows; this assumes
        ``change_seq`` ascends across batches, as CDC's does. Returns the
        manifest record, or None when no row was left to commit.

        An Observation on the write gives the row count and the record's
        ``first``/``position`` (min/max ``change_seq``: ``None`` for a
        batch of snapshot rows only). ``snapshot_key`` is the key the
        batch's snapshot page ends at, or a function the sink calls once
        the write has run, so that an Observation on the page can give it
        (``SnapshotStream.page_key``)."""
        records = self._records()
        position = self._progress(records, "change_rows", "position")
        batch_id = self._next_id(records)
        if position is not None:
            batch = batch.filter(f"change_seq IS NULL OR change_seq > {int(position)}")
        stage = os.path.join(self.root, "_staging", f"batch={batch_id}")
        final = os.path.join(self.root, "data", f"batch={batch_id}")
        if os.path.exists(stage):
            shutil.rmtree(stage)  # leftover from a crashed attempt
        obs = Observation()
        batch.observe(
            obs,
            F.expr("count(1) AS rows"),
            F.expr("min(change_seq) AS first"),
            F.expr("max(change_seq) AS pos"),
        ).write.mode("overwrite").parquet(stage)
        observed = obs.get
        if callable(snapshot_key):
            snapshot_key = snapshot_key()
        if not observed["rows"]:
            shutil.rmtree(stage)
            return None
        if os.path.exists(final):
            shutil.rmtree(final)  # renamed into place by a crashed commit
        os.rename(stage, final)
        record = {
            "topic": self.topic,
            "kind": "change_rows",
            "first": observed["first"],
            "position": observed["pos"],
            "batch_id": batch_id,
            "snapshot_key": snapshot_key,
        }
        self._append(record)
        return record

    def reset_progress(self, kinds: tuple[str, ...] = ("change_rows",)) -> int:
        """progress_reset_tool analog (reference progress_reset_tool.py:12,
        progress_tracking.py reset_progress): append a *tombstone* progress
        record per (topic, kind) — position=None, a fresh epoch — so
        replaying the log yields no resume point and the next run starts
        from scratch. Data files are untouched (same as the reference: only
        the progress topic is rewritten) and other topics' sinks never see
        it; reads drop them once a commit re-ingests from the start (see
        ``_visible``), which a stream does only with its checkpoint deleted.
        Returns the number of tombstones written."""
        records = self._records()
        kinds_seen = {r["kind"] for r in records}
        if self._progress(records, "change_rows", "snapshot_key") is not None:
            kinds_seen.add("snapshot_rows")  # pages commit as change_rows
        present = [k for k in kinds if k in kinds_seen]
        if not present:
            return 0
        next_id = self._next_id(records)
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

    def _data_dir(self, rec: dict) -> str:
        return os.path.join(self.root, "data", rec.get("path", f"batch={rec['batch_id']}"))

    def read_committed(self, spark: SparkSession, as_of: int | None = None) -> DataFrame:
        """Read ONLY manifest-listed data, less what a reset's re-ingest
        superseded (see ``_visible``). Records may carry an explicit
        ``path`` (compacted generations). The schema is the one Spark
        stores in the first file's footer, which Spark's own inference
        would also take, so the read launches no schema-inference job.

        ``as_of``: time travel — read the table as it was after batch id
        ``as_of`` committed (later batches invisible). Compaction collapses
        history, so travel only reaches past the last compacted generation."""
        records = self._records()
        if as_of is not None:
            records = [r for r in records if r["batch_id"] <= as_of]
        batches = self._visible(records)
        if not batches:
            raise ValueError("no committed batches" + (f" at or before {as_of}" if as_of is not None else ""))
        dirs = [self._data_dir(rec) for rec in batches]
        schema = _spark_footer_schema(dirs[0])
        reader = spark.read if schema is None else spark.read.schema(schema)
        return reader.parquet(*dirs)

    def compact(self, spark: SparkSession, key_cols: list[str]) -> int:
        """Log compaction (the background process a compacted Kafka topic
        gets from the broker): collapse the batches ``read_committed`` reads
        to the last record per key, dropping keys whose final record is a
        tombstone, and atomically replace the batch directories with one
        compacted batch.

        Progress is preserved: the compacted batch takes the max committed
        batch id, position and snapshot key, so resume semantics are
        unchanged — a rerun after compaction commits nothing. Returns
        surviving row count. At scale this is the same one-shuffle
        ``max_by`` with the output range-partitioned by key."""
        from sqlserver_cdc_to_kafka_spark.operators.compaction import (
            last_value_per_key,
        )

        records = self._records()
        last = next((r for r in reversed(records) if r["kind"] == "change_rows"), None)
        if last is None or last.get("tombstone"):
            return 0  # an empty sink, or a reset awaiting its first commit
        df = self.read_committed(spark)
        # NULL order values are either snapshot rows (base state — oldest for
        # their key: every change logically follows the backfill, T7) or
        # tombstones (emitted right after their delete — newest for the key)
        ordk = (
            f"named_struct('o', CASE WHEN __tombstone THEN {2**62} "
            "ELSE coalesce(change_seq, -1) END, 't', CAST(__tombstone AS INT)) AS __ordk"
        )
        last = last_value_per_key(
            df.selectExpr("*", ordk), key_cols, "__ordk", drop_deleted=False
        )
        live = last.filter("NOT __tombstone").drop("__ordk")

        max_id = self._next_id(records) - 1
        # capture progress BEFORE rewriting the manifest
        position = self._progress(records, "change_rows", "position")
        snapshot_key = self._progress(records, "change_rows", "snapshot_key")
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
        live.observe(obs, F.expr("count(1) AS n")).write.mode("overwrite").parquet(stage)
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
        for rec in records:  # dirs a reset's re-ingest superseded go too
            d = self._data_dir(rec)
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
