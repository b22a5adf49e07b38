"""The benchmark's three workloads, each a closed loop that drains a fixed
backlog through one of the engine's public entry points.

A pass stages fresh input (outside its timing), drains it, and is then
verified against the duckdb reference (also outside its timing). A pass's
``commits`` are the ``perf_counter`` times at which committed batches
returned; the first interval runs from the pass start.
"""

from __future__ import annotations

import contextlib
import glob
import io
import json
import os
import shutil
import time
import traceback
from dataclasses import dataclass, field

from gen import Shape, write_orders
import proc
import verify

BATCH_SIZE = 2000  # the engine's default db_row_batch_size
KEY_COLS = ["o_orderkey"]


@dataclass
class PassResult:
    index: int
    stage_s: float
    wall_s: float = 0.0
    rows: int = 0
    commits: list = field(default_factory=list)  # perf_counter at each return
    t0: float = 0.0  # epoch seconds: drain start, to match spans and Spark jobs
    t1: float = 0.0  # epoch seconds: end of the pass, verification included
    start: float = 0.0  # perf_counter at drain start
    cpu_s: float = 0.0  # host-wide busy CPU while draining, JIT threads included
    jit_s: float = 0.0  # the part of cpu_s spent in JIT compiler threads
    steal_s: float = 0.0  # host-wide steal while draining
    forks: int = 0  # processes and threads created while draining
    sentinel_s: float = 0.0  # run.sentinel_cpu_s just before the pass
    traced: bool = False
    compact_s: float | None = None
    compact_rows: int | None = None
    files: int = 0
    mb: float = 0.0
    persisted_rdds: int = 0
    progress: list = field(default_factory=list)
    error: str | None = None

    @contextlib.contextmanager
    def drain_time(self, jvm_pid: int):
        """Add the wall and CPU time of the enclosed drain step; the
        verification between steps is not counted."""
        host0, jit0 = proc.host_cpu_s(), proc.jit_cpu_s(jvm_pid)
        start = time.perf_counter()
        try:
            yield
        finally:
            self.wall_s += time.perf_counter() - start
            host1 = proc.host_cpu_s()
            self.cpu_s += host1["busy"] - host0["busy"]
            self.steal_s += host1["steal"] - host0["steal"]
            self.forks += host1["forks"] - host0["forks"]
            self.jit_s += proc.jit_cpu_s(jvm_pid) - jit0

    def cpu_ms_per_krow(self) -> float:
        """CPU outside the JIT compiler threads, per thousand committed rows."""
        return (self.cpu_s - self.jit_s) * 1e6 / self.rows

    def mean_commit_interval_ms(self) -> float:
        """Time to the last commit over the number of commits."""
        return (self.commits[-1] - self.start) * 1e3 / len(self.commits)

    def commit_intervals_ms(self) -> list[float]:
        """Intervals between consecutive commit returns; the first runs
        from the pass start."""
        stamps = [self.start, *self.commits]
        return [(b - a) * 1e3 for a, b in zip(stamps, stamps[1:])]


@dataclass
class Context:
    spark: object
    work: str
    seed: int
    tracer: object
    jvm_pid: int

    def pass_dir(self, i: int) -> str:
        return os.path.join(self.work, f"pass{i}")


def _persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _parquet_files(root: str) -> tuple[int, float]:
    files = glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)
    return len(files), sum(os.path.getsize(f) for f in files) / 1e6


def _stamp_commits(sink, stamps: list) -> None:
    """Record when each committed batch returns (no-op commits excluded)."""
    commit = sink.commit_batch

    def commit_batch(*args, **kwargs):
        ok = commit(*args, **kwargs)
        if ok:
            stamps.append(time.perf_counter())
        return ok

    sink.commit_batch = commit_batch


@contextlib.contextmanager
def _stamp_writes(stamps: list):
    """Record when each ``DataFrameWriter.parquet`` call returns: the CLI's
    commit is its one write, before it re-reads the output to count it."""
    from pyspark.sql import DataFrameWriter

    write = DataFrameWriter.parquet

    def parquet(self, *args, **kwargs):
        write(self, *args, **kwargs)
        stamps.append(time.perf_counter())

    DataFrameWriter.parquet = parquet
    try:
        yield
    finally:
        DataFrameWriter.parquet = write


class Workload:
    name = ""
    shape: Shape
    warmup_passes = 0

    def stage(self, ctx: Context, i: int) -> float:
        t = time.perf_counter()
        write_orders(os.path.join(ctx.pass_dir(i), "in"), self.shape, ctx.seed, i)
        return time.perf_counter() - t

    def drain(self, ctx: Context, i: int, res: PassResult) -> None:
        raise NotImplementedError

    def run_pass(self, ctx: Context, i: int, traced: bool = False) -> PassResult:
        res = PassResult(i, self.stage(ctx, i), traced=traced)
        before = _persisted(ctx.spark)
        ctx.tracer.enabled = traced
        try:
            self.drain(ctx, i, res)
        except verify.VerificationError as e:
            res.error = f"verification: {e}"
        except Exception as e:  # a failed pass is counted, the run goes on
            traceback.print_exc()
            res.error = f"{type(e).__name__}: {e}"
        finally:
            ctx.tracer.enabled = False
        res.t1 = time.time()
        res.persisted_rdds = _persisted(ctx.spark) - before
        shutil.rmtree(ctx.pass_dir(i), ignore_errors=True)
        return res

    @staticmethod
    def orders_path(ctx: Context, i: int) -> str:
        return os.path.join(ctx.pass_dir(i), "in", "orders.parquet")


class Backfill(Workload):
    """The CLI's pipeline mode: page the whole snapshot, then one unified
    write of snapshot plus change rows."""

    name = "backfill"
    shape = Shape(rows=4000, density=0.8, displaced=1.0)
    # its short passes still fall steeply after the cold one, so one more
    # untimed pass keeps the timed ones on the flatter part of the curve
    warmup_passes = 1

    def drain(self, ctx, i, res):
        from sqlserver_cdc_to_kafka_spark.__main__ import main

        d = ctx.pass_dir(i)
        out = os.path.join(d, "out")
        res.t0, res.start = time.time(), time.perf_counter()
        with res.drain_time(ctx.jvm_pid), _stamp_writes(res.commits), \
                contextlib.redirect_stdout(io.StringIO()):
            rc = main(["--sf-dir", os.path.join(d, "in"), "--sink-dir", out])
        if rc != 0:
            raise RuntimeError(f"CLI exited with {rc}")
        if len(res.commits) != 1:
            raise RuntimeError(f"CLI wrote {len(res.commits)} times, expected once")
        res.files, res.mb = _parquet_files(out)
        res.rows = verify.check_backfill(self.orders_path(ctx, i), out)


class Catchup(Workload):
    """``PipelineRun`` into a ``TransactionalDirSink``: snapshot pages and
    change micro-batches interleave, one manifest commit each, then the
    sink is compacted."""

    name = "catchup"
    shape = Shape(rows=2000, density=0.5, displaced=0.1)

    def drain(self, ctx, i, res):
        from sqlserver_cdc_to_kafka_spark.fixtures.cdc_events import cdc_events
        from sqlserver_cdc_to_kafka_spark.streaming.pipeline_run import PipelineRun
        from sqlserver_cdc_to_kafka_spark.streaming.sinks import TransactionalDirSink
        from sqlserver_cdc_to_kafka_spark.tables import load_table

        d = ctx.pass_dir(i)
        src = os.path.join(d, "in")
        out = os.path.join(d, "out")
        res.t0, res.start = time.time(), time.perf_counter()
        with res.drain_time(ctx.jvm_pid):
            sink = TransactionalDirSink(out, "orders")
            _stamp_commits(sink, res.commits)
            run = PipelineRun(
                ctx.spark, load_table(ctx.spark, src, "orders"),
                cdc_events(ctx.spark, src), KEY_COLS, sink, batch_size=BATCH_SIZE,
            )
            total = run.run()
        res.files, res.mb = _parquet_files(os.path.join(out, "data"))
        res.rows = verify.check_sink(
            self.orders_path(ctx, i), out, snapshot=True, tombstones=True
        )
        if total != res.rows:
            raise verify.VerificationError(
                f"run() reported {total} rows, the sink holds {res.rows}"
            )
        drain_s = res.wall_s
        with res.drain_time(ctx.jvm_pid):
            live = sink.compact(ctx.spark, KEY_COLS)
        res.compact_s = res.wall_s - drain_s
        res.compact_rows = verify.check_compacted(self.orders_path(ctx, i), out)
        if live != res.compact_rows:
            raise verify.VerificationError(
                f"compact() reported {live} rows, the sink holds {res.compact_rows}"
            )


class Stream(Workload):
    """``readStream.format("cdc_change_feed")`` into
    ``foreachBatch(foreach_batch_writer(sink))``, drained with
    ``processAllAvailable()``. The change log is staged with
    ``fixtures.cdc_events``."""

    name = "stream"
    shape = Shape(rows=450, density=0.5, displaced=0.1)

    def stage(self, ctx, i):
        from sqlserver_cdc_to_kafka_spark.fixtures.cdc_events import cdc_events

        t = time.perf_counter()
        super().stage(ctx, i)
        d = ctx.pass_dir(i)
        tmp = os.path.join(d, "feed_stage")
        cdc_events(ctx.spark, os.path.join(d, "in")).coalesce(1).write.parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        shutil.copyfile(part, os.path.join(d, "feed.parquet"))
        shutil.rmtree(tmp)
        return time.perf_counter() - t

    def drain(self, ctx, i, res):
        from sqlserver_cdc_to_kafka_spark.streaming.pipeline_run import (
            foreach_batch_writer,
        )
        from sqlserver_cdc_to_kafka_spark.streaming.sinks import TransactionalDirSink

        d = ctx.pass_dir(i)
        out = os.path.join(d, "out")
        tracer = ctx.tracer
        res.t0, res.start = time.time(), time.perf_counter()
        with res.drain_time(ctx.jvm_pid):
            sink = TransactionalDirSink(out, "orders")
            _stamp_commits(sink, res.commits)
            writer = tracer.wrap_fn(foreach_batch_writer(sink), "foreach_batch_writer")
            query = tracer.call(
                "stream.start",
                (
                    ctx.spark.readStream.format("cdc_change_feed")
                    .option("path", os.path.join(d, "feed.parquet"))
                    .option("batchSize", BATCH_SIZE)
                    .load()
                    .writeStream.foreachBatch(writer)
                    .option("checkpointLocation", os.path.join(d, "checkpoint"))
                    .start
                ),
            )
            try:
                tracer.call("stream.drain", query.processAllAvailable)
            finally:
                tracer.call("stream.stop", query.stop)
        res.progress = [json.loads(p.json) for p in query.recentProgress]
        res.files, res.mb = _parquet_files(os.path.join(out, "data"))
        # foreach_batch_writer writes no tombstones (README, defects)
        res.rows = verify.check_sink(
            self.orders_path(ctx, i), out, snapshot=False, tombstones=False
        )


WORKLOADS = {w.name: w for w in (Backfill(), Catchup(), Stream())}
