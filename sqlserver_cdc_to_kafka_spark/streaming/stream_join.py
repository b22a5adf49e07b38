"""Watermarked stream-stream joins — the last of Structured Streaming's
stateful join surfaces (tumbling/sliding/session windows, stateful
sessionize, and stream-static joins live in the sibling modules).

An inner stream-stream join with an event-time range condition emits each
matched pair exactly once, as soon as both sides have arrived; the
watermarks bound HOW LONG each side's rows are retained in the state store
— without them state grows forever on an unbounded stream. That retention
bound is the whole 100 TB story: state is O(rows inside the watermark
horizon), not O(stream length).
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sqlserver_cdc_to_kafka_spark.functions.datetime_fns import as_event_time
from sqlserver_cdc_to_kafka_spark.streaming.windows import (
    drained,
    events_schema,
    parquet_row_count,
    scoped_shuffle_partitions,
    state_partitions,
)
from sqlserver_cdc_to_kafka_spark.tables import load_table


def _sides(ev, left_type: str, right_type: str):
    """Derive both join inputs from ONE watermarked stream.

    Deliberate: giving each side its own ``withWatermark`` (two watermark
    operators) breaks on this Spark version — the second operator's
    event-time stats never fold into the query watermark after the first
    batch (measured: three sentinel batches all left batchWatermarkMs at
    its batch-0 value under the min policy), so outer-join state never
    flushes. One watermark node shared by both branches advances normally
    every batch, and reads the source once instead of twice."""
    a = ev.filter(F.col("event_type") == left_type).select(
        F.col("user_id").alias("a_user"),
        F.col("event_id").alias("a_id"),
        F.col("event_time").alias("a_time"),
    )
    b = ev.filter(F.col("event_type") == right_type).select(
        F.col("user_id").alias("b_user"),
        F.col("event_id").alias("b_id"),
        F.col("event_time").alias("b_time"),
    )
    return a, b


def _attribution_condition(horizon_micros: int):
    return (
        (F.col("a_user") == F.col("b_user"))
        & (F.col("b_time") >= F.col("a_time"))
        & (
            F.col("b_time")
            <= F.col("a_time") + F.expr(f"INTERVAL {horizon_micros} MICROSECOND")
        )
    )


def attribution_join_drain(
    spark: SparkSession,
    sf_dir: str,
    left_type: str = "click",
    right_type: str = "purchase",
    horizon_micros: int = 1_800_000_000,  # 30 min attribution window
    watermark: str = "30 minutes",
) -> DataFrame:
    """Drive a click→purchase attribution stream-stream join end-to-end and
    return the drained matched pairs as a batch DataFrame.

    One watermarked stream (see ``_sides``) splits into the click and
    purchase sides, inner-joined on user plus the event-time range
    [click, click + horizon]. Matched pairs append to a parquet sink
    (exactly once per pair, emitted as soon as both sides arrive); state
    for rows older than the watermark is dropped by the state store, which
    is what makes the join runnable on an unbounded stream."""
    scratch = os.path.join(tempfile.gettempdir(), f"ssj2_{uuid.uuid4().hex[:12]}")
    stage = os.path.join(scratch, "src")
    outdir = os.path.join(scratch, "out")
    ckpt = os.path.join(scratch, "ckpt")
    os.makedirs(stage)

    import shutil

    shutil.copyfile(f"{sf_dir}/events.parquet", os.path.join(stage, "events.parquet"))
    schema = events_schema(spark, sf_dir)

    raw = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(stage)
    )
    ev = raw.withColumn("event_time", as_event_time(raw, "ts")).withWatermark(
        "event_time", watermark
    )
    a, b = _sides(ev, left_type, right_type)
    joined = a.join(b, _attribution_condition(horizon_micros)).select(
        F.col("a_user").alias("user_id"),
        F.col("a_id").alias("click_id"),
        F.col("b_id").alias("purchase_id"),
    )
    # r16: the symmetric hash join runs FOUR state stores per partition per
    # micro-batch — size the partition count to the feed (windows.state_partitions)
    with scoped_shuffle_partitions(
        spark, state_partitions(spark, parquet_row_count(f"{sf_dir}/events.parquet"))
    ):
        q = (
            joined.writeStream.format("parquet")
            .option("path", outdir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return drained(spark.read.parquet(outdir), scratch)


def attribution_join_outer_drain(
    spark: SparkSession,
    sf_dir: str,
    left_type: str = "click",
    right_type: str = "purchase",
    horizon_micros: int = 1_800_000_000,
    watermark: str = "30 minutes",
) -> DataFrame:
    """LEFT OUTER watermarked stream-stream join, drained end-to-end.

    Outer semantics are the hard part: an unmatched left row may only emit
    (with nulls) once the watermark proves no future right row can match
    it, so end-of-stream needs sentinel rows advancing the watermark past
    every real row's horizon. TWO sentinel batches: the watermark computed
    from batch N's event times takes effect in batch N+1, so the first
    sentinel batch raises it and the second (plus the trailing no-data
    batch) evicts and emits the expired left state.

    ONE continuous query run over explicitly ordered files (sentinel
    mtimes +1 h/+2 h past the reals — FileStreamSource batches in mtime
    order): a restart-based two-phase staging cannot work for stream-stream
    joins on this Spark version because a query restarted on its checkpoint
    never advances the recovered watermark again (measured; the
    single-watermark windowed sink recovers fine, so two-phase staging
    remains correct THERE). Ordering only needs sentinels AFTER reals —
    real arrivals respecting the watermark is the ingest contract of any
    streaming source.

    State stays bounded by the watermark horizon throughout; each sentinel
    row carries a NULL user (matches nothing) and is filtered from the
    drained output."""
    import shutil

    from pyspark.sql import types as T

    from sqlserver_cdc_to_kafka_spark.functions.datetime_fns import epoch_micros

    scratch = os.path.join(tempfile.gettempdir(), f"ssjo_{uuid.uuid4().hex[:12]}")
    stage = os.path.join(scratch, "src")
    outdir = os.path.join(scratch, "out")
    ckpt = os.path.join(scratch, "ckpt")
    os.makedirs(stage)
    real = os.path.join(stage, "events.parquet")
    shutil.copyfile(f"{sf_dir}/events.parquet", real)
    schema = events_schema(spark, sf_dir)

    batch = load_table(spark, sf_dir, "events")
    max_us = batch.select(F.max(epoch_micros(batch, "ts")).alias("m")).collect()[0]["m"]
    sentinel_us = max_us + 4 * horizon_micros
    ts_dt = batch.schema["ts"].dataType

    def ts_of(us: int):
        if isinstance(ts_dt, T.LongType):
            return us * 1000
        import datetime as _dt

        naive = _dt.datetime(1970, 1, 1) + _dt.timedelta(microseconds=us)
        return (
            naive.replace(tzinfo=_dt.timezone.utc)
            if isinstance(ts_dt, T.TimestampType)
            else naive
        )

    # each sentinel file carries one row per side (null user matches
    # nothing; the event_type lets it through each side's filter)
    real_mtime = os.path.getmtime(real)
    for i, tag in enumerate(("a", "b")):
        rows = [
            tuple(
                ts_of(sentinel_us + i * horizon_micros)
                if f.name == "ts"
                else (etype if f.name == "event_type" else None)
                for f in batch.schema.fields
            )
            for etype in (left_type, right_type)
        ]
        sent_tmp = os.path.join(scratch, f"sent_tmp_{tag}")
        spark.createDataFrame(rows, batch.schema).coalesce(1).write.parquet(sent_tmp)
        part = next(
            f for f in os.listdir(sent_tmp)
            if f.startswith("part-") and f.endswith(".parquet")
        )
        dst = os.path.join(stage, f"z_sentinel_{tag}.parquet")
        shutil.copyfile(os.path.join(sent_tmp, part), dst)
        os.utime(dst, (real_mtime + 3600 * (i + 1),) * 2)

    raw = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(stage)
    )
    ev = raw.withColumn("event_time", as_event_time(raw, "ts")).withWatermark(
        "event_time", watermark
    )
    a, b = _sides(ev, left_type, right_type)
    joined = a.join(b, _attribution_condition(horizon_micros), "left_outer").select(
        F.col("a_user").alias("user_id"),
        F.col("a_id").alias("click_id"),
        F.col("b_id").alias("purchase_id"),
    )
    # r16: 4 state stores per partition per micro-batch × 4 batches (real +
    # 2 sentinel + final) made per-store commit overhead the measured
    # dominant cost (STREAMPROFILE_r16.json: 10-22 s addBatch on 0-2-row
    # batches) — size the partition count to the feed
    with scoped_shuffle_partitions(
        spark, state_partitions(spark, parquet_row_count(f"{sf_dir}/events.parquet"))
    ):
        q = (
            joined.writeStream.format("parquet")
            .option("path", outdir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    out = spark.read.parquet(outdir)
    # sentinel rows excluded
    return drained(out.filter(F.col("user_id").isNotNull()), scratch)
