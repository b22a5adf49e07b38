"""Validation analytics — the reference's consistency audit as Spark queries.

Reference: ``--run-validations`` (``cdc_kafka/validation.py``) consumes each
topic and computes a one-pass per-table summary (message counts by kind,
min/max change index, distinct keys, regressions, missing offsets), then
reconciles against the database. The reference streams messages through
Python accumulators; here each check is one distributed aggregation.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sqlserver_cdc_to_kafka_spark.functions.datetime_fns import epoch_micros
from sqlserver_cdc_to_kafka_spark.model.envelope import (
    OP_DELETE,
    OP_INSERT,
    OP_POST_UPDATE,
    OP_SNAPSHOT,
)


def topic_summary(
    df: DataFrame,
    group_cols: Sequence[str],
    key_cols: Sequence[str],
) -> DataFrame:
    """A7 (``validation.py:109-197``): per-group counts by operation, index
    extrema, exact distinct keys, latest event time — one pass, map-side
    partial aggregation. The reference's exact Python key-sets become
    ``countDistinct`` (exact) — swap for ``approx_count_distinct`` at 100 TB."""
    key = F.struct(*[F.col(c) for c in key_cols])
    op = F.col("__operation")
    return df.groupBy(*group_cols).agg(
        F.count("*").alias("n_total"),
        F.count_if(op == OP_SNAPSHOT).alias("n_snapshots"),
        F.count_if(op == OP_INSERT).alias("n_inserts"),
        F.count_if(op == OP_POST_UPDATE).alias("n_updates"),
        F.count_if(op == OP_DELETE).alias("n_deletes"),
        F.countDistinct(key).alias("n_distinct_keys"),
        F.min("change_seq").alias("min_idx"),
        F.max("change_seq").alias("max_idx"),
        F.max(epoch_micros(df, "__event_time")).alias("max_event_time_us"),
    )


def lag_regressions(
    df: DataFrame,
    partition_col: str,
    order_col: str,
    value_col: str,
    descending_expected: bool = False,
) -> DataFrame:
    """W1/W2 (``validation.py:148-160,184-193``): per-partition count of rows
    where the watched value regresses along the offset order. With
    ``descending_expected`` the check flips (snapshot keys must be
    non-increasing per partition)."""
    w = Window.partitionBy(partition_col).orderBy(order_col)
    prev = F.lag(F.col(value_col)).over(w)
    bad = prev < F.col(value_col) if descending_expected else prev > F.col(value_col)
    return (
        df.withColumn("__bad", bad)
        .groupBy(partition_col)
        .agg(F.count_if(F.col("__bad")).alias("regressions"), F.count("*").alias("n_rows"))
    )


def missing_offsets(df: DataFrame, partition_col: str, offset_col: str) -> DataFrame:
    """W3 (``validation.py:123-127``): sum of gaps ``offset - lag(offset) - 1``
    per partition — how many offsets are absent from an expectedly-dense log."""
    w = Window.partitionBy(partition_col).orderBy(offset_col)
    gap = F.col(offset_col) - F.lag(F.col(offset_col)).over(w) - 1
    return (
        df.withColumn("__gap", gap)
        .groupBy(partition_col)
        .agg(
            F.coalesce(F.sum("__gap"), F.lit(0)).alias("missing"),
            F.count("*").alias("n_rows"),
        )
    )


def snapshot_history(
    df: DataFrame,
    topic_col: str,
    action_col: str,
    time_col,
    offset_col: str,
) -> DataFrame:
    """W7 (``show_snapshot_history.py:73-77,114-124``,
    ``find_truncation_opportunities.py:35-57``): pair the last 'started' and
    last 'completed' snapshot-log event per topic (last = highest log offset,
    not highest time) and flag topics with a snapshot still in progress.
    One ``max_by`` pass — no window, no self-join."""
    t = F.col(time_col) if isinstance(time_col, str) else time_col
    act = F.col(action_col)
    started = F.max_by(F.when(act == "started", t), F.when(act == "started", F.col(offset_col)))
    completed = F.max_by(F.when(act == "completed", t), F.when(act == "completed", F.col(offset_col)))
    return (
        df.groupBy(topic_col)
        .agg(
            started.alias("last_started"),
            completed.alias("last_completed"),
            F.count_if(act == "started").alias("n_started"),
            F.count_if(act == "completed").alias("n_completed"),
        )
        .withColumn(
            "in_progress",
            F.coalesce(
                F.col("last_started") > F.col("last_completed"),
                F.col("last_started").isNotNull(),
            ),
        )
    )


def progress_rollup(
    df: DataFrame,
    topic_col: str,
    offset_col: str,
    idx_col: str,
    entry_kind_col: str,
) -> DataFrame:
    """A10 (``progress_topic_validator.py:19-30,56-153``): the progress-topic
    invariant audit as ONE pass — per topic: entry count, regressing entries
    (W1), duplicate consecutive entries (W6), missing offsets (W3), index
    extrema, distinct entry kinds. The window and the aggregation share the
    same partitioning key, so Spark computes this with a single shuffle."""
    w = Window.partitionBy(topic_col).orderBy(offset_col)
    prev_idx = F.lag(F.col(idx_col)).over(w)
    gap = F.col(offset_col) - F.lag(F.col(offset_col)).over(w) - 1
    return (
        df.withColumn("__prev", prev_idx)
        .withColumn("__gap", gap)
        .groupBy(topic_col)
        .agg(
            F.count("*").alias("n_entries"),
            F.count_if(F.col("__prev") > F.col(idx_col)).alias("regressions"),
            F.count_if(F.col("__prev") == F.col(idx_col)).alias("duplicates"),
            F.coalesce(F.sum("__gap"), F.lit(0)).alias("missing_offsets"),
            F.min(idx_col).alias("min_idx"),
            F.max(idx_col).alias("max_idx"),
            F.countDistinct(entry_kind_col).alias("n_kinds"),
        )
    )


def duplicate_index_check(df: DataFrame, partition_col: str, order_col: str, idx_col: str) -> DataFrame:
    """W6 (``progress_topic_validator.py:106-111``): equal consecutive change
    indexes within a partition are duplicate progress entries."""
    w = Window.partitionBy(partition_col).orderBy(order_col)
    dup = F.lag(F.col(idx_col)).over(w) == F.col(idx_col)
    return (
        df.withColumn("__dup", dup)
        .groupBy(partition_col)
        .agg(F.count_if(F.col("__dup")).alias("duplicates"), F.count("*").alias("n_rows"))
    )
