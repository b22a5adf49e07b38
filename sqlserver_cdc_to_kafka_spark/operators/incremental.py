"""Incremental aggregate maintenance from a change feed.

The canonical downstream use of CDC: keep a materialized aggregate current
by applying per-event DELTAS instead of recomputing from the compacted
state. For a grouped count:

  Insert     → +1 for the new dimension value
  PostUpdate → +1 new value, −1 previous value
  Delete     → −1 previous value

The previous value is reconstructed with ``lag`` per key in change order
(the reference ships it as PreUpdate rows, op 3 — same information; using
lag keeps the fixture's 3-op feed sufficient). Maintained result must equal
the recompute from compaction — `cdc_incremental_agg` asserts exactly that,
per group, inside the query itself."""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sqlserver_cdc_to_kafka_spark.model.envelope import (
    OP_DELETE,
    OP_INSERT,
    OP_POST_UPDATE,
)


def incremental_count_by(
    feed: DataFrame,
    key_cols: Sequence[str],
    dim_col: str,
) -> DataFrame:
    """(dim, maintained_count) from the feed's deltas alone — one window to
    recover previous values, one union-free delta projection, one sum."""
    w = Window.partitionBy(*key_cols).orderBy("change_seq")
    with_prev = feed.withColumn("__prev_dim", F.lag(dim_col).over(w))
    op = F.col("__operation")
    plus = with_prev.filter(op.isin(OP_INSERT, OP_POST_UPDATE)).select(
        F.col(dim_col).alias("dim"), F.lit(1).alias("delta")
    )
    minus = with_prev.filter(op.isin(OP_POST_UPDATE, OP_DELETE)).select(
        F.col("__prev_dim").alias("dim"), F.lit(-1).alias("delta")
    )
    return (
        plus.unionByName(minus)
        .groupBy("dim")
        .agg(F.sum("delta").alias("maintained_count"))
        .filter(F.col("maintained_count") != 0)
    )


def incremental_sum_by(
    feed: DataFrame,
    key_cols: Sequence[str],
    dim_col: str,
    value_col,
) -> DataFrame:
    """(dim, maintained_sum) from deltas alone — the measure-maintenance
    generalization of incremental_count_by: an insert contributes +value
    to its dim, an update MOVES the contribution ((prev_dim, −prev_value)
    + (dim, +value) — both the group and the measure may change), a delete
    contributes −prev_value.  ``value_col`` must be an exact type (decimal
    / scaled long): float value deltas would accumulate rounding the
    recompute doesn't have.  Same plan shape as the count form: one
    window, one delta projection, one sum."""
    w = Window.partitionBy(*key_cols).orderBy("change_seq")
    val = value_col if not isinstance(value_col, str) else F.col(value_col)
    with_prev = (
        feed.withColumn("__val", val)
        .withColumn("__prev_dim", F.lag(dim_col).over(w))
        .withColumn("__prev_val", F.lag("__val").over(w))
    )
    op = F.col("__operation")
    plus = with_prev.filter(op.isin(OP_INSERT, OP_POST_UPDATE)).select(
        F.col(dim_col).alias("dim"), F.col("__val").alias("delta")
    )
    minus = with_prev.filter(op.isin(OP_POST_UPDATE, OP_DELETE)).select(
        F.col("__prev_dim").alias("dim"), (-F.col("__prev_val")).alias("delta")
    )
    return (
        plus.unionByName(minus)
        .groupBy("dim")
        .agg(F.sum("delta").alias("maintained_sum"))
        .filter(F.col("maintained_sum") != 0)
    )
