"""Keyed compaction: last-value-per-key + delete tombstones.

Reference behaviors re-expressed:
- W4 last-value-per-key (``cdc_kafka/progress_tracking.py:236-246``): reading
  a compacted topic keeps only the latest message per key; a tombstone (null
  value) drops the key.
- T6 tombstones (``cdc_kafka/main.py:342-345``): after a Delete message the
  producer emits ``(key, null)`` so Kafka log compaction reclaims the key.

Spark mapping: ``max_by(struct(payload), offset)`` per key — a single
shuffle-with-partial-aggregation (map-side combine), which scales linearly:
no window/sort needed, and AQE handles key skew.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sqlserver_cdc_to_kafka_spark.model.envelope import OP_DELETE
from sqlserver_cdc_to_kafka_spark.tables import quote


def last_value_per_key(
    df: DataFrame,
    key_cols: Sequence[str],
    order_col: str,
    drop_deleted: bool = True,
) -> DataFrame:
    """Latest row per key by ``order_col``; with ``drop_deleted`` keys whose
    final operation is Delete are compacted away (tombstone semantics)."""
    payload = [quote(c) for c in df.columns if c not in key_cols]
    agg = df.groupBy(*key_cols).agg(
        F.expr(f"max_by(struct({', '.join(payload)}), {quote(order_col)}) AS __last")
    )
    out = agg.selectExpr(*map(quote, key_cols), *[f"__last.{c} AS {c}" for c in payload])
    if drop_deleted:
        out = out.filter(f"__operation != {OP_DELETE}")
    return out


def tombstones(df: DataFrame, key_cols: Sequence[str]) -> DataFrame:
    """The ``(key, null)`` companion records for every Delete event (T6)."""
    return df.filter(F.col("__operation") == OP_DELETE).select(
        *key_cols, F.lit(None).cast("string").alias("value")
    )
