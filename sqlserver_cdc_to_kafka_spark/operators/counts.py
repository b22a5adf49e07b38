"""Counting / extrema aggregations (SURVEY §2.4).

Each maps a hand-written T-SQL aggregate from ``cdc_kafka/sql_queries.py``
to a single Spark aggregation (partial agg map-side, one shuffle).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sqlserver_cdc_to_kafka_spark.model.envelope import CHANGE_OPERATIONS


def count_by_operation(df: DataFrame, idx_bound=None) -> DataFrame:
    """A1 (``sql_queries.py:170-192``): COUNT(*) GROUP BY operation below a
    change-index bound, PreUpdate rows excluded (P3, ``sql_queries.py:265``)."""
    out = df.filter(F.col("__operation").isin(*CHANGE_OPERATIONS))
    if idx_bound is not None:
        out = out.filter(F.col("change_seq") <= F.lit(idx_bound))
    return out.groupBy("__operation").agg(F.count("*").alias("n"))


def key_range_count(df: DataFrame, key_cols: Sequence[str], low: tuple, high: tuple) -> DataFrame:
    """A4/P6 (``sql_queries.py:120-133``): COUNT(*) where the PK tuple lies in
    [low, high]. The tuple comparison is a native struct comparison — Catalyst
    expands it to the OR-of-ANDs the reference writes by hand
    (``sql_queries.py:312-367``) and pushes it to the scan."""
    key = F.struct(*[F.col(c) for c in key_cols])
    lo = F.struct(
        *[F.lit(v).cast(df.schema[c].dataType).alias(c) for c, v in zip(key_cols, low)]
    )
    hi = F.struct(
        *[F.lit(v).cast(df.schema[c].dataType).alias(c) for c, v in zip(key_cols, high)]
    )
    return df.filter((key >= lo) & (key <= hi)).agg(F.count("*").alias("n"))


def max_key(df: DataFrame, key_cols: Sequence[str]) -> DataFrame:
    """A6 (``sql_queries.py:148-167``): multi-column max — the reference's
    ``TOP 1 ... ORDER BY pk DESC`` without the sort: ``max(struct(pk...))``."""
    m = df.agg(F.max(F.struct(*[F.col(c) for c in key_cols])).alias("k"))
    return m.select(*[F.col(f"k.{c}").alias(c) for c in key_cols])


def rows_per_second(df: DataFrame, ts_col: str) -> DataFrame:
    """A5/J4 (``sql_queries.py:68-74``): rate estimate with NULL guards.
    Timestamps are compared as epoch seconds (timezone-independent)."""
    # cast-to-double on a timestamp yields epoch seconds w/ fractional part
    ep = F.col(ts_col).cast("double")
    agg = df.agg(
        F.count("*").alias("n"),
        F.min(ep).alias("t0"),
        F.max(ep).alias("t1"),
    )
    return agg.select(
        "n",
        F.round(
            F.when(F.col("t1") > F.col("t0"), F.col("n") / (F.col("t1") - F.col("t0"))),
            4,
        ).alias("rows_per_sec"),
    )
