"""The change-feed fixture (``fixtures.cdc_events``) is one SQL-text
projection: its rows must equal the DuckDB oracle's derivation and its
schema, nullability included, must stay pinned in both layouts, and the
key-partitioned layout must keep key-clustered consumers exchange-free."""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import types as T

from sqlserver_cdc_to_kafka_spark.fixtures.cdc_events import (
    CDC_EVENTS_SQL,
    ORDERS_PAYLOAD,
    cdc_events,
)
from sqlserver_cdc_to_kafka_spark.registry import load_all

FEED_SCHEMA = T.StructType(
    [
        T.StructField("__operation", T.IntegerType(), False),
        T.StructField("change_seq", T.LongType(), True),
        T.StructField("__event_time", T.TimestampNTZType(), True),
        T.StructField("__updated_fields", T.ArrayType(T.StringType(), False), False),
        T.StructField("o_orderkey", T.LongType(), True),
        T.StructField("o_custkey", T.LongType(), True),
        T.StructField("o_orderstatus", T.StringType(), True),
        T.StructField("o_totalprice", T.DoubleType(), True),
        T.StructField("o_orderdate", T.TimestampNTZType(), True),
        T.StructField("o_orderpriority", T.StringType(), True),
    ]
)


def _exchanges(df) -> int:
    return df._jdf.queryExecution().executedPlan().toString().count("Exchange")


@pytest.mark.parametrize("key_partitioned", [False, True])
def test_feed_equals_the_oracle(spark, sf_dir, duck, key_partitioned):
    feed = cdc_events(spark, sf_dir, key_partitioned=key_partitioned)
    assert feed.schema == FEED_SCHEMA
    oracle = duck.execute(f"WITH {CDC_EVENTS_SQL} SELECT * FROM cdc_events")
    cols = [d[0] for d in oracle.description]
    expected = Counter(map(tuple, oracle.fetchall()))
    assert Counter(map(tuple, feed.select(*cols).collect())) == expected
    updated = feed.select("__operation", "__updated_fields").distinct().collect()
    assert {(op, tuple(fields)) for op, fields in updated} == {
        (2, tuple(ORDERS_PAYLOAD)), (4, ("o_orderstatus",)), (1, tuple(ORDERS_PAYLOAD))
    }


def test_key_partitioned_feed_needs_no_further_exchange(spark, sf_dir):
    feed = cdc_events(spark, sf_dir, key_partitioned=True)
    assert _exchanges(feed) == 1  # the pre-explode repartition of orders
    assert _exchanges(feed.groupBy("o_orderkey").count()) == 1


@pytest.mark.parametrize(
    "name, exchanges",
    [
        ("cdc_compaction_last_per_key", 1),
        ("cdc_replay_merge", 2),
        ("join_range_version_intervals", 2),
    ],
)
def test_key_partitioned_queries_keep_their_exchanges(spark, sf_dir, name, exchanges):
    assert _exchanges(load_all()[name].fn(spark, sf_dir)) == exchanges
