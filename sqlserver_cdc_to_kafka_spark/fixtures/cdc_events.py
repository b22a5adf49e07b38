"""Deterministic synthetic CDC change feed (FIXTURES.md `cdc_events`).

The reference's core data object is a change row with an envelope
(``cdc_kafka/parsed_row.py:7-22``). The driver's test tables have no real CDC
source, so — per FIXTURES.md — a change feed is derived deterministically from
``orders`` (and from ``lineitem`` for the composite-key variant):

  for each source row with key k:
    Insert(k)                                  change_seq = k*3
    if k % 5  == 0: PostUpdate(k, status→'U')  change_seq = k*3 + 1
    if k % 17 == 0: Delete(k)                  change_seq = k*3 + 2

``change_seq`` is the scalar surrogate for the reference's ChangeIndex
``(lsn, command_id, seqval, operation)``; ``model.change_index`` expands it to
the full 10-byte struct when envelope fidelity is needed. The SAME derivation
is written twice — once as DataFrame ops, once as an ANSI-SQL CTE the DuckDB
oracle runs — so every operator over the feed is hash-checkable.

Update events carry ``__updated_fields = ['o_orderstatus']`` (the bitmask-
decoded subset, avro.py:536-543); insert/delete carry all columns
(avro.py:532-534). Delete events carry key + nulls for non-key payload.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from sqlserver_cdc_to_kafka_spark.model.envelope import (
    OP_DELETE,
    OP_INSERT,
    OP_POST_UPDATE,
)
from sqlserver_cdc_to_kafka_spark.tables import ensure_parallel, load_table, sql_string

ORDERS_PAYLOAD = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
]

LINEITEM_PAYLOAD = [
    "l_orderkey",
    "l_linenumber",
    "l_quantity",
    "l_extendedprice",
    "l_returnflag",
]


def _conditional(struct_sql: str, cond_sql: str) -> str:
    """[struct] when cond else [] — typed empty via zero-length slice."""
    return f"slice(array({struct_sql}), 1, CASE WHEN {cond_sql} THEN 1 ELSE 0 END)"


def cdc_events(
    spark: SparkSession, sf_dir: str, key_partitioned: bool = False
) -> DataFrame:
    """Change feed over ``orders`` (single-column PK ``o_orderkey``).

    Generated in ONE scan: each order row expands (explode) to its 1-3
    change events — no 3-way self-union, so the source is read and
    repartitioned once however many branches the derivation has. The
    events are one SQL expression, so building the plan costs a few driver
    round trips, not several per field.

    ``key_partitioned`` (r16, guide §2.4 "share one exchange"): hash-
    repartition ORDERS by ``o_orderkey`` BEFORE the explode and keep
    ``o_orderkey`` as the pass-through source column (outside the event
    struct), so the Generate preserves ``hashpartitioning(o_orderkey)`` and
    every key-clustered consumer (per-key windows, last-per-key aggregates,
    key joins) plans with NO further exchange of the event feed. The one
    shuffle then moves the PRE-explode orders rows — fewer rows, before the
    1-3× event multiplication — instead of the exploded feed, and a hash
    exchange (unlike the default round-robin) pays no sort-before-
    repartition. o_orderkey is unique per source row, so the hash spread is
    uniform — no skew risk. Identical rows, columns and column order either
    way; consumers whose first shuffle is NOT keyed by o_orderkey keep the
    default."""
    orders = load_table(spark, sf_dir, "orders")
    orders = (
        orders.repartition("o_orderkey") if key_partitioned else ensure_parallel(orders)
    )
    all_fields = f"array({', '.join(sql_string(c) for c in ORDERS_PAYLOAD)})"
    names = ["__operation", "change_seq", "__event_time", "__updated_fields", *ORDERS_PAYLOAD]

    def ev(op, seq, time, updated, *payload):
        values = [op, f"CAST({seq} AS BIGINT)", time, updated, "o_orderkey", *payload]
        return "named_struct(" + ", ".join(
            f"{sql_string(n)}, {v}"
            for n, v in zip(names, values)
            # default layout: key inside the struct (e.* below)
            if n != "o_orderkey" or not key_partitioned
        ) + ")"

    ins = ev(
        OP_INSERT, "o_orderkey * 3", "o_orderdate", all_fields,
        "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority",
    )
    upd = ev(
        OP_POST_UPDATE, "o_orderkey * 3 + 1", "o_orderdate + INTERVAL 1 HOUR",
        "array('o_orderstatus')",
        "o_custkey", "'U'", "o_totalprice", "o_orderdate", "o_orderpriority",
    )
    date_type = orders.schema["o_orderdate"].dataType.simpleString()
    del_ = ev(
        OP_DELETE, "o_orderkey * 3 + 2", "o_orderdate + INTERVAL 2 HOUR", all_fields,
        "CAST(NULL AS BIGINT)", "CAST(NULL AS STRING)", "CAST(NULL AS DOUBLE)",
        f"CAST(NULL AS {date_type})", "CAST(NULL AS STRING)",
    )
    events = (
        f"explode(concat(array({ins}), {_conditional(upd, 'o_orderkey % 5 = 0')}, "
        f"{_conditional(del_, 'o_orderkey % 17 = 0')})) AS e"
    )
    if key_partitioned:
        # o_orderkey passes through the Generate as the ORIGINAL attribute,
        # which is what lets Catalyst carry hashpartitioning(o_orderkey)
        # across the explode; column order matches the default path exactly
        return orders.selectExpr("o_orderkey", events).selectExpr(
            "e.__operation",
            "e.change_seq",
            "e.__event_time",
            "e.__updated_fields",
            "o_orderkey",
            "e.o_custkey",
            "e.o_orderstatus",
            "e.o_totalprice",
            "e.o_orderdate",
            "e.o_orderpriority",
        )
    return orders.selectExpr(events).selectExpr("e.*")


def cdc_lineitem_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change feed over ``lineitem`` (composite PK ``(l_orderkey,
    l_linenumber)`` — exercises composite-key keyset logic, SURVEY §2 P4/S2).

    key surrogate kk = l_orderkey * 8 + l_linenumber (linenumber < 8 in the
    fixture data); same insert/update/delete cadence and same single-scan
    explode generation as the orders feed.
    """
    li = ensure_parallel(load_table(spark, sf_dir, "lineitem"))
    kk = "(l_orderkey * 8 + l_linenumber)"

    def ev(op, seq, time, qty, price, flag):
        return (
            f"named_struct('__operation', {op}, 'change_seq', CAST({seq} AS BIGINT), "
            f"'__event_time', {time}, 'l_orderkey', l_orderkey, "
            f"'l_linenumber', l_linenumber, 'l_quantity', {qty}, "
            f"'l_extendedprice', {price}, 'l_returnflag', {flag})"
        )

    ins = ev(OP_INSERT, f"{kk} * 3", "l_shipdate", "l_quantity", "l_extendedprice",
             "l_returnflag")
    upd = ev(OP_POST_UPDATE, f"{kk} * 3 + 1", "l_shipdate + INTERVAL 1 HOUR",
             "l_quantity + 1.0D", "l_extendedprice", "l_returnflag")
    del_ = ev(OP_DELETE, f"{kk} * 3 + 2", "l_shipdate + INTERVAL 2 HOUR",
              "CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)", "CAST(NULL AS STRING)")
    return li.selectExpr(
        f"explode(concat(array({ins}), {_conditional(upd, f'{kk} % 5 = 0')}, "
        f"{_conditional(del_, f'{kk} % 17 = 0')})) AS e"
    ).selectExpr("e.*")


def with_cdc_views(spark: SparkSession, sf_dir: str) -> None:
    """Register both change feeds as temp views for the SQL API path."""
    cdc_events(spark, sf_dir).createOrReplaceTempView("cdc_events")
    cdc_lineitem_events(spark, sf_dir).createOrReplaceTempView("cdc_lineitem")


# --- DuckDB-oracle equivalents -------------------------------------------
# Identical derivation in ANSI SQL. Prepend these CTE bodies inside a WITH
# clause: f"WITH {CDC_EVENTS_SQL} SELECT ...".

CDC_EVENTS_SQL = """cdc_events AS (
  SELECT 2 AS __operation, o_orderkey*3 AS change_seq,
         o_orderdate AS __event_time,
         o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
         o_orderpriority
  FROM orders
  UNION ALL
  SELECT 4, o_orderkey*3+1, o_orderdate + INTERVAL 1 HOUR,
         o_orderkey, o_custkey, 'U', o_totalprice, o_orderdate,
         o_orderpriority
  FROM orders WHERE o_orderkey % 5 = 0
  UNION ALL
  SELECT 1, o_orderkey*3+2, o_orderdate + INTERVAL 2 HOUR,
         o_orderkey, CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR),
         CAST(NULL AS DOUBLE), CAST(NULL AS TIMESTAMP), CAST(NULL AS VARCHAR)
  FROM orders WHERE o_orderkey % 17 = 0
)"""

CDC_LINEITEM_SQL = """cdc_lineitem AS (
  SELECT 2 AS __operation, (l_orderkey*8+l_linenumber)*3 AS change_seq,
         l_shipdate AS __event_time,
         l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag
  FROM lineitem
  UNION ALL
  SELECT 4, (l_orderkey*8+l_linenumber)*3+1, l_shipdate + INTERVAL 1 HOUR,
         l_orderkey, l_linenumber, l_quantity + 1.0, l_extendedprice,
         l_returnflag
  FROM lineitem WHERE (l_orderkey*8+l_linenumber) % 5 = 0
  UNION ALL
  SELECT 1, (l_orderkey*8+l_linenumber)*3+2, l_shipdate + INTERVAL 2 HOUR,
         l_orderkey, l_linenumber, CAST(NULL AS DOUBLE),
         CAST(NULL AS DOUBLE), CAST(NULL AS VARCHAR)
  FROM lineitem WHERE (l_orderkey*8+l_linenumber) % 17 = 0
)"""
