"""Snapshot (backfill) scans: envelope projection + reverse keyset pagination.

Reference: ``cdc_kafka/sql_queries.py:270-309`` reads the source table in
``TOP(batch)`` pages ordered by PK DESC, seeking strictly below the last-read
key tuple (keyset pagination, never OFFSET), and synthesizes envelope
constants (op=Snapshot, read time, NULL LSN). Dropped-but-captured columns
are projected as typed NULLs (P2, ``sql_queries.py:274-279``).

Spark mapping: the page predicate is a native struct comparison — Catalyst
expands ``struct(pk...) < struct(lit...)`` into exactly the OR-of-ANDs the
reference builds by hand (P4, ``sql_queries.py:312-367``) and pushes it into
the parquet/JDBC scan. At scale a full snapshot is just the partitioned scan
itself; pagination matters only for resumable bounded batches, where the
predicate keeps each page an index seek.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sqlserver_cdc_to_kafka_spark.model.envelope import CHANGE_OPERATIONS, OP_SNAPSHOT
from sqlserver_cdc_to_kafka_spark.tables import quote, sql_string


def key_tuple_below(df: DataFrame, key_cols: Sequence[str], last_key: Sequence) -> Column:
    """P4 keyset predicate: ``(k1,...,kn) < (v1,...,vn)`` lexicographic.
    Literals are cast to the exact column types — struct comparison requires
    identical field types on both sides."""
    key = F.struct(*[F.col(c) for c in key_cols])
    bound = F.struct(
        *[
            F.lit(v).cast(df.schema[c].dataType).alias(c)
            for c, v in zip(key_cols, last_key)
        ]
    )
    return key < bound


def snapshot_page(
    df: DataFrame,
    key_cols: Sequence[str],
    last_key: Sequence | None,
    batch_size: int = 2000,
) -> DataFrame:
    """One reverse-keyset snapshot page (S2): rows strictly below ``last_key``
    in PK order, highest keys first, at most ``batch_size`` rows. The reverse
    direction is load-bearing (T7): rows inserted after the snapshot started
    have higher keys and arrive via the change feed instead, so the snapshot
    and the change stream never double-read (``build_startup_state.py:230-232``)."""
    page = df
    if last_key is not None:
        page = page.filter(key_tuple_below(df, key_cols, last_key))
    return page.orderBy(*[F.col(c).desc() for c in key_cols]).limit(batch_size)


def envelope_sql(
    columns: Sequence[str], dropped_cols: Mapping[str, str] | None = None
) -> dict[str, str]:
    """S2 envelope synthesis (``sql_queries.py:298-303``) as SQL text, one
    expression per output column in order: op=Snapshot, NULL
    LSN/seqval/command_id, snapshot read time; P2: dropped-but-captured
    columns re-added as typed NULLs."""
    all_fields = list(columns) + sorted(dropped_cols or {})
    return {
        "__operation": str(OP_SNAPSHOT),
        "__event_time": "current_timestamp()",
        "__log_lsn": "CAST(NULL AS BINARY)",
        "__command_id": "CAST(NULL AS INT)",
        "__log_seqval": "CAST(NULL AS BINARY)",
        "__updated_fields": f"array({', '.join(sql_string(c) for c in all_fields)})",
        **{c: quote(c) for c in columns},
        **{c: f"CAST(NULL AS {t})" for c, t in sorted((dropped_cols or {}).items())},
    }


def snapshot_envelope(df: DataFrame, dropped_cols: Mapping[str, str] | None = None) -> DataFrame:
    """The snapshot envelope (``envelope_sql``) of ``df``'s rows, in one
    projection."""
    exprs = envelope_sql(df.columns, dropped_cols)
    return df.selectExpr(*[f"{e} AS {quote(c)}" for c, e in exprs.items()])


def change_window_scan(
    feed: DataFrame, low, high=None, batch_size: int | None = None
) -> DataFrame:
    """S1/P5: the incremental change scan — rows strictly after ``low`` and at
    most ``high`` (either bound None: unbounded), PreUpdate filtered out
    (P3), and with ``batch_size`` the first that many in ``change_seq``
    order: the reference's TOP(batch) pull and every pull trigger's poll
    (T3). The reference decomposes this into a 3-branch UNION ALL for
    index-seek friendliness (``sql_queries.py:238-254``); with a columnar
    scan a single range filter is optimal — Catalyst pushes both bounds into
    the reader."""
    preds = [f"change_seq > {int(low)}"] if low is not None else []
    if high is not None:
        preds.append(f"change_seq <= {int(high)}")
    ops = ", ".join(map(str, CHANGE_OPERATIONS))
    out = feed.filter(" AND ".join([*preds, f"__operation IN ({ops})"]))
    if batch_size is not None:
        out = out.orderBy("change_seq").limit(batch_size)
    return out
