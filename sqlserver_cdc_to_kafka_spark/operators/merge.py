"""Global-order operators over change feeds (SURVEY §2.5 O1/O2, §2.9 T4).

The reference's heart is a K-way priority-heap merge: change rows from all
tables are pushed into a heapq keyed by ChangeIndex and popped in global
order up to ``common_lsn_limit`` — the min of per-table high-water marks
(``cdc_kafka/main.py:299-350``). Out-of-order production raises
(``main.py:329-331``).

Spark-first restatement: the heap is a union of the feeds, a filter at the
common frontier and a rank on the change-index column. The query
``cdc_ordered_merge`` (``queries/cdc._merged_with_rank``) computes the
frontier (per-feed max, then min) in one aggregate and ranks with
``global_order_rank``. The helpers here give a global order without a
single-partition sort: range-bucket the order key, window within each
bucket in parallel, and add the prefix total of the earlier buckets.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def global_order_rank(
    df: DataFrame,
    idx_col: str,
    buckets: int | None = None,
    bounds: tuple | None = None,
    numeric_col: str | None = None,
) -> DataFrame:
    """Dense global rank along ``idx_col`` WITHOUT a single-partition sort.

    Two-phase: (1) deterministic range-bucket each row with ``width_bucket``
    over the observed [min, max]; (2) rank within each bucket (parallel
    windows) and add the exclusive prefix count of earlier buckets (one tiny
    per-bucket count collected to the driver — bounded by bucket count, not
    data size). Equivalent to ``row_number() OVER (ORDER BY idx)`` when idx
    values are unique; survives 100 TB where the global window cannot.

    Pass ``bounds=(lo, hi)`` when the caller already knows the index range
    (e.g. from the frontier computation) to skip one extra pass over the
    data.

    ``numeric_col``: bucketing key when ``idx_col`` itself is not numeric
    (e.g. a hex-string sort key whose fixed-width numeric prefix is monotone
    in the string order). Bucket boundaries come from ``numeric_col``;
    ordering within buckets stays on ``idx_col``."""
    spark = df.sparkSession
    bucket_key = numeric_col or idx_col
    if buckets is None:
        buckets = max(spark.sparkContext.defaultParallelism, 16)
    if bounds is not None:
        lo, hi = bounds
    else:
        lo, hi = df.agg(F.min(bucket_key), F.max(bucket_key)).collect()[0]
    if lo is None:
        return df.withColumn("global_rank", F.lit(None).cast("bigint"))
    bucketed = df.withColumn(
        "__bucket",
        F.width_bucket(F.col(bucket_key), F.lit(lo), F.lit(hi) + 1, F.lit(buckets)),
    )
    counts = sorted(
        (r["__bucket"], r["n"])
        for r in bucketed.groupBy("__bucket").agg(F.count("*").alias("n")).collect()
    )
    offsets, acc = {}, 0
    for b, n in counts:
        offsets[b] = acc
        acc += n
    offset_map = F.create_map(
        *[x for b, off in offsets.items() for x in (F.lit(b), F.lit(off))]
    )
    w = Window.partitionBy("__bucket").orderBy(idx_col)
    return (
        bucketed.withColumn(
            "global_rank",
            (F.row_number().over(w) + offset_map[F.col("__bucket")]).cast("bigint"),
        )
        .drop("__bucket")
    )


def grouped_prefix_sum(
    df: DataFrame,
    group_col: str,
    order_col: str,
    value_col: str,
    out_col: str = "prefix_sum",
    buckets: int | None = None,
) -> DataFrame:
    """Running ``SUM(value) OVER (PARTITION BY group ORDER BY order ROWS
    UNBOUNDED PRECEDING)`` WITHOUT one window partition per group value.

    A plain window is fine when groups are numerous and small, but with few
    large groups (e.g. 3 corpus sources over 100 TB) each group's entire data
    funnels through a single task. Same two-phase trick as
    ``global_order_rank``: (1) range-bucket rows on the numeric ``order_col``
    so each (group, bucket) is a bounded slice; (2) window-sum within each
    slice in parallel and add the exclusive prefix total of the group's
    earlier buckets (a per-(group, bucket) SUM collected to the driver —
    bounded by groups x buckets, not data size).

    The input is persisted (r15): the operator drives THREE passes over it
    (the bounds agg, the per-(group, bucket) totals collect, and the
    returned bucketed window plan) — uncached, each re-derived the caller's
    projection from source (pack_sequences re-tokenized the corpus per
    pass, measured on the sf0.1 bench). Caller-managed release, same
    contract as the other lazy-return persist sites: the returned plan
    reads the cache, so LRU eviction / the harness's clearCache reclaims."""
    spark = df.sparkSession
    df = df.persist()
    if buckets is None:
        buckets = max(spark.sparkContext.defaultParallelism, 16)
    lo, hi = df.agg(F.min(order_col), F.max(order_col)).collect()[0]
    if lo is None:
        # empty/all-null input: the trivial plan below reads at most a
        # handful of rows — release the persist here, no consumer needs it
        # (r16, from the r15 ADVICE early-return-leak note)
        df.unpersist()
        return df.withColumn(out_col, F.lit(None).cast("bigint"))
    bucketed = df.withColumn(
        "__bucket",
        F.width_bucket(F.col(order_col), F.lit(lo), F.lit(hi) + 1, F.lit(buckets)),
    )
    totals = sorted(
        (r[group_col], r["__bucket"], r["t"])
        for r in bucketed.groupBy(group_col, "__bucket")
        .agg(F.sum(value_col).alias("t"))
        .collect()
    )
    offsets, acc = {}, {}
    for g, b, t in totals:
        offsets[(g, b)] = acc.get(g, 0)
        acc[g] = acc.get(g, 0) + t
    # offsets ship as a broadcast-joined table, not a create_map literal —
    # groups x buckets entries inlined into the plan make Catalyst analysis
    # cost scale with the offset count (measured: whole seconds at ~640)
    off_df = F.broadcast(
        spark.createDataFrame(
            [(g, b, off) for (g, b), off in offsets.items()],
            [group_col, "__bucket", "__offset"],
        )
    )
    w = (
        Window.partitionBy(group_col, "__bucket")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        bucketed.join(off_df, [group_col, "__bucket"])
        .withColumn(
            out_col,
            (F.sum(value_col).over(w) + F.col("__offset")).cast("bigint"),
        )
        .drop("__bucket", "__offset")
    )


def global_prefix_sum(
    df: DataFrame,
    order_exprs: Sequence,
    bucket_expr,
    value_col: str,
    out_col: str = "prefix_sum",
    buckets: int | None = None,
) -> DataFrame:
    """Running ``SUM(value) OVER (ORDER BY order_exprs ROWS UNBOUNDED
    PRECEDING)`` — a GLOBAL total-order prefix sum — without the
    single-partition exchange the plain window needs (the r11 plan-audit
    class: at 100 TB every row funnels through ONE task).

    Same two-phase shape as global_order_rank / grouped_prefix_sum, but
    over a COMPOSITE order: ``order_exprs`` (Column expressions, packed
    into a struct whose ascending sort IS the total order — negate
    numerics for DESC components, include a tie-break) defines the order;
    ``bucket_expr`` is any numeric expression MONOTONE NON-DECREASING in
    that order (typically the leading component, double-cast is fine —
    only bucket boundaries derive from it, never the in-bucket order).
    Phase 1 range-buckets rows and collects one SUM per bucket (bounded
    by bucket count); phase 2 window-sums within each bucket in parallel
    and adds the exclusive prefix of earlier buckets.

    Persisted for the same r15 reason as grouped_prefix_sum: three passes
    (bounds agg, per-bucket totals, the returned window plan) otherwise
    re-derive the caller's projection from source each time; caller-managed
    release per the standing lazy-return contract."""
    spark = df.sparkSession
    if buckets is None:
        buckets = max(spark.sparkContext.defaultParallelism, 16)
    d = df.withColumn("__num", bucket_expr).withColumn(
        "__ord", F.struct(*order_exprs)
    ).persist()
    lo, hi = d.agg(F.min("__num"), F.max("__num")).collect()[0]
    if lo is None:
        # empty/all-null input: the returned plan reads `df`, not `d` — the
        # persisted `d` would otherwise leak with no reader (r15 ADVICE)
        d.unpersist()
        return df.withColumn(out_col, F.lit(None).cast("bigint"))
    d = d.withColumn(
        "__bucket",
        F.width_bucket(F.col("__num"), F.lit(lo), F.lit(hi) + 1, F.lit(buckets)),
    )
    totals = sorted(
        (r["__bucket"], r["t"])
        for r in d.groupBy("__bucket").agg(F.sum(value_col).alias("t")).collect()
    )
    offsets, acc = {}, 0
    for b, t in totals:
        offsets[b] = acc
        acc += int(t)
    off_df = F.broadcast(
        spark.createDataFrame(
            [(int(b), off) for b, off in offsets.items()],
            "__bucket bigint, __offset bigint",
        )
    )
    w = (
        Window.partitionBy("__bucket")
        .orderBy("__ord")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        d.withColumn("__bucket", F.col("__bucket").cast("bigint"))
        .join(off_df, "__bucket")
        .withColumn(
            out_col,
            (F.sum(value_col).over(w) + F.col("__offset")).cast("bigint"),
        )
        .drop("__bucket", "__num", "__ord", "__offset")
    )


def global_ntile(
    df: DataFrame,
    order_exprs: Sequence,
    bucket_expr,
    n_tiles: int,
    out_col: str = "tile",
    buckets: int | None = None,
) -> DataFrame:
    """Exact ``ntile(n) OVER (ORDER BY order_exprs)`` without the
    single-partition window: global_order_rank supplies the dense rank
    scalably, a broadcast scalar supplies the row count, and the
    SQL-standard ntile bucket formula maps (rank, n) -> tile: with
    q = n DIV k and r = n MOD k the first r tiles hold q+1 rows, the rest
    q — bit-identical to Spark's and DuckDB's ntile on a unique total
    order (ties must be broken inside order_exprs).  ``bucket_expr`` as
    in global_prefix_sum.  Pinned against F.ntile by
    tests/test_global_order_ops.py across n % k residues."""
    d = df.withColumn("__ord", F.struct(*order_exprs)).withColumn(
        "__num", bucket_expr
    )
    ranked = global_order_rank(d, "__ord", buckets=buckets, numeric_col="__num")
    tot = df.agg(F.count("*").cast("bigint").alias("__n"))
    k = int(n_tiles)
    tile = F.expr(
        f"CAST(CASE WHEN global_rank <= (__n % {k}) * (__n DIV {k} + 1) "
        f"THEN (global_rank + (__n DIV {k})) DIV ((__n DIV {k}) + 1) "
        f"ELSE (__n % {k}) + (global_rank - (__n % {k}) * ((__n DIV {k}) + 1) "
        f"+ (__n DIV {k}) - 1) DIV (__n DIV {k}) END AS BIGINT)"
    )
    return (
        ranked.crossJoin(F.broadcast(tot))
        .withColumn(out_col, tile)
        .drop("__ord", "__num", "__n", "global_rank")
    )


def global_gap_islands(
    df: DataFrame,
    ts_col: str,
    gap: int,
    out_col: str = "island",
    buckets: int | None = None,
) -> DataFrame:
    """Gaps-and-islands over a GLOBAL numeric order (no partition key):
    assign consecutive island ids such that rows whose ``ts_col`` is
    within ``gap`` of the previous row share an island — the global
    sessionize the plain ``lag() OVER (ORDER BY ts)`` window computes
    through a single task.

    Two-phase: range-bucket on ``ts_col``; the within-bucket lag is a
    parallel window; each bucket's FIRST row takes its predecessor from a
    driver-collected per-bucket MAX(ts) (bounded by bucket count — the
    nearest earlier non-empty bucket's max is the true global
    predecessor).  Break flags then collapse to ONE row per DISTINCT
    timestamp (at most one row among equal timestamps can break — only
    the tie-order-first sees an earlier prev — so MAX over the tie group
    is exact and makes the result tie-order independent: rows sharing a
    timestamp always share an island, RANGE-frame semantics); the island
    id is the global prefix sum of per-timestamp breaks via
    global_prefix_sum (unique order key after the collapse), joined back
    on the timestamp."""
    spark = df.sparkSession
    if buckets is None:
        buckets = max(spark.sparkContext.defaultParallelism, 16)
    lo, hi = df.agg(F.min(ts_col), F.max(ts_col)).collect()[0]
    if lo is None:
        return df.withColumn(out_col, F.lit(None).cast("bigint"))
    d = df.withColumn(
        "__bucket",
        F.width_bucket(F.col(ts_col), F.lit(lo), F.lit(hi) + 1, F.lit(buckets)),
    )
    maxes = sorted(
        (r["__bucket"], r["m"])
        for r in d.groupBy("__bucket").agg(F.max(ts_col).alias("m")).collect()
    )
    prev_max: dict[int, int | None] = {}
    last = None
    for b, m in maxes:
        prev_max[b] = last
        last = m
    carry_df = F.broadcast(
        spark.createDataFrame(
            [(int(b), pm) for b, pm in prev_max.items()],
            "__bucket bigint, __carry_ts bigint",
        )
    )
    w = Window.partitionBy("__bucket").orderBy(ts_col)
    d = (
        d.withColumn("__bucket", F.col("__bucket").cast("bigint"))
        .join(carry_df, "__bucket")
        .withColumn(
            "__prev",
            F.coalesce(F.lag(ts_col).over(w), F.col("__carry_ts")),
        )
        .withColumn(
            "__brk",
            (
                F.col("__prev").isNull()
                | (F.col(ts_col) - F.col("__prev") >= F.lit(gap))
            ).cast("int"),
        )
        .drop("__bucket", "__carry_ts", "__prev")
    )
    per_ts = d.groupBy(ts_col).agg(F.max("__brk").alias("__brk"))
    islands = global_prefix_sum(
        per_ts, [F.col(ts_col)], F.col(ts_col), "__brk", out_col, buckets=buckets
    ).drop("__brk")
    return d.drop("__brk").join(islands, ts_col)
