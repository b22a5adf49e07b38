"""Core CDC-engine queries: snapshot, change scan, ordered merge, compaction,
replay — the reference's primary pipeline (SURVEY §2.1, §2.5, §2.7, §3.1)
declared over the driver's test tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sqlserver_cdc_to_kafka_spark.fixtures.cdc_events import (
    CDC_EVENTS_SQL,
    cdc_events,
)
from sqlserver_cdc_to_kafka_spark.operators.compaction import (
    last_value_per_key,
    tombstones,
)
from sqlserver_cdc_to_kafka_spark.operators.counts import count_by_operation
from sqlserver_cdc_to_kafka_spark.operators.merge import global_order_rank
from sqlserver_cdc_to_kafka_spark.operators.replay import replay_merge
from sqlserver_cdc_to_kafka_spark.operators.validation import lag_regressions
from sqlserver_cdc_to_kafka_spark.registry import query
from sqlserver_cdc_to_kafka_spark.sources.snapshot import (
    change_window_scan,
    snapshot_envelope,
    snapshot_page,
)
from sqlserver_cdc_to_kafka_spark.tables import load_table

A1_BOUND = 30_000  # change-index ceiling for the count-by-operation slice
S1_LOW, S1_HIGH = 900, 2_700  # change-window scan bounds (non-empty at sf0.001+)


@query(
    "cdc_count_by_operation",
    oracle=f"""
WITH {CDC_EVENTS_SQL}
SELECT __operation, COUNT(*) AS n
FROM cdc_events
WHERE change_seq <= {A1_BOUND} AND __operation IN (1, 2, 4)
GROUP BY __operation
""",
    bench=True,
)
def q_count_by_operation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: COUNT(*) GROUP BY operation below an index bound
    (sql_queries.py:170-192), PreUpdate excluded (P3)."""
    return count_by_operation(cdc_events(spark, sf_dir), idx_bound=A1_BOUND)


@query(
    "cdc_change_window_scan",
    oracle=f"""
WITH {CDC_EVENTS_SQL}
SELECT __operation, change_seq, o_orderkey, o_orderstatus
FROM cdc_events
WHERE change_seq > {S1_LOW} AND change_seq <= {S1_HIGH}
  AND __operation IN (1, 2, 4)
""",
    bench=True,
)
def q_change_window_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/P5: the incremental change-table scan — strictly-after low bound,
    at-most high bound (sql_queries.py:218-267). One range filter; Catalyst
    pushes both bounds to the scan (the reference needed a hand-built 3-way
    UNION ALL for the same effect)."""
    return change_window_scan(cdc_events(spark, sf_dir), S1_LOW, S1_HIGH).select(
        "__operation", "change_seq", "o_orderkey", "o_orderstatus"
    )


_MERGE_CTES = f"""
WITH {CDC_EVENTS_SQL},
a AS (SELECT * FROM cdc_events WHERE change_seq % 2 = 0),
b AS (SELECT * FROM cdc_events WHERE change_seq % 2 = 1),
fr AS (SELECT LEAST((SELECT MAX(change_seq) FROM a),
                    (SELECT MAX(change_seq) FROM b)) AS f),
m AS (SELECT * FROM a UNION ALL SELECT * FROM b),
r AS (SELECT CAST(row_number() OVER (ORDER BY change_seq) AS BIGINT) AS global_rank,
             change_seq, __operation, o_orderkey
      FROM m WHERE change_seq <= (SELECT f FROM fr))
"""


def _merged_with_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    # project to the 3 needed columns BEFORE the merge: the sort/rank then
    # moves 3 narrow columns instead of the whole envelope
    cdc = cdc_events(spark, sf_dir).select("change_seq", "__operation", "o_orderkey")
    # The two per-parity feeds (change_seq % 2 == 0 / == 1) partition the
    # full feed — their UNION ALL is a PERMUTATION of `cdc` itself, and
    # every consumer below is row-order independent (the frontier aggregate,
    # the bounded filter, and global_order_rank's bucket window ordered by
    # the UNIQUE change_seq). So the merge is computed as the single feed
    # (r16, guide §1.2 "don't compute things you throw away"): the r15 form
    # materialized the union of the two filter branches, which ran the
    # cdc_events explode TWICE (AQE reused the scan exchange but not the
    # Generate) and filtered 2x|feed| rows to keep each row once. The
    # frontier semantics (per-feed max, then min) are unchanged below, and
    # the oracle (_MERGE_CTES) still unions the two feeds, so the query's
    # oracle checks the fused merge against the K-way one (O1, T4).
    #
    # persisted: the frontier collect below plus the returned lazy rank plan
    # both read `merged`, so the cache must outlive this function — release
    # is caller-managed (LRU eviction / clearCache(), the documented
    # reliance of pipeline/clustering.py)
    merged = cdc.persist()
    # ONE driver job for frontier + lower bound: per-feed maxes (the feed tag
    # is derivable from the index) and the global min together
    row = merged.agg(
        F.min("change_seq").alias("lo"),
        F.max(F.when(F.col("change_seq") % 2 == 0, F.col("change_seq"))).alias("m0"),
        F.max(F.when(F.col("change_seq") % 2 == 1, F.col("change_seq"))).alias("m1"),
    ).collect()[0]
    frontier = min(row["m0"], row["m1"])  # the common frontier (T4)
    bounded = merged.filter(F.col("change_seq") <= F.lit(frontier))
    ranked = global_order_rank(bounded, "change_seq", bounds=(row["lo"], frontier))
    return ranked.select(
        F.col("global_rank").cast("bigint").alias("global_rank"),
        "change_seq",
        "__operation",
        "o_orderkey",
    )


@query("cdc_ordered_merge", oracle=_MERGE_CTES + "SELECT * FROM r", bench=True)
def q_ordered_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1/T4: K-way ordered merge of per-table feeds bounded by the common
    frontier (main.py:299-350). global_rank makes the total order
    hash-visible. Scale path: repartitionByRange(change_idx) + in-partition
    sort instead of the single row_number window."""
    return _merged_with_rank(spark, sf_dir)


@query(
    "cdc_order_regression_check",
    oracle=_MERGE_CTES
    + """
SELECT bucket,
       COUNT(*) FILTER (WHERE prev > change_seq) AS regressions,
       COUNT(*) AS n_rows
FROM (SELECT o_orderkey % 4 AS bucket, change_seq,
             lag(change_seq) OVER (PARTITION BY o_orderkey % 4
                                   ORDER BY global_rank) AS prev
      FROM r)
GROUP BY bucket
""",
)
def q_order_regression_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2/W1: the strict-order assertion (main.py:329-331) as a lag-window
    audit — zero regressions expected in every partition."""
    merged = _merged_with_rank(spark, sf_dir).withColumn(
        "bucket", F.col("o_orderkey") % 4
    )
    return lag_regressions(merged, "bucket", "global_rank", "change_seq")


@query(
    "cdc_compaction_last_per_key",
    oracle=f"""
WITH {CDC_EVENTS_SQL}
SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority,
       change_seq AS last_seq
FROM (SELECT *, row_number() OVER (PARTITION BY o_orderkey
                                   ORDER BY change_seq DESC) AS rn
      FROM cdc_events)
WHERE rn = 1 AND __operation <> 1
""",
    bench=True,
)
def q_compaction_last_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4: compacted-topic replay — latest value per key, tombstoned keys
    dropped (progress_tracking.py:236-246). One shuffle via max_by — and
    with the key-partitioned feed (r16) that shuffle moves the pre-explode
    ORDERS rows, not the exploded event feed: the max_by aggregate reads the
    Generate's preserved hashpartitioning(o_orderkey) and plans
    exchange-free."""
    out = last_value_per_key(
        cdc_events(spark, sf_dir, key_partitioned=True),
        ["o_orderkey"],
        "change_seq",
    )
    return out.select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderpriority",
        F.col("change_seq").alias("last_seq"),
    )


@query(
    "cdc_replay_merge",
    oracle=f"""
WITH {CDC_EVENTS_SQL},
feed AS (SELECT * FROM cdc_events WHERE __operation IN (1, 4)),
last AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY o_orderkey
                                 ORDER BY change_seq DESC) AS rn FROM feed)
         WHERE rn = 1),
dels AS (SELECT o_orderkey FROM last WHERE __operation = 1),
ups AS (SELECT * FROM last WHERE __operation <> 1)
SELECT t.o_orderkey,
       CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_custkey ELSE t.o_custkey END AS o_custkey,
       CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_orderstatus ELSE t.o_orderstatus END AS o_orderstatus,
       CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_totalprice ELSE t.o_totalprice END AS o_totalprice,
       CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_orderpriority ELSE t.o_orderpriority END AS o_orderpriority
FROM orders t LEFT JOIN ups u ON t.o_orderkey = u.o_orderkey
WHERE NOT EXISTS (SELECT 1 FROM dels d WHERE d.o_orderkey = t.o_orderkey)
UNION ALL
SELECT u.o_orderkey, u.o_custkey, u.o_orderstatus, u.o_totalprice, u.o_orderpriority
FROM ups u
WHERE NOT EXISTS (SELECT 1 FROM orders t WHERE t.o_orderkey = u.o_orderkey)
  AND NOT EXISTS (SELECT 1 FROM dels d WHERE d.o_orderkey = u.o_orderkey)
""",
    bench=True,
)
def q_replay_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5/J6/W5: the replayer — last-op-per-key dedupe, deletes-first, MERGE
    upsert onto the target (replayer.py:355-525). Feed = update/delete events
    applied to the orders snapshot. Key-partitioned feed (r16): the
    last-per-key aggregate AND the full-outer merge join both reuse the
    pre-explode hash(o_orderkey) exchange — the exploded feed itself is
    never shuffled."""
    target = load_table(spark, sf_dir, "orders").drop("o_orderdate")
    feed = cdc_events(spark, sf_dir, key_partitioned=True).filter(
        F.col("__operation").isin(1, 4)
    )
    return replay_merge(target, feed, ["o_orderkey"])


@query(
    "cdc_tombstones",
    oracle=f"""
WITH {CDC_EVENTS_SQL}
SELECT o_orderkey, CAST(NULL AS VARCHAR) AS value
FROM cdc_events WHERE __operation = 1
""",
)
def q_tombstones(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6: (key, null) companion records for every Delete (main.py:342-345)."""
    return tombstones(cdc_events(spark, sf_dir), ["o_orderkey"])


@query(
    "snapshot_keyset_page",
    oracle="""
SELECT o_orderkey, o_orderstatus, o_totalprice
FROM orders WHERE o_orderkey < 7500
ORDER BY o_orderkey DESC LIMIT 2000
""",
)
def q_snapshot_keyset_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2/O3: one reverse-keyset snapshot page — TOP(batch) strictly below the
    resume key, highest keys first (sql_queries.py:270-309)."""
    orders = load_table(spark, sf_dir, "orders")
    return snapshot_page(orders, ["o_orderkey"], (7500,), 2000).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )


@query(
    "snapshot_keyset_page_composite",
    oracle="""
SELECT l_orderkey, l_linenumber, l_quantity
FROM lineitem
WHERE l_orderkey < 3000 OR (l_orderkey = 3000 AND l_linenumber < 3)
ORDER BY l_orderkey DESC, l_linenumber DESC LIMIT 2000
""",
    bench=True,
)
def q_snapshot_keyset_page_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2/P4: composite-PK keyset page. The Spark side filters on a native
    struct comparison — Catalyst expands it to the OR-of-ANDs the oracle SQL
    (and the reference, sql_queries.py:312-367) writes explicitly."""
    li = load_table(spark, sf_dir, "lineitem")
    return snapshot_page(li, ["l_orderkey", "l_linenumber"], (3000, 3), 2000).select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )


@query(
    "snapshot_envelope",
    oracle="""
SELECT 0 AS __operation, CAST(NULL AS INT) AS __command_id,
       'o_orderkey|o_orderstatus|legacy_col' AS updated_fields,
       o_orderkey, o_orderstatus, CAST(NULL AS VARCHAR) AS legacy_col
FROM orders
""",
)
def q_snapshot_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2/P1/P2: snapshot envelope synthesis — op=Snapshot, NULL LSN columns,
    dropped-but-captured column projected as typed NULL
    (sql_queries.py:274-303)."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    env = snapshot_envelope(orders, dropped_cols={"legacy_col": "string"})
    return env.select(
        "__operation",
        "__command_id",
        F.concat_ws("|", "__updated_fields").alias("updated_fields"),
        "o_orderkey",
        "o_orderstatus",
        "legacy_col",
    )


@query(
    "serde_json_roundtrip",
    oracle=f"""
WITH {CDC_EVENTS_SQL}
SELECT COUNT(*) AS n_total, COUNT(*) AS n_exact FROM cdc_events
""",
    bench=True,
)
def q_serde_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1/§1.4: serializer self-check as a query — every envelope row
    serialized to the JSON wire format and parsed back must reproduce the
    row exactly (the reference's 1-in-50k canonical-encoder compare,
    avro.py:559-609, run here on every row). n_exact < n_total would mean
    the wire format is lossy for some type in the envelope."""
    from sqlserver_cdc_to_kafka_spark.serializers import get_serializer

    feed = cdc_events(spark, sf_dir)
    ser = get_serializer("json")
    ser.register_table("orders", feed.schema, ["o_orderkey"])
    ok = ser.roundtrip_equal(feed, "orders")
    return feed.agg(
        F.count("*").alias("n_total"), F.count_if(ok).alias("n_exact")
    )


@query(
    "serde_avro_roundtrip",
    oracle=f"""
WITH {CDC_EVENTS_SQL}
SELECT COUNT(*) AS n_total, COUNT(*) AS n_exact FROM cdc_events
""",
)
def q_serde_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1/F7/F8 witness over REAL data: every change event encoded to the
    Confluent Avro wire format (magic + schema id + zigzag varints +
    ["null",T] unions + __updated_fields enum array — the pure-Python spec
    codec pinned by golden-bytes tests) and decoded back must reproduce the
    row exactly, including the full-consumption framing check. The
    reference samples 1 in 50k through its canonical encoder
    (avro.py:559-609); this runs the same self-check on all rows.
    Arrow-batched mapInPandas; per-partition partial counts, one final
    1-row agg."""
    from sqlserver_cdc_to_kafka_spark.serializers.avro_wire import (
        avro_string,
        decode_envelope_value,
        encode_envelope_value,
        pack_double,
        write_varint,
    )

    feed = cdc_events(spark, sf_dir).select(
        "__operation",
        "change_seq",
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderpriority",
    )
    ftypes = ["long", "long", "string", "double", "string"]

    def roundtrip(batches):
        import pandas as pd

        total = exact = 0
        def conv(v, py, enc):
            # NULL payload columns (delete images) take the union's null
            # branch: datum None → tag 0x00 on the wire
            if v is None or (isinstance(v, float) and v != v):
                return None, None
            v = py(v)
            return v, enc(v)

        for pdf in batches:
            for row in pdf.to_dict("records"):
                op = int(row["__operation"])
                seq = int(row["change_seq"])
                lsn = seq.to_bytes(10, "big")
                pairs = [
                    conv(row["o_orderkey"], int, write_varint),
                    conv(row["o_custkey"], int, write_varint),
                    conv(row["o_orderstatus"], str, avro_string),
                    conv(row["o_totalprice"], float, pack_double),
                    conv(row["o_orderpriority"], str, avro_string),
                ]
                vals = [p[0] for p in pairs]
                datums = [p[1] for p in pairs]
                enc = encode_envelope_value(
                    7, op, str(seq), lsn, 0, lsn, datums
                )
                dec = decode_envelope_value(enc, ftypes)
                total += 1
                exact += (
                    dec["operation_id"] == op
                    and dec["event_time_iso"] == str(seq)
                    and dec["lsn"] == lsn
                    and dec["seqval"] == lsn
                    and dec["values"] == vals
                )
        yield pd.DataFrame({"t": [total], "e": [exact]})

    parts = feed.mapInPandas(roundtrip, "t long, e long")
    return parts.agg(
        F.sum("t").alias("n_total"), F.sum("e").alias("n_exact")
    )


@query(
    "cdc_struct_index_order",
    oracle=f"""
WITH {CDC_EVENTS_SQL},
h AS (SELECT o_orderkey % 8 AS bucket, change_seq,
             '0x' || lpad(lower(hex(change_seq)), 20, '0') AS idx_hex
      FROM cdc_events),
lagged AS (SELECT bucket, change_seq, idx_hex,
                  lag(change_seq) OVER (PARTITION BY bucket ORDER BY idx_hex)
                    AS prev_seq
           FROM h)
SELECT bucket,
       COUNT(*) AS n_rows,
       COUNT(*) FILTER (WHERE prev_seq > change_seq) AS order_mismatches,
       MIN(idx_hex) AS min_idx_hex,
       MAX(idx_hex) AS max_idx_hex
FROM lagged GROUP BY bucket
""",
)
def q_struct_index_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3/F4 (change_index.py:38-72): the full binary ChangeIndex struct
    <lsn:binary, command_id, seqval:binary, operation> ordered natively by
    Spark must agree with the scalar sequence order (struct/binary comparison
    == the reference's lexicographic __lt__). Per bucket: order by the STRUCT,
    assert the scalar never regresses; the oracle orders by the 0x-hex
    persistence form (string sort == byte sort for zero-padded lowercase
    hex). order_mismatches must be 0 everywhere."""
    from pyspark.sql import Window

    from sqlserver_cdc_to_kafka_spark.model.change_index import (
        change_index_from_seq,
        change_index_hex,
    )

    feed = cdc_events(spark, sf_dir).select(
        (F.col("o_orderkey") % 8).alias("bucket"),
        "change_seq",
        change_index_from_seq(F.col("change_seq")).alias("idx"),
        change_index_hex(F.col("change_seq")).alias("idx_hex"),
    )
    w = Window.partitionBy("bucket").orderBy("idx")  # struct (binary) ordering
    return (
        feed.withColumn("prev_seq", F.lag("change_seq").over(w))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_rows"),
            F.count_if(F.col("prev_seq") > F.col("change_seq")).alias(
                "order_mismatches"
            ),
            F.min("idx_hex").alias("min_idx_hex"),
            F.max("idx_hex").alias("max_idx_hex"),
        )
    )


@query(
    "cdc_incremental_agg",
    oracle=f"""
WITH {CDC_EVENTS_SQL},
wp AS (SELECT *, lag(o_orderstatus) OVER (PARTITION BY o_orderkey
                                          ORDER BY change_seq) AS prev_dim
       FROM cdc_events),
deltas AS (
  SELECT o_orderstatus AS dim, 1 AS delta FROM wp WHERE __operation IN (2, 4)
  UNION ALL
  SELECT prev_dim, -1 FROM wp WHERE __operation IN (4, 1)),
maintained AS (
  -- CAST: DuckDB SUM(INT) is HUGEINT (hashes as float64); Spark is BIGINT
  SELECT dim, CAST(SUM(delta) AS BIGINT) AS maintained_count
  FROM deltas GROUP BY dim HAVING SUM(delta) <> 0),
recomputed AS (
  SELECT o_orderstatus AS dim, COUNT(*) AS recomputed_count
  FROM (SELECT *, row_number() OVER (PARTITION BY o_orderkey
                                     ORDER BY change_seq DESC) AS rn
        FROM cdc_events) WHERE rn = 1 AND __operation <> 1
  GROUP BY dim)
SELECT m.dim, maintained_count, recomputed_count,
       maintained_count = recomputed_count AS is_match
FROM maintained m JOIN recomputed r ON m.dim = r.dim
""",
)
def q_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance: a grouped count maintained purely from
    CDC deltas (insert +1 / update move / delete −1, previous values via
    lag) must equal the recompute from compacted state — the equivalence is
    asserted per group INSIDE the result (is_match)."""
    from sqlserver_cdc_to_kafka_spark.operators.incremental import (
        incremental_count_by,
    )

    feed = cdc_events(spark, sf_dir)
    maintained = incremental_count_by(feed, ["o_orderkey"], "o_orderstatus")
    recomputed = (
        last_value_per_key(feed, ["o_orderkey"], "change_seq")
        .groupBy(F.col("o_orderstatus").alias("dim"))
        .agg(F.count("*").alias("recomputed_count"))
    )
    return maintained.join(recomputed, "dim").select(
        "dim",
        "maintained_count",
        "recomputed_count",
        (F.col("maintained_count") == F.col("recomputed_count")).alias("is_match"),
    )


@query(
    "cdc_scd2_history",
    oracle=f"""
WITH {CDC_EVENTS_SQL}
SELECT o_orderkey,
       o_orderstatus,
       change_seq AS version_seq,
       epoch_us(__event_time) AS valid_from_us,
       lead(epoch_us(__event_time)) OVER (PARTITION BY o_orderkey
                                          ORDER BY change_seq) AS valid_to_us,
       lead(change_seq) OVER (PARTITION BY o_orderkey ORDER BY change_seq)
         IS NULL AND __operation <> 1 AS is_current
FROM cdc_events
WHERE __operation <> 1
   OR __operation = 1  -- deletes close the last version; emit them too
""",
)
def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 materialization from the change feed: every key version
    becomes a row with [valid_from, valid_to) and an is_current flag —
    the warehouse-side history table a CDC pipeline feeds. One window per
    key; deletes close the final interval (their own row carries
    is_current=false)."""
    from pyspark.sql import Window

    from sqlserver_cdc_to_kafka_spark.functions.datetime_fns import epoch_micros

    feed = cdc_events(spark, sf_dir)
    us = epoch_micros(feed, "__event_time")
    w = Window.partitionBy("o_orderkey").orderBy("version_seq")
    return feed.select(
        "o_orderkey",
        "o_orderstatus",
        F.col("change_seq").alias("version_seq"),
        us.alias("valid_from_us"),
        "__operation",
    ).select(
        "o_orderkey",
        "o_orderstatus",
        "version_seq",
        "valid_from_us",
        F.lead("valid_from_us").over(w).alias("valid_to_us"),
        (
            F.lead("version_seq").over(w).isNull() & (F.col("__operation") != 1)
        ).alias("is_current"),
    )


@query(
    "stream_drain_change_feed",
    oracle=f"""
WITH {CDC_EVENTS_SQL}
SELECT __operation, change_seq, epoch_us(__event_time) AS event_us,
       o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
FROM cdc_events
""",
)
def q_stream_drain_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END STREAMING witness: the custom ChangeFeedDataSource
    (struct-offset micro-batch source, T1/T3) drains the whole change feed
    through Structured Streaming into a memory sink, and the drained rows
    must hash-match the BATCH oracle — the streaming path and the batch
    path are the same data, proved, not asserted. Rate-limited micro-batch
    windows (batchSize) exercise offset planning + range reads."""
    import glob as _glob
    import shutil
    import tempfile
    import uuid

    from sqlserver_cdc_to_kafka_spark.functions.datetime_fns import epoch_micros
    from sqlserver_cdc_to_kafka_spark.sources.cdc_datasource import (
        ChangeFeedDataSource,
    )

    feed = cdc_events(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="cdc_drain_")
    stage = f"{tmp}/stage"
    feed.coalesce(1).write.mode("overwrite").parquet(stage)
    path = f"{tmp}/feed.parquet"
    shutil.copyfile(_glob.glob(f"{stage}/part-*.parquet")[0], path)
    spark.dataSource.register(ChangeFeedDataSource)
    # r15 (guide §2 "scale-adaptive, not a constant"): the rate limit was a
    # hard-coded 5000 rows/trigger — a local-mode constant that made the
    # drain pay ~38 micro-batch round-trips at sf0.1 (each ~1.4 s of
    # trigger planning + Python-source RPC + job scheduling, measured
    # 45-57 s total) and would pay MILLIONS at 100 TB.  The batch size now
    # derives from the staged feed's parquet footer (exact row count, no
    # data read) to target 8 micro-batches at ANY scale — the multi-batch
    # offset-planning witness property is preserved at every SF, the
    # drained row set is identical by construction (rate limiting never
    # changes WHAT is drained, only the trigger cadence).
    import pyarrow.parquet as _pq

    # floor (not ceil) the rows-per-trigger so the batch COUNT never drops
    # below 8 while n_rows >= 8: ceil gave e.g. 9 rows -> batchSize 2 -> 5
    # batches, quietly weakening the multi-batch offset-planning witness at
    # tiny feeds (r15 ADVICE). Tiny feeds (n_rows < 8) degrade gracefully to
    # one row per trigger.
    n_rows = _pq.ParquetFile(path).metadata.num_rows
    stream = (
        spark.readStream.format("cdc_change_feed")
        .option("path", path)
        .option("batchSize", max(1, n_rows // 8))
        .load()
    )
    qname = f"drain_{uuid.uuid4().hex[:8]}"  # fresh sink table per call
    sq = stream.writeStream.format("memory").queryName(qname).start()
    sq.processAllAvailable()
    sq.stop()
    # the memory sink holds the drained rows; the staged source files are
    # no longer referenced by the returned plan
    shutil.rmtree(tmp, ignore_errors=True)
    out = spark.table(qname)
    return out.select(
        "__operation",
        "change_seq",
        epoch_micros(out, "__event_time").alias("event_us"),
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderpriority",
    )


@query(
    "stream_snapshot_unified_drain",
    oracle=f"""
WITH {CDC_EVENTS_SQL}
SELECT __operation, change_seq, o_orderkey, o_orderstatus, o_totalprice
FROM cdc_events
UNION ALL
SELECT 0, CAST(NULL AS BIGINT), o_orderkey, o_orderstatus, o_totalprice
FROM orders
""",
)
def q_stream_snapshot_unified_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7 witness: drive the resumable reverse-keyset SnapshotStream to
    COMPLETION (every order exactly once across pages — the no-dupe/no-gap
    pagination contract) and unify the pages with the change feed on the
    envelope schema. The drained union must hash-match snapshot ∪ changes
    built directly in SQL. Snapshot rows carry op=0 and NULL change_seq;
    wall-clock snapshot read times are projected out (timezone/run
    independence)."""
    from sqlserver_cdc_to_kafka_spark.streaming.snapshot_stream import (
        SnapshotStream,
        unified_feed,
    )
    from sqlserver_cdc_to_kafka_spark.streaming.windows import parquet_row_count

    orders = load_table(spark, sf_dir, "orders")
    # r16 (guide §2 scale-adaptive, the r15 stream-drain batchSize
    # precedent): page size derives from the table's parquet footer to
    # target 8 keyset pages at ANY scale — the hard-coded 5000 meant 30
    # driver-round pages at sf0.1 (each a TakeOrdered job + a cached page)
    # and would mean millions at 100 TB. The no-dupe/no-gap multi-page
    # witness holds at every SF; the unified row set is identical by
    # construction (pagination never changes WHAT is emitted).
    page_rows = max(1, parquet_row_count(f"{sf_dir}/orders.parquet") // 8)
    pager = SnapshotStream(orders, ["o_orderkey"], batch_size=page_rows)
    pages = []
    while (p := pager.next_page()) is not None:
        # a page's key comes from an Observation on the action that runs it
        p.write.format("noop").mode("overwrite").save()
        pager.page_key()
        pages.append(p)
    out = unified_feed(pages, cdc_events(spark, sf_dir))
    return out.select(
        "__operation", "change_seq", "o_orderkey", "o_orderstatus", "o_totalprice"
    )


@query(
    "cdc_incremental_sum_agg",
    oracle=f"""
WITH {CDC_EVENTS_SQL},
wp AS (SELECT *,
              lag(o_orderstatus) OVER w AS prev_dim,
              lag(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 1000000 AS BIGINT))
                OVER w AS prev_val,
              CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 1000000 AS BIGINT)
                AS val
       FROM cdc_events
       WINDOW w AS (PARTITION BY o_orderkey ORDER BY change_seq)),
deltas AS (
  SELECT o_orderstatus AS dim, val AS delta FROM wp WHERE __operation IN (2, 4)
  UNION ALL
  SELECT prev_dim, -prev_val FROM wp WHERE __operation IN (4, 1)),
maintained AS (
  SELECT dim, CAST(SUM(delta) AS BIGINT) AS maintained_micros
  FROM deltas GROUP BY dim HAVING SUM(delta) <> 0),
recomputed AS (
  SELECT o_orderstatus AS dim,
         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 1000000
                       AS BIGINT)) AS BIGINT) AS recomputed_micros
  FROM (SELECT *, row_number() OVER (PARTITION BY o_orderkey
                                     ORDER BY change_seq DESC) AS rn
        FROM cdc_events) WHERE rn = 1 AND __operation <> 1
  GROUP BY dim)
SELECT m.dim, maintained_micros, recomputed_micros,
       maintained_micros = recomputed_micros AS is_match
FROM maintained m JOIN recomputed r ON m.dim = r.dim
""",
)
def q_incremental_sum_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance for a MEASURE: grouped revenue
    maintained purely from CDC value deltas (insert +v, update moves
    (prev_dim,−prev_v)→(dim,+v), delete −prev_v) must equal the recompute
    from compacted state — the algebra that lets a 100 TB downstream
    aggregate update from each micro-batch instead of rescanning.  Values
    ride as exact integer micros (float deltas would drift from the
    recompute); the equivalence is asserted per group in the result."""
    from sqlserver_cdc_to_kafka_spark.operators.compaction import (
        last_value_per_key,
    )
    from sqlserver_cdc_to_kafka_spark.operators.incremental import (
        incremental_sum_by,
    )

    feed = cdc_events(spark, sf_dir)
    micros = (F.col("o_totalprice").cast("decimal(18,2)") * 1_000_000).cast(
        "bigint"
    )
    maintained = incremental_sum_by(
        feed, ["o_orderkey"], "o_orderstatus", micros
    ).withColumnRenamed("maintained_sum", "maintained_micros")
    recomputed = (
        last_value_per_key(feed, ["o_orderkey"], "change_seq")
        .groupBy(F.col("o_orderstatus").alias("dim"))
        .agg(F.sum(micros).cast("bigint").alias("recomputed_micros"))
    )
    return maintained.join(recomputed, "dim").select(
        "dim",
        F.col("maintained_micros").cast("bigint").alias("maintained_micros"),
        "recomputed_micros",
        (F.col("maintained_micros") == F.col("recomputed_micros")).alias(
            "is_match"
        ),
    )


_TT_AS_OF_US = 852_076_800_000_000  # 1997-01-01 00:00:00 UTC


@query(
    "cdc_time_travel_snapshot",
    oracle=f"""
WITH {CDC_EVENTS_SQL},
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY o_orderkey
                               ORDER BY change_seq DESC) AS rn
  FROM cdc_events
  WHERE epoch_us(__event_time) <= {_TT_AS_OF_US})
SELECT o_orderkey, o_orderstatus,
       CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 1000000 AS BIGINT)
         AS totalprice_micros,
       change_seq AS version_seq
FROM ranked WHERE rn = 1 AND __operation <> 1
""",
)
def q_time_travel_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME TRAVEL: the orders table's full state AS OF 1997-01-01,
    reconstructed from the change feed alone — latest version at or before
    the cutoff per key, keys whose latest pre-cutoff operation is a delete
    absent (they did not exist then).  This is the query behind `SELECT …
    FOR TIMESTAMP AS OF` in lakehouse formats, expressed over the raw
    feed: one filtered scan (the cutoff pushes into the scan) + one
    per-key window — no checkpoint/manifest machinery needed for a
    point-in-time read, though compaction (W4) gives the same result
    cheaper for the common latest-state case."""
    from sqlserver_cdc_to_kafka_spark.functions.datetime_fns import epoch_micros
    from pyspark.sql import Window

    feed = cdc_events(spark, sf_dir)
    cut = feed.filter(epoch_micros(feed, "__event_time") <= _TT_AS_OF_US)
    w = Window.partitionBy("o_orderkey").orderBy(F.col("change_seq").desc())
    return (
        cut.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("__operation") != 1))
        .select(
            "o_orderkey",
            "o_orderstatus",
            (F.col("o_totalprice").cast("decimal(18,2)") * 1_000_000)
            .cast("bigint")
            .alias("totalprice_micros"),
            F.col("change_seq").alias("version_seq"),
        )
    )
