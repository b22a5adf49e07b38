"""Replayer: apply a change feed onto a target table (merge/upsert sink).

Reference: ``cdc_kafka/replayer.py`` consumes a table's Kafka topic and
materializes it back into SQL Server: per-batch it keeps only the LAST
operation per key (``replayer.py:499-525``), applies deletes first via a
set-based join-delete (``replayer.py:372-379``), then a MERGE upsert
(``replayer.py:387-416``).

Spark mapping (SURVEY §2.3 J5/J6, §2.7 W5): last-per-key via
``max_by(struct, offset)`` (one shuffle with map-side combine), then ONE
full-outer join of target against the deduped feed carrying the MERGE
decision per row — delete drops the key (J5), matched rows take feed values,
unmatched feed keys insert (J6) — the pure-DataFrame MERGE emulation (in a
Delta deployment this is `MERGE INTO` inside ``foreachBatch``). The r14 form
spelled the same semantics as four key joins plus a union (anti-delete,
left-upsert, two anti-joins for the insert branch), which re-aggregated the
feed and re-scanned the target once per branch; the single full-outer is the
same row set from one pass of each side (guide §2.4 — one exchange per side,
one join). The join is on the key, so pre-bucketing the target by key makes
the apply shuffle-free at scale.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sqlserver_cdc_to_kafka_spark.model.envelope import OP_DELETE
from sqlserver_cdc_to_kafka_spark.operators.compaction import last_value_per_key


def replay_merge(
    target: DataFrame,
    feed: DataFrame,
    key_cols: Sequence[str],
) -> DataFrame:
    """Final state of ``target`` after applying ``feed``:

    - dedupe feed to last op per key (W5);
    - keys whose last op is Delete are removed (J5);
    - other keys upsert: matched rows take feed values, unmatched feed keys
      insert (J6 merge).

    One full-outer join carries all three MERGE branches: the feed side has
    exactly one row per key (last-per-key), the target is unique per key, so
    every output key appears once — identical rows to the four-join spelling,
    in one pass of each input.
    """
    value_cols = [c for c in target.columns if c not in key_cols]
    last = last_value_per_key(feed, key_cols, "change_seq", drop_deleted=False)
    feed_side = last.select(
        *key_cols,
        F.lit(True).alias("__matched"),
        (F.col("__operation") == OP_DELETE).alias("__is_delete"),
        *[F.col(c).alias(f"__u_{c}") for c in value_cols],
    )
    # WHEN MATCHED THEN UPDATE: take the feed's value even if it is NULL —
    # a plain coalesce would silently keep stale target values.
    return (
        target.join(feed_side, list(key_cols), "full")
        # last op Delete removes the key whether or not the target has it;
        # target-only rows have __is_delete NULL and survive
        .filter(~F.coalesce(F.col("__is_delete"), F.lit(False)))
        .select(
            *key_cols,
            *[
                F.when(F.col("__matched"), F.col(f"__u_{c}"))
                .otherwise(F.col(c))
                .alias(c)
                for c in value_cols
            ],
        )
    )


def set_reconciliation(
    snapshot_keys: DataFrame,
    inserted_keys: DataFrame,
    deleted_keys: DataFrame,
    actual: DataFrame,
) -> DataFrame:
    """A8 (``cdc_kafka/validation.py:258-285``): expected live-row count =
    |snapshot ∪ inserted − deleted| compared against the actual table. All
    inputs are single-(composite-)key DataFrames with identical column names.
    Pure set algebra — distributed ``union``/``except``/``distinct``."""
    expected = (
        snapshot_keys.union(inserted_keys).distinct().exceptAll(deleted_keys.distinct())
    )
    e = expected.agg(F.count("*").alias("expected_count"))
    a = actual.agg(F.count("*").alias("actual_count"))
    return e.crossJoin(a).select(
        "expected_count",
        "actual_count",
        (F.col("expected_count") == F.col("actual_count")).alias("is_match"),
    )
