"""Test-table loading (the driver's synthetic TPC-H-ish tables, TESTDATA.md).

These parquet tables stand in for the reference's SQL Server source tables
(SURVEY.md §1.1); `documents` / `embeddings` back the beyond-reference
LLM-pipeline operators.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


_ARROW_TO_DDL = {
    "int64": "bigint",
    "int32": "int",
    "int16": "smallint",
    "int8": "tinyint",
    "double": "double",
    "float": "float",
    "string": "string",
    "large_string": "string",
    "bool": "boolean",
    "binary": "binary",
    "date32[day]": "date",
}


def arrow_type_ddl(t) -> str:
    """The Spark SQL type a parquet column of Arrow type ``t`` reads as: a
    nanosecond timestamp is ``bigint``, as ``nanosAsLong`` reads it, and a
    timestamp without a time zone is ``timestamp_ntz``."""
    import pyarrow as pa

    if pa.types.is_timestamp(t):
        if t.unit == "ns":
            return "bigint"
        return "timestamp" if t.tz else "timestamp_ntz"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"array<{arrow_type_ddl(t.value_type)}>"
    if pa.types.is_decimal(t):
        return f"decimal({t.precision},{t.scale})"
    if str(t) in _ARROW_TO_DDL:
        return _ARROW_TO_DDL[str(t)]
    raise ValueError(f"unmapped arrow type {t}")


def quote(name: str) -> str:
    """``name`` as a Spark SQL identifier: backticked, with each backtick in
    it doubled (a SQL Server bracketed name may hold one)."""
    return "`" + name.replace("`", "``") + "`"


def sql_string(text: str) -> str:
    """``text`` as a Spark SQL string literal (a column name listed as data)."""
    return "'" + text.replace("\\", "\\\\").replace("'", "\\'") + "'"


def arrow_schema_ddl(schema) -> str:
    """A DDL schema string for a parquet footer's Arrow ``schema``."""
    return ", ".join(f"{quote(f.name)} {arrow_type_ddl(f.type)}" for f in schema)


def first_data_file(path: str) -> str:
    """``path`` itself, or a directory table's first data file (its files
    share one schema, as Spark's schema inference assumes)."""
    if not os.path.isdir(path):
        return path
    return os.path.join(
        path, min(f for f in os.listdir(path) if not f.startswith(("_", ".")))
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar scan with Catalyst pushdown/pruning intact — never wrap this
    in anything that would block filter pushdown to the parquet reader.

    The schema comes from the parquet footer (``arrow_schema_ddl``), so the
    read launches no schema-inference job.

    ``events.ts`` dtype varies by testdata vintage: today it is parquet
    TIMESTAMP micros (Spark reads TIMESTAMP or TIMESTAMP_NTZ); historically
    it was TIMESTAMP(NANOS), which ``nanosAsLong`` (kept set, a no-op on
    micros) surfaces as LongType epoch-nanos. NEVER assume one form — always
    go through ``functions.datetime_fns`` (epoch_micros / as_event_time),
    which dispatches on the actual column dtype."""
    import pyarrow.parquet as pq

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/{name}.parquet"
    ddl = arrow_schema_ddl(pq.read_schema(first_data_file(path)))
    return spark.read.schema(ddl).parquet(path)


def ensure_parallel(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Spread a narrow scan across the cluster before CPU-heavy per-row work
    (shingling, hashing, vector math).

    The driver's test tables are single small parquet files — one row group,
    so Spark scans each with ONE task and every downstream map runs serially
    no matter how the joins are arranged. At 100 TB the input is thousands of
    files and this is a no-op (partitions >= cores already); the check makes
    the repartition a small-input-only cost, never a second shuffle of a big
    corpus."""
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every test table as a temp view for the SQL API path."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
