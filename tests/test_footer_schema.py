"""Footer schemas: ``load_table`` maps the parquet footer's Arrow schema and
``read_committed`` takes the Spark schema Spark stores in its own files, so
neither launches a schema-inference job. Both must equal the schema Spark
infers, nullability included, or a read would reinterpret a column."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from sqlserver_cdc_to_kafka_spark.fixtures.cdc_events import cdc_events
from sqlserver_cdc_to_kafka_spark.streaming.pipeline_run import PipelineRun
from sqlserver_cdc_to_kafka_spark.streaming.sinks import TransactionalDirSink
from sqlserver_cdc_to_kafka_spark.tables import DEFAULT_SF_DIR, TABLES, load_table

TESTDATA = [
    os.path.join(os.path.dirname(DEFAULT_SF_DIR), sf) for sf in ("sf0.001", "sf0.01", "sf0.1")
]


def _inferred(spark, path: str):
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.parquet(path).schema


@pytest.mark.parametrize("sf", TESTDATA, ids=os.path.basename)
def test_load_table_schema_equals_inferred(spark, sf):
    if not os.path.isdir(sf):
        pytest.skip(f"{sf} absent")
    for name in TABLES:
        got = load_table(spark, sf, name).schema
        assert got == _inferred(spark, f"{sf}/{name}.parquet"), name


def test_load_table_schema_equals_inferred_on_directory_tables(spark, tmp_path):
    """``gen_scaled_sf.py --files`` writes big tables as directories of
    parquet files, as DuckDB writes them."""
    out = tmp_path / "scaled"
    subprocess.run(
        [sys.executable, "tools/gen_scaled_sf.py", "--src", TESTDATA[0], "--out", str(out),
         "--factor", "2", "--files", "3", "--min-file-bytes", "1"],
        check=True, capture_output=True, text=True,
    )
    dirs = [name for name in TABLES if (out / f"{name}.parquet").is_dir()]
    assert dirs  # the case this test is for
    for name in TABLES:
        got = load_table(spark, str(out), name).schema
        assert got == _inferred(spark, str(out / f"{name}.parquet")), name


def test_read_committed_schema_equals_inferred(spark, sf_dir, tmp_path):
    sink = TransactionalDirSink(str(tmp_path / "out"), "orders")
    PipelineRun(
        spark, load_table(spark, sf_dir, "orders"), cdc_events(spark, sf_dir),
        ["o_orderkey"], sink, batch_size=700,
    ).run()
    dirs = [str(tmp_path / "out" / "data" / f"batch={i}") for i in sorted(sink.committed_batches())]
    assert sink.read_committed(spark).schema == spark.read.parquet(*dirs).schema
    sink.compact(spark, ["o_orderkey"])
    (gen,) = os.listdir(tmp_path / "out" / "data")
    assert sink.read_committed(spark).schema == spark.read.parquet(
        str(tmp_path / "out" / "data" / gen)
    ).schema
