"""Footer schemas: ``load_table`` maps the parquet footer's Arrow schema and
``read_committed`` takes the Spark schema Spark stores in its own files, so
neither launches a schema-inference job. Both must equal the schema Spark
infers, nullability included, or a read would reinterpret a column; a
column name with a space or a backtick in it must map too."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from sqlserver_cdc_to_kafka_spark.fixtures.cdc_events import cdc_events
from sqlserver_cdc_to_kafka_spark.operators.compaction import last_value_per_key
from sqlserver_cdc_to_kafka_spark.sources.snapshot import snapshot_envelope
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


ODD_NAMES = ["id", "note `x`", "a b", "it's \\ here"]


def _odd_table(tmp_path) -> str:
    """A table whose column names need quoting, as SQL Server's bracketed
    identifiers allow."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    values = [[1, 2, 2], ["a", "b", "c"], [10, 20, 30], [1.5, 2.5, None]]
    table = pa.table(dict(zip(ODD_NAMES, values)))
    pq.write_table(table, str(tmp_path / "odd.parquet"))
    return str(tmp_path)


def test_load_table_schema_equals_inferred_with_odd_column_names(spark, tmp_path):
    sf = _odd_table(tmp_path)
    assert load_table(spark, sf, "odd").schema == _inferred(spark, f"{sf}/odd.parquet")


def test_text_plan_builders_quote_odd_column_names(spark, tmp_path):
    """The builders that write plans as SQL text quote each name they take
    from a schema, as identifiers and as data."""
    odd = load_table(spark, _odd_table(tmp_path), "odd")
    env = snapshot_envelope(odd.filter("id = 1"))
    assert env.columns[-4:] == ODD_NAMES
    (row,) = env.collect()
    assert row["__updated_fields"] == ODD_NAMES
    assert tuple(row)[-4:] == (1, "a", 10, 1.5)
    last = last_value_per_key(odd, ["id"], "a b", drop_deleted=False)
    assert sorted(map(tuple, last.collect())) == [(1, "a", 10, 1.5), (2, "c", 30, None)]


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
