"""CLI entry point (`python -m sqlserver_cdc_to_kafka_spark`) — the
reference's executable surface (`cdc_kafka/__main__.py`, options.py flag
names) driven in-process: pipeline mode writes one parquet dir per topic;
the read-only modes emit JSON check lines and write nothing."""

from __future__ import annotations

import json
import os
from collections import Counter

import pytest
from pyspark.sql.types import TimestampNTZType, TimestampType

from sqlserver_cdc_to_kafka_spark.__main__ import main
from sqlserver_cdc_to_kafka_spark.fixtures.cdc_events import cdc_events
from sqlserver_cdc_to_kafka_spark.streaming.pipeline_run import PipelineRun
from sqlserver_cdc_to_kafka_spark.streaming.sinks import TransactionalDirSink
from sqlserver_cdc_to_kafka_spark.streaming.snapshot_stream import (
    SnapshotStream,
    unified_feed,
)
from sqlserver_cdc_to_kafka_spark.tables import load_table


def _emitted(capsys):
    return [json.loads(line) for line in capsys.readouterr().out.splitlines()]


def test_pipeline_mode_writes_topic(spark, sf_dir, tmp_path, capsys):
    rc = main(["--sf-dir", sf_dir, "--sink-dir", str(tmp_path),
               "--topic-name-template", "{schema_name}.{table_name}.cdc"])
    assert rc == 0
    out = _emitted(capsys)
    (row,) = [r for r in out if r["kind"] == "topic_written"]
    assert row["topic"] == "dbo.orders.cdc"
    # every order exactly once (snapshot) plus every change event
    orders_n = spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    assert row["snapshot_rows"] == orders_n
    written = spark.read.parquet(row["path"])
    assert written.filter("__operation = 0").count() == orders_n
    assert row["rows"] > orders_n
    assert written.count() == row["rows"]


def _persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _rows_without_event_time(df) -> Counter:
    # snapshot rows stamp __event_time with the wall clock at run time
    return Counter(map(repr, df.drop("__event_time").collect()))


@pytest.mark.parametrize("batch_size", [2000, 500])
def test_pipeline_mode_matches_paged_snapshot(spark, sf_dir, tmp_path, capsys,
                                              batch_size):
    """The one-scan CLI writes the same rows as the keyset-paged snapshot
    unified with the change feed, whatever the page size, and leaves no
    cached data behind."""
    persisted = _persisted(spark)
    assert main(["--sf-dir", sf_dir, "--sink-dir", str(tmp_path)]) == 0
    assert _persisted(spark) == persisted
    (row,) = [r for r in _emitted(capsys) if r["kind"] == "topic_written"]
    written = spark.read.parquet(row["path"])
    assert written.count() == row["rows"]

    pager = SnapshotStream(
        load_table(spark, sf_dir, "orders"), ["o_orderkey"],
        batch_size=batch_size,
    )
    pages = []
    while (p := pager.next_page()) is not None:
        p.count()  # run the page: its key comes from an Observation on the run
        pager.page_key()
        pages.append(p)
    expected = unified_feed(pages, cdc_events(spark, sf_dir))
    assert _rows_without_event_time(written) == _rows_without_event_time(
        expected.select(*written.columns)
    )


def test_tombstone_disable_flag(spark, sf_dir, tmp_path, capsys):
    rc = main(["--sf-dir", sf_dir, "--sink-dir", str(tmp_path),
               "--disable-deletion-tombstones"])
    assert rc == 0
    (row,) = [r for r in _emitted(capsys) if r["kind"] == "topic_written"]
    assert spark.read.parquet(row["path"]).filter("__operation = 1").count() == 0


def test_exclude_regex_skips_table(sf_dir, tmp_path, capsys):
    rc = main(["--sf-dir", sf_dir, "--sink-dir", str(tmp_path),
               "--table-exclude-regex", "orders"])
    assert rc == 0
    out = _emitted(capsys)
    assert [r["kind"] for r in out] == ["skipped"]


def test_run_validations_is_read_only(sf_dir, tmp_path, capsys):
    rc = main(["--sf-dir", sf_dir, "--run-validations"])
    assert rc == 0
    out = _emitted(capsys)
    names = {r["name"] for r in out if r["kind"] == "check"}
    assert {"val_topic_summary", "val_progress_rollup",
            "val_snapshot_history"} <= names
    assert not list(tmp_path.iterdir())  # nothing written


def test_tool_modes(sf_dir, capsys):
    assert main(["--sf-dir", sf_dir, "--show-snapshot-history"]) == 0
    assert main(["--sf-dir", sf_dir, "--find-truncation-candidates"]) == 0
    out = _emitted(capsys)
    assert {r["name"] for r in out} == {"val_snapshot_history",
                                       "val_truncation_report"}


@pytest.mark.parametrize("flag", [
    "--run-validations",
    "--report-progress-only",
    "--show-snapshot-history",
    "--find-truncation-candidates",
])
def test_read_only_modes_reject_sink_dir(flag, sf_dir, tmp_path, capsys):
    """A read-only mode reports over --sf-dir's tables and never reads a
    sink, so a --sink-dir next to it is an error naming the flag, not
    silently ignored."""
    rc = main(["--sf-dir", sf_dir, "--sink-dir", str(tmp_path), flag])
    assert rc == 2
    out, err = capsys.readouterr()
    assert flag in err and "--sink-dir" in err
    assert not out
    assert not list(tmp_path.iterdir())


def test_pipeline_mode_requires_sink_dir(sf_dir):
    assert main(["--sf-dir", sf_dir]) == 2


def test_options_json_roundtrip(sf_dir, tmp_path, capsys):
    cfg = json.dumps({"topic_name_template": "{table_name}_only"})
    rc = main(["--sf-dir", sf_dir, "--sink-dir", str(tmp_path),
               "--options-json", cfg])
    assert rc == 0
    (row,) = [r for r in _emitted(capsys) if r["kind"] == "topic_written"]
    assert row["topic"] == "orders_only"


def test_invalid_option_value_rejected(sf_dir):
    """An option the engine would not act on fails loudly, naming the key,
    before any mode runs."""
    with pytest.raises(TypeError, match="lsn_gap_handling"):
        main(["--sf-dir", sf_dir, "--run-validations",
              "--options-json", '{"lsn_gap_handling": "ignore"}'])


@pytest.mark.parametrize("flag", [
    ["--db-row-batch-size", "500"],
    ["--lsn-gap-handling", "ignore"],
    ["--partition-count", "3"],
    ["--message-serializer", "avro"],
    ["--progress-topic-name", "_p"],
], ids=lambda f: f[0])
def test_removed_flags_exit_2(flag, capsys):
    """The reference flags this engine never acted on are not accepted."""
    with pytest.raises(SystemExit) as exc:
        main(flag)
    assert exc.value.code == 2
    assert "unrecognized arguments" in capsys.readouterr().err


def test_reset_progress_tool(spark, sf_dir, tmp_path, capsys):
    """progress_reset_tool analog: the reset topic resumes from scratch,
    the untouched topic keeps its offset, and dry-run changes nothing."""
    import pyspark.sql.functions as F

    from sqlserver_cdc_to_kafka_spark.fixtures.cdc_events import cdc_events
    from sqlserver_cdc_to_kafka_spark.streaming.change_feed import MicroBatcher
    from sqlserver_cdc_to_kafka_spark.streaming.sinks import TransactionalDirSink

    feed = cdc_events(spark, sf_dir).filter(F.col("change_seq") < 2000)
    sinks = {}
    for topic in ("orders_cdc", "customer_cdc"):
        sink = TransactionalDirSink(str(tmp_path / topic), topic)
        sinks[topic] = sink
        MicroBatcher(feed, sink, batch_size=700).run_to_completion()
    max_seq = feed.agg(F.max("change_seq")).collect()[0][0]
    assert sinks["orders_cdc"].last_progress() == max_seq

    # dry-run: reports but does not write
    rc = main(["--reset-progress", "--topic-names", "orders_cdc",
               "--sink-dir", str(tmp_path)])
    assert rc == 0
    (row,) = [r for r in _emitted(capsys) if r["kind"] == "reset"]
    assert row["prior_position"] == max_seq and row["executed"] is False
    assert sinks["orders_cdc"].last_progress() == max_seq

    # execute: reset topic resumes from scratch, other topic untouched
    rc = main(["--reset-progress", "--topic-names", "orders_cdc,missing_topic",
               "--sink-dir", str(tmp_path), "--execute"])
    assert rc == 0
    rows = [r for r in _emitted(capsys) if r["kind"] == "reset"]
    assert {r["topic"]: r.get("found") for r in rows} == {
        "orders_cdc": True, "missing_topic": False,
    }
    assert sinks["orders_cdc"].last_progress() is None
    assert sinks["customer_cdc"].last_progress() == max_seq
    # committed data is untouched (only progress is rewritten)
    assert sinks["orders_cdc"].read_committed(spark).count() == feed.count()
    # a fresh batcher over the reset topic starts from scratch
    mb = MicroBatcher(feed, sinks["orders_cdc"], batch_size=700)
    assert mb.run_once() == 700


def test_snapshot_only_reset_resnapshots_pipeline_run(spark, sf_dir, tmp_path,
                                                     capsys):
    """``--progress-kind snapshot_rows`` on a PipelineRun sink (whose
    snapshot pages commit as change_rows records) re-snapshots the table and
    leaves the change position where it was."""

    def run(sink):
        return PipelineRun(
            spark, load_table(spark, sf_dir, "orders"), cdc_events(spark, sf_dir),
            ["o_orderkey"], sink, batch_size=700,
        ).run()

    sink = TransactionalDirSink(str(tmp_path / "orders_cdc"), "orders_cdc")
    assert run(sink) > 0
    position = sink.last_progress()
    assert position is not None
    assert sink.last_progress(field="snapshot_key") is not None

    rc = main(["--reset-progress", "--topic-names", "orders_cdc",
               "--sink-dir", str(tmp_path), "--progress-kind", "snapshot_rows",
               "--execute"])
    assert rc == 0
    (row,) = [r for r in _emitted(capsys) if r["kind"] == "reset"]
    assert row["executed"] is True and row["tombstones_written"] == 1
    assert sink.last_progress() == position
    assert sink.last_progress(field="snapshot_key") is None

    ids_before = set(sink.committed_batches())
    orders_n = load_table(spark, sf_dir, "orders").count()
    assert run(sink) == orders_n
    new_ids = sorted(set(sink.committed_batches()) - ids_before)
    rerun = spark.read.parquet(
        *[os.path.join(sink.root, "data", f"batch={b}") for b in new_ids]
    )
    assert rerun.count() == orders_n
    assert rerun.filter("__operation != 0").count() == 0
    assert sink.last_progress() == position

    ids_before = set(sink.committed_batches())
    assert run(sink) == 0
    assert set(sink.committed_batches()) == ids_before


def test_pipeline_run_snapshot_rows_match_the_cli(spark, sf_dir, tmp_path, capsys):
    """Both drivers write the same snapshot envelope: with the wall-clock
    read time projected out, a PipelineRun sink's snapshot rows equal the
    CLI's, and neither leaves the read time or updated fields NULL."""
    assert main(["--sf-dir", sf_dir, "--sink-dir", str(tmp_path / "cli")]) == 0
    (row,) = [r for r in _emitted(capsys) if r["kind"] == "topic_written"]
    cli = spark.read.parquet(row["path"]).filter("__operation = 0")

    sink = TransactionalDirSink(str(tmp_path / "run"), "orders")
    PipelineRun(
        spark, load_table(spark, sf_dir, "orders"), cdc_events(spark, sf_dir),
        ["o_orderkey"], sink, batch_size=700,
    ).run()
    run = sink.read_committed(spark).filter("__operation = 0")

    assert run.columns == cli.columns + ["__tombstone"]
    # the CLI's union keeps the read time's zoned type; the sink's batches
    # share the change feed's zone-less one
    assert isinstance(cli.schema["__event_time"].dataType, TimestampType)
    assert isinstance(run.schema["__event_time"].dataType, TimestampNTZType)
    assert _rows_without_event_time(run.drop("__tombstone")) == (
        _rows_without_event_time(cli)
    )
    for df in (cli, run):
        assert df.filter("__event_time IS NULL OR __updated_fields IS NULL").count() == 0


def test_run_query_and_list(spark, sf_dir, capsys):
    rc = main(["--list-queries"])
    assert rc == 0
    names = capsys.readouterr().out.split()
    assert "cdc_count_by_operation" in names and len(names) > 200

    rc = main(["--run-query", "cdc_count_by_operation", "--sf-dir", sf_dir,
               "--limit", "2"])
    assert rc == 0
    (row,) = [r for r in _emitted(capsys) if r["kind"] == "query"]
    assert row["name"] == "cdc_count_by_operation"
    assert 1 <= row["n_shown"] <= 2
    assert all("__operation" in r for r in row["rows"])

    rc = main(["--run-query", "no_such_query", "--sf-dir", sf_dir])
    assert rc == 2

    # a bad SECOND name must fail the whole request up front — no partial
    # results may be emitted before the exit code 2
    rc = main(
        ["--run-query", "cdc_count_by_operation,no_such_query",
         "--sf-dir", sf_dir]
    )
    assert rc == 2
    assert not [r for r in _emitted(capsys) if r["kind"] == "query"]
