"""Engine config surface tests (the reference's options.py parity)."""

from __future__ import annotations

import dataclasses
import pathlib

import pytest

import sqlserver_cdc_to_kafka_spark
from sqlserver_cdc_to_kafka_spark.config import EngineConfig


def test_defaults_mirror_reference():
    c = EngineConfig()
    assert not c.disable_deletion_tombstones
    assert c.topic_for("dbo", "orders") == "dbo_orders_cdc"


def test_table_filters():
    c = EngineConfig(
        table_include_regex=r"^dbo\.",
        table_exclude_regex=r"_audit$",
        snapshot_table_exclude_regex=r"^dbo\.big",
    )
    assert c.table_followed("dbo.orders")
    assert not c.table_followed("sales.orders")
    assert not c.table_followed("dbo.orders_audit")
    assert c.table_snapshotted("dbo.orders")
    assert not c.table_snapshotted("dbo.big_table")  # followed but not snapshotted
    assert c.table_followed("dbo.big_table")


def test_topic_template_and_json_roundtrip():
    c = EngineConfig(topic_name_template="cdc.{schema_name}.{table_name}")
    assert c.topic_for("dbo", "orders") == "cdc.dbo.orders"
    c2 = EngineConfig.from_json(
        '{"table_exclude_regex": "_audit$", "disable_deletion_tombstones": true}'
    )
    assert c2 == EngineConfig(table_exclude_regex="_audit$", disable_deletion_tombstones=True)
    # a key the engine would not act on is rejected, naming the key
    with pytest.raises(TypeError, match="db_row_batch_size"):
        EngineConfig.from_json('{"db_row_batch_size": 500}')


def test_every_config_field_is_read():
    """Each option changes what the engine does: its name occurs in the
    package outside config.py, where a component reads it."""
    root = pathlib.Path(sqlserver_cdc_to_kafka_spark.__file__).parent
    source = "\n".join(
        p.read_text() for p in root.rglob("*.py") if p.name != "config.py"
    )
    unread = [f.name for f in dataclasses.fields(EngineConfig) if f.name not in source]
    assert unread == []
