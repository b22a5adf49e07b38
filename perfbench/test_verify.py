"""The verifier must reject broken sinks, not only accept good ones.

    python3 -m pytest perfbench/test_verify.py -q

Builds a transactional-sink directory by hand (no Spark): the change rows
of a generated input, split into batches, with one manifest line each.
"""

import json
import os
import shutil
import sys

import duckdb
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

from gen import Shape, write_orders  # noqa: E402
import verify  # noqa: E402

from sqlserver_cdc_to_kafka_spark.fixtures.cdc_events import CDC_EVENTS_SQL  # noqa: E402


@pytest.fixture
def sink(tmp_path):
    orders = write_orders(str(tmp_path / "in"), Shape(300, 0.5, 0.1), seed=3, pass_index=0)
    root = tmp_path / "sink"
    with duckdb.connect() as con:
        con.execute(f"CREATE VIEW orders AS SELECT * FROM read_parquet('{orders}')")
        events = con.execute(
            f"WITH {CDC_EVENTS_SQL} SELECT * FROM cdc_events ORDER BY change_seq"
        ).arrow()
    lines = []
    for batch_id, lo in enumerate(range(0, events.num_rows, 100)):
        part = events.slice(lo, 100)
        d = root / "data" / f"batch={batch_id}"
        d.mkdir(parents=True)
        pq.write_table(part, str(d / "part-0.parquet"))
        position = part.column("change_seq")[-1].as_py()
        lines.append({"topic": "orders", "kind": "change_rows",
                      "position": position, "batch_id": batch_id})
    _write_manifest(root, lines)
    return orders, root, lines


def _write_manifest(root, lines):
    with open(root / "_manifest.jsonl", "w") as f:
        f.writelines(json.dumps(rec) + "\n" for rec in lines)


def _check(orders, root):
    return verify.check_sink(orders, str(root), snapshot=False, tombstones=False)


def test_accepts_a_correct_sink(sink):
    orders, root, lines = sink
    assert len(lines) > 3
    assert _check(orders, root) == sum(
        pq.read_metadata(str(p)).num_rows for p in root.glob("data/*/*.parquet")
    )


def test_rejects_a_removed_manifest_line(sink):
    orders, root, lines = sink
    _write_manifest(root, lines[:1] + lines[2:])
    with pytest.raises(verify.VerificationError, match="missing"):
        _check(orders, root)


def test_rejects_a_duplicated_batch_directory(sink):
    orders, root, lines = sink
    dup = len(lines)
    shutil.copytree(root / "data" / "batch=1", root / "data" / f"batch={dup}")
    # a position-less record, as snapshot pages commit, keeps the manifest's
    # positions ascending, so only the duplicated rows can give it away
    _write_manifest(root, lines[:2] + [
        {"topic": "orders", "kind": "change_rows", "position": None, "batch_id": dup}
    ] + lines[2:])
    with pytest.raises(verify.VerificationError, match="extra"):
        _check(orders, root)


def test_rejects_a_final_position_short_of_the_log(sink):
    orders, root, lines = sink
    _write_manifest(root, lines[:-1])
    with pytest.raises(verify.VerificationError, match="final manifest position"):
        _check(orders, root)
