"""Output verifier for the pipeline benchmark.

The reference is computed with duckdb straight from the generated ``orders``
file, through the package's own SQL statement of the change-feed derivation
(``CDC_EVENTS_SQL``), never through Spark. Sink directories are read from
their files and manifest lines directly, not through the sink's reader, so
a sink defect cannot hide itself.

Each ``check_*`` returns the number of committed rows it verified and raises
``VerificationError`` on the first mismatch.
"""

from __future__ import annotations

import glob
import json
import os

import duckdb

from sqlserver_cdc_to_kafka_spark.fixtures.cdc_events import CDC_EVENTS_SQL

PAYLOAD = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
]
OP_DELETE = 1


class VerificationError(AssertionError):
    pass


def _cols(tombstone: bool) -> str:
    cols = [
        "CAST(__operation AS INTEGER) AS __operation",
        "CAST(change_seq AS BIGINT) AS change_seq",
        *[
            "CAST(o_orderdate AS TIMESTAMP) AS o_orderdate"
            if c == "o_orderdate"
            else c
            for c in PAYLOAD
        ],
    ]
    if tombstone:
        cols.append("__tombstone")
    return ", ".join(cols)


_NULL_PAYLOAD = (
    "CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE), "
    "CAST(NULL AS TIMESTAMP), CAST(NULL AS VARCHAR)"
)


def _orders_view(con, orders_path: str) -> None:
    con.execute(f"CREATE VIEW orders AS SELECT * FROM read_parquet('{orders_path}')")


def _reference(snapshot: bool, tombstones: bool) -> str:
    """SQL for the rows a correct run commits from the ``orders`` view."""
    t = ", FALSE AS __tombstone" if tombstones else ""
    parts = [
        f"SELECT __operation, change_seq, {', '.join(PAYLOAD)}{t} FROM cdc_events"
    ]
    if snapshot:
        parts.append(
            f"SELECT 0, CAST(NULL AS BIGINT), {', '.join(PAYLOAD)}{t} FROM orders"
        )
    if tombstones:
        parts.append(
            f"SELECT {OP_DELETE}, CAST(NULL AS BIGINT), o_orderkey, "
            f"{_NULL_PAYLOAD}, TRUE FROM cdc_events WHERE __operation = {OP_DELETE}"
        )
    return f"WITH {CDC_EVENTS_SQL} " + " UNION ALL ".join(parts)


def _max_seq(con) -> int:
    return con.execute(
        f"WITH {CDC_EVENTS_SQL} SELECT max(change_seq) FROM cdc_events"
    ).fetchone()[0]


def _files(dirs: list[str]) -> list[str]:
    files = []
    for d in dirs:
        if not os.path.isdir(d):
            raise VerificationError(f"committed directory missing: {d}")
        files.extend(sorted(glob.glob(os.path.join(d, "*.parquet"))))
    return files


def _same_rows(con, files: list[str], want_sql: str, tombstone: bool) -> int:
    """Multiset equality of the committed rows and the reference rows."""
    if not files:
        raise VerificationError("no committed data files")
    flist = ", ".join(f"'{f}'" for f in files)
    got = f"SELECT {_cols(tombstone)} FROM read_parquet([{flist}])"
    want = f"SELECT {_cols(tombstone)} FROM ({want_sql})"
    missing = con.execute(f"SELECT count(*) FROM ({want} EXCEPT ALL {got})").fetchone()[0]
    extra = con.execute(f"SELECT count(*) FROM ({got} EXCEPT ALL {want})").fetchone()[0]
    if missing or extra:
        raise VerificationError(
            f"committed rows differ from the reference: {missing} missing, {extra} extra"
        )
    return con.execute(f"SELECT count(*) FROM ({got})").fetchone()[0]


def _manifest(sink_root: str) -> list[dict]:
    path = os.path.join(sink_root, "_manifest.jsonl")
    if not os.path.exists(path):
        raise VerificationError("sink has no manifest")
    with open(path) as f:
        try:
            return [json.loads(line) for line in f]
        except json.JSONDecodeError as e:
            raise VerificationError(f"unparsable manifest line: {e}") from e


def _check_positions(records: list[dict], max_seq: int) -> None:
    ids = [r["batch_id"] for r in records]
    if len(set(ids)) != len(ids):
        raise VerificationError(f"manifest repeats a batch id: {ids}")
    if any(r.get("tombstone") for r in records):
        raise VerificationError("manifest holds a progress-reset tombstone")
    positions = [r["position"] for r in records if r["position"] is not None]
    if not positions:
        raise VerificationError("manifest records no change position")
    if any(b <= a for a, b in zip(positions, positions[1:])):
        raise VerificationError(f"manifest positions do not ascend: {positions}")
    if positions[-1] != max_seq:
        raise VerificationError(
            f"final manifest position {positions[-1]} != max(change_seq) {max_seq}"
        )


def _batch_dirs(sink_root: str, records: list[dict]) -> list[str]:
    return [
        os.path.join(sink_root, "data", r.get("path", f"batch={r['batch_id']}"))
        for r in records
    ]


def check_backfill(orders_path: str, out_dir: str) -> int:
    """CLI output: every snapshot row and every change row exactly once."""
    topics = [d for d in glob.glob(os.path.join(out_dir, "*")) if os.path.isdir(d)]
    if len(topics) != 1:
        raise VerificationError(f"expected one topic directory, found {topics}")
    with duckdb.connect() as con:
        _orders_view(con, orders_path)
        want = _reference(snapshot=True, tombstones=False)
        return _same_rows(con, _files(topics), want, tombstone=False)


def check_sink(
    orders_path: str, sink_root: str, snapshot: bool, tombstones: bool
) -> int:
    """Transactional sink after a drain: the manifest's positions ascend and
    end at ``max(change_seq)``; its batches hold, exactly once, the snapshot
    rows (when ``snapshot``), every change row and one tombstone per delete
    (when ``tombstones``)."""
    records = _manifest(sink_root)
    with duckdb.connect() as con:
        _orders_view(con, orders_path)
        _check_positions(records, _max_seq(con))
        want = _reference(snapshot, tombstones)
        return _same_rows(
            con, _files(_batch_dirs(sink_root, records)), want, tombstone=tombstones
        )


def check_compacted(orders_path: str, sink_root: str) -> int:
    """Compacted sink: one generation holding the last change per key, with
    deleted keys gone, at the unchanged final position."""
    records = _manifest(sink_root)
    if len(records) != 1 or "path" not in records[0]:
        raise VerificationError(f"expected one compacted generation, got {records}")
    with duckdb.connect() as con:
        _orders_view(con, orders_path)
        _check_positions(records, _max_seq(con))
        want = (
            f"WITH {CDC_EVENTS_SQL}, ranked AS (SELECT *, row_number() OVER "
            "(PARTITION BY o_orderkey ORDER BY change_seq DESC) AS rn "
            "FROM cdc_events) "
            f"SELECT __operation, change_seq, {', '.join(PAYLOAD)} FROM ranked "
            f"WHERE rn = 1 AND __operation <> {OP_DELETE}"
        )
        return _same_rows(
            con, _files(_batch_dirs(sink_root, records)), want, tombstone=False
        )
