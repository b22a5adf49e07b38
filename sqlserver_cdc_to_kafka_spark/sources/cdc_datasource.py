"""Custom Structured Streaming source with a change-index offset
(SURVEY §4 'custom Spark work actually required' item 1).

``cdc_change_feed`` is a Python DataSource (Spark 4 `pyspark.sql.datasource`)
that tails a change log (here: a parquet file with a monotone ``change_seq``
column — the fixture stand-in for a CDC change table; a JDBC deployment
swaps the pyarrow scan for the `sources/jdbc_sql.change_window_sql` query)
and exposes the change position as its STREAMING OFFSET:

- offset = ``{"seq": <last emitted change_seq>}`` — the scalar form of the
  ChangeIndex. Spark's offset log is the only copy of it: the reader keeps
  no position of its own, and Spark checkpoints it, giving T2 resume;
- rate limiting (T3): ``read(start)`` returns the rows in the
  ``batchSize`` positions from the first ``change_seq`` past ``start``, and
  the last position it read as the end offset — the reference's TOP(batch)
  pull past its last committed position. A gap in the log costs no empty
  micro-batch. Like the pull path's S1 scan it drops PreUpdate rows (P3):
  only ``__operation`` values in ``CHANGE_OPERATIONS`` are emitted;
- it is a ``SimpleDataSourceStreamReader``: the read runs in the driver's
  long-lived source runner when Spark asks for the latest offset, as plain
  pyarrow over the row groups whose footer statistics reach into the range,
  so a micro-batch forks no executor Python worker. The runner holds only the
  prefetched micro-batches Spark has not committed yet, each spanning at
  most ``batchSize`` positions;
- ``readBetweenOffsets`` serves Spark's replay of a micro-batch that was
  planned but not committed before a restart (it runs on an executor).

Usage:
    spark.dataSource.register(ChangeFeedDataSource)
    spark.readStream.format("cdc_change_feed")
         .option("path", feed_path).option("batchSize", 2000).load()
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

from sqlserver_cdc_to_kafka_spark.model.envelope import CHANGE_OPERATIONS


def _ints(values, type_):
    """An Arrow integer array of ``type_`` built from its bytes. pyarrow
    turns a Python value into Arrow data (``pa.scalar``, ``pa.array``, a
    bare int in ``pc.greater``, a ``filters=`` read) only after importing
    pandas, about 0.2–0.3 s of CPU in each fresh source runner, and Spark
    starts one per stream query."""
    import pyarrow as pa

    width = type_.bit_width // 8
    data = pa.py_buffer(b"".join(v.to_bytes(width, "little", signed=True) for v in values))
    return pa.Array.from_buffers(type_, len(values), [None, data])


def _int64(value: int):
    """An Arrow int64 scalar (see ``_ints``)."""
    import pyarrow as pa

    return _ints([value], pa.int64())[0]


class ChangeFeedStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, schema, options: dict) -> None:
        self.path = options["path"]
        self.batch_size = int(options.get("batchSize", 2000))
        self.schema = schema

    def initialOffset(self) -> dict:
        return {"seq": -1}

    def _row_groups(self, pf) -> list[tuple[int, int | None, int | None]]:
        """Each row group with the (min, max) of its sequence column from
        the footer statistics, or (None, None) when it has none (r15: the
        driver reads footers per trigger, not the sequence column)."""
        idx = pf.schema_arrow.get_field_index("change_seq")
        groups = []
        for rg in range(pf.metadata.num_row_groups):
            st = pf.metadata.row_group(rg).column(idx).statistics
            stats = st is not None and st.has_min_max
            groups.append((rg, st.min if stats else None, st.max if stats else None))
        return groups

    def _rows(self, pf, groups, lo: int, hi: int | None, columns: list[str]):
        """The rows with ``lo < seq <= hi`` (no upper bound when ``hi`` is
        None), read only from the row groups whose statistics reach into
        that range and filtered with ``pyarrow.compute``."""
        import pyarrow.compute as pc

        table = pf.read_row_groups(
            [rg for rg, mn, mx in groups if mx is None or (mx > lo and (hi is None or mn <= hi))],
            columns=columns,
        )
        seq = table.column("change_seq")
        keep = pc.greater(seq, _int64(lo))
        if hi is not None:
            keep = pc.and_(keep, pc.less_equal(seq, _int64(hi)))
        return table.filter(keep)

    def _batches(self, table) -> Iterator:
        """The change rows of ``table`` (PreUpdate rows dropped, P3, as the
        pull path's S1 scan drops them) as Arrow record batches."""
        # r15 (guide §4): hand Spark Arrow record batches instead of Python
        # row tuples. The driver-side runner requires Spark's Arrow schema
        # exactly, nullability included, hence the cast. A list iterator,
        # not a generator: Spark copy.copy()s the prefetched iterator it
        # caches.
        import pyarrow.compute as pc
        from pyspark.sql.pandas.types import to_arrow_schema

        ops = table.column("__operation")
        table = table.filter(pc.is_in(ops, value_set=_ints(CHANGE_OPERATIONS, ops.type)))
        return iter(table.cast(to_arrow_schema(self.schema)).to_batches())

    def read(self, start: dict) -> tuple[Iterator, dict]:
        """T3 rate limit: the rows in the ``batchSize`` positions from the
        first ``change_seq`` past ``start``, so a gap in the log costs no
        empty micro-batch. The end offset is the last position read, a
        PreUpdate row's included, so a window of only PreUpdate rows still
        advances."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        lo = start["seq"]
        pf = pq.ParquetFile(self.path)
        groups = self._row_groups(pf)
        # a group's minimum is its first position past lo, unless lo falls
        # inside the group (or it has no statistics): then read its positions
        inside = [g for g in groups if g[1] is None or g[1] <= lo < g[2]]
        seq = self._rows(pf, inside, lo, None, ["change_seq"]).column("change_seq")
        firsts = [pc.min(seq).as_py(), *(mn for _, mn, _ in groups if mn is not None and mn > lo)]
        firsts = [s for s in firsts if s is not None]
        if not firsts:
            return iter([]), start
        table = self._rows(pf, groups, lo, min(firsts) + self.batch_size - 1, self.schema.names)
        end = {"seq": pc.max(table.column("change_seq")).as_py()}
        return self._batches(table), end

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator:
        import pyarrow.parquet as pq

        lo, hi = start["seq"], end["seq"]
        if hi <= lo:
            return iter([])
        pf = pq.ParquetFile(self.path)
        return self._batches(self._rows(pf, self._row_groups(pf), lo, hi, self.schema.names))


class ChangeFeedDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "cdc_change_feed"

    def schema(self) -> str:
        import pyarrow.parquet as pq

        from sqlserver_cdc_to_kafka_spark.tables import arrow_schema_ddl

        return arrow_schema_ddl(pq.read_schema(self.options["path"]))

    def simpleStreamReader(self, schema) -> ChangeFeedStreamReader:
        return ChangeFeedStreamReader(schema, self.options)
