"""Custom Structured Streaming source with a change-index offset
(SURVEY §4 'custom Spark work actually required' item 1).

``cdc_change_feed`` is a Python DataSource (Spark 4 `pyspark.sql.datasource`)
that tails a change log (here: a parquet file with a monotone sequence
column — the fixture stand-in for a CDC change table; a JDBC deployment
swaps the pyarrow scan for the `sources/jdbc_sql.change_window_sql` query)
and exposes the change position as its STREAMING OFFSET:

- offset = ``{"seq": <last emitted change_seq>}`` — the scalar form of the
  ChangeIndex. Spark's offset log is the only copy of it: the reader keeps
  no position of its own, and Spark checkpoints it, giving T2 resume;
- rate limiting (T3): ``read(start)`` returns the rows in
  ``(start, start + batchSize]`` that the log holds, and that end offset —
  the reference's TOP(batch) pull past its last committed position;
- it is a ``SimpleDataSourceStreamReader``: the read runs in the driver's
  long-lived source runner when Spark asks for the latest offset, as plain
  pyarrow over the file with the range pushed into the parquet scan, so a
  micro-batch forks no executor Python worker. The runner holds only the
  prefetched micro-batches Spark has not committed yet, each spanning at
  most ``batchSize`` positions;
- ``readBetweenOffsets`` serves Spark's replay of a micro-batch that was
  planned but not committed before a restart (it runs on an executor).

Usage:
    spark.dataSource.register(ChangeFeedDataSource)
    spark.readStream.format("cdc_change_feed")
         .option("path", feed_path).option("batchSize", 2000)
         .option("seqColumn", "change_seq").load()
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

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


def _arrow_field_ddl(field) -> str:
    t = str(field.type)
    if t in _ARROW_TO_DDL:
        return _ARROW_TO_DDL[t]
    if t.startswith("timestamp"):
        return "timestamp_ntz" if "tz=" not in t else "timestamp"
    if t.startswith(("list<", "large_list<")) and "string" in t:
        return "array<string>"
    if t.startswith("decimal128"):
        return t.replace("decimal128", "decimal")
    raise ValueError(f"unmapped arrow type {t} for column {field.name}")


class ChangeFeedStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, schema, options: dict) -> None:
        self.path = options["path"]
        self.seq_col = options.get("seqColumn", "change_seq")
        self.batch_size = int(options.get("batchSize", 2000))
        self.schema = schema

    def initialOffset(self) -> dict:
        return {"seq": -1}

    def _available_max(self) -> int:
        # r15 (guide §6): the driver polls this every trigger — read the
        # parquet FOOTER's row-group statistics for the max instead of
        # scanning the whole sequence column per poll (statistics are exact
        # for the file; a stats-less file falls back to the column scan).
        import pyarrow.parquet as pq

        pf = pq.ParquetFile(self.path)
        md = pf.metadata
        if md.num_rows == 0:
            return -1
        idx = pf.schema_arrow.get_field_index(self.seq_col)
        mx = None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                mx = None
                break
            mx = st.max if mx is None else max(mx, st.max)
        if mx is not None:
            return int(mx)
        import pyarrow.compute as pc

        t = pq.read_table(self.path, columns=[self.seq_col])
        if t.num_rows == 0:
            return -1
        return pc.max(t.column(self.seq_col)).as_py()

    def read(self, start: dict) -> tuple[Iterator, dict]:
        """T3 rate limit: advance ≤ batch_size sequence numbers past
        ``start`` (dense fixture seqs make rows ≈ seqs; a sparse log simply
        under-fills some batches)."""
        lo = start["seq"]
        end = {"seq": max(lo, min(self._available_max(), lo + self.batch_size))}
        return self.readBetweenOffsets(start, end), end

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator:
        lo, hi = start["seq"], end["seq"]
        if hi <= lo:
            return iter([])
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        table = pq.read_table(
            self.path,
            columns=self.schema.names,
            filters=[(self.seq_col, ">", lo), (self.seq_col, "<=", hi)],
        )
        # r15 (guide §4): hand Spark Arrow record batches instead of Python
        # row tuples — the r14 form round-tripped every value through a
        # Python object (to_pylist + per-row zip) before the worker
        # re-serialized it, the whole-feed JVM↔Python boundary cost. The
        # driver-side runner requires Spark's Arrow schema exactly,
        # nullability included, hence the cast. A list iterator, not a
        # generator: Spark copy.copy()s the prefetched iterator it caches.
        table = table.select(self.schema.names).cast(to_arrow_schema(self.schema))
        return iter(table.to_batches())


class ChangeFeedDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "cdc_change_feed"

    def schema(self) -> str:
        import pyarrow.parquet as pq

        sch = pq.read_schema(self.options["path"])
        return ", ".join(f"{f.name} {_arrow_field_ddl(f)}" for f in sch)

    def simpleStreamReader(self, schema) -> ChangeFeedStreamReader:
        return ChangeFeedStreamReader(schema, self.options)
