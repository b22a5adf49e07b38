"""Custom Structured Streaming source with a change-index offset
(SURVEY §4 'custom Spark work actually required' item 1).

``cdc_change_feed`` is a Python DataSource (Spark 4 `pyspark.sql.datasource`)
that tails a change log (here: a parquet file with a monotone sequence
column — the fixture stand-in for a CDC change table; a JDBC deployment
swaps the pyarrow scan for the `sources/jdbc_sql.change_window_sql` query)
and exposes the change position as its STREAMING OFFSET:

- offset = ``{"seq": <last emitted change_seq>}`` — the scalar form of the
  ChangeIndex; Spark checkpoints it, giving T2 resume for free;
- rate limiting (T3): each trigger advances at most ``batch_size`` rows past
  the last planned offset — the reference's TOP(batch) pull;
- ``partitions()`` plans each micro-batch's offset range as one input
  partition, read by one Python worker. On a 4-core host a 4-way split of
  the range drained sf0.1's 8 micro-batches of ~23.6k rows no faster
  (warm drain median ~22 s split, ~19 s whole), and for micro-batches of a
  few hundred rows it quadrupled the tasks;
- ``read()`` runs ON EXECUTORS with no SparkSession: plain pyarrow over the
  file, predicate pushed into the parquet scan.

Usage:
    spark.dataSource.register(ChangeFeedDataSource)
    spark.readStream.format("cdc_change_feed")
         .option("path", feed_path).option("batchSize", 2000)
         .option("seqColumn", "change_seq").load()
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

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


class SeqRange(InputPartition):
    def __init__(self, path: str, seq_col: str, lo: int, hi: int, columns: list):
        self.path = path
        self.seq_col = seq_col
        self.lo = lo  # exclusive
        self.hi = hi  # inclusive
        self.columns = columns


class ChangeFeedStreamReader(DataSourceStreamReader):
    def __init__(self, schema_ddl_cols: list, options: dict) -> None:
        self.path = options["path"]
        self.seq_col = options.get("seqColumn", "change_seq")
        self.batch_size = int(options.get("batchSize", 2000))
        self.columns = schema_ddl_cols
        self._planned: int | None = None

    # -- offset protocol ---------------------------------------------------

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

    def latestOffset(self) -> dict:
        """T3 rate limit: advance ≤ batch_size sequence numbers per trigger
        past the last planned end (dense fixture seqs make rows ≈ seqs; a
        sparse log simply under-fills some batches)."""
        avail = self._available_max()
        base = self._planned if self._planned is not None else -1
        end = min(avail, base + self.batch_size)
        if end < base:
            end = base
        self._planned = end
        return {"seq": end}

    def commit(self, end: dict) -> None:
        # checkpointed by Spark; fast-forward planning after a restart replay
        if self._planned is None or end["seq"] > self._planned:
            self._planned = end["seq"]

    # -- per-batch planning + executor reads -------------------------------

    def partitions(self, start: dict, end: dict) -> list:
        lo, hi = start["seq"], end["seq"]
        if self._planned is None or hi > self._planned:
            self._planned = hi  # restart fast-forward
        return [SeqRange(self.path, self.seq_col, lo, max(lo, hi), self.columns)]

    def read(self, partition: SeqRange) -> Iterator[tuple]:
        if partition.hi <= partition.lo:
            return
        import pyarrow.parquet as pq

        table = pq.read_table(
            partition.path,
            columns=partition.columns,
            filters=[
                (partition.seq_col, ">", partition.lo),
                (partition.seq_col, "<=", partition.hi),
            ],
        )
        # r15 (guide §4): hand Spark Arrow record batches instead of Python
        # row tuples — the r14 form round-tripped every value through a
        # Python object (to_pylist + per-row zip) before the worker
        # re-serialized it, the whole-feed JVM↔Python boundary cost.
        yield from table.select(partition.columns).to_batches()


class ChangeFeedDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "cdc_change_feed"

    def schema(self) -> str:
        import pyarrow.parquet as pq

        sch = pq.read_schema(self.options["path"])
        return ", ".join(f"{f.name} {_arrow_field_ddl(f)}" for f in sch)

    def streamReader(self, schema) -> ChangeFeedStreamReader:
        return ChangeFeedStreamReader([f.name for f in schema.fields], self.options)
