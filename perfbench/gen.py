"""Seeded input generator for the pipeline benchmark.

Writes an ``orders`` table with the fixture schema the engine's change feed
derives from (``fixtures.cdc_events``). Three input properties shape the
pipeline's work and are recorded with every run:

- ``rows``: table size, so the number of snapshot pages and change batches;
- ``density``: share of the key range ``[0, rows / density)`` that holds a
  key. The change log's ``change_seq`` is ``3 * key (+1, +2)``, and the
  streaming source batches by sequence span, so density sets the rows per
  stream micro-batch;
- ``displaced``: share of rows moved out of key order in the file, which
  sets how much ordering work the keyset pager and the scans do.

Every pass draws fresh values from a seed derived from the run seed and the
pass index, so no pass can reuse data another pass cached.
"""

from __future__ import annotations

import os
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STATUSES = np.array(["O", "F", "P"])
PRIORITIES = np.array(
    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
)
EPOCH = np.datetime64("1992-01-01", "D")


@dataclass(frozen=True)
class Shape:
    """The input properties a workload fixes; the seed varies the values."""

    rows: int
    density: float
    displaced: float

    def record(self) -> dict:
        return asdict(self)


def pass_seed(seed: int, pass_index: int) -> np.random.Generator:
    return np.random.default_rng(np.random.SeedSequence([seed, pass_index]))


def orders_table(shape: Shape, rng: np.random.Generator) -> pa.Table:
    n = shape.rows
    key_space = max(n, int(round(n / shape.density)))
    keys = np.sort(rng.choice(key_space, size=n, replace=False)).astype("int64")
    moved = rng.choice(n, size=int(round(n * shape.displaced)), replace=False)
    order = np.arange(n)
    order[moved] = order[rng.permutation(moved)]
    keys = keys[order]
    days = rng.integers(0, 2400, size=n).astype("timedelta64[D]")
    return pa.table(
        {
            "o_orderkey": pa.array(keys, pa.int64()),
            "o_custkey": pa.array(rng.integers(1, 15_000, size=n), pa.int64()),
            "o_orderstatus": pa.array(STATUSES[rng.integers(0, 3, size=n)]),
            "o_totalprice": pa.array(
                np.round(rng.uniform(900.0, 500_000.0, size=n), 2)
            ),
            "o_orderdate": pa.array(
                (EPOCH + days).astype("datetime64[us]"), pa.timestamp("us")
            ),
            "o_orderpriority": pa.array(PRIORITIES[rng.integers(0, 5, size=n)]),
        }
    )


def write_orders(sf_dir: str, shape: Shape, seed: int, pass_index: int) -> str:
    """Write ``<sf_dir>/orders.parquet`` for one pass and return its path."""
    os.makedirs(sf_dir, exist_ok=True)
    path = os.path.join(sf_dir, "orders.parquet")
    pq.write_table(orders_table(shape, pass_seed(seed, pass_index)), path)
    return path
