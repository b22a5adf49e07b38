"""F5: CDC update-mask → updated-column-name array.

Reference (``cdc_kafka/serializers/avro.py:536-543,583-589``): the
``__$update_mask`` bitmask is reversed and each set bit selects the captured
column with that ordinal. Snapshot/insert/delete rows short-circuit to
"all columns" (``avro.py:532-534``).

Spark mapping: pure built-in array expressions (sequence → transform with a
bit test → filter nulls) — stays in whole-stage codegen, no UDF.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


def update_mask_to_fields(mask_col: str, field_names: Sequence[str]) -> Column:
    """Integer-mask variant: bit i (LSB=ordinal 1) set → field_names[i].

    For the reference's varbinary masks the same expression applies after
    ``conv(hex(mask), 16, 10)`` folds the bytes into a bigint (masks wider
    than 63 columns would need a per-byte getbit variant)."""
    n = len(field_names)
    names_sql = ", ".join(f"'{f}'" for f in field_names)
    return F.expr(
        f"filter(transform(sequence(0, {n - 1}), "
        f"i -> CASE WHEN (shiftright({mask_col}, i) & 1) = 1 "
        f"THEN element_at(array({names_sql}), i + 1) END), "
        f"x -> x IS NOT NULL)"
    )

