"""CDC message envelope (SURVEY.md §1.4).

Every data message in the reference carries CDC metadata columns ahead of the
source columns (``cdc_kafka/serializers/avro.py:283-300,360-404``,
``cdc_kafka/constants.py:50-92``):

- ``__operation``      int enum (0=Snapshot 1=Delete 2=Insert 3=PreUpdate 4=PostUpdate)
- ``__event_time``     transaction end time / snapshot read time
- ``__log_lsn``        10-byte LSN, null for snapshot rows
- ``__command_id``     int, null for snapshot rows
- ``__log_seqval``     10-byte seqval, null for snapshot rows
- ``__updated_fields`` array<string>: all columns for snapshot/insert/delete,
                       the bitmask-decoded subset for updates

Here that envelope is a flat StructType prefix on a change-feed DataFrame.
"""

from __future__ import annotations

from pyspark.sql import types as T

OP_SNAPSHOT = 0
OP_DELETE = 1
OP_INSERT = 2
OP_PRE_UPDATE = 3
OP_POST_UPDATE = 4

# Mirrors cdc_kafka/constants.py:50-71 (operation id -> name).
OPERATIONS = {
    OP_SNAPSHOT: "Snapshot",
    OP_DELETE: "Delete",
    OP_INSERT: "Insert",
    OP_PRE_UPDATE: "PreUpdate",
    OP_POST_UPDATE: "PostUpdate",
}

# The operations a change scan emits: PreUpdate rows carry the before-image
# of a PostUpdate and are dropped (P3, ``cdc_kafka/sql_queries.py:265``).
CHANGE_OPERATIONS = (OP_DELETE, OP_INSERT, OP_POST_UPDATE)

ENVELOPE_COLS = [
    "__operation",
    "__event_time",
    "__log_lsn",
    "__command_id",
    "__log_seqval",
    "__updated_fields",
]


def envelope_schema(payload: T.StructType, timestamp_ntz: bool = False) -> T.StructType:
    """Envelope columns + payload columns, all payload fields forced nullable
    (the reference makes every value field nullable with null default so the
    schema survives column drops — avro.py:283-300)."""
    ts_type: T.DataType = T.TimestampNTZType() if timestamp_ntz else T.TimestampType()
    fields = [
        T.StructField("__operation", T.IntegerType(), False),
        T.StructField("__event_time", ts_type, True),
        T.StructField("__log_lsn", T.BinaryType(), True),
        T.StructField("__command_id", T.IntegerType(), True),
        T.StructField("__log_seqval", T.BinaryType(), True),
        T.StructField("__updated_fields", T.ArrayType(T.StringType()), True),
    ]
    for f in payload.fields:
        fields.append(T.StructField(f.name, f.dataType, True))
    return T.StructType(fields)
