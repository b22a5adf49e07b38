"""Avro wire primitives (SURVEY §2.8 F7/F8) — pure-Python reference
implementations of the byte-level encodings the reference hand-rolls
(``cdc_kafka/serializers/avro.py:677-745``): decimal → scaled two's-complement
bytes, zigzag varint, little-endian float packing.

With the spark-avro package present, ``to_avro`` performs these inside the
JVM; these functions document and test the exact wire semantics (and back
the driver-side encoding of progress/metadata records, which never flow
through a DataFrame)."""

from __future__ import annotations

import decimal
import struct


def decimal_to_bytes(value: decimal.Decimal, scale: int) -> bytes:
    """Avro decimal logical type: the unscaled integer as minimal-length
    big-endian two's complement. Raises if the value has more fractional
    digits than the declared scale (a lossy write must never be silent)."""
    sign, digits, exponent = value.as_tuple()
    if exponent < -scale:
        raise ValueError(f"scale of {value} exceeds declared scale {scale}")
    unscaled = int(value.scaleb(scale))
    if unscaled == 0:
        return b"\x00"
    length = (unscaled.bit_length() + 8) // 8  # +1 sign bit, round up
    return unscaled.to_bytes(length, "big", signed=True)


def bytes_to_decimal(raw: bytes, scale: int) -> decimal.Decimal:
    unscaled = int.from_bytes(raw, "big", signed=True)
    return decimal.Decimal(unscaled).scaleb(-scale)


def zigzag_encode(n: int) -> int:
    return (n << 1) ^ (n >> 63) if n < 0 else n << 1


def zigzag_decode(z: int) -> int:
    return (z >> 1) ^ -(z & 1)


def write_varint(n: int) -> bytes:
    """Avro long: zigzag + base-128 varint."""
    z = zigzag_encode(n)
    out = bytearray()
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def read_varint(raw: bytes, pos: int = 0) -> tuple[int, int]:
    """-> (value, next_pos)."""
    shift = z = 0
    while True:
        b = raw[pos]
        pos += 1
        z |= (b & 0x7F) << shift
        if not b & 0x80:
            return zigzag_decode(z), pos
        shift += 7


def pack_double(v: float) -> bytes:
    return struct.pack("<d", v)


# ---------------------------------------------------------------------------
# Envelope-level encoding: the full CDC message layout the reference
# hand-rolls in ``cdc_kafka/serializers/avro.py:505-545`` (value) and
# :553-557 (key), with the ``__updated_fields`` enum-array from
# ``avro.py:229-236`` (all-columns case) and ``avro.py:534-543``
# (update-mask case). Pure-Python spec implementation — the Spark path
# produces the same envelope via avro_serde; these bytes pin the wire
# format against golden vectors in tests.
# ---------------------------------------------------------------------------

SNAPSHOT_OPERATION_ID = 0
DELETE_OPERATION_ID = 1
INSERT_OPERATION_ID = 2
PRE_UPDATE_OPERATION_ID = 3
POST_UPDATE_OPERATION_ID = 4

_ALL_COLS_OPS = (SNAPSHOT_OPERATION_ID, INSERT_OPERATION_ID, DELETE_OPERATION_ID)


def confluent_header(schema_id: int) -> bytes:
    """Confluent wire-format prefix: magic 0 + 4-byte big-endian schema id
    (avro.py:514,516 ``struct.pack('>bI', 0, schema_id)``)."""
    return struct.pack(">bI", 0, schema_id)


def avro_string(s: str) -> bytes:
    raw = s.encode("utf-8")
    return write_varint(len(raw)) + raw


def avro_bytes(b: bytes) -> bytes:
    return write_varint(len(b)) + b


def avro_decimal(value: decimal.Decimal, scale: int) -> bytes:
    return avro_bytes(decimal_to_bytes(value, scale))


def avro_bool(v: bool) -> bytes:
    return bytes([1 if v else 0])


def updated_fields_array(col_count: int, update_mask: bytes | None = None) -> bytes:
    """``__updated_fields``: an Avro array of enum indices (block count,
    items, 0 terminator). Enum symbol 0 is the UNKNOWN_COL default, so
    source columns are 1-based. ``update_mask=None`` = the all-columns form
    (snapshot/insert/delete, avro.py:229-236); otherwise the mask's set bits
    select columns — bit i of the mask read as a big-endian integer is
    column ordinal i+1 (the bitarray reverse() dance at avro.py:536-543)."""
    out = bytearray()
    if update_mask is None:
        out += write_varint(col_count)
        for ordinal in range(1, col_count + 1):
            out += write_varint(ordinal)
    else:
        m = int.from_bytes(update_mask, "big")
        set_bits = [i for i in range(8 * len(update_mask)) if (m >> i) & 1]
        if set_bits:  # an empty array is ONLY the 0 terminator — a
            # count-0 block before it would double-encode "empty" and
            # leave a stray byte for any spec-conforming reader
            out += write_varint(len(set_bits))
            for i in set_bits:
                out += write_varint(i + 1)
    out += b"\x00"
    return bytes(out)


def encode_envelope_value(
    value_schema_id: int,
    operation_id: int,
    event_time_iso: str,
    lsn: bytes | None,
    command_id: int | None,
    seqval: bytes | None,
    field_datums: list[bytes | None],
    update_mask: bytes | None = None,
) -> bytes:
    """The full CDC value message (avro.py:513-548). ``field_datums`` are
    the per-column Avro-encoded values (``avro_string``/``write_varint``/…)
    or None for SQL NULL — every data field is a ["null", T] union, tag
    0x00 for null, 0x02 then the datum otherwise.

    The LSN/seqval metadata strings are ``'0x' + hex`` (22 chars for a
    10-byte LSN); the reference encodes them with a leading ',' because
    0x2C is precisely the zigzag varint for length 22 — ``avro_string``
    emits the identical bytes without the pun (avro.py:525-531)."""
    out = bytearray(confluent_header(value_schema_id))
    out += write_varint(operation_id)
    out += avro_string(event_time_iso)
    if lsn is None or operation_id == SNAPSHOT_OPERATION_ID:
        out += b"\x00\x00\x00"
    else:
        out += b"\x02" + avro_string(f"0x{lsn.hex()}")
        out += b"\x02" + write_varint(command_id if command_id is not None else 0)
        out += b"\x02" + avro_string(f"0x{(seqval or b'').hex()}")
    if operation_id in _ALL_COLS_OPS:
        out += updated_fields_array(len(field_datums))
    else:
        out += updated_fields_array(len(field_datums), update_mask or b"")
    for datum in field_datums:
        if datum is None:
            out += b"\x00"
        else:
            out += b"\x02" + datum
    return bytes(out)


def encode_envelope_key(key_schema_id: int, key_datums: list[bytes]) -> bytes:
    """The key message: header + key columns in key-field ordinal order,
    NOT union-wrapped (keys are non-nullable; avro.py:553-557)."""
    out = bytearray(confluent_header(key_schema_id))
    for datum in key_datums:
        out += datum
    return bytes(out)


def _read_string(raw: bytes, pos: int) -> tuple[str, int]:
    n, pos = read_varint(raw, pos)
    return raw[pos : pos + n].decode("utf-8"), pos + n


def decode_envelope_value(
    raw: bytes, field_types: list
) -> dict:
    """Inverse of ``encode_envelope_value`` — parses the full CDC value
    message back to python values given the per-column Avro types
    (``'string' | 'long' | 'double' | 'float' | 'boolean' | 'bytes' |
    ('decimal', scale)``). Validates full consumption of the buffer, so a
    mis-specified schema cannot silently mis-frame trailing fields (the
    failure mode the reference's serializer self-check guards against,
    avro.py:559-562)."""
    magic, schema_id = struct.unpack(">bI", raw[:5])
    if magic != 0:
        raise ValueError(f"bad confluent magic byte {magic}")
    pos = 5
    operation_id, pos = read_varint(raw, pos)
    event_time_iso, pos = _read_string(raw, pos)
    tag, pos = read_varint(raw, pos)
    if tag == 0:
        lsn = command_id = seqval = None
        _, pos = read_varint(raw, pos)
        _, pos = read_varint(raw, pos)
    else:
        s, pos = _read_string(raw, pos)
        lsn = bytes.fromhex(s[2:])
        _, pos = read_varint(raw, pos)
        command_id, pos = read_varint(raw, pos)
        _, pos = read_varint(raw, pos)
        s, pos = _read_string(raw, pos)
        seqval = bytes.fromhex(s[2:])
    updated_fields: list[int] = []
    while True:
        n, pos = read_varint(raw, pos)
        if n == 0:
            break
        if n < 0:  # spec: negative block count precedes a byte size
            _, pos = read_varint(raw, pos)
            n = -n
        for _ in range(n):
            v, pos = read_varint(raw, pos)
            updated_fields.append(v)
    values: list = []
    for ft in field_types:
        tag, pos = read_varint(raw, pos)
        if tag == 0:
            values.append(None)
            continue
        if ft == "string":
            v, pos = _read_string(raw, pos)
        elif ft == "long":
            v, pos = read_varint(raw, pos)
        elif ft == "double":
            v = struct.unpack("<d", raw[pos : pos + 8])[0]
            pos += 8
        elif ft == "float":
            v = struct.unpack("<f", raw[pos : pos + 4])[0]
            pos += 4
        elif ft == "boolean":
            v = raw[pos] == 1
            pos += 1
        elif ft == "bytes":
            n, pos = read_varint(raw, pos)
            v = raw[pos : pos + n]
            pos += n
        elif isinstance(ft, tuple) and ft[0] == "decimal":
            n, pos = read_varint(raw, pos)
            v = bytes_to_decimal(raw[pos : pos + n], ft[1])
            pos += n
        else:
            raise ValueError(f"unsupported field type {ft!r}")
        values.append(v)
    if pos != len(raw):
        raise ValueError(f"trailing bytes: consumed {pos} of {len(raw)}")
    return {
        "schema_id": schema_id,
        "operation_id": operation_id,
        "event_time_iso": event_time_iso,
        "lsn": lsn,
        "command_id": command_id,
        "seqval": seqval,
        "updated_fields": updated_fields,
        "values": values,
    }
