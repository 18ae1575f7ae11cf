"""Protobuf WIRE-FORMAT walker — the other row format event streams
ship in. Schema-less by design (the wire format is public and
self-framing; the schema is not): every top-level field becomes one row
of (field_num, wire_type, canonical value), which is exactly what a
quarantine/inspection stage needs before a schema'd decode exists —
find the fields, size the payloads, route the junk.

Scope (encoding.proto spec, developers.google.com/protocol-buffers):
varint (wire type 0, base-128 little-endian groups), fixed64 (1),
length-delimited (2 — strings/bytes/embedded messages, emitted as hex;
a schema'd stage decides what they are), fixed32 (5). The deprecated
group types (3/4) and truncation raise ValueError -> ONE parse_error
row per payload (the walker-quarantine contract).

No protobuf library exists in this environment, so certification is
spec arithmetic: pytest pins the varint laws (spec examples: 1 -> 01,
150 -> 9601, 300 -> ac02) and the tag packing (field<<3|type) against
hand-built buffers; the builder/walker pair is closed-form certified
against DuckDB (x_proto_fields).

The 100 TB shape: one mapInPandas pass, linear in message bytes.
Reference parity note: no protobuf path in the reference (SURVEY.md
§2.1); training-data extension surface (§2.5).
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .payload import synth_bytes


def proto_varint_decode(data: bytes, pos: int) -> tuple[int, int]:
    """Base-128 varint (unsigned): returns (value, next_pos)."""
    shift = 0
    acc = 0
    while True:
        if pos >= len(data):
            raise ValueError("protobuf varint truncated")
        b = data[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            return acc, pos
        shift += 7
        if shift > 63:
            raise ValueError("protobuf varint overlong")


def proto_varint_encode(v: int) -> bytes:
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def proto_wire_fields(
    payload: bytes,
) -> Iterator[tuple[int, int, str, int]]:
    """Walk one message's top-level fields: yields (field_num,
    wire_type, canonical_value, n_bytes). varint/fixed -> decimal
    unsigned; length-delimited -> lowercase hex of the raw bytes."""
    pos = 0
    n = len(payload)
    while pos < n:
        tag, pos = proto_varint_decode(payload, pos)
        field_num, wire_type = tag >> 3, tag & 7
        if field_num == 0:
            raise ValueError("protobuf field number 0 is invalid")
        if wire_type == 0:
            v, pos = proto_varint_decode(payload, pos)
            yield field_num, 0, str(v), 0
        elif wire_type == 1:
            if pos + 8 > n:
                raise ValueError("protobuf fixed64 truncated")
            (v,) = struct.unpack_from("<Q", payload, pos)
            pos += 8
            yield field_num, 1, str(v), 8
        elif wire_type == 2:
            ln, pos = proto_varint_decode(payload, pos)
            if ln < 0 or pos + ln > n:
                raise ValueError(
                    "protobuf length-delimited field overruns message"
                )
            yield field_num, 2, payload[pos : pos + ln].hex(), ln
            pos += ln
        elif wire_type == 5:
            if pos + 4 > n:
                raise ValueError("protobuf fixed32 truncated")
            (v,) = struct.unpack_from("<I", payload, pos)
            pos += 4
            yield field_num, 5, str(v), 4
        else:
            raise ValueError(
                f"protobuf wire type {wire_type} (groups are "
                "deprecated; 6/7 are invalid)"
            )


PROTO_FIELDS_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("field_num", IntegerType(), True),
        StructField("wire_type", IntegerType(), True),
        StructField("value", StringType(), True),
        StructField("parse_error", StringType(), True),
    ]
)


def proto_fields(media: DataFrame) -> DataFrame:
    """(media_id, payload) -> one row per top-level field; corrupt
    messages quarantine as ONE parse_error row."""

    def _walk(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for batch in batches:
            rows = []
            for media_id, payload in zip(batch["media_id"], batch["payload"]):
                mid = int(media_id)
                try:
                    for fn, wt, v, _nb in proto_wire_fields(bytes(payload)):
                        rows.append((mid, fn, wt, v, None))
                except ValueError as e:
                    rows.append((mid, None, None, None, str(e)))
            yield pd.DataFrame(
                rows, columns=[f.name for f in PROTO_FIELDS_SCHEMA.fields]
            )

    return media.select("media_id", "payload").mapInPandas(
        _walk, PROTO_FIELDS_SCHEMA
    )


def synth_proto_bytes(doc_id: int, text: str) -> bytes:
    """Deterministic message for the closed form: field 1 varint
    doc_id*3, field 2 string 'doc <id>' (hex in the output), field 3
    fixed64 doc_id*7, field 4 fixed32 doc_id%1000, field 5 varint
    doc_id+300 (always multi-byte), field 6 an embedded message
    (field 1 varint doc_id%5) — length-delimited like any bytes."""
    out = bytearray()
    out += proto_varint_encode(1 << 3 | 0) + proto_varint_encode(doc_id * 3)
    s = f"doc {doc_id}".encode()
    out += proto_varint_encode(2 << 3 | 2) + proto_varint_encode(len(s)) + s
    out += proto_varint_encode(3 << 3 | 1) + struct.pack("<Q", doc_id * 7)
    out += proto_varint_encode(4 << 3 | 5) + struct.pack(
        "<I", doc_id % 1000
    )
    out += proto_varint_encode(5 << 3 | 0) + proto_varint_encode(
        doc_id + 300
    )
    inner = proto_varint_encode(1 << 3 | 0) + proto_varint_encode(doc_id % 5)
    out += (
        proto_varint_encode(6 << 3 | 2)
        + proto_varint_encode(len(inner))
        + inner
    )
    return bytes(out)


def synth_proto_media(documents: DataFrame) -> DataFrame:
    """(media_id, payload) of deterministic protobuf messages."""
    return documents.select(
        F.col("doc_id").alias("media_id"),
        synth_bytes(synth_proto_bytes, "doc_id", "text").alias("payload"),
    )
