"""Avro object-container ingestion — the row format event logs and
Kafka archive dumps actually land in (avro.apache.org spec, container
format §"Object Container Files").

Scope: container files (magic ``Obj\\x01``) whose writer schema is a
RECORD of primitive fields — long/int/string/double/float/boolean/
bytes/null — or two-branch ``["null", <prim>]`` unions (the nullable
column idiom); codecs ``null``, ``deflate`` (raw DEFLATE, stdlib
zlib), ``zstandard`` (one zstd frame per block) and ``snappy`` (raw
snappy block + the spec's 4-byte big-endian CRC32 of the UNCOMPRESSED
data, verified) — the four codecs real event-log containers use.
zstd/snappy decode through pyarrow's first-party bindings, cap-guarded
(operators/compress.py). Multi-block files are walked block by block
with the 16-byte sync marker VERIFIED between blocks, so a torn or
spliced file cannot silently misalign. Nested records/arrays/maps/
arrays/maps/enums/fixed reject loudly (ValueError -> quarantine):
the record decode itself is pure stdlib by design.

Output is the generic long format — one row per (record, field) with
the value rendered as a canonical string (decimal ints, repr floats,
'true'/'false', hex bytes) — so ANY supported schema ingests without
per-schema configuration and every cell stays driver-hashable; a typed
projection is one pivot away in SQL.

No Avro library exists in this environment, so certification is
byte-level (pyarrow supplies only the zstd/snappy CODECS, not any Avro
framing): the test suite pins the zigzag-varint laws and a hand-built
container against spec arithmetic, and the builder/walker pair is
closed-form-certified against DuckDB in the driver slot
(x_avro_records).

The 100 TB shape: one mapInPandas pass, linear in container bytes; a
corrupt file becomes ONE parse_error row (the walker-quarantine
contract of warc.py / demux.py / pdf.py / tensors.py).

Reference parity note: the reference pipeline has no Avro path
(SURVEY.md §2.1); this is training-data extension surface (§2.5).
"""

from __future__ import annotations

import json
import struct
import zlib
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .compress import (
    snappy_compress,
    snappy_decompress,
    zstd_compress,
    zstd_decompress,
)
from .payload import synth_bytes
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

_MAGIC = b"Obj\x01"
#: Same zip-bomb posture as the shard walkers — per decompressed block.
MAX_BLOCK_BYTES = 1 << 30
_PRIMITIVES = {
    "long",
    "int",
    "string",
    "double",
    "float",
    "boolean",
    "bytes",
    "null",
}


def zigzag_encode(n: int) -> bytes:
    """Avro varint: zigzag then little-endian base-128."""
    z = (n << 1) if n >= 0 else (((-n - 1) << 1) | 1)
    out = bytearray()
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def zigzag_decode(data: bytes, pos: int) -> tuple[int, int]:
    """Returns (value, next_pos); truncation raises ValueError."""
    shift = 0
    acc = 0
    while True:
        if pos >= len(data):
            raise ValueError("Avro varint truncated")
        b = data[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
        if shift > 63:
            raise ValueError("Avro varint overlong")
    return (acc >> 1) ^ -(acc & 1), pos


def _read_bytes(data: bytes, pos: int) -> tuple[bytes, int]:
    n, pos = zigzag_decode(data, pos)
    if n < 0 or pos + n > len(data):
        raise ValueError("Avro bytes/string length overruns data")
    return data[pos : pos + n], pos + n


def _load_record_schema(raw: bytes) -> dict:
    """Schema bytes -> the JSON record dict (shared by the plain parse
    and the reader-resolution path)."""
    try:
        sch = json.loads(raw.decode("utf-8"))
    except (UnicodeDecodeError, json.JSONDecodeError) as e:
        raise ValueError(f"bad Avro schema JSON: {e}") from None
    if not isinstance(sch, dict) or sch.get("type") != "record":
        raise ValueError("Avro schema is not a record (out of scope)")
    return sch


def _parse_schema(raw: bytes) -> list[tuple[str, object]]:
    """Writer schema -> [(field_name, type)] where type is a primitive
    name, ('union_null', prim_branch_idx, prim) for ["null", prim]
    (either order), or ('record', subfields) for a nested record —
    recursion depth-capped so a hostile schema cannot stack-overflow
    the worker."""
    return _parse_fields(_load_record_schema(raw), depth=0)


def _parse_fields(sch: dict, depth: int) -> list[tuple[str, object]]:
    if depth > 16:
        raise ValueError("Avro schema nests deeper than 16 (out of scope)")
    fields = sch.get("fields")
    if not isinstance(fields, list) or not fields:
        raise ValueError("Avro record schema has no fields")
    out: list[tuple[str, object]] = []
    for f in fields:
        name, typ = f.get("name"), f.get("type")
        if not isinstance(name, str):
            raise ValueError("Avro field without a name")
        out.append((name, _parse_type(name, typ, depth)))
    return out


def _parse_type(name: str, typ, depth: int):
    """One field/item/value type -> the walker's internal type token."""
    if depth > 16:
        raise ValueError("Avro schema nests deeper than 16 (out of scope)")
    if isinstance(typ, str) and typ in _PRIMITIVES:
        return typ
    if isinstance(typ, dict) and typ.get("type") == "record":
        return ("record", _parse_fields(typ, depth + 1))
    if isinstance(typ, dict) and typ.get("type") == "array":
        return ("array", _parse_type(name, typ.get("items"), depth + 1))
    if isinstance(typ, dict) and typ.get("type") == "map":
        return ("map", _parse_type(name, typ.get("values"), depth + 1))
    if isinstance(typ, dict) and typ.get("type") == "enum":
        symbols = typ.get("symbols")
        if (
            not isinstance(symbols, list)
            or not symbols
            or not all(isinstance(s, str) for s in symbols)
        ):
            raise ValueError(
                f"Avro enum {name!r} without a valid symbols list"
            )
        return ("enum", tuple(symbols))
    if isinstance(typ, dict) and typ.get("type") == "fixed":
        size = typ.get("size")
        if not isinstance(size, int) or size < 0:
            raise ValueError(f"Avro fixed {name!r} without a valid size")
        return ("fixed", size)
    if isinstance(typ, dict) and typ.get("type") in _PRIMITIVES:
        # annotated primitive: {"type": "long", "logicalType": ...}
        # (also covers the plain {"type": "long"} spelling with no
        # annotation, which the spec allows)
        scale = typ.get("scale", 0)
        if not isinstance(scale, int) or isinstance(scale, bool) or scale < 0:
            # a hostile decimal schema with scale: "9"/-1/null would
            # otherwise TypeError past the walkers' ValueError quarantine
            raise ValueError(
                f"Avro field {name!r} decimal scale {scale!r} invalid"
            )
        return (
            "logical",
            typ["type"],
            typ.get("logicalType"),
            scale,
        )
    if (
        isinstance(typ, list)
        and len(typ) == 2
        and "null" in typ
        and any(
            isinstance(t, str) and t in _PRIMITIVES - {"null"} for t in typ
        )
    ):
        prim = typ[1] if typ[0] == "null" else typ[0]
        return ("union_null", typ.index(prim), prim)
    if isinstance(typ, list) and len(typ) >= 2:
        # general union: the branch varint selects a member type
        return (
            "union",
            tuple(
                _parse_type(f"{name}|{k}", t, depth + 1)
                for k, t in enumerate(typ)
            ),
        )
    raise ValueError(
        f"Avro field {name!r} type {typ!r} out of scope"
    )


def _decode_value(
    data: bytes, pos: int, typ: str
) -> tuple[str | None, int]:
    """One primitive value -> canonical string (None for null)."""
    if typ in ("long", "int"):
        v, pos = zigzag_decode(data, pos)
        return str(v), pos
    if typ == "string":
        raw, pos = _read_bytes(data, pos)
        return raw.decode("utf-8"), pos
    if typ == "bytes":
        raw, pos = _read_bytes(data, pos)
        return raw.hex(), pos
    if typ == "double":
        if pos + 8 > len(data):
            raise ValueError("Avro double truncated")
        return repr(struct.unpack_from("<d", data, pos)[0]), pos + 8
    if typ == "float":
        if pos + 4 > len(data):
            raise ValueError("Avro float truncated")
        return repr(struct.unpack_from("<f", data, pos)[0]), pos + 4
    if typ == "boolean":
        if pos >= len(data):
            raise ValueError("Avro boolean truncated")
        b = data[pos]
        if b not in (0, 1):
            raise ValueError(f"Avro boolean byte {b} invalid")
        return ("true" if b else "false"), pos + 1
    if typ == "null":
        return None, pos
    raise ValueError(f"Avro type {typ} unsupported")


def _render_logical(
    v: str | None, prim: str, logical: str | None, scale: int
) -> tuple[str | None, str]:
    """Canonical string for an annotated primitive. Unknown/absent
    annotations fall back to the raw primitive rendering (spec
    §Logical Types: readers unaware of an annotation use the
    underlying type). Exact integer arithmetic throughout — a decimal
    never round-trips through a float."""
    import datetime

    if v is None or logical is None:
        return v, prim
    try:
        if logical == "timestamp-micros" and prim == "long":
            us = int(v)
            dt = datetime.datetime(1970, 1, 1) + datetime.timedelta(
                microseconds=us
            )
            return f"{dt:%Y-%m-%d %H:%M:%S}.{us % 1_000_000:06d}", logical
        if logical == "timestamp-millis" and prim == "long":
            ms = int(v)
            dt = datetime.datetime(1970, 1, 1) + datetime.timedelta(
                milliseconds=ms
            )
            return f"{dt:%Y-%m-%d %H:%M:%S}.{ms % 1_000:03d}", logical
        if logical == "date" and prim == "int":
            d = datetime.date(1970, 1, 1) + datetime.timedelta(days=int(v))
            return d.isoformat(), logical
    except (OverflowError, OSError) as e:
        # a hostile/extreme epoch value past datetime's year-9999 range
        # must quarantine (ValueError), not kill the task
        raise ValueError(f"Avro {logical} value {v} out of range: {e}") from e
    if logical == "time-millis" and prim == "int":
        ms = int(v)
        return (
            f"{ms // 3_600_000:02d}:{ms // 60_000 % 60:02d}:"
            f"{ms // 1_000 % 60:02d}.{ms % 1_000:03d}"
        ), logical
    if logical == "time-micros" and prim == "long":
        us = int(v)
        return (
            f"{us // 3_600_000_000:02d}:{us // 60_000_000 % 60:02d}:"
            f"{us // 1_000_000 % 60:02d}.{us % 1_000_000:06d}"
        ), logical
    if logical == "decimal" and prim == "bytes":
        # two's-complement big-endian unscaled integer (spec) — v is
        # the hex rendering from _decode_value
        raw = bytes.fromhex(v)
        if not raw:
            raise ValueError("Avro decimal with empty unscaled bytes")
        n = int.from_bytes(raw, "big", signed=True)
        sign = "-" if n < 0 else ""
        digits = str(abs(n)).rjust(scale + 1, "0")
        if scale:
            digits = digits[:-scale] + "." + digits[-scale:]
        return sign + digits, logical
    if logical == "uuid" and prim == "string":
        return v, logical
    return v, prim  # unknown annotation: raw primitive


def _decode_record(
    fields: list[tuple[str, object]],
    data: bytes,
    at: int,
    prefix: str,
    out: list[tuple[str, str, str | None]],
) -> int:
    """Decode one record body (Avro binary nests by pure concatenation —
    no tags), flattening nested records to dotted field names. Returns
    the next read position."""
    for name, typ in fields:
        at = _decode_typed(typ, data, at, prefix + name, out)
    return at


def _decode_collection(data: bytes, at: int, item_fn) -> int:
    """The spec's array/map block framing: (count, items...)* 0; a
    NEGATIVE count means abs(count) items preceded by a byte size (a
    skip hint — this walker decodes anyway). Each count is guarded
    against the remaining bytes (>= 1 byte per item) so a hostile
    count cannot spin the loop. ``item_fn(data, at) -> at`` decodes
    one item. Returns the position after the terminating 0 block."""
    while True:
        count, at = zigzag_decode(data, at)
        if count == 0:
            return at
        if count < 0:
            _size, at = zigzag_decode(data, at)
            count = -count
        if count > len(data) - at:
            raise ValueError("Avro collection count overruns data")
        for _ in range(count):
            at = item_fn(data, at)


def _decode_typed(
    typ,
    data: bytes,
    at: int,
    q: str,
    out: list[tuple[str, str, str | None]],
) -> int:
    """One typed value at position ``at`` under long-format name ``q``."""
    if isinstance(typ, tuple) and typ[0] == "record":
        return _decode_record(typ[1], data, at, q + ".", out)
    if isinstance(typ, tuple) and typ[0] == "logical":
        _tag, prim, logical, scale = typ
        v, at = _decode_value(data, at, prim)
        lv, lt = _render_logical(v, prim, logical, scale)
        out.append((q, lt, lv))
        return at
    if isinstance(typ, tuple) and typ[0] == "array":
        # an empty array leaves no cells — emptiness is visible as the
        # absence of q[...] rows (documented; fixtures avoid relying
        # on it for hashes)
        idx = 0

        def _item(d, a, _t=typ[1]):
            nonlocal idx
            a = _decode_typed(_t, d, a, f"{q}[{idx}]", out)
            idx += 1
            return a

        return _decode_collection(data, at, _item)
    if isinstance(typ, tuple) and typ[0] == "map":
        def _entry(d, a, _t=typ[1]):
            key, a = _read_bytes(d, a)
            return _decode_typed(
                _t, d, a, f"{q}[{key.decode('utf-8')}]", out
            )

        return _decode_collection(data, at, _entry)
    if isinstance(typ, tuple) and typ[0] == "enum":
        idx, at = zigzag_decode(data, at)
        symbols = typ[1]
        if not 0 <= idx < len(symbols):
            raise ValueError(
                f"Avro enum index {idx} out of range (0..{len(symbols) - 1})"
            )
        out.append((q, "enum", symbols[idx]))
        return at
    if isinstance(typ, tuple) and typ[0] == "fixed":
        size = typ[1]
        if at + size > len(data):
            raise ValueError("Avro fixed value overruns data")
        out.append((q, "fixed", data[at : at + size].hex()))
        return at + size
    if isinstance(typ, tuple) and typ[0] == "union":
        branch, at = zigzag_decode(data, at)
        members = typ[1]
        if not 0 <= branch < len(members):
            raise ValueError(
                f"Avro union branch {branch} out of range "
                f"(0..{len(members) - 1})"
            )
        return _decode_typed(members[branch], data, at, q, out)
    if isinstance(typ, tuple):  # ("union_null", prim_branch, prim)

        branch, at = zigzag_decode(data, at)
        _tag, prim_at, prim = typ
        if branch == prim_at:
            v, at = _decode_value(data, at, prim)
            out.append((q, prim, v))
        elif branch == 1 - prim_at:
            out.append((q, "null", None))
        else:
            raise ValueError(f"Avro union branch {branch} out of range")
        return at
    v, at = _decode_value(data, at, typ)
    out.append((q, typ, v))
    return at


# ---------------------------------------------------------------------
# Schema resolution (reader schema != writer schema) — the spec's
# §Schema Resolution rules, the thing every long-lived Kafka/event-log
# corpus needs because producers upgrade their schemas mid-stream.
# Supported: field match by name or READER-declared field alias,
# writer-only fields decoded-and-skipped, reader-only fields filled
# from their JSON defaults, numeric promotion (int->long/float/double,
# long->float/double, float->double), string<->bytes promotion, enum
# symbol re-match with reader-default fallback (spec 1.9+), recursive
# resolution through records/arrays/maps/unions. Out of scope
# (ValueError, documented): writer-side aliases, record-NAME matching
# (field names carry the contract here), logical-type rendering of
# default values. Resolution failures are schema-shaped, so they raise
# at PLAN time where possible; data-dependent failures (irreconcilable
# union branch actually chosen, enum symbol absent with no default)
# raise ValueError at decode time -> the walker quarantine.
# ---------------------------------------------------------------------

#: writer primitive -> reader primitives it may promote to (spec table)
_PROMOTIONS: dict[str, tuple[str, ...]] = {
    "int": ("long", "float", "double"),
    "long": ("float", "double"),
    "float": ("double",),
    "string": ("bytes",),
    "bytes": ("string",),
}


def _json_type_name(t) -> str | None:
    if isinstance(t, str):
        return t
    if isinstance(t, dict):
        n = t.get("type")
        return n if isinstance(n, str) else None
    if isinstance(t, list):
        return "union"
    return None


def _promote_value(v: str | None, wprim: str, rprim: str) -> str | None:
    """Re-render a decoded writer primitive under the reader type.
    Exact where the spec is exact: int->float narrows through a real
    float32 round-trip, never silently keeps 64-bit precision."""
    if v is None or wprim == rprim:
        return v
    if wprim in ("int", "long") and rprim == "long":
        return v
    if wprim in ("int", "long") and rprim == "double":
        return repr(float(int(v)))
    if wprim in ("int", "long") and rprim == "float":
        return repr(struct.unpack("<f", struct.pack("<f", float(int(v))))[0])
    if wprim == "float" and rprim == "double":
        return v  # float decode already renders the f32 as its double repr
    if wprim == "string" and rprim == "bytes":
        return v.encode("utf-8").hex()
    if wprim == "bytes" and rprim == "string":
        try:
            return bytes.fromhex(v).decode("utf-8")
        except UnicodeDecodeError as e:
            raise ValueError(
                f"bytes->string promotion of non-UTF-8 value: {e}"
            ) from e
    raise ValueError(f"no promotion {wprim} -> {rprim}")


def _prim_name_and_logical(t) -> tuple[str, str | None, int]:
    """A primitive or annotated-primitive JSON node -> (prim, logical,
    scale). scale validated like _parse_type."""
    if isinstance(t, str):
        return t, None, 0
    scale = t.get("scale", 0)
    if not isinstance(scale, int) or isinstance(scale, bool) or scale < 0:
        raise ValueError(f"Avro decimal scale {scale!r} invalid")
    return t["type"], t.get("logicalType"), scale


def _resolve_type(name: str, w, r, depth: int):
    """(writer JSON node, reader JSON node) -> resolved decode token.
    Tokens: ('rprim', wprim, rprim, rlogical, rscale), ('rrecord',
    actions), ('rarray', item), ('rmap', values), ('renum', wsymbols,
    rsymbols_set, rdefault), ('rfixed', size), ('runion', members —
    None marks an irreconcilable writer branch that errors only if
    chosen)."""
    if depth > 16:
        raise ValueError("Avro schema nests deeper than 16 (out of scope)")
    wn, rn = _json_type_name(w), _json_type_name(r)
    if wn == "union":
        members = []
        for k, wm in enumerate(w):
            try:
                members.append(_resolve_type(f"{name}|{k}", wm, r, depth + 1))
            except ValueError:
                members.append(None)
        if all(m is None for m in members):
            raise ValueError(
                f"Avro field {name!r}: no writer union branch resolves"
            )
        return ("runion", tuple(members))
    if rn == "union":
        # writer non-union vs reader union: the reference resolution
        # (Java ResolvingGrammarGenerator.bestBranch) prefers the
        # reader branch that exactly matches the writer — for named
        # types (record/enum/fixed) that means the FULL NAME, not just
        # the kind, so a union of two enums picks the same-named one
        # (review r14); for primitives the type keyword. Promotions
        # only as the fallback pass — writer int against reader
        # ["double","int"] must decode as int, not double.
        def _names(s) -> tuple[str | None, str | None]:
            # (fullname-or-None, shortname-or-None). A dotted ``name``
            # IS the fullname; an explicit ``namespace`` prepends; a
            # bare name with NO explicit namespace has an UNKNOWN
            # fullname here (enclosing-scope inheritance isn't
            # threaded through resolution — the documented scope
            # limit), so it returns fullname=None and matches by
            # short name below.
            if not isinstance(s, dict):
                return None, None
            nm = s.get("name")
            if not isinstance(nm, str):
                return None, None
            if "." in nm:
                return nm, nm.rsplit(".", 1)[1]
            if s.get("namespace"):
                return f"{s['namespace']}.{nm}", nm
            return None, nm

        def _match_tier(rm) -> int | None:
            """0 = exact fullname (both known and equal) or a non-named
            same-type branch; 1 = shortname match where either side's
            namespace is inherited (unknown at this layer); None = no
            exact match. Java bestBranch exhausts FULLNAME equality
            across ALL branches before trying unqualified names
            (ADVICE r15): a writer 'ns.Foo' against reader union
            [bare 'Foo', 'ns.Foo'] must pick the exact-fullname branch
            at index 1, not the index-0 shortname hit. Two same-kind
            branches whose short names collide across explicit
            namespaces still resolve to the namespace-equal one
            (review r14); an inherited-namespace writer still reaches
            its short-name branch before the structural fallback
            (round-15 review finding)."""
            if _json_type_name(rm) != wn:
                return None
            if wn in ("record", "enum", "fixed"):
                wf, ws = _names(w)
                rf, rs = _names(rm)
                if ws is None or rs is None:
                    return None
                if wf is not None and rf is not None:
                    return 0 if wf == rf else None
                return 1 if ws == rs else None
            return 0

        for tier in (0, 1, None):
            for k, rm in enumerate(r):
                if _match_tier(rm) != tier:
                    continue
                try:
                    return _resolve_type(f"{name}|{k}", w, rm, depth + 1)
                except ValueError:
                    continue
        raise ValueError(
            f"Avro field {name!r}: writer type matches no reader branch"
        )
    if wn == "record" and rn == "record":
        return ("rrecord", _resolve_record(w, r, depth + 1))
    if wn == "array" and rn == "array":
        return (
            "rarray",
            _resolve_type(name, w.get("items"), r.get("items"), depth + 1),
        )
    if wn == "map" and rn == "map":
        return (
            "rmap",
            _resolve_type(name, w.get("values"), r.get("values"), depth + 1),
        )
    if wn == "enum" and rn == "enum":
        wsyms, rsyms = w.get("symbols"), r.get("symbols")
        for syms in (wsyms, rsyms):
            if (
                not isinstance(syms, list)
                or not syms
                or not all(isinstance(s, str) for s in syms)
            ):
                raise ValueError(f"Avro enum {name!r} invalid symbols")
        rdefault = r.get("default")
        if rdefault is not None and rdefault not in rsyms:
            raise ValueError(
                f"Avro enum {name!r} default {rdefault!r} not a symbol"
            )
        return ("renum", tuple(wsyms), frozenset(rsyms), rdefault)
    if wn == "fixed" and rn == "fixed":
        wsize, rsize = w.get("size"), r.get("size")
        if wsize != rsize or not isinstance(wsize, int) or wsize < 0:
            raise ValueError(
                f"Avro fixed {name!r} size mismatch {wsize!r} vs {rsize!r}"
            )
        return ("rfixed", wsize)
    if wn in _PRIMITIVES and rn in _PRIMITIVES:
        wprim, _wlog, _wsc = _prim_name_and_logical(w)
        rprim, rlog, rscale = _prim_name_and_logical(r)
        if wprim != rprim and rprim not in _PROMOTIONS.get(wprim, ()):
            raise ValueError(
                f"Avro field {name!r}: {wprim} does not resolve to {rprim}"
            )
        return ("rprim", wprim, rprim, rlog, rscale)
    raise ValueError(
        f"Avro field {name!r}: writer {wn!r} does not resolve to "
        f"reader {rn!r}"
    )


def _resolve_record(w: dict, r: dict, depth: int) -> list[tuple]:
    """Two record JSON dicts -> an action list the resolved decoder
    runs in WRITER order (the wire order): ('skip', writer_token),
    ('emit', reader_name, resolved_token), then trailing ('default',
    reader_name, cells) for reader-only fields in reader order."""
    if depth > 16:
        raise ValueError("Avro schema nests deeper than 16 (out of scope)")
    wfields, rfields = w.get("fields"), r.get("fields")
    for fs in (wfields, rfields):
        if not isinstance(fs, list) or not fs:
            raise ValueError("Avro record schema has no fields")
    by_name: dict[str, dict] = {}
    for rf in rfields:
        rname = rf.get("name")
        if not isinstance(rname, str):
            raise ValueError("Avro reader field without a name")
        by_name[rname] = rf
        aliases = rf.get("aliases", [])
        if not isinstance(aliases, list) or not all(
            isinstance(a, str) for a in aliases
        ):
            raise ValueError(f"Avro reader field {rname!r} aliases invalid")
        for al in aliases:
            by_name.setdefault(al, rf)
    actions: list[tuple] = []
    matched: set[str] = set()
    for wf in wfields:
        wname, wtyp = wf.get("name"), wf.get("type")
        if not isinstance(wname, str):
            raise ValueError("Avro writer field without a name")
        rf = by_name.get(wname)
        if rf is None or rf["name"] in matched:
            actions.append(("skip", _parse_type(wname, wtyp, depth)))
        else:
            matched.add(rf["name"])
            actions.append(
                (
                    "emit",
                    rf["name"],
                    _resolve_type(wname, wtyp, rf["type"], depth),
                )
            )
    for rf in rfields:
        if rf["name"] in matched:
            continue
        if "default" not in rf:
            raise ValueError(
                f"Avro reader field {rf['name']!r} has no writer match "
                "and no default"
            )
        actions.append(
            (
                "default",
                rf["name"],
                _default_cells(rf["name"], rf["type"], rf["default"], depth),
            )
        )
    return actions


def _default_cells(
    name: str, rtyp, dflt, depth: int
) -> list[tuple[str, str, str | None]]:
    """Render a reader-field JSON default as (suffix, type, value)
    cells in the walker's canonical long format. Scope: primitives,
    enums, null, union defaults (first-branch typed, per spec), empty
    array/map, and nested records (recursing into subfield values /
    their own defaults). Logical-type rendering of defaults is out of
    scope (raw primitive rendering, documented)."""
    if depth > 16:
        raise ValueError("Avro schema nests deeper than 16 (out of scope)")
    tn = _json_type_name(rtyp)
    if tn == "union":
        if not isinstance(rtyp, list) or not rtyp:
            raise ValueError(f"Avro field {name!r} empty union")
        return _default_cells(name, rtyp[0], dflt, depth + 1)
    if tn == "null":
        if dflt is not None:
            raise ValueError(f"Avro field {name!r} null default {dflt!r}")
        return [("", "null", None)]
    if tn in ("int", "long"):
        if not isinstance(dflt, int) or isinstance(dflt, bool):
            raise ValueError(f"Avro field {name!r} bad int default {dflt!r}")
        return [("", tn, str(dflt))]
    if tn in ("float", "double"):
        if not isinstance(dflt, (int, float)) or isinstance(dflt, bool):
            raise ValueError(
                f"Avro field {name!r} bad float default {dflt!r}"
            )
        v = float(dflt)
        if tn == "float":
            v = struct.unpack("<f", struct.pack("<f", v))[0]
        return [("", tn, repr(v))]
    if tn == "boolean":
        if not isinstance(dflt, bool):
            raise ValueError(f"Avro field {name!r} bad bool default {dflt!r}")
        return [("", tn, "true" if dflt else "false")]
    if tn == "string":
        if not isinstance(dflt, str):
            raise ValueError(f"Avro field {name!r} bad str default {dflt!r}")
        return [("", tn, dflt)]
    if tn == "bytes":
        # spec: bytes defaults are JSON strings of codepoints <= 255
        if not isinstance(dflt, str):
            raise ValueError(
                f"Avro field {name!r} bad bytes default {dflt!r}"
            )
        try:
            return [("", tn, dflt.encode("latin-1").hex())]
        except UnicodeEncodeError as e:
            raise ValueError(
                f"Avro field {name!r} bytes default not latin-1: {e}"
            ) from e
    if tn == "enum":
        syms = rtyp.get("symbols") if isinstance(rtyp, dict) else None
        if not isinstance(syms, list) or dflt not in syms:
            raise ValueError(
                f"Avro field {name!r} enum default {dflt!r} not a symbol"
            )
        return [("", "enum", dflt)]
    if tn in ("array", "map"):
        empty = [] if tn == "array" else {}
        if dflt != empty:
            raise ValueError(
                f"Avro field {name!r}: only empty {tn} defaults supported"
            )
        return []
    if tn == "record":
        fields = rtyp.get("fields")
        if not isinstance(fields, list) or not isinstance(dflt, dict):
            raise ValueError(
                f"Avro field {name!r} bad record default {dflt!r}"
            )
        out: list[tuple[str, str, str | None]] = []
        for f in fields:
            fname = f.get("name")
            if fname in dflt:
                sub = _default_cells(fname, f.get("type"), dflt[fname], depth + 1)
            elif "default" in f:
                sub = _default_cells(
                    fname, f.get("type"), f["default"], depth + 1
                )
            else:
                raise ValueError(
                    f"Avro record default missing field {fname!r}"
                )
            out.extend((f".{fname}{suf}", t, v) for suf, t, v in sub)
        return out
    raise ValueError(f"Avro field {name!r} default for {tn!r} out of scope")


def _decode_resolved_record(
    actions: list[tuple],
    data: bytes,
    at: int,
    prefix: str,
    out: list[tuple[str, str, str | None]],
) -> int:
    for act in actions:
        if act[0] == "skip":
            scratch: list = []
            at = _decode_typed(act[1], data, at, "_", scratch)
        elif act[0] == "emit":
            at = _decode_resolved(act[2], data, at, prefix + act[1], out)
        else:  # default — constant cells, nothing on the wire
            out.extend(
                (prefix + act[1] + suf, t, v) for suf, t, v in act[2]
            )
    return at


def _decode_resolved(
    tok, data: bytes, at: int, q: str, out: list
) -> int:
    kind = tok[0]
    if kind == "rprim":
        _k, wprim, rprim, rlog, rscale = tok
        v, at = _decode_value(data, at, wprim)
        v = _promote_value(v, wprim, rprim)
        lv, lt = _render_logical(v, rprim, rlog, rscale)
        out.append((q, "null" if lv is None and lt == rprim else lt, lv))
        return at
    if kind == "rrecord":
        return _decode_resolved_record(tok[1], data, at, q + ".", out)
    if kind == "rarray":
        idx = 0

        def _item(d, a, _t=tok[1]):
            nonlocal idx
            a = _decode_resolved(_t, d, a, f"{q}[{idx}]", out)
            idx += 1
            return a

        return _decode_collection(data, at, _item)
    if kind == "rmap":
        def _entry(d, a, _t=tok[1]):
            key, a = _read_bytes(d, a)
            return _decode_resolved(
                _t, d, a, f"{q}[{key.decode('utf-8')}]", out
            )

        return _decode_collection(data, at, _entry)
    if kind == "renum":
        idx, at = zigzag_decode(data, at)
        wsyms, rset, rdefault = tok[1], tok[2], tok[3]
        if not 0 <= idx < len(wsyms):
            raise ValueError(
                f"Avro enum index {idx} out of range (0..{len(wsyms) - 1})"
            )
        sym = wsyms[idx]
        if sym in rset:
            out.append((q, "enum", sym))
        elif rdefault is not None:
            out.append((q, "enum", rdefault))
        else:
            raise ValueError(
                f"Avro enum symbol {sym!r} unknown to reader (no default)"
            )
        return at
    if kind == "rfixed":
        size = tok[1]
        if at + size > len(data):
            raise ValueError("Avro fixed value overruns data")
        out.append((q, "fixed", data[at : at + size].hex()))
        return at + size
    if kind == "runion":
        branch, at = zigzag_decode(data, at)
        members = tok[1]
        if not 0 <= branch < len(members):
            raise ValueError(
                f"Avro union branch {branch} out of range "
                f"(0..{len(members) - 1})"
            )
        if members[branch] is None:
            raise ValueError(
                f"Avro union branch {branch} irreconcilable with reader"
            )
        return _decode_resolved(members[branch], data, at, q, out)
    raise ValueError(f"Avro resolved token {kind!r} unknown")


def avro_container_records(
    payload: bytes,
    reader_schema: bytes | None = None,
) -> Iterator[tuple[int, str, str, str | None]]:
    """Walk one container file: yields (rec_idx, field, type, value)
    with values canonically stringified. Structural corruption raises
    ValueError. With ``reader_schema`` set, records decode under the
    spec's schema-resolution rules (§Schema Resolution): writer fields
    matched to reader fields by name or reader-declared alias,
    unmatched writer fields decoded-and-skipped, unmatched reader
    fields filled from their defaults (ValueError without one),
    numeric/string-bytes promotions applied, enum symbols re-matched
    with reader-default fallback — irreconcilable schemas ValueError
    (quarantine), never mis-decode."""
    if payload[:4] != _MAGIC:
        raise ValueError("not an Avro container (bad magic)")
    pos = 4
    meta: dict[str, bytes] = {}
    while True:  # metadata map: blocks of key/value pairs
        count, pos = zigzag_decode(payload, pos)
        if count == 0:
            break
        if count < 0:
            # negative block count: abs(count) items preceded by size
            _size, pos = zigzag_decode(payload, pos)
            count = -count
        for _ in range(count):
            k, pos = _read_bytes(payload, pos)
            v, pos = _read_bytes(payload, pos)
            meta[k.decode("utf-8", "replace")] = v
    if "avro.schema" not in meta:
        raise ValueError("Avro container missing avro.schema")
    if reader_schema is None:
        fields = _parse_schema(meta["avro.schema"])

        def _decode_one(blk: bytes, at: int, cells: list) -> int:
            return _decode_record(fields, blk, at, "", cells)

    else:
        actions = _resolve_record(
            _load_record_schema(meta["avro.schema"]),
            _load_record_schema(reader_schema),
            depth=0,
        )

        def _decode_one(blk: bytes, at: int, cells: list) -> int:
            return _decode_resolved_record(actions, blk, at, "", cells)

    codec = meta.get("avro.codec", b"null").decode("latin-1")
    if codec not in ("null", "deflate", "zstandard", "snappy"):
        raise ValueError(
            f"Avro codec {codec!r} unsupported "
            "(null/deflate/zstandard/snappy)"
        )
    sync = payload[pos : pos + 16]
    if len(sync) != 16:
        raise ValueError("Avro sync marker truncated")
    pos += 16
    rec_idx = 0
    while pos < len(payload):
        n_recs, pos = zigzag_decode(payload, pos)
        size, pos = zigzag_decode(payload, pos)
        if n_recs < 0 or size < 0 or pos + size > len(payload):
            raise ValueError("Avro block header overruns file")
        block = payload[pos : pos + size]
        pos += size
        if payload[pos : pos + 16] != sync:
            raise ValueError("Avro sync marker mismatch (torn file)")
        pos += 16
        if codec == "deflate":
            try:
                block = zlib.decompress(block, -15)
            except zlib.error as e:
                raise ValueError(f"corrupt Avro deflate block: {e}") from e
        elif codec == "zstandard":
            block = zstd_decompress(block, MAX_BLOCK_BYTES, "Avro block")
        elif codec == "snappy":
            # spec: snappy-compressed data followed by the 4-byte
            # big-endian CRC32 of the UNCOMPRESSED data (the integrity
            # check snappy itself lacks)
            if len(block) < 4:
                raise ValueError("Avro snappy block too short for CRC")
            want_crc = struct.unpack(">I", block[-4:])[0]
            block = snappy_decompress(
                block[:-4], MAX_BLOCK_BYTES, "Avro block"
            )
            if zlib.crc32(block) & 0xFFFFFFFF != want_crc:
                raise ValueError("Avro snappy block CRC mismatch")
        at = 0
        for _ in range(n_recs):
            cells: list[tuple[str, str, str | None]] = []
            at = _decode_one(block, at, cells)
            for name, t, v in cells:
                yield rec_idx, name, t, v
            rec_idx += 1
        if at != len(block):
            raise ValueError(
                f"Avro block has {len(block) - at} trailing bytes"
            )


AVRO_RECORDS_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("rec_idx", LongType(), True),
        StructField("field", StringType(), True),
        StructField("value_type", StringType(), True),
        StructField("value", StringType(), True),
        StructField("parse_error", StringType(), True),
    ]
)


def avro_records(media: DataFrame) -> DataFrame:
    """(media_id, payload) -> one row per (record, field) in the
    generic long format; corrupt containers quarantine as ONE
    parse_error row."""

    def _walk(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for batch in batches:
            rows = []
            for media_id, payload in zip(batch["media_id"], batch["payload"]):
                mid = int(media_id)
                try:
                    for ri, fld, t, v in avro_container_records(
                        bytes(payload)
                    ):
                        rows.append((mid, ri, fld, t, v, None))
                except ValueError as e:
                    rows.append((mid, None, None, None, None, str(e)))
            yield pd.DataFrame(
                rows, columns=[f.name for f in AVRO_RECORDS_SCHEMA.fields]
            )

    return media.select("media_id", "payload").mapInPandas(
        _walk, AVRO_RECORDS_SCHEMA
    )


_SYNTH_SCHEMA = json.dumps(
    {
        "type": "record",
        "name": "Event",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "kind", "type": "string"},
            {"name": "score", "type": "double"},
            {"name": "flag", "type": "boolean"},
            {"name": "note", "type": ["null", "string"]},
        ],
    }
).encode()


def synth_avro_bytes(doc_id: int) -> bytes:
    """Deterministic container for the closed-form oracle: doc_id%3+1
    records of schema Event(id long, kind string, score double, flag
    boolean, note null|string), split into blocks of at most 2 records,
    codec rotating by doc_id % 4: null / deflate / zstandard / snappy
    (one record table under all four — the oracle hash certifies every
    codec path including the snappy CRC). Record i: id = doc_id*10+i, kind =
    'k<i%2>', score = (doc_id*2+i)*0.5 (exactly representable), flag =
    i%2==0, note = null when i%3==0 else 'n<i>'."""
    codec = ("null", "deflate", "zstandard", "snappy")[doc_id % 4]
    recs = []
    for i in range(doc_id % 3 + 1):
        body = bytearray()
        body += zigzag_encode(doc_id * 10 + i)
        kind = f"k{i % 2}".encode()
        body += zigzag_encode(len(kind)) + kind
        body += struct.pack("<d", (doc_id * 2 + i) * 0.5)
        body += b"\x01" if i % 2 == 0 else b"\x00"
        if i % 3 == 0:
            body += zigzag_encode(0)  # union branch 0: null
        else:
            note = f"n{i}".encode()
            body += zigzag_encode(1) + zigzag_encode(len(note)) + note
        recs.append(bytes(body))
    sync = bytes((doc_id * 7 + k * 13) % 256 for k in range(16))
    return build_avro_container(_SYNTH_SCHEMA, recs, sync, codec)


def build_avro_container(
    schema: bytes,
    recs: list[bytes],
    sync: bytes,
    codec: str = "null",
    block_records: int = 2,
) -> bytes:
    """Assemble a spec-correct object container from pre-encoded record
    bodies: metadata map (avro.schema + avro.codec), 16-byte sync
    marker, records split into blocks of ``block_records`` with the
    codec applied per block. The shared framing path for the synth
    fixture AND the Iceberg manifest builders (operators/iceberg.py)."""
    out = bytearray(_MAGIC)
    meta = [
        (b"avro.schema", schema),
        (b"avro.codec", codec.encode()),
    ]
    out += zigzag_encode(len(meta))
    for k, v in meta:
        out += zigzag_encode(len(k)) + k
        out += zigzag_encode(len(v)) + v
    out += zigzag_encode(0)
    out += sync
    for b0 in range(0, len(recs), block_records):
        chunk = recs[b0 : b0 + block_records]
        blob = b"".join(chunk)
        if codec == "deflate":
            c = zlib.compressobj(9, zlib.DEFLATED, -15)
            blob = c.compress(blob) + c.flush()
        elif codec == "zstandard":
            blob = zstd_compress(blob)
        elif codec == "snappy":
            crc = struct.pack(">I", zlib.crc32(blob) & 0xFFFFFFFF)
            blob = snappy_compress(blob) + crc
        out += zigzag_encode(len(chunk))
        out += zigzag_encode(len(blob))
        out += blob
        out += sync
    return bytes(out)


def synth_avro_media(documents: DataFrame) -> DataFrame:
    """(media_id, payload) of deterministic Avro containers."""
    return documents.select(
        F.col("doc_id").alias("media_id"),
        synth_bytes(synth_avro_bytes, "doc_id").alias("payload"),
    )


_LOGICAL_SCHEMA = json.dumps(
    {
        "type": "record",
        "name": "LogEvent",
        "fields": [
            {
                "name": "ts",
                "type": {"type": "long", "logicalType": "timestamp-micros"},
            },
            {"name": "day", "type": {"type": "int", "logicalType": "date"}},
            {
                "name": "amount",
                "type": {
                    "type": "bytes",
                    "logicalType": "decimal",
                    "precision": 18,
                    "scale": 2,
                },
            },
            {
                "name": "tod",
                "type": {"type": "int", "logicalType": "time-millis"},
            },
            {
                "name": "rid",
                "type": {"type": "string", "logicalType": "uuid"},
            },
            {
                "name": "raw",
                "type": {"type": "long", "logicalType": "custom-unknown"},
            },
        ],
    }
).encode()


def _min_signed_bytes(n: int) -> bytes:
    """Minimal two's-complement big-endian encoding (the spec's decimal
    unscaled representation)."""
    return n.to_bytes((n.bit_length() + 8) // 8, "big", signed=True)


def synth_avro_logical_bytes(doc_id: int) -> bytes:
    """Deterministic container exercising every supported logical type
    plus an UNKNOWN annotation (must fall back to raw long — spec
    §Logical Types). doc_id%3+1 records; record i:
    ts = (doc*86400 + i*3600 + doc%997) s as timestamp-micros,
    day = (doc*7+i) % 20000, amount = unscaled doc*37+i*11 at scale 2,
    tod = (doc*61+i) % 86400000 ms, rid = a fixed-shape uuid string,
    raw = doc*3+i under logicalType custom-unknown. Codec rotates %4
    like the base fixture."""
    codec = ("null", "deflate", "zstandard", "snappy")[doc_id % 4]
    recs = []
    for i in range(doc_id % 3 + 1):
        body = bytearray()
        body += zigzag_encode(
            (doc_id * 86_400 + i * 3_600 + doc_id % 997) * 1_000_000
        )
        body += zigzag_encode((doc_id * 7 + i) % 20_000)
        dec = _min_signed_bytes(doc_id * 37 + i * 11)
        body += zigzag_encode(len(dec)) + dec
        body += zigzag_encode((doc_id * 61 + i) % 86_400_000)
        rid = f"00000000-0000-4000-8000-{doc_id * 10 + i:012d}".encode()
        body += zigzag_encode(len(rid)) + rid
        body += zigzag_encode(doc_id * 3 + i)
        recs.append(bytes(body))
    sync = bytes((doc_id * 5 + k * 19) % 256 for k in range(16))
    return build_avro_container(_LOGICAL_SCHEMA, recs, sync, codec)


def synth_avro_logical_media(documents: DataFrame) -> DataFrame:
    """(media_id, payload) of logical-type containers."""
    return documents.select(
        F.col("doc_id").alias("media_id"),
        synth_bytes(synth_avro_logical_bytes, "doc_id").alias("payload"),
    )


_COLLECTIONS_SCHEMA = json.dumps(
    {
        "type": "record",
        "name": "Doc",
        "fields": [
            {"name": "n", "type": "long"},
            {"name": "tags", "type": {"type": "array", "items": "string"}},
            {"name": "attrs", "type": {"type": "map", "values": "long"}},
            {
                "name": "events",
                "type": {
                    "type": "array",
                    "items": {
                        "type": "record",
                        "name": "ev",
                        "fields": [
                            {"name": "k", "type": "string"},
                            {"name": "v", "type": "long"},
                        ],
                    },
                },
            },
            {
                "name": "state",
                "type": {
                    "type": "enum",
                    "name": "State",
                    "symbols": ["NEW", "OPEN", "DONE"],
                },
            },
            {
                "name": "digest",
                "type": {"type": "fixed", "name": "D4", "size": 4},
            },
            {"name": "extra", "type": ["null", "long", "string"]},
        ],
    }
).encode()


def _enc_str_coll(x: str) -> bytes:
    b = x.encode()
    return zigzag_encode(len(b)) + b


def synth_avro_collections_bytes(doc_id: int) -> bytes:
    """Deterministic container exercising array/map block framing:
    doc_id%3+1 records; record i carries n = doc*10+i, tags =
    ['t0'..'t<i%3>'] written as TWO blocks when longer than one (the
    second in the spec's NEGATIVE-count-with-byte-size form, so the
    skip-hint framing is driver-certified), attrs = {a: doc+i,
    b: 2*doc+i}, events = two (k, v) records, state = enum symbol
    (doc+i)%3 of [NEW, OPEN, DONE], digest = fixed(4) bytes
    (doc+i+k)%256, extra = 3-way union [null, long, string] taking
    branch (doc+i)%3 (null / doc*5+i / 's<i>'). Codec rotates %4."""
    codec = ("null", "deflate", "zstandard", "snappy")[doc_id % 4]
    recs = []
    for i in range(doc_id % 3 + 1):
        body = bytearray()
        body += zigzag_encode(doc_id * 10 + i)
        tags = [f"t{j}" for j in range(i % 3 + 1)]
        if len(tags) == 1:
            body += zigzag_encode(1) + _enc_str_coll(tags[0])
        else:
            body += zigzag_encode(1) + _enc_str_coll(tags[0])
            rest = b"".join(_enc_str_coll(t) for t in tags[1:])
            body += zigzag_encode(-(len(tags) - 1))
            body += zigzag_encode(len(rest)) + rest
        body += zigzag_encode(0)
        body += zigzag_encode(2)
        body += _enc_str_coll("a") + zigzag_encode(doc_id + i)
        body += _enc_str_coll("b") + zigzag_encode(2 * doc_id + i)
        body += zigzag_encode(0)
        body += zigzag_encode(2)
        for j in range(2):
            body += _enc_str_coll(f"k{j}") + zigzag_encode(doc_id + i + j)
        body += zigzag_encode(0)
        body += zigzag_encode((doc_id + i) % 3)  # enum index
        body += bytes(
            (doc_id + i + k) % 256 for k in range(4)
        )  # fixed(4)
        ub = (doc_id + i) % 3  # 3-way union branch
        body += zigzag_encode(ub)
        if ub == 1:
            body += zigzag_encode(doc_id * 5 + i)
        elif ub == 2:
            body += _enc_str_coll(f"s{i}")
        recs.append(bytes(body))
    sync = bytes((doc_id * 3 + k * 23) % 256 for k in range(16))
    return build_avro_container(_COLLECTIONS_SCHEMA, recs, sync, codec)


def synth_avro_collections_media(documents: DataFrame) -> DataFrame:
    """(media_id, payload) of array/map containers."""
    return documents.select(
        F.col("doc_id").alias("media_id"),
        synth_bytes(synth_avro_collections_bytes, "doc_id").alias("payload"),
    )


def avro_resolved_records(
    media: DataFrame, reader_schema: bytes
) -> DataFrame:
    """(media_id, payload) -> the generic long format, decoded under the
    spec's schema-resolution rules against ``reader_schema`` (see
    avro_container_records). The reader schema is a plan-time constant
    captured by the closure — at 100 TB it ships once per task inside
    the serialized function, and the resolution PLAN is built once per
    container (schema parse cost is amortized over the container's
    records, exactly like the plain walker). Corrupt or irreconcilable
    containers quarantine as ONE parse_error row."""

    def _walk(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for batch in batches:
            rows = []
            for media_id, payload in zip(batch["media_id"], batch["payload"]):
                mid = int(media_id)
                try:
                    for ri, fld, t, v in avro_container_records(
                        bytes(payload), reader_schema=reader_schema
                    ):
                        rows.append((mid, ri, fld, t, v, None))
                except ValueError as e:
                    rows.append((mid, None, None, None, None, str(e)))
            yield pd.DataFrame(
                rows, columns=[f.name for f in AVRO_RECORDS_SCHEMA.fields]
            )

    return media.select("media_id", "payload").mapInPandas(
        _walk, AVRO_RECORDS_SCHEMA
    )


# --- evolution fixture: two writer generations, one reader ----------

_EVOLUTION_WRITER_V1 = json.dumps(
    {
        "type": "record",
        "name": "EventV1",
        "fields": [
            {"name": "id", "type": "int"},
            {"name": "temp", "type": "float"},
            {"name": "name", "type": "string"},
            {"name": "legacy", "type": "string"},
            {
                "name": "state",
                "type": {"type": "enum", "name": "S1", "symbols": ["A", "B"]},
            },
        ],
    }
).encode()

_EVOLUTION_WRITER_V2 = json.dumps(
    {
        "type": "record",
        "name": "EventV2",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "temp", "type": "double"},
            {"name": "title", "type": "string"},
            {
                "name": "state",
                "type": {
                    "type": "enum",
                    "name": "S2",
                    "symbols": ["A", "B", "C", "D"],
                },
            },
            {"name": "note", "type": ["null", "string"]},
        ],
    }
).encode()

#: The reader every downstream consumer upgrades to: int->long and
#: float->double promotions, 'name' renamed to 'title' via a reader
#: alias, writer-only 'legacy' dropped, enum symbol 'D' (new in v2,
#: unknown to the reader) -> reader default 'C', 'note' defaulting to
#: null for v1 data, and a brand-new 'added' field defaulting to 7.
EVOLUTION_READER_SCHEMA = json.dumps(
    {
        "type": "record",
        "name": "Event",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "temp", "type": "double"},
            {"name": "title", "type": "string", "aliases": ["name"]},
            {
                "name": "state",
                "type": {
                    "type": "enum",
                    "name": "S",
                    "symbols": ["A", "B", "C"],
                },
                "default": "C",
            },
            {"name": "note", "type": ["null", "string"], "default": None},
            {"name": "added", "type": "long", "default": 7},
        ],
    }
).encode()
# NOTE: the enum reader-default lives on the enum TYPE per spec 1.9+;
# this fixture also sets the field-level default for the missing-field
# case symmetry, but only the type-level one drives symbol fallback.
_READER_STATE_DEFAULT_FIX = json.loads(EVOLUTION_READER_SCHEMA)
_READER_STATE_DEFAULT_FIX["fields"][3]["type"]["default"] = "C"
del _READER_STATE_DEFAULT_FIX["fields"][3]["default"]
EVOLUTION_READER_SCHEMA = json.dumps(_READER_STATE_DEFAULT_FIX).encode()


def synth_avro_evolution_bytes(doc_id: int) -> bytes:
    """Deterministic container pair for schema resolution: EVEN docs
    write generation v1 (id int, temp float, name string, legacy
    string, state enum{A,B}), ODD docs v2 (id long, temp double, title
    string, state enum{A,B,C,D}, note null|string). doc_id%3+1 records;
    record i: id = doc*10+i, temp = (doc+i)*0.25 (exactly f4-
    representable, so the float->double promotion renders identically),
    title/name = 't<i>', legacy = 'x<i>' (v1 only, reader-skipped),
    state = symbols[(doc+i)%2] for v1 / [(doc+i)%4] for v2 (index 3 =
    'D' resolves to the reader default 'C'), note (v2 only) = null when
    i%2==0 else 'n<i>'. Codec rotates %4 like the sibling fixtures."""
    codec = ("null", "deflate", "zstandard", "snappy")[doc_id % 4]
    v1 = doc_id % 2 == 0
    recs = []
    for i in range(doc_id % 3 + 1):
        body = bytearray()
        body += zigzag_encode(doc_id * 10 + i)
        temp = (doc_id + i) * 0.25
        body += struct.pack("<f" if v1 else "<d", temp)
        title = f"t{i}".encode()
        body += zigzag_encode(len(title)) + title
        if v1:
            legacy = f"x{i}".encode()
            body += zigzag_encode(len(legacy)) + legacy
            body += zigzag_encode((doc_id + i) % 2)
        else:
            body += zigzag_encode((doc_id + i) % 4)
            if i % 2 == 0:
                body += zigzag_encode(0)  # note branch 0: null
            else:
                note = f"n{i}".encode()
                body += zigzag_encode(1) + zigzag_encode(len(note)) + note
        recs.append(bytes(body))
    sync = bytes((doc_id * 11 + k * 17) % 256 for k in range(16))
    return build_avro_container(
        _EVOLUTION_WRITER_V1 if v1 else _EVOLUTION_WRITER_V2,
        recs,
        sync,
        codec,
    )


def synth_avro_evolution_media(documents: DataFrame) -> DataFrame:
    """(media_id, payload) of mixed-generation Avro containers."""
    return documents.select(
        F.col("doc_id").alias("media_id"),
        synth_bytes(synth_avro_evolution_bytes, "doc_id").alias("payload"),
    )
