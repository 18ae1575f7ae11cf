"""Avro object-container ingestion (operators/avro): spec-arithmetic
byte laws (no Avro library exists in this environment — the spec
examples ARE the oracle), container walk, quarantine."""

from __future__ import annotations

import pytest

from user_behavior_spark_pipeline_spark.operators.avro import (
    avro_container_records,
    avro_records,
    synth_avro_bytes,
    synth_avro_media,
    zigzag_decode,
    zigzag_encode,
)


def test_zigzag_spec_examples_and_roundtrip():
    """The spec's own table: 0->00, -1->01, 1->02, -2->03, 2->04,
    -64->7f, 64->80 01."""
    import random

    for n, z in (
        (0, b"\x00"),
        (-1, b"\x01"),
        (1, b"\x02"),
        (-2, b"\x03"),
        (2, b"\x04"),
        (-64, b"\x7f"),
        (64, b"\x80\x01"),
    ):
        assert zigzag_encode(n) == z
        assert zigzag_decode(z, 0) == (n, len(z))
    rng = random.Random(3)
    for _ in range(500):
        n = rng.randrange(-(2**62), 2**62)
        assert zigzag_decode(zigzag_encode(n), 0)[0] == n
    with pytest.raises(ValueError, match="truncated"):
        zigzag_decode(b"\x80\x80", 0)
    with pytest.raises(ValueError, match="overlong"):
        zigzag_decode(b"\x80" * 11 + b"\x01", 0)


def test_hand_built_container_from_spec_arithmetic():
    """A container assembled field by field from the spec (not via the
    synth builder): one record {a: long 3, b: string 'hi'}, null codec."""
    schema = (
        b'{"type":"record","name":"T","fields":'
        b'[{"name":"a","type":"long"},{"name":"b","type":"string"}]}'
    )
    sync = bytes(range(16))
    buf = bytearray(b"Obj\x01")
    buf += zigzag_encode(1)  # one metadata pair
    buf += zigzag_encode(11) + b"avro.schema"
    buf += zigzag_encode(len(schema)) + schema
    buf += zigzag_encode(0)
    buf += sync
    body = zigzag_encode(3) + zigzag_encode(2) + b"hi"
    buf += zigzag_encode(1) + zigzag_encode(len(body)) + body + sync
    rows = list(avro_container_records(bytes(buf)))
    assert rows == [(0, "a", "long", "3"), (0, "b", "string", "hi")]


def test_synth_container_closed_form():
    for did in (0, 1, 2, 3, 4, 5, 11):
        rows = list(avro_container_records(synth_avro_bytes(did)))
        nrec = did % 3 + 1
        assert len(rows) == nrec * 5
        got = {(ri, fld): (t, v) for ri, fld, t, v in rows}
        for i in range(nrec):
            assert got[(i, "id")] == ("long", str(did * 10 + i))
            assert got[(i, "kind")] == ("string", f"k{i % 2}")
            assert got[(i, "score")] == ("double", repr((did * 2 + i) * 0.5))
            assert got[(i, "flag")] == (
                "boolean",
                "true" if i % 2 == 0 else "false",
            )
            if i % 3 == 0:
                assert got[(i, "note")] == ("null", None)
            else:
                assert got[(i, "note")] == ("string", f"n{i}")


def test_avro_corruption_quarantine_shapes():
    # torn sync marker
    b = bytearray(synth_avro_bytes(2))
    b[-1] ^= 0xFF
    with pytest.raises(ValueError, match="sync marker"):
        list(avro_container_records(bytes(b)))
    # bit flip inside a deflate block (doc 1: codec rotation %4 -> deflate)
    b = bytearray(synth_avro_bytes(1))
    b[len(b) - 20] ^= 0xFF
    with pytest.raises(ValueError, match="deflate|sync|varint|overruns"):
        list(avro_container_records(bytes(b)))
    # bit flip inside a zstd block (doc 2 -> zstandard)
    b = bytearray(synth_avro_bytes(2))
    b[len(b) - 20] ^= 0xFF
    # zstd frames carry no content checksum, so the flip may decode to
    # wrong bytes and surface structurally in the record walk instead —
    # either way it is a ValueError quarantine, never an escape
    with pytest.raises(ValueError, match="Avro|zstd"):
        list(avro_container_records(bytes(b)))
    # snappy CRC catches a flip that snappy itself decodes (doc 3 -> snappy)
    b = bytearray(synth_avro_bytes(3))
    b[len(b) - 18] ^= 0xFF
    with pytest.raises(ValueError, match="CRC|Avro|snappy"):
        list(avro_container_records(bytes(b)))
    # unsupported codec rejects loudly
    raw = synth_avro_bytes(0).replace(b"\x08null", b"\x08xxxx")
    with pytest.raises(ValueError, match="codec"):
        list(avro_container_records(raw))
    # unknown type names are the only remaining rejection (the r12
    # walker covers the spec's whole type system)
    nested = (
        b'{"type":"record","name":"T","fields":'
        b'[{"name":"a","type":"banana"}]}'
    )
    good = synth_avro_bytes(0)
    with pytest.raises(ValueError, match="bad magic|not an Avro"):
        list(avro_container_records(b"NOPE" + good[4:]))
    with pytest.raises(ValueError, match="out of scope"):
        from user_behavior_spark_pipeline_spark.operators.avro import (
            _parse_schema,
        )

        _parse_schema(nested)
    # trailing bytes in a block are structural corruption
    schema = (
        b'{"type":"record","name":"T","fields":'
        b'[{"name":"a","type":"long"}]}'
    )
    sync = bytes(range(16))
    buf = bytearray(b"Obj\x01")
    buf += zigzag_encode(1)
    buf += zigzag_encode(11) + b"avro.schema"
    buf += zigzag_encode(len(schema)) + schema
    buf += zigzag_encode(0) + sync
    body = zigzag_encode(3) + b"\x99"  # one long + junk
    buf += zigzag_encode(1) + zigzag_encode(len(body)) + body + sync
    with pytest.raises(ValueError, match="trailing"):
        list(avro_container_records(bytes(buf)))


def test_avro_records_operator_and_quarantine(spark):
    docs = spark.createDataFrame([(i,) for i in range(5)], "doc_id long")
    rows = avro_records(synth_avro_media(docs)).collect()
    good = [r for r in rows if r.parse_error is None]
    assert len(good) == sum((d % 3 + 1) * 5 for d in range(5))
    broken = spark.createDataFrame(
        [(9, b"Obj\x01\x00" + bytes(16))], "media_id long, payload binary"
    )
    (r,) = avro_records(broken).collect()
    assert r.parse_error is not None


def test_avro_logical_types_render_canonically():
    """Logical annotations (r12): every renderer law on a hand-built
    container, including a NEGATIVE two's-complement decimal (the
    fixture rotation only emits positives) and the unknown-annotation
    fallback."""
    import json

    from user_behavior_spark_pipeline_spark.operators.avro import (
        _min_signed_bytes,
        build_avro_container,
        synth_avro_logical_bytes,
        zigzag_encode,
    )

    schema = json.dumps(
        {
            "type": "record",
            "name": "T",
            "fields": [
                {
                    "name": "neg",
                    "type": {
                        "type": "bytes",
                        "logicalType": "decimal",
                        "precision": 9,
                        "scale": 3,
                    },
                },
                {
                    "name": "mystery",
                    "type": {"type": "long", "logicalType": "not-a-thing"},
                },
            ],
        }
    ).encode()
    dec = _min_signed_bytes(-7)
    body = zigzag_encode(len(dec)) + dec + zigzag_encode(42)
    buf = build_avro_container(schema, [body], bytes(range(16)))
    rows = list(avro_container_records(buf))
    assert rows == [
        (0, "neg", "decimal", "-0.007"),
        (0, "mystery", "long", "42"),
    ]
    # minimal two's complement: -7 is ONE byte, 128 needs two
    assert _min_signed_bytes(-7) == b"\xf9"
    assert _min_signed_bytes(128) == b"\x00\x80"
    # the fixture parses under every codec slot
    for d in range(8):
        rows = list(avro_container_records(synth_avro_logical_bytes(d)))
        assert len(rows) == 6 * (d % 3 + 1), d
        got = {(ri, f): (t, v) for ri, f, t, v in rows}
        assert got[(0, "raw")] == ("long", str(d * 3))


def test_avro_arrays_maps_block_framing():
    """Collections (r12): multi-block arrays (incl. the spec's
    NEGATIVE-count-with-byte-size form), maps, array-of-record items
    and empty arrays, on a hand-built container; plus the hostile
    count guard."""
    import json

    from user_behavior_spark_pipeline_spark.operators.avro import (
        build_avro_container,
        synth_avro_collections_bytes,
        zigzag_encode,
    )

    schema = json.dumps(
        {
            "type": "record",
            "name": "T",
            "fields": [
                {"name": "tags", "type": {"type": "array", "items": "string"}},
                {"name": "attrs", "type": {"type": "map", "values": "long"}},
                {"name": "empty", "type": {"type": "array", "items": "long"}},
            ],
        }
    ).encode()

    def s(x):
        b = x.encode()
        return zigzag_encode(len(b)) + b

    body = bytearray()
    body += zigzag_encode(1) + s("t0")          # block 1: one item
    rest = s("t1") + s("t2")
    body += zigzag_encode(-2)                    # block 2: negative count
    body += zigzag_encode(len(rest)) + rest      # ... with byte size
    body += zigzag_encode(0)                     # array terminator
    body += zigzag_encode(2) + s("a") + zigzag_encode(10)
    body += s("b") + zigzag_encode(20) + zigzag_encode(0)
    body += zigzag_encode(0)                     # empty array
    buf = build_avro_container(schema, [bytes(body)], bytes(range(16)))
    rows = list(avro_container_records(buf))
    assert rows == [
        (0, "tags[0]", "string", "t0"),
        (0, "tags[1]", "string", "t1"),
        (0, "tags[2]", "string", "t2"),
        (0, "attrs[a]", "long", "10"),
        (0, "attrs[b]", "long", "20"),
    ]
    # hostile count: a million-item claim over 2 remaining bytes
    evil = zigzag_encode(1_000_000) + b"\x00\x00"
    buf = build_avro_container(
        json.dumps(
            {
                "type": "record",
                "name": "T",
                "fields": [
                    {"name": "a", "type": {"type": "array", "items": "long"}}
                ],
            }
        ).encode(),
        [evil],
        bytes(16),
    )
    with pytest.raises(ValueError, match="overruns"):
        list(avro_container_records(buf))
    # driver fixture parses under every codec slot with the closed-form
    # cell count: 1 + (i%3+1) + 2 + 4 + enum + fixed + union per record
    for d in range(8):
        rows = list(
            avro_container_records(synth_avro_collections_bytes(d))
        )
        want = sum(10 + i % 3 + 1 for i in range(d % 3 + 1))
        assert len(rows) == want, d
    # enum index out of range quarantines
    import json as _json

    from user_behavior_spark_pipeline_spark.operators.avro import (
        build_avro_container as _bac,
        zigzag_encode as _zz,
    )

    eschema = _json.dumps(
        {
            "type": "record",
            "name": "T",
            "fields": [
                {
                    "name": "e",
                    "type": {
                        "type": "enum",
                        "name": "E",
                        "symbols": ["A", "B"],
                    },
                }
            ],
        }
    ).encode()
    ebuf = _bac(eschema, [_zz(7)], bytes(16))
    with pytest.raises(ValueError, match="enum index"):
        list(avro_container_records(ebuf))
    good = _bac(eschema, [_zz(1)], bytes(16))
    assert list(avro_container_records(good)) == [(0, "e", "enum", "B")]


def test_nullable_complex_union_decodes_not_crashes():
    # ADVICE r12 (high): ["null", <complex>] — the most common
    # nullable-complex idiom — used to TypeError ('unhashable type:
    # dict') in _parse_type's primitive-membership probe, escaping the
    # ValueError-only quarantine. It must fall through to the general
    # union path and DECODE.
    import json as _json

    from user_behavior_spark_pipeline_spark.operators.avro import (
        build_avro_container,
    )

    schema = _json.dumps(
        {
            "type": "record",
            "name": "T",
            "fields": [
                {
                    "name": "sub",
                    "type": [
                        "null",
                        {
                            "type": "record",
                            "name": "Sub",
                            "fields": [{"name": "a", "type": "long"}],
                        },
                    ],
                }
            ],
        }
    ).encode()
    recs = [
        zigzag_encode(0),  # branch 0: null
        zigzag_encode(1) + zigzag_encode(42),  # branch 1: Sub{a=42}
    ]
    buf = build_avro_container(schema, recs, bytes(16))
    rows = list(avro_container_records(buf))
    assert rows == [
        (0, "sub", "null", None),
        (1, "sub.a", "long", "42"),
    ]
    # nullable array goes the same way
    schema2 = _json.dumps(
        {
            "type": "record",
            "name": "T",
            "fields": [
                {
                    "name": "xs",
                    "type": ["null", {"type": "array", "items": "int"}],
                }
            ],
        }
    ).encode()
    rec = (
        zigzag_encode(1)  # branch 1: the array
        + zigzag_encode(2)
        + zigzag_encode(5)
        + zigzag_encode(6)
        + zigzag_encode(0)
    )
    rows = list(avro_container_records(build_avro_container(schema2, [rec], bytes(16))))
    assert rows == [(0, "xs[0]", "int", "5"), (0, "xs[1]", "int", "6")]


def test_hostile_logical_values_quarantine_as_value_error():
    # ADVICE r12 (medium): out-of-range temporal values and non-int
    # decimal scale must raise ValueError (-> quarantine row), never
    # OverflowError/TypeError (-> dead task).
    import json as _json

    from user_behavior_spark_pipeline_spark.operators.avro import (
        _parse_schema,
        _render_logical,
        build_avro_container,
    )

    for logical, prim in (
        ("timestamp-micros", "long"),
        ("timestamp-millis", "long"),
        ("date", "int"),
    ):
        with pytest.raises(ValueError, match="out of range"):
            _render_logical(str(10**18 * 400), prim, logical, 0)
    # hostile decimal scale shapes reject at schema-parse time
    for bad_scale in ('"9"', "-1", "null", "true"):
        schema = (
            b'{"type":"record","name":"T","fields":[{"name":"d","type":'
            b'{"type":"bytes","logicalType":"decimal","precision":9,'
            b'"scale":' + bad_scale.encode() + b"}}]}"
        )
        with pytest.raises(ValueError, match="scale"):
            _parse_schema(schema)
    # end-to-end: a container with an out-of-range timestamp becomes ONE
    # parse_error row via the walker contract, not a crash
    schema = _json.dumps(
        {
            "type": "record",
            "name": "T",
            "fields": [
                {
                    "name": "ts",
                    "type": {
                        "type": "long",
                        "logicalType": "timestamp-micros",
                    },
                }
            ],
        }
    ).encode()
    buf = build_avro_container(
        schema, [zigzag_encode(10**18 * 400)], bytes(16)
    )
    with pytest.raises(ValueError, match="out of range"):
        list(avro_container_records(buf))


def test_schema_resolution_laws():
    """Spec §Schema Resolution: promotions, alias match, skip,
    defaults, enum fallback — the unit laws under the x_avro_evolution
    driver hash."""
    import json as _json

    from user_behavior_spark_pipeline_spark.operators.avro import (
        EVOLUTION_READER_SCHEMA,
        _promote_value,
        build_avro_container,
        synth_avro_evolution_bytes,
    )

    # promotion value laws
    assert _promote_value("5", "int", "long") == "5"
    assert _promote_value("5", "int", "double") == "5.0"
    assert _promote_value("5", "long", "float") == "5.0"
    # int->float narrows through a real float32: 2**24+1 is NOT exact
    assert _promote_value(str(2**24 + 1), "int", "float") == "16777216.0"
    assert _promote_value("abc".encode().hex(), "bytes", "string") == "abc"
    assert _promote_value("abc", "string", "bytes") == "616263"
    with pytest.raises(ValueError, match="non-UTF-8"):
        _promote_value(b"\xff\xfe".hex(), "bytes", "string")
    with pytest.raises(ValueError, match="no promotion"):
        _promote_value("1.5", "double", "float")

    # both writer generations resolve to identical reader-shaped cells
    for d in (0, 1, 2, 3, 4, 5, 6, 7):
        rows = list(
            avro_container_records(
                synth_avro_evolution_bytes(d),
                reader_schema=EVOLUTION_READER_SCHEMA,
            )
        )
        n = d % 3 + 1
        assert len(rows) == 6 * n
        per0 = [r for r in rows if r[0] == 0]
        assert [r[1] for r in per0] == [
            "id", "temp", "title", "state", "note", "added",
        ]
        assert ("0", "added", "long", "7")[1:] == per0[-1][1:]

    # reader field with no writer match and no default -> ValueError
    reader = _json.loads(EVOLUTION_READER_SCHEMA)
    reader["fields"].append({"name": "nodefault", "type": "string"})
    with pytest.raises(ValueError, match="no default"):
        list(
            avro_container_records(
                synth_avro_evolution_bytes(0),
                reader_schema=_json.dumps(reader).encode(),
            )
        )

    # irreconcilable primitive (writer string field -> reader long)
    reader = _json.loads(EVOLUTION_READER_SCHEMA)
    reader["fields"][2] = {
        "name": "title", "type": "long", "aliases": ["name"],
    }
    with pytest.raises(ValueError, match="does not resolve"):
        list(
            avro_container_records(
                synth_avro_evolution_bytes(0),
                reader_schema=_json.dumps(reader).encode(),
            )
        )

    # enum symbol unknown to a reader WITHOUT a default -> decode-time
    # ValueError (quarantine), only when that symbol actually occurs
    wschema = _json.dumps(
        {
            "type": "record",
            "name": "T",
            "fields": [
                {
                    "name": "s",
                    "type": {
                        "type": "enum", "name": "E", "symbols": ["A", "B"],
                    },
                }
            ],
        }
    ).encode()
    rschema = _json.dumps(
        {
            "type": "record",
            "name": "T",
            "fields": [
                {
                    "name": "s",
                    "type": {
                        "type": "enum", "name": "E", "symbols": ["A"],
                    },
                }
            ],
        }
    ).encode()
    ok = build_avro_container(wschema, [zigzag_encode(0)], bytes(16))
    assert list(
        avro_container_records(ok, reader_schema=rschema)
    ) == [(0, "s", "enum", "A")]
    bad = build_avro_container(wschema, [zigzag_encode(1)], bytes(16))
    with pytest.raises(ValueError, match="unknown to reader"):
        list(avro_container_records(bad, reader_schema=rschema))

    # writer union branch irreconcilable with reader: errors only when
    # CHOSEN (spec: resolution of the other branches still works)
    wschema = _json.dumps(
        {
            "type": "record",
            "name": "T",
            "fields": [{"name": "u", "type": ["long", "string"]}],
        }
    ).encode()
    rschema = _json.dumps(
        {
            "type": "record",
            "name": "T",
            "fields": [{"name": "u", "type": "long"}],
        }
    ).encode()
    ok = build_avro_container(
        wschema, [zigzag_encode(0) + zigzag_encode(9)], bytes(16)
    )
    assert list(
        avro_container_records(ok, reader_schema=rschema)
    ) == [(0, "u", "long", "9")]
    bad = build_avro_container(
        wschema,
        [zigzag_encode(1) + zigzag_encode(2) + b"hi"],
        bytes(16),
    )
    with pytest.raises(ValueError, match="irreconcilable"):
        list(avro_container_records(bad, reader_schema=rschema))


def test_avro_resolved_records_operator_quarantine(spark):
    from user_behavior_spark_pipeline_spark.operators.avro import (
        EVOLUTION_READER_SCHEMA,
        avro_resolved_records,
        synth_avro_evolution_media,
    )

    docs = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    rows = avro_resolved_records(
        synth_avro_evolution_media(docs), EVOLUTION_READER_SCHEMA
    ).collect()
    assert all(r.parse_error is None for r in rows)
    assert len(rows) == sum(6 * (d % 3 + 1) for d in range(6))
    broken = spark.createDataFrame(
        [(9, b"Obj\x01\x00" + bytes(16))], "media_id long, payload binary"
    )
    (r,) = avro_resolved_records(broken, EVOLUTION_READER_SCHEMA).collect()
    assert r.parse_error is not None


def test_union_resolution_prefers_exact_match():
    """ADVICE r13: writer non-union vs reader union resolves to the
    reader branch whose type EXACTLY matches the writer's before any
    promotion branch (Java ResolvingGrammarGenerator.bestBranch) —
    writer int against reader ["double","int"] decodes as int."""
    import json as _json

    from user_behavior_spark_pipeline_spark.operators.avro import (
        build_avro_container,
    )

    w = _json.dumps(
        {
            "type": "record",
            "name": "T",
            "fields": [{"name": "x", "type": "int"}],
        }
    ).encode()

    def _reader(union):
        return _json.dumps(
            {
                "type": "record",
                "name": "T",
                "fields": [{"name": "x", "type": union}],
            }
        ).encode()

    body = zigzag_encode(5)
    c = build_avro_container(w, [body], bytes(16))
    # exact branch second: must still win over the double promotion
    rows = list(
        avro_container_records(c, reader_schema=_reader(["double", "int"]))
    )
    assert rows == [(0, "x", "int", "5")]
    # no exact branch: first resolvable promotion applies (long wins
    # over double by union order)
    rows = list(
        avro_container_records(c, reader_schema=_reader(["double", "long"]))
    )
    assert rows == [(0, "x", "double", "5.0")]
    rows = list(
        avro_container_records(c, reader_schema=_reader(["long", "double"]))
    )
    assert rows == [(0, "x", "long", "5")]
    # exact branch present but nested resolution fails is impossible
    # for primitives; for named complex types the exact pass matches by
    # type name: writer enum vs reader [string-promo?-no, enum] -> enum
    we = _json.dumps(
        {
            "type": "record",
            "name": "T",
            "fields": [
                {
                    "name": "e",
                    "type": {
                        "type": "enum", "name": "E", "symbols": ["A", "B"],
                    },
                }
            ],
        }
    ).encode()
    re_ = _json.dumps(
        {
            "type": "record",
            "name": "T",
            "fields": [
                {
                    "name": "e",
                    "type": [
                        "string",
                        {"type": "enum", "name": "E", "symbols": ["A", "B"]},
                    ],
                }
            ],
        }
    ).encode()
    ce = build_avro_container(we, [zigzag_encode(1)], bytes(16))
    assert list(avro_container_records(ce, reader_schema=re_)) == [
        (0, "e", "enum", "B")
    ]


def test_union_exact_match_uses_full_name_for_named_types():
    """review r14: a reader union of two same-kind named types must
    resolve the writer against the branch with the SAME FULL NAME
    (Java bestBranch), not the first structurally-resolvable one."""
    import json as _json

    from user_behavior_spark_pipeline_spark.operators.avro import (
        build_avro_container,
    )

    w = _json.dumps(
        {
            "type": "record",
            "name": "T",
            "fields": [
                {
                    "name": "e",
                    "type": {
                        "type": "enum", "name": "E2", "symbols": ["A", "B"],
                    },
                }
            ],
        }
    ).encode()
    r = _json.dumps(
        {
            "type": "record",
            "name": "T",
            "fields": [
                {
                    "name": "e",
                    "type": [
                        {"type": "enum", "name": "E1",
                         "symbols": ["X", "Y"]},
                        {"type": "enum", "name": "E2",
                         "symbols": ["A", "B"]},
                    ],
                }
            ],
        }
    ).encode()
    c = build_avro_container(w, [zigzag_encode(1)], bytes(16))
    # name-matched branch E2 wins: writer symbol index 1 = 'B'
    assert list(avro_container_records(c, reader_schema=r)) == [
        (0, "e", "enum", "B")
    ]


def test_union_exact_match_compares_namespaced_full_names():
    """review r14: union exact-match must compare FULL names — two
    same-kind branches with equal short names in different namespaces
    resolve to the namespace-equal one, and an inline-fullname writer
    matches a name+namespace reader branch."""
    import json as _json

    from user_behavior_spark_pipeline_spark.operators.avro import (
        build_avro_container,
    )

    def rec(enum_schema):
        return _json.dumps(
            {
                "type": "record",
                "name": "T",
                "fields": [{"name": "e", "type": enum_schema}],
            }
        ).encode()

    reader = rec(
        [
            {"type": "enum", "name": "E", "namespace": "ns1",
             "symbols": ["X", "Y"]},
            {"type": "enum", "name": "E", "namespace": "ns2",
             "symbols": ["A", "B"]},
        ]
    )
    # writer declares ns2.E via name+namespace: must pick branch 2
    w = rec({"type": "enum", "name": "E", "namespace": "ns2",
             "symbols": ["A", "B"]})
    c = build_avro_container(w, [zigzag_encode(1)], bytes(16))
    assert list(avro_container_records(c, reader_schema=reader)) == [
        (0, "e", "enum", "B")
    ]
    # writer declares the same type via an inline dotted fullname
    w = rec({"type": "enum", "name": "ns2.E", "symbols": ["A", "B"]})
    c = build_avro_container(w, [zigzag_encode(0)], bytes(16))
    assert list(avro_container_records(c, reader_schema=reader)) == [
        (0, "e", "enum", "A")
    ]


def test_union_inherited_namespace_writer_matches_short_name():
    """round-15 review: a writer record/enum with an INHERITED (absent)
    namespace must still exact-match the reader union branch sharing
    its short name — requiring fullname equality shunted it into the
    structural-fallback pass, which takes the first compatible branch
    of ANY name (here the wrong enum)."""
    import json as _json

    from user_behavior_spark_pipeline_spark.operators.avro import (
        build_avro_container,
    )

    def rec(enum_schema):
        return _json.dumps(
            {
                "type": "record",
                "name": "T",
                "namespace": "a.b",
                "fields": [{"name": "e", "type": enum_schema}],
            }
        ).encode()

    # reader union: two structurally-compatible enums, explicit
    # namespaces, DIFFERENT short names — first branch would win a
    # structural fallback
    reader = rec(
        [
            {"type": "enum", "name": "W", "namespace": "a.b",
             "symbols": ["A", "B"]},
            {"type": "enum", "name": "E", "namespace": "a.b",
             "symbols": ["A", "B"]},
        ]
    )
    # writer's enum E inherits namespace a.b (no explicit key): must
    # pick the short-name-equal branch E, not the first branch W
    w = rec({"type": "enum", "name": "E", "symbols": ["A", "B"]})
    c = build_avro_container(w, [zigzag_encode(1)], bytes(16))
    assert list(avro_container_records(c, reader_schema=reader)) == [
        (0, "e", "enum", "B")
    ]
