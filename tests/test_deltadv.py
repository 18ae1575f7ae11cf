"""Delta deletion vectors: roaring (de)serialization against
hand-assembled spec bytes, Z85, sidecar framing, and the
merge-on-read replay traps (supersession, decoy offset, quarantine)."""

from __future__ import annotations

import struct

import pytest

from user_behavior_spark_pipeline_spark.operators.deltadv import (
    _dv_dims,
    build_dv_file,
    delta_live_row_stats,
    dv_blob_at,
    dv_sidecar_name,
    synth_delta_dv_files,
    synth_delta_dv_logs,
)
from user_behavior_spark_pipeline_spark.operators.roaring import (
    ROARING_ARRAY_MAGIC,
    build_roaring_array,
    roaring_array_positions,
    z85_decode,
    z85_encode,
)

# ---------------------------------------------------------------------------
# Golden bytes, hand-assembled from the PUBLIC spec texts (RoaringFormatSpec
# + Delta PROTOCOL.md) with literal offsets — the anchor that the encoder
# and decoder don't just share one misreading of the layout.
# ---------------------------------------------------------------------------


def test_golden_array_containers():
    # positions {1, 3, 0x20005}: one 32-bit bitmap (array key 0), two
    # 16-bit blocks (0 -> {1,3}, 2 -> {5}), no run containers.
    golden = (
        struct.pack("<iQ", ROARING_ARRAY_MAGIC, 1)  # array header
        + struct.pack("<I", 0)  # high-32 key
        + struct.pack("<II", 12346, 2)  # no-run cookie, 2 containers
        + struct.pack("<HH", 0, 1)  # block 0, cardinality-1 = 1
        + struct.pack("<HH", 2, 0)  # block 2, cardinality-1 = 0
        # offset header: cookie+count(8) + desc(8) + offsets(8) = 24
        + struct.pack("<II", 24, 28)
        + struct.pack("<HH", 1, 3)  # array container block 0
        + struct.pack("<H", 5)  # array container block 2
    )
    pos = [1, 3, 0x20005]
    assert build_roaring_array(pos) == golden
    assert roaring_array_positions(golden) == pos


def test_golden_run_container():
    # positions 5..20 (one run of 16): run cookie with count-1 in the
    # upper 16 bits, 1-byte run flags, NO offset header (count < 4),
    # run encoded as (start, length-1).
    golden = (
        struct.pack("<iQ", ROARING_ARRAY_MAGIC, 1)
        + struct.pack("<I", 0)
        + struct.pack("<I", 12347 | (0 << 16))
        + b"\x01"  # run flag bitset: container 0 is a run
        + struct.pack("<HH", 0, 15)  # block 0, cardinality-1
        + struct.pack("<H", 1)  # 1 run
        + struct.pack("<HH", 5, 15)  # start 5, length-1 = 15
    )
    pos = list(range(5, 21))
    assert build_roaring_array(pos) == golden
    assert roaring_array_positions(golden) == pos


def test_golden_z85():
    # the ZeroMQ spec's own test vector: 0x86 4F D2 6F B5 59 F7 5B
    # encodes to "HelloWorld" (spec 32/Z85)
    raw = bytes([0x86, 0x4F, 0xD2, 0x6F, 0xB5, 0x59, 0xF7, 0x5B])
    assert z85_encode(raw) == "HelloWorld"
    assert z85_decode("HelloWorld", 8) == raw


def test_bitmap_container_and_64bit_keys():
    evens = [2 * i for i in range(4100)]  # card > 4096 -> bitmap
    high = [(3 << 32) | v for v in (7, 8, 9)]
    buf = build_roaring_array(evens + high)
    assert roaring_array_positions(buf) == evens + high
    # the bitmap container is really in there: 8 KiB bitset present
    assert len(buf) > 8192


@pytest.mark.parametrize(
    "mutate, reason",
    [
        (lambda b: b"\x00" + b[1:], "magic"),
        (lambda b: b[:-1], "needs"),
        (lambda b: b + b"\x00", "trailing"),
        # bytes 12..16 are the first bitmap's key; 16..20 its cookie
        (
            lambda b: b[:16] + struct.pack("<I", 5) + b[20:],
            "cookie",
        ),
    ],
)
def test_roaring_hostile_shapes_raise_valueerror(mutate, reason):
    buf = build_roaring_array([1, 3, 70000])
    with pytest.raises(ValueError, match=reason):
        roaring_array_positions(mutate(buf))


def test_roaring_cardinality_cap_guards_allocation():
    buf = build_roaring_array(list(range(1000)))
    with pytest.raises(ValueError, match="cap"):
        roaring_array_positions(buf, cap=10)


def test_dv_file_framing_and_crc():
    a, b = build_roaring_array([1]), build_roaring_array([2, 3])
    payload, offs = build_dv_file([a, b])
    assert payload[0] == 1  # format version byte
    assert dv_blob_at(payload, offs[0], len(a)) == a
    assert dv_blob_at(payload, offs[1], len(b)) == b
    with pytest.raises(ValueError, match="sizeInBytes"):
        dv_blob_at(payload, offs[0], len(a) + 1)
    flipped = bytearray(payload)
    flipped[offs[1] + 5] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        dv_blob_at(bytes(flipped), offs[1], len(b))
    with pytest.raises(ValueError, match="offset"):
        dv_blob_at(payload, len(payload) + 4, len(a))


def test_sidecar_name_roundtrip():
    import uuid

    u = uuid.UUID(int=0x1234567890ABCDEF1234567890ABCDEF)
    assert dv_sidecar_name("prefix" + z85_encode(u.bytes)) == (
        f"deletion_vector_{u}.bin"
    )
    with pytest.raises(ValueError, match="shorter"):
        dv_sidecar_name("abc")


# ---------------------------------------------------------------------------
# Spark-level: replay + traps
# ---------------------------------------------------------------------------


def _expected(doc_ids):
    exp = set()
    for d in doc_ids:
        n0, n1, n3, n5 = _dv_dims(d)
        exp.add((d, "part-0", (n0 + 1) // 2, n0 // 2, (n0 // 2) ** 2))
        k = n1 // 2
        exp.add(
            (d, "part-1", k, n1 - k,
             n1 * (n1 - 1) // 2 - 5 * k - k * (k - 1) // 2)
        )
        exp.add((d, "part-3", 0, n3, n3 * (n3 - 1) // 2))
        # the zero-live edges (ADVICE r13): a legal empty file and a
        # DV that deletes every row both certify n_live = 0 explicitly
        exp.add((d, "part-4", 0, 0, 0))
        exp.add((d, "part-5", n5, 0, 0))
    return exp


def test_live_row_stats_closed_form(spark):
    """Inline + sidecar DVs, all three container types (doc 2 is the
    8200-row bitmap slice), no-DV passthrough."""
    docs = spark.createDataFrame(
        [(d,) for d in (2, 7, 12)], "doc_id long"
    )
    got = {
        (r.table_id, r.path, r.dv_card, r.n_live, r.pos_sum)
        for r in delta_live_row_stats(
            synth_delta_dv_logs(docs), synth_delta_dv_files(docs)
        ).collect()
    }
    assert got == _expected((2, 7, 12))


def test_superseded_dv_must_not_apply(spark):
    """Replaying only through v2 (the multiples-of-3 DV) yields a
    DIFFERENT part-0 certificate than v3's evens DV — so the green
    closed form certifies last-add-wins supersession, not union."""
    from pyspark.sql import functions as F

    docs = spark.createDataFrame([(7,)], "doc_id long")
    logs = synth_delta_dv_logs(docs)
    thru_v2 = delta_live_row_stats(
        logs.filter(F.col("version") <= 2), synth_delta_dv_files(docs)
    )
    (row,) = [r for r in thru_v2.collect() if r.path == "part-0"]
    n0 = _dv_dims(7)[0]
    survivors = [i for i in range(n0) if i % 3 != 0]
    assert (row.dv_card, row.n_live, row.pos_sum) == (
        (n0 + 2) // 3,
        len(survivors),
        sum(survivors),
    )


def test_decoy_offset_is_load_bearing(spark):
    """Pointing part-1's descriptor at the decoy blob (offset 1) must
    change the result — the decoy deletes every row, so part-1's
    certificate becomes n_live = 0 (reported explicitly since the
    ADVICE r13 zero-live fix, not silently dropped)."""
    from pyspark.sql import functions as F

    docs = spark.createDataFrame([(7,)], "doc_id long")
    logs = synth_delta_dv_logs(docs).withColumn(
        "payload",
        F.regexp_replace("payload", '"offset": \\d+', '"offset": 1'),
    )
    n1 = _dv_dims(7)[1]
    decoy_size = len(build_roaring_array(list(range(n1))))
    logs = logs.withColumn(
        "payload",
        F.regexp_replace(
            "payload",
            '"sizeInBytes": \\d+, "cardinality": 18',
            f'"sizeInBytes": {decoy_size}, "cardinality": {n1}',
        ),
    )
    got = {
        r.path: (r.dv_card, r.n_live, r.pos_sum)
        for r in delta_live_row_stats(
            logs, synth_delta_dv_files(docs)
        ).collect()
    }
    assert got["part-1"] == (n1, 0, 0)
    # the right-offset run-range DV would have left n1 - n1//2 rows
    assert _expected((7,)) != got


def test_corrupt_sidecar_quarantines_with_sentinel(spark):
    """A flipped byte in the sidecar must surface part-1 as the -1
    sentinel triple — not kill the task, not serve the file
    un-deleted."""
    from pyspark.sql import functions as F

    docs = spark.createDataFrame([(12,)], "doc_id long")
    files = synth_delta_dv_files(docs).withColumn(
        "payload",
        F.expr(
            "concat(substring(payload, 1, 40), X'FF',"
            " substring(payload, 42))"
        ),
    )
    got = {
        (r.path, r.dv_card, r.n_live, r.pos_sum)
        for r in delta_live_row_stats(
            synth_delta_dv_logs(docs), files
        ).collect()
    }
    n0, _n1, n3, _n5 = _dv_dims(12)
    assert ("part-1", -1, -1, -1) in got
    assert ("part-0", (n0 + 1) // 2, n0 // 2, (n0 // 2) ** 2) in got
    assert ("part-3", 0, n3, n3 * (n3 - 1) // 2) in got


def test_missing_sidecar_quarantines(spark):
    docs = spark.createDataFrame([(7,)], "doc_id long")
    empty = synth_delta_dv_files(docs).limit(0)
    got = {
        (r.path, r.n_live)
        for r in delta_live_row_stats(
            synth_delta_dv_logs(docs), empty
        ).collect()
    }
    assert ("part-1", -1) in got


def test_p_storage_resolves_by_literal_path(spark):
    """Odd tables reference their sidecar via storageType 'p' (the
    literal path, no uuid derivation) — doc 7 and 17 are the 'p' rows
    of the closed-form test above; this pins the dispatch explicitly."""
    docs = spark.createDataFrame([(7,), (12,)], "doc_id long")
    logs = synth_delta_dv_logs(docs)
    kinds = {
        r.table_id: r.payload.count('"storageType": "p"')
        for r in logs.filter("version = 3").collect()
    }
    assert kinds == {7: 1, 12: 0}  # odd -> 'p', even -> 'u'
    got = {
        (r.table_id, r.path, r.n_live)
        for r in delta_live_row_stats(
            logs, synth_delta_dv_files(docs)
        ).collect()
    }
    for d in (7, 12):
        n1 = _dv_dims(d)[1]
        assert (d, "part-1", n1 - n1 // 2) in got


def test_stats_less_add_surfaces_sentinel(spark):
    """A live add whose stats lack numRecords cannot be row-accounted:
    it must surface as the -1 sentinel row, not vanish silently."""
    from pyspark.sql import functions as F

    docs = spark.createDataFrame([(7,)], "doc_id long")
    logs = synth_delta_dv_logs(docs).withColumn(
        "payload",
        F.regexp_replace(
            "payload",
            r'"stats": "\{\\"numRecords\\": 15\}"',
            '"stats": "{}"',
        ),
    )
    got = {
        (r.path, r.dv_card, r.n_live, r.pos_sum)
        for r in delta_live_row_stats(
            logs, synth_delta_dv_files(docs)
        ).collect()
    }
    # doc 7: n3 = 12 + 7%4 = 15 -> part-3's stats were emptied
    assert ("part-3", -1, -1, -1) in got
    assert len([p for p, *_ in got if p == "part-3"]) == 1


def test_legacy_32bit_roaring_quarantines_by_name(spark):
    """r14 (VERDICT r13 #5): a DV blob that is a bare 32-bit roaring
    bitmap (the legacy pre-portable serialization) must quarantine
    with a NAMED reason, not the generic magic error — and must not
    be decoded by guesswork. Both cookie shapes (12346 array/bitmap,
    12347 run-present) are detected; through the operator the file
    surfaces as the -1 sentinel, never as silently un-deleted rows."""
    from pyspark.sql import functions as F

    from user_behavior_spark_pipeline_spark.operators.roaring import (
        _encode_rb32,
        roaring_array_positions,
        z85_encode,
    )

    bare_array = _encode_rb32([1, 2, 3])  # cookie 12346
    bare_run = _encode_rb32(list(range(5, 90)))  # run container, 12347
    import struct as _s

    assert _s.unpack_from("<i", bare_array, 0)[0] == 12346
    assert _s.unpack_from("<H", bare_run, 0)[0] == 12347
    for blob in (bare_array, bare_run):
        with pytest.raises(ValueError, match="legacy-32bit-roaring"):
            roaring_array_positions(blob)
    # operator-level: swap doc 7's part-0 inline DV for the legacy
    # blob -> part-0 reports the sentinel triple
    docs = spark.createDataFrame([(7,)], "doc_id long")
    logs = synth_delta_dv_logs(docs)
    n0 = _dv_dims(7)[0]
    old = build_roaring_array([i for i in range(n0) if i % 2 == 0])
    logs = logs.withColumn(
        "payload",
        F.replace(
            F.col("payload"),
            F.lit(z85_encode(old)),
            F.lit(z85_encode(bare_array)),
        ),
    )
    logs = logs.withColumn(
        "payload",
        F.replace(
            F.col("payload"),
            F.lit(f'"sizeInBytes": {len(old)}, "cardinality": {(n0 + 1) // 2}'),
            F.lit(f'"sizeInBytes": {len(bare_array)}, "cardinality": 3'),
        ),
    )
    got = {
        r.path: (r.dv_card, r.n_live, r.pos_sum)
        for r in delta_live_row_stats(
            logs, synth_delta_dv_files(docs)
        ).collect()
    }
    assert got["part-0"] == (-1, -1, -1)
