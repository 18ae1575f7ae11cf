"""WebDataset tar-shard walker: stdlib-tarfile cross-check, first-dot
keying, quarantine with prefix salvage."""

from __future__ import annotations

import io
import tarfile

import pytest

from user_behavior_spark_pipeline_spark.operators.webdataset import (
    synth_webdataset_bytes,
    tar_members,
    webdataset_members,
    webdataset_samples,
)


def test_tar_walk_matches_stdlib_tarfile():
    """The hand-rolled ustar walker agrees byte-for-byte with the
    stdlib tarfile module over the synth shards, across the full
    gzip/plain/bz2/xz/zstd rotation (doc_id % 5)."""
    from user_behavior_spark_pipeline_spark.operators.compress import (
        decompress_transparent,
    )

    for d, t in ((0, "hello"), (1, "wörld"), (2, "b"), (3, "c"),
                 (4, ""), (5, "x" * 600)):
        raw = synth_webdataset_bytes(d, t)
        plain = decompress_transparent(raw, 1 << 30)
        tf = tarfile.open(fileobj=io.BytesIO(plain))
        ref = {m.name: tf.extractfile(m).read() for m in tf.getmembers()}
        assert dict(tar_members(raw)) == ref, d


def test_tar_walk_stdlib_written_archive_with_dirs_and_prefix():
    """An archive WRITTEN by the stdlib (not our builder): directories
    are skipped, nested paths keep their directory in the sample key,
    and a pax/ustar long name via prefix field round-trips."""
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT) as tf:
        tf.addfile(tarfile.TarInfo("sub"), None)  # directory-ish entry
        for name, data in (
            ("sub/0001.txt", b"alpha"),
            ("sub/0001.meta.json", b"{}"),
            ("p" * 120 + "/deep.txt", b"deep"),  # needs the prefix field
        ):
            ti = tarfile.TarInfo(name)
            ti.size = len(data)
            tf.addfile(ti, io.BytesIO(data))
    got = dict(tar_members(buf.getvalue()))
    assert got["sub/0001.txt"] == b"alpha"
    assert got["p" * 120 + "/deep.txt"] == b"deep"


def test_tar_corruption_salvages_prefix():
    raw = synth_webdataset_bytes(1, "keep")  # odd: plain tar
    # smash the magic of the SECOND member's header
    second = 512 + 512 * ((len(b"keep #0") + 511) // 512)
    bad = bytearray(raw)
    bad[second + 257 : second + 263] = b"XXXXXX"
    out = []
    with pytest.raises(ValueError, match="bad tar magic"):
        for m in tar_members(bytes(bad)):
            out.append(m)
    assert [n for n, _ in out] == ["1_0.txt"]


def test_webdataset_operator_keys_and_quarantine(spark):
    shards = spark.createDataFrame(
        [(2, synth_webdataset_bytes(2, "text two")), (9, b"not a tar at all" * 40)],
        "shard_id long, payload binary",
    )
    rows = webdataset_members(shards).collect()
    good = [r for r in rows if r.shard_id == 2]
    (bad,) = [r for r in rows if r.shard_id == 9]
    assert bad.parse_error is not None
    by_key = {}
    for r in good:
        by_key.setdefault(r.sample_key, set()).add(r.ext)
    assert set(by_key) == {"2_0", "2_1", "2_2"}
    assert all(v == {"txt", "cls", "meta.json"} for v in by_key.values())
    samples = webdataset_samples(webdataset_members(shards)).collect()
    assert {(r.sample_key, r.n_files) for r in samples} == {
        ("2_0", 3), ("2_1", 3), ("2_2", 3),
    }


def test_zip_walker_matches_stdlib_both_directions():
    """Our hand-built archives read back identically via stdlib
    zipfile, and a stdlib-WRITTEN archive (deflate, directory entries)
    reads identically via our walker."""
    from user_behavior_spark_pipeline_spark.operators.webdataset import (
        synth_zip_bytes,
        zip_members,
    )
    import zipfile

    for d, t in ((0, "alpha"), (1, "wörld"), (5, "x" * 500), (2, "")):
        raw = synth_zip_bytes(d, t)
        zf = zipfile.ZipFile(io.BytesIO(raw))
        assert dict(zip_members(raw)) == {
            n: zf.read(n) for n in zf.namelist()
        }, d
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("dir/", "")
        zf.writestr("dir/a.txt", "content a")
        zf.writestr("b.json", '{"k": 1}')
    assert dict(zip_members(buf.getvalue())) == {
        "dir/a.txt": b"content a",
        "b.json": b'{"k": 1}',
    }


def test_zip_corruption_and_encryption_quarantine(spark):
    import struct

    from user_behavior_spark_pipeline_spark.operators.webdataset import (
        synth_zip_bytes,
        zip_entries,
        zip_members,
    )

    good = synth_zip_bytes(1, "keep me")
    # flip one byte of member data -> CRC mismatch (spec-checked)
    i = good.index(b"keep me [0]")
    bad = good[:i] + b"Xeep me [0]" + good[i + 11 :]
    with pytest.raises(ValueError, match="CRC mismatch"):
        list(zip_members(bad))
    # encrypted flag in the central directory
    enc = bytearray(good)
    cd = bytes(enc).index(b"PK\x01\x02")
    flags = struct.unpack_from("<H", enc, cd + 8)[0]
    struct.pack_into("<H", enc, cd + 8, flags | 0x1)
    with pytest.raises(ValueError, match="encrypted"):
        list(zip_members(bytes(enc)))
    archives = spark.createDataFrame(
        [(1, good), (2, bad), (3, b"not a zip")],
        "archive_id long, payload binary",
    )
    rows = zip_entries(archives).collect()
    ok = [r for r in rows if r.parse_error is None]
    errs = {r.archive_id for r in rows if r.parse_error is not None}
    assert {r.archive_id for r in ok} == {1} and errs == {2, 3}


def test_tar_members_bz2_xz_zstd_transparency():
    """Shard compression rotates gzip/plain/bz2/xz/zstd by doc_id%5 —
    the same member table must come out of all five, and bz2/xz/zstd
    corruption quarantines like gzip's."""
    import bz2 as bz2mod
    import lzma

    from user_behavior_spark_pipeline_spark.operators.compress import (
        ZSTD_MAGIC,
        zstd_decompress,
    )
    from user_behavior_spark_pipeline_spark.operators.webdataset import (
        synth_webdataset_bytes,
        tar_members,
    )

    for did in (1, 2, 3, 4, 5):  # covers plain, bz2, xz, zstd, gzip
        mem = list(tar_members(synth_webdataset_bytes(did, "hello")))
        assert len(mem) == 3 * (did % 3 + 1), did
    # heads really differ per rotation slot
    heads = {synth_webdataset_bytes(d, "x")[:3] for d in range(5)}
    assert len(heads) == 5
    # stdlib/pyarrow agree our compressed shards are their formats
    assert bz2mod.decompress(synth_webdataset_bytes(2, "x"))[257:262] == b"ustar"
    assert lzma.decompress(synth_webdataset_bytes(3, "x"))[257:262] == b"ustar"
    z = synth_webdataset_bytes(4, "x")
    assert z[:4] == ZSTD_MAGIC
    assert zstd_decompress(z, 1 << 30)[257:262] == b"ustar"
    # corruption quarantines (ValueError, not BZ2/LZMA/Arrow errors)
    import pytest

    for did, pat in ((2, "bz2"), (3, "xz"), (4, "zstd")):
        b = bytearray(synth_webdataset_bytes(did, "x"))
        b[12] ^= 0xFF
        with pytest.raises(ValueError, match=pat):
            list(tar_members(bytes(b)))
    # truncation
    with pytest.raises(ValueError, match="truncated xz"):
        list(tar_members(synth_webdataset_bytes(3, "x")[:-8]))
    with pytest.raises(ValueError, match="zstd"):
        list(tar_members(synth_webdataset_bytes(4, "x")[:-8]))


def test_tar_pax_and_gnu_long_names():
    """>100-char member names via PAX 'path' records and GNU 'L'
    longname members — cross-checked against stdlib tarfile writers in
    BOTH formats; malformed PAX records quarantine."""
    import io
    import tarfile

    import pytest

    from user_behavior_spark_pipeline_spark.operators.webdataset import (
        tar_members,
    )

    long_name = "dir/" + "x" * 140 + "/sample.0001.txt"
    for fmt in (tarfile.PAX_FORMAT, tarfile.GNU_FORMAT):
        buf = io.BytesIO()
        with tarfile.open(fileobj=buf, mode="w", format=fmt) as tf:
            for nm, data in ((long_name, b"hello"), ("short.txt", b"world")):
                info = tarfile.TarInfo(nm)
                info.size = len(data)
                tf.addfile(info, io.BytesIO(data))
        mem = list(tar_members(buf.getvalue()))
        assert mem == [(long_name, b"hello"), ("short.txt", b"world")]
    hdr = bytearray(512)
    hdr[0:4] = b"pax\x00"
    hdr[124:136] = b"00000000010 "
    hdr[156:157] = b"x"
    hdr[257:263] = b"ustar\x00"
    body = b"garbage\n" + bytes(504)
    with pytest.raises(ValueError, match="PAX record"):
        list(tar_members(bytes(hdr) + body + bytes(1024)))


def test_jsonl_walker_bom_crlf_and_multi_member(spark):
    """The r12 framing hazards end-to-end: BOM+CRLF (k=0), two-member
    gzip (k=1), two-frame zstd (k=2) all yield the same record table;
    a BOM'd CRLF line parses clean through from_json."""
    from pyspark.sql import functions as F

    from user_behavior_spark_pipeline_spark.operators.webdataset import (
        jsonl_shard_lines,
        synth_jsonl_shard_bytes,
    )

    shards = spark.createDataFrame(
        [(d, synth_jsonl_shard_bytes(d, "t")) for d in (3, 4, 5)],
        "shard_id long, payload binary",
    )
    lines = jsonl_shard_lines(shards)
    assert lines.filter(F.col("parse_error").isNotNull()).count() == 0
    parsed = lines.withColumn(
        "j", F.from_json("line", "doc bigint, i bigint, text string")
    )
    rows = parsed.select("shard_id", "j.doc", "j.i").collect()
    assert all(r.doc == r.shard_id for r in rows)  # BOM/CR never leak
    got = {}
    for r in rows:
        got.setdefault(r.shard_id, set()).add(r.i)
    assert got == {3: {0}, 4: {0, 1}, 5: {0, 1, 2}}


def test_tar_base256_and_pax_size_records():
    """>8 GiB member spellings at fixture scale: a GNU base-256 size
    field (bit 7 set, big-endian binary) and a PAX 'size' override
    both govern the member's data region; malformed PAX sizes
    quarantine."""
    import io
    import tarfile

    import pytest

    from user_behavior_spark_pipeline_spark.operators.webdataset import (
        _tar_header,
        tar_members,
    )

    h = bytearray(_tar_header("b256.txt", 5))
    h[124:136] = bytes([0x80] + [0] * 10 + [5])
    h[148:156] = b" " * 8
    h[148:156] = ("%06o" % sum(h)).encode() + b"\x00 "
    buf = bytes(h) + b"hello" + bytes(512 - 5) + bytes(1024)
    assert dict(tar_members(buf)) == {"b256.txt": b"hello"}

    bio = io.BytesIO()
    with tarfile.open(
        fileobj=bio, mode="w", format=tarfile.PAX_FORMAT
    ) as tf:
        ti = tarfile.TarInfo("p.txt")
        ti.size = 3
        ti.pax_headers = {"size": "3"}
        tf.addfile(ti, io.BytesIO(b"xxx"))
    assert dict(tar_members(bio.getvalue()))["p.txt"] == b"xxx"

    # malformed PAX size: non-numeric and negative both quarantine
    for bad in (b"nope", b"-5"):
        rec = b"size=" + bad + b"\n"
        rec = (b"%d " % (len(rec) + len(b"%d " % 30))) + rec
        pax = _tar_header("pax", len(rec))
        pax = pax[:156] + b"x" + pax[157:]
        # rebuild checksum after the typeflag edit
        pb = bytearray(pax)
        pb[148:156] = b" " * 8
        pb[148:156] = ("%06o" % sum(pb)).encode() + b"\x00 "
        data = rec + bytes((512 - len(rec) % 512) % 512)
        follow = _tar_header("f.txt", 1) + b"y" + bytes(511)
        with pytest.raises(ValueError, match="PAX size"):
            list(tar_members(bytes(pb) + data + follow + bytes(1024)))
