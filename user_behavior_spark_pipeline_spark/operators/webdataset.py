"""WebDataset (tar-shard) ingestion — the de-facto storage format of
large multimodal training corpora (LAION, DataComp, img2dataset output):
a dataset is millions of ``.tar`` shards, each holding samples as
adjacent files sharing a basename key (``000123.jpg`` + ``000123.txt`` +
``000123.json``).

The 100 TB shape: one task per SHARD (binary column / binaryFile scan),
a mapInPandas walker emits one row per member file with its sample key —
grouping members into samples is then a plain groupBy(sample_key) that
never crosses shard boundaries (keys are shard-local by construction, so
with shard_id in the key the aggregation has no skew and AQE coalesces).
The tar walk is pure 512-byte ustar header framing (name / octal size /
typeflag / prefix, PAX 'path' records and GNU 'L' longnames for the
>100-char keys deep shard trees produce), gz/bz2/xz/zstd-transparent
(zstd — the ``.tar.zst`` shards modern corpora actually ship — via
operators/compress.py's cap-guarded streaming decode), and corruption
QUARANTINES (one ``parse_error`` row per bad shard, good prefix members
kept) — the same walker contract as operators/warc.py.

The same transparency front door serves the ``.jsonl.{gz,zst}`` corpus
shard reader (jsonl_shard_lines): decompress + line-split in one Arrow
pass, JSON parsing stays JVM-side (from_json) in the caller.

Reference parity note: no counterpart in the reference (SURVEY.md §2.1);
training-data extension surface (SURVEY.md §2.5).
"""

from __future__ import annotations

import zlib
from collections.abc import Iterator

from .compress import (
    decompress_transparent,
    snappy_framed_compress,
    zstd_compress,
)
from .payload import synth_bytes

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

#: Same zip-bomb posture as the WARC walker.
MAX_SHARD_BYTES = 1 << 30


def tar_members(payload: bytes) -> Iterator[tuple[str, bytes]]:
    """Walk a (possibly gz/bz2/xz/zstd-compressed) ustar/tar payload,
    yielding (member_name, bytes) for every regular file. A generator —
    a caller salvages every member before a corruption point. Raises
    ValueError at the corruption (bad magic, non-octal size, truncated
    data). All four compressions are cap-guarded (zip-bomb defense) and
    decompress incrementally so the cap triggers BEFORE a hostile shard
    balloons in memory (operators/compress.py owns the codec dispatch —
    zstd via pyarrow's streaming decoder, the rest stdlib)."""
    payload = decompress_transparent(payload, MAX_SHARD_BYTES, "shard")
    pos = 0
    n = len(payload)
    pending_name: str | None = None  # from PAX 'path' or GNU 'L'
    pending_size: int | None = None  # from a PAX 'size' record
    while pos + 512 <= n:
        hdr = payload[pos : pos + 512]
        if hdr == b"\x00" * 512:  # end-of-archive marker
            break
        name = hdr[:100].split(b"\x00", 1)[0].decode("utf-8", "replace")
        magic = hdr[257:263]
        if magic not in (b"ustar\x00", b"ustar ", b"\x00" * 6):
            raise ValueError(f"bad tar magic at member {name!r}")
        if hdr[124] & 0x80:
            # GNU base-256 size (members > 8 GiB overflow the 11-digit
            # octal field; star/GNU tar set bit 7 and store big-endian
            # binary in the remaining bytes)
            size = int.from_bytes(hdr[124:136], "big") - (0x80 << 88)
            if size < 0:
                raise ValueError(f"bad base-256 tar size for {name!r}")
        else:
            raw_size = hdr[124:136].split(b"\x00", 1)[0].strip()
            try:
                size = int(raw_size or b"0", 8)
            except ValueError:
                raise ValueError(
                    f"bad tar size field for {name!r}"
                ) from None
        typeflag = hdr[156:157]
        prefix = hdr[345:500].split(b"\x00", 1)[0].decode("utf-8", "replace")
        if prefix:
            name = prefix + "/" + name
        data_end = pos + 512 + size
        if data_end > n:
            raise ValueError(f"tar member {name!r} overruns shard")
        data = payload[pos + 512 : data_end]
        if typeflag == b"L":  # GNU longname: applies to the NEXT member
            pending_name = data.split(b"\x00", 1)[0].decode(
                "utf-8", "replace"
            )
        elif typeflag == b"x":  # PAX extended header: "len key=val\n"
            at = 0
            while at < len(data):
                sp = data.find(b" ", at)
                if sp < 0:
                    raise ValueError("malformed PAX record (no length)")
                try:
                    rec_len = int(data[at:sp])
                except ValueError:
                    raise ValueError(
                        "malformed PAX record length"
                    ) from None
                rec = data[at : at + rec_len]
                if rec_len <= 0 or not rec.endswith(b"\n"):
                    raise ValueError("malformed PAX record framing")
                key, _, val = rec[sp - at + 1 : -1].partition(b"=")
                if key == b"path":
                    pending_name = val.decode("utf-8", "replace")
                elif key == b"size":
                    # PAX size override (the other >8 GiB spelling)
                    try:
                        pending_size = int(val)
                    except ValueError:
                        raise ValueError(
                            "malformed PAX size record"
                        ) from None
                    if pending_size < 0:
                        raise ValueError("negative PAX size record")
                at += rec_len
        elif typeflag in (b"0", b"\x00"):
            if pending_name is not None:
                name = pending_name
                pending_name = None
            if pending_size is not None:
                # the header's octal field is a placeholder when a PAX
                # size record governs — re-slice with the real size
                size = pending_size
                pending_size = None
                data_end = pos + 512 + size
                if data_end > n:
                    raise ValueError(
                        f"tar member {name!r} overruns shard"
                    )
                data = payload[pos + 512 : data_end]
            yield name, data
        else:
            # directories / links / other special members: skipped
            # (a pending long name still applies to the next file)
            pass
        pos += 512 + ((size + 511) // 512) * 512


WDS_MEMBER_SCHEMA = StructType(
    [
        StructField("shard_id", LongType(), False),
        StructField("sample_key", StringType(), True),
        StructField("ext", StringType(), True),
        StructField("n_bytes", LongType(), True),
        StructField("payload", BinaryType(), True),
        StructField("parse_error", StringType(), True),
    ]
)


def webdataset_members(shards: DataFrame) -> DataFrame:
    """Explode (shard_id, payload) tar shards into one row per member
    file, keyed the WebDataset way: ``sample_key`` is the member name up
    to the FIRST dot (directories included), ``ext`` everything after
    it — so ``a/000123.seg.json`` groups with ``a/000123.jpg`` under key
    ``a/000123``. Corruption quarantines; members before the corruption
    point survive."""

    def _walk(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for batch in batches:
            rows = []
            for shard_id, payload in zip(batch["shard_id"], batch["payload"]):
                err = None
                count = 0
                try:
                    for name, data in tar_members(bytes(payload)):
                        base = name.rsplit("/", 1)[-1]
                        dot = base.find(".")
                        if dot < 0:
                            key, ext = name, ""
                        else:
                            prefix_dir = name[: len(name) - len(base)]
                            key = prefix_dir + base[:dot]
                            ext = base[dot + 1 :]
                        rows.append(
                            (
                                int(shard_id),
                                key,
                                ext,
                                len(data),
                                data,
                                None,
                            )
                        )
                        count += 1
                    if count == 0:
                        err = "no members in tar shard"
                except ValueError as e:
                    err = str(e)
                if err is not None:
                    rows.append(
                        (int(shard_id), None, None, None, None, err)
                    )
            yield pd.DataFrame(
                rows, columns=[f.name for f in WDS_MEMBER_SCHEMA.fields]
            )

    return shards.select("shard_id", "payload").mapInPandas(
        _walk, WDS_MEMBER_SCHEMA
    )


def webdataset_samples(members: DataFrame) -> DataFrame:
    """Assemble member rows into one row per SAMPLE: (shard_id,
    sample_key, n_files, exts sorted array, total_bytes). The groupBy
    key includes shard_id, so the shuffle is skew-free (keys are
    shard-local) and the aggregation is partial-aggregable map-side."""
    ok = members.filter(F.col("parse_error").isNull())
    return ok.groupBy("shard_id", "sample_key").agg(
        F.count(F.lit(1)).cast("int").alias("n_files"),
        F.sort_array(F.collect_list("ext")).alias("exts"),
        F.sum("n_bytes").alias("total_bytes"),
    )


# ---------------------------------------------------------------------------
# ZIP archive ingestion — the other container document dumps ship in
# ---------------------------------------------------------------------------


def zip_members(payload: bytes) -> Iterator[tuple[str, bytes]]:
    """Walk a ZIP archive via its CENTRAL DIRECTORY (the authoritative
    index — local headers lie in the wild about sizes under streaming
    writers): locate EOCD from the tail, walk CD entries, inflate
    stored (0) and deflate (8) members. A generator in CD order;
    corruption raises ValueError at the bad entry so earlier members
    salvage. Encrypted members and unsupported methods raise (their
    payloads would be garbage); zip64 is out of documented scope
    (archives >4 GB arrive as shards in practice)."""
    import struct

    eocd = payload.rfind(b"PK\x05\x06", max(0, len(payload) - 65557))
    if eocd < 0:
        raise ValueError("not a ZIP archive (no end-of-central-directory)")
    if eocd + 20 > len(payload):
        raise ValueError("ZIP end-of-central-directory truncated")
    n_entries, cd_size, cd_off = struct.unpack_from(
        "<HII", payload, eocd + 10
    )
    pos = cd_off
    for _ in range(n_entries):
        if payload[pos : pos + 4] != b"PK\x01\x02":
            raise ValueError("bad ZIP central-directory signature")
        (
            flags,
            method,
            _t,
            _d,
            crc,
            csize,
            usize,
            nlen,
            elen,
            clen,
        ) = struct.unpack_from("<HHHHIIIHHH", payload, pos + 8)
        lho = struct.unpack_from("<I", payload, pos + 42)[0]
        name = payload[pos + 46 : pos + 46 + nlen].decode(
            "utf-8" if flags & 0x800 else "cp437", "replace"
        )
        pos += 46 + nlen + elen + clen
        if flags & 0x1:
            raise ValueError(f"encrypted ZIP member {name!r}")
        if name.endswith("/"):
            continue  # directory entry
        # local header: skip its (possibly different) name/extra lengths
        if payload[lho : lho + 4] != b"PK\x03\x04":
            raise ValueError(f"bad ZIP local header for {name!r}")
        lnlen, lelen = struct.unpack_from("<HH", payload, lho + 26)
        data_at = lho + 30 + lnlen + lelen
        raw = payload[data_at : data_at + csize]
        if len(raw) < csize:
            raise ValueError(f"ZIP member {name!r} overruns archive")
        if method == 0:
            data = raw
        elif method == 8:
            try:
                data = zlib.decompress(raw, -15)
            except zlib.error as e:
                raise ValueError(
                    f"corrupt deflate in ZIP member {name!r}: {e}"
                ) from e
        else:
            raise ValueError(
                f"unsupported ZIP method {method} for {name!r}"
            )
        if len(data) != usize:
            raise ValueError(f"ZIP member {name!r} size mismatch")
        if zlib.crc32(data) & 0xFFFFFFFF != crc:
            raise ValueError(f"ZIP member {name!r} CRC mismatch")
        yield name, data


ZIP_MEMBER_SCHEMA = StructType(
    [
        StructField("archive_id", LongType(), False),
        StructField("name", StringType(), True),
        StructField("n_bytes", LongType(), True),
        StructField("payload", BinaryType(), True),
        StructField("parse_error", StringType(), True),
    ]
)


def zip_entries(archives: DataFrame) -> DataFrame:
    """Explode (archive_id, payload) ZIP archives into one row per
    member file — same quarantine contract as the tar walker: a corrupt
    entry yields one parse_error row, earlier members survive."""

    def _walk(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for batch in batches:
            rows = []
            for archive_id, payload in zip(
                batch["archive_id"], batch["payload"]
            ):
                err = None
                count = 0
                try:
                    for name, data in zip_members(bytes(payload)):
                        rows.append(
                            (int(archive_id), name, len(data), data, None)
                        )
                        count += 1
                    if count == 0:
                        err = "no members in ZIP archive"
                except ValueError as e:
                    err = str(e)
                if err is not None:
                    rows.append((int(archive_id), None, None, None, err))
            yield pd.DataFrame(
                rows, columns=[f.name for f in ZIP_MEMBER_SCHEMA.fields]
            )

    return archives.select("archive_id", "payload").mapInPandas(
        _walk, ZIP_MEMBER_SCHEMA
    )


def synth_zip_bytes(doc_id: int, text: str) -> bytes:
    """Deterministic ZIP: doc_id%3+1 documents per archive,
    ``doc_<doc_id>_<i>.txt`` holding the text with a per-member suffix;
    members alternate stored/deflate (i%2); UTF-8 name flag set.
    Closed form mirrored by the oracle. Hand-built (not zipfile) so the
    walker is checked against spec math — tests cross-check BOTH
    directions against the stdlib."""
    import struct

    n = doc_id % 3 + 1
    out = bytearray()
    cd = bytearray()
    entries = []
    for i in range(n):
        name = f"doc_{doc_id}_{i}.txt".encode()
        data = f"{text} [{i}]".encode()
        crc = zlib.crc32(data) & 0xFFFFFFFF
        if i % 2 == 0:
            method, blob = 0, data
        else:
            co = zlib.compressobj(9, zlib.DEFLATED, -15)
            method, blob = 8, co.compress(data) + co.flush()
        lho = len(out)
        out += b"PK\x03\x04" + struct.pack(
            "<HHHHHIIIHH",
            20, 0x800, method, 0, 0, crc, len(blob), len(data),
            len(name), 0,
        )
        out += name + blob
        entries.append((name, method, crc, len(blob), len(data), lho))
    cd_off = len(out)
    for name, method, crc, csize, usize, lho in entries:
        cd += b"PK\x01\x02" + struct.pack(
            "<HHHHHHIIIHHHHHII",
            20, 20, 0x800, method, 0, 0, crc, csize, usize,
            len(name), 0, 0, 0, 0, 0, lho,
        )
        cd += name
    out += cd
    out += b"PK\x05\x06" + struct.pack(
        "<HHHHIIH", 0, 0, len(entries), len(entries), len(cd), cd_off, 0
    )
    return bytes(out)


def _tar_header(name: str, size: int) -> bytes:
    """One ustar header block with a correct checksum."""
    h = bytearray(512)
    nb = name.encode()
    h[0 : len(nb)] = nb
    h[100:108] = b"0000644\x00"
    h[108:116] = b"0000000\x00"
    h[116:124] = b"0000000\x00"
    h[124:136] = ("%011o" % size).encode() + b"\x00"
    h[136:148] = b"00000000000\x00"
    h[148:156] = b" " * 8  # checksum placeholder
    h[156:157] = b"0"
    h[257:263] = b"ustar\x00"
    h[263:265] = b"00"
    csum = sum(h)
    h[148:156] = ("%06o" % csum).encode() + b"\x00 "
    return bytes(h)


def synth_webdataset_bytes(doc_id: int, text: str) -> bytes:
    """Deterministic WebDataset shard: ``doc_id % 3 + 1`` samples, each
    with three members — ``<doc_id>_<i>.txt`` (the document text with a
    per-sample suffix), ``<doc_id>_<i>.cls`` (label = (doc_id+i) % 10)
    and ``<doc_id>_<i>.meta.json`` (a fixed-shape record; its
    double-barreled extension certifies the first-dot key split).
    Compression rotates by doc_id % 5: gzip / plain / bz2 / xz / zstd
    (the ``.tar.zst`` family modern corpora ship) — the member table is
    identical under all five, so the one oracle hash certifies every
    transparency path. Closed form mirrored by the oracle."""
    n = doc_id % 3 + 1
    out = bytearray()
    for i in range(n):
        key = f"{doc_id}_{i}"
        files = [
            (f"{key}.txt", f"{text} #{i}".encode()),
            (f"{key}.cls", str((doc_id + i) % 10).encode()),
            (
                f"{key}.meta.json",
                ('{"doc": %d, "i": %d}' % (doc_id, i)).encode(),
            ),
        ]
        for name, data in files:
            out += _tar_header(name, len(data))
            out += data
            out += bytes((512 - len(data) % 512) % 512)
    out += bytes(1024)  # end-of-archive
    raw = bytes(out)
    k = doc_id % 5
    if k == 0:
        co = zlib.compressobj(9, zlib.DEFLATED, 31)
        raw = co.compress(raw) + co.flush()
    elif k == 2:
        import bz2

        raw = bz2.compress(raw, 9)
    elif k == 3:
        import lzma

        raw = lzma.compress(raw)
    elif k == 4:
        raw = zstd_compress(raw)
    return raw


def synth_webdataset_shards(documents: DataFrame) -> DataFrame:
    """(shard_id, payload) of deterministic WebDataset shards."""
    return documents.select(
        F.col("doc_id").alias("shard_id"),
        synth_bytes(synth_webdataset_bytes, "doc_id", "text").alias("payload"),
    )


# ---------------------------------------------------------------------------
# .jsonl.{zst,gz} corpus shards — the TEXT-corpus sibling of tar shards
# (RedPajama/Dolma/FineWeb ship exactly this layout: one compressed
# JSON-lines file per shard, zstd having replaced gzip as the corpus
# codec)
# ---------------------------------------------------------------------------

JSONL_LINE_SCHEMA = StructType(
    [
        StructField("shard_id", LongType(), False),
        StructField("line_idx", LongType(), True),
        StructField("line", StringType(), True),
        StructField("parse_error", StringType(), True),
    ]
)


def jsonl_shard_lines(shards: DataFrame) -> DataFrame:
    """Explode (shard_id, payload) compressed-JSONL shards into one row
    per non-empty line: (shard_id, line_idx, line). The Arrow pass owns
    ONLY what the JVM can't — transparent gz/zstd/bz2/xz decompression
    (cap-guarded, operators/compress.py) and the UTF-8 decode; JSON
    parsing stays JVM-side via from_json in the caller, so schema
    projection and predicate pushdown over the parsed fields run in
    codegen. Corruption (bad frame, cap overrun, invalid UTF-8)
    quarantines as ONE parse_error row per shard — the walker
    contract."""

    def _walk(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for batch in batches:
            rows = []
            for shard_id, payload in zip(batch["shard_id"], batch["payload"]):
                sid = int(shard_id)
                err = None
                try:
                    raw = decompress_transparent(
                        bytes(payload), MAX_SHARD_BYTES, "jsonl shard"
                    )
                    try:
                        text = raw.decode("utf-8")
                    except UnicodeDecodeError as e:
                        raise ValueError(
                            f"jsonl shard is not UTF-8: {e}"
                        ) from None
                    # the two byte-level artifacts real-world jsonl
                    # actually carries: a UTF-8 BOM on the first line
                    # (Windows tooling) and CRLF endings — both are
                    # framing, never content (raw control chars are
                    # illegal inside JSON strings), so strip them here
                    # rather than letting from_json see them
                    if text.startswith("\ufeff"):
                        text = text[1:]
                    count = 0
                    for idx, line in enumerate(text.split("\n")):
                        line = line.rstrip("\r")
                        if not line.strip():
                            continue
                        rows.append((sid, idx, line, None))
                        count += 1
                    if count == 0:
                        err = "no lines in jsonl shard"
                except ValueError as e:
                    err = str(e)
                if err is not None:
                    rows.append((sid, None, None, err))
            yield pd.DataFrame(
                rows, columns=[f.name for f in JSONL_LINE_SCHEMA.fields]
            )

    return shards.select("shard_id", "payload").mapInPandas(
        _walk, JSONL_LINE_SCHEMA
    )


def synth_jsonl_shard_bytes(doc_id: int, text: str) -> bytes:
    """Deterministic JSONL shard: doc_id%3+1 records
    ``{"doc": <doc_id>, "i": <i>, "text": "<text> #<i>"}`` one per
    line; the rotation by doc_id % 4 stacks the real-world framing
    hazards onto one invariant record table: k=0 plain with a UTF-8
    BOM and CRLF line endings (Windows tooling), k=1 gzip in TWO
    members (the pigz/bgzip concatenation the single-object
    decompressor silently truncated — caught r12), k=2 zstd in TWO
    frames, k=3 snappy framing (.sz, r13) in TWO streams with a
    planted skippable chunk. One oracle hash certifies transparency, multi-member
    inflation, BOM/CRLF stripping AND the JSON escape round-trip
    (non-ASCII text rides through ensure_ascii=False)."""
    import json

    lines = [
        json.dumps(
            {"doc": doc_id, "i": i, "text": f"{text} #{i}"},
            ensure_ascii=False,
        )
        for i in range(doc_id % 3 + 1)
    ]
    k = doc_id % 4
    if k == 0:
        return (
            "\ufeff" + "\r\n".join(lines) + "\r\n"
        ).encode("utf-8")
    half = (len(lines) + 1) // 2
    a = ("\n".join(lines[:half]) + "\n").encode("utf-8")
    b = ("\n".join(lines[half:]) + "\n").encode("utf-8") if lines[half:] else b""
    if k == 1:
        def gz(x):
            co = zlib.compressobj(9, zlib.DEFLATED, 31)
            return co.compress(x) + co.flush()

        return gz(a) + (gz(b) if b else b"")
    if k == 2:
        return zstd_compress(a) + (zstd_compress(b) if b else b"")
    # k=3: snappy FRAMING (.sz) in TWO concatenated streams with a
    # skippable chunk planted mid-stream \u2014 the hadoop/dataflow shard
    # shape; skipping the skippable and reading past the second stream
    # identifier are both load-bearing for the invariant oracle
    sz_a = bytearray(snappy_framed_compress(a))
    sz_a += b"\xfe\x05\x00\x00decoy"  # skippable chunk, must vanish
    return bytes(sz_a) + (snappy_framed_compress(b) if b else b"")


def synth_jsonl_shards(documents: DataFrame) -> DataFrame:
    """(shard_id, payload) of deterministic compressed-JSONL shards."""
    return documents.select(
        F.col("doc_id").alias("shard_id"),
        synth_bytes(synth_jsonl_shard_bytes, "doc_id", "text").alias("payload"),
    )
