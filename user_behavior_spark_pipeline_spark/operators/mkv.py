"""Matroska / WebM (EBML) container demux — the container web video
actually ships in (WebM = Matroska restricted to VP8/VP9/AV1 + Opus/
Vorbis). Same posture as operators/demux.py for MP4: CONTAINER layer
only — track inventory, codec IDs, dimensions/rates, block and
keyframe counts, duration — no bitstream decode (that seam is
documented in multimodal.decode_real).

Scope: EBML element walk (variable-length IDs kept with their marker
bits, sizes marker-stripped, unknown-size Segment/Cluster extending to
the parent's end — the live-streaming shape), EBML header DocType,
Segment Info (TimestampScale, Duration), Tracks (number, type, CodecID,
video PixelWidth/PixelHeight, audio SamplingFrequency/Channels), and
Clusters (SimpleBlock keyframe flag; BlockGroup Blocks keyed by the
ABSENCE of ReferenceBlock, per spec). Structural corruption raises
ValueError -> ONE parse_error row per file (the walker-quarantine
contract of warc.py / demux.py / pdf.py).

Certification: no Matroska library exists in this environment, so the
byte laws (VINT widths, nesting, both block paths) are pinned in pytest
from spec arithmetic, and the builder/walker pair is closed-form
certified against DuckDB in the driver slot (x_demux_mkv).

The 100 TB shape: one mapInPandas pass, linear in container bytes,
embarrassingly parallel per file.

Reference parity note: the reference pipeline has no video path
(SURVEY.md §2.1); this is training-data extension surface (§2.5).
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

# element IDs (with marker bits, as they appear on the wire)
_EBML_HEADER = 0x1A45DFA3
_DOCTYPE = 0x4282
_SEGMENT = 0x18538067
_INFO = 0x1549A966
_TS_SCALE = 0x2AD7B1
_DURATION = 0x4489
_TRACKS = 0x1654AE6B
_TRACK_ENTRY = 0xAE
_TRACK_NUMBER = 0xD7
_TRACK_TYPE = 0x83
_CODEC_ID = 0x86
_VIDEO = 0xE0
_PIXEL_W = 0xB0
_PIXEL_H = 0xBA
_AUDIO = 0xE1
_SAMPLING = 0xB5
_CHANNELS = 0x9F
_CLUSTER = 0x1F43B675
_SIMPLE_BLOCK = 0xA3
_BLOCK_GROUP = 0xA0
_BLOCK = 0xA1
_REFERENCE_BLOCK = 0xFB

_UNKNOWN_OK = {_SEGMENT, _CLUSTER}


def _vint(data: bytes, pos: int, keep_marker: bool) -> tuple[int | None, int]:
    """One EBML variable-length integer at ``pos``: returns (value,
    next_pos). IDs keep the marker bit (spec compares IDs on the wire);
    sizes strip it, and an all-ones size returns None (unknown size).
    Truncation/zero first byte raise ValueError."""
    if pos >= len(data):
        raise ValueError("EBML vint at end of data")
    first = data[pos]
    if first == 0:
        raise ValueError("EBML vint with zero marker byte")
    length = 1
    mask = 0x80
    while not first & mask:
        length += 1
        mask >>= 1
    if pos + length > len(data):
        raise ValueError("EBML vint truncated")
    if keep_marker:
        val = 0
        for i in range(length):
            val = (val << 8) | data[pos + i]
        return val, pos + length
    val = first & (mask - 1)
    all_ones = val == mask - 1
    for i in range(1, length):
        b = data[pos + i]
        val = (val << 8) | b
        all_ones = all_ones and b == 0xFF
    return (None if all_ones else val), pos + length


def _ebml_children(
    data: bytes, start: int, end: int
) -> Iterator[tuple[int, int, int]]:
    """Child elements of [start, end): yields (id, body_start,
    body_end). Unknown-size elements are legal only for Segment/
    Cluster and extend to the parent's end."""
    pos = start
    while pos < end:
        eid, pos = _vint(data, pos, keep_marker=True)
        size, pos = _vint(data, pos, keep_marker=False)
        if size is None:
            if eid not in _UNKNOWN_OK:
                raise ValueError(
                    f"EBML element 0x{eid:X} with unknown size"
                )
            yield eid, pos, end
            return
        if pos + size > end:
            raise ValueError(
                f"EBML element 0x{eid:X} overruns its parent"
            )
        yield eid, pos, pos + size
        pos += size


def _uint(data: bytes, a: int, b: int) -> int:
    if b - a > 8:
        raise ValueError("EBML integer wider than 8 bytes")
    v = 0
    for i in range(a, b):
        v = (v << 8) | data[i]
    return v


def _float(data: bytes, a: int, b: int) -> float:
    n = b - a
    if n == 4:
        return struct.unpack_from(">f", data, a)[0]
    if n == 8:
        return struct.unpack_from(">d", data, a)[0]
    raise ValueError(f"EBML float of width {n}")


def mkv_demux(payload: bytes) -> dict:
    """Parse one Matroska/WebM file: doc_type, duration_ms, and one
    entry per track with block/keyframe counts. ValueError on
    structural corruption."""
    top = list(_ebml_children(payload, 0, len(payload)))
    if not top or top[0][0] != _EBML_HEADER:
        raise ValueError("not an EBML payload (missing header)")
    doc_type = "matroska"  # spec default
    for eid, a, b in _ebml_children(payload, top[0][1], top[0][2]):
        if eid == _DOCTYPE:
            doc_type = payload[a:b].split(b"\x00")[0].decode(
                "utf-8", "replace"
            )
    seg = next(((a, b) for eid, a, b in top if eid == _SEGMENT), None)
    if seg is None:
        raise ValueError("EBML file without a Segment")
    ts_scale = 1_000_000  # ns per tick, spec default
    duration_ticks: float | None = None
    tracks: dict[int, dict] = {}
    for eid, a, b in _ebml_children(payload, seg[0], seg[1]):
        if eid == _INFO:
            for cid, ca, cb in _ebml_children(payload, a, b):
                if cid == _TS_SCALE:
                    ts_scale = _uint(payload, ca, cb)
                elif cid == _DURATION:
                    duration_ticks = _float(payload, ca, cb)
        elif eid == _TRACKS:
            for cid, ca, cb in _ebml_children(payload, a, b):
                if cid != _TRACK_ENTRY:
                    continue
                t: dict = {
                    "track_num": None,
                    "track_type": None,
                    "codec_id": None,
                    "width": None,
                    "height": None,
                    "sample_rate": None,
                    "channels": None,
                    "n_blocks": 0,
                    "n_keyframes": 0,
                }
                for fid, fa, fb in _ebml_children(payload, ca, cb):
                    if fid == _TRACK_NUMBER:
                        t["track_num"] = _uint(payload, fa, fb)
                    elif fid == _TRACK_TYPE:
                        t["track_type"] = _uint(payload, fa, fb)
                    elif fid == _CODEC_ID:
                        t["codec_id"] = payload[fa:fb].decode(
                            "utf-8", "replace"
                        )
                    elif fid == _VIDEO:
                        for vid, va, vb in _ebml_children(payload, fa, fb):
                            if vid == _PIXEL_W:
                                t["width"] = _uint(payload, va, vb)
                            elif vid == _PIXEL_H:
                                t["height"] = _uint(payload, va, vb)
                    elif fid == _AUDIO:
                        for aid, aa, ab in _ebml_children(payload, fa, fb):
                            if aid == _SAMPLING:
                                t["sample_rate"] = int(
                                    _float(payload, aa, ab)
                                )
                            elif aid == _CHANNELS:
                                t["channels"] = _uint(payload, aa, ab)
                if t["track_num"] is None:
                    raise ValueError("TrackEntry without TrackNumber")
                tracks[t["track_num"]] = t
        elif eid == _CLUSTER:
            for cid, ca, cb in _ebml_children(payload, a, b):
                if cid == _SIMPLE_BLOCK:
                    tn, p = _vint(payload, ca, keep_marker=False)
                    if tn is None or p + 3 > cb:
                        raise ValueError("SimpleBlock header truncated")
                    flags = payload[p + 2]
                    t = tracks.get(tn)
                    if t is None:
                        raise ValueError(
                            f"block for undeclared track {tn}"
                        )
                    t["n_blocks"] += 1
                    if flags & 0x80:
                        t["n_keyframes"] += 1
                elif cid == _BLOCK_GROUP:
                    tn = None
                    has_ref = False
                    for gid, ga, gb in _ebml_children(payload, ca, cb):
                        if gid == _BLOCK:
                            tn, p = _vint(payload, ga, keep_marker=False)
                            if tn is None or p + 3 > gb:
                                raise ValueError(
                                    "Block header truncated"
                                )
                        elif gid == _REFERENCE_BLOCK:
                            has_ref = True
                    if tn is None:
                        raise ValueError("BlockGroup without Block")
                    t = tracks.get(tn)
                    if t is None:
                        raise ValueError(
                            f"block for undeclared track {tn}"
                        )
                    t["n_blocks"] += 1
                    if not has_ref:  # keyframe = no reference, per spec
                        t["n_keyframes"] += 1
    duration_ms = (
        None
        if duration_ticks is None
        else int(duration_ticks * ts_scale // 1_000_000)
    )
    if not tracks:
        raise ValueError("Matroska Segment without Tracks")
    return {
        "doc_type": doc_type,
        "duration_ms": duration_ms,
        "tracks": [tracks[k] for k in sorted(tracks)],
    }


MKV_TRACKS_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("doc_type", StringType(), True),
        StructField("duration_ms", LongType(), True),
        StructField("track_num", IntegerType(), True),
        StructField("track_type", StringType(), True),
        StructField("codec_id", StringType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("sample_rate", IntegerType(), True),
        StructField("channels", IntegerType(), True),
        StructField("n_blocks", LongType(), True),
        StructField("n_keyframes", LongType(), True),
        StructField("parse_error", StringType(), True),
    ]
)

_TRACK_TYPE_NAMES = {1: "video", 2: "audio", 17: "subtitle"}


def mkv_tracks(media: DataFrame) -> DataFrame:
    """(media_id, payload) -> one row per TRACK; corrupt files
    quarantine as ONE parse_error row."""

    def _walk(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for batch in batches:
            rows = []
            for media_id, payload in zip(batch["media_id"], batch["payload"]):
                mid = int(media_id)
                try:
                    d = mkv_demux(bytes(payload))
                    for t in d["tracks"]:
                        rows.append(
                            (
                                mid,
                                d["doc_type"],
                                d["duration_ms"],
                                t["track_num"],
                                _TRACK_TYPE_NAMES.get(
                                    t["track_type"],
                                    str(t["track_type"]),
                                ),
                                t["codec_id"],
                                t["width"],
                                t["height"],
                                t["sample_rate"],
                                t["channels"],
                                t["n_blocks"],
                                t["n_keyframes"],
                                None,
                            )
                        )
                except ValueError as e:
                    rows.append(
                        (mid,) + (None,) * 11 + (str(e),)
                    )
            yield pd.DataFrame(
                rows, columns=[f.name for f in MKV_TRACKS_SCHEMA.fields]
            )

    return media.select("media_id", "payload").mapInPandas(
        _walk, MKV_TRACKS_SCHEMA
    )


# -- write side (fixtures) --------------------------------------------------


def _enc_vint_size(n: int) -> bytes:
    """Size vint, shortest form."""
    for length in range(1, 9):
        if n < (1 << (7 * length)) - 1:
            out = bytearray(length)
            v = n | (1 << (7 * length))
            for i in range(length - 1, -1, -1):
                out[i] = v & 0xFF
                v >>= 8
            return bytes(out)
    raise ValueError("size too large for vint")


def _enc_id(eid: int) -> bytes:
    out = bytearray()
    while eid:
        out.insert(0, eid & 0xFF)
        eid >>= 8
    return bytes(out)


def _el(eid: int, body: bytes) -> bytes:
    return _enc_id(eid) + _enc_vint_size(len(body)) + body


def _el_uint(eid: int, v: int) -> bytes:
    body = bytearray()
    while True:
        body.insert(0, v & 0xFF)
        v >>= 8
        if not v:
            break
    return _el(eid, bytes(body))


def synth_mkv_bytes(doc_id: int, unknown_size_segment: bool = False) -> bytes:
    """Deterministic WebM fixture: VP9 video track 1 (320x(240+8*(d%4)))
    + Opus audio track 2 (48 kHz, 2ch), TimestampScale 1e6 (ms ticks),
    Duration = float 1000*(d%3+1) ms. d%2+1 clusters, each with 3 video
    SimpleBlocks (first keyframe-flagged), 1 video BlockGroup (keyed on
    even clusters: ReferenceBlock OMITTED), and 2 audio SimpleBlocks
    (always keyed). Closed form per track:
      video: n_blocks = 4*(d%2+1),
             n_keyframes = (d%2+1) + count of even clusters
      audio: n_blocks = n_keyframes = 2*(d%2+1)
    With ``unknown_size_segment`` the Segment size is the unknown-size
    vint (the live-stream shape) — the walk must produce identical
    output."""
    ebml = _el(
        _EBML_HEADER,
        _el_uint(0x4286, 1)  # EBMLVersion
        + _el(_DOCTYPE, b"webm")
        + _el_uint(0x4287, 4),  # DocTypeVersion
    )
    secs = doc_id % 3 + 1
    info = _el(
        _INFO,
        _el_uint(_TS_SCALE, 1_000_000)
        + _el(_DURATION, struct.pack(">d", float(1000 * secs))),
    )
    video_entry = _el(
        _TRACK_ENTRY,
        _el_uint(_TRACK_NUMBER, 1)
        + _el_uint(_TRACK_TYPE, 1)
        + _el(_CODEC_ID, b"V_VP9")
        + _el(
            _VIDEO,
            _el_uint(_PIXEL_W, 320)
            + _el_uint(_PIXEL_H, 240 + 8 * (doc_id % 4)),
        ),
    )
    audio_entry = _el(
        _TRACK_ENTRY,
        _el_uint(_TRACK_NUMBER, 2)
        + _el_uint(_TRACK_TYPE, 2)
        + _el(_CODEC_ID, b"A_OPUS")
        + _el(
            _AUDIO,
            _el(_SAMPLING, struct.pack(">f", 48000.0))
            + _el_uint(_CHANNELS, 2),
        ),
    )
    tracks = _el(_TRACKS, video_entry + audio_entry)

    def simple_block(track: int, ts: int, key: bool, payload: bytes) -> bytes:
        body = (
            bytes([0x80 | track])
            + struct.pack(">h", ts)
            + bytes([0x80 if key else 0x00])
            + payload
        )
        return _el(_SIMPLE_BLOCK, body)

    clusters = b""
    for c in range(doc_id % 2 + 1):
        blocks = b""
        blocks += _el_uint(0xE7, c * 1000)  # cluster Timestamp
        for v in range(3):
            blocks += simple_block(1, v * 33, v == 0, b"\x11" * 9)
        group_body = _el(
            _BLOCK,
            bytes([0x81]) + struct.pack(">h", 99) + b"\x00" + b"\x22" * 7,
        )
        if c % 2 == 1:  # odd clusters: a referenced (non-key) block
            group_body += _el_uint(_REFERENCE_BLOCK, 1)
        blocks += _el(_BLOCK_GROUP, group_body)
        for a in range(2):
            blocks += simple_block(2, a * 20, True, b"\x33" * 5)
        clusters += _el(_CLUSTER, blocks)
    seg_body = info + tracks + clusters
    if unknown_size_segment:
        segment = _enc_id(_SEGMENT) + b"\xff" + seg_body
    else:
        segment = _el(_SEGMENT, seg_body)
    return ebml + segment


def synth_mkv_media(documents: DataFrame) -> DataFrame:
    """(media_id, payload) of deterministic WebM files; the odd half
    uses the unknown-size Segment (live-stream shape)."""

    def _webm(d):
        return synth_mkv_bytes(d, unknown_size_segment=d % 2 == 1)

    return documents.select(
        F.col("doc_id").alias("media_id"),
        synth_bytes(_webm, "doc_id").alias("payload"),
    )
