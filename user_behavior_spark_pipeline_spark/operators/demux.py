"""Container demux for the audio/video formats whose BITSTREAMS need
external codec libraries but whose CONTAINERS are pure struct parsing:
MPEG audio (MP3) frame walking and ISO-BMFF (MP4) box demuxing.

Why this is the 100 TB-relevant half: a training-data pipeline over video
never decodes whole files on the shuffle path — it demuxes the (small)
``moov`` index, picks keyframes, and emits BYTE-RANGE fetch plans that a
GPU/codec tier executes elsewhere. Demux is cheap, deterministic, and
exactly what belongs in the Spark layer; entropy decode (MP3 frames ->
PCM, H.264 NALs -> pixels) stays behind the documented codec seam
(multimodal.decode_real raises NotImplementedError for it).

Both parsers implement the public specs directly (ISO/IEC 11172-3 frame
headers + the de-facto Xing/Info VBR tag; ISO/IEC 14496-12 box structure)
and are pinned by hand-packed byte fixtures in tests/test_demux.py. The
``synth_mp3`` / ``synth_mp4`` builders generate deterministic payloads
whose demux output is closed-form in (doc_id, n_chars) — SQL-reproducible,
so the registry queries hash-verify the full parse through real bytes.

Reference parity note: the reference pipeline (rpg_spark_stream.py,
filter_swords_batch.py) has no media path at all — this module is part of
the training-data extension surface (SURVEY.md §2.5), same family as
operators/multimodal.py.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .payload import synth_bytes

# ---------------------------------------------------------------------------
# MPEG audio (MP3) frame walk — ISO/IEC 11172-3 §2.4.1.3 header layout
# ---------------------------------------------------------------------------

# bitrate_kbps[(version_group, layer)][bitrate_index]; 0 = free-format
# (unsupported here), index 15 is invalid. version_group: 1 = MPEG-1,
# 2 = MPEG-2/2.5 (they share tables).
_MP3_BITRATES = {
    (1, 1): (0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448),
    (1, 2): (0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384),
    (1, 3): (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320),
    (2, 1): (0, 32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256),
    (2, 2): (0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),
    (2, 3): (0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),
}
# sample_rate[version][samplerate_index]; version: 3 = MPEG-1, 2 = MPEG-2,
# 0 = MPEG-2.5 (header encoding), index 3 reserved.
_MP3_RATES = {
    3: (44100, 48000, 32000),
    2: (22050, 24000, 16000),
    0: (11025, 12000, 8000),
}


def _mp3_frame_header(hdr: int):
    """Decode one 32-bit MPEG audio frame header; returns None if the sync
    word or any index field is invalid (the walker treats that as
    end-of-audio, tolerating trailing tags/garbage)."""
    if hdr >> 21 != 0x7FF:
        return None
    version_bits = (hdr >> 19) & 0x3  # 3=MPEG1, 2=MPEG2, 0=MPEG2.5, 1=reserved
    layer_bits = (hdr >> 17) & 0x3  # 3=Layer I, 2=Layer II, 1=Layer III
    bitrate_idx = (hdr >> 12) & 0xF
    rate_idx = (hdr >> 10) & 0x3
    padding = (hdr >> 9) & 0x1
    channel_mode = (hdr >> 6) & 0x3  # 3 = mono
    if version_bits == 1 or layer_bits == 0 or rate_idx == 3:
        return None
    if bitrate_idx in (0, 15):  # free-format / invalid
        return None
    layer = 4 - layer_bits  # 1, 2, 3
    vgroup = 1 if version_bits == 3 else 2
    bitrate = _MP3_BITRATES[(vgroup, layer)][bitrate_idx] * 1000
    sample_rate = _MP3_RATES[version_bits][rate_idx]
    if layer == 1:
        samples = 384
        frame_len = (12 * bitrate // sample_rate + padding) * 4
    elif layer == 2:
        samples = 1152
        frame_len = 144 * bitrate // sample_rate + padding
    else:  # Layer III: MPEG-1 1152 samples, MPEG-2/2.5 576
        samples = 1152 if vgroup == 1 else 576
        per = 144 if vgroup == 1 else 72
        frame_len = per * bitrate // sample_rate + padding
    return {
        "version": {3: "MPEG1", 2: "MPEG2", 0: "MPEG2.5"}[version_bits],
        "layer": layer,
        "bitrate": bitrate,
        "sample_rate": sample_rate,
        "samples": samples,
        "frame_len": frame_len,
        "channels": 1 if channel_mode == 3 else 2,
    }


def _id3v2_len(payload: bytes) -> int:
    """Bytes to skip for a leading ID3v2 tag (0 when absent). Size is
    4 synchsafe bytes (7 bits each); the footer flag adds 10."""
    if payload[:3] != b"ID3" or len(payload) < 10:
        return 0
    flags = payload[5]
    size = 0
    for b in payload[6:10]:
        if b & 0x80:  # not synchsafe -> not a valid tag; don't skip
            return 0
        size = (size << 7) | b
    return 10 + size + (10 if flags & 0x10 else 0)


def mp3_parse(payload: bytes) -> dict:
    """Walk the MPEG audio frames of an MP3 payload; no PCM is produced.

    Returns frame count, duration, sample rate/channels, average bitrate
    and whether a Xing/Info VBR tag was present — the tag's claimed frame
    count is returned (``vbr_frames``) and cross-checked against the walk
    (``vbr_frame_mismatch``): a mismatch signals truncation or a lying
    tag, surfaced rather than fatal because players tolerate both and a
    truncated tail already downgrades to "count complete frames only".
    Skips a leading ID3v2
    tag and stops cleanly at an ID3v1 ``TAG`` trailer or at the first
    byte run that is not a valid frame header (players do the same — the
    stream is self-synchronizing). Raises ValueError when no valid frame
    exists at all."""
    pos = _id3v2_len(payload)
    n_frames = 0
    total_samples = 0
    total_bitrate = 0
    sample_rate = None
    channels = None
    version = None
    layer = None
    vbr = False
    vbr_frames = None
    while pos + 4 <= len(payload):
        if payload[pos : pos + 3] == b"TAG":  # ID3v1 trailer (128 bytes)
            break
        hdr = _mp3_frame_header(struct.unpack_from(">I", payload, pos)[0])
        if hdr is None:
            break
        if pos + hdr["frame_len"] > len(payload):
            break  # truncated final frame: count only complete frames
        if n_frames == 0:
            sample_rate = hdr["sample_rate"]
            channels = hdr["channels"]
            version = hdr["version"]
            layer = hdr["layer"]
            # Xing/Info VBR tag sits after the side info of frame 1:
            # MPEG-1 mono 17 bytes / stereo 32; MPEG-2(.5) mono 9 / 17
            side = (
                (17 if hdr["channels"] == 1 else 32)
                if hdr["version"] == "MPEG1"
                else (9 if hdr["channels"] == 1 else 17)
            )
            tag_at = pos + 4 + side
            tag = payload[tag_at : tag_at + 4]
            if tag in (b"Xing", b"Info") and tag_at + 12 <= len(payload):
                vbr = tag == b"Xing"
                flags = struct.unpack_from(">I", payload, tag_at + 4)[0]
                if flags & 0x1:  # FRAMES field present
                    vbr_frames = struct.unpack_from(">I", payload, tag_at + 8)[0]
        n_frames += 1
        total_samples += hdr["samples"]
        total_bitrate += hdr["bitrate"]
        pos += hdr["frame_len"]
    if n_frames == 0:
        raise ValueError("no MPEG audio frame found")
    return {
        "kind": "audio",
        "container": "mp3",
        "version": version,
        "layer": layer,
        "sample_rate": sample_rate,
        "n_channels": channels,
        "n_frames": n_frames,
        "vbr": vbr,
        "vbr_frames": vbr_frames,
        "vbr_frame_mismatch": vbr_frames is not None and vbr_frames != n_frames,
        # integer microseconds so cross-engine comparison is exact
        "duration_us": total_samples * 1_000_000 // sample_rate,
        "avg_bitrate_kbps": total_bitrate // n_frames // 1000,
        "audio_bytes": pos - _id3v2_len(payload),
    }


# ---------------------------------------------------------------------------
# ISO-BMFF (MP4) box demux — ISO/IEC 14496-12 sample tables
# ---------------------------------------------------------------------------

_CONTAINER_BOXES = {b"moov", b"trak", b"mdia", b"minf", b"stbl"}


def _iter_boxes(payload: bytes, start: int, end: int):
    """Yield (type, body_start, body_end) for the boxes in [start, end).
    Handles 64-bit largesize (size==1) and to-end boxes (size==0);
    raises ValueError on a box that overruns its parent."""
    pos = start
    while pos + 8 <= end:
        size, btype = struct.unpack_from(">I4s", payload, pos)
        body = pos + 8
        if size == 1:
            if body + 8 > end:
                raise ValueError("truncated largesize box header")
            size = struct.unpack_from(">Q", payload, body)[0]
            body += 8
        elif size == 0:
            size = end - pos
        if size < body - pos or pos + size > end:
            raise ValueError(
                f"box {btype!r} overruns parent: size={size} at {pos}"
            )
        yield btype, body, pos + size
        pos += size
    if pos != end:
        raise ValueError(f"trailing bytes in box range: {end - pos}")


def _full_box(payload: bytes, start: int):
    """(version, flags, body_start) of a FullBox."""
    version = payload[start]
    flags = int.from_bytes(payload[start + 1 : start + 4], "big")
    return version, flags, start + 4


def _parse_mvhd(payload, start):
    v, _, p = _full_box(payload, start)
    if v == 1:
        timescale, duration = struct.unpack_from(">IQ", payload, p + 16)
    else:
        timescale, duration = struct.unpack_from(">II", payload, p + 8)
    return timescale, duration


def _parse_mdhd(payload, start):
    v, _, p = _full_box(payload, start)
    if v == 1:
        timescale, duration = struct.unpack_from(">IQ", payload, p + 16)
    else:
        timescale, duration = struct.unpack_from(">II", payload, p + 8)
    return timescale, duration


def _parse_tkhd(payload, start):
    v, _, p = _full_box(payload, start)
    # v1: ctime8 mtime8 id4; v0: ctime4 mtime4 id4
    track_id = struct.unpack_from(">I", payload, p + (16 if v == 1 else 8))[0]
    return track_id


def _u32_table(payload, p, n, width=4):
    if n < 0 or p + n * width > len(payload):
        raise ValueError(
            f"ISO-BMFF table of {n} entries overruns payload"
        )
    fmt = ">%d%s" % (n, "I" if width == 4 else "Q")
    return list(struct.unpack_from(fmt, payload, p))


def _parse_stbl(payload: bytes, start: int, end: int) -> dict:
    """Parse the sample-table box into flat per-sample arrays."""
    codec = None
    deltas: list[tuple[int, int]] = []  # (count, delta)
    sync: set[int] | None = None  # 1-based sample numbers; None = all sync
    uniform_size = 0
    sizes: list[int] = []
    stsc: list[tuple[int, int]] = []  # (first_chunk, samples_per_chunk)
    chunk_offsets: list[int] = []
    for btype, b, e in _iter_boxes(payload, start, end):
        if btype == b"stsd":
            _, _, p = _full_box(payload, b)
            n_entries = struct.unpack_from(">I", payload, p)[0]
            if n_entries >= 1:
                codec = payload[p + 8 : p + 12].decode("latin-1")
        elif btype == b"stts":
            _, _, p = _full_box(payload, b)
            n = struct.unpack_from(">I", payload, p)[0]
            vals = _u32_table(payload, p + 4, 2 * n)
            deltas = list(zip(vals[0::2], vals[1::2]))
        elif btype == b"stss":
            _, _, p = _full_box(payload, b)
            n = struct.unpack_from(">I", payload, p)[0]
            sync = set(_u32_table(payload, p + 4, n))
        elif btype == b"stsz":
            _, _, p = _full_box(payload, b)
            uniform_size, n = struct.unpack_from(">II", payload, p)
            if uniform_size == 0:
                sizes = _u32_table(payload, p + 8, n)
            else:
                # uniform-size path: n is NOT backed by table bytes, so
                # a corrupt count would allocate unbounded lists (a
                # fuzz-found multi-minute stall). 2^26 samples ≈ a 31 h
                # 60 fps track — far past any real container.
                if n > (1 << 26):
                    raise ValueError(
                        f"stsz sample count {n} past sanity cap"
                    )
                sizes = [uniform_size] * n
        elif btype == b"stsc":
            _, _, p = _full_box(payload, b)
            n = struct.unpack_from(">I", payload, p)[0]
            vals = _u32_table(payload, p + 4, 3 * n)
            stsc = list(zip(vals[0::3], vals[1::3]))
        elif btype == b"stco":
            _, _, p = _full_box(payload, b)
            n = struct.unpack_from(">I", payload, p)[0]
            chunk_offsets = _u32_table(payload, p + 4, n)
        elif btype == b"co64":
            _, _, p = _full_box(payload, b)
            n = struct.unpack_from(">I", payload, p)[0]
            chunk_offsets = _u32_table(payload, p + 4, n, width=8)
    n_samples = len(sizes)
    if sum(c for c, _ in deltas) != n_samples:
        raise ValueError(
            f"stts sample count {sum(c for c, _ in deltas)} != stsz {n_samples}"
        )
    # expand stsc runs over the chunk list: entry k applies from its
    # first_chunk (1-based) until the next entry's first_chunk
    per_chunk: list[int] = []
    for k, (first, spc) in enumerate(stsc):
        last = (
            stsc[k + 1][0] - 1 if k + 1 < len(stsc) else len(chunk_offsets)
        )
        if last > len(chunk_offsets):
            # a later entry's first_chunk is a raw u32 — corrupt values
            # would size the expansion below (fuzz-found stall)
            raise ValueError(
                f"stsc first_chunk {last + 1} past chunk count "
                f"{len(chunk_offsets)}"
            )
        if first < 1 or first > last + 1:
            raise ValueError(f"stsc first_chunk {first} out of order")
        per_chunk.extend([spc] * (last - first + 1))
    if sum(per_chunk) != n_samples:
        raise ValueError(
            f"stsc maps {sum(per_chunk)} samples, stsz has {n_samples}"
        )
    # per-sample dts (in media timescale units) from the delta runs
    dts: list[int] = []
    t = 0
    for count, delta in deltas:
        for _ in range(count):
            dts.append(t)
            t += delta
    # per-sample byte offset from chunk offsets + intra-chunk prefix sums
    offsets: list[int] = []
    s = 0
    for chunk_idx, spc in enumerate(per_chunk):
        at = chunk_offsets[chunk_idx]
        for _ in range(spc):
            offsets.append(at)
            at += sizes[s]
            s += 1
    keyframe = [
        True if sync is None else (i + 1) in sync for i in range(n_samples)
    ]
    return {
        "codec": codec,
        "sizes": sizes,
        "offsets": offsets,
        "dts": dts,
        "keyframe": keyframe,
        "media_duration": t,
    }


def _parse_moof(payload, moof_start, body_start, body_end, trex, frag):
    """One movie fragment: per-traf tfhd defaults + tfdt decode time +
    trun sample runs, appended into ``frag[track_id]`` flat arrays
    (sizes / absolute offsets / dts / keyframe) — the same shape
    _parse_stbl produces, so fragmented and plain samples merge."""
    for ttype, tb, te in _iter_boxes(payload, body_start, body_end):
        if ttype != b"traf":
            continue
        tfhd = None
        tfdt_time = 0
        truns = []
        for ftype, fb, fe in _iter_boxes(payload, tb, te):
            if ftype == b"tfhd":
                _v, flags, p = _full_box(payload, fb)
                tid = struct.unpack_from(">I", payload, p)[0]
                p += 4
                base = None
                if flags & 0x1:  # base-data-offset
                    base = struct.unpack_from(">Q", payload, p)[0]
                    p += 8
                if flags & 0x2:  # sample-description-index
                    p += 4
                ddur = dsize = dflags = None
                if flags & 0x8:
                    ddur = struct.unpack_from(">I", payload, p)[0]
                    p += 4
                if flags & 0x10:
                    dsize = struct.unpack_from(">I", payload, p)[0]
                    p += 4
                if flags & 0x20:
                    dflags = struct.unpack_from(">I", payload, p)[0]
                    p += 4
                tfhd = (tid, base, ddur, dsize, dflags, flags)
            elif ftype == b"tfdt":
                ver, _f, p = _full_box(payload, fb)
                tfdt_time = struct.unpack_from(
                    ">Q" if ver == 1 else ">I", payload, p
                )[0]
            elif ftype == b"trun":
                truns.append(fb)
        if tfhd is None:
            raise ValueError("traf without tfhd")
        tid, base, ddur, dsize, dflags, hflags = tfhd
        xdur, xsize, xflags = trex.get(tid, (None, None, None))
        ddur = ddur if ddur is not None else xdur
        dsize = dsize if dsize is not None else xsize
        dflags = dflags if dflags is not None else xflags
        if base is None:
            # default-base-is-moof (0x020000), and the spec's fallback
            # for the first traf, both anchor at the moof box itself
            base = moof_start
        tr = frag.setdefault(
            tid, {"sizes": [], "offsets": [], "dts": [], "keyframe": []}
        )
        t = tfdt_time
        for fb in truns:
            _v, flags, p = _full_box(payload, fb)
            n = struct.unpack_from(">I", payload, p)[0]
            p += 4
            data_off = 0
            if flags & 0x1:
                data_off = struct.unpack_from(">i", payload, p)[0]
                p += 4
            first_flags = None
            if flags & 0x4:
                first_flags = struct.unpack_from(">I", payload, p)[0]
                p += 4
            at = base + data_off
            for i in range(n):
                dur, size, sflags = ddur, dsize, dflags
                if flags & 0x100:
                    dur = struct.unpack_from(">I", payload, p)[0]
                    p += 4
                if flags & 0x200:
                    size = struct.unpack_from(">I", payload, p)[0]
                    p += 4
                if flags & 0x400:
                    sflags = struct.unpack_from(">I", payload, p)[0]
                    p += 4
                if flags & 0x800:  # composition offset: dts unaffected
                    p += 4
                if i == 0 and first_flags is not None:
                    sflags = first_flags
                if size is None or dur is None:
                    raise ValueError(
                        "trun sample without size/duration (no default)"
                    )
                # sample_is_non_sync_sample is flag bit 16; absent
                # flags (no per-sample, no default, no trex) mean sync
                tr["sizes"].append(size)
                tr["offsets"].append(at)
                tr["dts"].append(t)
                tr["keyframe"].append(
                    sflags is None or not (sflags & 0x10000)
                )
                at += size
                t += dur
        tr["end_dts"] = t


def mp4_demux(payload: bytes) -> dict:
    """Demux an ISO-BMFF (MP4/MOV) payload: brand, movie timescale and
    duration, and per-track sample tables (codec, per-sample byte
    offset/size, decode timestamp, keyframe flag) — from the plain
    ``moov/stbl`` index AND from movie fragments (``moof/traf/trun``,
    r11): fMP4/DASH/CMAF segments demux with trex/tfhd defaults, tfdt
    decode times, per-sample or default trun flags (bit 16 =
    non-sync), and base-data-offset / default-base-is-moof anchoring;
    fragment samples append after any stbl samples of the same track.

    This is the entire metadata surface a frame-sampling pipeline needs —
    the payload's media data (``mdat``) is never interpreted, only
    addressed. Raises ValueError on structural corruption (overrunning
    boxes, inconsistent sample tables) and NotImplementedError never:
    bitstream decode simply isn't attempted here."""
    if len(payload) < 12 or payload[4:8] != b"ftyp":
        raise ValueError("not an ISO-BMFF payload (no leading ftyp)")
    brand = payload[8:12].decode("latin-1")
    timescale = None
    duration = 0
    tracks = []
    trex: dict[int, tuple] = {}
    frag: dict[int, dict] = {}
    for btype, b, e in _iter_boxes(payload, 0, len(payload)):
        if btype != b"moov":
            continue
        for mtype, mb, me in _iter_boxes(payload, b, e):
            if mtype == b"mvhd":
                timescale, duration = _parse_mvhd(payload, mb)
            elif mtype == b"mvex":
                for xtype, xb, _xe in _iter_boxes(payload, mb, me):
                    if xtype == b"trex":
                        _v, _f, xp = _full_box(payload, xb)
                        tid, _sdi, ddur, dsize, dflags = struct.unpack_from(
                            ">IIIII", payload, xp
                        )
                        trex[tid] = (ddur, dsize, dflags)
            elif mtype == b"trak":
                track_id = None
                handler = None
                mdhd_ts = None
                mdhd_dur = 0
                stbl = None
                elst_entries = None
                for ttype, tb, te in _iter_boxes(payload, mb, me):
                    if ttype == b"tkhd":
                        track_id = _parse_tkhd(payload, tb)
                    elif ttype == b"edts":
                        for etype, eb, _ee in _iter_boxes(payload, tb, te):
                            if etype == b"elst":
                                v, _f, ep = _full_box(payload, eb)
                                (cnt,) = struct.unpack_from(
                                    ">I", payload, ep
                                )
                                ep += 4
                                elst_entries = []
                                for _ in range(cnt):
                                    if v == 1:
                                        dur, mt = struct.unpack_from(
                                            ">Qq", payload, ep
                                        )
                                        ep += 16
                                    else:
                                        dur, mt = struct.unpack_from(
                                            ">Ii", payload, ep
                                        )
                                        ep += 8
                                    ep += 4  # media_rate fixed-point
                                    elst_entries.append((dur, mt))
                    elif ttype == b"mdia":
                        for dtype, db, de in _iter_boxes(payload, tb, te):
                            if dtype == b"mdhd":
                                mdhd_ts, mdhd_dur = _parse_mdhd(payload, db)
                            elif dtype == b"hdlr":
                                handler = payload[db + 8 : db + 12].decode(
                                    "latin-1"
                                )
                            elif dtype == b"minf":
                                for n2, b2, e2 in _iter_boxes(
                                    payload, db, de
                                ):
                                    if n2 == b"stbl":
                                        stbl = _parse_stbl(payload, b2, e2)
                if stbl is None or mdhd_ts is None:
                    raise ValueError("trak without stbl/mdhd")
                if mdhd_ts <= 0:
                    raise ValueError("mdhd timescale must be positive")
                edit_delay = None
                media_start = None
                if elst_entries is not None:
                    edit_delay = 0
                    for dur, mt in elst_entries:
                        if mt == -1:  # empty edit: movie-timescale delay
                            edit_delay += dur
                        elif media_start is None:
                            media_start = mt  # media-timescale trim
                tracks.append(
                    {
                        "track_id": track_id,
                        "handler": handler,
                        "timescale": mdhd_ts,
                        "duration_us": mdhd_dur * 1_000_000 // mdhd_ts,
                        "elst_raw": (edit_delay, media_start)
                        if elst_entries is not None
                        else None,
                        **stbl,
                    }
                )
    if timescale is None:
        raise ValueError("no moov/mvhd found")
    if timescale <= 0:
        raise ValueError("mvhd timescale must be positive")
    for t in tracks:
        raw = t.pop("elst_raw", None)
        if raw is None:
            t["edit_delay_ms"] = None
            t["media_start_ms"] = None
        else:
            delay, mstart = raw
            t["edit_delay_ms"] = delay * 1000 // timescale
            t["media_start_ms"] = (
                None
                if mstart is None
                else mstart * 1000 // t["timescale"]
            )
    # movie FRAGMENTS (fMP4 / DASH / CMAF — the shape streaming video
    # actually lands in): walk top-level moof boxes with their header
    # offsets (base-data-offset defaults anchor at the moof box itself)
    pos = 0
    while pos + 8 <= len(payload):
        size, btype4 = struct.unpack_from(">I4s", payload, pos)
        hdr = 8
        if size == 1:
            size = struct.unpack_from(">Q", payload, pos + 8)[0]
            hdr = 16
        elif size == 0:
            size = len(payload) - pos
        if size < hdr or pos + size > len(payload):
            raise ValueError(f"box {btype4!r} overruns payload")
        if btype4 == b"moof":
            _parse_moof(payload, pos, pos + hdr, pos + size, trex, frag)
        pos += size
    for t in tracks:
        f = frag.get(t["track_id"])
        if not f:
            continue
        t["sizes"] = t["sizes"] + f["sizes"]
        t["offsets"] = t["offsets"] + f["offsets"]
        t["dts"] = t["dts"] + f["dts"]
        t["keyframe"] = t["keyframe"] + f["keyframe"]
        end = f.get("end_dts", t["media_duration"])
        t["media_duration"] = max(t["media_duration"], end)
        t["duration_us"] = max(
            t["duration_us"], end * 1_000_000 // t["timescale"]
        )
    return {
        "container": "mp4",
        "brand": brand,
        "timescale": timescale,
        "duration_us": duration * 1_000_000 // timescale,
        "tracks": tracks,
    }


# ---------------------------------------------------------------------------
# Deterministic payload builders (fixtures): closed-form in (doc_id, n)
# so the registry oracle can re-derive every demuxed row in SQL.
# ---------------------------------------------------------------------------


def _box(btype: bytes, body: bytes) -> bytes:
    return struct.pack(">I4s", 8 + len(body), btype) + body


def _full(btype: bytes, version: int, body: bytes) -> bytes:
    return _box(btype, bytes([version, 0, 0, 0]) + body)


def synth_mp4_bytes(doc_id: int, n_chars: int) -> bytes:
    """Deterministic one-video-track MP4. Layout puts ``mdat`` BEFORE
    ``moov`` so every sample's absolute offset is independent of the
    index size: data starts at 32 = len(ftyp)=24 + mdat header 8.

    Closed form (mirrored by the registry oracle SQL):
      n_samples   = n_chars % 7 + 2
      size(i)     = (doc_id + 13*i) % 240 + 16          (0-based i)
      offset(i)   = 32 + sum_{j<i} size(j)
      dts_ms(i)   = 40 * i                               (timescale 1000)
      keyframe(i) = i % 3 == 0                           (via stss)
    Chunking: 2 samples per chunk (last chunk may hold 1) — exercises a
    2-entry stsc run map and real stco arithmetic rather than the
    trivial one-chunk case."""
    n = n_chars % 7 + 2
    sizes = [(doc_id + 13 * i) % 240 + 16 for i in range(n)]
    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isommp41")
    assert len(ftyp) == 24
    mdat = _box(b"mdat", bytes(sum(sizes)))
    data_start = len(ftyp) + 8
    # chunks of 2 samples (possibly a final 1-sample chunk)
    chunk_offsets = []
    at = data_start
    for c in range(0, n, 2):
        chunk_offsets.append(at)
        at += sum(sizes[c : c + 2])
    n_chunks = len(chunk_offsets)
    duration = 40 * n  # timescale 1000 -> ms
    stsd = _full(
        b"stsd",
        0,
        struct.pack(">I", 1)
        + struct.pack(">I4s", 16, b"mp4v")
        + bytes(8),
    )
    stts = _full(b"stts", 0, struct.pack(">III", 1, n, 40))
    stss = _full(
        b"stss",
        0,
        struct.pack(">I", (n + 2) // 3)
        + b"".join(struct.pack(">I", i + 1) for i in range(0, n, 3)),
    )
    stsz = _full(
        b"stsz",
        0,
        struct.pack(">II", 0, n)
        + b"".join(struct.pack(">I", s) for s in sizes),
    )
    if n % 2 == 1:  # final 1-sample chunk needs its own stsc entry
        stsc_entries = [(1, 2), (n_chunks, 1)] if n_chunks > 1 else [(1, 1)]
    else:
        stsc_entries = [(1, 2)]
    stsc = _full(
        b"stsc",
        0,
        struct.pack(">I", len(stsc_entries))
        + b"".join(
            struct.pack(">III", f, s, 1) for f, s in stsc_entries
        ),
    )
    stco = _full(
        b"stco",
        0,
        struct.pack(">I", n_chunks)
        + b"".join(struct.pack(">I", o) for o in chunk_offsets),
    )
    stbl = _box(b"stbl", stsd + stts + stss + stsz + stsc + stco)
    minf = _box(b"minf", stbl)
    hdlr = _full(b"hdlr", 0, struct.pack(">I4s", 0, b"vide") + bytes(13))
    mdhd = _full(b"mdhd", 0, struct.pack(">IIII", 0, 0, 1000, duration) + bytes(4))
    mdia = _box(b"mdia", mdhd + hdlr + minf)
    tkhd = _full(b"tkhd", 0, struct.pack(">III", 0, 0, 1) + bytes(72))
    trak = _box(b"trak", tkhd + mdia)
    mvhd = _full(b"mvhd", 0, struct.pack(">IIII", 0, 0, 1000, duration) + bytes(80))
    moov = _box(b"moov", mvhd + trak)
    return ftyp + mdat + moov


def synth_fmp4_bytes(doc_id: int, n_chars: int) -> bytes:
    """Deterministic FRAGMENTED one-video-track MP4 (fMP4 — the
    DASH/CMAF shape): a sample-less ``moov`` init (empty stbl + mvex/
    trex defaults) followed by two ``moof`` fragments whose trun tables
    carry per-sample sizes and flags, with tfhd base-data-offset
    pointing into a single up-front ``mdat``. Same closed form as
    synth_mp4_bytes (data still starts at byte 32):
      n_samples   = n_chars % 7 + 2
      size(i)     = (doc_id + 13*i) % 240 + 16          (0-based i)
      offset(i)   = 32 + sum_{j<i} size(j)
      dts_ms(i)   = 40 * i   (tfdt v1 + tfhd default duration 40)
      keyframe(i) = i % 3 == 0   (per-sample trun flags, bit 16)
    Fragment 1 holds ceil(n/2) samples; fragment 2 adds composition
    offsets (all zero) to exercise that trun layout too."""
    n = n_chars % 7 + 2
    sizes = [(doc_id + 13 * i) % 240 + 16 for i in range(n)]
    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"cmfciso6")
    assert len(ftyp) == 24
    mdat = _box(b"mdat", bytes(sum(sizes)))
    duration = 40 * n
    stsd = _full(
        b"stsd",
        0,
        struct.pack(">I", 1) + struct.pack(">I4s", 16, b"mp4v") + bytes(8),
    )
    stts = _full(b"stts", 0, struct.pack(">I", 0))
    stsz = _full(b"stsz", 0, struct.pack(">II", 0, 0))
    stsc = _full(b"stsc", 0, struct.pack(">I", 0))
    stco = _full(b"stco", 0, struct.pack(">I", 0))
    stbl = _box(b"stbl", stsd + stts + stsz + stsc + stco)
    minf = _box(b"minf", stbl)
    hdlr = _full(b"hdlr", 0, struct.pack(">I4s", 0, b"vide") + bytes(13))
    mdhd = _full(
        b"mdhd", 0, struct.pack(">IIII", 0, 0, 1000, duration) + bytes(4)
    )
    mdia = _box(b"mdia", mdhd + hdlr + minf)
    tkhd = _full(b"tkhd", 0, struct.pack(">III", 0, 0, 1) + bytes(72))
    trak = _box(b"trak", tkhd + mdia)
    # trex: default duration 40 (also in tfhd, belt and braces),
    # default flags = non-sync — per-sample trun flags override it
    trex = _full(
        b"trex", 0, struct.pack(">IIIII", 1, 1, 40, 0, 0x10000)
    )
    mvex = _box(b"mvex", trex)
    mvhd = _full(
        b"mvhd", 0, struct.pack(">IIII", 0, 0, 1000, duration) + bytes(80)
    )
    moov = _box(b"moov", mvhd + mvex + trak)

    def frag(seq: int, start: int, stop: int, with_cts: bool) -> bytes:
        mfhd = _full(b"mfhd", 0, struct.pack(">I", seq))
        base = 32 + sum(sizes[:start])
        # tfhd flags: 0x1 base-data-offset + 0x8 default-sample-duration
        tfhd = _box(
            b"tfhd",
            bytes([0, 0, 0, 0x09])
            + struct.pack(">IQI", 1, base, 40),
        )
        tfdt = _full(b"tfdt", 1, struct.pack(">Q", 40 * start))
        # trun flags: 0x1 data-offset + 0x200 sizes + 0x400 flags
        # (+ 0x800 composition offsets in fragment 2)
        tflags = 0x601 | (0x800 if with_cts else 0)
        body = struct.pack(">I", stop - start) + struct.pack(">i", 0)
        for i in range(start, stop):
            body += struct.pack(">I", sizes[i])
            body += struct.pack(">I", 0 if i % 3 == 0 else 0x10000)
            if with_cts:
                body += struct.pack(">I", 0)
        trun = _box(
            b"trun", bytes([0, (tflags >> 16) & 0xFF, (tflags >> 8) & 0xFF, tflags & 0xFF]) + body
        )
        traf = _box(b"traf", tfhd + tfdt + trun)
        return _box(b"moof", mfhd + traf)

    h = (n + 1) // 2
    return ftyp + mdat + moov + frag(1, 0, h, False) + frag(2, h, n, True)


def synth_mp3_bytes(doc_id: int, n_chars: int) -> bytes:
    """Deterministic CBR MP3: MPEG-1 Layer III, 64 kbps, 32000 Hz, mono,
    no padding — frame length is EXACTLY 144*64000/32000 = 288 bytes, so
    every derived quantity is integer closed-form:
      n_frames    = n_chars % 20 + 5
      total_bytes = 288 * n_frames
      duration_us = n_frames * 1152 * 1000000 / 32000  (exact: 36000*n)
    Frame body bytes are a doc_id-seeded LCG — irrelevant to the walker,
    present so payloads differ per document."""
    n_frames = n_chars % 20 + 5
    # sync fff, MPEG1 (11), Layer III (01), no CRC (1) -> 0xFFFB;
    # bitrate idx 5 (64 kbps), rate idx 2 (32000), no padding -> 0x58;
    # mono (11) -> 0xC0
    header = bytes((0xFF, 0xFB, 0x58, 0xC0))
    frames = []
    x = (doc_id * 2654435761 + 1) & 0xFFFFFFFF
    body = bytearray()
    for _ in range(284):
        x = (x * 1103515245 + 12345) & 0xFFFFFFFF
        body.append((x >> 16) & 0xFF)
    # the walker sniffs frame offset 21..25 (MPEG-1 mono side info = 17)
    # for a Xing/Info tag — keep those LCG bytes zero so no doc_id can
    # accidentally synthesize a VBR header (body idx = frame offset - 4)
    body[17:21] = b"\x00" * 4
    for _ in range(n_frames):
        frames.append(header + bytes(body))
    return b"".join(frames)


# ---------------------------------------------------------------------------
# DataFrame operators: demux plans over binary media columns
# ---------------------------------------------------------------------------

MP4_SAMPLE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("track_id", IntegerType(), True),
        StructField("handler", StringType(), True),
        StructField("codec", StringType(), True),
        StructField("sample_idx", IntegerType(), True),
        StructField("byte_offset", LongType(), True),
        StructField("size", LongType(), True),
        StructField("keyframe", BooleanType(), True),
        StructField("dts_ms", LongType(), True),
        StructField("parse_error", StringType(), True),
    ]
)

MP3_META_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("sample_rate", IntegerType(), True),
        StructField("n_channels", IntegerType(), True),
        StructField("n_frames", IntegerType(), True),
        StructField("duration_us", LongType(), True),
        StructField("avg_bitrate_kbps", IntegerType(), True),
        StructField("vbr", BooleanType(), True),
        StructField("audio_bytes", LongType(), True),
        StructField("parse_error", StringType(), True),
    ]
)


def mp4_sample_ranges(media: DataFrame) -> DataFrame:
    """Demux MP4 payloads into one row per (track, sample): absolute byte
    offset + size + keyframe + decode timestamp — the byte-range fetch
    plan downstream frame extraction consumes.

    Scale shape: mapInPandas over the payload column, Arrow-batched; the
    parse touches only the moov index, cost O(index), and the output is
    a few dozen integer rows per file — the 100 TB pattern where the
    heavy mdat bytes are addressed, never shuffled.

    A payload that fails structural validation QUARANTINES (one row with
    ``parse_error`` set, sample columns NULL) instead of killing the
    task — at crawl scale a corrupt file is a certainty and an uncaught
    ValueError fails the whole stage after retries. Callers route with
    ``filter(parse_error IS NULL)`` / ``IS NOT NULL`` (the
    ingest.quarantine contract)."""

    def _demux(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for batch in batches:
            rows = []
            for media_id, payload in zip(batch["media_id"], batch["payload"]):
                try:
                    info = mp4_demux(bytes(payload))
                except (ValueError, struct.error) as e:
                    # struct.unpack_from on a corrupt stbl (entry count
                    # past the buffer) raises struct.error, a direct
                    # Exception subclass — it must quarantine like any
                    # ValueError, never kill the task (r10 advisor)
                    msg = (
                        str(e)
                        if isinstance(e, ValueError)
                        else f"ISO-BMFF field overruns payload: {e}"
                    )
                    rows.append((int(media_id),) + (None,) * 8 + (msg,))
                    continue
                for t in info["tracks"]:
                    ts = t["timescale"]
                    for i in range(len(t["sizes"])):
                        rows.append(
                            (
                                int(media_id),
                                int(t["track_id"]),
                                t["handler"],
                                t["codec"],
                                i,
                                t["offsets"][i],
                                t["sizes"][i],
                                t["keyframe"][i],
                                t["dts"][i] * 1000 // ts,
                                None,
                            )
                        )
            yield pd.DataFrame(
                rows, columns=[f.name for f in MP4_SAMPLE_SCHEMA.fields]
            )

    return media.select("media_id", "payload").mapInPandas(
        _demux, MP4_SAMPLE_SCHEMA
    )


def mp4_keyframe_plan(
    media: DataFrame, every_ms: int = 1000, track_handler: str = "vide"
) -> DataFrame:
    """Evenly-spaced keyframe selection over the demuxed sample table:
    for each video track, keep the first keyframe at-or-after every
    ``every_ms`` grid point — the standard thumbnail/training-frame
    sampling plan, computed entirely from container metadata.

    Pure DataFrame composition over mp4_sample_ranges: grid bucket =
    dts_ms / every_ms; within a bucket the earliest keyframe wins
    (min_by), so cost is one partial-aggregable groupBy — no window
    sort, no payload bytes."""
    samples = mp4_sample_ranges(media).filter(
        (F.col("handler") == track_handler) & F.col("keyframe")
    )
    bucket = (F.col("dts_ms") / F.lit(every_ms)).cast("long")
    return (
        samples.groupBy("media_id", "track_id", bucket.alias("grid_idx"))
        .agg(
            F.min_by(
                F.struct("dts_ms", "sample_idx", "byte_offset", "size"),
                F.struct("dts_ms", "sample_idx"),
            ).alias("pick")
        )
        .select(
            "media_id",
            "track_id",
            "grid_idx",
            F.col("pick.sample_idx").alias("sample_idx"),
            F.col("pick.byte_offset").alias("byte_offset"),
            F.col("pick.size").alias("size"),
            F.col("pick.dts_ms").alias("dts_ms"),
        )
    )


def mp3_audio_metadata(media: DataFrame) -> DataFrame:
    """Frame-walk MP3 payloads into per-file audio metadata (no PCM):
    sample rate, frame count, exact integer duration, average bitrate,
    VBR flag. mapInPandas, Arrow-batched, linear in payload size.
    A payload with no valid MPEG frame quarantines as one row with
    ``parse_error`` set and metadata NULL — never a dead task (same
    contract as mp4_sample_ranges)."""

    def _walk(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for batch in batches:
            rows = []
            for media_id, payload in zip(batch["media_id"], batch["payload"]):
                try:
                    m = mp3_parse(bytes(payload))
                except (ValueError, struct.error) as e:
                    # symmetry with mp4_sample_ranges: unpack_from past
                    # the buffer quarantines, never kills the task
                    msg = (
                        str(e)
                        if isinstance(e, ValueError)
                        else f"MP3 field overruns payload: {e}"
                    )
                    rows.append((int(media_id),) + (None,) * 7 + (msg,))
                    continue
                rows.append(
                    (
                        int(media_id),
                        m["sample_rate"],
                        m["n_channels"],
                        m["n_frames"],
                        m["duration_us"],
                        m["avg_bitrate_kbps"],
                        m["vbr"],
                        m["audio_bytes"],
                        None,
                    )
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in MP3_META_SCHEMA.fields]
            )

    return media.select("media_id", "payload").mapInPandas(
        _walk, MP3_META_SCHEMA
    )


def synth_fmp4_media(documents: DataFrame) -> DataFrame:
    """(media_id, payload) of fragmented MP4s, one per document —
    executor-side builder, same pattern as synth_container_media."""
    return documents.select(
        F.col("doc_id").alias("media_id"),
        synth_bytes(synth_fmp4_bytes, "doc_id", "n_chars").alias("payload"),
    )


# ---------------------------------------------------------------------------
# Subtitle / caption companion streams (SRT, WebVTT) — the text half of a
# video training corpus: cue-aligned transcripts for frame/caption pairs
# ---------------------------------------------------------------------------


def _sub_time_ms(tok: str) -> int:
    """``HH:MM:SS,mmm`` (SRT) or ``[HH:]MM:SS.mmm`` (WebVTT) to ms."""
    tok = tok.strip().replace(",", ".")
    parts = tok.split(":")
    if len(parts) == 2:
        parts = ["0"] + parts
    if len(parts) != 3:
        raise ValueError(f"bad subtitle timestamp: {tok!r}")
    h, m = int(parts[0]), int(parts[1])
    sec = parts[2]
    if "." in sec:
        s, frac = sec.split(".", 1)
        ms = int((frac + "000")[:3])
    else:
        s, ms = sec, 0
    return ((h * 60 + m) * 60 + int(s)) * 1000 + ms


def subtitle_cues_parse(payload: bytes) -> list[dict]:
    """Parse an SRT or WebVTT payload into cue dicts (cue_idx 0-based,
    start_ms, end_ms, text with internal newlines joined by a space).
    Format is sniffed: a ``WEBVTT`` magic line means VTT (NOTE/STYLE
    blocks and cue settings after the arrow are skipped; optional cue
    identifiers tolerated); otherwise SRT (numeric index lines).
    Raises ValueError on structural corruption — a reversed time range,
    a block with no arrow line — so the walker can quarantine.

    ASS/SSA (Advanced SubStation) detects on a ``[Script Info]``
    section: the ``[Events]`` Format line defines the field order,
    Dialogue lines split on commas up to the Text field (which may
    itself contain commas), times are H:MM:SS.cc centiseconds, and
    override tags ``{\\...}`` plus ``\\N``/``\\h`` escapes normalize
    away — the same cue shape as SRT/VTT comes out."""
    text = payload.decode("utf-8-sig", errors="replace")
    lines = text.replace("\r\n", "\n").replace("\r", "\n").split("\n")
    if any(ln.strip().lower() == "[script info]" for ln in lines[:8]):
        return _ass_cues_parse(lines)
    is_vtt = bool(lines) and lines[0].strip().startswith("WEBVTT")
    if is_vtt:
        lines = lines[1:]
    # split into blank-line-separated blocks
    blocks: list[list[str]] = []
    cur: list[str] = []
    for ln in lines:
        if ln.strip():
            cur.append(ln)
        elif cur:
            blocks.append(cur)
            cur = []
    if cur:
        blocks.append(cur)
    cues = []
    for block in blocks:
        if is_vtt and block[0].strip().split(" ")[0] in ("NOTE", "STYLE", "REGION"):
            continue
        arrow_at = next(
            (i for i, ln in enumerate(block) if "-->" in ln), None
        )
        if arrow_at is None:
            if not is_vtt and len(block) == 1 and block[0].strip().isdigit():
                continue  # stray index block
            raise ValueError(
                f"subtitle block without a cue timing line: {block[0]!r}"
            )
        timing = block[arrow_at]
        left, _, right = timing.partition("-->")
        start = _sub_time_ms(left)
        # VTT allows settings after the end time: take the first token
        end = _sub_time_ms(right.strip().split(" ")[0])
        if end < start:
            raise ValueError(f"subtitle cue ends before it starts: {timing!r}")
        body = " ".join(s.strip() for s in block[arrow_at + 1 :]).strip()
        cues.append(
            {
                "cue_idx": len(cues),
                "start_ms": start,
                "end_ms": end,
                "text": body,
            }
        )
    if not cues:
        raise ValueError("no subtitle cues in payload")
    return cues


def _ass_time_ms(tok: str) -> int:
    """H:MM:SS.cc (centiseconds) -> ms; ValueError on malformed."""
    import re as _re

    m = _re.fullmatch(r"(\d+):(\d{2}):(\d{2})[.:](\d{2})", tok.strip())
    if m is None:
        raise ValueError(f"bad ASS time {tok!r}")
    h, mi, s, cs = (int(g) for g in m.groups())
    return ((h * 60 + mi) * 60 + s) * 1000 + cs * 10


def _ass_cues_parse(lines: list[str]) -> list[dict]:
    """ASS/SSA Events section -> the common cue shape."""
    import re as _re

    in_events = False
    fields: list[str] | None = None
    cues: list[dict] = []
    for ln in lines:
        stripped = ln.strip()
        if stripped.startswith("["):
            in_events = stripped.lower() == "[events]"
            continue
        if not in_events or not stripped:
            continue
        key, _, rest = stripped.partition(":")
        key = key.strip().lower()
        if key == "format":
            fields = [f.strip().lower() for f in rest.split(",")]
        elif key == "dialogue":
            if fields is None or not {"text", "start", "end"} <= set(
                fields
            ):
                raise ValueError(
                    "ASS Dialogue before a Format line with Start/End/Text"
                )
            vals = rest.strip().split(",", len(fields) - 1)
            if len(vals) < len(fields):
                raise ValueError(f"ASS Dialogue with too few fields: {rest!r}")
            row = dict(zip(fields, vals))
            start = _ass_time_ms(row["start"])
            end = _ass_time_ms(row["end"])
            if end < start:
                raise ValueError(
                    f"ASS cue ends before it starts: {rest!r}"
                )
            body = _re.sub(r"\{[^}]*\}", "", row["text"])
            body = (
                body.replace("\\N", " ")
                .replace("\\n", " ")
                .replace("\\h", " ")
                .strip()
            )
            body = _re.sub(r"\s+", " ", body)
            cues.append(
                {
                    "cue_idx": len(cues),
                    "start_ms": start,
                    "end_ms": end,
                    "text": body,
                }
            )
    if not cues:
        raise ValueError("no subtitle cues in payload")
    return cues


SUBTITLE_CUE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("format", StringType(), True),
        StructField("cue_idx", IntegerType(), True),
        StructField("start_ms", LongType(), True),
        StructField("end_ms", LongType(), True),
        StructField("text", StringType(), True),
        StructField("parse_error", StringType(), True),
    ]
)


def subtitle_cues(media: DataFrame) -> DataFrame:
    """Explode (media_id, payload) subtitle files into one row per cue
    — mapInPandas, linear in subtitle bytes, embarrassingly parallel;
    structural corruption routes to a parse_error row (the walker
    quarantine contract, same as the WARC/MP4 walkers)."""

    def _walk(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for batch in batches:
            rows = []
            for media_id, payload in zip(batch["media_id"], batch["payload"]):
                raw = bytes(payload)
                head = raw.lstrip(b"\xef\xbb\xbf")
                if head.startswith(b"WEBVTT"):
                    fmt = "vtt"
                elif b"[Script Info]" in head[:512]:
                    fmt = "ass"
                else:
                    fmt = "srt"
                try:
                    for c in subtitle_cues_parse(raw):
                        rows.append(
                            (
                                int(media_id),
                                fmt,
                                c["cue_idx"],
                                c["start_ms"],
                                c["end_ms"],
                                c["text"],
                                None,
                            )
                        )
                except ValueError as e:
                    rows.append(
                        (int(media_id), fmt, None, None, None, None, str(e))
                    )
            yield pd.DataFrame(
                rows, columns=[f.name for f in SUBTITLE_CUE_SCHEMA.fields]
            )

    return media.select("media_id", "payload").mapInPandas(
        _walk, SUBTITLE_CUE_SCHEMA
    )


def synth_subtitle_bytes(doc_id: int, n_chars: int) -> bytes:
    """Deterministic subtitle file rotating THREE dialects: doc_id%3
    == 0 -> SRT (CRLF, comma times), 1 -> WebVTT (header, dot times, a
    NOTE block, cue ids, settings after the arrow), 2 -> ASS (Script
    Info + Events sections, centisecond times, an override tag and a
    backslash-N escape the parser must strip, commas inside the Text field).
    Closed form (oracle-mirrored):
      n_cues     = n_chars % 5 + 2
      start_ms   = 2000*i,  end_ms = 2000*i + 1500
      text       = 'cue <doc_id> <i>'
    """
    n = n_chars % 5 + 2
    if doc_id % 3 == 2:
        out = [
            "[Script Info]\nTitle: synth\n\n[Events]\n"
            "Format: Layer, Start, End, Style, Name, MarginL, "
            "MarginR, MarginV, Effect, Text\n"
        ]
        for i in range(n):
            start = 2000 * i
            end = start + 1500
            def cs(ms):
                h, rem = divmod(ms, 3600_000)
                m, rem = divmod(rem, 60_000)
                sec, ms2 = divmod(rem, 1000)
                return f"{h}:{m:02d}:{sec:02d}.{ms2 // 10:02d}"
            out.append(
                f"Dialogue: 0,{cs(start)},{cs(end)},Default,,0,0,0,,"
                f"{{\\i1}}cue{{\\i0}}\\N{doc_id} {i}\n"
            )
        return "".join(out).encode()

    def ts(ms: int, sep: str) -> str:
        h, rem = divmod(ms, 3600_000)
        m, rem = divmod(rem, 60_000)
        s, ms = divmod(rem, 1000)
        return f"{h:02d}:{m:02d}:{s:02d}{sep}{ms:03d}"

    if doc_id % 3 == 0:
        out = []
        for i in range(n):
            out.append(
                f"{i + 1}\r\n"
                f"{ts(2000 * i, ',')} --> {ts(2000 * i + 1500, ',')}\r\n"
                f"cue {doc_id} {i}\r\n"
            )
        return "\r\n".join(out).encode()
    out = ["WEBVTT\n", "\nNOTE synthetic fixture\n"]
    for i in range(n):
        out.append(
            f"\ncue-id-{i}\n"
            f"{ts(2000 * i, '.')} --> {ts(2000 * i + 1500, '.')} align:start\n"
            f"cue {doc_id} {i}\n"
        )
    return "".join(out).encode()


# ---------------------------------------------------------------------------
# Audio metadata tags: FLAC STREAMINFO + Vorbis comments, ID3v2 text frames
# ---------------------------------------------------------------------------


def flac_parse(payload: bytes) -> dict:
    """FLAC metadata-block walk (no audio decode): STREAMINFO (sample
    rate / channels / bit depth / total samples — bit-packed per the
    spec) and VORBIS_COMMENT tags (title/artist/album). Raises
    ValueError on structural corruption; audio frames are never
    touched."""
    if payload[:4] != b"fLaC":
        raise ValueError("not a FLAC payload (no fLaC magic)")
    pos = 4
    info = None
    tags: dict[str, str] = {}
    while pos + 4 <= len(payload):
        hdr = payload[pos]
        btype = hdr & 0x7F
        length = int.from_bytes(payload[pos + 1 : pos + 4], "big")
        body = payload[pos + 4 : pos + 4 + length]
        if len(body) < length:
            raise ValueError("FLAC metadata block overruns payload")
        if btype == 0:  # STREAMINFO
            if length < 34:
                raise ValueError("FLAC STREAMINFO too short")
            bits = int.from_bytes(body[10:18], "big")
            # layout after the 10 block/frame-size bytes: 20-bit rate,
            # 3-bit channels-1, 5-bit bps-1, 36-bit total samples
            info = {
                "sample_rate": bits >> 44,
                "channels": ((bits >> 41) & 0x7) + 1,
                "bits_per_sample": ((bits >> 36) & 0x1F) + 1,
                "total_samples": bits & ((1 << 36) - 1),
            }
        elif btype == 4:  # VORBIS_COMMENT (little-endian lengths)
            p = 0
            if p + 4 > length:
                raise ValueError("FLAC vorbis comment truncated")
            vlen = int.from_bytes(body[p : p + 4], "little")
            p += 4 + vlen
            if p + 4 > length:
                raise ValueError("FLAC vorbis comment truncated")
            n = int.from_bytes(body[p : p + 4], "little")
            p += 4
            for _ in range(n):
                if p + 4 > length:
                    raise ValueError("FLAC vorbis comment truncated")
                clen = int.from_bytes(body[p : p + 4], "little")
                p += 4
                entry = body[p : p + clen]
                if len(entry) < clen:
                    raise ValueError("FLAC vorbis comment truncated")
                p += clen
                k, _, v = entry.decode("utf-8", "replace").partition("=")
                tags[k.strip().lower()] = v
        pos += 4 + length
        if hdr & 0x80:  # last-metadata-block flag
            break
    if info is None:
        raise ValueError("FLAC without STREAMINFO")
    return {"container": "flac", **info, "tags": tags}


_ID3_TEXT_ENCODINGS = {0: "latin-1", 1: "utf-16", 2: "utf-16-be", 3: "utf-8"}


def id3v2_text_frames(payload: bytes) -> dict:
    """Text frames of a leading ID3v2.2/2.3/2.4 tag: {frame_id: value}.
    v2.4 frame sizes are synchsafe, v2.3 plain big-endian; v2.2 frames
    use 3-byte IDs + 3-byte sizes (6-byte headers) and their IDs are
    normalized to the v2.3 names (TT2->TIT2, TP1->TPE1, TAL->TALB) so
    downstream tag mapping is version-blind. Text frames carry an
    encoding byte (latin-1 / UTF-16 BOM / UTF-16BE / UTF-8) and may be
    NUL-terminated. Returns {} when no tag is present; malformed
    frames raise ValueError."""
    if payload[:3] != b"ID3" or len(payload) < 10:
        return {}
    ver = payload[3]
    if ver not in (2, 3, 4):
        return {}  # unknown versions: skipped, same as players do
    size = 0
    for b in payload[6:10]:
        if b & 0x80:
            return {}
        size = (size << 7) | b
    end = min(10 + size, len(payload))
    pos = 10
    out: dict[str, str] = {}
    if ver == 2:
        v22_names = {"TT2": "TIT2", "TP1": "TPE1", "TAL": "TALB"}
        while pos + 6 <= end:
            fid = payload[pos : pos + 3]
            if fid == b"\x00\x00\x00":
                break  # padding
            fsz = int.from_bytes(payload[pos + 3 : pos + 6], "big")
            body = payload[pos + 6 : pos + 6 + fsz]
            if len(body) < fsz:
                raise ValueError(f"ID3v2.2 frame {fid!r} overruns tag")
            if fid[:1] == b"T" and fsz >= 1:
                enc = _ID3_TEXT_ENCODINGS.get(body[0])
                if enc is None:
                    raise ValueError(
                        f"ID3v2.2 frame {fid!r} bad text encoding {body[0]}"
                    )
                name = fid.decode("latin-1")
                out[v22_names.get(name, name)] = (
                    body[1:].decode(enc, "replace").rstrip("\x00")
                )
            pos += 6 + fsz
        return out
    while pos + 10 <= end:
        fid = payload[pos : pos + 4]
        if fid == b"\x00\x00\x00\x00":
            break  # padding
        raw_sz = payload[pos + 4 : pos + 8]
        if ver == 4:
            fsz = 0
            for b in raw_sz:
                if b & 0x80:
                    raise ValueError(f"ID3v2.4 frame size not synchsafe: {fid!r}")
                fsz = (fsz << 7) | b
        else:
            fsz = int.from_bytes(raw_sz, "big")
        body = payload[pos + 10 : pos + 10 + fsz]
        if len(body) < fsz:
            raise ValueError(f"ID3 frame {fid!r} overruns tag")
        if fid[:1] == b"T" and fsz >= 1:
            enc = _ID3_TEXT_ENCODINGS.get(body[0])
            if enc is None:
                raise ValueError(f"ID3 frame {fid!r} bad text encoding {body[0]}")
            out[fid.decode("latin-1")] = (
                body[1:].decode(enc, "replace").rstrip("\x00")
            )
        pos += 10 + fsz
    return out


AUDIO_TAG_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("container", StringType(), True),
        StructField("title", StringType(), True),
        StructField("artist", StringType(), True),
        StructField("album", StringType(), True),
        StructField("sample_rate", IntegerType(), True),
        StructField("channels", IntegerType(), True),
        StructField("bits_per_sample", IntegerType(), True),
        StructField("total_samples", LongType(), True),
        StructField("parse_error", StringType(), True),
    ]
)


def audio_tags(media: DataFrame) -> DataFrame:
    """Audio corpus metadata in one pass: FLAC payloads yield
    STREAMINFO numbers + Vorbis-comment tags; MP3 payloads yield
    ID3v2 text-frame tags (TIT2/TPE1/TALB). mapInPandas over header
    bytes only; corruption quarantines as a parse_error row."""

    def _walk(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for batch in batches:
            rows = []
            for media_id, payload in zip(batch["media_id"], batch["payload"]):
                raw = bytes(payload)
                try:
                    if raw[:4] == b"fLaC":
                        f = flac_parse(raw)
                        t = f["tags"]
                        rows.append(
                            (
                                int(media_id),
                                "flac",
                                t.get("title"),
                                t.get("artist"),
                                t.get("album"),
                                f["sample_rate"],
                                f["channels"],
                                f["bits_per_sample"],
                                f["total_samples"],
                                None,
                            )
                        )
                    else:
                        t = id3v2_text_frames(raw)
                        rows.append(
                            (
                                int(media_id),
                                "mp3",
                                t.get("TIT2"),
                                t.get("TPE1"),
                                t.get("TALB"),
                                None,
                                None,
                                None,
                                None,
                                None,
                            )
                        )
                except ValueError as e:
                    rows.append(
                        (int(media_id),) + (None,) * 8 + (str(e),)
                    )
            yield pd.DataFrame(
                rows, columns=[f.name for f in AUDIO_TAG_SCHEMA.fields]
            )

    return media.select("media_id", "payload").mapInPandas(
        _walk, AUDIO_TAG_SCHEMA
    )


def synth_flac_bytes(doc_id: int, n_chars: int) -> bytes:
    """Deterministic FLAC header (STREAMINFO + VORBIS_COMMENT, no audio
    frames — the metadata surface is what the engine reads). Closed
    form: sample_rate = 8000 + (doc_id%5)*4000, channels = doc_id%2+1,
    bits = 16, total_samples = n_chars*100 + 1, title 'title <doc_id>',
    artist 'artist <doc_id%7>', album 'album <doc_id%3>'."""
    rate = 8000 + (doc_id % 5) * 4000
    channels = doc_id % 2 + 1
    bits_ps = 16
    total = n_chars * 100 + 1
    packed = (
        (rate << 44)
        | ((channels - 1) << 41)
        | ((bits_ps - 1) << 36)
        | total
    )
    streaminfo = (
        (4096).to_bytes(2, "big") * 2
        + bytes(6)
        + packed.to_bytes(8, "big")
        + bytes(16)  # md5 placeholder
    )
    assert len(streaminfo) == 34
    def block(btype, body, last=False):
        return bytes([btype | (0x80 if last else 0)]) + len(body).to_bytes(
            3, "big"
        ) + body

    vendor = b"synth-flac/1.0"
    comments = [
        f"TITLE=title {doc_id}".encode(),
        f"ARTIST=artist {doc_id % 7}".encode(),
        f"ALBUM=album {doc_id % 3}".encode(),
    ]
    vc = (
        len(vendor).to_bytes(4, "little")
        + vendor
        + len(comments).to_bytes(4, "little")
        + b"".join(len(c).to_bytes(4, "little") + c for c in comments)
    )
    return (
        b"fLaC"
        + block(0, streaminfo)
        + block(4, vc, last=True)
    )


def synth_id3_mp3_bytes(doc_id: int, n_chars: int) -> bytes:
    """synth_mp3_bytes audio prefixed with a deterministic ID3v2 tag:
    v2.3 for doc_id%4==1, v2.4 (synchsafe frame sizes) for %4==3;
    TALB uses UTF-16-with-BOM when doc_id%3==0, else UTF-8 (v2.4) /
    latin-1 (v2.3). Same closed-form tag values as the FLAC builder."""
    ver = 3 if doc_id % 4 == 1 else 4

    def frame(fid: bytes, text: str, enc: int) -> bytes:
        codec = _ID3_TEXT_ENCODINGS[enc]
        body = bytes([enc]) + text.encode(codec)
        if ver == 4:
            sz = bytes(
                (len(body) >> s) & 0x7F for s in (21, 14, 7, 0)
            )
        else:
            sz = len(body).to_bytes(4, "big")
        return fid + sz + b"\x00\x00" + body

    default_enc = 0 if ver == 3 else 3
    frames = (
        frame(b"TIT2", f"title {doc_id}", default_enc)
        + frame(b"TPE1", f"artist {doc_id % 7}", default_enc)
        + frame(
            b"TALB",
            f"album {doc_id % 3}",
            1 if doc_id % 3 == 0 else default_enc,
        )
    )
    frames += bytes(16)  # padding
    tsz = len(frames)
    ssz = bytes((tsz >> s) & 0x7F for s in (21, 14, 7, 0))
    tag = b"ID3" + bytes([ver, 0, 0]) + ssz + frames
    return tag + synth_mp3_bytes(doc_id, n_chars)


def synth_container_media(documents: DataFrame) -> DataFrame:
    """Deterministic container fixtures from documents: even doc_id ->
    synthetic MP4, odd -> synthetic MP3 (builders above; closed-form
    demux output). Pandas-UDF built so the bytes are produced
    executor-side, partition-parallel — no driver materialization."""

    def _container(d, n):
        return synth_mp4_bytes(d, n) if d % 2 == 0 else synth_mp3_bytes(d, n)

    return documents.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 2 == 0, "video").otherwise("audio").alias("kind"),
        synth_bytes(_container, "doc_id", "n_chars").alias("payload"),
    )


def synth_corrupt_mp4_media(documents: DataFrame) -> DataFrame:
    """Corruption-injection fixtures for the demux quarantine
    certificate: every payload starts as a valid synth_mp4_bytes build,
    then ``doc_id % 3`` picks the mangling —

      0. left valid (full sample table, no error row);
      1. the final 20 bytes chopped → the moov index overruns its file,
         error row says ``box b'moov' overruns parent``;
      2. the first 8 bytes zeroed → no ftyp magic, error row says
         ``not an ISO-BMFF payload (no leading ftyp)``.

    (rows kept, error category) is closed-form in doc_id, so
    x_demux_quarantine hash-certifies that a corrupt container yields a
    quarantine row while intact files in the same scan flow untouched."""

    def _corrupt(d, n):
        raw = synth_mp4_bytes(d, n)
        if d % 3 == 1:
            return raw[:-20]
        if d % 3 == 2:
            return b"\x00" * 8 + raw[8:]
        return raw

    return documents.select(
        F.col("doc_id").alias("media_id"),
        synth_bytes(_corrupt, "doc_id", "n_chars").alias("payload"),
    )


# ---------------------------------------------------------------------------
# Ogg container: page framing + Vorbis/Opus identification headers
# ---------------------------------------------------------------------------

_OGG_CRC_TABLE: list[int] | None = None


def _ogg_crc_table() -> list[int]:
    """Ogg page CRC: CRC-32 with polynomial 0x04C11DB7, init 0, NO bit
    reflection, xorout 0 (RFC 3533 §6) — zlib's reflected CRC cannot be
    reused. Table built once per process."""
    global _OGG_CRC_TABLE
    if _OGG_CRC_TABLE is None:
        table = []
        for i in range(256):
            r = i << 24
            for _ in range(8):
                r = ((r << 1) ^ 0x04C11DB7) if r & 0x80000000 else (r << 1)
                r &= 0xFFFFFFFF
            table.append(r)
        _OGG_CRC_TABLE = table
    return _OGG_CRC_TABLE


def _ogg_crc(data: bytes) -> int:
    table = _ogg_crc_table()
    crc = 0
    for b in data:
        crc = ((crc << 8) & 0xFFFFFFFF) ^ table[((crc >> 24) & 0xFF) ^ b]
    return crc


def ogg_pages(payload: bytes):
    """Walk Ogg pages (RFC 3533): yields dicts with the header fields,
    the lacing table and the page body; page CRC is VERIFIED (the CRC
    field zeroed during the computation, per spec). Structural garbage
    raises ValueError."""
    import struct

    pos = 0
    n = len(payload)
    while pos < n:
        if payload[pos : pos + 4] != b"OggS":
            raise ValueError(f"Ogg capture pattern missing at byte {pos}")
        if pos + 27 > n:
            raise ValueError("Ogg page header truncated")
        (
            version,
            htype,
            granule,
            serial,
            seq,
            crc,
            nseg,
        ) = struct.unpack_from("<BBqIIIB", payload, pos + 4)
        if version != 0:
            raise ValueError(f"Ogg stream structure version {version}")
        lacing = payload[pos + 27 : pos + 27 + nseg]
        if len(lacing) < nseg:
            raise ValueError("Ogg lacing table truncated")
        body_len = sum(lacing)
        body_at = pos + 27 + nseg
        body = payload[body_at : body_at + body_len]
        if len(body) < body_len:
            raise ValueError("Ogg page body truncated")
        page_raw = bytearray(payload[pos : body_at + body_len])
        page_raw[22:26] = b"\x00\x00\x00\x00"
        if _ogg_crc(bytes(page_raw)) != crc:
            raise ValueError(f"Ogg page CRC mismatch at byte {pos}")
        yield {
            "continued": bool(htype & 0x01),
            "bos": bool(htype & 0x02),
            "eos": bool(htype & 0x04),
            "granule": granule,
            "serial": serial,
            "seq": seq,
            "lacing": bytes(lacing),
            "body": body,
        }
        pos = body_at + body_len


def _vorbis_comment_body(body: bytes) -> dict[str, str]:
    """The Vorbis-comment structure shared by Ogg Vorbis (after
    \\x03vorbis), Opus (after OpusTags) and FLAC block 4: little-endian
    vendor length + vendor, count, then count KEY=value entries."""
    tags: dict[str, str] = {}
    p = 0
    if p + 4 > len(body):
        raise ValueError("vorbis comment truncated")
    vlen = int.from_bytes(body[p : p + 4], "little")
    p += 4 + vlen
    if p + 4 > len(body):
        raise ValueError("vorbis comment truncated")
    cnt = int.from_bytes(body[p : p + 4], "little")
    p += 4
    for _ in range(cnt):
        if p + 4 > len(body):
            raise ValueError("vorbis comment truncated")
        clen = int.from_bytes(body[p : p + 4], "little")
        p += 4
        entry = body[p : p + clen]
        if len(entry) < clen:
            raise ValueError("vorbis comment truncated")
        p += clen
        k, _, v = entry.decode("utf-8", "replace").partition("=")
        tags[k.strip().lower()] = v
    return tags


def ogg_parse(payload: bytes) -> dict:
    """Ogg audio demux (headers only, no codec decode): page walk with
    CRC verification, packet reassembly across pages (255-lacing
    continuation + the continued-page flag), codec identification from
    the BOS packet (Vorbis ID header or OpusHead), Vorbis-comment tags
    from the second header packet, and duration from the last page's
    granule position (Vorbis: PCM samples at the ID rate; Opus: 48 kHz
    ticks minus pre-skip). Single-logical-stream files (the normal
    audio shape); grouped multiplexes raise ValueError. Corruption
    (bad capture, CRC, truncation) raises ValueError — the quarantine
    path."""
    import struct

    serial = None
    n_pages = 0
    packets: list[bytes] = []
    partial = bytearray()
    last_granule = 0
    saw_eos = False
    for page in ogg_pages(payload):
        n_pages += 1
        if serial is None:
            if not page["bos"]:
                raise ValueError("first Ogg page is not BOS")
            serial = page["serial"]
        elif page["serial"] != serial:
            raise ValueError(
                "grouped multi-stream Ogg is out of scope (one logical "
                "stream per file)"
            )
        if page["continued"] != bool(partial):
            raise ValueError("Ogg continuation flag disagrees with lacing")
        at = 0
        for lace in page["lacing"]:
            partial += page["body"][at : at + lace]
            at += lace
            if lace < 255:
                packets.append(bytes(partial))
                partial.clear()
        if page["granule"] >= 0:
            last_granule = page["granule"]
        saw_eos = page["eos"]
    if serial is None:
        raise ValueError("no Ogg pages in payload")
    if partial:
        raise ValueError("Ogg packet left unterminated at end of stream")
    if not saw_eos:
        raise ValueError("Ogg stream missing EOS page")
    if not packets:
        raise ValueError("Ogg stream has no packets")
    first = packets[0]
    out: dict = {"container": "ogg", "n_pages": n_pages, "n_packets": len(packets)}
    if first[:7] == b"\x01vorbis":
        if len(first) < 30:
            raise ValueError("Vorbis ID header truncated")
        version, channels, rate = struct.unpack_from("<IBI", first, 7)
        if version != 0:
            raise ValueError(f"Vorbis version {version}")
        out.update(codec="vorbis", channels=channels, sample_rate=rate)
        out["duration_ms"] = (
            last_granule * 1000 // rate if rate else None
        )
        if len(packets) > 1 and packets[1][:7] == b"\x03vorbis":
            out["tags"] = _vorbis_comment_body(packets[1][7:])
        else:
            out["tags"] = {}
    elif first[:8] == b"OpusHead":
        if len(first) < 19:
            raise ValueError("OpusHead truncated")
        version, channels, preskip, in_rate = struct.unpack_from(
            "<BBHI", first, 8
        )
        if version >> 4 != 0:
            raise ValueError(f"Opus version {version}")
        out.update(
            codec="opus",
            channels=channels,
            sample_rate=48000,  # Opus always decodes at 48 kHz
            pre_skip=preskip,
            input_sample_rate=in_rate,
        )
        out["duration_ms"] = max(0, last_granule - preskip) * 1000 // 48000
        if len(packets) > 1 and packets[1][:8] == b"OpusTags":
            out["tags"] = _vorbis_comment_body(packets[1][8:])
        else:
            out["tags"] = {}
    else:
        raise ValueError(
            f"unrecognized Ogg codec (first packet {first[:8]!r}); "
            "vorbis and opus are in scope"
        )
    return out


OGG_META_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("codec", StringType(), True),
        StructField("channels", IntegerType(), True),
        StructField("sample_rate", IntegerType(), True),
        StructField("n_pages", IntegerType(), True),
        StructField("n_packets", IntegerType(), True),
        StructField("duration_ms", LongType(), True),
        StructField("title", StringType(), True),
        StructField("artist", StringType(), True),
        StructField("parse_error", StringType(), True),
    ]
)


def ogg_audio_metadata(media: DataFrame) -> DataFrame:
    """(media_id, payload) -> one metadata row per Ogg file; corruption
    quarantines as a parse_error row (same contract as the MP4/MP3
    walkers)."""

    def _walk(batches):
        import pandas as pd

        for batch in batches:
            rows = []
            for media_id, payload in zip(batch["media_id"], batch["payload"]):
                mid = int(media_id)
                try:
                    d = ogg_parse(bytes(payload))
                    tags = d.get("tags", {})
                    rows.append(
                        (
                            mid,
                            d["codec"],
                            d["channels"],
                            d["sample_rate"],
                            d["n_pages"],
                            d["n_packets"],
                            d["duration_ms"],
                            tags.get("title"),
                            tags.get("artist"),
                            None,
                        )
                    )
                except ValueError as e:
                    rows.append(
                        (mid,) + (None,) * 8 + (str(e),)
                    )
            yield pd.DataFrame(
                rows, columns=[f.name for f in OGG_META_SCHEMA.fields]
            )

    return media.select("media_id", "payload").mapInPandas(
        _walk, OGG_META_SCHEMA
    )


def _ogg_page_bytes(
    serial: int,
    seq: int,
    granule: int,
    segments: list[bytes],
    continued: bool = False,
    bos: bool = False,
    eos: bool = False,
    open_ended: bool = False,
) -> bytes:
    """Assemble one spec-correct page (lacing + CRC). ``segments`` are
    PACKET PIECES: each piece laced 255,255,...,r; with ``open_ended``
    the LAST piece omits its terminating lace (the packet continues on
    the next page, which must set ``continued``)."""
    import struct

    lacing = bytearray()
    body = bytearray()
    for i, seg in enumerate(segments):
        body += seg
        full, rest = divmod(len(seg), 255)
        lacing += b"\xff" * full
        if i == len(segments) - 1 and open_ended:
            if rest:
                raise ValueError("open-ended piece must be a 255 multiple")
        else:
            lacing.append(rest)
    htype = (1 if continued else 0) | (2 if bos else 0) | (4 if eos else 0)
    hdr = bytearray(b"OggS")
    hdr += struct.pack(
        "<BBqIIIB", 0, htype, granule, serial, seq, 0, len(lacing)
    )
    page = bytes(hdr) + bytes(lacing) + bytes(body)
    crc = _ogg_crc(page)
    return page[:22] + struct.pack("<I", crc) + page[26:]


def synth_ogg_bytes(doc_id: int, n_chars: int) -> bytes:
    """Deterministic Ogg fixture: even doc_ids are Vorbis (ID rate
    8000*(doc%4+1), channels doc%3+1), odd are Opus (pre-skip 312,
    channels doc%2+1). The comment packet is padded past 255 bytes so
    it SPANS two pages (255-lacing + continued flag), and the last page
    is EOS with granule = <rate>*(doc%3+1) [+ pre-skip for Opus], so
    duration_ms = 1000*(doc%3+1) exactly. Closed form (oracle-mirrored):
      n_pages = 5, n_packets = 7 (vorbis) / 6 (opus),
      title = 'doc <id>', artist = 'artist<id%5>'."""
    import struct

    vorbis = doc_id % 2 == 0
    serial = 0x1000 + doc_id % 65536
    secs = doc_id % 3 + 1
    if vorbis:
        rate = 8000 * (doc_id % 4 + 1)
        channels = doc_id % 3 + 1
        ident = (
            b"\x01vorbis"
            + struct.pack("<IBI", 0, channels, rate)
            + struct.pack("<iii", -1, 128000, -1)
            + b"\x66\x01"  # blocksizes + framing bit
        )
        tag_head = b"\x03vorbis"
        setup = b"\x05vorbis" + bytes(16)
        last_granule = rate * secs
    else:
        channels = doc_id % 2 + 1
        ident = b"OpusHead" + struct.pack(
            "<BBHIhB", 1, channels, 312, 24000, 0, 0
        )
        tag_head = b"OpusTags"
        setup = None
        last_granule = 48000 * secs + 312
    vendor = b"synth-ogg"
    pad = ("p" * 260).encode()  # forces the comment packet past 255
    comments = [
        f"TITLE=doc {doc_id}".encode(),
        f"ARTIST=artist{doc_id % 5}".encode(),
        b"PAD=" + pad,
    ]
    cbody = struct.pack("<I", len(vendor)) + vendor
    cbody += struct.pack("<I", len(comments))
    for c in comments:
        cbody += struct.pack("<I", len(c)) + c
    comment_pkt = tag_head + cbody
    # paginate: BOS page (ident) / comment part 1 (open-ended 255s) /
    # comment tail (+ setup for vorbis) / audio page / audio+EOS page
    split = (len(comment_pkt) // 255) * 255
    part1, part2 = comment_pkt[:split], comment_pkt[split:]
    audio1 = [b"\xaa" * 20, b"\xbb" * 20]
    audio2 = [b"\xcc" * 20, b"\xdd" * 20]
    pages = [
        _ogg_page_bytes(serial, 0, 0, [ident], bos=True),
        _ogg_page_bytes(serial, 1, -1, [part1], open_ended=True),
        _ogg_page_bytes(
            serial,
            2,
            0,
            [part2] + ([setup] if setup else []),
            continued=True,
        ),
        _ogg_page_bytes(serial, 3, last_granule // 2, audio1),
        _ogg_page_bytes(serial, 4, last_granule, audio2, eos=True),
    ]
    return b"".join(pages)


def synth_ogg_media(documents: DataFrame) -> DataFrame:
    """(media_id, payload) of deterministic Ogg files, executor-side."""
    return documents.select(
        F.col("doc_id").alias("media_id"),
        synth_bytes(synth_ogg_bytes, "doc_id", "n_chars").alias("payload"),
    )


# ---------------------------------------------------------------------------
# HLS (M3U8) playlists: the manifest layer of segmented streaming video
# ---------------------------------------------------------------------------


def m3u8_parse(payload: bytes) -> dict:
    """Parse one HLS playlist (RFC 8216): MASTER playlists
    (#EXT-X-STREAM-INF variants with BANDWIDTH/RESOLUTION) and MEDIA
    playlists (#EXTINF segment durations + URIs, target duration,
    media sequence, ENDLIST). Durations land as exact milliseconds
    (decimal string math — no float drift). A crawled video corpus
    needs this layer to map manifests to segment fetch plans the same
    way mp4_keyframe_plan maps byte ranges. ValueError on structural
    corruption (missing #EXTM3U, EXTINF without a URI, bad attribute
    syntax)."""
    try:
        text = payload.decode("utf-8")
    except UnicodeDecodeError as e:
        raise ValueError(f"M3U8 is not UTF-8: {e}") from None
    lines = [l.strip() for l in text.splitlines()]
    lines = [l for l in lines if l != ""]
    if not lines or lines[0] != "#EXTM3U":
        raise ValueError("not an M3U8 playlist (missing #EXTM3U)")

    def _attrs(s: str) -> dict[str, str]:
        # attribute-list: KEY=value pairs, values possibly quoted,
        # commas inside quotes preserved
        out: dict[str, str] = {}
        i = 0
        while i < len(s):
            eq = s.find("=", i)
            if eq < 0:
                raise ValueError(f"bad M3U8 attribute list at {s[i:]!r}")
            key = s[i:eq].strip()
            if s[eq + 1 : eq + 2] == '"':
                end = s.find('"', eq + 2)
                if end < 0:
                    raise ValueError("unterminated quoted M3U8 attribute")
                out[key] = s[eq + 2 : end]
                i = end + 1
                if s[i : i + 1] == ",":
                    i += 1
            else:
                end = s.find(",", eq)
                if end < 0:
                    end = len(s)
                out[key] = s[eq + 1 : end]
                i = end + 1
        return out

    def _ms(dur: str) -> int:
        # exact decimal-seconds -> ms (no float), e.g. '1.5' -> 1500
        dur = dur.strip()
        if not dur or any(c not in "0123456789." for c in dur):
            raise ValueError(f"bad EXTINF duration {dur!r}")
        whole, _, frac = dur.partition(".")
        frac = (frac + "000")[:3]
        return int(whole or "0") * 1000 + int(frac or "0")

    segments: list[tuple[str, int]] = []
    variants: list[tuple[str, int, int | None, int | None]] = []
    target = None
    seq = 0
    ended = False
    pending_inf: int | None = None
    pending_var: dict | None = None
    for line in lines[1:]:
        if line.startswith("#EXTINF:"):
            body = line[len("#EXTINF:") :]
            dur = body.split(",", 1)[0]
            pending_inf = _ms(dur)
        elif line.startswith("#EXT-X-STREAM-INF:"):
            pending_var = _attrs(line[len("#EXT-X-STREAM-INF:") :])
        elif line.startswith("#EXT-X-TARGETDURATION:"):
            target = int(line.split(":", 1)[1])
        elif line.startswith("#EXT-X-MEDIA-SEQUENCE:"):
            seq = int(line.split(":", 1)[1])
        elif line == "#EXT-X-ENDLIST":
            ended = True
        elif line.startswith("#"):
            continue  # unknown tags/comments are skipped per spec
        else:  # a URI line closes a pending EXTINF or STREAM-INF
            if pending_var is not None:
                bw = pending_var.get("BANDWIDTH")
                if bw is None or not bw.isdigit():
                    raise ValueError("STREAM-INF without BANDWIDTH")
                w = h = None
                res = pending_var.get("RESOLUTION")
                if res:
                    wx, _, hx = res.partition("x")
                    if not wx.isdigit() or not hx.isdigit():
                        raise ValueError(f"bad RESOLUTION {res!r}")
                    w, h = int(wx), int(hx)
                variants.append((line, int(bw), w, h))
                pending_var = None
            elif pending_inf is not None:
                segments.append((line, pending_inf))
                pending_inf = None
            else:
                raise ValueError(
                    f"M3U8 URI {line!r} without EXTINF/STREAM-INF"
                )
    if pending_inf is not None or pending_var is not None:
        raise ValueError("M3U8 dangling EXTINF/STREAM-INF at EOF")
    if segments and variants:
        raise ValueError("M3U8 mixes media segments and variants")
    return {
        "kind": "master" if variants else "media",
        "segments": segments,
        "variants": variants,
        "target_duration": target,
        "media_sequence": seq,
        "ended": ended,
        "total_duration_ms": sum(d for _u, d in segments),
    }


HLS_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), True),
        StructField("entry_idx", IntegerType(), True),
        StructField("uri", StringType(), True),
        StructField("duration_ms", LongType(), True),
        StructField("bandwidth", LongType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("parse_error", StringType(), True),
    ]
)


def hls_playlists(media: DataFrame) -> DataFrame:
    """(media_id, payload) -> one row per segment (media playlists) or
    variant (master playlists); corruption quarantines."""

    def _walk(batches):
        import pandas as pd

        for batch in batches:
            rows = []
            for media_id, payload in zip(batch["media_id"], batch["payload"]):
                mid = int(media_id)
                try:
                    d = m3u8_parse(bytes(payload))
                    if d["kind"] == "media":
                        for i, (uri, ms) in enumerate(d["segments"]):
                            rows.append(
                                (mid, "media", i, uri, ms, None, None,
                                 None, None)
                            )
                    else:
                        for i, (uri, bw, w, h) in enumerate(d["variants"]):
                            rows.append(
                                (mid, "master", i, uri, None, bw, w, h,
                                 None)
                            )
                except ValueError as e:
                    rows.append(
                        (mid,) + (None,) * 7 + (str(e),)
                    )
            yield pd.DataFrame(
                rows, columns=[f.name for f in HLS_SCHEMA.fields]
            )

    return media.select("media_id", "payload").mapInPandas(
        _walk, HLS_SCHEMA
    )


def synth_m3u8_bytes(doc_id: int) -> bytes:
    """Deterministic playlist: even doc_ids are MEDIA playlists with
    doc%4+2 segments (segment i: seg-<doc>-<i>.ts, duration
    (i+1)*1500 ms written as decimal seconds), target duration 6,
    ENDLIST; odd doc_ids are MASTER playlists with doc%3+1 variants
    (variant i: v<i>/index.m3u8, BANDWIDTH=(doc%7+1+i)*100000,
    RESOLUTION=(640+i*640)x(360+i*360), quoted CODECS attr with a
    comma inside to stress the attribute parser)."""
    lines = ["#EXTM3U"]
    if doc_id % 2 == 0:
        lines.append("#EXT-X-TARGETDURATION:6")
        lines.append(f"#EXT-X-MEDIA-SEQUENCE:{doc_id % 5}")
        for i in range(doc_id % 4 + 2):
            ms = (i + 1) * 1500
            lines.append(f"#EXTINF:{ms // 1000}.{ms % 1000:03d},seg {i}")
            lines.append(f"seg-{doc_id}-{i}.ts")
        lines.append("#EXT-X-ENDLIST")
    else:
        for i in range(doc_id % 3 + 1):
            bw = (doc_id % 7 + 1 + i) * 100000
            res = f"{640 + i * 640}x{360 + i * 360}"
            lines.append(
                "#EXT-X-STREAM-INF:BANDWIDTH=%d,RESOLUTION=%s,"
                'CODECS="avc1.640028,mp4a.40.2"' % (bw, res)
            )
            lines.append(f"v{i}/index.m3u8")
    return ("\n".join(lines) + "\n").encode()


def synth_m3u8_media(documents: DataFrame) -> DataFrame:
    """(media_id, payload) of deterministic HLS playlists."""
    return documents.select(
        F.col("doc_id").alias("media_id"),
        synth_bytes(synth_m3u8_bytes, "doc_id").alias("payload"),
    )


def _splice_into_trak(mp4: bytes, extra: bytes) -> bytes:
    """Insert ``extra`` (a complete box) into the FIRST trak right
    after its tkhd, fixing the trak and moov sizes — the fixture tool
    that derives edit-list variants from the certified plain builder
    without duplicating it."""
    out = bytearray(mp4)
    for btype, b, e in _iter_boxes(mp4, 0, len(mp4)):
        if btype != b"moov":
            continue
        moov_hdr = b - 8
        for mtype, mb, me in _iter_boxes(mp4, b, e):
            if mtype != b"trak":
                continue
            trak_hdr = mb - 8
            for ttype, tb, te in _iter_boxes(mp4, mb, me):
                if ttype == b"tkhd":
                    at = te  # insert right after tkhd
                    out[at:at] = extra
                    for hdr_at in (moov_hdr, trak_hdr):
                        (sz,) = struct.unpack_from(">I", out, hdr_at)
                        struct.pack_into(
                            ">I", out, hdr_at, sz + len(extra)
                        )
                    return bytes(out)
    raise ValueError("no trak/tkhd to splice into")


def synth_mp4_elst_bytes(doc_id: int, n_chars: int) -> bytes:
    """The certified plain MP4 with an EDIT LIST spliced in: an empty
    edit of (doc%5+1)*100 movie-timescale units (a presentation delay)
    followed by a media_time trim of (doc%7)*40 media units. Closed
    form: edit_delay_ms = (doc%5+1)*100, media_start_ms = (doc%7)*40
    (both timescales are 1000 in the builder); the sample table is
    IDENTICAL to synth_mp4_bytes — edit lists change presentation, not
    the index."""
    base = synth_mp4_bytes(doc_id, n_chars)
    delay = (doc_id % 5 + 1) * 100
    trim = (doc_id % 7) * 40
    body = struct.pack(">I", 2)
    body += struct.pack(">Ii", delay, -1) + struct.pack(">HH", 1, 0)
    body += struct.pack(">Ii", 40 * (n_chars % 7 + 2), trim)
    body += struct.pack(">HH", 1, 0)
    elst = _full(b"elst", 0, body)
    return _splice_into_trak(base, _box(b"edts", elst))
