"""Multimodal plumbing: deterministic stub decode, payload pruning, frame
sampling, resize planning, and the real-codec seam."""

from __future__ import annotations

import pytest

from user_behavior_spark_pipeline_spark.operators.multimodal import (
    decode_features,
    decode_real,
    resize_plan,
    sample_frames,
    synth_media,
)
from user_behavior_spark_pipeline_spark.plans import read_schemas
from user_behavior_spark_pipeline_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def media(spark, sf_dir):
    return synth_media(load_table(spark, sf_dir, "documents")).cache()


def test_decode_is_deterministic_and_normalized(media):
    a = decode_features(media).toPandas().sort_values("media_id").reset_index(drop=True)
    b = decode_features(media).toPandas().sort_values("media_id").reset_index(drop=True)
    assert a.equals(b)
    feats = a["feat"].iloc[0]
    assert len(feats) == 16
    assert abs(sum(feats) - 1.0) < 1e-6  # normalized histogram


def test_metadata_projection_prunes_payload(spark, sf_dir, tmp_path):
    """A query touching only metadata never decodes payload bytes — the scan's
    ReadSchema excludes the binary column entirely."""
    from pyspark.sql import functions as F

    out = str(tmp_path / "media")
    synth_media(load_table(spark, sf_dir, "documents")).write.parquet(out)
    meta_only = spark.read.parquet(out).select(
        "media_id", "kind", F.col("meta.width").alias("width")
    )
    schemas = " ".join(read_schemas(meta_only))
    assert "payload" not in schemas
    assert "width" in schemas


def test_frame_sampling_counts(media):
    frames = sample_frames(media, interval_ms=60000).toPandas()
    durations = {
        r["media_id"]: r["duration_ms"]
        for r in media.filter("kind = 'video'").select(
            "media_id", "meta.duration_ms"
        ).collect()
    }
    per_media = frames.groupby("media_id").size().to_dict()
    for mid, dur in durations.items():
        expected = (dur + 59999) // 60000
        assert per_media.get(mid, 0) == expected


def test_resize_preserves_aspect_and_bounds(media):
    plan = resize_plan(media, max_side=64).toPandas()
    assert (plan["target_width"] <= 64).all()
    assert (plan["target_height"] <= 64).all()
    assert ((plan["target_width"] == 64) | (plan["target_height"] == 64)).all()


def test_real_decoder_seam_raises(media):
    # MP3 (MPEG frame sync) is the remaining documented codec seam
    # (JPEG graduated to a real decode in round 9)
    with pytest.raises(NotImplementedError):
        decode_real(b"\xff\xfb\x90\x00" + b"\x00" * 16, "audio")
    with pytest.raises(NotImplementedError):
        decode_real(b"ID3\x03\x00\x00\x00\x00\x00\x00", "audio")
    # a PNG signature prefix alone is not a PNG
    with pytest.raises((NotImplementedError, ValueError)):
        decode_real(b"\x89PNG", "image")
    # a bare JPEG SOI + APP0 with no SOF/SOS is malformed, not a seam
    with pytest.raises(ValueError):
        decode_real(b"\xff\xd8\xff\xe0\x00\x10JFIF", "image")


def _png_encode(width, height, pixels, color_type, filters, split_idat=1):
    """Minimal in-test PNG writer (independent of the decoder under test):
    filters[r] picks the filter type applied to row r — the ENCODE
    direction of each of the five defined filters, so the decoder's
    defiltering is checked against hand-applied spec math, not against
    itself."""
    import struct
    import zlib

    channels = {0: 1, 2: 3, 4: 2, 6: 4}[color_type]
    stride = width * channels
    bpp = channels
    raw = bytearray()
    prev = bytes(stride)
    for r in range(height):
        line = bytes(pixels[r * stride : (r + 1) * stride])
        ft = filters[r]
        raw.append(ft)
        for i in range(stride):
            a = line[i - bpp] if i >= bpp else 0
            b = prev[i]
            c = prev[i - bpp] if i >= bpp else 0
            if ft == 0:
                f = line[i]
            elif ft == 1:
                f = (line[i] - a) & 0xFF
            elif ft == 2:
                f = (line[i] - b) & 0xFF
            elif ft == 3:
                f = (line[i] - ((a + b) >> 1)) & 0xFF
            else:  # Paeth
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                f = (line[i] - pred) & 0xFF
            raw.append(f)
        prev = line

    def chunk(ctype, data):
        crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
        return struct.pack(">I", len(data)) + ctype + data + struct.pack(">I", crc)

    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    comp = zlib.compress(bytes(raw))
    step = max(1, len(comp) // split_idat)
    idats = b"".join(
        chunk(b"IDAT", comp[i : i + step]) for i in range(0, len(comp), step)
    )
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + idats
        + chunk(b"IEND", b"")
    )


def test_decode_real_png_byte_exact_all_filters():
    """8-bit PNG: every defined filter type (None/Sub/Up/Average/Paeth,
    one per row) must defilter back to the exact source pixels, for gray,
    RGB and RGBA, including an IDAT stream split mid-bytes across chunks."""
    import random

    rng = random.Random(7)
    for color_type, channels in ((0, 1), (2, 3), (6, 4)):
        w, h = 5, 5
        pixels = [rng.randrange(256) for _ in range(w * h * channels)]
        png = _png_encode(w, h, pixels, color_type, filters=[0, 1, 2, 3, 4])
        got = decode_real(png, "image")
        assert got == {
            "kind": "image",
            "width": w,
            "height": h,
            "maxval": 255,
            "channels": channels,
            "pixels": pixels,
        }, f"color_type={color_type}"
    # gray+alpha, every row Paeth, IDAT split into 7 chunks
    w, h = 4, 3
    pixels = [rng.randrange(256) for _ in range(w * h * 2)]
    png = _png_encode(w, h, pixels, 4, filters=[4, 4, 4], split_idat=7)
    got = decode_real(png, "image")
    assert got["channels"] == 2 and got["pixels"] == pixels


def test_decode_real_png_rejects_out_of_scope_and_malformed():
    """After the r11 widening every LEGAL IHDR decodes; spec-illegal
    combinations, palette without PLTE, truncated interlace data, bad
    filter bytes and truncated chunks all fail loudly with
    ValueError."""
    import struct
    import zlib

    def png_with_ihdr(bit_depth=8, color_type=0, interlace=0):
        ihdr = struct.pack(">IIBBBBB", 2, 1, bit_depth, color_type, 0, 0, interlace)

        def chunk(ctype, data):
            crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
            return (
                struct.pack(">I", len(data)) + ctype + data + struct.pack(">I", crc)
            )

        comp = zlib.compress(b"\x00\x01\x02")
        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", comp)
            + chunk(b"IEND", b"")
        )

    # 16-bit depth decodes since r11; this stream is 2 bytes short for
    # a 2x1 16-bit gray raster -> structural error, not a seam
    with pytest.raises(ValueError, match="raster"):
        decode_real(png_with_ihdr(bit_depth=16), "image")
    # spec-illegal IHDR (RGB at depth 4) is refused outright
    with pytest.raises(ValueError, match="illegal PNG IHDR"):
        decode_real(png_with_ihdr(bit_depth=4, color_type=2), "image")
    # palette is supported now, but an 8-bit palette PNG without a PLTE
    # chunk is structurally corrupt
    with pytest.raises(ValueError, match="PLTE"):
        decode_real(png_with_ihdr(color_type=3), "image")
    # interlace is supported now; this payload has too few bytes for
    # the Adam7 passes of a 2x1 image -> raster mismatch
    with pytest.raises(ValueError, match="raster"):
        decode_real(png_with_ihdr(interlace=1), "image")
    # filter byte 9 is malformed
    bad = _png_encode(2, 1, [1, 2], 0, filters=[0])
    comp = zlib.compress(b"\x09\x01\x02")
    crc = zlib.crc32(b"IDAT" + comp) & 0xFFFFFFFF
    bad_idat = struct.pack(">I", len(comp)) + b"IDAT" + comp + struct.pack(">I", crc)
    head, _, _tail = bad.partition(b"IDAT")
    raw_bad = head[:-4] + bad_idat + b"\x00\x00\x00\x00IEND" + struct.pack(
        ">I", zlib.crc32(b"IEND") & 0xFFFFFFFF
    )
    with pytest.raises(ValueError, match="filter"):
        decode_real(raw_bad, "image")
    # truncated mid-IDAT (cuts the IEND chunk plus the IDAT tail)
    good = _png_encode(2, 2, [1, 2, 3, 4], 0, filters=[0, 0])
    with pytest.raises(ValueError):
        decode_real(good[:-20], "image")


def test_decode_real_wav_byte_exact():
    """WAV/PCM round-trip: bytes written by the stdlib wave module decode
    to the exact sample list, rate, channels, and width (16-bit stereo +
    8-bit mono)."""
    import io
    import struct
    import wave

    # 16-bit little-endian stereo
    samples = [0, 1, -1, 32767, -32768, 12345, -12345, 7, -7, 100]
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(44100)
        w.writeframes(struct.pack("<10h", *samples))
    got = decode_real(buf.getvalue(), "audio")
    assert got == {
        "kind": "audio",
        "sample_rate": 44100,
        "n_channels": 2,
        "sample_width": 2,
        "samples": samples,
    }
    # 8-bit mono (unsigned per the WAV spec)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(1)
        w.setframerate(8000)
        w.writeframes(bytes([0, 127, 128, 255]))
    got = decode_real(buf.getvalue(), "audio")
    assert got["samples"] == [0, 127, 128, 255]
    assert got["sample_rate"] == 8000 and got["n_channels"] == 1


def test_decode_real_pgm_ppm_byte_exact():
    """Binary PGM/PPM: header with comments and multi-whitespace, raster
    whose first byte is '#' (0x23 — must NOT be eaten as a comment), and
    a 16-bit-maxval PGM (big-endian 2-byte samples)."""
    pixels = [0x23, 0, 255, 17, 42, 99]  # leading 0x23 is the trap
    pgm = b"P5 # comment\n  3\t2 # another\n255\n" + bytes(pixels)
    got = decode_real(pgm, "image")
    assert got == {
        "kind": "image",
        "width": 3,
        "height": 2,
        "maxval": 255,
        "channels": 1,
        "pixels": pixels,
    }
    rgb = [1, 2, 3, 250, 251, 252]  # 2x1 RGB
    ppm = b"P6\n2 1\n255\n" + bytes(rgb)
    got = decode_real(ppm, "image")
    assert (got["width"], got["height"], got["channels"]) == (2, 1, 3)
    assert got["pixels"] == rgb
    # 16-bit PGM: big-endian samples
    wide = b"P5\n2 1\n65535\n" + (1000).to_bytes(2, "big") + (65535).to_bytes(2, "big")
    got = decode_real(wide, "image")
    assert got["pixels"] == [1000, 65535] and got["maxval"] == 65535
    # truncated raster must fail loudly, not return short pixels
    with pytest.raises(ValueError, match="truncated"):
        decode_real(b"P5\n4 4\n255\n\x00\x01", "image")


# ---------------------------------------------------------------------------
# Baseline JPEG byte-exact fixtures (round 9)
# ---------------------------------------------------------------------------
# A minimal JFIF ENCODER lives here in the tests (the repo needs no
# encoder): it entropy-codes caller-chosen QUANTIZED coefficient blocks
# directly — no forward DCT — so the expected pixels are computable
# analytically/independently, making the decode assertion byte-exact
# rather than codec-vs-codec.


class _JpegBitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value, nbits):
        for i in range(nbits - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.nbits += 1
            if self.nbits == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:  # byte stuffing
                    self.out.append(0x00)
                self.acc = 0
                self.nbits = 0

    def flush(self):  # pad with 1-bits per T.81
        while self.nbits:
            self.write(1, 1)
        return bytes(self.out)


_ENC_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]


def _jpeg_category(v):
    return abs(v).bit_length()


def _jpeg_encode(width, height, comps, qtabs, comp_blocks, restart_interval=0, precision=8):
    """comps: [(cid, h, v, tq)]; qtabs: {tq: 64 ints, natural order};
    comp_blocks: {cid: [[64-coeff natural-order block] per (block_row,
    block_col)]} covering the full padded plane. One DC and one AC
    Huffman table shared by all components; every symbol gets a
    uniform-length canonical code (all-ones left unused)."""
    import struct

    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = -(-width // (8 * hmax))
    mcuy = -(-height // (8 * vmax))

    def emit_blocks(collect_dc, collect_ac, writer=None, dc_codes=None, ac_codes=None):
        pred = {c[0]: 0 for c in comps}
        for m in range(mcux * mcuy):
            if restart_interval and m and m % restart_interval == 0:
                if writer is not None:
                    ent.append(writer.flush())
                    writer.__init__()
                pred = {c[0]: 0 for c in comps}
            my, mx = divmod(m, mcux)
            for cid, ch, cv, _tq in comps:
                for by in range(cv):
                    for bx in range(ch):
                        nat = comp_blocks[cid][my * cv + by][mx * ch + bx]
                        zz = [nat[_ENC_ZIGZAG[k]] for k in range(64)]
                        diff = zz[0] - pred[cid]
                        pred[cid] = zz[0]
                        s = _jpeg_category(diff)
                        if writer is None:
                            collect_dc.add(s)
                        else:
                            writer.write(*dc_codes[s])
                            if s:
                                writer.write(
                                    diff if diff >= 0 else diff + (1 << s) - 1, s
                                )
                        k, run = 1, 0
                        while k < 64:
                            if zz[k] == 0:
                                run += 1
                                k += 1
                                continue
                            while run > 15:
                                if writer is None:
                                    collect_ac.add(0xF0)
                                else:
                                    writer.write(*ac_codes[0xF0])
                                run -= 16
                            s = _jpeg_category(zz[k])
                            sym = (run << 4) | s
                            if writer is None:
                                collect_ac.add(sym)
                            else:
                                writer.write(*ac_codes[sym])
                                v = zz[k]
                                writer.write(v if v >= 0 else v + (1 << s) - 1, s)
                            run = 0
                            k += 1
                        if run:
                            if writer is None:
                                collect_ac.add(0x00)
                            else:
                                writer.write(*ac_codes[0x00])

    dc_syms, ac_syms = set(), set()
    emit_blocks(dc_syms, ac_syms)

    def build_table(syms):
        syms = sorted(syms)
        length = max(2, (len(syms) + 1).bit_length())  # all-ones unused
        counts = [0] * 16
        counts[length - 1] = len(syms)
        codes = {s: (i, length) for i, s in enumerate(syms)}
        return counts, syms, codes

    dc_counts, dc_list, dc_codes = build_table(dc_syms)
    ac_counts, ac_list, ac_codes = build_table(ac_syms)

    out = bytearray(b"\xff\xd8")  # SOI

    def seg(marker, body):
        out.extend(bytes([0xFF, marker]))
        out.extend(struct.pack(">H", len(body) + 2))
        out.extend(body)

    for tq, tbl in qtabs.items():
        zz_tbl = bytes(tbl[_ENC_ZIGZAG[k]] for k in range(64))
        seg(0xDB, bytes([tq]) + zz_tbl)
    sof = bytearray([precision]) + struct.pack(">HH", height, width) + bytes([len(comps)])
    for cid, ch, cv, tq in comps:
        sof += bytes([cid, (ch << 4) | cv, tq])
    # 12-bit sequential is EXTENDED sequential (SOF1); baseline is 8-bit
    seg(0xC0 if precision == 8 else 0xC1, bytes(sof))
    seg(0xC4, bytes([0x00]) + bytes(dc_counts) + bytes(dc_list))
    seg(0xC4, bytes([0x10]) + bytes(ac_counts) + bytes(ac_list))
    if restart_interval:
        seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytearray([len(comps)])
    for cid, *_ in comps:
        sos += bytes([cid, 0x00])  # DC table 0, AC table 0
    sos += bytes([0, 63, 0])  # Ss, Se, Ah/Al (baseline fixed)
    seg(0xDA, bytes(sos))

    ent = []
    w = _JpegBitWriter()
    emit_blocks(None, None, writer=w, dc_codes={s: (c, l) for s, (c, l) in (
        (s, dc_codes[s]) for s in dc_codes)}, ac_codes=ac_codes)
    ent.append(w.flush())
    for i, e in enumerate(ent):
        if i:
            out.extend(bytes([0xFF, 0xD0 + ((i - 1) % 8)]))
        out.extend(e)
    out.extend(b"\xff\xd9")  # EOI
    return bytes(out)


def _jpeg_encode_progressive(
    width, height, comps, qtabs, comp_blocks, scans=None,
    restart_interval=0, precision=8,
):
    """Progressive (SOF2) twin of _jpeg_encode, emitting per ITU T.81
    G.1.2 with libjpeg's buffering rules (EOB runs, correction-bit
    buffer in refinement scans) — an INDEPENDENT encode path so the
    decoder's progressive reconstruction is checked against hand-argued
    spec math plus baseline container invariance, not against itself.

    scans: list of (comp_ids, Ss, Se, Ah, Al); default script mirrors
    libjpeg's: interleaved DC at Al=1, per-component AC bands (1-5,
    6-63) at Al=1, the matching AC refinement scans to Al=0, and a DC
    refinement scan. Static uniform-length Huffman tables (DC 5-bit,
    AC 9-bit canonical, all-ones unused) are emitted once."""
    import struct

    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = -(-width // (8 * hmax))
    mcuy = -(-height // (8 * vmax))
    comp_by_id = {c[0]: c for c in comps}
    # zigzag-order coefficient grids per component (padded MCU grid)
    zz = {}
    for cid, ch, cv, _tq in comps:
        zz[cid] = [
            [
                [blk_nat[_ENC_ZIGZAG[k]] for k in range(64)]
                for blk_nat in row
            ]
            for row in comp_blocks[cid]
        ]
    nblocks = {}
    for cid, ch, cv, _tq in comps:
        cw = -(-width * ch // hmax)
        chh = -(-height * cv // vmax)
        nblocks[cid] = (-(-chh // 8), -(-cw // 8))

    if scans is None:
        all_ids = [c[0] for c in comps]
        scans = [(all_ids, 0, 0, 0, 1)]
        for cid in all_ids:
            scans += [([cid], 1, 5, 0, 1), ([cid], 6, 63, 0, 1)]
        for cid in all_ids:
            scans += [([cid], 1, 5, 1, 0), ([cid], 6, 63, 1, 0)]
        scans += [(all_ids, 0, 0, 1, 0)]

    dc_codes = {s: (s, 5) for s in range(16)}
    # canonical: 255 codes at length 9 (0..254), symbol 255 at length 10
    # (code 510) — a DHT count byte caps at 255, so one symbol spills
    ac_codes = {s: (s, 9) for s in range(255)}
    ac_codes[255] = (510, 10)

    out = bytearray(b"\xff\xd8")

    def seg(marker, body):
        out.extend(bytes([0xFF, marker]))
        out.extend(struct.pack(">H", len(body) + 2))
        out.extend(body)

    for tq, tbl in qtabs.items():
        seg(0xDB, bytes([tq]) + bytes(tbl[_ENC_ZIGZAG[k]] for k in range(64)))
    sof = bytearray([precision]) + struct.pack(">HH", height, width) + bytes(
        [len(comps)]
    )
    for cid, ch, cv, tq in comps:
        sof += bytes([cid, (ch << 4) | cv, tq])
    seg(0xC2, bytes(sof))
    dc_counts = [0] * 16
    dc_counts[4] = 16
    seg(0xC4, bytes([0x00]) + bytes(dc_counts) + bytes(range(16)))
    ac_counts = [0] * 16
    ac_counts[8] = 255
    ac_counts[9] = 1
    seg(0xC4, bytes([0x10]) + bytes(ac_counts) + bytes(range(256)))
    if restart_interval:
        seg(0xDD, struct.pack(">H", restart_interval))

    for comp_ids, ss, se, ah, al in scans:
        sos = bytearray([len(comp_ids)])
        for cid in comp_ids:
            sos += bytes([cid, 0x00])
        sos += bytes([ss, se, (ah << 4) | al])
        seg(0xDA, bytes(sos))
        # unit iteration mirrors the decoder: MCUs when interleaved,
        # the component's own ceil-dims block raster when Ns == 1
        if len(comp_ids) > 1:
            units = []
            for m in range(mcux * mcuy):
                my, mx = divmod(m, mcux)
                blocks = []
                for cid in comp_ids:
                    _c, ch, cv, _q = comp_by_id[cid]
                    for by in range(cv):
                        for bx in range(ch):
                            blocks.append(
                                (cid, my * cv + by, mx * ch + bx)
                            )
                units.append(blocks)
        else:
            cid = comp_ids[0]
            nby, nbx = nblocks[cid]
            units = [
                [(cid, m // nbx, m % nbx)] for m in range(nby * nbx)
            ]

        rst_chunks = (
            [units]
            if not restart_interval
            else [
                units[i : i + restart_interval]
                for i in range(0, len(units), restart_interval)
            ]
        )
        ent_parts = []
        for chunk in rst_chunks:
            w = _JpegBitWriter()
            _encode_prog_chunk(
                w, chunk, zz, ss, se, ah, al, comp_ids, dc_codes, ac_codes
            )
            ent_parts.append(w.flush())
        for i, part in enumerate(ent_parts):
            if i:
                out.extend(bytes([0xFF, 0xD0 + ((i - 1) % 8)]))
            out.extend(part)
    out.extend(b"\xff\xd9")
    return bytes(out)


def _encode_prog_chunk(
    w, units, zz, ss, se, ah, al, comp_ids, dc_codes, ac_codes
):
    # One restart interval of progressive scan data: DC prediction, EOB
    # runs and correction-bit buffers all reset at the chunk boundary,
    # exactly as a decoder resets at RSTn.
    if True:
        if ss == 0 and ah == 0:  # DC first: diff-coded shifted values
            pred = {cid: 0 for cid in comp_ids}
            for blocks in units:
                for cid, gy, gx in blocks:
                    v = zz[cid][gy][gx][0] >> al
                    diff = v - pred[cid]
                    pred[cid] = v
                    s = _jpeg_category(diff)
                    w.write(*dc_codes[s])
                    if s:
                        w.write(
                            diff if diff >= 0 else diff + (1 << s) - 1, s
                        )
        elif ss == 0:  # DC refinement: one raw bit per block
            for blocks in units:
                for cid, gy, gx in blocks:
                    w.write((zz[cid][gy][gx][0] >> al) & 1, 1)
        elif ah == 0:  # AC first with EOB runs
            eobrun = 0

            def flush_eob():
                nonlocal eobrun
                if eobrun > 0:
                    r = eobrun.bit_length() - 1
                    w.write(*ac_codes[r << 4])
                    if r:
                        w.write(eobrun - (1 << r), r)
                    eobrun = 0

            for blocks in units:
                ((cid, gy, gx),) = blocks
                blk = zz[cid][gy][gx]
                r = 0
                for k in range(ss, se + 1):
                    c = blk[k]
                    t = abs(c) >> al
                    if t == 0:
                        r += 1
                        continue
                    flush_eob()
                    while r > 15:
                        w.write(*ac_codes[0xF0])
                        r -= 16
                    if c < 0:
                        t = -t
                    s = _jpeg_category(t)
                    w.write(*ac_codes[(r << 4) | s])
                    w.write(t if t >= 0 else t + (1 << s) - 1, s)
                    r = 0
                if r > 0:
                    eobrun += 1
                    if eobrun == 0x7FFF:
                        flush_eob()
            flush_eob()
        else:  # AC refinement (libjpeg encode_mcu_AC_refine)
            eobrun = 0
            pending = []  # BE: correction bits attached to the EOB run
            cur = []  # BR: correction bits since the last emitted symbol

            def flush_eob():
                # emits the pending EOB run + its attached (BE) bits;
                # the CURRENT block's bits stay buffered — they belong
                # after the next (r,1)/ZRL symbol (libjpeg emit_eobrun)
                nonlocal eobrun
                if eobrun > 0:
                    r = eobrun.bit_length() - 1
                    w.write(*ac_codes[r << 4])
                    if r:
                        w.write(eobrun - (1 << r), r)
                    eobrun = 0
                    for b in pending:
                        w.write(b, 1)
                    pending.clear()

            def flush_cur():
                for b in cur:
                    w.write(b, 1)
                cur.clear()

            for blocks in units:
                ((cid, gy, gx),) = blocks
                blk = zz[cid][gy][gx]
                absv = [abs(blk[k]) >> al for k in range(ss, se + 1)]
                eob = 0  # band-relative index just past last new bit
                for i, t in enumerate(absv):
                    if t == 1:
                        eob = i + 1
                r = 0
                for i, t in enumerate(absv):
                    if t == 0:
                        r += 1
                        continue
                    while r > 15 and i < eob:
                        flush_eob()
                        w.write(*ac_codes[0xF0])
                        r -= 16
                        flush_cur()
                    if t > 1:
                        # already-significant: buffer its correction bit
                        cur.append(t & 1)
                        continue
                    flush_eob()
                    w.write(*ac_codes[(r << 4) | 1])
                    w.write(1 if blk[ss + i] > 0 else 0, 1)
                    r = 0
                    flush_cur()
                if r > 0 or cur:
                    eobrun += 1
                    pending.extend(cur)  # BE += BR
                    cur.clear()
                    if eobrun == 0x7FFF:
                        flush_eob()
            flush_eob()


def test_decode_real_jpeg_gray_dc_exact():
    """Grayscale 16x8 (two blocks), DC-only coefficients with distinct
    values: pixel = floor(DC*q/8 + 128.5) analytically (the orthonormal
    IDCT of a DC-only block is flat at DC*q/8). Exercises marker parse,
    Huffman decode, DC prediction across blocks, dequant, level shift."""
    q = [16] * 64
    b0 = [0] * 64
    b1 = [0] * 64
    b0[0] = 3   # 3*16/8 = 6  -> 134
    b1[0] = -5  # -5*16/8 = -10 -> 118
    jpg = _jpeg_encode(16, 8, [(1, 1, 1, 0)], {0: q}, {1: [[b0, b1]]})
    got = decode_real(jpg, "image")
    assert (got["width"], got["height"], got["channels"]) == (16, 8, 1)
    expect = [[134] * 8 + [118] * 8 for _ in range(8)]
    assert got["pixels"] == [p for row in expect for p in row]


def test_decode_real_jpeg_ac_matches_independent_idct():
    """One nonzero AC coefficient: expected pixels computed here with an
    INDEPENDENT per-pixel cosine loop (math.cos, no numpy, no shared
    code path) under the documented rounding convention."""
    import math

    q = list(range(16, 80))  # distinct quant steps exercise zigzag order
    blk = [0] * 64
    blk[0] = 4    # DC (natural index 0)
    blk[1] = 7    # AC (row 0, col 1) -> zigzag position 1
    blk[8] = -3   # AC (row 1, col 0) -> zigzag position 2
    blk[9] = 2    # AC (row 1, col 1)
    jpg = _jpeg_encode(8, 8, [(1, 1, 1, 0)], {0: q}, {1: [[blk]]})
    got = decode_real(jpg, "image")

    def c(u):
        return math.sqrt(0.5) if u == 0 else 1.0

    expect = []
    for y in range(8):
        for x in range(8):
            s = 0.0
            for v in range(8):
                for u in range(8):
                    s += (
                        c(u) * c(v) * blk[v * 8 + u] * q[v * 8 + u]
                        * math.cos((2 * x + 1) * u * math.pi / 16)
                        * math.cos((2 * y + 1) * v * math.pi / 16)
                    ) / 4.0
            expect.append(min(255, max(0, math.floor(s + 128.5))))
    assert got["pixels"] == expect


def test_decode_real_jpeg_color_420_flat_exact():
    """YCbCr 4:2:0, flat planes, 12x10 (crops an odd tail off the 16x16
    MCU): expected RGB via the JFIF matrix computed inline. Exercises
    subsampled MCU geometry, chroma replication upsampling, color
    convert, and crop."""
    import math

    q = [8] * 64
    yv, cbv, crv = 5, -4, 6  # quantized DC values
    flat = lambda dc: [dc] + [0] * 63  # noqa: E731
    blocks_y = [[flat(yv), flat(yv)], [flat(yv), flat(yv)]]
    blocks_c = lambda dc: [[flat(dc)]]  # noqa: E731
    jpg = _jpeg_encode(
        12, 10,
        [(1, 2, 2, 0), (2, 1, 1, 0), (3, 1, 1, 0)],
        {0: q},
        {1: blocks_y, 2: blocks_c(cbv), 3: blocks_c(crv)},
    )
    got = decode_real(jpg, "image")
    assert (got["width"], got["height"], got["channels"]) == (12, 10, 3)
    yf = yv * 8 / 8 + 128.0
    cbf = cbv * 8 / 8
    crf = crv * 8 / 8
    r = min(255, max(0, math.floor(yf + 1.402 * crf + 0.5)))
    g = min(255, max(0, math.floor(yf - 0.344136 * cbf - 0.714136 * crf + 0.5)))
    b = min(255, max(0, math.floor(yf + 1.772 * cbf + 0.5)))
    assert got["pixels"] == [r, g, b] * (12 * 10)


def test_decode_real_jpeg_restart_markers_reset_dc():
    """DRI/RSTn: with restart_interval=1 every MCU starts a fresh DC
    predictor — a decoder that fails to reset would drift by the
    cumulative sum of DCs instead of holding each block's value."""
    q = [16] * 64
    dcs = [2, 2, -3, 4]
    blocks = [[[dc] + [0] * 63 for dc in dcs]]
    jpg = _jpeg_encode(
        32, 8, [(1, 1, 1, 0)], {0: q}, {1: blocks}, restart_interval=1
    )
    got = decode_real(jpg, "image")
    vals = [dc * 16 // 8 + 128 for dc in dcs]
    expect_row = [v for v in vals for _ in range(8)]
    assert got["pixels"] == expect_row * 8


def test_decode_real_jpeg_out_of_scope_and_malformed():
    import struct

    # progressive (SOF2) decodes since r11; a frame with no SOS at all
    # is structurally corrupt, and arithmetic coding (SOF9) stays a
    # NotImplementedError seam
    sof2 = bytearray(b"\xff\xd8")
    body = bytes([8]) + struct.pack(">HH", 8, 8) + bytes([1, 1, 0x11, 0])
    sof2 += bytes([0xFF, 0xC2]) + struct.pack(">H", len(body) + 2) + body
    with pytest.raises(ValueError, match="missing SOF or SOS"):
        decode_real(bytes(sof2), "image")
    sof9 = bytes(sof2).replace(b"\xff\xc2", b"\xff\xc9")
    with pytest.raises(NotImplementedError):
        decode_real(sof9, "image")
    # truncated entropy data is ValueError
    q = [16] * 64
    blk = [1] + [0] * 63
    jpg = _jpeg_encode(8, 8, [(1, 1, 1, 0)], {0: q}, {1: [[blk]]})
    with pytest.raises(ValueError):
        decode_real(jpg[: jpg.index(b"\xff\xda") + 10], "image")


# ---------------------------------------------------------------------------
# Perceptual image dedup (round 9): encoder roundtrip + aHash properties
# ---------------------------------------------------------------------------


def test_png_encoder_decoder_roundtrip():
    from user_behavior_spark_pipeline_spark.operators.multimodal import (
        decode_real,
        png_encode_gray,
    )

    px = [(i * 37 + 11) % 256 for i in range(24 * 16)]
    d = decode_real(png_encode_gray(24, 16, px), "image")
    assert (d["width"], d["height"], d["channels"]) == (24, 16, 1)
    assert d["pixels"] == px
    import pytest as _pytest

    with _pytest.raises(ValueError):
        png_encode_gray(8, 8, [0] * 63)  # wrong pixel count


def test_ahash_container_invariance_and_signedness():
    """Same raster under PNG and PGM hashes identically; the hash is
    signed 64-bit (Arrow LongType-safe) and brightness-shift invariant
    BY DESIGN (mean shifts equally)."""
    from user_behavior_spark_pipeline_spark.operators.multimodal import (
        ahash64,
        decode_real,
        png_encode_gray,
    )

    px = [(i * 97 + 13) % 256 for i in range(256)]
    png = decode_real(png_encode_gray(16, 16, px), "image")
    pgm = decode_real(b"P5 16 16 255\n" + bytes(px), "image")
    h1 = ahash64(png["pixels"], 16, 16)
    h2 = ahash64(pgm["pixels"], 16, 16)
    assert h1 == h2
    assert -(1 << 63) <= h1 < (1 << 63)
    shifted = [min(255, p + 10) if p < 240 else p for p in px]
    # non-clipping shift: same sign pattern
    clean = [p for p in px if p < 240]
    if len(clean) == len(px):
        assert ahash64([p + 10 for p in px], 16, 16) == h1
    import pytest as _pytest

    with _pytest.raises(ValueError):
        ahash64(px, 12, 12)  # not multiples of 8 (144 != 256 anyway)


def test_image_near_dup_pairs_end_to_end(spark, sf_dir):
    """Each document's raster under four byte-different containers
    (gray PNG, PGM, indexed Adam7 PNG, big-endian TIFF) pairs as the
    per-doc 6-clique; no cross-document pairs (mixer verified
    collision-free over 6000 doc ids — beyond the sf0.1 range)."""
    from user_behavior_spark_pipeline_spark.operators.multimodal import (
        image_near_dup_pairs,
        synth_image_pair_media,
    )
    from user_behavior_spark_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").limit(25)
    pairs = image_near_dup_pairs(synth_image_pair_media(docs)).collect()
    ids = {r.doc_id for r in docs.select("doc_id").collect()}
    assert {(r.id_1, r.id_2) for r in pairs} == {
        (4 * d + a, 4 * d + b)
        for d in ids
        for a in range(4)
        for b in range(a + 1, 4)
    }


# ---------------------------------------------------------------------------
# Hot-bucket guard + Hamming<=k rung (round 10)
# ---------------------------------------------------------------------------


def test_image_hot_bucket_guard_trips(spark):
    """1000 byte-identical uniform rasters collapse to ONE aHash bucket —
    the degenerate crawl shape (placeholder/solid images). The guard must
    refuse the O(g^2) pair explosion and the report surface must name the
    dropped bucket with its size (VERDICT r09 #2: no silent caps)."""
    from user_behavior_spark_pipeline_spark.operators.multimodal import (
        image_ahash,
        image_hot_buckets,
        image_near_dup_pairs,
    )

    pgm = b"P5 16 16 255\n" + bytes([128] * 256)
    media = spark.createDataFrame(
        [(i, pgm) for i in range(1000)], "media_id long, payload binary"
    )
    # cap of 50: the single 1000-id bucket must be dropped entirely
    assert image_near_dup_pairs(media, max_bucket=50).count() == 0
    report = image_hot_buckets(image_ahash(media), max_bucket=50).collect()
    assert len(report) == 1
    assert report[0].n_ids == 1000
    # uniform raster: no cell exceeds the mean -> hash exactly 0
    assert report[0].ahash == 0
    # and a mixed corpus: the whale bucket dies, honest pairs survive
    from user_behavior_spark_pipeline_spark.operators.multimodal import (
        png_encode_gray,
    )

    px = [(7 * i) % 256 for i in range(256)]
    pair = [
        (2000, png_encode_gray(16, 16, px)),
        (2001, b"P5 16 16 255\n" + bytes(px)),
    ]
    mixed = media.union(
        spark.createDataFrame(pair, "media_id long, payload binary")
    )
    got = image_near_dup_pairs(mixed, max_bucket=50).collect()
    assert [(r.id_1, r.id_2) for r in got] == [(2000, 2001)]


def test_pattern_raster_ahash_identity():
    """The Hamming certificate's foundation: a block-pattern raster's
    aHash equals the pattern BIT-FOR-BIT (popcount constrained to
    [16, 48] keeps the global mean strictly interior)."""
    from user_behavior_spark_pipeline_spark.operators.multimodal import (
        ahash64,
        image_block_pattern,
        image_pattern_flips,
        _pattern_raster,
    )

    for d in range(50):
        p = image_block_pattern(d)
        assert 16 <= bin(p).count("1") <= 48
        h = ahash64(_pattern_raster(p, 16), 16, 16)
        assert h & ((1 << 64) - 1) == p, d
        # the planted flip mask has exactly d % 4 distinct bits
        mask = image_pattern_flips(d, d % 4)
        assert bin(mask).count("1") == d % 4
        h2 = ahash64(_pattern_raster(p ^ mask, 16), 16, 16)
        assert bin((h ^ h2) & ((1 << 64) - 1)).count("1") == d % 4


def test_image_near_dup_hamming_end_to_end(spark):
    """Planted <=3-bit perturbations across byte-different containers
    pair at their exact distance; nothing else pairs."""
    from user_behavior_spark_pipeline_spark.operators.multimodal import (
        image_near_dup_pairs_hamming,
        synth_image_near_pair_media,
    )

    docs = spark.createDataFrame(
        [(i,) for i in range(40)], "doc_id long"
    )
    got = {
        (r.id_1, r.id_2): r.hamming
        for r in image_near_dup_pairs_hamming(
            synth_image_near_pair_media(docs), max_hamming=3
        ).collect()
    }
    assert got == {(2 * d, 2 * d + 1): d % 4 for d in range(40)}


def test_image_hot_bands_report_twin(spark):
    """Band-key exclusions in the Hamming rung are REPORTED, not silent
    (r10 advisor): uniform rasters collapse every band to one bucket —
    the guard refuses the pair explosion AND image_hot_bands names each
    capped (band, bucket) with its size, mirroring image_hot_buckets on
    the exact rung."""
    from user_behavior_spark_pipeline_spark.operators.multimodal import (
        image_ahash,
        image_hot_bands,
        image_near_dup_pairs_hamming,
    )

    pgm = b"P5 16 16 255\n" + bytes([128] * 256)
    media = spark.createDataFrame(
        [(i, pgm) for i in range(200)], "media_id long, payload binary"
    )
    assert (
        image_near_dup_pairs_hamming(
            media, max_hamming=3, max_bucket=50
        ).count()
        == 0
    )
    report = image_hot_bands(
        image_ahash(media), max_hamming=3, max_bucket=50
    ).collect()
    # uniform raster -> ahash 0 -> all 4 bands hot at bucket 0
    assert {(r.band, r.bucket) for r in report} == {
        (b, 0) for b in range(4)
    }
    assert all(r.n_ids == 200 for r in report)


# ---------------------------------------------------------------------------
# PNG palette / sub-8-bit / Adam7 decode (round 10, VERDICT r09 #7)
# ---------------------------------------------------------------------------


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def _png_file(width, height, bit_depth, color_type, raster, extra=b"", interlace=0):
    """Hand-packed PNG from pre-filtered raster bytes (caller supplies
    the filter bytes inside `raster`)."""
    import struct
    import zlib

    from user_behavior_spark_pipeline_spark.operators.multimodal import (
        PNG_SIGNATURE,
    )

    ihdr = struct.pack(
        ">IIBBBBB", width, height, bit_depth, color_type, 0, 0, interlace
    )
    return (
        PNG_SIGNATURE
        + _png_chunk(b"IHDR", ihdr)
        + extra
        + _png_chunk(b"IDAT", zlib.compress(raster))
        + _png_chunk(b"IEND", b"")
    )


def test_png_palette_8bit():
    from user_behavior_spark_pipeline_spark.operators.multimodal import (
        _png_decode,
    )

    plte = bytes(
        [255, 0, 0, 0, 255, 0, 0, 0, 255, 255, 255, 255]
    )  # red green blue white
    raster = b"\x00\x00\x01" + b"\x00\x02\x03"  # filter 0 rows, indices
    d = _png_decode(
        _png_file(2, 2, 8, 3, raster, extra=_png_chunk(b"PLTE", plte))
    )
    assert (d["width"], d["height"], d["channels"]) == (2, 2, 3)
    assert d["pixels"] == [
        255, 0, 0, 0, 255, 0,
        0, 0, 255, 255, 255, 255,
    ]


def test_png_palette_4bit_odd_width_and_trns():
    from user_behavior_spark_pipeline_spark.operators.multimodal import (
        _png_decode,
    )

    plte = bytes([10, 11, 12, 20, 21, 22, 30, 31, 32])
    trns = bytes([128, 200])  # entry 2 defaults to alpha 255
    # width 3 at 4 bits -> 2 bytes/row (last nibble is pad)
    raster = b"\x00\x01\x20" + b"\x00\x21\x00"
    d = _png_decode(
        _png_file(
            3, 2, 4, 3, raster,
            extra=_png_chunk(b"PLTE", plte) + _png_chunk(b"tRNS", trns),
        )
    )
    assert d["channels"] == 4  # tRNS promotes to RGBA
    # MSB-first nibble packing: row 0 bytes \x01\x20 -> indices [0,1,2]
    # (entry 2 has no tRNS entry -> alpha 255); row 1 \x21\x00 -> [2,1,0].
    assert d["pixels"] == [
        10, 11, 12, 128,  20, 21, 22, 200,  30, 31, 32, 255,
        30, 31, 32, 255,  20, 21, 22, 200,  10, 11, 12, 128,
    ]


def test_png_palette_index_out_of_range():
    import pytest

    from user_behavior_spark_pipeline_spark.operators.multimodal import (
        _png_decode,
    )

    plte = bytes([1, 2, 3])  # one entry; index 5 is invalid
    raster = b"\x00\x05"
    with pytest.raises(ValueError, match="palette index"):
        _png_decode(
            _png_file(1, 1, 8, 3, raster, extra=_png_chunk(b"PLTE", plte))
        )


def test_png_gray_1bit_scaled():
    from user_behavior_spark_pipeline_spark.operators.multimodal import (
        _png_decode,
    )

    # width 10, 1-bit: 2 bytes/row; pattern 1010101010, then 0000000011
    raster = b"\x00\xaa\x80" + b"\x00\x00\xc0"
    d = _png_decode(_png_file(10, 2, 1, 0, raster))
    assert d["channels"] == 1
    assert d["pixels"][:10] == [255, 0] * 5
    assert d["pixels"][10:] == [0] * 8 + [255, 255]


def _adam7_encode(width, height, channels, px):
    """Independent Adam7 re-encoder (filter 0 rows) for 8-bit rasters."""
    passes = [
        (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
        (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
    ]
    out = bytearray()
    for x0, y0, xs, ys in passes:
        pw = (width - x0 + xs - 1) // xs
        ph = (height - y0 + ys - 1) // ys
        if pw <= 0 or ph <= 0:
            continue
        for r in range(ph):
            out.append(0)
            y = y0 + r * ys
            for i in range(pw):
                x = x0 + i * xs
                base = (y * width + x) * channels
                out.extend(px[base : base + channels])
    return bytes(out)


def test_png_adam7_equals_sequential():
    """An interlaced image must decode to the SAME raster as its
    non-interlaced encoding — gray and RGB, non-multiple-of-8 dims."""
    from user_behavior_spark_pipeline_spark.operators.multimodal import (
        _png_decode,
        png_encode_gray,
    )

    for w, h in ((8, 8), (5, 3), (9, 10), (1, 1), (16, 2)):
        px = [(31 * i + 7) % 256 for i in range(w * h)]
        seq = _png_decode(png_encode_gray(w, h, px))
        inter = _png_decode(
            _png_file(w, h, 8, 0, _adam7_encode(w, h, 1, px), interlace=1)
        )
        assert inter["pixels"] == seq["pixels"] == px, (w, h)
    # RGB 6x5
    w, h = 6, 5
    px = [(17 * i + 3) % 256 for i in range(w * h * 3)]
    d = _png_decode(
        _png_file(w, h, 8, 2, _adam7_encode(w, h, 3, px), interlace=1)
    )
    assert d["pixels"] == px and d["channels"] == 3


def test_png_adam7_with_filters_and_palette():
    """Adam7 passes are filtered INDEPENDENTLY (prev row resets per
    pass): a pass-2 row Up-filtered against pass-1 bytes would corrupt;
    also exercise a 2-bit palette under interlace."""
    from user_behavior_spark_pipeline_spark.operators.multimodal import (
        _png_decode,
    )

    # 2x9 gray 8-bit: passes present: 1 (col 0, rows 0,8), 3 (pixel
    # (0,4)), 5 (pixels (0,2),(0,6)), 6 (col 1, rows 0..8 step 2),
    # 7 (rows 1,3,5,7). Use filter 2 (Up) on the second row of pass 7
    # — its "up" is the PREVIOUS PASS-7 ROW.
    px = [0] * 18
    def put(x, y, v):
        px[y * 2 + x] = v
    raster = bytearray()
    # pass 1: x0=0,y0=0,8x8 -> rows y=0,8, 1 px each
    put(0, 0, 10); put(0, 8, 11)
    raster += b"\x00\x0a" + b"\x00\x0b"
    # pass 3: x0=0,y0=4,xs=4,ys=8 -> single pixel (0,4)
    put(0, 4, 20)
    raster += b"\x00\x14"
    # pass 5: x0=0,y0=2,xs=2,ys=4 -> pixels (0,2),(0,6), 1 px/row
    put(0, 2, 30); put(0, 6, 31)
    raster += b"\x00\x1e" + b"\x00\x1f"
    # pass 6: x0=1,y0=0,2x2 -> col 1, rows 0,2,4,6,8
    for k, y in enumerate(range(0, 9, 2)):
        put(1, y, 40 + k)
        raster += b"\x00" + bytes([40 + k])
    # pass 7: y0=1 step 2 -> full rows y=1,3,5,7 (2 px each)
    put(0, 1, 60); put(1, 1, 61)
    raster += b"\x00" + bytes([60, 61])
    for j, y in enumerate((3, 5, 7)):
        put(0, y, 60 + 2 * (j + 1)); put(1, y, 61 + 2 * (j + 1))
        raster += b"\x02" + bytes([2, 2])  # Up vs previous pass-7 row
    d = _png_decode(_png_file(2, 9, 8, 0, bytes(raster), interlace=1))
    assert d["pixels"] == px
    # 2-bit palette 5x3 interlaced: only passes 6 (x=1,3 rows 0,2) and
    # 7 (row 1) + pass 1 (x=0 row 0) + pass 4 (x=2 row 0) + pass 5
    # (x0=0 step 2, row 2: x=0,2,4) exist at this size
    plte = bytes([0, 0, 0, 85, 85, 85, 170, 170, 170, 255, 255, 255])
    idx = [
        [0, 1, 2, 3, 0],
        [1, 2, 3, 0, 1],
        [2, 3, 0, 1, 2],
    ]
    # derive pass bytes independently: spec geometry at 5x3
    def pack2(vals):
        b = 0
        out = bytearray()
        for i, v in enumerate(vals):
            b |= v << (6 - 2 * (i % 4))
            if i % 4 == 3:
                out.append(b); b = 0
        if len(vals) % 4:
            out.append(b)
        return bytes(out)
    raster2 = bytearray()
    raster2 += b"\x00" + pack2([idx[0][0]])            # pass 1
    raster2 += b"\x00" + pack2([idx[0][4]])            # pass 2 (x=4)
    raster2 += b"\x00" + pack2([idx[0][2]])            # pass 4 (x=2)
    raster2 += b"\x00" + pack2([idx[2][0], idx[2][2], idx[2][4]])  # pass 5
    raster2 += b"\x00" + pack2([idx[0][1], idx[0][3]]) # pass 6 row 0
    raster2 += b"\x00" + pack2([idx[2][1], idx[2][3]]) # pass 6 row 2
    raster2 += b"\x00" + pack2(idx[1])                 # pass 7 row 1
    d2 = _png_decode(
        _png_file(
            5, 3, 2, 3, bytes(raster2),
            extra=_png_chunk(b"PLTE", plte), interlace=1,
        )
    )
    expected = []
    for row in idx:
        for v in row:
            expected.extend(plte[3 * v : 3 * v + 3])
    assert d2["pixels"] == expected


def test_png_16bit_single_pixel():
    """r11: the former 16-bit seam now decodes — a 1x1 gray16 image
    returns its big-endian sample with maxval 65535."""
    from user_behavior_spark_pipeline_spark.operators.multimodal import (
        _png_decode,
    )

    raster = b"\x00\x00\x01"
    d = _png_decode(_png_file(1, 1, 16, 0, raster))
    assert (d["pixels"], d["maxval"], d["channels"]) == ([1], 65535, 1)


def test_png_16bit_gray_filters_and_rgb():
    """16-bit depth (r11, VERDICT r10 #7): big-endian 2-byte samples
    returned as-is with maxval 65535; filters run at the BYTE level
    with bpp = 2*channels, so Sub reaches back one full sample."""
    from user_behavior_spark_pipeline_spark.operators.multimodal import (
        _png_decode,
    )

    # 2x2 gray16: row 0 None, row 1 Sub (recon: b2+=b0, b3+=b1)
    raster = b"\x00\x01\x02\x03\x04" + b"\x01\x05\x06\x07\x08"
    d = _png_decode(_png_file(2, 2, 16, 0, raster))
    assert (d["maxval"], d["channels"]) == (65535, 1)
    assert d["pixels"] == [0x0102, 0x0304, 0x0506, 0x0C0E]
    # 1x2 RGB16: row 0 None, row 1 Up (bytewise add of the row above)
    raster = (
        b"\x00\x10\x00\x20\x00\x30\x00"
        + b"\x02\x00\x01\x00\x02\x00\x03"
    )
    d = _png_decode(_png_file(1, 2, 16, 2, raster))
    assert (d["maxval"], d["channels"]) == (65535, 3)
    assert d["pixels"] == [
        0x1000, 0x2000, 0x3000,
        0x1001, 0x2002, 0x3003,
    ]


def test_png_16bit_matches_pgm_16bit_and_adam7():
    """Container invariance at 16-bit: the same high-depth raster under
    PNG and under maxval-65535 PGM decodes to identical samples; Adam7
    de-interleave works at 2-byte samples."""
    from user_behavior_spark_pipeline_spark.operators.multimodal import (
        _png_decode,
        decode_real,
    )

    vals = [0, 1, 255, 256, 4660, 65535]  # 2x3, spans both bytes
    raw = b"".join(v.to_bytes(2, "big") for v in vals)
    raster = b"".join(
        b"\x00" + raw[r * 4 : (r + 1) * 4] for r in range(3)
    )
    d_png = _png_decode(_png_file(2, 3, 16, 0, raster))
    d_pgm = decode_real(b"P5 2 3 65535\n" + raw, "image")
    assert d_png["pixels"] == d_pgm["pixels"] == vals
    assert d_png["maxval"] == d_pgm["maxval"] == 65535
    # Adam7 2x2 gray16: pass 1 = (0,0), pass 6 = (1,0), pass 7 = row 1
    px = [0x1111, 0x2222, 0x3333, 0x4444]
    raster7 = (
        b"\x00\x11\x11"          # pass 1
        + b"\x00\x22\x22"        # pass 6
        + b"\x00\x33\x33\x44\x44"  # pass 7
    )
    d = _png_decode(_png_file(2, 2, 16, 0, raster7, interlace=1))
    assert d["pixels"] == px and d["maxval"] == 65535


def test_png_trns_transparency_key_gray_and_rgb():
    """tRNS on the alpha-less color types (r11): a transparency KEY —
    2-byte big-endian raw sample value(s); matching pixels get alpha 0,
    promoting gray -> gray+alpha and RGB -> RGBA."""
    from user_behavior_spark_pipeline_spark.operators.multimodal import (
        _png_decode,
    )

    # 8-bit gray 3x1, key = 7
    raster = b"\x00\x07\x08\x07"
    d = _png_decode(
        _png_file(3, 1, 8, 0, raster, extra=_png_chunk(b"tRNS", b"\x00\x07"))
    )
    assert d["channels"] == 2
    assert d["pixels"] == [7, 0, 8, 255, 7, 0]
    # 16-bit gray 2x1, key = 0x0102
    raster = b"\x00\x01\x02\x01\x03"
    d = _png_decode(
        _png_file(2, 1, 16, 0, raster, extra=_png_chunk(b"tRNS", b"\x01\x02"))
    )
    assert d["channels"] == 2 and d["maxval"] == 65535
    assert d["pixels"] == [0x0102, 0, 0x0103, 65535]
    # 8-bit RGB 2x1, key = (1,2,3)
    raster = b"\x00\x01\x02\x03\x01\x02\x04"
    trns = b"\x00\x01\x00\x02\x00\x03"
    d = _png_decode(
        _png_file(2, 1, 8, 2, raster, extra=_png_chunk(b"tRNS", trns))
    )
    assert d["channels"] == 4
    assert d["pixels"] == [1, 2, 3, 0, 1, 2, 4, 255]
    # 2-bit gray 4x1, key = raw 1 (scaled output 85)
    raster = b"\x00\x6c"  # 01 10 11 00
    d = _png_decode(
        _png_file(4, 1, 2, 0, raster, extra=_png_chunk(b"tRNS", b"\x00\x01"))
    )
    assert d["channels"] == 2
    assert d["pixels"] == [85, 0, 170, 255, 255, 255, 0, 255]


def _rand_blocks(rng, nby, nbx, max_abs=48, density=0.4):
    """Random natural-order coefficient blocks: sparse, mixed signs,
    a few large values — the shapes EOB runs / ZRL / refinement care
    about."""
    rows = []
    for _ in range(nby):
        row = []
        for _ in range(nbx):
            blk = [0] * 64
            blk[0] = rng.randrange(-200, 201)
            for k in range(1, 64):
                if rng.random() < density:
                    blk[k] = rng.randrange(-max_abs, max_abs + 1) or 1
            row.append(blk)
        rows.append(row)
    return rows


def test_jpeg_progressive_equals_baseline_gray():
    """Progressive decode certificate: the SAME quantized coefficients
    encoded as SOF2 (spectral selection + successive approximation,
    libjpeg scan script) and as SOF0 must decode pixel-identical."""
    import random

    rng = random.Random(11)
    q = [16] + [12] * 63
    for trial in range(6):
        blocks = _rand_blocks(rng, 2, 2)
        base = _jpeg_encode(16, 16, [(1, 1, 1, 0)], {0: q}, {1: blocks})
        prog = _jpeg_encode_progressive(
            16, 16, [(1, 1, 1, 0)], {0: q}, {1: blocks}
        )
        db, dp = decode_real(base, "image"), decode_real(prog, "image")
        assert dp == db, f"trial {trial}"


def test_jpeg_progressive_equals_baseline_color_420_odd_dims():
    """YCbCr 4:2:0 at non-multiple-of-16 dims: interleaved DC scan over
    the padded MCU grid, per-component non-interleaved AC scans over
    each component's OWN ceil-dims block raster, crop identical to
    baseline."""
    import random

    rng = random.Random(23)
    ql = [16] * 64
    qc = [24] * 64
    comps = [(1, 2, 2, 0), (2, 1, 1, 1), (3, 1, 1, 1)]
    for trial, (w, h) in enumerate(((19, 13), (24, 16), (8, 8))):
        mcux, mcuy = -(-w // 16), -(-h // 16)
        cblocks = {
            1: _rand_blocks(rng, mcuy * 2, mcux * 2),
            2: _rand_blocks(rng, mcuy, mcux, max_abs=20),
            3: _rand_blocks(rng, mcuy, mcux, max_abs=20),
        }
        base = _jpeg_encode(w, h, comps, {0: ql, 1: qc}, cblocks)
        prog = _jpeg_encode_progressive(
            w, h, comps, {0: ql, 1: qc}, cblocks
        )
        db, dp = decode_real(base, "image"), decode_real(prog, "image")
        assert dp == db, f"dims {(w, h)}"


def test_jpeg_progressive_multi_level_and_spectral_only():
    """Two extra scan scripts: (a) three-level successive approximation
    (Al=2 -> 1 -> 0 — two chained AC refinement scans), (b) spectral
    selection only (no approximation): both must reproduce baseline."""
    import random

    rng = random.Random(37)
    q = [16] * 64
    blocks = _rand_blocks(rng, 2, 3, max_abs=70, density=0.5)
    base = _jpeg_encode(24, 16, [(1, 1, 1, 0)], {0: q}, {1: blocks})
    db = decode_real(base, "image")
    three_level = [
        ([1], 0, 0, 0, 2),
        ([1], 1, 20, 0, 2),
        ([1], 21, 63, 0, 2),
        ([1], 1, 20, 2, 1),
        ([1], 21, 63, 2, 1),
        ([1], 1, 20, 1, 0),
        ([1], 21, 63, 1, 0),
        ([1], 0, 0, 2, 1),
        ([1], 0, 0, 1, 0),
    ]
    prog = _jpeg_encode_progressive(
        24, 16, [(1, 1, 1, 0)], {0: q}, {1: blocks}, scans=three_level
    )
    assert decode_real(prog, "image") == db
    spectral_only = [
        ([1], 0, 0, 0, 0),
        ([1], 1, 1, 0, 0),
        ([1], 2, 9, 0, 0),
        ([1], 10, 63, 0, 0),
    ]
    prog2 = _jpeg_encode_progressive(
        24, 16, [(1, 1, 1, 0)], {0: q}, {1: blocks}, scans=spectral_only
    )
    assert decode_real(prog2, "image") == db


def test_jpeg_progressive_eob_run_stress():
    """Blocks that are entirely zero in a band produce long EOB runs
    (including the r>0 extension-bits form); a lone late coefficient
    must land exactly where the run ends."""
    blocks = [[([0] * 64) for _ in range(5)] for _ in range(1)]
    blocks[0][0][0] = 40
    blocks[0][4][63] = 5  # natural index 63 = zigzag 63
    blocks[0][2][1] = -3
    q = [16] * 64
    base = _jpeg_encode(40, 8, [(1, 1, 1, 0)], {0: q}, {1: blocks})
    prog = _jpeg_encode_progressive(
        40, 8, [(1, 1, 1, 0)], {0: q}, {1: blocks}
    )
    assert decode_real(prog, "image") == decode_real(base, "image")


def test_jpeg_progressive_restart_markers():
    """RSTn inside progressive scans: DC prediction, EOB runs and
    correction-bit buffers reset at every restart interval, in both
    interleaved DC and non-interleaved AC/refinement scans."""
    import random

    rng = random.Random(51)
    q = [16] * 64
    blocks = _rand_blocks(rng, 1, 6, max_abs=40, density=0.35)
    base = _jpeg_encode(
        48, 8, [(1, 1, 1, 0)], {0: q}, {1: blocks}, restart_interval=2
    )
    db = decode_real(base, "image")
    prog = _jpeg_encode_progressive(
        48, 8, [(1, 1, 1, 0)], {0: q}, {1: blocks}, restart_interval=2
    )
    assert decode_real(prog, "image") == db
    # 4:2:0 color with restarts in every scan kind
    comps = [(1, 2, 2, 0), (2, 1, 1, 0), (3, 1, 1, 0)]
    w, h = 32, 16  # 2x1 MCUs
    cblocks = {
        1: _rand_blocks(rng, 2, 4, max_abs=30),
        2: _rand_blocks(rng, 1, 2, max_abs=15),
        3: _rand_blocks(rng, 1, 2, max_abs=15),
    }
    base = _jpeg_encode(w, h, comps, {0: q}, cblocks, restart_interval=1)
    prog = _jpeg_encode_progressive(
        w, h, comps, {0: q}, cblocks, restart_interval=1
    )
    assert decode_real(prog, "image") == decode_real(base, "image")


def test_jpeg_12bit_precision():
    """12-bit precision (r11): level shift 2048, clip to 4095, maxval
    4095 (the PNM high-maxval convention) — DC-only closed form, and
    sequential(SOF1)≡progressive(SOF2) container invariance at 12-bit
    magnitudes (DC up to ±2047, AC categories past 10)."""
    import random

    q = [16] * 64
    dcs = [0, 100, -100, 1500, -1500, 2047]
    blocks = [[None] * 6]
    for i, dc in enumerate(dcs):
        b = [0] * 64
        b[0] = dc
        blocks[0][i] = b
    base = _jpeg_encode(
        48, 8, [(1, 1, 1, 0)], {0: q}, {1: blocks}, precision=12
    )
    d = decode_real(base, "image")
    assert d["maxval"] == 4095
    for i, dc in enumerate(dcs):
        expect = min(4095, max(0, 2 * dc + 2048))
        tile = {
            d["pixels"][r * 48 + c]
            for r in range(8)
            for c in range(8 * i, 8 * i + 8)
        }
        assert tile == {expect}, (i, dc)
    rng = random.Random(77)
    blocks = _rand_blocks(rng, 1, 4, max_abs=900, density=0.3)
    for b_row in blocks:
        for b in b_row:
            b[0] = rng.randrange(-2000, 2001)
    base = _jpeg_encode(
        32, 8, [(1, 1, 1, 0)], {0: q}, {1: blocks}, precision=12
    )
    prog = _jpeg_encode_progressive(
        32, 8, [(1, 1, 1, 0)], {0: q}, {1: blocks}, precision=12
    )
    assert decode_real(prog, "image") == decode_real(base, "image")


def _png_encode_any(w, h, color_type, depth, samples, interlace, plte=b""):
    """Generic independent PNG writer (filter-0 rows) over the full
    supported IHDR grid: gray 1/2/4/8/16, palette 1/2/4/8, RGB/GA/RGBA
    8/16, optional Adam7 — raster packing re-derived from the spec
    (MSB-first sub-byte, big-endian 16-bit), NOT from the decoder."""
    import struct
    import zlib

    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color_type]

    def pack_row(vals):
        # vals: flat per-sample ints for one pass row
        if depth < 8:
            out = bytearray()
            acc, n = 0, 0
            for v in vals:
                acc = (acc << depth) | v
                n += depth
                if n == 8:
                    out.append(acc)
                    acc, n = 0, 0
            if n:
                out.append(acc << (8 - n))
            return bytes(out)
        if depth == 8:
            return bytes(vals)
        return b"".join(v.to_bytes(2, "big") for v in vals)

    passes = (
        ((0, 0, 1, 1),) if interlace == 0 else (
            (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
            (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
        )
    )
    raw = bytearray()
    for x0, y0, xs, ys in passes:
        pw = (w - x0 + xs - 1) // xs
        ph = (h - y0 + ys - 1) // ys
        if pw <= 0 or ph <= 0:
            continue
        for r in range(ph):
            y = y0 + r * ys
            vals = []
            for i in range(pw):
                x = x0 + i * xs
                base = (y * w + x) * channels
                vals.extend(samples[base : base + channels])
            raw += b"\x00" + pack_row(vals)

    def chunk(ctype, data):
        crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
        return struct.pack(">I", len(data)) + ctype + data + struct.pack(">I", crc)

    ihdr = struct.pack(">IIBBBBB", w, h, depth, color_type, 0, 0, interlace)
    out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
    if plte:
        out += chunk(b"PLTE", plte)
    return out + chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b"")


def test_png_property_full_ihdr_grid():
    """Property: every supported (color type, depth, interlace) combo
    round-trips arbitrary rasters through an independent writer — the
    decoder's de-interleave, unpacking, scaling and palette lookup hold
    across the whole legal grid, not just the hand fixtures."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from user_behavior_spark_pipeline_spark.operators.multimodal import (
        _png_decode,
    )

    grid = (
        [(0, d) for d in (1, 2, 4, 8, 16)]
        + [(3, d) for d in (1, 2, 4, 8)]
        + [(2, 8), (2, 16), (4, 8), (4, 16), (6, 8), (6, 16)]
    )

    @settings(
        max_examples=150,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(st.data())
    def check(data):
        color_type, depth = data.draw(st.sampled_from(grid))
        w = data.draw(st.integers(1, 11))
        h = data.draw(st.integers(1, 11))
        interlace = data.draw(st.integers(0, 1))
        channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color_type]
        top = (1 << depth) - 1
        n = w * h * channels
        samples = data.draw(
            st.lists(st.integers(0, top), min_size=n, max_size=n)
        )
        plte = b""
        if color_type == 3:
            plte = bytes(
                data.draw(
                    st.lists(
                        st.integers(0, 255),
                        min_size=3 * (top + 1),
                        max_size=3 * (top + 1),
                    )
                )
            )
        png = _png_encode_any(
            w, h, color_type, depth, samples, interlace, plte
        )
        d = _png_decode(png)
        if color_type == 3:
            expect = []
            for idx in samples:
                expect.extend(plte[3 * idx : 3 * idx + 3])
            assert d["channels"] == 3 and d["pixels"] == expect
        elif depth < 8:
            assert d["pixels"] == [v * 255 // top for v in samples]
        else:
            assert d["pixels"] == samples
            assert d["maxval"] == top

    check()


def test_jpeg_exif_both_byte_orders_and_edge_cases():
    """EXIF IFD walk: both TIFF byte orders, out-of-line ASCII values,
    Exif-IFD pointer chase, no-EXIF returns {}, corrupt TIFF raises."""
    from user_behavior_spark_pipeline_spark.operators.multimodal import (
        exif_app1_segment,
        jpeg_encode_gray_dc,
        jpeg_exif,
    )

    fields = {
        "make": "m0",  # short ASCII: inline (<= 4 bytes with NUL)
        "model": "a much longer model name",  # out-of-line value
        "orientation": 8,
        "datetime": "2026:02:03 04:05:06",
        "pixel_width": 16,
        "pixel_height": 8,
    }
    jpg = jpeg_encode_gray_dc(16, 8, [5, -5])
    for le in (True, False):
        seg = exif_app1_segment(fields, little_endian=le)
        assert jpeg_exif(jpg[:2] + seg + jpg[2:]) == fields, le
    assert jpeg_exif(jpg) == {}  # no APP1 at all
    # corrupt: entry count overruns the TIFF block
    seg = exif_app1_segment(fields)
    bad = bytearray(jpg[:2] + seg + jpg[2:])
    i = bytes(bad).index(b"II") + 8  # IFD0 entry count position
    bad[i : i + 2] = b"\xff\x00"
    with pytest.raises(ValueError, match="overrun"):
        jpeg_exif(bytes(bad))


def test_image_exif_operator(spark):
    from user_behavior_spark_pipeline_spark.operators.multimodal import (
        image_exif,
        synth_exif_media,
    )

    docs = spark.createDataFrame(
        [(i,) for i in range(16)], "doc_id long"
    )
    rows = {r.media_id: r for r in image_exif(synth_exif_media(docs)).collect()}
    assert set(rows) == set(range(16))
    for d, r in rows.items():
        assert r.orientation == d % 8 + 1
        assert r.make == f"maker{d % 3}" and r.model == f"model {d}"
        assert (r.pixel_width, r.pixel_height) == (16, 8)
        assert r.transposed == ("yes" if d % 8 + 1 >= 5 else "no")
        assert r.parse_error is None


def test_sniff_media_type_all_builders():
    """The dispatcher routes every container this repo walks to its
    type, from the repo's own builders — and never raises."""
    import io
    import wave

    from user_behavior_spark_pipeline_spark.operators.demux import (
        synth_fmp4_bytes,
        synth_flac_bytes,
        synth_id3_mp3_bytes,
        synth_mp3_bytes,
        synth_mp4_bytes,
        synth_subtitle_bytes,
    )
    from user_behavior_spark_pipeline_spark.operators.multimodal import (
        jpeg_encode_gray_dc,
        png_encode_gray,
        sniff_media_type,
    )
    from user_behavior_spark_pipeline_spark.operators.pdf import (
        synth_pdf_bytes,
    )
    from user_behavior_spark_pipeline_spark.operators.warc import (
        synth_warc_bytes,
    )
    from user_behavior_spark_pipeline_spark.operators.webdataset import (
        synth_webdataset_bytes,
    )

    buf = io.BytesIO()
    w = wave.open(buf, "wb")
    w.setnchannels(1)
    w.setsampwidth(2)
    w.setframerate(8000)
    w.writeframes(b"\x00\x00")
    w.close()
    cases = [
        (png_encode_gray(8, 8, [0] * 64), "png"),
        (jpeg_encode_gray_dc(8, 8, [1]), "jpeg"),
        (b"P5 2 2 255\n" + bytes(4), "pgm"),
        (b"P6 2 2 255\n" + bytes(12), "ppm"),
        (buf.getvalue(), "wav"),
        (synth_mp4_bytes(1, 5), "mp4"),
        (synth_fmp4_bytes(1, 5), "mp4"),
        (synth_mp3_bytes(1, 5), "mp3"),
        (synth_id3_mp3_bytes(1, 5), "mp3"),
        (synth_flac_bytes(2, 5), "flac"),
        (synth_warc_bytes(1, "x"), "warc"),
        (synth_warc_bytes(1, "x", gzip_members=True), "gzip"),
        (synth_pdf_bytes(1, "x"), "pdf"),
        (synth_webdataset_bytes(1, "x"), "tar"),
        (synth_subtitle_bytes(1, 3), "vtt"),
        (b"hello plain text", "unknown"),
        (b"", "unknown"),
    ]
    for payload, want in cases:
        assert sniff_media_type(payload) == want, want


def test_bmp_decode_24bit_8bit_and_orientation():
    """BMP: BGR order flipped to RGB, bottom-up vs top-down rows,
    4-byte row padding, 8-bit palette lookup, unsupported variants
    rejected."""
    import struct

    from user_behavior_spark_pipeline_spark.operators.multimodal import (
        decode_real,
        sniff_media_type,
    )

    def bmp24(width, height, rows_bgr, top_down=False):
        stride = (width * 3 + 3) & ~3
        raster = b"".join(
            bytes(row) + bytes(stride - width * 3) for row in rows_bgr
        )
        h = height if not top_down else -height
        return (
            b"BM"
            + struct.pack("<IHHI", 54 + len(raster), 0, 0, 54)
            + struct.pack("<IiiHHIIiiII", 40, width, h, 1, 24, 0,
                          len(raster), 0, 0, 0, 0)
            + raster
        )

    # 2x2, stored bottom-up: file rows are (bottom, top)
    bottom = [255, 0, 0, 0, 255, 0]  # blue px, green px (BGR!)
    top = [0, 0, 255, 255, 255, 255]  # red px, white px
    d = decode_real(bmp24(2, 2, [bottom, top]), "image")
    assert d["channels"] == 3 and d["maxval"] == 255
    assert d["pixels"] == [
        255, 0, 0, 255, 255, 255,  # top row: red, white (RGB)
        0, 0, 255, 0, 255, 0,      # bottom row: blue, green
    ]
    # top-down (negative height): file order IS display order
    d2 = decode_real(bmp24(2, 2, [top, bottom], top_down=True), "image")
    assert d2["pixels"] == d["pixels"]
    # 8-bit palette
    pal = bytes([10, 20, 30, 0]) + bytes([40, 50, 60, 0]) + bytes(4 * 254)
    raster = bytes([1, 0, 0, 0])  # 1 row, width 2 + pad
    bmp8 = (
        b"BM"
        + struct.pack("<IHHI", 0, 0, 0, 54 + len(pal))
        + struct.pack("<IiiHHIIiiII", 40, 2, 1, 1, 8, 0, 4, 0, 0, 256, 0)
        + pal
        + raster
    )
    d3 = decode_real(bmp8, "image")
    assert d3["pixels"] == [60, 50, 40, 30, 20, 10]  # BGR pal -> RGB
    assert sniff_media_type(bmp8) == "bmp"
    # RLE compression is an unsupported variant, loudly
    rle = bytearray(bmp24(2, 2, [bottom, top]))
    struct.pack_into("<I", rle, 30, 1)
    with pytest.raises(ValueError, match="unsupported BMP"):
        decode_real(bytes(rle), "image")


def _gif_encode(width, height, palette, indices, interlace=False,
                transparent=None, local_ct=False):
    """Independent in-test GIF writer: REAL LZW (dictionary growth,
    LSB-first variable-width codes, clear on full table) re-derived
    from the spec — so the decoder's dictionary logic (incl. KwKwK) is
    checked against spec math, not itself."""
    import struct

    n_colors = len(palette) // 3
    depth = max(2, (n_colors - 1).bit_length())
    ct = palette + bytes(3 * ((1 << depth) - n_colors))

    if interlace:
        order = []
        for start, step in ((0, 8), (4, 8), (2, 4), (1, 2)):
            order.extend(range(start, height, step))
        indices = [
            v for y in order for v in indices[y * width : (y + 1) * width]
        ]

    min_code = depth
    clear, eoi = 1 << min_code, (1 << min_code) + 1
    out_bits = bytearray()
    acc = nbits = 0

    def emit(code, width_):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width_
        while nbits >= 8:
            out_bits.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    cwidth = min_code + 1
    table = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1
    emit(clear, cwidth)
    run = b""
    for v in indices:
        cand = run + bytes([v])
        if cand in table:
            run = cand
            continue
        emit(table[run], cwidth)
        table[cand] = next_code
        next_code += 1
        if next_code - 1 == (1 << cwidth) and cwidth < 12:
            # decoder bumps width when ITS table reaches 2^width
            cwidth += 1
        if next_code == 4096:
            emit(clear, cwidth)
            cwidth = min_code + 1
            table = {bytes([i]): i for i in range(clear)}
            next_code = eoi + 1
        run = bytes([v])
    if run:
        emit(table[run], cwidth)
    emit(eoi, cwidth)
    if nbits:
        out_bits.append(acc & 0xFF)

    out = bytearray(b"GIF89a")
    gflags = 0 if local_ct else (0x80 | (depth - 1))
    out += struct.pack("<HHBBB", width, height, gflags, 0, 0)
    if not local_ct:
        out += ct
    if transparent is not None:
        out += bytes([0x21, 0xF9, 4, 0x01, 0, 0, transparent, 0])
    out += bytes([0x21, 0xFE, 3]) + b"cmt" + bytes([0])  # comment ext
    iflags = (0x40 if interlace else 0) | (
        (0x80 | (depth - 1)) if local_ct else 0
    )
    out += struct.pack("<BHHHHB", 0x2C, 0, 0, width, height, iflags)
    if local_ct:
        out += ct
    out += bytes([min_code])
    data = bytes(out_bits)
    for i in range(0, len(data), 255):
        chunk = data[i : i + 255]
        out += bytes([len(chunk)]) + chunk
    out += bytes([0, 0x3B])
    return bytes(out)


def test_gif_decode_roundtrip_and_features():
    """GIF (r11): real-LZW round-trip for random rasters, interlace,
    local color table, transparency (-> RGBA), KwKwK-heavy input, and
    structural rejection."""
    import random

    from user_behavior_spark_pipeline_spark.operators.multimodal import (
        decode_real,
        sniff_media_type,
    )

    rng = random.Random(99)
    pal = bytes(rng.randrange(256) for _ in range(3 * 7))  # 7 colors
    for w, h, inter, lct in (
        (13, 9, False, False),
        (8, 8, True, False),
        (16, 3, False, True),
        (1, 1, False, False),
    ):
        idx = [rng.randrange(7) for _ in range(w * h)]
        gif = _gif_encode(w, h, pal, idx, interlace=inter, local_ct=lct)
        assert sniff_media_type(gif) == "gif"
        d = decode_real(gif, "image")
        expect = [c for v in idx for c in pal[3 * v : 3 * v + 3]]
        assert (d["width"], d["height"], d["channels"]) == (w, h, 3)
        assert d["pixels"] == expect, (w, h, inter, lct)
    # KwKwK stress: aaaa... runs force the code==next_code case
    idx = [0] * 40 + [1] + [0] * 40
    d = decode_real(_gif_encode(9, 9, pal, idx), "image")
    assert d["pixels"] == [c for v in idx for c in pal[3 * v : 3 * v + 3]]
    # transparency index -> RGBA with alpha 0 at matches
    idx = [0, 2, 0, 1]
    d = decode_real(_gif_encode(2, 2, pal, idx, transparent=2), "image")
    assert d["channels"] == 4
    assert d["pixels"][3::4] == [255, 0, 255, 255]
    # truncated raster and bad magic reject loudly
    gif = _gif_encode(4, 4, pal, [0] * 16)
    with pytest.raises(ValueError):
        decode_real(gif[:-8], "image")
    with pytest.raises(ValueError, match="not a GIF|unknown"):
        decode_real(b"GIF89a" + b"\x00" * 20, "image")


def test_gif_lzw_property():
    """Property: arbitrary index streams round-trip through the real
    LZW encoder — long runs, alternations, full-palette noise."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from user_behavior_spark_pipeline_spark.operators.multimodal import (
        decode_real,
    )

    pal = bytes(range(48))  # 16 colors

    @settings(
        max_examples=60,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(st.data())
    def check(data):
        w = data.draw(st.integers(1, 24))
        h = data.draw(st.integers(1, 24))
        idx = data.draw(
            st.lists(
                st.integers(0, 15), min_size=w * h, max_size=w * h
            )
        )
        d = decode_real(_gif_encode(w, h, pal, idx), "image")
        assert d["pixels"] == [
            c for v in idx for c in pal[3 * v : 3 * v + 3]
        ]

    check()


def test_tiff_decode_roundtrip_and_rejection():
    """TIFF (r11): both byte orders, multi-strip assembly, RGB and
    gray; unsupported variants (compression, depth) reject loudly."""
    import random
    import struct

    from user_behavior_spark_pipeline_spark.operators.multimodal import (
        decode_real,
        sniff_media_type,
        tiff_encode,
    )

    rng = random.Random(17)
    for le in (True, False):
        for ch, w, h, rps in ((1, 7, 5, None), (3, 4, 6, 2), (1, 3, 9, 4)):
            px = [rng.randrange(256) for _ in range(w * h * ch)]
            raw = tiff_encode(
                w, h, px, channels=ch, little_endian=le, rows_per_strip=rps
            )
            d = decode_real(raw, "image")
            assert d["pixels"] == px and d["channels"] == ch, (le, ch)
            assert sniff_media_type(raw) == "tiff"
    # JPEG-in-TIFF (7) is out of scope, loudly
    raw = bytearray(tiff_encode(4, 4, [0] * 16))
    i = raw.index(struct.pack("<HHI", 259, 3, 1))
    struct.pack_into("<H", raw, i + 8, 7)
    with pytest.raises(ValueError, match="unsupported TIFF"):
        decode_real(bytes(raw), "image")
    with pytest.raises(ValueError, match="strip overruns"):
        decode_real(tiff_encode(4, 4, [0] * 16)[:-8], "image")


def test_tiff_lzw_byte_exact_and_packbits_fixture():
    """Byte-exact pinning of the TIFF LZW coder against a hand-derived
    spec coding, and of the PackBits packet grammar: for input
    07 07 07 08 the code stream is Clear(256), 7, 258, 8, EOI(257),
    all at 9 bits MSB-first -> 8001e0408808. PackBits: a 5-run, 3
    literals, then a 200-run split 128+72."""
    from user_behavior_spark_pipeline_spark.operators.multimodal import (
        _packbits_decode,
        _packbits_encode,
        _tiff_lzw_decode,
        _tiff_lzw_encode,
    )

    assert _tiff_lzw_encode(b"\x07\x07\x07\x08").hex() == "8001e0408808"
    assert (
        _tiff_lzw_decode(bytes.fromhex("8001e0408808"), 4)
        == b"\x07\x07\x07\x08"
    )
    data = b"\xaa" * 5 + b"\x01\x02\x03" + b"\xbb" * 200
    enc = _packbits_encode(data)
    assert enc.hex() == "fcaa0201020381bbb9bb"
    assert _packbits_decode(enc, len(data)) == data
    # the no-op byte (128) must be skipped, not treated as data
    assert _packbits_decode(b"\x80\x00\x41", 1) == b"A"


def _independent_tiff_lzw_encode(data: bytes) -> bytes:
    """An INDEPENDENT TIFF-LZW writer for cross-checking the package
    decoder: bit-string based (not the package's accumulator), early
    change expressed directly in the spec's wording — 'switch to w+1
    bits after adding code 2^w - 1 to the table', table reset once
    code 4093 has been assigned."""
    table = {bytes([i]): i for i in range(256)}
    nxt = 258
    width = 9
    bits: list[str] = [format(256, "09b")]
    omega = b""
    for b in data:
        k = omega + bytes([b])
        if k in table:
            omega = k
            continue
        bits.append(format(table[omega], f"0{width}b"))
        table[k] = nxt
        if nxt == (1 << width) - 1 and width < 12:
            width += 1
        nxt += 1
        omega = bytes([b])
        if nxt == 4094:
            bits.append(format(256, f"0{width}b"))
            table = {bytes([i]): i for i in range(256)}
            nxt = 258
            width = 9
    if omega:
        bits.append(format(table[omega], f"0{width}b"))
        # the reader learns one more entry from this final code; if that
        # lands its table on 2^w - 1 it switches width before EOI
        if nxt == (1 << width) - 1 and width < 12:
            width += 1
    bits.append(format(257, f"0{width}b"))
    s = "".join(bits)
    s += "0" * ((8 - len(s) % 8) % 8)
    return bytes(int(s[i : i + 8], 2) for i in range(0, len(s), 8))


def test_tiff_lzw_independent_writer_and_width_boundaries():
    """The package LZW decoder reproduces streams from an independent
    spec-derived writer, across the 9->10->11->12-bit width boundaries
    and a table reset at code 4094 (needs >3836 fresh dictionary
    entries); the package encoder's output is byte-identical to the
    independent writer's (same spec, two implementations)."""
    import random

    from user_behavior_spark_pipeline_spark.operators.multimodal import (
        _tiff_lzw_decode,
        _tiff_lzw_encode,
    )

    rng = random.Random(99)
    # incompressible: dictionary grows one entry per ~byte -> crosses
    # every width boundary and the 4094 reset within 8k bytes
    for n in (1, 17, 700, 3000, 9000):
        data = bytes(rng.randrange(256) for _ in range(n))
        ind = _independent_tiff_lzw_encode(data)
        assert _tiff_lzw_decode(ind, n) == data, n
        assert _tiff_lzw_encode(data) == ind, n
    # highly repetitive: KwKwK (code == next_code) cases
    data = b"\x05" * 1000 + b"\x06\x05" * 500
    ind = _independent_tiff_lzw_encode(data)
    assert _tiff_lzw_decode(ind, len(data)) == data
    assert _tiff_lzw_encode(data) == ind


def test_tiff_compressed_roundtrip_grid():
    """PackBits and LZW (with and without the horizontal predictor)
    round-trip across byte orders, channel counts and strip layouts;
    corruption quarantines (ValueError), never a wrong raster."""
    import random

    from user_behavior_spark_pipeline_spark.operators.multimodal import (
        decode_real,
        sniff_media_type,
        tiff_encode,
    )

    rng = random.Random(31)
    for comp in (5, 32773):
        for pred in (1, 2):
            for le in (True, False):
                for ch, w, h, rps in (
                    (1, 7, 5, None),
                    (3, 4, 6, 2),
                    (1, 9, 9, 4),
                ):
                    if comp == 32773 and pred == 2:
                        continue  # predictor certified on the LZW path
                    px = [rng.randrange(256) for _ in range(w * h * ch)]
                    raw = tiff_encode(
                        w,
                        h,
                        px,
                        channels=ch,
                        little_endian=le,
                        rows_per_strip=rps,
                        compression=comp,
                        predictor=pred,
                    )
                    d = decode_real(raw, "image")
                    assert d["pixels"] == px, (comp, pred, le, ch)
                    assert sniff_media_type(raw) == "tiff"
    # gradient rasters: predictor turns them into near-constant deltas
    w, h = 16, 16
    px = [(r + c) % 256 for r in range(h) for c in range(w)]
    raw = tiff_encode(w, h, px, compression=5, predictor=2)
    base = tiff_encode(w, h, px, compression=5, predictor=1)
    assert decode_real(raw, "image")["pixels"] == px
    assert len(raw) < len(base)  # the predictor actually helps
    # truncated LZW strip -> quarantine-shaped rejection
    import pytest as _pytest

    with _pytest.raises(ValueError, match="LZW|strip"):
        decode_real(raw[:-6], "image")
    # RGB predictor is per-channel: r=g=b would hide channel mixing,
    # so use channel-distinct values
    px3 = [(i * 11 + (i % 3) * 37) % 256 for i in range(w * h * 3)]
    raw3 = tiff_encode(
        w, h, px3, channels=3, compression=5, predictor=2, rows_per_strip=3
    )
    assert decode_real(raw3, "image")["pixels"] == px3


def test_tiff_compression_property():
    """Property: arbitrary rasters round-trip through every supported
    TIFF compression x predictor combination."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from user_behavior_spark_pipeline_spark.operators.multimodal import (
        decode_real,
        tiff_encode,
    )

    @settings(
        max_examples=40,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(st.data())
    def check(data):
        w = data.draw(st.integers(1, 12))
        h = data.draw(st.integers(1, 12))
        ch = data.draw(st.sampled_from([1, 3]))
        comp = data.draw(st.sampled_from([1, 5, 32773]))
        pred = data.draw(st.sampled_from([1, 2]))
        rps = data.draw(st.one_of(st.none(), st.integers(1, h)))
        px = data.draw(
            st.lists(
                st.integers(0, 255),
                min_size=w * h * ch,
                max_size=w * h * ch,
            )
        )
        raw = tiff_encode(
            w,
            h,
            px,
            channels=ch,
            little_endian=data.draw(st.booleans()),
            rows_per_strip=rps,
            compression=comp,
            predictor=pred,
        )
        assert decode_real(raw, "image")["pixels"] == px

    check()


def test_wav_float_and_extensible_decode():
    """WAV manual RIFF walk: integer PCM cross-checked against the
    stdlib wave writer, IEEE float32/float64, EXTENSIBLE wrapping,
    word-aligned odd chunks, compressed-format rejection."""
    import io
    import struct
    import wave as wavemod

    from user_behavior_spark_pipeline_spark.operators.multimodal import (
        _wav_decode,
        decode_real,
        wav_encode,
    )

    for width, vals in ((1, [0, 128, 255]), (2, [-30000, 0, 12345]),
                        (4, [-2**31, 2**31 - 1, 7])):
        buf = io.BytesIO()
        w = wavemod.open(buf, "wb")
        w.setnchannels(2)
        w.setsampwidth(width)
        w.setframerate(16000)
        raw = b"".join(
            (v.to_bytes(width, "little", signed=width > 1)
             if width > 1 else bytes([v]))
            for v in vals * 2
        )
        w.writeframes(raw)
        w.close()
        d = decode_real(buf.getvalue(), "audio")
        assert (d["sample_rate"], d["n_channels"], d["sample_width"]) == (
            16000, 2, width)
        assert d["samples"] == vals * 2
    for fmt, vals in (
        ("pcm24", [-70000, 70000]),
        ("float64", [0.1, -3.75]),
        ("ext-pcm16", [-5, 42]),
        ("ext-float32", [0.5, -1.0]),
    ):
        d = _wav_decode(wav_encode(vals, 8000, 1, fmt))
        if fmt == "ext-float32":
            assert all(abs(a - b) < 1e-6 for a, b in zip(d["samples"], vals))
        else:
            assert d["samples"] == vals, (fmt, d["samples"])
    # stdlib wave reads our PCM output back (two-sided cross-check)
    b = wav_encode([-5, 9999], 8000, 1, "pcm16")
    w = wavemod.open(io.BytesIO(b))
    assert w.getnframes() == 2 and w.getframerate() == 8000
    # mu-law (tag 7) rejects as out-of-scope compression
    mu = wav_encode([0, 1], 8000, 1, "pcm16").replace(
        struct.pack("<HH", 1, 1), struct.pack("<HH", 7, 1), 1
    )
    with pytest.raises(ValueError, match="out of scope"):
        _wav_decode(mu)
    # truncated data chunk
    with pytest.raises(ValueError, match="overruns"):
        _wav_decode(wav_encode([1, 2, 3, 4], 8000, 1, "pcm16")[:-3])


def test_image_dimensions_probe_all_formats():
    """Decode-free dims: every repo image builder + all three WebP
    header forms; truncation and unknown payloads reject."""
    from user_behavior_spark_pipeline_spark.operators.multimodal import (
        bmp_encode_rgb24,
        gif_encode_indexed,
        image_dimensions,
        jpeg_encode_gray_dc,
        png_encode_gray,
        sniff_media_type,
        synth_webp_bytes,
        tiff_encode,
    )

    assert image_dimensions(png_encode_gray(7, 3, [0] * 21)) == {
        "format": "png", "width": 7, "height": 3}
    assert image_dimensions(
        gif_encode_indexed(5, 4, bytes(range(12)), [0] * 20)
    ) == {"format": "gif", "width": 5, "height": 4}
    assert image_dimensions(bmp_encode_rgb24(3, 2, [0] * 18)) == {
        "format": "bmp", "width": 3, "height": 2}
    assert image_dimensions(
        tiff_encode(9, 6, [0] * 54, little_endian=False)
    ) == {"format": "tiff", "width": 9, "height": 6}
    for prog in (False, True):
        assert image_dimensions(
            jpeg_encode_gray_dc(16, 8, [0, 0], progressive=prog)
        ) == {"format": "jpeg", "width": 16, "height": 8}
    for v in ("vp8x", "vp8", "vp8l"):
        raw = synth_webp_bytes(123, 77, v)
        assert image_dimensions(raw) == {
            "format": "webp", "width": 123, "height": 77}, v
        assert sniff_media_type(raw) == "webp"
    with pytest.raises(ValueError, match="unrecognized"):
        image_dimensions(b"\x00\x01\x02\x03")
    with pytest.raises(ValueError, match="truncated"):
        image_dimensions(png_encode_gray(7, 3, [0] * 21)[:20])
    # a JPEG whose SOF the full decoder REJECTS (SOF9 arithmetic)
    # still probes: dims are header facts, not decode facts
    raw = bytearray(jpeg_encode_gray_dc(16, 8, [0, 0]))
    i = raw.index(b"\xff\xc0")
    raw[i + 1] = 0xC9
    assert image_dimensions(bytes(raw))["width"] == 16


def test_jpeg_lossless_sof3_full_grid():
    """SOF3 lossless: encoder/decoder round-trip across precisions
    8/12/16, all 7 predictors, point transforms 0/1, gray and RGB —
    lossless means EXACT equality (low Pt bits dropped per spec)."""
    import random

    from user_behavior_spark_pipeline_spark.operators.multimodal import (
        decode_real,
        jpeg_encode_lossless,
    )

    rng = random.Random(77)
    for prec in (8, 12, 16):
        for pred in range(1, 8):
            for ch, pt in ((1, 0), (3, 0), (1, 1)):
                w, h = 9, 7
                px = [rng.randrange(1 << prec) for _ in range(w * h * ch)]
                raw = jpeg_encode_lossless(w, h, px, prec, pred, pt, ch)
                d = decode_real(raw, "image")
                assert d["pixels"] == [(v >> pt) << pt for v in px], (
                    prec, pred, ch, pt)
                assert d["maxval"] == (1 << prec) - 1
                assert d["channels"] == ch
    # predictor 4 on a gradient compresses far below raw
    w, h = 32, 32
    px = [(x + y) % 256 for y in range(h) for x in range(w)]
    assert len(jpeg_encode_lossless(w, h, px, 8, 4)) < w * h // 2
    # truncation quarantines; unsupported variants stay loud
    import pytest as _pytest

    raw = jpeg_encode_lossless(9, 7, [0] * 63, 8, 1)
    with _pytest.raises(ValueError, match="exhausted"):
        decode_real(raw[:-20], "image")
    with _pytest.raises(NotImplementedError, match="restart"):
        # splice a DRI segment before the SOS
        i = raw.index(b"\xff\xda")
        decode_real(raw[:i] + b"\xff\xdd\x00\x04\x00\x04" + raw[i:],
                    "image")


def test_tiff_tiled_rasters():
    """Tiled TIFF (TIFF6 §15): full-size edge tiles cropped into
    place, every compression x predictor, non-divisible geometries."""
    import random
    import struct

    from user_behavior_spark_pipeline_spark.operators.multimodal import (
        _tiff_decode,
        decode_real,
        tiff_encode,
    )

    rng = random.Random(5)
    for comp in (1, 5, 32773):
        for pred in (1, 2):
            for ch in (1, 3):
                for tile in ((4, 4), (5, 3), (16, 16), (7, 16)):
                    w, h = 13, 11
                    px = [rng.randrange(256) for _ in range(w * h * ch)]
                    raw = tiff_encode(
                        w, h, px, channels=ch,
                        little_endian=(comp + pred) % 2 == 0,
                        compression=comp, predictor=pred, tile=tile,
                    )
                    assert decode_real(raw, "image")["pixels"] == px, (
                        comp, pred, ch, tile)
    # zero tile dims / wrong tile count quarantine
    raw = bytearray(tiff_encode(13, 11, [0] * 143, tile=(4, 4)))
    i = raw.index(struct.pack("<HHI", 322, 3, 1))
    struct.pack_into("<H", raw, i + 8, 0)
    with pytest.raises(ValueError, match="tile dimensions"):
        _tiff_decode(bytes(raw))
    raw = bytearray(tiff_encode(13, 11, [0] * 143, tile=(4, 4)))
    i = raw.index(struct.pack("<HHI", 323, 3, 1))
    struct.pack_into("<H", raw, i + 8, 16)  # th=16 -> tile count wrong
    with pytest.raises(ValueError, match="tile count"):
        _tiff_decode(bytes(raw))


def test_png_metadata_chunks():
    """tEXt/zTXt/iTXt/tIME/eXIf walk with CRC verification; the pixel
    decoder reads the same file through the extra chunks."""
    from user_behavior_spark_pipeline_spark.operators.multimodal import (
        decode_real,
        png_metadata,
        synth_png_meta_bytes,
    )

    for did, text in ((0, "hello"), (1, "ünïcode ★"), (7, "日本語")):
        rows = png_metadata(synth_png_meta_bytes(did, text))
        d = {(s, k): v for s, k, v in rows}
        assert d[("text", "Title")] == f"doc {did}"
        assert d[("ztxt", "Comment")] == f"comment {did % 100}"
        assert d[("itxt", "Description")] == text
        assert d[("time", "modified")] == (
            f"2020-01-{did % 28 + 1:02d}T12:30:45")
        assert d[("exif", "orientation")] == str(did % 8 + 1)
        assert d[("exif", "make")] == f"maker{did % 3}"
        assert decode_real(synth_png_meta_bytes(did, text), "image")[
            "pixels"] == [did % 256] * 16
    # CRC flip quarantines; a plain PNG yields no metadata rows
    raw = bytearray(synth_png_meta_bytes(2, "zz"))
    i = raw.find(b"tEXt") + 6
    raw[i] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        png_metadata(bytes(raw))
    from user_behavior_spark_pipeline_spark.operators.multimodal import (
        png_encode_gray,
    )

    assert png_metadata(png_encode_gray(2, 2, [0] * 4)) == []


def test_ico_dimension_probe():
    """ICO: largest-directory-entry dims, the 0-means-256 convention,
    truncation rejection."""
    import struct

    from user_behavior_spark_pipeline_spark.operators.multimodal import (
        image_dimensions,
        synth_ico_bytes,
    )

    for did in (0, 5, 77, 199):
        d = image_dimensions(synth_ico_bytes(did))
        assert d == {"format": "ico", "width": did % 200 + 30,
                     "height": did % 150 + 40}
    # 0 means 256
    ico = b"\x00\x00\x01\x00" + struct.pack("<H", 1)
    ico += bytes([0, 0, 0, 0]) + struct.pack("<HHII", 1, 32, 10, 22)
    ico += bytes(10)
    assert image_dimensions(ico)["width"] == 256
    with pytest.raises(ValueError, match="ICO"):
        image_dimensions(b"\x00\x00\x01\x00\x05\x00")


def test_audio_quality_signals(spark):
    """Clip counting at both rails, float-format normalization, exact
    integer sums, quarantine."""
    from user_behavior_spark_pipeline_spark.operators.multimodal import (
        audio_quality,
        wav_encode,
    )

    rows_in = [
        (0, wav_encode([0, 100, -100, 32767, -32768], 8000, 1, "pcm16")),
        (1, wav_encode([0.0, 1.0, -1.0, 0.5], 8000, 1, "float32")),
        (2, wav_encode([0, 255, 128], 8000, 1, "pcm8")),  # 8-bit rails
    ]
    media = spark.createDataFrame(rows_in, "media_id long, payload binary")
    out = {r.media_id: r for r in audio_quality(media).collect()}
    r = out[0]
    assert (r.n_samples, r.clip_count) == (5, 2)  # both rails clip
    assert r.abs_sum == 0 + 100 + 100 + 32767 + 32768
    assert r.square_sum == 100**2 * 2 + 32767**2 + 32768**2
    r = out[1]  # floats normalize to the 16-bit scale
    assert (r.n_samples, r.clip_count) == (4, 2)
    assert r.abs_sum == 0 + 32767 + 32767 + 16384
    r = out[2]  # unsigned 8-bit recenters; 0 -> -128 and 255 -> 127 clip
    assert (r.n_samples, r.clip_count) == (3, 2)
    broken = spark.createDataFrame(
        [(9, b"RIFF\x00\x00\x00\x00WAVEjunk")],
        "media_id long, payload binary",
    )
    (r,) = audio_quality(broken).collect()
    assert r.parse_error is not None


def test_image_stats_gate(spark):
    """Blank detection (zero variance), glyph detection (tiny distinct
    count), exact sums, quarantine."""
    from user_behavior_spark_pipeline_spark.operators.multimodal import (
        bmp_encode_rgb24,
        image_stats,
        png_encode_gray,
    )

    rows_in = [
        (0, png_encode_gray(2, 2, [10, 20, 30, 40])),
        (1, bmp_encode_rgb24(2, 1, [7] * 6)),  # blank
        (2, png_encode_gray(3, 1, [0, 255, 0])),  # glyph-like: 2 values
    ]
    media = spark.createDataFrame(rows_in, "media_id long, payload binary")
    out = {r.media_id: r for r in image_stats(media).collect()}
    r = out[0]
    assert (r.n_pixels, r.px_sum, r.px_sq_sum) == (4, 100, 3000)
    assert (r.px_min, r.px_max, r.n_distinct) == (10, 40, 4)
    r = out[1]
    assert r.n_distinct == 1 and r.px_min == r.px_max == 7
    assert r.px_sq_sum * r.n_pixels == r.px_sum**2  # zero variance
    assert out[2].n_distinct == 2
    broken = spark.createDataFrame(
        [(9, b"\x89PNG\r\n\x1a\n torn")], "media_id long, payload binary"
    )
    (r,) = image_stats(broken).collect()
    assert r.parse_error is not None
