"""FLAC audio DECODE — frames -> bit-exact PCM (the lossless half of
the audio codec seam, r15).

demux.py documents "MP3 frames -> PCM" behind the codec seam because
MPEG audio synthesis needs the spec's tabulated window coefficients
(ISO 11172-3 Table 3-B.3) — values, not math, so a from-scratch
implementation can't be certified faithful offline. FLAC is the
opposite case: the whole format is closed-form integer arithmetic
(RFC 9639 / xiph.org spec) — fixed/LPC predictors, Rice-coded
residuals, stereo decorrelation — and LOSSLESS, so a decoder is
certifiable bit-exactly against the waveform's closed form. This
module implements the full subset real encoders emit:

- STREAMINFO walk (magic, metadata framing) then frame sync walking
- frame headers: blocksize/rate/channel/sample-size codes, UTF-8-coded
  frame number, CRC-8 (poly 0x07) verified
- subframes: CONSTANT / VERBATIM / FIXED orders 0-4 / LPC orders 1-32
  (quantized coefficients, signed shift), wasted-bits unpacking
- residuals: Rice method 0 (4-bit) and 1 (5-bit) parameters,
  partition orders, escape partitions (raw two's-complement)
- stereo decorrelation: left/side, right/side, mid/side exact
  integer reconstruction
- frame CRC-16 (poly 0x8005) verified; any mismatch quarantines

The 100 TB shape: one mapInPandas pass, linear in payload bytes,
embarrassingly parallel; per-file corruption -> ONE parse_error row
(the walker discipline). Stats mirror multimodal.audio_quality's
integer-exact certificate (sums, |x| sums, squares — no float
tolerance anywhere).

Reference parity note: the reference pipeline has no media path
(SURVEY.md §2.1); training-data extension surface (§2.5).
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from .payload import synth_bytes

# ---------------------------------------------------------------------------
# CRCs (FLAC frame header CRC-8 poly 0x07, frame CRC-16 poly 0x8005,
# both init 0, MSB-first) — pinned by public check values in tests
# ---------------------------------------------------------------------------


def _crc_table(poly: int, width: int) -> list[int]:
    mask = (1 << width) - 1
    top = 1 << (width - 1)
    table = []
    for b in range(256):
        c = b << (width - 8)
        for _ in range(8):
            c = ((c << 1) ^ poly) & mask if c & top else (c << 1) & mask
        table.append(c)
    return table


#: table-driven forms of the original bit-loop CRCs (same polynomial,
#: init 0, MSB-first — byte-identical output; the bit loop was 25% of
#: frame decode time under profile)
_CRC8_TABLE = _crc_table(0x07, 8)
_CRC16_TABLE = _crc_table(0x8005, 16)


def crc8(data: bytes) -> int:
    c = 0
    table = _CRC8_TABLE
    for b in data:
        c = table[c ^ b]
    return c


def crc16(data: bytes) -> int:
    c = 0
    table = _CRC16_TABLE
    for b in data:
        c = table[((c >> 8) ^ b) & 0xFF] ^ ((c << 8) & 0xFFFF)
    return c


class _Bits:
    """MSB-first reader with FLAC's unary (zeros then a one)."""

    __slots__ = ("data", "pos", "_np")

    def __init__(self, data: bytes, pos_bits: int = 0) -> None:
        self.data = data
        self.pos = pos_bits
        self._np = None  # lazy (bits, ones) numpy views for rice()

    def u(self, n: int) -> int:
        # whole-field extraction (one bytes→int of the ⌈n/8⌉+1 covering
        # bytes, shift, mask) instead of a per-BIT Python loop: the Rice
        # residual path calls this once per sample, and the bit loop was
        # the decode hot spot (guide §4.2 — per-task work in efficient
        # primitives; SCALE.md r15 watch item)
        pos = self.pos
        end = pos + n
        data = self.data
        if end > len(data) * 8:
            raise ValueError("FLAC bitstream overrun")
        if n == 0:
            return 0
        chunk = int.from_bytes(data[pos >> 3 : (end + 7) >> 3], "big")
        self.pos = end
        return (chunk >> (-end % 8)) & ((1 << n) - 1)

    def s(self, n: int) -> int:
        v = self.u(n)
        return v - (1 << n) if v >> (n - 1) else v

    def s_many(self, n: int, count: int) -> list[int]:
        """``count`` consecutive n-bit signed fields in one extraction —
        one bytes→int conversion for the whole run, then mask/shift per
        field (the verbatim-subframe and warm-up-sample path)."""
        pos = self.pos
        end = pos + n * count
        data = self.data
        if end > len(data) * 8:
            raise ValueError("FLAC bitstream overrun")
        if count == 0:
            return []
        chunk = int.from_bytes(data[pos >> 3 : (end + 7) >> 3], "big") >> (
            -end % 8
        )
        self.pos = end
        mask = (1 << n) - 1
        sign = 1 << (n - 1)
        out = [0] * count
        for i in range(count - 1, -1, -1):
            v = chunk & mask
            out[i] = v - mask - 1 if v & sign else v
            chunk >>= n
        return out

    def rice(self, param: int, count: int) -> list[int]:
        """``count`` Rice(param)-coded residuals. Large partitions take
        the VECTORIZED path (guide §4.2 / SCALE.md r15 WATCH row): one
        np.unpackbits of the payload (cached per reader), the unary
        terminators found as a pointer-doubled successor walk over the
        one-bit index array (each terminator is the first 1-bit at
        least 1+param past the previous one), remainders gathered as a
        (count, param) bit matrix — no per-sample Python loop. Small
        partitions keep the fused scalar loop (vector setup outweighs
        it). Error behaviour matches the scalar path: overrun past the
        payload end, runaway-run guard at 2^20 zeros, identical
        messages."""
        if count >= 64:
            return self._rice_np(param, count)
        return self._rice_scalar(param, count)

    def _rice_np(self, param: int, count: int) -> list[int]:
        import numpy as np

        if self._np is None:
            bits = np.unpackbits(np.frombuffer(self.data, np.uint8))
            self._np = (bits, np.flatnonzero(bits).astype(np.int64))
        bits, ones = self._np
        total = len(self.data) * 8
        pos = self.pos
        m = len(ones)
        step = 1 + param
        # successor: for one-index i, the first one at >= ones[i] + step
        # (the next residual's unary terminator, skipping the remainder
        # field); sentinel m self-loops so exhausted chains stay put
        nxt = np.append(np.searchsorted(ones, ones + step), m)
        # pointer doubling: X holds the terminator indices of residuals
        # 0..len(X)-1; each round extends the path by its own length
        x = np.array([np.searchsorted(ones, pos)], dtype=np.int64)
        f = nxt
        while len(x) < count:
            x = np.concatenate([x, f[x]])
            if len(x) < count:
                f = f[f]
        x = x[:count]
        t = np.append(ones, total)[x]  # terminator bit positions
        starts = np.empty(count, dtype=np.int64)
        starts[0] = pos
        starts[1:] = t[:-1] + step
        q = t - starts
        bad = (x == m) | (q > (1 << 20))
        if bad.any():
            k = int(np.argmax(bad))  # first failure; starts[k] is valid
            if x[k] == m:  # no terminator before payload end
                if total - int(starts[k]) > (1 << 20) + 8:
                    raise ValueError("unreasonable unary run")
                raise ValueError("FLAC bitstream overrun")
            raise ValueError("unreasonable unary run")
        end = int(t[-1]) + step
        if end > total:  # last remainder field crosses the payload end
            raise ValueError("FLAC bitstream overrun")
        if param:
            idx = t[:, None] + 1 + np.arange(param, dtype=np.int64)
            weights = (
                np.int64(1) << np.arange(param - 1, -1, -1, dtype=np.int64)
            )
            u = (q << param) | (bits[idx].astype(np.int64) @ weights)
        else:
            u = q
        self.pos = end
        return ((u >> 1) ^ -(u & 1)).tolist()

    def _rice_scalar(self, param: int, count: int) -> list[int]:
        data = self.data
        pos = self.pos
        total = len(data) * 8
        pmask = (1 << param) - 1
        out = [0] * count
        for i in range(count):
            start = pos
            while True:
                if pos >= total:
                    raise ValueError("FLAC bitstream overrun")
                b = data[pos >> 3] & (0xFF >> (pos & 7))
                if b:
                    stop = (pos & ~7) + (8 - b.bit_length())
                    if stop - start > 1 << 20:
                        raise ValueError("unreasonable unary run")
                    q = stop - start
                    pos = stop + 1
                    break
                pos = (pos | 7) + 1
                if pos - start > (1 << 20) + 8:
                    raise ValueError("unreasonable unary run")
            if param:
                end = pos + param
                if end > total:
                    raise ValueError("FLAC bitstream overrun")
                chunk = int.from_bytes(
                    data[pos >> 3 : (end + 7) >> 3], "big"
                )
                u = (q << param) | ((chunk >> (-end % 8)) & pmask)
                pos = end
            else:
                u = q
            out[i] = (u >> 1) ^ -(u & 1)
        self.pos = pos
        return out

    def unary(self) -> int:
        # byte-wise scan for the terminating 1 bit (mask the consumed
        # prefix of the current byte, then whole zero bytes at a time)
        # instead of one u(1) call per zero bit — same overrun and
        # runaway-run errors as the bit-at-a-time form
        data, pos = self.data, self.pos
        total = len(data) * 8
        start = pos
        while pos < total:
            b = data[pos >> 3] & (0xFF >> (pos & 7))
            if b:
                stop = (pos & ~7) + (8 - b.bit_length())
                if stop - start > 1 << 20:
                    raise ValueError("unreasonable unary run")
                self.pos = stop + 1
                return stop - start
            pos = (pos | 7) + 1
            if pos - start > (1 << 20) + 8:
                raise ValueError("unreasonable unary run")
        raise ValueError("FLAC bitstream overrun")

    def align(self) -> None:
        self.pos = (self.pos + 7) & ~7

    def byte_pos(self) -> int:
        return self.pos >> 3


class _BitsW:
    # whole-field writes into a small pending accumulator flushed to a
    # bytearray byte-wise — replaces the one-list-element-per-BIT form
    # whose append loop dominated fixture synthesis (the encoder runs in
    # the timed region of x_flac_pcm; guide §4.2)
    __slots__ = ("out", "acc", "nbits")

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def u(self, value: int, n: int) -> "_BitsW":
        acc = (self.acc << n) | (value & ((1 << n) - 1))
        nb = self.nbits + n
        out = self.out
        while nb >= 8:
            nb -= 8
            out.append((acc >> nb) & 0xFF)
        self.acc = acc & ((1 << nb) - 1)
        self.nbits = nb
        return self

    def s(self, value: int, n: int) -> "_BitsW":
        return self.u(value & ((1 << n) - 1), n)

    def unary(self, q: int) -> "_BitsW":
        return self.u(1, q + 1)

    def align(self) -> "_BitsW":
        return self.u(0, -self.nbits % 8)

    def to_bytes(self) -> bytes:
        assert self.nbits == 0
        return bytes(self.out)


_BLOCKSIZES = {
    1: 192, 2: 576, 3: 1152, 4: 2304, 5: 4608,
    8: 256, 9: 512, 10: 1024, 11: 2048, 12: 4096,
    13: 8192, 14: 16384, 15: 32768,
}
_RATES = {
    1: 88200, 2: 176400, 3: 192000, 4: 8000, 5: 16000, 6: 22050,
    7: 24000, 8: 32000, 9: 44100, 10: 48000, 11: 96000,
}
_DEPTHS = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24, 7: 32}

#: fixed-predictor residual: e_t = sum coef_j * x_{t-1-j} subtracted
_FIXED_COEFS = {
    0: (),
    1: (1,),
    2: (2, -1),
    3: (3, -3, 1),
    4: (4, -6, 4, -1),
}


def _read_utf8_number(r: _Bits) -> int:
    """The frame/sample number's UTF-8-style variable-length code."""
    b0 = r.u(8)
    if b0 < 0x80:
        return b0
    n = 0
    while (b0 << n) & 0x80:
        n += 1
    if n < 2 or n > 7:
        raise ValueError("bad UTF-8-coded frame number")
    val = b0 & (0x7F >> n)
    for _ in range(n - 1):
        c = r.u(8)
        if c & 0xC0 != 0x80:
            raise ValueError("bad UTF-8-coded continuation")
        val = (val << 6) | (c & 0x3F)
    return val


def _read_residual(r: _Bits, blocksize: int, order: int) -> list[int]:
    method = r.u(2)
    if method > 1:
        raise ValueError("reserved residual coding method")
    pbits = 4 + method
    escape = (1 << pbits) - 1
    po = r.u(4)
    if blocksize % (1 << po):
        raise ValueError("partition order does not divide blocksize")
    out: list[int] = []
    for p in range(1 << po):
        n = (blocksize >> po) - (order if p == 0 else 0)
        if n < 0:
            raise ValueError("predictor order exceeds first partition")
        param = r.u(pbits)
        if param == escape:
            raw = r.u(5)
            out.extend(r.s_many(raw, n) if raw else [0] * n)
        else:
            out.extend(r.rice(param, n))
    return out


def _read_subframe(r: _Bits, blocksize: int, depth: int) -> list[int]:
    if r.u(1):
        raise ValueError("subframe padding bit set")
    t = r.u(6)
    wasted = 0
    if r.u(1):  # wasted-bits flag: unary count - 1 follows
        wasted = r.unary() + 1
        depth -= wasted
    if depth <= 0:
        raise ValueError("wasted bits consume the whole sample")
    if t == 0:
        x = [r.s(depth)] * blocksize
    elif t == 1:
        x = r.s_many(depth, blocksize)
    elif 8 <= t <= 12:
        order = t & 7
        x = r.s_many(depth, order)
        res = _read_residual(r, blocksize, order)
        # unrolled per-order reconstruction over rolling locals — the
        # generic sum-over-coefs genexpr was a decode hot spot and the
        # fixed-predictor formulas are four known closed forms
        app = x.append
        if order == 0:
            x.extend(res)
        elif order == 1:
            v1 = x[-1]
            for e in res:
                v1 = v1 + e
                app(v1)
        elif order == 2:
            v2, v1 = x[-2], x[-1]
            for e in res:
                v0 = 2 * v1 - v2 + e
                app(v0)
                v2, v1 = v1, v0
        elif order == 3:
            v3, v2, v1 = x[-3], x[-2], x[-1]
            for e in res:
                v0 = 3 * v1 - 3 * v2 + v3 + e
                app(v0)
                v3, v2, v1 = v2, v1, v0
        else:
            v4, v3, v2, v1 = x[-4], x[-3], x[-2], x[-1]
            for e in res:
                v0 = 4 * v1 - 6 * v2 + 4 * v3 - v4 + e
                app(v0)
                v4, v3, v2, v1 = v3, v2, v1, v0
    elif t >= 32:
        order = (t & 31) + 1
        x = r.s_many(depth, order)
        precision = r.u(4) + 1
        if precision == 16:
            raise ValueError("invalid LPC precision code")
        shift = r.s(5)
        if shift < 0:
            raise ValueError("negative LPC shift")
        coefs = r.s_many(precision, order)
        res = _read_residual(r, blocksize, order)
        app = x.append
        rng = range(order)
        for e in res:
            xi = len(x)
            acc = 0
            for j in rng:
                acc += coefs[j] * x[xi - 1 - j]
            app((acc >> shift) + e)
    else:
        raise ValueError(f"reserved subframe type {t}")
    if wasted:
        x = [v << wasted for v in x]
    return x


def flac_decode(payload: bytes) -> dict:
    """Full decode: {sample_rate, n_channels, depth, channels:
    list[list[int]]} — bit-exact PCM per channel."""
    if payload[:4] != b"fLaC":
        raise ValueError("not a FLAC payload (no fLaC magic)")
    pos = 4
    info = None
    while True:
        if pos + 4 > len(payload):
            raise ValueError("FLAC metadata overruns payload")
        hdr = payload[pos]
        length = int.from_bytes(payload[pos + 1 : pos + 4], "big")
        body = payload[pos + 4 : pos + 4 + length]
        if len(body) != length:
            raise ValueError("FLAC metadata block overruns payload")
        if hdr & 0x7F == 0:
            if length < 34:
                raise ValueError("FLAC STREAMINFO too short")
            r = _Bits(body)
            r.u(16), r.u(16), r.u(24), r.u(24)
            info = {
                "sample_rate": r.u(20),
                "n_channels": r.u(3) + 1,
                "depth": r.u(5) + 1,
                "total_samples": r.u(36),
            }
        pos += 4 + length
        if hdr & 0x80:
            break
    if info is None:
        raise ValueError("FLAC stream lacks STREAMINFO")
    channels: list[list[int]] = [[] for _ in range(info["n_channels"])]
    while pos < len(payload):
        pos = _decode_frame(payload, pos, info, channels)
    if info["total_samples"] and len(channels[0]) != info["total_samples"]:
        raise ValueError("decoded sample count != STREAMINFO total")
    return {**info, "channels": channels}


def _decode_frame(
    payload: bytes, pos: int, info: dict, channels: list[list[int]]
) -> int:
    r = _Bits(payload, pos * 8)
    if r.u(14) != 0x3FFE:
        raise ValueError("bad frame sync code")
    if r.u(1):
        raise ValueError("frame reserved bit set")
    r.u(1)  # blocking strategy
    bs_code = r.u(4)
    sr_code = r.u(4)
    ch_code = r.u(4)
    depth_code = r.u(3)
    if r.u(1):
        raise ValueError("frame header reserved bit set")
    _read_utf8_number(r)
    if bs_code == 0:
        raise ValueError("reserved blocksize code")
    elif bs_code == 6:
        blocksize = r.u(8) + 1
    elif bs_code == 7:
        blocksize = r.u(16) + 1
    else:
        blocksize = _BLOCKSIZES[bs_code]
    if sr_code == 12:
        r.u(8)
    elif sr_code in (13, 14):
        r.u(16)
    elif sr_code == 15:
        raise ValueError("invalid sample rate code")
    depth = info["depth"] if depth_code == 0 else _DEPTHS.get(depth_code)
    if depth is None:
        raise ValueError("reserved sample size code")
    hdr_end = r.byte_pos()
    if crc8(payload[pos:hdr_end]) != r.u(8):
        raise ValueError("frame header CRC-8 mismatch")
    if ch_code < 8:
        n_ch = ch_code + 1
        subs = [_read_subframe(r, blocksize, depth) for _ in range(n_ch)]
    elif ch_code in (8, 9, 10):
        n_ch = 2
        # the SIDE channel carries one extra bit of depth
        d0 = depth + (1 if ch_code == 9 else 0)
        d1 = depth + (1 if ch_code in (8, 10) else 0)
        a = _read_subframe(r, blocksize, d0)
        b = _read_subframe(r, blocksize, d1)
        if ch_code == 8:  # left/side: L, S=L-R
            subs = [a, [x - s for x, s in zip(a, b)]]
        elif ch_code == 9:  # right/side: S=L-R, R
            subs = [[s + x for s, x in zip(a, b)], b]
        else:  # mid/side: M=(L+R)>>1, S=L-R
            subs = [[], []]
            for m, s in zip(a, b):
                m2 = (m << 1) | (s & 1)
                subs[0].append((m2 + s) >> 1)
                subs[1].append((m2 - s) >> 1)
    else:
        raise ValueError("reserved channel assignment")
    if n_ch != info["n_channels"]:
        raise ValueError("frame channel count != STREAMINFO")
    r.align()
    body_end = r.byte_pos()
    if crc16(payload[pos:body_end]) != r.u(16):
        raise ValueError("frame CRC-16 mismatch")
    for ch, x in zip(channels, subs):
        ch.extend(x)
    return r.byte_pos()


# ---------------------------------------------------------------------------
# Write side (fixture): a deterministic encoder over the same subset
# ---------------------------------------------------------------------------


def _write_residual(
    w: _BitsW, res: list[int], order: int, blocksize: int, po: int
) -> None:
    w.u(0, 2)  # method 0: 4-bit params
    w.u(po, 4)
    idx = 0
    for p in range(1 << po):
        n = (blocksize >> po) - (order if p == 0 else 0)
        part = res[idx : idx + n]
        idx += n
        folded = [(v << 1) ^ (v >> 63) for v in part]  # arithmetic fold
        mx = max(folded, default=0)
        param = max(mx.bit_length() - 1, 0)
        param = min(param, 14)
        w.u(param, 4)
        for u in folded:
            w.unary(u >> param)
            if param:
                w.u(u & ((1 << param) - 1), param)


def _write_subframe(
    w: _BitsW, x: list[int], depth: int, kind: str, po: int
) -> None:
    w.u(0, 1)
    if kind == "constant":
        w.u(0, 6).u(0, 1).s(x[0], depth)
        return
    if kind == "verbatim":
        w.u(1, 6).u(0, 1)
        for v in x:
            w.s(v, depth)
        return
    if kind.startswith("fixed"):
        order = int(kind[-1])
        w.u(8 | order, 6).u(0, 1)
        for v in x[:order]:
            w.s(v, depth)
        coefs = _FIXED_COEFS[order]
        res = [
            x[t] - sum(c * x[t - 1 - j] for j, c in enumerate(coefs))
            for t in range(order, len(x))
        ]
        _write_residual(w, res, order, len(x), po)
        return
    if kind == "lpc2":
        # order-2 LPC duplicating the fixed-2 predictor through the
        # quantized-coefficient path: coefs [2, -1], shift 0
        w.u(32 | 1, 6).u(0, 1)
        for v in x[:2]:
            w.s(v, depth)
        w.u(3, 4)  # precision 4 (stored precision-1)
        w.s(0, 5)
        w.s(2, 4).s(-1, 4)
        res = [x[t] - (2 * x[t - 1] - x[t - 2]) for t in range(2, len(x))]
        _write_residual(w, res, 2, len(x), po)
        return
    raise AssertionError(kind)


def _encode_frame(
    frame_no: int,
    chans: list[list[int]],
    depth: int,
    mode: str,
    kinds: list[str],
    po: int,
) -> bytes:
    blocksize = len(chans[0])
    assert blocksize == 256, "fixture uses blocksize code 8"
    w = _BitsW()
    w.u(0x3FFE, 14).u(0, 1).u(0, 1)
    w.u(8, 4)  # blocksize 256
    w.u(9, 4)  # 44100 Hz
    ch_code = {"indep": len(chans) - 1, "ls": 8, "rs": 9, "ms": 10}[mode]
    w.u(ch_code, 4)
    w.u(4, 3).u(0, 1)  # 16-bit, reserved
    assert frame_no < 0x80
    w.u(frame_no, 8)
    hdr = w.align().to_bytes()
    hdr += bytes([crc8(hdr)])
    w = _BitsW()
    if mode == "indep":
        stored = chans
        depths = [depth] * len(chans)
    else:
        L, R = chans
        side = [a - b for a, b in zip(L, R)]
        if mode == "ls":
            stored, depths = [L, side], [depth, depth + 1]
        elif mode == "rs":
            stored, depths = [side, R], [depth + 1, depth]
        else:
            stored = [[(a + b) >> 1 for a, b in zip(L, R)], side]
            depths = [depth, depth + 1]
    for x, d, kind in zip(stored, depths, kinds):
        _write_subframe(w, x, d, kind, po)
    body = w.align().to_bytes()
    frame = hdr + body
    return frame + crc16(frame).to_bytes(2, "big")


def _fixture_pcm(doc_id: int) -> tuple[list[int], list[int]]:
    k = doc_id % 16
    n = 512
    if k % 5 == 0:
        left = [k - 8] * n
    else:
        left = [((t * (3 + k) + k) % 201) - 100 for t in range(n)]
    right = [((t * (7 + k)) % 181) - 90 for t in range(n)]
    return left, right


def synth_flac_bytes(doc_id: int) -> bytes:
    """Deterministic stereo FLAC: 512 samples per channel in two
    256-sample frames; k = doc_id % 16 rotates subframe types
    (constant / verbatim / fixed 1-4 / quantized-LPC), stereo modes
    (independent, left/side, right/side, mid/side) and partition
    orders — every decode path in the module is hash-load-bearing."""
    k = doc_id % 16
    left, right = _fixture_pcm(doc_id)
    if k % 5 == 0:
        mode, kinds = "indep", ["constant", "fixed1"]
    else:
        mode = ("indep", "ls", "rs", "ms")[k % 4]
        kinds = {
            1: ["verbatim", "verbatim"],
            2: ["fixed2", "fixed3"],
            3: ["lpc2", "fixed4"],
            4: ["fixed4", "lpc2"],
        }[k % 5]
    po = 1 if k % 3 == 0 else 0
    w = _BitsW()
    w.u(256, 16).u(256, 16).u(0, 24).u(0, 24)
    w.u(44100, 20).u(1, 3).u(15, 5).u(512, 36)
    info = w.to_bytes() + bytes(16)
    out = b"fLaC" + bytes([0x80]) + len(info).to_bytes(3, "big") + info
    for f in range(2):
        lo, hi = f * 256, (f + 1) * 256
        out += _encode_frame(
            f, [left[lo:hi], right[lo:hi]], 16, mode, kinds, po
        )
    return out


FLAC_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("sample_rate", LongType(), True),
        StructField("n_samples", LongType(), True),
        StructField("ch0_sum", LongType(), True),
        StructField("ch1_sum", LongType(), True),
        StructField("abs_sum", LongType(), True),
        StructField("square_sum", LongType(), True),
        StructField("parse_error", StringType(), True),
    ]
)


def flac_audio_stats(media: DataFrame) -> DataFrame:
    """(doc_id, payload) -> integer-exact PCM certificate per file
    (mirrors multimodal.audio_quality): per-channel sums, |x| sum and
    sum of squares over BOTH channels. Corruption -> one error row."""

    def _walk(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        for batch in batches:
            rows = []
            for doc_id, payload in zip(batch["doc_id"], batch["payload"]):
                did = int(doc_id)
                try:
                    d = flac_decode(bytes(payload))
                    chans = d["channels"]
                    flat = [v for ch in chans for v in ch]
                    rows.append(
                        (
                            did,
                            d["sample_rate"],
                            len(chans[0]),
                            sum(chans[0]),
                            sum(chans[1]) if len(chans) > 1 else None,
                            sum(abs(v) for v in flat),
                            sum(v * v for v in flat),
                            None,
                        )
                    )
                except ValueError as e:
                    rows.append(
                        (did, None, None, None, None, None, None, str(e))
                    )
            yield pd.DataFrame(
                rows, columns=[f.name for f in FLAC_STATS_SCHEMA.fields]
            )

    return media.select("doc_id", "payload").mapInPandas(
        _walk, FLAC_STATS_SCHEMA
    )


def synth_flac_media(documents: DataFrame) -> DataFrame:
    """documents -> (doc_id, payload) fixture streams."""
    return documents.select(
        documents["doc_id"],
        synth_bytes(synth_flac_bytes, documents["doc_id"]).alias("payload"),
    )
