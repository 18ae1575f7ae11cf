"""H.264/AVC bitstream STRUCTURE parsing — NAL unit walking (Annex-B
start codes and AVCC length-prefixed samples with an avcC config
record), emulation-prevention (EBSP<->RBSP), and exp-Golomb header
decode of SPS / PPS / slice headers (ITU-T H.264 §7.3, §9.1, Annex B;
ISO 14496-15 §5.3.3 for avcC).

This pushes one layer INTO the codec seam demux.py documents: a
training pipeline selecting video samples needs frame TYPES (IDR/I/
P/B), display dimensions (SPS crop arithmetic) and reference flags —
all plain bitstream structure — while entropy decode (CABAC/CAVLC
macroblocks -> pixels) stays behind the seam (multimodal.decode_real).

Scope: baseline/main/high profiles (high adds the chroma-format /
bit-depth / scaling-list SPS prefix, parsed and skipped per §7.3.2.1.1
— scaling lists carry no fields we emit but must be WALKED or every
later field misparses), frame and field coding (frame_mbs_only_flag 0
drives the doubled crop unit), pic_order_cnt types 0/1/2. FMO
(num_slice_groups > 1) quarantines by name — slice-group maps change
nothing we emit but their map syntax is open-ended.

Certification: the synthesized fixture plants an SEI whose RBSP
contains LITERAL start-code prefixes (0x000001) — without correct
emulation-prevention insertion on the write side and removal on the
read side, the Annex-B scan splits phantom NALs and every downstream
row breaks the oracle hash. The oracle itself is pure closed-form
arithmetic over doc_id (never the parser re-run).

The 100 TB shape: one mapInPandas pass over (doc_id, payload) rows,
linear in stream bytes, embarrassingly parallel; malformed payloads
quarantine as ONE parse_error row (the walker discipline of warc.py /
demux.py / pdf.py).

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

_NAL_NAMES = {
    1: "slice",
    5: "idr_slice",
    6: "sei",
    7: "sps",
    8: "pps",
    9: "aud",
    10: "end_of_seq",
    11: "end_of_stream",
    12: "filler",
}

_SLICE_TYPES = ("P", "B", "I", "SP", "SI")

_HIGH_PROFILES = frozenset(
    {100, 110, 122, 244, 44, 83, 86, 118, 128, 138, 139, 134, 135}
)


class _BitReader:
    """MSB-first bit reader over an RBSP with exp-Golomb (§9.1)."""

    __slots__ = ("data", "pos")

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0  # bit position

    def u(self, n: int) -> int:
        out = 0
        for _ in range(n):
            byte = self.pos >> 3
            if byte >= len(self.data):
                raise ValueError("bitstream overrun")
            out = (out << 1) | ((self.data[byte] >> (7 - (self.pos & 7))) & 1)
            self.pos += 1
        return out

    def ue(self) -> int:
        zeros = 0
        while self.u(1) == 0:
            zeros += 1
            if zeros > 31:
                raise ValueError("exp-Golomb code too long")
        return (1 << zeros) - 1 + (self.u(zeros) if zeros else 0)

    def se(self) -> int:
        k = self.ue()
        # §9.1.1: value = (-1)^(k+1) * ceil(k/2)
        return (k + 1) >> 1 if k & 1 else -(k >> 1)


class _BitWriter:
    """Write-side twin for the deterministic fixture."""

    __slots__ = ("bits",)

    def __init__(self) -> None:
        self.bits: list[int] = []

    def u(self, value: int, n: int) -> _BitWriter:
        for i in range(n - 1, -1, -1):
            self.bits.append((value >> i) & 1)
        return self

    def ue(self, value: int) -> _BitWriter:
        k = value + 1
        n = k.bit_length()
        self.u(0, n - 1)
        self.u(k, n)
        return self

    def se(self, value: int) -> _BitWriter:
        return self.ue(2 * value - 1 if value > 0 else -2 * value)

    def rbsp(self) -> bytes:
        """Close with rbsp_trailing_bits (stop bit + alignment)."""
        bits = self.bits + [1]
        while len(bits) % 8:
            bits.append(0)
        out = bytearray()
        for i in range(0, len(bits), 8):
            b = 0
            for bit in bits[i : i + 8]:
                b = (b << 1) | bit
            out.append(b)
        return bytes(out)


def rbsp_to_ebsp(rbsp: bytes) -> bytes:
    """Insert emulation_prevention_three_byte (§7.4.1): any 0x0000
    followed by a byte <= 0x03 gets 0x03 interposed — INCLUDING at end
    of data (§7.4.1.1: an RBSP ending in 0x0000, which cabac_zero_words
    produce, gets a final 0x03 so the EBSP never ends with a start-code
    prefix fragment; round-15 review finding)."""
    out = bytearray()
    zeros = 0
    for b in rbsp:
        if zeros >= 2 and b <= 3:
            out.append(3)
            zeros = 0
        out.append(b)
        zeros = zeros + 1 if b == 0 else 0
    if zeros >= 2:
        out.append(3)
    return bytes(out)


def ebsp_to_rbsp(ebsp: bytes) -> bytes:
    """Remove emulation prevention: 0x000003 followed by 0x00-0x03 —
    or by nothing (a trailing 0x000003 is the §7.4.1.1 cabac_zero_word
    escape; requiring a following byte kept the spurious 0x03 in the
    RBSP tail; round-15 review finding) — drops the 0x03."""
    out = bytearray()
    zeros = 0
    i = 0
    n = len(ebsp)
    while i < n:
        b = ebsp[i]
        if zeros >= 2 and b == 3 and (i + 1 >= n or ebsp[i + 1] <= 3):
            zeros = 0
            i += 1
            continue
        out.append(b)
        zeros = zeros + 1 if b == 0 else 0
        i += 1
    return bytes(out)


def split_annexb(data: bytes) -> list[bytes]:
    """Split an Annex-B byte stream into EBSP NAL payloads (leading
    3- or 4-byte start codes; trailing zero padding tolerated)."""
    n = len(data)
    starts: list[int] = []
    i = 0
    while i + 3 <= n:
        if data[i] == 0 and data[i + 1] == 0 and data[i + 2] == 1:
            starts.append(i + 3)
            i += 3
        else:
            i += 1
    if not starts:
        raise ValueError("no Annex-B start code")
    if data[: starts[0] - 3].strip(b"\x00"):
        raise ValueError("garbage before first start code")
    out = []
    for j, s in enumerate(starts):
        end = (starts[j + 1] - 3) if j + 1 < len(starts) else n
        # the next start code's leading_zero_8bits belong to no NAL
        while end > s and data[end - 1] == 0:
            end -= 1
        out.append(data[s:end])
    return out


def parse_avcc(data: bytes) -> list[bytes]:
    """An avcC decoder-configuration record followed by length-
    prefixed samples -> EBSP NAL payloads, parameter sets first
    (ISO 14496-15 §5.3.3.1)."""
    if len(data) < 7 or data[0] != 1:
        raise ValueError("bad avcC configurationVersion")
    length_size = (data[4] & 0x03) + 1
    n_sps = data[5] & 0x1F
    pos = 6
    nals: list[bytes] = []

    def take_sized(pos: int) -> tuple[bytes, int]:
        if pos + 2 > len(data):
            raise ValueError("truncated avcC")
        ln = int.from_bytes(data[pos : pos + 2], "big")
        if pos + 2 + ln > len(data):
            raise ValueError("truncated avcC parameter set")
        return data[pos + 2 : pos + 2 + ln], pos + 2 + ln

    for _ in range(n_sps):
        nal, pos = take_sized(pos)
        nals.append(nal)
    if pos >= len(data):
        raise ValueError("truncated avcC (no PPS count)")
    n_pps = data[pos]
    pos += 1
    for _ in range(n_pps):
        nal, pos = take_sized(pos)
        nals.append(nal)
    # length-prefixed sample NALs to end of blob
    while pos < len(data):
        if pos + length_size > len(data):
            raise ValueError("truncated NAL length")
        ln = int.from_bytes(data[pos : pos + length_size], "big")
        pos += length_size
        if pos + ln > len(data) or ln == 0:
            raise ValueError("truncated NAL payload")
        nals.append(data[pos : pos + ln])
        pos += ln
    return nals


def _skip_scaling_list(r: _BitReader, size: int) -> None:
    """§7.3.2.1.1.1 — values are irrelevant here but the deltas MUST
    be walked or every later SPS field misparses."""
    last, nxt = 8, 8
    for _ in range(size):
        if nxt != 0:
            nxt = (last + r.se() + 256) % 256
        if nxt != 0:
            last = nxt


def parse_sps(rbsp: bytes) -> dict:
    """seq_parameter_set_rbsp (§7.3.2.1.1) through the VUI flag."""
    r = _BitReader(rbsp)
    sps: dict = {"profile_idc": r.u(8)}
    r.u(8)  # constraint flags + reserved_zero_2bits
    sps["level_idc"] = r.u(8)
    sps["sps_id"] = r.ue()
    chroma_format_idc = 1
    separate_colour_plane = 0
    if sps["profile_idc"] in _HIGH_PROFILES:
        chroma_format_idc = r.ue()
        if chroma_format_idc == 3:
            separate_colour_plane = r.u(1)
        r.ue()  # bit_depth_luma_minus8
        r.ue()  # bit_depth_chroma_minus8
        r.u(1)  # qpprime_y_zero_transform_bypass_flag
        if r.u(1):  # seq_scaling_matrix_present_flag
            for i in range(8 if chroma_format_idc != 3 else 12):
                if r.u(1):
                    _skip_scaling_list(r, 16 if i < 6 else 64)
    sps["chroma_format_idc"] = chroma_format_idc
    sps["log2_max_frame_num"] = r.ue() + 4
    poc_type = r.ue()
    sps["pic_order_cnt_type"] = poc_type
    if poc_type == 0:
        r.ue()  # log2_max_pic_order_cnt_lsb_minus4
    elif poc_type == 1:
        r.u(1)  # delta_pic_order_always_zero_flag
        r.se()  # offset_for_non_ref_pic
        r.se()  # offset_for_top_to_bottom_field
        for _ in range(r.ue()):
            r.se()  # offset_for_ref_frame
    sps["max_num_ref_frames"] = r.ue()
    r.u(1)  # gaps_in_frame_num_value_allowed_flag
    w_mbs = r.ue() + 1
    h_map_units = r.ue() + 1
    frame_mbs_only = r.u(1)
    sps["frame_mbs_only_flag"] = frame_mbs_only
    if not frame_mbs_only:
        r.u(1)  # mb_adaptive_frame_field_flag
    r.u(1)  # direct_8x8_inference_flag
    crop_l = crop_r = crop_t = crop_b = 0
    if r.u(1):  # frame_cropping_flag
        crop_l, crop_r, crop_t, crop_b = r.ue(), r.ue(), r.ue(), r.ue()
    sps["vui_present"] = r.u(1)
    # §7.4.2.1.1 display-size arithmetic
    if chroma_format_idc == 0 or separate_colour_plane:
        unit_x, unit_y = 1, 2 - frame_mbs_only
    else:
        sub_w = 2 if chroma_format_idc in (1, 2) else 1
        sub_h = 2 if chroma_format_idc == 1 else 1
        unit_x = sub_w
        unit_y = sub_h * (2 - frame_mbs_only)
    sps["width"] = 16 * w_mbs - unit_x * (crop_l + crop_r)
    sps["height"] = (
        16 * (2 - frame_mbs_only) * h_map_units - unit_y * (crop_t + crop_b)
    )
    sps["separate_colour_plane"] = separate_colour_plane
    return sps


def parse_pps(rbsp: bytes) -> dict:
    """pic_parameter_set_rbsp (§7.3.2.2) through the flags a slice
    header depends on; FMO quarantines by name."""
    r = _BitReader(rbsp)
    pps = {"pps_id": r.ue(), "sps_id": r.ue()}
    pps["entropy_coding_mode"] = r.u(1)  # 0 CAVLC / 1 CABAC
    pps["bottom_field_pic_order_present"] = r.u(1)
    if r.ue() != 0:  # num_slice_groups_minus1
        raise ValueError("FMO slice groups unsupported")
    r.ue()  # num_ref_idx_l0_default_active_minus1
    r.ue()  # num_ref_idx_l1_default_active_minus1
    r.u(1)  # weighted_pred_flag
    r.u(2)  # weighted_bipred_idc
    r.se()  # pic_init_qp_minus26
    r.se()  # pic_init_qs_minus26
    r.se()  # chroma_qp_index_offset
    r.u(3)  # deblocking / constrained_intra / redundant_pic_cnt flags
    return pps


def parse_slice_header(
    rbsp: bytes, nal_type: int, sps_by_id: dict, pps_by_id: dict
) -> dict:
    """First fields of slice_header (§7.3.3): position, type, frame
    number, idr_pic_id — the selection-relevant prefix."""
    r = _BitReader(rbsp)
    out = {"first_mb": r.ue()}
    st = r.ue()
    if st > 9:
        raise ValueError(f"slice_type {st} out of range")
    out["slice_type"] = _SLICE_TYPES[st % 5]
    pps = pps_by_id.get(r.ue())
    if pps is None:
        raise ValueError("slice references unknown PPS")
    sps = sps_by_id.get(pps["sps_id"])
    if sps is None:
        raise ValueError("PPS references unknown SPS")
    if sps["separate_colour_plane"]:
        r.u(2)  # colour_plane_id
    out["frame_num"] = r.u(sps["log2_max_frame_num"])
    if not sps["frame_mbs_only_flag"] and r.u(1):  # field_pic_flag
        r.u(1)  # bottom_field_flag
    if nal_type == 5:
        out["idr_pic_id"] = r.ue()
    return out


H264_NAL_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("nal_idx", LongType(), True),
        StructField("nal_type", LongType(), True),
        StructField("nal_name", StringType(), True),
        StructField("ref_idc", LongType(), True),
        StructField("profile_idc", LongType(), True),
        StructField("level_idc", LongType(), True),
        StructField("width", LongType(), True),
        StructField("height", LongType(), True),
        StructField("slice_type", StringType(), True),
        StructField("frame_num", LongType(), True),
        StructField("idr_pic_id", LongType(), True),
        StructField("parse_error", StringType(), True),
    ]
)


def h264_nal_rows(payload: bytes) -> list[tuple]:
    """One stream -> per-NAL field tuples (without doc_id). Framing
    dispatch: Annex-B streams begin with a zero byte (start-code
    prefix); an avcC record begins with configurationVersion = 1."""
    nals = (
        split_annexb(payload) if payload[:1] == b"\x00" else parse_avcc(payload)
    )
    sps_by_id: dict[int, dict] = {}
    pps_by_id: dict[int, dict] = {}
    rows = []
    for idx, ebsp in enumerate(nals):
        if not ebsp:
            raise ValueError("empty NAL unit")
        hdr = ebsp[0]
        if hdr & 0x80:
            raise ValueError("forbidden_zero_bit set")
        ref_idc = (hdr >> 5) & 3
        nal_type = hdr & 0x1F
        rbsp = ebsp_to_rbsp(ebsp[1:])
        row = {
            "nal_idx": idx,
            "nal_type": nal_type,
            "nal_name": _NAL_NAMES.get(nal_type, f"type_{nal_type}"),
            "ref_idc": ref_idc,
        }
        if nal_type == 7:
            sps = parse_sps(rbsp)
            sps_by_id[sps["sps_id"]] = sps
            row.update(
                {
                    k: sps[k]
                    for k in ("profile_idc", "level_idc", "width", "height")
                }
            )
        elif nal_type == 8:
            pps = parse_pps(rbsp)
            pps_by_id[pps["pps_id"]] = pps
        elif nal_type in (1, 5):
            row.update(
                parse_slice_header(rbsp, nal_type, sps_by_id, pps_by_id)
            )
        rows.append(
            (
                row.get("nal_idx"),
                row.get("nal_type"),
                row.get("nal_name"),
                row.get("ref_idc"),
                row.get("profile_idc"),
                row.get("level_idc"),
                row.get("width"),
                row.get("height"),
                row.get("slice_type"),
                row.get("frame_num"),
                row.get("idr_pic_id"),
                None,
            )
        )
    return rows


def h264_nal_table(media: DataFrame) -> DataFrame:
    """(doc_id, payload) -> one row per NAL unit; a malformed stream
    quarantines as ONE parse_error row."""

    def _walk(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        for batch in batches:
            rows = []
            for doc_id, payload in zip(batch["doc_id"], batch["payload"]):
                did = int(doc_id)
                try:
                    rows.extend(
                        (did, *r) for r in h264_nal_rows(bytes(payload))
                    )
                except ValueError as e:
                    rows.append(
                        (did, *([None] * 11), str(e))
                    )
            yield pd.DataFrame(
                rows, columns=[f.name for f in H264_NAL_SCHEMA.fields]
            )

    return media.select("doc_id", "payload").mapInPandas(
        _walk, H264_NAL_SCHEMA
    )


# ---------------------------------------------------------------------------
# Deterministic fixture — closed-form in doc_id (k = doc_id % 24)
# ---------------------------------------------------------------------------


def _fixture_params(doc_id: int) -> dict:
    k = doc_id % 24
    return {
        "k": k,
        "profile": 100 if k % 3 == 0 else (77 if k % 2 else 66),
        "level": 30 + k % 21,
        "w_mbs": 40 + k % 8,
        "h_map_units": 20 + k % 6,
        "frame_mbs_only": 0 if k % 7 == 0 else 1,
        "crop_r": k % 5,
        "crop_b": (k % 5) // 2,
        "poc_type": (1 if k % 8 == 5 else k % 2 * 2),  # 0 / 2, k%8==5 -> 1
        "log2mfn_minus4": k % 4,
        "scaling_matrix": k % 6 == 0 and k % 3 == 0,
        "n_extra_slices": k % 4 + 1,
    }


def _sps_bytes(p: dict) -> bytes:
    w = _BitWriter()
    w.u(p["profile"], 8).u(0, 8).u(p["level"], 8).ue(0)
    if p["profile"] in _HIGH_PROFILES:
        w.ue(1)  # chroma_format_idc 4:2:0
        w.ue(0).ue(0).u(0, 1)  # bit depths, bypass flag
        if p["scaling_matrix"]:
            w.u(1, 1)
            for i in range(8):
                if i == 0:  # one present list with real deltas
                    w.u(1, 1)
                    for _ in range(16):
                        w.se(1)
                else:
                    w.u(0, 1)
        else:
            w.u(0, 1)
    w.ue(p["log2mfn_minus4"])
    w.ue(p["poc_type"])
    if p["poc_type"] == 0:
        w.ue(2)  # log2_max_pic_order_cnt_lsb_minus4
    elif p["poc_type"] == 1:
        w.u(0, 1).se(0).se(0)
        w.ue(2).se(1).se(-1)  # two-entry ref-frame offset cycle
    w.ue(3)  # max_num_ref_frames
    w.u(0, 1)
    w.ue(p["w_mbs"] - 1)
    w.ue(p["h_map_units"] - 1)
    w.u(p["frame_mbs_only"], 1)
    if not p["frame_mbs_only"]:
        w.u(0, 1)  # mb_adaptive_frame_field_flag
    w.u(1, 1)  # direct_8x8_inference_flag
    if p["crop_r"] or p["crop_b"]:
        w.u(1, 1)
        w.ue(0).ue(p["crop_r"]).ue(0).ue(p["crop_b"])
    else:
        w.u(0, 1)
    w.u(0, 1)  # vui_parameters_present_flag
    return bytes([0x67]) + rbsp_to_ebsp(w.rbsp())


def _pps_bytes() -> bytes:
    w = _BitWriter()
    w.ue(0).ue(0)  # pps_id, sps_id
    w.u(0, 1).u(0, 1)  # CAVLC, no bottom-field-poc
    w.ue(0)  # one slice group
    w.ue(0).ue(0)
    w.u(0, 1).u(0, 2)
    w.se(0).se(0).se(0)
    w.u(0, 3)
    return bytes([0x68]) + rbsp_to_ebsp(w.rbsp())


def _sei_trap_bytes(k: int) -> bytes:
    """SEI whose RBSP embeds LITERAL start-code prefixes — the
    emulation-prevention trap (module docstring)."""
    rbsp = bytes(
        [5, 16, k, 0, 0, 1, 0, 0, 2, 0, 0, 3, 0, 0, 0, 1, 0, k, 0x80]
    )  # payload_type 5 (user_data), size 16, then trailing stop byte
    return bytes([0x06]) + rbsp_to_ebsp(rbsp)


def _slice_bytes(p: dict, idr: bool, slice_idx: int) -> bytes:
    w = _BitWriter()
    w.ue(0)  # first_mb_in_slice
    if idr:
        w.ue(7)  # slice_type 7 = I (all-slices form)
        hdr = 0x65  # ref_idc 3, type 5
    else:
        st = (0, 1, 2)[slice_idx % 3]
        w.ue(st)
        hdr = 0x01 if st == 1 else 0x61  # B slices non-ref (idc 0)
    w.ue(0)  # pps_id
    w.u(0 if idr else slice_idx, p["log2mfn_minus4"] + 4)  # frame_num
    if not p["frame_mbs_only"]:
        w.u(0, 1)  # field_pic_flag
    if idr:
        w.ue(p["k"])  # idr_pic_id
    return bytes([hdr]) + rbsp_to_ebsp(w.rbsp())


def synth_h264_stream(doc_id: int) -> bytes:
    """Deterministic elementary stream: SPS, PPS, EP-trap SEI, IDR,
    then k%4+1 P/B/I slices. Even doc_ids frame as Annex-B, odd as an
    avcC record + length-prefixed samples — one oracle certifies both
    framings."""
    p = _fixture_params(doc_id)
    sps, pps = _sps_bytes(p), _pps_bytes()
    samples = [_sei_trap_bytes(p["k"]), _slice_bytes(p, True, 0)]
    for i in range(1, p["n_extra_slices"] + 1):
        samples.append(_slice_bytes(p, False, i))
    if doc_id % 2 == 0:
        out = bytearray()
        for i, nal in enumerate([sps, pps, *samples]):
            out += b"\x00\x00\x00\x01" if i == 0 else b"\x00\x00\x01"
            out += nal
        return bytes(out)
    # avcC record + 4-byte-length samples
    out = bytearray(
        bytes([1, p["profile"], 0, p["level"], 0xFF, 0xE1])
    )
    out += len(sps).to_bytes(2, "big") + sps
    out += bytes([1]) + len(pps).to_bytes(2, "big") + pps
    for nal in samples:
        out += len(nal).to_bytes(4, "big") + nal
    return bytes(out)


def synth_h264_media(documents: DataFrame) -> DataFrame:
    """documents -> (doc_id, payload) fixture streams."""
    return documents.select(
        documents["doc_id"],
        synth_bytes(synth_h264_stream, documents["doc_id"]).alias("payload"),
    )
