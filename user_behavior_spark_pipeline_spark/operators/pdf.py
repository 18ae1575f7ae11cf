"""PDF text extraction — the highest-value non-HTML document format in
a pretraining corpus (papers, reports, books arrive as PDF).

Scope (honest): BOTH PDF layouts. The primary path walks the
cross-reference data — classic xref tables AND the PDF 1.5+ modern
layout (xref STREAMS with /W field widths + PNG predictors, object
streams /Type /ObjStm, /Prev incremental-update chains) — and emits
pages in PAGE-TREE order with multi-part /Contents arrays concatenated
per spec. Files whose xref is damaged fall back to a framing scan over
intact body bytes (salvage, file order). Content streams decode through Flate
(stdlib zlib), LZW (§7.4.4, EarlyChange honoured), ASCII85, ASCIIHex
and RunLength filters including multi-filter /Filter arrays (r13);
text shown via Tj / TJ / ' / " operators
with literal or hex strings (UTF-16BE with BOM, else Latin-1/WinAnsi
approximated as latin-1). r13 additions: ENCRYPTED files with an empty
user password decrypt through the standard security handler
(operators/pdfcrypt.py — RC4 V2/R3, AESV2 V4/R4, AESV3 V5/R6), and
CID/Type0 text extracts through the font's /ToUnicode CMap (bfchar +
bfrange, incrementing and array destinations, /Resources inherited up
the /Parent chain); a Type0 font WITHOUT a usable map still OMITS its
text — glyph indexes read as characters would be silent mojibake.
NOT handled (documented seam, quarantine or partial output, never a
dead task): password-protected files (non-empty user password),
image codec filters (DCTDecode/JPXDecode/JBIG2Decode/CCITTFax — they
carry pixels, not text), CID text whose only mapping is an
external/predefined CMap (no /ToUnicode), and image-only scans
(no OCR).

The 100 TB shape: one mapInPandas pass, linear in PDF bytes,
embarrassingly parallel per document; structural corruption routes to a
``parse_error`` row (the same walker-quarantine contract as
operators/warc.py / demux.py).

Reference parity note: the reference pipeline has no document-ingestion
path (SURVEY.md §2.1); this module is part of the training-data
extension surface (SURVEY.md §2.5).
"""

from __future__ import annotations

import functools
import re
import zlib
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

_ESCAPES = {
    ord("n"): "\n",
    ord("r"): "\r",
    ord("t"): "\t",
    ord("b"): "\b",
    ord("f"): "\f",
    ord("("): "(",
    ord(")"): ")",
    ord("\\"): "\\",
}


def _pdf_literal_string(data: bytes, pos: int) -> tuple[str, int]:
    """Decode a ``(...)`` literal starting AT the opening paren:
    balanced parens, backslash escapes incl. octal and line
    continuations (PDF 32000-1 §7.3.4.2). Returns (text, pos past)."""
    assert data[pos : pos + 1] == b"("
    pos += 1
    depth = 1
    out: list[str] = []
    n = len(data)
    while pos < n:
        b = data[pos]
        if b == 0x5C:  # backslash
            pos += 1
            if pos >= n:
                break
            e = data[pos]
            if e in _ESCAPES:
                out.append(_ESCAPES[e])
                pos += 1
            elif 0x30 <= e <= 0x37:  # octal, up to 3 digits
                oct_digits = ""
                while (
                    pos < n and 0x30 <= data[pos] <= 0x37 and len(oct_digits) < 3
                ):
                    oct_digits += chr(data[pos])
                    pos += 1
                out.append(chr(int(oct_digits, 8) & 0xFF))
            elif e in (0x0A, 0x0D):  # line continuation: swallow EOL
                pos += 1
                if e == 0x0D and pos < n and data[pos] == 0x0A:
                    pos += 1
            else:  # unknown escape: the char stands for itself
                out.append(chr(e))
                pos += 1
            continue
        if b == 0x28:
            depth += 1
        elif b == 0x29:
            depth -= 1
            if depth == 0:
                return "".join(out), pos + 1
        out.append(chr(b))
        pos += 1
    raise ValueError("unterminated PDF literal string")


def _pdf_hex_string(data: bytes, pos: int) -> tuple[str, int]:
    """Decode a ``<...>`` hex string at the opening angle — BYTE
    FAITHFUL (latin-1, like the literal-string parser): /O //U
    encryption values are random binary that must survive parsing;
    UTF-16BE interpretation is a DISPLAY concern and happens in
    pdf_content_text via _bom_decode."""
    end = data.find(b">", pos)
    if end < 0:
        raise ValueError("unterminated PDF hex string")
    hx = re.sub(rb"\s", b"", data[pos + 1 : end])
    if len(hx) % 2:
        hx += b"0"  # spec: odd final digit implies trailing 0
    try:
        raw = bytes.fromhex(hx.decode("ascii"))
    except ValueError:
        raise ValueError("bad PDF hex string") from None
    return raw.decode("latin-1"), end + 1


def _bom_decode(s: str) -> str:
    """Spec §7.9.2: a text string leading with the UTF-16BE BOM is
    UTF-16BE regardless of its spelling (hex or literal); anything
    else reads as the latin-1/WinAnsi approximation it parsed as."""
    if s[:2] == "\xfe\xff":
        return s[2:].encode("latin-1").decode("utf-16-be", "replace")
    return s


_CMAP_TOK_RE = re.compile(rb"<[0-9A-Fa-f]+>|\[|\]")


def _cmap_hex(tok: bytes, what: str) -> bytes:
    h = tok[1:-1]
    if len(h) % 2:
        raise ValueError(f"odd hex length in ToUnicode {what}")
    return bytes.fromhex(h.decode("ascii"))


@functools.lru_cache(maxsize=64)
def parse_tounicode_cmap(data: bytes) -> dict[int, str]:
    """Parse a /ToUnicode CMap stream (spec §9.10.3) to {CID code ->
    unicode string}: beginbfchar pairs, beginbfrange triples with
    either an incrementing destination (big-endian increment over the
    whole destination, the standard reader behaviour) or a bracketed
    destination array. Structural nonsense raises ValueError — the
    document quarantines rather than emitting silently-wrong text.
    Cached per distinct bytes: corpora reuse a handful of font
    programs across millions of documents (callers must not mutate
    the returned dict)."""
    out: dict[int, str] = {}

    def dst_str(raw: bytes) -> str:
        return raw.decode("utf-16-be", "replace")

    for sec in re.findall(rb"beginbfchar(.*?)endbfchar", data, re.S):
        toks = _CMAP_TOK_RE.findall(sec)
        if len(toks) % 2 or any(t in (b"[", b"]") for t in toks):
            raise ValueError("malformed ToUnicode bfchar section")
        for i in range(0, len(toks), 2):
            src = int.from_bytes(_cmap_hex(toks[i], "bfchar"), "big")
            out[src] = dst_str(_cmap_hex(toks[i + 1], "bfchar"))
    for sec in re.findall(rb"beginbfrange(.*?)endbfrange", data, re.S):
        toks = _CMAP_TOK_RE.findall(sec)
        i = 0
        while i < len(toks):
            if i + 2 >= len(toks) or b"[" in (toks[i], toks[i + 1]):
                raise ValueError("malformed ToUnicode bfrange section")
            lo = int.from_bytes(_cmap_hex(toks[i], "bfrange"), "big")
            hi = int.from_bytes(_cmap_hex(toks[i + 1], "bfrange"), "big")
            if hi < lo or hi - lo > 0x10000:
                raise ValueError("ToUnicode bfrange bounds out of order")
            if toks[i + 2] == b"[":
                j = i + 3
                code = lo
                while j < len(toks) and toks[j] != b"]":
                    out[code] = dst_str(_cmap_hex(toks[j], "bfrange"))
                    code += 1
                    j += 1
                if j >= len(toks) or code != hi + 1:
                    raise ValueError(
                        "ToUnicode bfrange array length mismatch"
                    )
                i = j + 1
            else:
                raw = _cmap_hex(toks[i + 2], "bfrange")
                base = int.from_bytes(raw, "big")
                for k in range(hi - lo + 1):
                    out[lo + k] = dst_str(
                        (base + k).to_bytes(len(raw), "big")
                    )
                i += 3
    return out


def _decode_cid(s: str, cmap: dict[int, str] | str | None) -> str:
    """Show-text bytes of a Type0 font. ``cmap`` is the parsed
    /ToUnicode dict (2-byte big-endian codes through the map), the
    sentinel ``"utf16be"`` for predefined Uni*-UCS2-*/Uni*-UTF16-*
    encodings (r14 — their CODE SPACE is Unicode, so the show bytes
    decode as UTF-16BE directly, surrogate pairs included), or None.
    A Type0 font WITHOUT a usable map contributes NOTHING — its bytes
    are glyph indexes, and decoding them as characters would emit
    silent mojibake (the documented omission contract)."""
    if cmap is None:
        return ""
    b = s.encode("latin-1", "replace")
    if cmap == "utf16be":
        if len(b) % 2:
            raise PdfSemanticQuarantine(
                "UTF-16BE CID string has odd length"
            )
        try:
            return b.decode("utf-16-be")
        except UnicodeDecodeError as e:
            # malformed surrogates must quarantine, never mojibake
            raise PdfSemanticQuarantine(
                f"CID text is not valid UTF-16BE: {e}"
            ) from None
    return "".join(
        cmap.get((b[i] << 8) | b[i + 1], "")
        for i in range(0, len(b) - 1, 2)
    )


def pdf_content_text(data: bytes, fonts: dict | None = None) -> str:
    """Visible text of one decoded content stream: string objects are
    collected and flushed at each text-showing operator (Tj, ', ", TJ —
    the TJ array's kerning numbers are skipped by construction since
    only strings are collected). Text outside BT/ET is ignored.

    ``fonts`` (r13) maps resource names of Type0/CID fonts to their
    parsed ToUnicode dict (or None when the font has no usable map):
    the Tf operator switches the current font, CID strings decode
    2-byte codes through the map, and mapless CID text is OMITTED —
    never emitted as mojibake. Simple fonts (absent from ``fonts``)
    keep the latin-1/UTF-16BE path."""
    out: list[str] = []
    pending: list[str] = []
    pos = 0
    n = len(data)
    in_text = False
    last_name: str | None = None
    cur_cid: tuple | None = None  # (cmap-or-None,) when Type0 active

    def _show(s: str) -> str:
        if cur_cid is not None:
            return _decode_cid(s, cur_cid[0])
        return _bom_decode(s)

    while pos < n:
        b = data[pos]
        if b == 0x28:  # (
            s, pos = _pdf_literal_string(data, pos)
            if in_text:
                pending.append(_show(s))
            continue
        if b == 0x2F:  # /name — remember for the Tf operator
            m = _NAME_RE.match(data, pos)
            last_name = m.group(1).decode("latin-1")
            pos = m.end()
            continue
        if b == 0x3C:  # < — hex string (<< dict start is handled below)
            if data[pos : pos + 2] == b"<<":
                pos += 2
                continue
            s, pos = _pdf_hex_string(data, pos)
            if in_text:
                pending.append(_show(s))
            continue
        if data[pos : pos + 2] == b"Tf" and (
            pos + 2 == n or not data[pos + 2 : pos + 3].isalpha()
        ):
            if fonts and last_name in fonts:
                cur_cid = (fonts[last_name],)
            else:
                cur_cid = None
            pos += 2
            continue
        if data[pos : pos + 2] == b"BT" and (
            pos + 2 == n or not data[pos + 2 : pos + 3].isalpha()
        ):
            in_text = True
            pos += 2
            continue
        if data[pos : pos + 2] == b"ET" and (
            pos + 2 == n or not data[pos + 2 : pos + 3].isalpha()
        ):
            in_text = False
            pending.clear()
            pos += 2
            continue
        if in_text and (
            (
                data[pos : pos + 2] == b"Tj"
                and not data[pos + 2 : pos + 3].isalpha()
            )
            or b in (0x27, 0x22)  # ' and " show-with-positioning ops
            or (
                data[pos : pos + 2] == b"TJ"
                and not data[pos + 2 : pos + 3].isalpha()
            )
        ):
            out.extend(pending)
            pending.clear()
            pos += 2 if b not in (0x27, 0x22) else 1
            continue
        pos += 1
    return "".join(out)


# ---------------------------------------------------------------------------
# Stream filters beyond Flate (ISO 32000-1 §7.4): the classic-era
# codecs old corpora actually carry. Each raises ValueError on
# malformed input — the quarantine class.
# ---------------------------------------------------------------------------


def asciihex_decode(data: bytes) -> bytes:
    """§7.4.2: hex pairs, whitespace ignored, '>' is EOD, an odd final
    digit implies a trailing 0."""
    end = data.find(b">")
    hx = re.sub(rb"\s", b"", data[:end] if end >= 0 else data)
    if len(hx) % 2:
        hx += b"0"
    try:
        return bytes.fromhex(hx.decode("ascii"))
    except (UnicodeDecodeError, ValueError):
        raise ValueError("bad ASCIIHexDecode data") from None


def ascii85_decode(data: bytes) -> bytes:
    """§7.4.3: 5 chars ('!'..'u', value-33 base 85) -> 4 bytes; 'z' is
    four zero bytes (only between groups); '~>' is EOD; a partial
    final group of n chars pads with 'u' and yields n-1 bytes."""
    end = data.find(b"~>")
    body = re.sub(rb"\s", b"", data[:end] if end >= 0 else data)
    out = bytearray()
    group: list[int] = []
    for ch in body:
        if ch == 0x7A:  # 'z'
            if group:
                raise ValueError("ASCII85 'z' inside a group")
            out += b"\x00\x00\x00\x00"
            continue
        if not 0x21 <= ch <= 0x75:
            raise ValueError(f"ASCII85 char {ch:#x} out of range")
        group.append(ch - 33)
        if len(group) == 5:
            v = 0
            for g in group:
                v = v * 85 + g
            if v > 0xFFFFFFFF:
                raise ValueError("ASCII85 group overflows 32 bits")
            out += v.to_bytes(4, "big")
            group = []
    if group:
        if len(group) == 1:
            raise ValueError("ASCII85 dangling single char")
        n = len(group)
        v = 0
        for g in group + [84] * (5 - n):
            v = v * 85 + g
        if v > 0xFFFFFFFF:
            raise ValueError("ASCII85 final group overflows 32 bits")
        out += v.to_bytes(4, "big")[: n - 1]
    return bytes(out)


def ascii85_encode(data: bytes) -> bytes:
    out = bytearray()
    for i in range(0, len(data), 4):
        chunk = data[i : i + 4]
        pad = 4 - len(chunk)
        v = int.from_bytes(chunk + b"\x00" * pad, "big")
        group = bytearray(5)
        for j in range(4, -1, -1):
            group[j] = v % 85 + 33
            v //= 85
        out += group[: 5 - pad] if pad else (b"z" if chunk == b"\x00\x00\x00\x00" else group)
    return bytes(out) + b"~>"


def runlength_decode(data: bytes) -> bytes:
    """§7.4.5: length byte 0-127 copies the next L+1 bytes, 129-255
    repeats the next byte 257-L times, 128 is EOD."""
    out = bytearray()
    pos = 0
    while pos < len(data):
        l = data[pos]
        pos += 1
        if l == 128:
            return bytes(out)
        if l < 128:
            chunk = data[pos : pos + l + 1]
            if len(chunk) != l + 1:
                raise ValueError("RunLength literal run truncated")
            out += chunk
            pos += l + 1
        else:
            if pos >= len(data):
                raise ValueError("RunLength repeat run truncated")
            out += bytes([data[pos]]) * (257 - l)
            pos += 1
    raise ValueError("RunLength stream missing EOD")


def runlength_encode(data: bytes) -> bytes:
    out = bytearray()
    i = 0
    while i < len(data):
        run = 1
        while i + run < len(data) and data[i + run] == data[i] and run < 128:
            run += 1
        if run >= 2:
            out += bytes([257 - run, data[i]])
            i += run
        else:
            j = i + 1
            while (
                j < len(data)
                and j - i < 128
                and not (j + 1 < len(data) and data[j + 1] == data[j])
            ):
                j += 1
            out += bytes([j - i - 1]) + data[i:j]
            i = j
    return bytes(out) + b"\x80"


def lzw_decode(data: bytes, early: int = 1, cap: int = 1 << 26) -> bytes:
    """§7.4.4: MSB-first LZW, 9-bit codes growing to 12, 256 = clear,
    257 = EOD; code width grows when the next free slot reaches
    2^width - EarlyChange (default 1). Pinned by the spec's own worked
    example in tests/test_pdf.py. NOTE: distinct from the GIF LZW in
    operators/multimodal.py (LSB-first, variable root width)."""
    out = bytearray()
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    prev: bytes | None = None
    bitbuf = 0
    nbits = 0
    width = 9
    for byte in data:
        bitbuf = (bitbuf << 8) | byte
        nbits += 8
        while nbits >= width:
            code = (bitbuf >> (nbits - width)) & ((1 << width) - 1)
            nbits -= width
            if code == 256:
                table = table[:258]
                width = 9
                prev = None
                continue
            if code == 257:
                return bytes(out)
            if prev is None:
                if code > 255:
                    raise ValueError(f"LZW first code {code} not literal")
                entry = table[code]
            elif code < len(table):
                entry = table[code]
            elif code == len(table):
                entry = prev + prev[:1]  # the KwKwK case
            else:
                raise ValueError(f"LZW code {code} beyond table")
            if prev is not None and len(table) < 4096:
                # a full table stops learning until the next clear code
                # (the deferred-clear shape some writers emit) — it is
                # not an error while the bomb-defense cap holds
                table.append(prev + entry[:1])
            out += entry
            if len(out) > cap:
                raise ValueError("LZW output exceeds cap (bomb defense)")
            prev = entry
            # §7.4.4.2: with EarlyChange (default 1) the width grows
            # one code early — when the table holds 511/1023/2047
            # entries (mainstream readers/writers: pdfminer, pdf.js,
            # qpdf), i.e. as soon as len + early reaches 2^width.
            if len(table) + early >= (1 << width) and width < 12:
                width += 1
    raise ValueError("LZW stream missing EOD")


def lzw_encode(data: bytes, early: int = 1) -> bytes:
    """Fixture-side §7.4.4 encoder (clear at start, EOD at end)."""
    table = {bytes([i]): i for i in range(256)}
    next_code = 258
    width = 9
    bits: list[tuple[int, int]] = [(256, 9)]
    w = b""
    for ch_i in data:
        ch = bytes([ch_i])
        if w + ch in table:
            w = w + ch
            continue
        bits.append((table[w], width))
        table[w + ch] = next_code
        next_code += 1
        # the decoder's table lags the encoder's next_code by exactly
        # one (it only learns an entry from the NEXT code), so its
        # early-change growth at len+early == 2^width corresponds to
        # next_code + early == 2^width + 1 here — strictly greater
        if next_code + early > (1 << width) and width < 12:
            width += 1
        if next_code >= 4095:
            bits.append((256, width))
            table = {bytes([i]): i for i in range(256)}
            next_code = 258
            width = 9
        w = ch
    if w:
        bits.append((table[w], width))
        # the DECODER will append a table entry upon reading this final
        # code (it cannot know EOD follows) — the encoder's width
        # accounting must track the decoder's table, or the EOD code
        # desyncs exactly when that append crosses 2^width - early
        # (caught by testdata doc 102's 795-byte stream)
        next_code += 1
        if next_code + early > (1 << width) and width < 12:
            width += 1
    bits.append((257, width))
    out = bytearray()
    bitbuf = 0
    nbits = 0
    for code, cw in bits:
        bitbuf = (bitbuf << cw) | code
        nbits += cw
        while nbits >= 8:
            out.append((bitbuf >> (nbits - 8)) & 0xFF)
            nbits -= 8
    if nbits:
        out.append((bitbuf << (8 - nbits)) & 0xFF)
    return bytes(out)


_PDF_WS = b"\x00\t\n\x0c\r "
_PDF_DELIM = b"()<>[]{}/%"

class PdfSemanticQuarantine(ValueError):
    """A quarantine whose MEANING must survive the salvage fallback:
    the file's framing may be perfectly intact, but its content cannot
    be read faithfully (an unreadable predefined CMap, malformed
    UTF-16 CID text) — re-extracting via the framing scan would emit
    exactly the mojibake the quarantine refuses. Typed, so the
    extract-path gate does not depend on message substrings
    (review r14)."""


#: predefined CMaps whose code space is Unicode (ISO 32000 Table 118's
#: Uni<collection>-UCS2-<HW->H/V and Uni<collection>-UTF16-H/V
#: families): show-string bytes ARE UTF-16BE text, no table needed
#: for extraction (the table maps code->CID for glyph lookup only)
_UNI_CMAP_RE = re.compile(r"Uni[A-Za-z0-9]+-(?:UCS2|UTF16)(?:-HW)?-[HV]")

#: ``/BaseName usecmap`` inside an embedded encoding CMap stream —
#: the wrapper-over-predefined shape (ISO 32000 §9.7.5.3)
_USECMAP_RE = re.compile(rb"/([A-Za-z0-9\-]+)\s+usecmap\b")


def _strip_ps_comments_and_strings(data: bytes) -> bytes:
    """Blank out %-comments (run to EOL) and ``(...)`` string literals
    (nested parens, ``\\``-escapes) from a PostScript/CMap stream so a
    token search only sees operator context. Bytes are replaced with
    spaces, preserving offsets."""
    out = bytearray(data)
    n = len(data)
    i = 0
    depth = 0  # (...) string nesting
    while i < n:
        c = data[i]
        if depth:
            if c == 0x5C and i + 1 < n:  # backslash escape
                out[i] = out[i + 1] = 0x20
                i += 2
                continue
            if c == 0x28:
                depth += 1
            elif c == 0x29:
                depth -= 1
            out[i] = 0x20
        elif c == 0x28:  # string start
            depth = 1
            out[i] = 0x20
        elif c == 0x25:  # % comment to EOL
            while i < n and data[i] not in (0x0A, 0x0D):
                out[i] = 0x20
                i += 1
            continue
        i += 1
    return bytes(out)


class _Ref:
    """An indirect reference ``num gen R`` (gen ignored — incremental
    updates resolve through the xref, which already picks the live
    generation)."""

    __slots__ = ("num",)

    def __init__(self, num: int) -> None:
        self.num = num

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        return f"_Ref({self.num})"


def _pdf_skip_ws(data: bytes, pos: int) -> int:
    n = len(data)
    while pos < n:
        c = data[pos]
        if c in _PDF_WS:
            pos += 1
        elif c == 0x25:  # % comment runs to EOL
            while pos < n and data[pos] not in (0x0A, 0x0D):
                pos += 1
        else:
            break
    return pos


_REF_RE = re.compile(rb"(\d+)\s+(\d+)\s+R(?![0-9A-Za-z])")
_NUM_RE = re.compile(rb"[+-]?(?:\d+\.?\d*|\.\d+)")
_NAME_RE = re.compile(rb"/([^\x00\t\n\x0c\r ()<>\[\]{}/%]*)")


def _pdf_parse_obj(data: bytes, pos: int) -> tuple[object, int]:
    """Parse ONE PDF object (PDF 32000-1 §7.3) starting at/after
    whitespace: dict, array, name, string, number, bool, null, or an
    indirect reference. Structural nonsense raises ValueError (the
    quarantine path)."""
    pos = _pdf_skip_ws(data, pos)
    if pos >= len(data):
        raise ValueError("PDF object expected at end of data")
    c = data[pos]
    if data.startswith(b"<<", pos):
        pos += 2
        out: dict[str, object] = {}
        while True:
            pos = _pdf_skip_ws(data, pos)
            if data.startswith(b">>", pos):
                return out, pos + 2
            if data[pos : pos + 1] != b"/":
                raise ValueError("PDF dict key is not a name")
            key, pos = _pdf_parse_obj(data, pos)
            val, pos = _pdf_parse_obj(data, pos)
            out[key] = val
        # unreachable
    if c == 0x5B:  # [
        pos += 1
        arr: list[object] = []
        while True:
            pos = _pdf_skip_ws(data, pos)
            if pos >= len(data):
                raise ValueError("unterminated PDF array")
            if data[pos] == 0x5D:
                return arr, pos + 1
            v, pos = _pdf_parse_obj(data, pos)
            arr.append(v)
    if c == 0x2F:  # /name (with #xx escapes)
        m = _NAME_RE.match(data, pos)
        raw = m.group(1)
        if b"#" in raw:
            raw = re.sub(
                rb"#([0-9A-Fa-f]{2})",
                lambda mm: bytes([int(mm.group(1), 16)]),
                raw,
            )
        return raw.decode("latin-1"), m.end()
    if c == 0x28:  # literal string
        return _pdf_literal_string(data, pos)
    if c == 0x3C:  # hex string (<< handled above)
        return _pdf_hex_string(data, pos)
    if data.startswith(b"true", pos):
        return True, pos + 4
    if data.startswith(b"false", pos):
        return False, pos + 5
    if data.startswith(b"null", pos):
        return None, pos + 4
    rm = _REF_RE.match(data, pos)
    if rm:
        return _Ref(int(rm.group(1))), rm.end()
    nm = _NUM_RE.match(data, pos)
    if nm:
        tok = nm.group(0)
        return (
            float(tok) if b"." in tok else int(tok)
        ), nm.end()
    raise ValueError(
        f"unparsable PDF object at byte {pos}: {data[pos:pos+16]!r}"
    )


def _png_predictor_undo_rows(
    data: bytes, columns: int, bpp: int = 1
) -> bytes:
    """Undo PNG row predictors (filters 0-4) on predictor-encoded
    stream data (/DecodeParms /Predictor >= 10): rows of 1 filter-type
    byte + ``columns`` bytes, as used by xref streams."""
    stride = columns + 1
    if len(data) % stride:
        raise ValueError("PNG-predicted stream is not whole rows")
    out = bytearray()
    prev = bytes(columns)
    for r0 in range(0, len(data), stride):
        ftype = data[r0]
        row = bytearray(data[r0 + 1 : r0 + stride])
        if ftype == 0:
            pass
        elif ftype == 1:  # Sub
            for i in range(bpp, columns):
                row[i] = (row[i] + row[i - bpp]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(columns):
                row[i] = (row[i] + prev[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(columns):
                left = row[i - bpp] if i >= bpp else 0
                row[i] = (row[i] + (left + prev[i]) // 2) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(columns):
                a = row[i - bpp] if i >= bpp else 0
                b = prev[i]
                cc = prev[i - bpp] if i >= bpp else 0
                p = a + b - cc
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else cc)
                row[i] = (row[i] + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG predictor filter type {ftype}")
        out += row
        prev = row
    return bytes(out)


class _PdfDoc:
    """Random-access view of a PDF through its cross-reference data:
    classic xref tables, PDF 1.5 xref STREAMS (/W field widths, PNG
    predictors) and object streams (/Type /ObjStm), with /Prev chains
    merged newest-wins. This is the modern-layout path; files whose
    xref is damaged fall back to the framing scan in
    ``pdf_text_extract`` (salvage), and encrypted files reject."""

    def __init__(self, payload: bytes) -> None:
        self.payload = payload
        self.xref: dict[int, tuple] = {}  # num -> ("in", off) | ("os", stm, idx)
        self.trailer: dict[str, object] = {}
        self._cache: dict[int, object] = {}
        self._objstm_cache: dict[int, tuple[list[int], list[int], bytes]] = {}
        self._crypt = None
        m = None
        for m in re.finditer(rb"startxref\s+(\d+)", payload):
            pass
        if m is None:
            raise ValueError("PDF has no startxref")
        self._read_xref_chain(int(m.group(1)))
        if "Encrypt" in self.trailer:
            # standard security handler, EMPTY user password (the
            # owner-locked corpus case); unsupported handlers/versions
            # and real user passwords ValueError with a named reason —
            # the quarantine path this branch used to take wholesale.
            # The derived key caches per DISTINCT credentials: corpora
            # repeat credentials rarely, but re-reading the same file's
            # streams must not re-pay the 51-round/20-pass derivation.
            import json as _json

            from .pdfcrypt import cached_decryptor

            enc = self.resolve(self.trailer["Encrypt"])
            if not isinstance(enc, dict):
                raise ValueError("encrypted PDF: /Encrypt is not a dict")
            ids = self.trailer.get("ID")
            id0 = b""
            if isinstance(ids, list) and ids and isinstance(ids[0], str):
                id0 = ids[0].encode("latin-1")
            try:
                enc_json = _json.dumps(enc, sort_keys=True)
            except (TypeError, ValueError):
                raise ValueError(
                    "encrypted PDF: /Encrypt dict not serializable"
                ) from None
            self._crypt = cached_decryptor(enc_json, id0)

    # -- xref ----------------------------------------------------------
    def _read_xref_chain(self, start: int) -> None:
        seen: set[int] = set()
        pos = start
        while True:
            if pos in seen:
                raise ValueError("circular PDF /Prev xref chain")
            seen.add(pos)
            if pos < 0 or pos >= len(self.payload):
                raise ValueError("xref offset outside file")
            at = _pdf_skip_ws(self.payload, pos)
            if self.payload.startswith(b"xref", at):
                trailer = self._read_xref_table(at + 4)
            else:
                trailer = self._read_xref_stream(at)
            for k, v in trailer.items():
                self.trailer.setdefault(k, v)
            prev = trailer.get("Prev")
            if prev is None:
                return
            if not isinstance(prev, int):
                raise ValueError("PDF /Prev is not an offset")
            pos = prev

    def _read_xref_table(self, pos: int) -> dict:
        data = self.payload
        while True:
            pos = _pdf_skip_ws(data, pos)
            if data.startswith(b"trailer", pos):
                t, _ = _pdf_parse_obj(data, pos + 7)
                if not isinstance(t, dict):
                    raise ValueError("PDF trailer is not a dict")
                return t
            m = re.match(rb"(\d+)\s+(\d+)", data[pos : pos + 48])
            if not m:
                raise ValueError("bad xref subsection header")
            first, count = int(m.group(1)), int(m.group(2))
            pos = _pdf_skip_ws(data, pos + m.end())
            for i in range(count):
                ent = data[pos : pos + 20]
                if len(ent) < 18:
                    raise ValueError("truncated xref entry")
                off, _gen, typ = ent[:10], ent[11:16], ent[17:18]
                if typ == b"n":
                    self.xref.setdefault(first + i, ("in", int(off)))
                elif typ != b"f":
                    raise ValueError(f"bad xref entry type {typ!r}")
                # entries are 18-20 bytes; re-sync on digits
                pos += 20 if ent[18:20] in (b" \n", b" \r", b"\r\n") else 18
                while pos < len(data) and data[pos] in (0x0A, 0x0D, 0x20):
                    pos += 1

    def _read_xref_stream(self, pos: int) -> dict:
        dic, raw, _num, _gen = self._parse_stream_obj_at(pos)
        if dic.get("Type") != "XRef":
            raise ValueError("startxref does not point at xref data")
        data = self._decode_stream(dic, raw)
        w = dic.get("W")
        size = dic.get("Size")
        if (
            not isinstance(w, list)
            or len(w) != 3
            or not all(isinstance(x, int) and 0 <= x <= 8 for x in w)
            or not isinstance(size, int)
        ):
            raise ValueError("xref stream missing sane /W or /Size")
        index = dic.get("Index", [0, size])
        if not isinstance(index, list) or len(index) % 2:
            raise ValueError("bad xref stream /Index")
        w1, w2, w3 = w
        stride = w1 + w2 + w3
        need = sum(index[i + 1] for i in range(0, len(index), 2)) * stride
        if len(data) < need:
            raise ValueError("xref stream data shorter than /Index claims")
        at = 0
        for i in range(0, len(index), 2):
            first, count = index[i], index[i + 1]
            for j in range(count):
                f1 = (
                    int.from_bytes(data[at : at + w1], "big") if w1 else 1
                )
                f2 = int.from_bytes(data[at + w1 : at + w1 + w2], "big")
                f3 = int.from_bytes(
                    data[at + w1 + w2 : at + stride], "big"
                )
                at += stride
                num = first + j
                if f1 == 1:
                    self.xref.setdefault(num, ("in", f2))
                elif f1 == 2:
                    self.xref.setdefault(num, ("os", f2, f3))
                elif f1 != 0:
                    raise ValueError(f"bad xref stream entry type {f1}")
        return dic

    # -- objects -------------------------------------------------------
    def _parse_stream_obj_at(
        self, pos: int
    ) -> tuple[dict, bytes, int, int]:
        """Parse ``N G obj <<dict>> stream`` at a byte offset and slice
        the raw (still encoded, still encrypted) stream data; returns
        (dict, raw, num, gen) — the header ids feed the per-object
        decryption key."""
        data = self.payload
        m = re.match(rb"\s*(\d+)\s+(\d+)\s+obj\b", data[pos : pos + 48])
        if not m:
            raise ValueError("xref offset does not hit an object header")
        num, gen = int(m.group(1)), int(m.group(2))
        dic, p = _pdf_parse_obj(data, pos + m.end())
        if not isinstance(dic, dict):
            raise ValueError("stream object without a dict")
        p = _pdf_skip_ws(data, p)
        if not data.startswith(b"stream", p):
            raise ValueError("expected 'stream' keyword")
        p += 6
        if data[p : p + 2] == b"\r\n":
            p += 2
        elif data[p : p + 1] in (b"\n", b"\r"):
            p += 1
        length = self.resolve(dic.get("Length"))
        if not isinstance(length, int) or length < 0:
            raise ValueError("stream /Length missing or bogus")
        raw = data[p : p + length]
        if len(raw) != length:
            raise ValueError("stream data truncated")
        return dic, raw, num, gen

    def _maybe_decrypt(
        self, dic: dict, raw: bytes, num: int, gen: int
    ) -> bytes:
        """Decrypt a stream's raw bytes when the file is encrypted —
        BEFORE filters, per spec. Xref streams are never encrypted
        (they must be readable to find /Encrypt in the first place)."""
        if self._crypt is None or dic.get("Type") == "XRef":
            return raw
        return self._crypt.decrypt_stream(num, gen, raw)

    def _decode_stream(self, dic: dict, raw: bytes) -> bytes:
        filt = self.resolve(dic.get("Filter"))
        filters = (
            [] if filt is None else filt if isinstance(filt, list) else [filt]
        )
        parms = self.resolve(dic.get("DecodeParms"))
        parms_list = (
            [] if parms is None
            else parms if isinstance(parms, list) else [parms]
        )
        for i, f in enumerate(filters):
            pp = self.resolve(parms_list[i]) if i < len(parms_list) else None
            if not isinstance(pp, dict):
                pp = {}
            if f == "FlateDecode":
                try:
                    raw = zlib.decompress(raw)
                except zlib.error as e:
                    raise ValueError(
                        f"corrupt FlateDecode stream: {e}"
                    ) from e
            elif f == "LZWDecode":
                early = self.resolve(pp.get("EarlyChange", 1))
                raw = lzw_decode(
                    raw, early=1 if early in (None, 1) else 0
                )
            elif f == "ASCIIHexDecode":
                raw = asciihex_decode(raw)
            elif f == "ASCII85Decode":
                raw = ascii85_decode(raw)
            elif f == "RunLengthDecode":
                raw = runlength_decode(raw)
            else:
                raise ValueError(f"unsupported PDF stream filter {f}")
            if f in ("FlateDecode", "LZWDecode"):
                pred = self.resolve(pp.get("Predictor", 1))
                if pred and pred >= 10:
                    columns = self.resolve(pp.get("Columns", 1))
                    colors = self.resolve(pp.get("Colors", 1))
                    bpc = self.resolve(pp.get("BitsPerComponent", 8))
                    bpp = max(1, colors * bpc // 8)
                    raw = _png_predictor_undo_rows(
                        raw, columns * bpp, bpp
                    )
                elif pred not in (None, 1):
                    raise ValueError(f"unsupported /Predictor {pred}")
        return raw

    def resolve(self, v: object, depth: int = 0) -> object:
        while isinstance(v, _Ref):
            if depth > 32:
                raise ValueError("PDF reference chain too deep")
            v = self.load(v.num)
            depth += 1
        return v

    def load(self, num: int) -> object:
        if num in self._cache:
            return self._cache[num]
        ent = self.xref.get(num)
        if ent is None:
            return None  # spec: an absent object is null
        if ent[0] == "in":
            pos = ent[1]
            data = self.payload
            m = re.match(rb"\s*\d+\s+\d+\s+obj\b", data[pos : pos + 48])
            if not m:
                raise ValueError(
                    f"xref offset for obj {num} does not hit an object"
                )
            obj, p = _pdf_parse_obj(data, pos + m.end())
            if isinstance(obj, dict):
                q = _pdf_skip_ws(data, p)
                if data.startswith(b"stream", q):
                    dic, raw, snum, sgen = self._parse_stream_obj_at(pos)
                    raw = self._maybe_decrypt(dic, raw, snum, sgen)
                    obj = ("stream", dic, raw)
        else:
            stm_num, idx = ent[1], ent[2]
            first, offs, data = self._load_objstm(stm_num)
            if idx >= len(offs):
                raise ValueError(
                    f"ObjStm index {idx} out of range for stream {stm_num}"
                )
            obj, _ = _pdf_parse_obj(data, first + offs[idx])
        self._cache[num] = obj
        return obj

    def _load_objstm(self, num: int) -> tuple[int, list[int], bytes]:
        if num in self._objstm_cache:
            return self._objstm_cache[num]
        ent = self.xref.get(num)
        if ent is None or ent[0] != "in":
            raise ValueError(f"ObjStm {num} is missing or nested")
        dic, raw, snum, sgen = self._parse_stream_obj_at(ent[1])
        if dic.get("Type") != "ObjStm":
            raise ValueError(f"object {num} is not an ObjStm")
        raw = self._maybe_decrypt(dic, raw, snum, sgen)
        data = self._decode_stream(dic, raw)
        n = self.resolve(dic.get("N"))
        first = self.resolve(dic.get("First"))
        if not isinstance(n, int) or not isinstance(first, int):
            raise ValueError("ObjStm missing /N or /First")
        offs: list[int] = []
        at = 0
        for _ in range(n):
            _onum, at = _pdf_parse_obj(data, at)
            off, at = _pdf_parse_obj(data, at)
            if not isinstance(off, int) or first + off > len(data):
                raise ValueError("ObjStm offset overruns stream")
            offs.append(off)
        out = (first, offs, data)
        self._objstm_cache[num] = out
        return out

    # -- page tree -----------------------------------------------------
    def pages(self) -> list[dict]:
        root = self.resolve(self.trailer.get("Root"))
        if not isinstance(root, dict):
            raise ValueError("PDF trailer has no /Root catalog")
        tree = self.resolve(root.get("Pages"))
        out: list[dict] = []
        seen: set[int] = set()

        def walk(node: object, depth: int) -> None:
            if depth > 64:
                raise ValueError("PDF page tree too deep")
            node = self.resolve(node)
            if not isinstance(node, dict):
                raise ValueError("PDF page tree node is not a dict")
            if node.get("Type") == "Page":
                out.append(node)
                return
            kids = self.resolve(node.get("Kids"))
            if not isinstance(kids, list):
                raise ValueError("PDF /Pages node without /Kids")
            if id(node) in seen:
                raise ValueError("cycle in PDF page tree")
            seen.add(id(node))
            for k in kids:
                walk(k, depth + 1)

        walk(tree, 0)
        if not out:
            raise ValueError("PDF page tree has no pages")
        return out

    def page_fonts(self, page: dict) -> dict:
        """Type0/CID fonts visible to a page: resource name ->
        parsed ToUnicode dict (None = no usable map, text OMITTED).
        /Resources inherits up the /Parent chain per spec §7.7.3.4;
        simple fonts are left out (they keep the default decode)."""
        node: object = page
        res = None
        for _ in range(64):
            if not isinstance(node, dict):
                break
            res = self.resolve(node.get("Resources"))
            if isinstance(res, dict):
                break
            node = self.resolve(node.get("Parent"))
        if not isinstance(res, dict):
            return {}
        fd = self.resolve(res.get("Font"))
        if not isinstance(fd, dict):
            return {}
        out: dict = {}
        for name, ref in fd.items():
            font = self.resolve(ref)
            if not isinstance(font, dict) or font.get("Subtype") != "Type0":
                continue
            tu = self.resolve(font.get("ToUnicode"))
            if (
                isinstance(tu, tuple)
                and len(tu) == 3
                and tu[0] == "stream"
            ):
                out[name] = parse_tounicode_cmap(
                    self._decode_stream(tu[1], tu[2])
                )
                continue
            # no /ToUnicode: dispatch on the encoding CMap (r14 —
            # predefined registry CMaps, scoped). The Uni*-UCS2-* /
            # Uni*-UTF16-* families' CODE SPACE is Unicode itself
            # (the table maps code->CID for glyph lookup only), so
            # text extraction needs no table: UTF-16BE sentinel.
            # Identity-H/V show GLYPH indexes — the documented
            # omission. Any OTHER registry name (GB-EUC-H,
            # 90ms-RKSJ-H, ...) needs its published table to read the
            # code bytes — quarantine BY NAME rather than silently
            # dropping CJK text.
            enc = self.resolve(font.get("Encoding"))
            if isinstance(enc, str) and _UNI_CMAP_RE.fullmatch(enc):
                out[name] = "utf16be"
            elif enc in (None, "Identity-H", "Identity-V"):
                out[name] = None  # glyph-indexed CID text: omit
            elif isinstance(enc, str):
                raise PdfSemanticQuarantine(
                    f"predefined CMap {enc!r} unsupported (registry "
                    "table not shipped)"
                )
            elif (
                isinstance(enc, tuple)
                and len(enc) == 3
                and enc[0] == "stream"
            ):
                # embedded encoding CMap (r14): resolve through its
                # ``usecmap`` base — real writers embed thin wrappers
                # over a predefined CMap (ISO 32000 §9.7.5.3). The
                # wrapper's own cidrange edits remap code->CID (glyph
                # choice), not code->character, so the BASE's code
                # space still governs text: Uni* base -> UTF-16BE,
                # Identity/no base -> omission, other registry base ->
                # the same named quarantine as the direct reference.
                out[name] = self._embedded_cmap_mode(
                    self._decode_stream(enc[1], enc[2])
                )
            else:
                out[name] = None  # unrecognized /Encoding shape: omit
        return out

    @staticmethod
    def _embedded_cmap_mode(data: bytes) -> str | None:
        # anchor the usecmap search to OPERATOR context: a
        # '/Name usecmap' inside a %-comment or a (...) string literal
        # is data, not the wrapper's base reference (review r14)
        m = _USECMAP_RE.search(_strip_ps_comments_and_strings(data))
        if m is None:
            return None  # self-contained code->CID map: codes are not
            # characters, the documented omission
        base = m.group(1).decode("latin-1")
        if _UNI_CMAP_RE.fullmatch(base):
            return "utf16be"
        if base in ("Identity-H", "Identity-V"):
            return None
        raise PdfSemanticQuarantine(
            f"embedded CMap uses unsupported base {base!r} (registry "
            "table not shipped)"
        )

    def page_content(self, page: dict) -> bytes:
        contents = self.resolve(page.get("Contents"))
        if contents is None:
            return b""
        parts = contents if isinstance(contents, list) else [contents]
        chunks: list[bytes] = []
        for p in parts:
            obj = self.resolve(p)
            if (
                not isinstance(obj, tuple)
                or len(obj) != 3
                or obj[0] != "stream"
            ):
                raise ValueError("page /Contents is not a stream")
            chunks.append(self._decode_stream(obj[1], obj[2]))
        # the spec treats multiple /Contents streams as one stream with
        # implicit whitespace between the pieces
        return b"\n".join(chunks)


def _pdf_extract_via_xref(payload: bytes) -> dict:
    """Page-tree-ordered extraction through the cross-reference data —
    handles classic xref tables AND the PDF 1.5 modern layout (xref
    streams with /W + PNG predictors, ObjStm-packed page dicts,
    multi-part /Contents arrays, objects in any file order)."""
    doc = _PdfDoc(payload)
    texts = []
    pages = doc.pages()
    for page in pages:
        texts.append(
            pdf_content_text(doc.page_content(page), doc.page_fonts(page))
        )
    return {
        "n_pages": len(pages),
        "text": " ".join(t for t in texts if t),
    }


def pdf_text_extract(payload: bytes) -> dict:
    """Extract visible text from a PDF. Primary path: walk the
    cross-reference data (classic tables or PDF 1.5 xref streams +
    object streams) and emit pages in PAGE-TREE order — the order a
    reader sees, not file order. Salvage path: when the xref is
    damaged or absent, fall back to the classic framing scan
    (``<<dict>> stream ... endstream``), which recovers text from any
    intact body. Encrypted files raise ValueError in both paths (their
    strings are ciphertext — extracting would emit garbage silently);
    structural corruption raises ValueError for the quarantine row."""
    if not payload.startswith(b"%PDF-"):
        raise ValueError("not a PDF (missing %PDF- header)")
    try:
        return _pdf_extract_via_xref(payload)
    except ValueError as xref_err:
        # salvage exists for DAMAGED framing — semantic quarantines
        # (ciphertext, and the TYPED PdfSemanticQuarantine class) must
        # propagate: the framing scan would "succeed" by emitting
        # exactly the mojibake these errors refuse
        if isinstance(xref_err, PdfSemanticQuarantine) or (
            "encrypted PDF" in str(xref_err)
        ):
            raise
        try:
            return _pdf_extract_by_framing(payload)
        except ValueError:
            raise xref_err from None


def _pdf_extract_by_framing(payload: bytes) -> dict:
    """The classic-layout salvage scan: every stream object located by
    framing, FlateDecode'd when filtered, content streams (those with a
    BT text block) contribute one page entry each, in FILE order."""
    if b"/Encrypt" in payload[-2048:]:
        raise ValueError("encrypted PDF (no text without the key)")
    pages: list[str] = []
    for m in re.finditer(rb"<<(.*?)>>\s*stream(?:\r\n|\n|\r)", payload, re.S):
        d = m.group(1)
        start = m.end()
        # prefer the dict's direct /Length (binary streams may end in
        # bytes that LOOK like EOLs — blind rstrip truncates deflate
        # data); fall back to the endstream scan minus one EOL
        lm = re.search(rb"/Length\s+(\d+)(?!\s+0\s+R)", d)
        if lm:
            end = start + int(lm.group(1))
            if payload[end : end + 11].lstrip(b"\r\n")[:9] != b"endstream":
                raise ValueError("PDF /Length does not reach endstream")
            data = payload[start:end]
        else:
            end = payload.find(b"endstream", start)
            if end < 0:
                raise ValueError("unterminated PDF stream object")
            data = payload[start:end]
            if data.endswith(b"\r\n"):
                data = data[:-2]
            elif data.endswith((b"\n", b"\r")):
                data = data[:-1]
        if b"/FlateDecode" in d:
            try:
                data = zlib.decompress(data)
            except zlib.error as e:
                raise ValueError(f"corrupt FlateDecode stream: {e}") from e
        if b"BT" in data:
            pages.append(pdf_content_text(data))
    if not pages:
        raise ValueError("no text content streams in PDF")
    return {"n_pages": len(pages), "text": " ".join(pages)}


PDF_TEXT_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("n_pages", IntegerType(), True),
        StructField("text", StringType(), True),
        StructField("parse_error", StringType(), True),
    ]
)


def pdf_text(media: DataFrame) -> DataFrame:
    """(media_id, payload binary) -> one row per document with page
    count and extracted text; corruption quarantines as a parse_error
    row, never a dead task."""

    def _walk(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for batch in batches:
            rows = []
            for media_id, payload in zip(batch["media_id"], batch["payload"]):
                try:
                    d = pdf_text_extract(bytes(payload))
                    rows.append(
                        (int(media_id), d["n_pages"], d["text"], None)
                    )
                except ValueError as e:
                    rows.append((int(media_id), None, None, str(e)))
            yield pd.DataFrame(
                rows, columns=[f.name for f in PDF_TEXT_SCHEMA.fields]
            )

    return media.select("media_id", "payload").mapInPandas(
        _walk, PDF_TEXT_SCHEMA
    )


def _pdf_escape(text: str) -> bytes:
    """Literal-string form of ASCII-safe text."""
    return (
        text.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")
    ).encode("latin-1")


def _enc_dict_bytes(enc: dict) -> bytes:
    """Serialize a build_encryption() dict to PDF syntax (binary values
    as hex strings — byte-faithful both ways)."""

    def hx(v: bytes) -> bytes:
        return b"<" + v.hex().encode() + b">"

    parts = [b"<< /Filter /Standard"]
    for k in ("V", "R", "Length", "P"):
        parts.append(b"/%s %d" % (k.encode(), enc[k]))
    for k in ("O", "U", "OE", "UE", "Perms"):
        if k in enc:
            parts.append(b"/%s " % k.encode() + hx(enc[k]))
    if "CF" in enc:
        cfm = enc["CF"]["StdCF"]["CFM"].encode()
        parts.append(
            b"/CF << /StdCF << /CFM /" + cfm
            + b" /AuthEvent /DocOpen >> >> /StmF /StdCF /StrF /StdCF"
        )
    parts.append(b">>")
    return b" ".join(parts)


def synth_pdf_bytes(doc_id: int, text: str) -> bytes:
    """Deterministic two-page classic-layout PDF: page 1 shows
    ``doc <doc_id>`` as a literal string, page 2 shows the document
    text as a BOM'd UTF-16BE hex string (any unicode survives). Even
    doc_ids FlateDecode-compress their content streams, odd leave them
    raw; doc%3 rotates ENCRYPTION (r13): 0 plaintext, 1 RC4 128-bit
    (V2/R3), 2 AES-128 (V4/R4 /AESV2) — owner-locked, empty user
    password, streams encrypted after filtering per spec. Closed form
    (oracle-mirrored, encryption-invariant):
      n_pages = 2,   extracted = 'doc <doc_id> ' || text
    Proper xref + trailer so real viewers open the fixtures too."""
    from .pdfcrypt import build_encryption

    c1 = b"BT /F1 12 Tf 72 720 Td (" + _pdf_escape(f"doc {doc_id}") + b") Tj ET"
    hx = b"\xfe\xff" + text.encode("utf-16-be")
    c2 = b"BT /F1 12 Tf 72 720 Td <" + hx.hex().encode() + b"> Tj ET"

    kind = (None, "rc4", "aesv2")[doc_id % 3]
    crypt = None
    if kind is not None:
        enc, id0, crypt = build_encryption(kind, doc_id)

    # odd docs (r13): page 2 renders through a Type0/Identity-H font —
    # CIDs are ord(ch)+7 (space via a bfchar exception at <0003>), so
    # the on-disk bytes are NOT the text and only a reader that walks
    # /Resources -> /ToUnicode and applies bfchar AND bfrange recovers
    # the oracle's closed form; page 1 gains a mapless Type0 show
    # (<0041> under /FX) that must be OMITTED, not read as 'A'.
    cid = doc_id % 2 == 1 and all(
        c == " " or 7 <= ord(c) + 7 <= 0x3006 for c in text
    )
    if cid:
        codes = b"".join(
            (3 if c == " " else ord(c) + 7).to_bytes(2, "big")
            for c in text
        )
        c2 = b"BT /FC 12 Tf <" + codes.hex().encode() + b"> Tj ET"
        c1 += b" BT /FX 12 Tf <0041> Tj ET"
    cmap = (
        b"/CIDInit /ProcSet findresource begin\nbegincmap\n"
        b"1 beginbfchar\n<0003> <0020>\nendbfchar\n"
        b"1 beginbfrange\n<0007> <3006> <0000>\nendbfrange\n"
        b"endcmap\nend\n"
    )

    def content_obj(num: int, data: bytes) -> bytes:
        filt = b""
        if doc_id % 2 == 0:
            data = zlib.compress(data, 9)
            filt = b" /Filter /FlateDecode"
        if crypt is not None:
            # file bytes = Encrypt(Filter(content)); readers undo in
            # reverse: decrypt, then unfilter
            data = crypt.encrypt_stream(num, 0, data)
        return (
            b"%d 0 obj\n<< /Length %d%s >>\nstream\n" % (num, len(data), filt)
            + data
            + b"\nendstream\nendobj\n"
        )

    f1, f2 = b"/F1 7 0 R", b"/F1 7 0 R"
    if cid:
        f1 += b" /FX 9 0 R"
        f2 += b" /FC 8 0 R"
    objs = [
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n",
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R 4 0 R] /Count 2 >>\nendobj\n",
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 5 0 R /Resources << /Font << " + f1
        + b" >> >> >>\nendobj\n",
        b"4 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 6 0 R /Resources << /Font << " + f2
        + b" >> >> >>\nendobj\n",
        content_obj(5, c1),
        content_obj(6, c2),
        b"7 0 obj\n<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>\n"
        b"endobj\n",
    ]
    if cid:
        objs.append(
            b"8 0 obj\n<< /Type /Font /Subtype /Type0 /BaseFont /Synth "
            b"/Encoding /Identity-H /ToUnicode 10 0 R >>\nendobj\n"
        )
        objs.append(
            b"9 0 obj\n<< /Type /Font /Subtype /Type0 /BaseFont /Glyphy "
            b"/Encoding /Identity-H >>\nendobj\n"
        )
        objs.append(content_obj(10, cmap))
    trailer_extra = b""
    if crypt is not None:
        enc_num = 11 if cid else 8
        objs.append(
            b"%d 0 obj\n" % enc_num + _enc_dict_bytes(enc) + b"\nendobj\n"
        )
        idhex = b"<" + id0.hex().encode() + b">"
        trailer_extra = (
            b" /Encrypt %d 0 R /ID [" % enc_num + idhex + idhex + b"]"
        )
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for o in objs:
        offsets.append(len(out))
        out += o
    xref_at = len(out)
    out += b"xref\n0 %d\n" % (len(objs) + 1)
    out += b"0000000000 65535 f \n"
    for off in offsets:
        out += b"%010d 00000 n \n" % off
    out += (
        b"trailer\n<< /Size %d /Root 1 0 R%s >>\nstartxref\n%d\n%%%%EOF\n"
        % (len(objs) + 1, trailer_extra, xref_at)
    )
    return bytes(out)


def synth_pdf_modern_bytes(doc_id: int, text: str) -> bytes:
    """Deterministic PDF 1.5 MODERN-layout file: the document catalog,
    page tree and page dicts live inside a compressed OBJECT STREAM
    (/Type /ObjStm), the cross-reference is an XREF STREAM (/Type
    /XRef, W=[1 3 1], type-2 entries for the packed objects; even
    doc_ids PNG-Up-predict the xref data, /Predictor 12), content
    streams are written in SCRAMBLED file order with the stream FILTER
    rotating doc%5 through Flate / [ASCII85+Flate] / LZW / RunLength /
    ASCIIHex (r13), and the middle page
    shows its text through a TWO-PART /Contents array. Closed form
    (oracle-mirrored):
      n_pages = 3,  extracted = concat_ws(' ', 'doc <id>', text, 'tail <id>')
    (empty page texts are skipped by the joiner)
    doc%3==1 files are ENCRYPTED with AES-256 (V5/R6 /AESV3, r13) —
    owner-locked, empty user password — so content streams AND the
    object stream holding the page tree are ciphertext on disk while
    the xref stream stays clear, per spec.
    Any drift in xref-stream field decoding, predictor undo, ObjStm
    offset walk, reference resolution, page-tree ordering, multi-part
    content concatenation or the R6 key derivation changes the
    extracted text."""
    from .pdfcrypt import build_encryption

    kind = "aesv3" if doc_id % 3 == 1 else None
    crypt = None
    if kind is not None:
        enc, id0, crypt = build_encryption(kind, doc_id)

    def hexstr(s: str) -> bytes:
        return b"<" + (b"\xfe\xff" + s.encode("utf-16-be")).hex().encode() + b">"

    half = len(text) // 2
    c_p1 = b"BT /F1 12 Tf 72 720 Td " + hexstr(f"doc {doc_id}") + b" Tj ET"
    c_p2a = b"BT /F1 12 Tf 72 700 Td " + hexstr(text[:half]) + b" Tj ET"
    c_p2b = b"BT " + hexstr(text[half:]) + b" Tj ET"
    c_p3 = b"BT " + hexstr(f"tail {doc_id}") + b" Tj ET"

    packed = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R 4 0 R 5 0 R] /Count 3 >>",
        3: b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 7 0 R >>",
        4: b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents [8 0 R 9 0 R] >>",
        5: b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 10 0 R >>",
    }
    header = b" ".join(
        b"%d %d" % (num, off)
        for num, off in zip(
            packed,
            _running_offsets(packed.values()),
        )
    )
    objstm_body = header + b" " + b"".join(packed.values())
    first = len(header) + 1
    objstm_data = zlib.compress(objstm_body, 9)
    if crypt is not None:
        objstm_data = crypt.encrypt_stream(6, 0, objstm_data)
    objstm = (
        b"6 0 obj\n<< /Type /ObjStm /N %d /First %d /Length %d "
        b"/Filter /FlateDecode >>\nstream\n"
        % (len(packed), first, len(objstm_data))
        + objstm_data
        + b"\nendstream\nendobj\n"
    )

    def content_obj(num: int, data: bytes) -> bytes:
        # r13: content-stream FILTER rotation by doc%5 — the classic-era
        # codecs old corpora carry (§7.4), incl. a two-filter chain
        # whose /Filter array order is load-bearing; encryption (when
        # on) wraps the FILTERED bytes, so readers must decrypt first
        k = doc_id % 5
        if k == 0:
            data = zlib.compress(data, 9)
            filt = b" /Filter /FlateDecode"
        elif k == 1:
            data = ascii85_encode(zlib.compress(data, 9))
            filt = b" /Filter [/ASCII85Decode /FlateDecode]"
        elif k == 2:
            data = lzw_encode(data)
            filt = b" /Filter /LZWDecode"
        elif k == 3:
            data = runlength_encode(data)
            filt = b" /Filter /RunLengthDecode"
        else:
            data = data.hex().encode() + b">"
            filt = b" /Filter /ASCIIHexDecode"
        if crypt is not None:
            data = crypt.encrypt_stream(num, 0, data)
        return (
            b"%d 0 obj\n<< /Length %d%s >>\nstream\n" % (num, len(data), filt)
            + data
            + b"\nendstream\nendobj\n"
        )

    out = bytearray(b"%PDF-1.5\n")
    offsets: dict[int, int] = {}
    # scrambled file order: page-3 content first, then page-2 part A,
    # page-1, page-2 part B, then the object stream
    for num, body in (
        (10, content_obj(10, c_p3)),
        (8, content_obj(8, c_p2a)),
        (7, content_obj(7, c_p1)),
        (9, content_obj(9, c_p2b)),
        (6, objstm),
    ):
        offsets[num] = len(out)
        out += body

    trailer_extra = b""
    if crypt is not None:
        # the Encrypt dict rides OUTSIDE the object stream (spec: it
        # must be reachable before any decryption), clear, as obj 12
        offsets[12] = len(out)
        out += b"12 0 obj\n" + _enc_dict_bytes(enc) + b"\nendobj\n"
        idhex = b"<" + id0.hex().encode() + b">"
        trailer_extra = b" /Encrypt 12 0 R /ID [" + idhex + idhex + b"]"

    xref_at = len(out)
    size = 13 if crypt is not None else 12
    entries = [(0, 0, 65535)]  # obj 0: free
    for num in range(1, 6):
        entries.append((2, 6, num - 1))  # packed in ObjStm 6, index
    entries.append((1, offsets[6], 0))
    for num in (7, 8, 9, 10):
        entries.append((1, offsets[num], 0))
    entries.append((1, xref_at, 0))  # obj 11: the xref stream itself
    if crypt is not None:
        entries.append((1, offsets[12], 0))
    rows = b"".join(
        bytes([t]) + f2.to_bytes(3, "big") + bytes([f3 & 0xFF])
        for t, f2, f3 in entries
    )
    parms = b""
    if doc_id % 2 == 0:
        stride = 5
        pred = bytearray()
        prev = bytes(stride)
        for r0 in range(0, len(rows), stride):
            row = rows[r0 : r0 + stride]
            pred += b"\x02" + bytes(
                (row[i] - prev[i]) & 0xFF for i in range(stride)
            )
            prev = row
        rows = bytes(pred)
        parms = b" /DecodeParms << /Predictor 12 /Columns 5 >>"
    xref_data = zlib.compress(rows, 9)
    out += (
        b"11 0 obj\n<< /Type /XRef /Size %d /W [1 3 1] /Root 1 0 R%s "
        b"/Length %d /Filter /FlateDecode%s >>\nstream\n"
        % (size, trailer_extra, len(xref_data), parms)
        + xref_data
        + b"\nendstream\nendobj\nstartxref\n%d\n%%%%EOF\n" % xref_at
    )
    return bytes(out)


def _running_offsets(bodies) -> list[int]:
    offs, at = [], 0
    for b in bodies:
        offs.append(at)
        at += len(b)
    return offs


def synth_pdf_media(documents: DataFrame) -> DataFrame:
    """(media_id, payload) of deterministic PDFs, executor-side."""
    return documents.select(
        F.col("doc_id").alias("media_id"),
        synth_bytes(synth_pdf_bytes, "doc_id", "text").alias("payload"),
    )


def synth_pdf_modern_media(documents: DataFrame) -> DataFrame:
    """(media_id, payload) of deterministic MODERN-layout (PDF 1.5
    xref-stream + ObjStm) PDFs, executor-side."""
    return documents.select(
        F.col("doc_id").alias("media_id"),
        synth_bytes(synth_pdf_modern_bytes, "doc_id", "text").alias("payload"),
    )
