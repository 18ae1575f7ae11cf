"""PDF text extraction (operators/pdf): hand fixtures independent of the
builder, builder roundtrip closed form, operator quarantine."""

from __future__ import annotations

import pytest

from user_behavior_spark_pipeline_spark.operators.pdf import (
    pdf_content_text,
    pdf_text,
    pdf_text_extract,
    synth_pdf_bytes,
    synth_pdf_media,
)


def test_pdf_literal_string_escapes_and_nesting():
    c = rb"BT (a\(b\)c) Tj (nest (ed) parens) Tj (oct\101al) Tj ET"
    assert pdf_content_text(c) == "a(b)cnest (ed) parensoctAal"
    # line continuation and escaped EOLs
    c = b"BT (split\\\nline) Tj (tab\\there) Tj ET"
    assert pdf_content_text(c) == "splitlinetab\there"


def test_pdf_hex_strings_and_tj_array():
    c = b"BT [<48656c6c6f> -120 <2c20776f726c64>] TJ ET"
    assert pdf_content_text(c) == "Hello, world"
    # UTF-16BE with BOM; odd final digit implies trailing zero
    hx = (b"\xfe\xff" + "héllo".encode("utf-16-be")).hex().encode()
    assert pdf_content_text(b"BT <" + hx + b"> Tj ET") == "héllo"
    # strings outside BT/ET (e.g. in annotations) are NOT page text
    assert pdf_content_text(b"(hidden) Tj BT (shown) Tj ET") == "shown"


def test_pdf_roundtrip_closed_form():
    for d, t in ((0, "plain"), (1, "par(en)s \\ slash"), (3, "日本語")):
        out = pdf_text_extract(synth_pdf_bytes(d, t))
        assert out["n_pages"] == 2
        assert out["text"] == f"doc {d} {t}"
    # empty page texts are skipped by the joiner (no trailing space)
    out = pdf_text_extract(synth_pdf_bytes(2, ""))
    assert out["n_pages"] == 2 and out["text"] == "doc 2"


def test_pdf_rejects_corrupt_and_encrypted():
    # doc 6: even = FlateDecode, %3==0 = PLAINTEXT (the r13 encryption
    # rotation gives doc%3==1 RC4 and doc%3==2 AESV2, handled — these
    # rejection paths need the clear slot)
    good = synth_pdf_bytes(6, "text here")
    # bit-flip inside the compressed stream -> ValueError, not zlib.error
    i = good.index(b"stream\n") + 10
    bad = good[:i] + bytes([good[i] ^ 0xFF]) + good[i + 1 :]
    with pytest.raises(ValueError, match="FlateDecode|/Length"):
        pdf_text_extract(bad)
    with pytest.raises(ValueError, match="not a PDF"):
        pdf_text_extract(b"%!PS adobe postscript")
    # /Encrypt pointing at a missing object in the LIVE trailer (the
    # one the last startxref reaches): named quarantine, no text
    enc = good.replace(b"/Root 1 0 R", b"/Root 1 0 R /Encrypt 9 0 R")
    with pytest.raises(ValueError, match="encrypted"):
        pdf_text_extract(enc)
    # a dangling appended trailer is NOT the live trailer; the xref
    # path correctly ignores it and still extracts
    dangling = good + b"trailer\n<< /Encrypt 9 0 R /Root 1 0 R >>\n%%EOF\n"
    assert pdf_text_extract(dangling)["text"] == "doc 6 text here"
    # no xref AND no recoverable body: the xref error propagates
    with pytest.raises(ValueError, match="no text|startxref"):
        pdf_text_extract(b"%PDF-1.4\nnothing here\n%%EOF")


def test_pdf_text_operator_quarantines(spark):
    docs = spark.createDataFrame(
        [(i, f"body {i}") for i in range(4)], "doc_id long, text string"
    )
    media = synth_pdf_media(docs)
    rows = {r.media_id: r for r in pdf_text(media).collect()}
    for i in range(4):
        assert rows[i].n_pages == 2 and rows[i].text == f"doc {i} body {i}"
    broken = spark.createDataFrame(
        [(9, b"%PDF-1.4\ngarbage")], "media_id long, payload binary"
    )
    (r,) = pdf_text(broken).collect()
    assert r.parse_error is not None and r.text is None


def test_pdf_modern_layout_roundtrip():
    """PDF 1.5 modern layout: xref stream (both predictor variants),
    ObjStm-packed page tree, scrambled file order, multi-part
    /Contents — pages come back in PAGE-TREE order."""
    from user_behavior_spark_pipeline_spark.operators.pdf import (
        synth_pdf_modern_bytes,
    )

    for d, t in (
        (0, "even: predicted xref"),  # /Predictor 12
        (1, "odd: raw xref rows"),
        (4, "日本語テキスト mixed"),
        (7, "x" * 3000),
    ):
        out = pdf_text_extract(synth_pdf_modern_bytes(d, t))
        assert out["n_pages"] == 3
        assert out["text"] == f"doc {d} {t} tail {d}"


def test_pdf_object_parser_units():
    """The object tokenizer on spec corner syntax: nested dicts,
    refs vs plain ints, #-escaped names, comments, reals."""
    from user_behavior_spark_pipeline_spark.operators.pdf import (
        _pdf_parse_obj,
        _Ref,
    )

    v, _ = _pdf_parse_obj(b"<< /A 1 0 R /B 2 /C [3 4 5 0 R] /D#20E (val) "
                          b"/F << /G true >> /H -1.5 >>", 0)
    assert isinstance(v["A"], _Ref) and v["A"].num == 1
    assert v["B"] == 2
    assert [x for x in v["C"][:2]] == [3, 4] and v["C"][2].num == 5
    assert v["D E"] == "val"  # #20 -> space
    assert v["F"] == {"G": True} and v["H"] == -1.5
    v, _ = _pdf_parse_obj(b" % comment\n /Name", 0)
    assert v == "Name"
    with pytest.raises(ValueError):
        _pdf_parse_obj(b"<< /Broken", 0)


def test_pdf_png_predictor_undo_rows():
    """PNG row predictors over xref-stream-shaped data: each filter
    type against hand-computed expectations."""
    from user_behavior_spark_pipeline_spark.operators.pdf import (
        _png_predictor_undo_rows,
    )

    # Up filter (type 2): row = delta + prev
    enc = b"\x02\x01\x02\x03" + b"\x02\x01\x01\x01"
    assert _png_predictor_undo_rows(enc, 3) == b"\x01\x02\x03\x02\x03\x04"
    # Sub filter (type 1): cumulative within the row
    enc = b"\x01\x05\x01\x01"
    assert _png_predictor_undo_rows(enc, 3) == b"\x05\x06\x07"
    # None (0) passes through; bad filter type rejects
    assert _png_predictor_undo_rows(b"\x00\xaa\xbb", 2) == b"\xaa\xbb"
    with pytest.raises(ValueError, match="filter type"):
        _png_predictor_undo_rows(b"\x07\x00\x00", 2)
    with pytest.raises(ValueError, match="whole rows"):
        _png_predictor_undo_rows(b"\x00\x00", 2)


def test_pdf_modern_corruption_quarantines():
    """Structural damage in the modern machinery raises ValueError
    (quarantine), and a damaged xref on a classic file SALVAGES via
    the framing scan."""
    from user_behavior_spark_pipeline_spark.operators.pdf import (
        synth_pdf_modern_bytes,
    )

    good = synth_pdf_modern_bytes(2, "body")
    # corrupt the first Flate stream (a content stream)
    i = good.index(b"stream\n") + 10
    bad = good[:i] + bytes([good[i] ^ 0xFF]) + good[i + 1 :]
    with pytest.raises(ValueError):
        pdf_text_extract(bad)
    # truncating the xref stream data kills the walk AND the framing
    # fallback cannot find BT text in ObjStm-packed dicts alone -> the
    # original xref error propagates
    trunc = good[: good.rindex(b"endstream")]
    with pytest.raises(ValueError):
        pdf_text_extract(trunc)
    # classic file with a smashed startxref offset still extracts —
    # doc 6 is the plain slot (the r13 rotations make doc 5 AESV2 +
    # CID, where salvage correctly cannot apply without the xref)
    classic = bytearray(synth_pdf_bytes(6, "still here"))
    at = classic.rindex(b"startxref")
    classic[at + 10 : at + 11] = b"9"
    out = pdf_text_extract(bytes(classic))
    assert out["text"] == "doc 6 still here"


def test_cid_tounicode_extraction_and_omission():
    """r13 CID rotation: odd docs show page 2 through Type0/Identity-H
    with a shifted ToUnicode map (bfchar space + bfrange) — on-disk
    bytes are NOT the text — and page 1 carries a mapless Type0 show
    that must be OMITTED, never read as latin-1."""
    from user_behavior_spark_pipeline_spark.operators.pdf import (
        parse_tounicode_cmap,
    )

    for d in (1, 3, 5, 7):  # plain, plain, AESV2, RC4 — all CID
        t = f"Çid tëxt {d}"
        out = pdf_text_extract(synth_pdf_bytes(d, t))
        assert out == {"n_pages": 2, "text": f"doc {d} {t}"}, d
    raw = synth_pdf_bytes(3, "visible words")
    assert b"visible words" not in raw
    # mapless-font 'A' (<0041>) did NOT leak into the text above
    # bfrange ARRAY destination form
    m = parse_tounicode_cmap(
        b"1 beginbfrange <0005> <0007> [<0058> <0059> <005a>] endbfrange"
    )
    assert (m[5], m[6], m[7]) == ("X", "Y", "Z")
    # malformed cmaps quarantine
    with pytest.raises(ValueError, match="bfrange"):
        parse_tounicode_cmap(b"1 beginbfrange <0005> endbfrange")
    with pytest.raises(ValueError, match="length mismatch"):
        parse_tounicode_cmap(
            b"1 beginbfrange <0005> <0007> [<0058>] endbfrange"
        )


def test_cid_font_maps_and_inherited_resources():
    """page_fonts: the ToUnicode map parses (bfchar space exception
    included), mapless Type0 fonts map to None (omit), and /Resources
    inherits up the /Parent chain (spec §7.7.3.4) — exercised by
    moving page 2's Resources onto the /Pages ancestor in the live
    object cache."""
    from user_behavior_spark_pipeline_spark.operators.pdf import _PdfDoc

    doc = _PdfDoc(synth_pdf_bytes(1, "parented"))
    page2 = doc.pages()[1]
    fonts = doc.page_fonts(page2)
    assert "FC" in fonts and fonts["FC"] is not None
    assert fonts["FC"][3] == " "  # the bfchar space exception
    page1 = doc.pages()[0]
    f1 = doc.page_fonts(page1)
    assert f1.get("FX", "absent") is None  # mapless Type0 -> omit
    # inheritance: strip the page's own Resources, graft them onto the
    # /Pages node the page's /Parent references — page_fonts must
    # still find the font
    res = page2.pop("Resources")
    pages_node = doc.resolve(doc.resolve(doc.trailer["Root"])["Pages"])
    pages_node["Resources"] = res
    inherited = doc.page_fonts(page2)
    assert "FC" in inherited and inherited["FC"][3] == " "


def test_stream_filters_golden_and_dispatch():
    """r13 classic-era filters: LZW pinned by the spec's own worked
    example (§7.4.4.2, decimal values), ASCII85/Hex/RunLength against
    hand-written vectors, and the /Filter ARRAY decode order through a
    real two-filter document."""
    from user_behavior_spark_pipeline_spark.operators.pdf import (
        ascii85_decode,
        ascii85_encode,
        asciihex_decode,
        lzw_decode,
        lzw_encode,
        runlength_decode,
        synth_pdf_modern_bytes,
    )

    enc = bytes.fromhex("800B6050220C0C8501")
    dec = bytes([45, 45, 45, 45, 45, 65, 45, 45, 45, 66])
    assert lzw_decode(enc) == dec
    assert lzw_encode(dec) == enc
    # EarlyChange=0 round trip (the non-default the parm selects)
    big = b"xy" * 4000
    assert lzw_decode(lzw_encode(big, early=0), early=0) == big
    assert ascii85_decode(b"z~>") == b"\x00\x00\x00\x00"
    assert ascii85_decode(b"87cUR~>") == b"Hell"
    assert ascii85_decode(ascii85_encode(b"\x00\x00\x00\x00ok")) == (
        b"\x00\x00\x00\x00ok"
    )
    assert asciihex_decode(b"48 65 6C 6C 6F >") == b"Hello"
    assert asciihex_decode(b"486>") == b"H`"  # odd digit pads 0
    assert (
        runlength_decode(bytes([2]) + b"abc" + bytes([254]) + b"x\x80")
        == b"abcxxx"
    )
    # tail-boundary regression (testdata doc 102): the decoder appends
    # a table entry for the FINAL data code that the encoder never
    # assigns — when that append crosses 2^width - EarlyChange, the
    # EOD code width must still agree
    import random as _r
    _base = bytes(_r.Random(9).randrange(6) for _ in range(700))
    for _n in range(480, 520):
        assert lzw_decode(lzw_encode(_base[:_n])) == _base[:_n], _n
    with pytest.raises(ValueError, match="not literal"):
        lzw_decode(b"\xff\xff\xff")  # first 9-bit code is 511
    with pytest.raises(ValueError, match="EOD"):
        lzw_decode(b"\x00\x00")  # literal then bits run out
    with pytest.raises(ValueError, match="truncated"):
        runlength_decode(bytes([5, 1]))
    with pytest.raises(ValueError, match="out of range"):
        ascii85_decode(b"\x01~>")
    # doc 1 (modern) uses the [/ASCII85Decode /FlateDecode] chain —
    # already covered by the rotation roundtrip below, but pin the
    # bytes shape: the stream body is pure ASCII
    raw = synth_pdf_modern_bytes(6, "chained")  # 6%5==1 -> the chain
    assert b"[/ASCII85Decode /FlateDecode]" in raw


def test_modern_filter_rotation_roundtrip():
    """All five filter slots extract the same closed form — the
    /Filter machinery is oracle-load-bearing, not decorative."""
    from user_behavior_spark_pipeline_spark.operators.pdf import (
        synth_pdf_modern_bytes,
    )

    for d in range(10):  # two full filter cycles, both parities
        t = f"rotation {d}"
        out = pdf_text_extract(synth_pdf_modern_bytes(d, t))
        half = len(t) // 2
        assert out["n_pages"] == 3
        assert out["text"] == f"doc {d} {t[:half]}{t[half:]} tail {d}", d


def _independent_pdf_lzw_encode(data: bytes, early: int = 1) -> bytes:
    """An INDEPENDENT §7.4.4 LZW writer for cross-checking the package
    codec (same pattern as test_multimodal's TIFF twin): bit-string
    based, the early change expressed as the mainstream readers state
    it — 'the code width grows as soon as the table holds
    2^w - EarlyChange entries', where the writer's table leads the
    reader's by exactly one entry."""
    table = {bytes([i]): i for i in range(256)}
    nxt = 258
    width = 9
    bits: list[str] = [format(256, "09b")]
    w = b""
    for b in data:
        c = bytes([b])
        if w + c in table:
            w += c
            continue
        bits.append(format(table[w], f"0{width}b"))
        table[w + c] = nxt
        nxt += 1
        # reader's table is nxt - 1 entries after it processes this code
        if nxt - 1 + early >= (1 << width) and width < 12:
            width += 1
        if nxt >= 4095:
            bits.append(format(256, f"0{width}b"))
            table = {bytes([i]): i for i in range(256)}
            nxt = 258
            width = 9
        w = c
    if w:
        bits.append(format(table[w], f"0{width}b"))
        # the reader appends one final entry on this code
        if nxt + early >= (1 << width) and width < 12:
            width += 1
    bits.append(format(257, f"0{width}b"))
    s = "".join(bits)
    s += "0" * ((8 - len(s) % 8) % 8)
    return bytes(int(s[i : i + 8], 2) for i in range(0, len(s), 8))


def test_lzw_cross_implementation_width_boundaries():
    """ADVICE r13 (high): the width growth point must match mainstream
    readers/writers (pdfminer, pdf.js, qpdf) — grow when the reader's
    table holds 511/1023/2047 entries, NOT one code earlier. Pinned by
    an independent writer (byte-identity both ways across every width
    boundary and a table clear) plus a fixed externally-generated
    vector's digest, so a future 'self-consistent' shift cannot pass."""
    import hashlib
    import random

    from user_behavior_spark_pipeline_spark.operators.pdf import (
        lzw_decode,
        lzw_encode,
    )

    # fixed external vector: 2600 LCG bytes, near-incompressible, so
    # the stream crosses 511, 1023 AND 2047 entries. The digest was
    # computed from the independent writer's output and pins the exact
    # bytes of BOTH implementations.
    s = 12345
    buf = bytearray()
    for _ in range(2600):
        s = (s * 1103515245 + 12345) & 0x7FFFFFFF
        buf.append((s >> 16) & 0xFF)
    data = bytes(buf)
    ind = _independent_pdf_lzw_encode(data)
    ours = lzw_encode(data)
    assert ours == ind
    assert (
        hashlib.sha256(ours).hexdigest()
        == "63eb16b6d270bd212c0237d703315dd79f8946bc9f50cc1717a460c8d9f02a03"
    )
    assert lzw_decode(ind) == data
    # randomized lengths hugging each boundary, both entropy regimes
    rng = random.Random(7)
    for n in (250, 253, 254, 255, 258, 500, 765, 770, 1500, 1790, 2100):
        hi = bytes(rng.randrange(256) for _ in range(n))
        lo = bytes(rng.randrange(4) for _ in range(4 * n))
        for d in (hi, lo):
            assert lzw_decode(_independent_pdf_lzw_encode(d)) == d, n
            assert _independent_pdf_lzw_encode(d) == lzw_encode(d), n
    # EarlyChange=0 agrees too
    d = bytes(rng.randrange(256) for _ in range(600))
    assert _independent_pdf_lzw_encode(d, early=0) == lzw_encode(d, early=0)
    assert lzw_decode(_independent_pdf_lzw_encode(d, early=0), early=0) == d


def _type0_predef_doc(enc_name: str, text: str) -> bytes:
    """Minimal one-page classic PDF whose only font is a Type0 with a
    PREDEFINED encoding CMap (no /ToUnicode) and whose show string is
    the UTF-16BE code bytes — the real-writer shape for Uni*-UCS2-*/
    Uni*-UTF16-* CJK fonts."""
    hx = text.encode("utf-16-be").hex().encode()
    objs = [
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n",
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n",
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 4 0 R /Resources << /Font << /FU 5 0 R >> >> >>\n"
        b"endobj\n",
        b"4 0 obj\n<< /Length %d >>\nstream\nBT /FU 12 Tf <%s> Tj ET"
        b"\nendstream\nendobj\n"
        % (len(b"BT /FU 12 Tf <" + hx + b"> Tj ET"), hx),
        b"5 0 obj\n<< /Type /Font /Subtype /Type0 /BaseFont /Synth "
        b"/Encoding /" + enc_name.encode() + b" >>\nendobj\n",
    ]
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
    out += b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n" % (
        len(objs) + 1,
        xref_at,
    )
    return bytes(out)


def test_predefined_unicode_cmaps_extract_and_registry_quarantines():
    """r14 (VERDICT r13 #6, scoped): Type0 fonts with predefined
    Uni*-UCS2-*/Uni*-UTF16-* encodings extract by UTF-16BE
    interpretation — those CMaps' CODE SPACE is Unicode, so no table
    is needed for text (the table maps code->CID for glyphs only).
    Other registry CMap names (here a Shift-JIS one) quarantine BY
    NAME instead of silently omitting CJK text; Identity-H without a
    map keeps the documented omission (glyph indexes, not codes);
    malformed UTF-16 in a UCS2 string quarantines, never mojibake."""
    out = pdf_text_extract(_type0_predef_doc("UniJIS-UCS2-H", "日本語 x"))
    assert out == {"n_pages": 1, "text": "日本語 x"}
    # UTF16 family allows surrogate pairs (non-BMP)
    out = pdf_text_extract(_type0_predef_doc("UniKS-UTF16-V", "한글\U0001f600"))
    assert out["text"] == "한글\U0001f600"
    # the HW (half-width glyph) variant shares the Unicode code space
    out = pdf_text_extract(_type0_predef_doc("UniJIS-UCS2-HW-H", "ｱｲ"))
    assert out["text"] == "ｱｲ"
    with pytest.raises(ValueError, match="90ms-RKSJ-H.*unsupported"):
        pdf_text_extract(_type0_predef_doc("90ms-RKSJ-H", "ab"))
    with pytest.raises(ValueError, match="GB-EUC-H.*unsupported"):
        pdf_text_extract(_type0_predef_doc("GB-EUC-H", "ab"))
    # Identity-H stays the omission contract (bytes are glyph ids)
    out = pdf_text_extract(_type0_predef_doc("Identity-H", "zz"))
    assert out == {"n_pages": 1, "text": ""}
    # an unpaired high surrogate is not valid UTF-16BE -> quarantine
    doc = _type0_predef_doc("UniGB-UTF16-H", "a")
    bad = doc.replace("a".encode("utf-16-be").hex().encode(), b"d800")
    with pytest.raises(ValueError, match="UTF-16BE"):
        pdf_text_extract(bad)


def _type0_embedded_cmap_doc(base: str | None, text: str) -> bytes:
    """One-page PDF whose Type0 font's /Encoding is an EMBEDDED CMap
    stream — a thin wrapper `usecmap`-ing ``base`` (None = a
    self-contained map with no base)."""
    body = b"/CIDInit /ProcSet findresource begin\nbegincmap\n"
    if base is not None:
        body += b"/" + base.encode() + b" usecmap\n"
    body += (
        b"1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n"
        b"endcmap\nend\n"
    )
    hx = text.encode("utf-16-be").hex().encode()
    content = b"BT /FU 12 Tf <" + hx + b"> Tj ET"
    objs = [
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n",
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n",
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 4 0 R /Resources << /Font << /FU 5 0 R >> >> >>\n"
        b"endobj\n",
        b"4 0 obj\n<< /Length %d >>\nstream\n%s\nendstream\nendobj\n"
        % (len(content), content),
        b"5 0 obj\n<< /Type /Font /Subtype /Type0 /BaseFont /Synth "
        b"/Encoding 6 0 R >>\nendobj\n",
        b"6 0 obj\n<< /Length %d /CMapName /Wrapped >>\nstream\n%s"
        b"\nendstream\nendobj\n" % (len(body), body),
    ]
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
    out += b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n" % (
        len(objs) + 1,
        xref_at,
    )
    return bytes(out)


def test_embedded_cmap_usecmap_resolution():
    """r14: an embedded encoding CMap resolves through its usecmap
    base — a wrapper over a Uni* CMap extracts (the base's code space
    is Unicode), a wrapper over another registry CMap quarantines BY
    NAME, an Identity wrapper and a self-contained map keep the
    documented omission."""
    out = pdf_text_extract(
        _type0_embedded_cmap_doc("UniGB-UCS2-H", "汉字 ok")
    )
    assert out == {"n_pages": 1, "text": "汉字 ok"}
    with pytest.raises(ValueError, match="Add-RKSJ-H.*registry"):
        pdf_text_extract(_type0_embedded_cmap_doc("Add-RKSJ-H", "x"))
    out = pdf_text_extract(_type0_embedded_cmap_doc("Identity-H", "zz"))
    assert out == {"n_pages": 1, "text": ""}
    out = pdf_text_extract(_type0_embedded_cmap_doc(None, "zz"))
    assert out == {"n_pages": 1, "text": ""}


def test_embedded_cmap_usecmap_ignores_comments_and_strings():
    """review r14: a '/Name usecmap' token inside a %-comment or a
    (...) string literal is data, not the wrapper's base reference —
    the dispatch must see only operator context."""
    from user_behavior_spark_pipeline_spark.operators.pdf import _PdfDoc

    # comment-only mention: self-contained map -> documented omission
    body = (
        b"%%  /UniGB-UCS2-H usecmap (historical note)\n"
        b"begincmap\n1 begincodespacerange\n<0000> <FFFF>\n"
        b"endcodespacerange\nendcmap\n"
    )
    assert _PdfDoc._embedded_cmap_mode(body) is None
    # string-literal mention (would otherwise quarantine by name)
    body = (
        b"begincmap\n(/Add-RKSJ-H usecmap) pop\n"
        b"1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n"
        b"endcmap\n"
    )
    assert _PdfDoc._embedded_cmap_mode(body) is None
    # a REAL operator after a commented one still wins
    body = (
        b"% /Add-RKSJ-H usecmap\n/UniJIS-UCS2-H usecmap\nbegincmap\n"
    )
    assert _PdfDoc._embedded_cmap_mode(body) == "utf16be"
    # nested/escaped string contents stay inert
    body = b"( nested (\\) /UniKS-UTF16-H usecmap) ) pop\nbegincmap\n"
    assert _PdfDoc._embedded_cmap_mode(body) is None
