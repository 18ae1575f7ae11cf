"""WARC walker (operators/warc): hand-packed ISO 28500 fixtures —
independent of the synth_warc_bytes builder — plus builder roundtrip and
the DataFrame operator over the documents-derived corpus."""

from __future__ import annotations

import zlib

import pytest

from user_behavior_spark_pipeline_spark.operators.warc import (
    synth_warc_bytes,
    warc_parse,
    warc_records,
    synth_warc_archives,
)


def _rec(headers: dict, body: bytes, version=b"WARC/1.0") -> bytes:
    head = version + b"\r\n"
    for k, v in headers.items():
        head += f"{k}: {v}\r\n".encode()
    head += f"Content-Length: {len(body)}\r\n".encode()
    return head + b"\r\n" + body + b"\r\n\r\n"


def test_warc_multi_record_framing():
    payload = _rec(
        {"WARC-Type": "warcinfo"}, b"software: x\r\n"
    ) + _rec(
        {
            "WARC-Type": "response",
            "WARC-Target-URI": "http://example.invalid/a",
            "Content-Type": "text/html",
        },
        b"<html>hi \r\n\r\n tricky body with blank line</html>",
    )
    recs = warc_parse(payload)
    assert len(recs) == 2
    assert recs[0]["headers"]["warc-type"] == "warcinfo"
    assert recs[1]["headers"]["warc-target-uri"] == "http://example.invalid/a"
    # Content-Length framing, NOT delimiter scanning: the body's embedded
    # CRLF CRLF must not split the record
    assert b"tricky body" in recs[1]["body"]
    assert recs[1]["body"].startswith(b"<html>")


def test_warc_header_folding_and_case():
    body = b"x" * 10
    raw = (
        b"WARC/1.1\r\n"
        b"WARC-Type: metadata\r\n"
        b"WARC-Target-URI: http://example.invalid/very/long\r\n"
        b"\tcontinued-path\r\n"
        b"CONTENT-LENGTH: 10\r\n"
        b"\r\n" + body + b"\r\n\r\n"
    )
    (rec,) = warc_parse(raw)
    assert rec["version"] == "WARC/1.1"
    # folded continuation joined with a single space; keys lowercased
    assert (
        rec["headers"]["warc-target-uri"]
        == "http://example.invalid/very/long continued-path"
    )
    assert rec["body"] == body


def test_warc_gzip_members_transparent():
    plain = synth_warc_bytes(42, "hello world", gzip_members=False)
    gz = synth_warc_bytes(42, "hello world", gzip_members=True)
    assert gz[:2] == b"\x1f\x8b" and gz != plain
    assert warc_parse(gz) == warc_parse(plain)


def test_warc_structural_errors():
    with pytest.raises(ValueError):
        warc_parse(b"HTTP/1.1 200 OK\r\n\r\n")  # not a WARC version line
    with pytest.raises(ValueError):  # no Content-Length
        warc_parse(b"WARC/1.0\r\nWARC-Type: response\r\n\r\nbody\r\n\r\n")
    good = _rec({"WARC-Type": "response"}, b"0123456789")
    with pytest.raises(ValueError):  # truncated body
        warc_parse(good[:-8])
    with pytest.raises(ValueError):  # truncated gzip member
        warc_parse(synth_warc_bytes(1, "abc", gzip_members=True)[:-5])
    with pytest.raises(ValueError):
        warc_parse(b"")


@pytest.mark.parametrize("doc_id,text", [(0, ""), (3, "héllo wörld"), (7, "a" * 500)])
def test_synth_warc_roundtrip_closed_form(doc_id, text):
    for gz in (False, True):
        recs = warc_parse(synth_warc_bytes(doc_id, text, gzip_members=gz))
        assert len(recs) == 2
        assert recs[0]["headers"]["warc-type"] == "warcinfo"
        r = recs[1]
        assert r["headers"]["warc-type"] == "response"
        assert (
            r["headers"]["warc-target-uri"]
            == f"http://example.invalid/doc/{doc_id}"
        )
        assert r["body"] == text.encode("utf-8")
        assert int(r["headers"]["content-length"]) == len(text.encode("utf-8"))


def test_warc_records_operator(spark, sf_dir):
    from user_behavior_spark_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").limit(30)
    out = (
        warc_records(synth_warc_archives(docs))
        .orderBy("archive_id", "record_idx")
        .collect()
    )
    expected = {r.doc_id: r.text for r in docs.collect()}
    assert len(out) == 2 * len(expected)
    for r in out:
        if r.record_idx == 0:
            assert r.warc_type == "warcinfo" and r.target_uri is None
        else:
            assert r.warc_type == "response"
            assert r.target_uri == f"http://example.invalid/doc/{r.archive_id}"
            assert bytes(r.body).decode("utf-8") == expected[r.archive_id]
            assert r.content_length == len(expected[r.archive_id].encode())


# ---------------------------------------------------------------------------
# HTML visible-text extraction (WET step)
# ---------------------------------------------------------------------------


def test_extract_html_text_inverts_escape_and_strips(spark):
    """Nasty inputs through build -> parse -> extract: entities, literal
    escape sequences, whitespace runs, tag-lookalikes in text."""
    from user_behavior_spark_pipeline_spark.operators.warc import (
        extract_html_text,
        synth_warc_bytes,
        warc_parse,
    )

    cases = [
        "plain words",
        "a & b < c > d",
        "literal &lt; stays literal",
        "tag lookalike <script>x</script> is text",
        "runs \t of\n\nwhitespace",
        "",
        "   leading and trailing   ",
    ]
    rows = []
    for i, text in enumerate(cases):
        payload = synth_warc_bytes(i, text, html=True)
        rec = warc_parse(payload)[1]
        assert rec["headers"]["content-type"] == "text/html"
        rows.append((i, rec["body"]))
    df = spark.createDataFrame(rows, "archive_id long, body binary")
    got = {
        r.archive_id: r.extracted_text
        for r in extract_html_text(df).collect()
    }
    import re

    for i, text in enumerate(cases):
        expected = re.sub(r"\s+", " ", f"doc {i} {text}").strip()
        assert got[i] == expected, (i, got[i], expected)



# ---------------------------------------------------------------------------
# Property tests: build -> parse roundtrip over arbitrary inputs
# ---------------------------------------------------------------------------


def test_warc_roundtrip_property():
    """Any (doc_id, text) — including control chars, CRLF runs, unicode —
    must frame and parse back byte-exactly, gzipped or not. Framing is
    Content-Length based, so no body content may break it."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    @settings(
        max_examples=200,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(
        doc_id=st.integers(min_value=0, max_value=2**40),
        text=st.text(max_size=400),
        gz=st.booleans(),
    )
    def check(doc_id, text, gz):
        recs = warc_parse(synth_warc_bytes(doc_id, text, gzip_members=gz))
        assert len(recs) == 2
        r = recs[1]
        assert r["body"] == text.encode("utf-8")
        assert int(r["headers"]["content-length"]) == len(r["body"])
        assert (
            r["headers"]["warc-target-uri"]
            == f"http://example.invalid/doc/{doc_id}"
        )

    check()


def test_warc_html_extraction_property_pure_python():
    """The escape is exactly invertible and visible text survives the
    page wrapper: re-derive extraction in pure Python (the same regex
    pipeline the Spark operator runs) for arbitrary text."""
    import re

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    @settings(
        max_examples=200,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(text=st.text(max_size=300))
    def check(text):
        recs = warc_parse(synth_warc_bytes(5, text, html=True))
        page = recs[1]["body"].decode("utf-8")
        # mirror of the Spark pipeline, with the engines' ASCII \s
        # spelled out: Python's \s is WIDER (it matches \x1c-\x1f and
        # unicode spaces) than Java regex / RE2 \s = [ \t\n\x0B\f\r],
        # and this property must test the escape/strip inverse under
        # the ENGINES' dialect, not Python's
        ws = r"[ \t\n\r\f\x0b]"
        s = re.sub(
            rf"(?is)<(script|style)[^>]*>.*?</\1{ws}*>", " ", page
        )
        s = re.sub(r"<[^>]*>", " ", s)
        s = s.replace("&lt;", "<").replace("&gt;", ">").replace("&amp;", "&")
        got = re.sub(rf"{ws}+", " ", s).strip(" \t\n\r\f\x0b")
        expected = re.sub(rf"{ws}+", " ", f"doc 5 {text}").strip(
            " \t\n\r\f\x0b"
        )
        assert got == expected

    check()


def test_mp4_roundtrip_property():
    """Arbitrary (doc_id, n_chars) builder inputs parse back to the
    closed form — sizes, offsets, dts, keyframes, duration."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from user_behavior_spark_pipeline_spark.operators.demux import (
        mp4_demux,
        synth_mp4_bytes,
    )

    @settings(
        max_examples=200,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(
        doc_id=st.integers(min_value=0, max_value=2**40),
        n_chars=st.integers(min_value=0, max_value=10**9),
    )
    def check(doc_id, n_chars):
        info = mp4_demux(synth_mp4_bytes(doc_id, n_chars))
        n = n_chars % 7 + 2
        (t,) = info["tracks"]
        sizes = [(doc_id + 13 * i) % 240 + 16 for i in range(n)]
        assert t["sizes"] == sizes
        assert t["offsets"] == [32 + sum(sizes[:i]) for i in range(n)]
        assert t["dts"] == [40 * i for i in range(n)]
        assert t["keyframe"] == [i % 3 == 0 for i in range(n)]

    check()


def test_normalize_url_edge_cases(spark):
    from user_behavior_spark_pipeline_spark.operators.warc import (
        normalize_url,
    )

    cases = [
        # (input, expected canonical)
        ("http://Example.COM:80/a?b=2&a=1#f", "http://example.com/a?a=1&b=2"),
        ("https://h.io:443/x", "https://h.io/x"),
        ("https://h.io:8443/x", "https://h.io:8443/x"),  # non-default kept
        ("http://h.io", "http://h.io/"),  # empty path -> /
        ("http://h.io/p?utm_source=a&utm_medium=b", "http://h.io/p"),
        ("http://h.io//a///b?x=1", "http://h.io/a/b?x=1"),
        ("HTTPS://H.IO/", "https://h.io/"),
        ("http://h.io/p?gclid=z&q=1&fbclid=y", "http://h.io/p?q=1"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r.c for r in df.select(normalize_url("url").alias("c")).collect()]
    for (u, expected), g in zip(cases, got):
        assert g == expected, (u, g, expected)


def test_normalize_url_garbage_yields_null(spark):
    """Crawl-quality inputs: unparseable URLs normalize to NULL (never
    throw) so a 100 TB scan survives and callers can quarantine."""
    from user_behavior_spark_pipeline_spark.operators.warc import (
        normalize_url,
    )

    df = spark.createDataFrame(
        [("not a url at all",), ("http://ok.io/fine",)], "url string"
    )
    got = {
        r.url: r.c
        for r in df.select("url", normalize_url("url").alias("c")).collect()
    }
    assert got["http://ok.io/fine"] == "http://ok.io/fine"
    assert got["not a url at all"] is None


def test_gunzip_zip_bomb_capped():
    """A member that inflates past the cap raises (quarantine) instead of
    buffering the bomb — and a legitimate archive right AT the cap
    passes."""
    from user_behavior_spark_pipeline_spark.operators.warc import (
        _gunzip_members,
    )

    def member(raw: bytes) -> bytes:
        co = zlib.compressobj(9, zlib.DEFLATED, 31)
        return co.compress(raw) + co.flush()

    bomb = member(b"\x00" * 100_000)  # ~100:1 ratio
    with pytest.raises(ValueError, match="zip-bomb"):
        _gunzip_members(bomb, max_bytes=50_000)
    # exactly at the cap is fine; one byte under the payload also fine
    assert _gunzip_members(member(b"x" * 50_000), max_bytes=50_000) == b"x" * 50_000
    # multi-member totals are capped TOGETHER, not per member
    two = member(b"a" * 30_000) + member(b"b" * 30_000)
    with pytest.raises(ValueError, match="zip-bomb"):
        _gunzip_members(two, max_bytes=50_000)
    assert len(_gunzip_members(two, max_bytes=60_000)) == 60_000


# ---------------------------------------------------------------------------
# Quarantine path (round 10): corruption routes, never kills the task
# ---------------------------------------------------------------------------


def test_warc_negative_content_length_rejected():
    """ADVICE r09 (high): a signed Content-Length walked ``pos`` BACKWARD
    — this exact payload re-parsed the same record forever (reproduced
    infinite loop before the guard). It must now fail fast."""
    evil = b"\r\n\r\nWARC/1.0\r\nContent-Length: -37\r\n\r\n"
    with pytest.raises(ValueError, match="invalid Content-Length"):
        warc_parse(evil)
    # latin-1 superscript two: str.isdigit() is True but int() raises —
    # the guard must be ascii-and-digit, not isdigit alone
    with pytest.raises(ValueError, match="invalid Content-Length"):
        warc_parse(b"WARC/1.0\r\nContent-Length: \xb2\r\n\r\n")
    # sign/space/underscore forms int() would accept or mangle
    for bad in (b"+5", b"5_0", b"5 x"):
        raw = (
            b"WARC/1.0\r\nContent-Length: " + bad + b"\r\n\r\nxxxxx\r\n\r\n"
        )
        with pytest.raises(ValueError, match="invalid Content-Length"):
            warc_parse(raw)


def test_warc_duplicate_header_continuation_ignored():
    """ADVICE r09 (low): a folded continuation AFTER an ignored duplicate
    header must not corrupt the kept first occurrence's value."""
    raw = (
        b"WARC/1.0\r\n"
        b"WARC-Type: response\r\n"
        b"WARC-Type: duplicate-to-ignore\r\n"
        b"\tfolded-into-the-duplicate\r\n"
        b"Content-Length: 3\r\n"
        b"\r\nabc\r\n\r\n"
    )
    (rec,) = warc_parse(raw)
    assert rec["headers"]["warc-type"] == "response"
    assert rec["body"] == b"abc"


def test_warc_iter_salvages_prefix_records():
    """The generator yields every record BEFORE the corruption point,
    then raises — the salvage contract warc_records builds on."""
    from user_behavior_spark_pipeline_spark.operators.warc import warc_iter

    good = synth_warc_bytes(7, "keep me")
    corrupt = good + b"WARC/1.0\r\nContent-Length: 100\r\n\r\nshort"
    it = warc_iter(corrupt)
    assert next(it)["headers"]["warc-type"] == "warcinfo"
    assert next(it)["body"] == b"keep me"
    with pytest.raises(ValueError, match="truncated WARC record body"):
        next(it)


def test_warc_iter_gzip_corruption_salvages_and_normalizes():
    """A bit-flip inside a gzip member raises zlib.error in zlib — the
    walker must salvage every WHOLE member before it and surface a
    ValueError (never a bare zlib.error, which would escape the
    quarantine catch and kill the task; r10 advisor, reproduced)."""
    from user_behavior_spark_pipeline_spark.operators.warc import warc_iter

    gz = synth_warc_bytes(3, "survives", gzip_members=True)
    # flip a byte of the LAST member's CRC32 (trailer = CRC32 + ISIZE)
    flipped = gz[:-8] + bytes([gz[-8] ^ 0xFF]) + gz[-7:]
    it = warc_iter(flipped)
    assert next(it)["headers"]["warc-type"] == "warcinfo"
    with pytest.raises(
        ValueError, match="corrupt gzip member in WARC payload"
    ):
        next(it)
    # mid-member bit flip (deflate stream, not just the trailer) is
    # also a ValueError, with the leading intact member still salvaged
    member2 = gz.index(b"\x1f\x8b", 4)
    mid = member2 + (len(gz) - member2) // 2
    flipped2 = gz[:mid] + bytes([gz[mid] ^ 0xFF]) + gz[mid + 1 :]
    rows = []
    with pytest.raises(ValueError):
        for rec in warc_iter(flipped2):
            rows.append(rec)
    assert [r["headers"]["warc-type"] for r in rows] == ["warcinfo"]


def test_warc_records_quarantine_operator(spark):
    """One corrupt archive among good ones: good archives flow complete,
    the corrupt one keeps its pre-corruption records plus ONE error row
    — never a task failure (VERDICT r09 #1)."""
    from user_behavior_spark_pipeline_spark.operators.warc import (
        synth_corrupt_warc_archives,
        warc_records,
    )

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(10)], "doc_id long, text string"
    )
    out = warc_records(synth_corrupt_warc_archives(docs)).collect()
    by_archive = {}
    for r in out:
        by_archive.setdefault(r.archive_id, []).append(r)
    assert set(by_archive) == set(range(10))
    for a, rows in by_archive.items():
        ok = sorted(
            (r for r in rows if r.parse_error is None),
            key=lambda r: r.record_idx,
        )
        err = [r for r in rows if r.parse_error is not None]
        if a % 5 == 0:
            assert len(ok) == 2 and not err
        elif a % 5 == 2:
            assert not ok and len(err) == 1
            assert err[0].record_idx == 0
            assert "bad WARC version line" in err[0].parse_error
        elif a % 5 == 4:
            # gzip CRC bit-flip in member 2: member 1's record salvages,
            # zlib.error is normalized to a quarantine row, not a task
            # death (r10 advisor)
            assert len(ok) == 1 and len(err) == 1
            assert ok[0].record_idx == 0
            assert err[0].record_idx == 1
            assert (
                "corrupt gzip member in WARC payload" in err[0].parse_error
            )
        else:
            # both appended-corrupt kinds keep the two good records
            assert len(ok) == 2 and len(err) == 1
            assert err[0].record_idx == 2
            assert err[0].body is None and err[0].content_length is None
            expect = (
                "truncated WARC record body"
                if a % 5 == 1
                else "invalid Content-Length"
            )
            assert expect in err[0].parse_error
        for r in ok:  # good rows are fully populated
            assert r.body is not None and r.content_length is not None


# ---------------------------------------------------------------------------
# HTTP envelope split (round 10): real Common Crawl record shape
# ---------------------------------------------------------------------------


def test_dechunk_http_exact_and_malformed():
    from user_behavior_spark_pipeline_spark.operators.warc import (
        dechunk_http,
    )

    # exact roundtrip incl. a chunk extension and uppercase hex size
    chunked = b"4\r\nWiki\r\n5;ext=1\r\npedia\r\nE\r\n in\r\n\r\nchunks.\r\n0\r\n\r\n"
    assert dechunk_http(chunked) == b"Wikipedia in\r\n\r\nchunks."
    for bad in (
        b"zz\r\nxxxx\r\n0\r\n\r\n",  # non-hex size
        b"5\r\nab",  # truncated chunk body
        b"4\r\nWikiXX0\r\n\r\n",  # missing CRLF after chunk
        b"4\r\nWiki\r\n",  # no terminator
        b"-4\r\nWiki\r\n0\r\n\r\n",  # negative size
    ):
        with pytest.raises(ValueError):
            dechunk_http(bad)


def test_split_http_response_operator(spark):
    """Status/headers/payload split over plain, chunked, and non-HTTP
    bodies; payload bytes recovered EXACTLY (including non-UTF-8)."""
    from user_behavior_spark_pipeline_spark.operators.warc import (
        split_http_response,
    )

    page = "<p>café &amp; more</p>".encode("utf-8")
    plain = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n"
        b"Content-Length: %d\r\n\r\n" % len(page) + page
    )
    chunked = (
        b"HTTP/1.1 301 Moved Permanently\r\n"
        b"Transfer-Encoding: chunked\r\nContent-Type: text/html\r\n\r\n"
        b"6\r\n<html>\r\n7\r\n</html>\r\n0\r\n\r\n"
    )
    bad_chunks = (
        b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\nzz\r\nxx"
    )
    raw_binary = b"HTTP/1.1 200 OK\r\n\r\n\x00\xff\xfe binary body"
    not_http = b"<html>no envelope at all</html>"
    df = spark.createDataFrame(
        [
            (1, plain),
            (2, chunked),
            (3, bad_chunks),
            (4, raw_binary),
            (5, not_http),
        ],
        "archive_id long, body binary",
    )
    got = {
        r.archive_id: r for r in split_http_response(df).collect()
    }
    assert got[1].http_status == 200
    assert got[1].http_content_type == "text/html; charset=utf-8"
    assert bytes(got[1].http_payload) == page
    assert got[2].http_status == 301
    assert bytes(got[2].http_payload) == b"<html></html>"
    # malformed chunking: NULL payload (quarantine), status still split
    assert got[3].http_status == 200 and got[3].http_payload is None
    # byte-exact through the latin-1 bijection, NUL and \xff included
    assert bytes(got[4].http_payload) == b"\x00\xff\xfe binary body"
    assert got[4].http_content_type is None
    # no envelope: everything NULL, row survives for quarantine routing
    assert got[5].http_status is None and got[5].http_payload is None


def test_http_envelope_end_to_end(spark):
    """build(http_envelope) -> walker -> split -> WET extraction equals
    the closed form, through chunked AND gzipped archives."""
    import re

    from user_behavior_spark_pipeline_spark.operators.warc import (
        extract_html_text,
        split_http_response,
        synth_warc_archives,
        warc_records,
    )

    docs = spark.createDataFrame(
        [(i, f"body text {i} & <tag>") for i in range(22)],
        "doc_id long, text string",
    )
    recs = warc_records(synth_warc_archives(docs, http_envelope=True))
    resp = split_http_response(recs.filter("warc_type = 'response'"))
    out = extract_html_text(resp, body_col="http_payload")
    got = {
        r.archive_id: (r.http_status, r.extracted_text)
        for r in out.collect()
    }
    for i in range(22):
        if i % 7 == 3:
            assert got[i] == (404, "gone"), i
        else:
            expected = re.sub(r"\s+", " ", f"doc {i} body text {i} & <tag>").strip()
            assert got[i] == (200, expected), i


def test_warc_digest_verify(spark):
    """Block-digest verification: spec-form sha1:base32 digests verify
    JVM-side; planted wrong-byte digests flag false; absent digests are
    NULL; malformed labels/values never match (false, not a crash)."""
    import base64
    import hashlib

    from user_behavior_spark_pipeline_spark.operators.warc import (
        warc_digest_verify,
        warc_records,
    )

    def rec(idx, body, digest_line=b""):
        return (
            b"WARC/1.0\r\nWARC-Type: response\r\n"
            + digest_line
            + b"Content-Length: %d\r\n\r\n" % len(body)
            + body
            + b"\r\n\r\n"
        )

    good = base64.b32encode(hashlib.sha1(b"abc").digest())
    payload = (
        rec(0, b"abc", b"WARC-Block-Digest: sha1:" + good + b"\r\n")
        + rec(1, b"abc", b"WARC-Block-Digest: sha1:" + good[:-4] + b"AAAA\r\n")
        + rec(2, b"abc")  # no digest
        + rec(3, b"abc", b"WARC-Block-Digest: md5:ABCD\r\n")  # wrong algo
        + rec(4, b"abc", b"WARC-Block-Digest: sha1:!!notb32!!\r\n")
    )
    archives = spark.createDataFrame(
        [(1, payload)], "archive_id long, payload binary"
    )
    out = {
        r.record_idx: r
        for r in warc_digest_verify(warc_records(archives)).collect()
    }
    assert out[0].digest_ok is True and out[0].has_digest
    assert out[1].digest_ok is False
    assert out[2].digest_ok is None and not out[2].has_digest
    assert out[3].digest_ok is False  # unsupported algo: flagged
    assert out[4].digest_ok is False  # malformed base32: flagged


def test_robots_parse_and_match():
    """RFC 9309 semantics: group selection by longest UA token (the
    wildcard group is IGNORED when a specific group matches), longest
    rule wins with allow beating disallow on ties, '*' wildcards and
    '$' anchors, empty Disallow = allow-all, grouped user-agents."""
    from user_behavior_spark_pipeline_spark.operators.warc import (
        robots_is_allowed,
        robots_parse,
    )

    r = robots_parse(
        b"User-agent: trainingbot\nDisallow: /private/\n"
        b"Allow: /private/ok/\nCrawl-delay: 2\n\n"
        b"User-agent: *\nDisallow: /tmp*\nDisallow: /exact$\n"
        b"Sitemap: https://e.com/s.xml\n"
    )
    assert r["sitemaps"] == ["https://e.com/s.xml"]
    assert not robots_is_allowed(r, "TrainingBot/1.0", "/private/x")
    assert robots_is_allowed(r, "trainingbot", "/private/ok/y")
    # specific group matched -> wildcard group's /tmp* does NOT apply
    assert robots_is_allowed(r, "trainingbot", "/tmp123")
    assert not robots_is_allowed(r, "otherbot", "/tmpfile")
    assert not robots_is_allowed(r, "otherbot", "/exact")
    assert robots_is_allowed(r, "otherbot", "/exactly")
    # empty Disallow is allow-all; unknown agents with no * group pass
    r2 = robots_parse(b"User-agent: x\nDisallow:\n")
    assert robots_is_allowed(r2, "x", "/anything")
    assert robots_is_allowed(robots_parse(b""), "anybot", "/")
    # grouped user-agent lines share one rule set
    r3 = robots_parse(b"User-agent: a\nUser-agent: b\nDisallow: /q\n")
    assert not robots_is_allowed(r3, "b", "/q/1")


def test_robots_url_filter_operator(spark):
    from user_behavior_spark_pipeline_spark.operators.warc import (
        robots_url_filter,
    )

    robots = spark.createDataFrame(
        [("h1", b"User-agent: *\nDisallow: /no\nCrawl-delay: 3\n")],
        "host string, robots_payload binary",
    )
    urls = spark.createDataFrame(
        [("h1", "/ok"), ("h1", "/no/x"), ("h2", "/anything")],
        "host string, path string",
    )
    out = {(r.host, r.path): r for r in robots_url_filter(urls, robots).collect()}
    assert out[("h1", "/ok")].allowed and out[("h1", "/ok")].crawl_delay == 3.0
    assert not out[("h1", "/no/x")].allowed
    # no robots.txt -> unrestricted, no delay
    assert out[("h2", "/anything")].allowed
    assert out[("h2", "/anything")].crawl_delay is None


def test_sitemap_parse_edge_cases(spark):
    """Hand fixtures: entity decode, missing lastmod, truncated-file
    salvage (entries before the cut survive), gzip transparency,
    non-sitemap rejection, operator quarantine."""
    from user_behavior_spark_pipeline_spark.operators.warc import (
        sitemap_entries,
        sitemap_parse,
        synth_sitemap_bytes,
    )

    xml = (
        b'<?xml version="1.0"?><urlset xmlns="x">'
        b"<url><loc> https://e.com/a?x=1&amp;y=%20 </loc></url>"
        b"<url><loc>https://e.com/b</loc><lastmod>2026-02-03</lastmod>"
        b"</url><url><loc>https://e.com/trunca"
    )
    d = sitemap_parse(xml)
    assert d["kind"] == "urlset"
    assert d["entries"] == [
        ("https://e.com/a?x=1&y=%20", None),
        ("https://e.com/b", "2026-02-03"),
    ]
    with pytest.raises(ValueError, match="not a sitemap"):
        sitemap_parse(b"<html><body>404</body></html>")
    media = spark.createDataFrame(
        [(1, synth_sitemap_bytes(1)), (2, b"\x1f\x8bgarbage")],
        "sitemap_id long, payload binary",
    )
    rows = sitemap_entries(media).collect()
    ok = [r for r in rows if r.sitemap_id == 1]
    (bad,) = [r for r in rows if r.sitemap_id == 2]
    assert len(ok) == 1 % 6 + 1 and all(r.parse_error is None for r in ok)
    assert bad.parse_error is not None


def test_feed_parse_rss_atom_closed_form():
    from user_behavior_spark_pipeline_spark.operators.warc import (
        feed_parse,
        synth_feed_bytes,
    )

    for did in range(8):
        d = feed_parse(synth_feed_bytes(did))
        if did % 2 == 0:
            n = did % 4 + 1
            assert d["kind"] == "rss" and len(d["entries"]) == n
            t, link, pub, guid = d["entries"][0]
            assert t == f"story {did}/0"  # CDATA unwrapped
            assert link == f"https://ex.invalid/{did}/0"
            assert guid == f"g-{did}-0"
            if n > 1:  # entity decoded
                assert d["entries"][1][0] == f"story {did}&1"
        else:
            n = did % 3 + 1
            assert d["kind"] == "atom" and len(d["entries"]) == n
            t, link, upd, eid = d["entries"][0]
            assert t == f"post {did}.0"
            assert link == f"https://ex.invalid/a/{did}/0"  # href attr
            assert eid == f"urn:e-{did}-0"


def test_feed_rejections_and_salvage():
    import pytest

    from user_behavior_spark_pipeline_spark.operators.warc import (
        feed_parse,
        synth_feed_bytes,
    )

    with pytest.raises(ValueError, match="not a feed"):
        feed_parse(b"<html>nope</html>")
    # bit-flipped real gzip stream -> zlib error surfaces as ValueError
    gz = bytearray(synth_feed_bytes(0))  # 0%3==0: gzipped
    gz[15] ^= 0xFF
    with pytest.raises(ValueError, match="gzip|not a feed"):
        feed_parse(bytes(gz))
    # truncation salvages complete entries (the scan-parser posture)
    raw = synth_feed_bytes(4)  # rss, not gzipped (4%3 != 0)
    cut = raw[: raw.rindex(b"<item")]
    d = feed_parse(cut)
    assert d["kind"] == "rss" and len(d["entries"]) == 4 % 4 + 1 - 1


def test_feed_operator_quarantines(spark):
    from user_behavior_spark_pipeline_spark.operators.warc import (
        feed_entries,
        synth_feed_media,
    )

    docs = spark.createDataFrame([(i,) for i in range(4)], "doc_id long")
    rows = feed_entries(synth_feed_media(docs)).collect()
    assert all(r.parse_error is None for r in rows)
    broken = spark.createDataFrame(
        [(9, b"<html>x</html>")], "feed_id long, payload binary"
    )
    (r,) = feed_entries(broken).collect()
    assert r.parse_error is not None
