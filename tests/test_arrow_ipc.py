"""Arrow IPC ingestion (operators/arrow_ipc): pyarrow is the decoder
(the reference implementation, first-party here); tests own the
contract — both framings, canonical values, schema scoping, quarantine."""

from __future__ import annotations

import pytest

from user_behavior_spark_pipeline_spark.operators.arrow_ipc import (
    arrow_ipc_records,
    arrow_ipc_rows,
    synth_arrow_bytes,
    synth_arrow_media,
)


def test_arrow_both_framings_closed_form():
    for did in (0, 1, 2, 3, 4, 5, 11):
        rows = list(arrow_ipc_rows(synth_arrow_bytes(did)))
        n = did % 3 + 1
        assert len(rows) == n * 5
        got = {(ri, f): (t, v) for ri, f, t, v in rows}
        for i in range(n):
            assert got[(i, "id")] == ("long", str(did * 10 + i))
            assert got[(i, "kind")] == ("string", f"k{i % 2}")
            assert got[(i, "score")] == ("double", repr((did * 2 + i) * 0.5))
            assert got[(i, "flag")] == (
                "boolean", "true" if i % 2 == 0 else "false")
            assert got[(i, "note")] == (
                ("null", None) if i % 3 == 0 else ("string", f"n{i}"))
    # file format really is Feather v2 (ARROW1 magic), stream is not
    assert synth_arrow_bytes(1)[:6] == b"ARROW1"
    assert synth_arrow_bytes(0)[:6] != b"ARROW1"


def test_arrow_rejections_and_scoping():
    import pyarrow as pa

    with pytest.raises(ValueError, match="corrupt Arrow"):
        list(arrow_ipc_rows(b"ARROW1\x00\x00garbage"))
    with pytest.raises(ValueError, match="corrupt Arrow"):
        list(arrow_ipc_rows(b"\xff\xff\xff\xff\x30\x00\x00\x00junk"))
    sink = pa.BufferOutputStream()
    t = pa.table({"a": pa.array([[1, 2]], pa.list_(pa.int64()))})
    w = pa.ipc.new_stream(sink, t.schema)
    for b in t.to_batches():
        w.write_batch(b)
    w.close()
    with pytest.raises(ValueError, match="out of scope"):
        list(arrow_ipc_rows(sink.getvalue().to_pybytes()))


def test_arrow_operator_quarantines(spark):
    docs = spark.createDataFrame([(i,) for i in range(5)], "doc_id long")
    rows = arrow_ipc_records(synth_arrow_media(docs)).collect()
    good = [r for r in rows if r.parse_error is None]
    assert len(good) == sum((d % 3 + 1) * 5 for d in range(5))
    broken = spark.createDataFrame(
        [(9, b"ARROW1\x00\x00 torn")], "media_id long, payload binary"
    )
    (r,) = arrow_ipc_records(broken).collect()
    assert r.parse_error is not None


def test_sniffer_routes_bz2_xz():
    import bz2 as bz2mod
    import lzma

    from user_behavior_spark_pipeline_spark.operators.multimodal import (
        sniff_media_type,
    )

    assert sniff_media_type(bz2mod.compress(b"x" * 100)) == "bz2"
    assert sniff_media_type(lzma.compress(b"x" * 100)) == "xz"


# ---------------------------------------------------------------------------
# Sacrificial-subprocess containment (r12 — VERDICT r11 #3): the one
# walker whose corruption could KILL the worker now quarantines instead
# ---------------------------------------------------------------------------


def test_sacrificial_decoder_contains_real_aborts():
    """Inputs REPRODUCED to abort pyarrow's C++ (std::length_error from
    an in-flatbuffer bit flip — the documented hazard) must come back
    as a parse_error, the child respawn transparently, and the very
    next valid buffer decode cleanly. The three pinned (doc, offset,
    xor) triples each crashed the child on this pyarrow when found;
    on a future pyarrow they may instead reject cleanly — either
    outcome is a quarantine, which is the contract under test."""
    from user_behavior_spark_pipeline_spark.operators.arrow_ipc import (
        SacrificialDecoder,
        arrow_ipc_rows,
        synth_arrow_bytes,
    )

    d = SacrificialDecoder(timeout_s=20)
    try:
        for doc, off, x in ((24, 696, 109), (3, 836, 84), (32, 1178, 50)):
            b = bytearray(synth_arrow_bytes(doc))
            b[off] ^= x
            rows, err = d.decode(bytes(b))
            assert err is not None, (doc, off, x)
            # recovery: the next buffer must decode, and byte-for-byte
            # equal the in-process walker's output
            rows, err = d.decode(synth_arrow_bytes(doc))
            assert err is None
            assert rows == list(arrow_ipc_rows(synth_arrow_bytes(doc)))
    finally:
        d.close()


def test_sacrificial_decoder_bitflip_corpus_never_escapes():
    """A 250-flip corpus over structurally-valid buffers: every call
    returns (rows | parse_error) — no exception escapes, the parent
    process survives, and clean parses agree with the in-process
    walker. This is the fuzz family the module's _NO_BITFLIP carve-out
    exists for, now running THROUGH the guarded path."""
    import random

    from user_behavior_spark_pipeline_spark.operators.arrow_ipc import (
        SacrificialDecoder,
        arrow_ipc_rows,
        synth_arrow_bytes,
    )

    d = SacrificialDecoder(timeout_s=15)
    rng = random.Random(1234)
    outcomes = {"ok": 0, "err": 0}
    try:
        for t in range(250):
            base = bytearray(synth_arrow_bytes(t % 50))
            i = rng.randrange(len(base))
            base[i] ^= 1 + rng.randrange(255)
            rows, err = d.decode(bytes(base))
            if err is None:
                outcomes["ok"] += 1
                assert rows == list(arrow_ipc_rows(bytes(base)))
            else:
                outcomes["err"] += 1
                assert isinstance(err, str) and err
        # child still serves after the corpus
        rows, err = d.decode(synth_arrow_bytes(9))
        assert err is None and rows
    finally:
        d.close()
    assert outcomes["ok"] + outcomes["err"] == 250


def test_worker_decoder_child_is_reaped_at_exit(tmp_path):
    """A process that built the worker-lifetime decoder takes its child
    down when it exits. The child's stdin is held open by a sleeper, so
    it cannot leave on EOF: only the exit hook ends it."""
    import os
    import subprocess
    import sys
    import time

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = (
        "import subprocess, sys\n"
        f"sys.path.insert(0, {root!r})\n"
        "from user_behavior_spark_pipeline_spark.operators.arrow_ipc import "
        "_worker_decoder, synth_arrow_bytes\n"
        "d = _worker_decoder()\n"
        "rows, err = d.decode(synth_arrow_bytes(1))\n"
        "assert err is None and rows\n"
        "fd = d._proc.stdin.fileno()\n"
        "s = subprocess.Popen(['sleep', '30'], pass_fds=(fd,))\n"
        "print(d._proc.pid, s.pid)\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True,
        timeout=120, check=True,
    )
    child, sleeper = map(int, out.stdout.split())
    try:
        deadline = time.monotonic() + 10
        while os.path.exists(f"/proc/{child}") and time.monotonic() < deadline:
            time.sleep(0.05)
        assert not os.path.exists(f"/proc/{child}")
    finally:
        os.kill(sleeper, 9)


def test_arrow_ipc_records_decode_untrusted_spark(spark):
    """The Spark-level guarded path: valid buffers explode identically
    to the trusted path; a pinned abort-reproducing buffer quarantines
    as one parse_error row without killing the python worker."""
    from user_behavior_spark_pipeline_spark.operators.arrow_ipc import (
        arrow_ipc_records,
        synth_arrow_bytes,
    )

    bad = bytearray(synth_arrow_bytes(24))
    bad[696] ^= 109
    media = spark.createDataFrame(
        [(1, synth_arrow_bytes(1)), (2, synth_arrow_bytes(2)),
         (24, bytes(bad))],
        "media_id long, payload binary",
    )
    rows = arrow_ipc_records(media, decode_untrusted=True).collect()
    good = [r for r in rows if r.parse_error is None]
    quarantined = [r for r in rows if r.parse_error is not None]
    assert {r.media_id for r in quarantined} == {24}
    assert len(quarantined) == 1
    trusted = arrow_ipc_records(
        media.filter("media_id != 24")
    ).collect()
    assert sorted(map(tuple, good)) == sorted(map(tuple, trusted))
