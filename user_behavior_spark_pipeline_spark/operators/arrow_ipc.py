"""Arrow IPC ingestion — the zero-copy interchange format feature
stores and dataframe tooling exchange (Feather v2 IS the Arrow file
format). Unlike the byte-level walkers (warc/demux/avro), the decoder
HERE is pyarrow itself — the reference implementation ships in this
environment as Spark's own Arrow dependency, so hand-rolling the
flatbuffers would add risk, not certification. What this module owns is
the Spark-side contract: format detection (file magic ``ARROW1`` vs the
stream format's encapsulated first message), the explode to the same
driver-hashable long format operators/avro.py uses (one row per
(record, field), canonical string values), schema scoping (flat
primitive columns; nested/dictionary columns reject loudly), and the
ONE-parse_error-row-per-file quarantine contract.

The 100 TB shape: one mapInPandas pass, linear in buffer bytes; record
batches stream through pyarrow without materializing the whole table
when possible.

UNTRUSTED-INPUT caveat (fuzz-established, tests/test_walker_fuzz.py):
random junk and truncation reject cleanly, but a bit flip INSIDE a
structurally-valid flatbuffer can throw std::length_error in Arrow's
C++ which escapes the binding and ABORTS the worker process — and the
IPC format carries no integrity checksums to detect it first. Feed
this walker from checksummed storage (parquet landing files, as the
streaming sources here do) — or pass ``decode_untrusted=True`` to
``arrow_ipc_records``: each buffer then parses inside a SACRIFICIAL
SUBPROCESS (one long-lived child per task, respawned on death), so an
Arrow C++ abort becomes one parse_error row instead of a dead
executor — the walker-quarantine contract finally holds for this
format too. The guarded path costs a JSON hop per buffer; it is the
untrusted-perimeter lane, not the default.

Reference parity note: the reference pipeline has no Arrow path
(SURVEY.md §2.1); training-data extension surface (§2.5).
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from .payload import synth_bytes

ARROW_RECORDS_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("rec_idx", LongType(), True),
        StructField("field", StringType(), True),
        StructField("value_type", StringType(), True),
        StructField("value", StringType(), True),
        StructField("parse_error", StringType(), True),
    ]
)

_TYPE_NAMES = {
    "int8": "long",
    "int16": "long",
    "int32": "long",
    "int64": "long",
    "uint8": "long",
    "uint16": "long",
    "uint32": "long",
    "uint64": "long",
    "float": "double",
    "double": "double",
    "string": "string",
    "large_string": "string",
    "bool": "boolean",
    "binary": "bytes",
    "large_binary": "bytes",
}


def arrow_ipc_rows(payload: bytes) -> Iterator[tuple[int, str, str, str | None]]:
    """Walk one Arrow IPC buffer (file OR stream format): yields
    (rec_idx, field, type, canonical_value). ValueError on corruption
    or out-of-scope schemas."""
    import pyarrow as pa

    buf = pa.BufferReader(payload)
    try:
        if payload[:6] == b"ARROW1":
            reader = pa.ipc.open_file(buf)
            batches = [
                reader.get_batch(i) for i in range(reader.num_record_batches)
            ]
        else:
            sreader = pa.ipc.open_stream(buf)
            batches = list(sreader)
    except (pa.ArrowInvalid, pa.ArrowIOError, OSError) as e:
        raise ValueError(f"corrupt Arrow IPC buffer: {e}") from None
    rec_idx = 0
    for batch in batches:
        names = batch.schema.names
        kinds = []
        for f in batch.schema:
            t = _TYPE_NAMES.get(str(f.type))
            if t is None:
                raise ValueError(
                    f"Arrow column {f.name!r} type {f.type} out of scope "
                    "(flat primitive columns only)"
                )
            kinds.append(t)
        cols = [c.to_pylist() for c in batch.columns]
        for r in range(batch.num_rows):
            for name, kind, col in zip(names, kinds, cols):
                v = col[r]
                if v is None:
                    yield rec_idx, name, "null", None
                elif kind == "long":
                    yield rec_idx, name, "long", str(int(v))
                elif kind == "double":
                    yield rec_idx, name, "double", repr(float(v))
                elif kind == "boolean":
                    yield rec_idx, name, "boolean", (
                        "true" if v else "false"
                    )
                elif kind == "bytes":
                    yield rec_idx, name, "bytes", bytes(v).hex()
                else:
                    yield rec_idx, name, "string", str(v)
            rec_idx += 1


#: Child source for the sacrificial decoder: a length-framed
#: stdin/stdout loop around arrow_ipc_rows. Plain -c source (no pickle,
#: no temp files); the repo root rides in argv so the child imports the
#: same module tree the executor runs.
_CHILD_SRC = """\
import json, struct, sys
sys.path.insert(0, sys.argv[1])
from user_behavior_spark_pipeline_spark.operators.arrow_ipc import (
    arrow_ipc_rows,
)
inp, out = sys.stdin.buffer, sys.stdout.buffer
while True:
    hdr = inp.read(8)
    if len(hdr) < 8:
        break
    n = struct.unpack("<q", hdr)[0]
    data = inp.read(n)
    if len(data) < n:
        break
    try:
        resp = json.dumps({"rows": list(arrow_ipc_rows(data))})
    except (ValueError, NotImplementedError) as e:
        resp = json.dumps({"err": str(e)})
    blob = resp.encode()
    out.write(struct.pack("<q", len(blob)))
    out.write(blob)
    out.flush()
"""

#: What a contained worker death quarantines as — a FIXED string so
#: downstream gates (and closed-form oracles) can key on it without
#: depending on which C++ error aborted the child.
ABORT_QUARANTINE = "Arrow IPC decode aborted the sacrificial worker (contained)"
TIMEOUT_QUARANTINE = "Arrow IPC decode timed out in the sacrificial worker"


class SacrificialDecoder:
    """Parse Arrow IPC buffers in a short-lived child process so a C++
    abort (std::length_error from a bit-flipped flatbuffer — see module
    docstring) kills the CHILD, not the Spark python worker. One child
    serves many buffers (spawn cost amortizes); it is respawned after a
    death, so one poisoned buffer quarantines alone and its neighbors
    still decode."""

    def __init__(self, timeout_s: float = 30.0) -> None:
        self._proc = None
        self._timeout_s = timeout_s

    def _spawn(self) -> None:
        import os
        import subprocess
        import sys

        root = os.path.dirname(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        )
        self._proc = subprocess.Popen(
            [sys.executable, "-c", _CHILD_SRC, root],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            stderr=subprocess.DEVNULL,
        )

    def _kill(self) -> None:
        if self._proc is not None:
            try:
                self._proc.kill()
                self._proc.wait(timeout=5)
            except Exception:
                pass
            self._proc = None

    def _read_exact(self, n: int) -> bytes | None:
        """Read n bytes from the child with a deadline — an adversarial
        buffer that WEDGES the parser (rather than aborting it) must
        also quarantine, not hang the task."""
        import select
        import time

        out = b""
        deadline = time.monotonic() + self._timeout_s
        fd = self._proc.stdout.fileno()
        import os as _os

        while len(out) < n:
            left = deadline - time.monotonic()
            if left <= 0:
                return None
            ready, _, _ = select.select([fd], [], [], min(left, 1.0))
            if not ready:
                continue
            chunk = _os.read(fd, n - len(out))
            if not chunk:  # EOF: child died
                return None
            out += chunk
        return out

    def decode(
        self, payload: bytes
    ) -> tuple[list[tuple] | None, str | None]:
        """One buffer -> (rows, None) | (None, parse_error). Never
        raises; never lets a child death escape."""
        import json
        import struct

        if self._proc is None or self._proc.poll() is not None:
            self._spawn()
        try:
            self._proc.stdin.write(struct.pack("<q", len(payload)))
            self._proc.stdin.write(payload)
            self._proc.stdin.flush()
        except (BrokenPipeError, OSError):
            self._kill()
            return None, ABORT_QUARANTINE
        hdr = self._read_exact(8)
        if hdr is None:
            died = self._proc.poll() is not None
            self._kill()
            return None, (
                ABORT_QUARANTINE if died else TIMEOUT_QUARANTINE
            )
        body = self._read_exact(struct.unpack("<q", hdr)[0])
        if body is None:
            self._kill()
            return None, ABORT_QUARANTINE
        resp = json.loads(body)
        if "err" in resp:
            return None, resp["err"]
        return [tuple(r) for r in resp["rows"]], None

    def close(self) -> None:
        self._kill()


#: Worker-lifetime decoder singleton (guide §4.5: heavyweight init once,
#: amortized across tasks by spark.python.worker.reuse). The child costs
#: ~0.4 s to boot (interpreter + pyarrow import); per-TASK construction
#: re-paid that on every execution over the same worker. PID-guarded so a
#: forked worker never inherits a parent's pipe pair; respawn-on-death
#: containment is untouched (the singleton wraps the decoder, which still
#: kills/respawns its child per poisoned buffer). This module is shipped
#: importable to executors, which is what makes the module-level global
#: survive task boundaries. The child is closed (killed and reaped) when
#: the process that made it exits normally; a worker ended by
#: ``os._exit`` skips that, and its child exits on stdin EOF instead.
_WORKER_DECODER: "tuple[int, SacrificialDecoder] | None" = None


def _close_if_owner(pid: int, decoder: SacrificialDecoder) -> None:
    """atexit hook: close ``decoder`` only in the process that made it.
    A forked copy inherits the hook and the Popen handle, and must not
    kill its parent's child."""
    import os

    if os.getpid() == pid:
        decoder.close()


def _worker_decoder() -> SacrificialDecoder:
    global _WORKER_DECODER
    import atexit
    import os

    pid = os.getpid()
    if _WORKER_DECODER is None or _WORKER_DECODER[0] != pid:
        _WORKER_DECODER = (pid, SacrificialDecoder())
        atexit.register(_close_if_owner, *_WORKER_DECODER)
    return _WORKER_DECODER[1]


def arrow_ipc_records(
    media: DataFrame, decode_untrusted: bool = False
) -> DataFrame:
    """(media_id, payload) -> the generic long format; corrupt buffers
    quarantine as ONE parse_error row. ``decode_untrusted=True`` routes
    every parse through :class:`SacrificialDecoder` so even an Arrow
    C++ abort quarantines instead of killing the task — required when
    the buffers do not come from checksummed storage."""

    def _walk(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        decoder = _worker_decoder() if decode_untrusted else None
        try:
            for batch in batches:
                rows = []
                for media_id, payload in zip(
                    batch["media_id"], batch["payload"]
                ):
                    mid = int(media_id)
                    if decoder is not None:
                        got, err = decoder.decode(bytes(payload))
                        if err is not None:
                            rows.append((mid, None, None, None, None, err))
                        else:
                            rows.extend(
                                (mid, ri, fld, t, v, None)
                                for ri, fld, t, v in got
                            )
                        continue
                    try:
                        for ri, fld, t, v in arrow_ipc_rows(bytes(payload)):
                            rows.append((mid, ri, fld, t, v, None))
                    except ValueError as e:
                        rows.append((mid, None, None, None, None, str(e)))
                yield pd.DataFrame(
                    rows,
                    columns=[f.name for f in ARROW_RECORDS_SCHEMA.fields],
                )
        finally:
            pass  # worker-lifetime decoder: child stays warm across tasks

    return media.select("media_id", "payload").mapInPandas(
        _walk, ARROW_RECORDS_SCHEMA
    )


def synth_arrow_bytes(doc_id: int) -> bytes:
    """Deterministic IPC buffer mirroring avro.synth_avro_bytes's value
    laws (same closed form, different container): doc_id%3+1 records of
    (id long, kind string, score double, flag bool, note nullable
    string), written in TWO record batches when more than one record;
    even docs STREAM format, odd docs FILE format (Feather v2)."""
    import pyarrow as pa

    n = doc_id % 3 + 1
    ids = [doc_id * 10 + i for i in range(n)]
    kinds = [f"k{i % 2}" for i in range(n)]
    scores = [(doc_id * 2 + i) * 0.5 for i in range(n)]
    flags = [i % 2 == 0 for i in range(n)]
    notes = [None if i % 3 == 0 else f"n{i}" for i in range(n)]
    table = pa.table(
        {
            "id": pa.array(ids, pa.int64()),
            "kind": pa.array(kinds, pa.string()),
            "score": pa.array(scores, pa.float64()),
            "flag": pa.array(flags, pa.bool_()),
            "note": pa.array(notes, pa.string()),
        }
    )
    batches = table.to_batches(max_chunksize=max(1, n - 1) if n > 1 else 1)
    sink = pa.BufferOutputStream()
    if doc_id % 2 == 0:
        writer = pa.ipc.new_stream(sink, table.schema)
    else:
        writer = pa.ipc.new_file(sink, table.schema)
    for b in batches:
        writer.write_batch(b)
    writer.close()
    return sink.getvalue().to_pybytes()


def synth_arrow_media(documents: DataFrame) -> DataFrame:
    """(media_id, payload) of deterministic Arrow IPC buffers."""
    return documents.select(
        F.col("doc_id").alias("media_id"),
        synth_bytes(synth_arrow_bytes, "doc_id").alias("payload"),
    )
