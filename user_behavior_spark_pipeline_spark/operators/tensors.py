"""NPY / NPZ tensor-file ingestion — the format embeddings, logits and
tokenized shards are actually exchanged in around a training pipeline.

Scope: NPY format versions 1.0/2.0/3.0 (the header-length field widths
differ; the dict grammar is shared), numeric dtypes in both byte orders
(f4/f8, i1/i2/i4/i8, u1/u2/u4/u8, b1), C and Fortran element order,
arbitrary dimensionality. NPZ is a ZIP of .npy members and reuses the
central-directory walker from operators/webdataset.py (stored and
deflate members, CRC-verified). Object/structured dtypes reject loudly
(ValueError -> quarantine): they would need pickle, which is both a
security hole and not columnar data.

The decoder parses the header with ast.literal_eval (a dict literal per
the public NPY spec, numpy/lib/format.py) and materializes values via
numpy.frombuffer — no numpy.load, so the test suite can cross-check
BOTH directions against numpy's own writer/reader as an independent
oracle (the same two-sided strategy zip_entries uses with zipfile).

The 100 TB shape: one mapInPandas pass over (media_id, payload) rows,
linear in tensor bytes, embarrassingly parallel; a corrupt file becomes
ONE parse_error row (the walker-quarantine contract of warc.py /
demux.py / pdf.py), never a dead task.

Reference parity note: the reference pipeline has no tensor-file path
(SURVEY.md §2.1); this is training-data extension surface (§2.5).
"""

from __future__ import annotations

import ast
import struct
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

_NPY_MAGIC = b"\x93NUMPY"

_SUPPORTED_KINDS = set("fiub")


def npy_decode(payload: bytes) -> dict:
    """Parse one .npy file: returns {'descr', 'shape', 'values'} with
    values flattened in C order regardless of on-disk element order.
    Structural corruption and non-numeric dtypes raise ValueError."""
    import numpy as np

    if payload[:6] != _NPY_MAGIC:
        raise ValueError("not an NPY payload (bad magic)")
    if len(payload) < 10:
        raise ValueError("NPY header truncated")
    major = payload[6]
    if major == 1:
        (hlen,) = struct.unpack_from("<H", payload, 8)
        hstart = 10
    elif major in (2, 3):
        if len(payload) < 12:
            raise ValueError("NPY header truncated")
        (hlen,) = struct.unpack_from("<I", payload, 8)
        hstart = 12
    else:
        raise ValueError(f"unsupported NPY format version {major}")
    hend = hstart + hlen
    if hend > len(payload):
        raise ValueError("NPY header overruns payload")
    try:
        header = ast.literal_eval(
            payload[hstart:hend].decode("latin-1").strip()
        )
    except (ValueError, SyntaxError) as e:
        raise ValueError(f"bad NPY header dict: {e}") from None
    if not isinstance(header, dict) or not {
        "descr",
        "fortran_order",
        "shape",
    } <= set(header):
        raise ValueError("NPY header missing required keys")
    descr = header["descr"]
    shape = header["shape"]
    if not isinstance(descr, str):
        raise ValueError("structured NPY dtypes are out of scope")
    if not isinstance(shape, tuple) or not all(
        isinstance(d, int) and d >= 0 for d in shape
    ):
        raise ValueError("bad NPY shape tuple")
    kind = descr.lstrip("<>|=")[:1]
    if kind not in _SUPPORTED_KINDS:
        raise ValueError(
            f"NPY dtype {descr!r} is out of scope (numeric kinds only — "
            "object/str dtypes would need pickle)"
        )
    try:
        dt = np.dtype(descr)
    except TypeError as e:
        raise ValueError(f"bad NPY descr {descr!r}: {e}") from None
    n = 1
    for d in shape:
        n *= d
    need = n * dt.itemsize
    data = payload[hend : hend + need]
    if len(data) != need:
        raise ValueError(
            f"NPY data truncated: shape {shape} needs {need} bytes, "
            f"got {len(data)}"
        )
    arr = np.frombuffer(data, dtype=dt)
    order = "F" if header["fortran_order"] else "C"
    arr = arr.reshape(shape, order=order)
    return {
        "descr": descr,
        "shape": list(shape),
        "values": np.ascontiguousarray(arr).ravel(),
    }


def npy_encode(
    values, shape: tuple[int, ...], descr: str, fortran_order: bool = False
) -> bytes:
    """Write-side twin of ``npy_decode`` for fixtures (format v1.0,
    spec-conformant 64-byte-aligned header)."""
    import numpy as np

    arr = np.asarray(values, dtype=np.dtype(descr)).reshape(shape)
    if fortran_order:
        arr = np.asfortranarray(arr)
    header = {
        "descr": descr,
        "fortran_order": fortran_order,
        "shape": tuple(shape),
    }
    htxt = (
        "{'descr': %r, 'fortran_order': %r, 'shape': %r, }"
        % (header["descr"], header["fortran_order"], header["shape"])
    ).encode("latin-1")
    pad = -(6 + 2 + 2 + len(htxt) + 1) % 64
    htxt += b" " * pad + b"\n"
    out = _NPY_MAGIC + bytes([1, 0]) + struct.pack("<H", len(htxt)) + htxt
    return out + arr.tobytes(order="F" if fortran_order else "C")


NPY_VALUES_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("member", StringType(), True),
        StructField("descr", StringType(), True),
        StructField("n_dims", IntegerType(), True),
        StructField("n_values", LongType(), True),
        StructField("value_idx", LongType(), True),
        StructField("value", StringType(), True),
        StructField("parse_error", StringType(), True),
    ]
)


def _iter_npy_members(payload: bytes) -> Iterator[tuple[str, bytes]]:
    """A bare .npy yields one anonymous member; a .npz (ZIP container)
    yields every member through the CRC-verified central-directory
    walker."""
    if payload[:6] == _NPY_MAGIC:
        yield "", payload
        return
    if payload[:2] == b"PK":
        from .webdataset import zip_members

        for name, data in zip_members(payload):
            yield name, data
        return
    raise ValueError("payload is neither NPY nor NPZ (bad magic)")


def npy_values(media: DataFrame) -> DataFrame:
    """(media_id, payload) -> one row per TENSOR ELEMENT in C order:
    (media_id, member, descr, n_dims, n_values, value_idx, value) —
    value rendered as a canonical string (repr for floats, decimal for
    ints, 'true'/'false' for bools) so the driver hash is exact and
    byte-order differences cannot alias. Corrupt payloads quarantine
    as ONE parse_error row for the whole file."""

    def _walk(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for batch in batches:
            rows = []
            for media_id, payload in zip(batch["media_id"], batch["payload"]):
                mid = int(media_id)
                try:
                    for name, data in _iter_npy_members(bytes(payload)):
                        d = npy_decode(data)
                        vals = d["values"]
                        kind = d["descr"].lstrip("<>|=")[:1]
                        for i, v in enumerate(vals.tolist()):
                            if kind == "f":
                                sv = repr(float(v))
                            elif kind == "b":
                                sv = "true" if v else "false"
                            else:
                                sv = str(int(v))
                            rows.append(
                                (
                                    mid,
                                    name,
                                    d["descr"],
                                    len(d["shape"]),
                                    len(vals),
                                    i,
                                    sv,
                                    None,
                                )
                            )
                except ValueError as e:
                    rows.append(
                        (mid, None, None, None, None, None, None, str(e))
                    )
            yield pd.DataFrame(
                rows, columns=[f.name for f in NPY_VALUES_SCHEMA.fields]
            )

    return media.select("media_id", "payload").mapInPandas(
        _walk, NPY_VALUES_SCHEMA
    )


def synth_npz_bytes(doc_id: int) -> bytes:
    """Deterministic .npz fixture for the closed-form oracle: member
    'emb.npy' is an f4 vector of length doc_id%5+3 with v[j] =
    (doc_id*7 + j) % 100 (exactly representable in f4), member
    'ids.npy' is an i8 2x2 matrix [[d, d+1], [d+2, d+3]]. Even doc_ids
    write little-endian C-order stored-ZIP; odd write BIG-endian
    Fortran-order deflate-ZIP — the values must come out identical."""
    import zlib

    le = doc_id % 2 == 0
    n = doc_id % 5 + 3
    emb = npy_encode(
        [float((doc_id * 7 + j) % 100) for j in range(n)],
        (n,),
        "<f4" if le else ">f4",
    )
    ids = npy_encode(
        [doc_id, doc_id + 1, doc_id + 2, doc_id + 3],
        (2, 2),
        "<i8" if le else ">i8",
        fortran_order=not le,
    )
    # minimal ZIP writer (local headers + central directory), stored
    # for even docs / deflate for odd — mirrors webdataset.synth_zip
    out = bytearray()
    central = bytearray()
    for name, data in (("emb.npy", emb), ("ids.npy", ids)):
        crc = zlib.crc32(data) & 0xFFFFFFFF
        if le:
            method, blob = 0, data
        else:
            c = zlib.compressobj(9, zlib.DEFLATED, -15)
            blob = c.compress(data) + c.flush()
            method = 8
        nameb = name.encode()
        lho = len(out)
        out += struct.pack(
            "<IHHHHHIIIHH",
            0x04034B50,
            20,
            0,
            method,
            0,
            0,
            crc,
            len(blob),
            len(data),
            len(nameb),
            0,
        )
        out += nameb + blob
        central += struct.pack(
            "<IHHHHHHIIIHHHHHII",
            0x02014B50,
            20,
            20,
            0,
            method,
            0,
            0,
            crc,
            len(blob),
            len(data),
            len(nameb),
            0,
            0,
            0,
            0,
            0,
            lho,
        )
        central += nameb
    cd_at = len(out)
    out += central
    out += struct.pack(
        "<IHHHHIIH",
        0x06054B50,
        0,
        0,
        2,
        2,
        len(central),
        cd_at,
        0,
    )
    return bytes(out)


def synth_npz_media(documents: DataFrame) -> DataFrame:
    """(media_id, payload) of deterministic NPZ files, executor-side."""
    return documents.select(
        F.col("doc_id").alias("media_id"),
        synth_bytes(synth_npz_bytes, "doc_id").alias("payload"),
    )
