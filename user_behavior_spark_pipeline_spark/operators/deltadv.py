"""Delta Lake deletion vectors — the merge-on-read row-level-delete
read path of the Delta protocol (delta.io PROTOCOL.md §Deletion
Vectors, public spec; the Iceberg-side analog is
operators/iceberg.py::iceberg_live_rows).

An ``add`` action may carry a ``deletionVector`` descriptor
{storageType, pathOrInlineDv, offset, sizeInBytes, cardinality}: the
rows of that data file whose ORDINALS are set in the referenced roaring
bitmap (operators/roaring.py) are deleted. storageType 'i' inlines the
serialized RoaringBitmapArray as Z85 text in pathOrInlineDv;
storageType 'u' names a sidecar file (``deletion_vector_<uuid>.bin``,
the UUID Z85-encoded as pathOrInlineDv's last 20 chars after an
arbitrary prefix) whose blob at ``offset`` is framed
[size: 4B big-endian][bitmap bytes][CRC-32 of the bitmap: 4B
big-endian]. Replay semantics are unchanged: the LAST add of a path
wins, and that add's DV — not the union of historical DVs — is the
file's delete set (the fixture plants a superseded wider/narrower DV so
union-of-DVs breaks the hash, and a decoy blob in the sidecar file so
ignoring ``offset`` breaks it too).

The 100 TB shape: DV descriptors and bitmaps are metadata-scale (Delta
keeps them small by compaction — a huge DV is rewritten into the data
file by OPTIMIZE, not served forever); decoded positions broadcast into
one ANTI join against the data rows, which stream through the scan
once. Here the data rows are synthesized JVM-side from the add action's
``stats.numRecords`` (certified parquet reading is elsewhere —
operators/lake.py); a real deployment swaps the sequence() for the
parquet scan, the DV algebra is identical.

Quarantine contract: a DV that fails to decode (bad Z85, bad roaring
framing, CRC mismatch, cardinality disagreeing with the descriptor)
must neither kill the task NOR silently serve the file un-deleted —
the file surfaces with the documented sentinel (dv_card = -1,
n_live = -1, pos_sum = -1) so downstream counts the damage explicitly.
"""

from __future__ import annotations

import json
import struct
import uuid as _uuid
import zlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .roaring import (
    build_roaring_array,
    roaring_array_positions,
    z85_decode,
    z85_encode,
)

#: add/remove with the v2 reader fields: stats (JSON string) for row
#: counts, deletionVector per the protocol. Unknown actions -> nulls.
DV_ACTION_SCHEMA = (
    "add struct<path: string, size: bigint, dataChange: boolean, "
    "stats: string, deletionVector struct<storageType: string, "
    "pathOrInlineDv: string, offset: int, sizeInBytes: int, "
    "cardinality: bigint>>, "
    "remove struct<path: string, dataChange: boolean>"
)


def build_dv_file(blobs: list[bytes]) -> tuple[bytes, list[int]]:
    """Assemble a DV sidecar file: 1-byte format version, then each
    bitmap framed [size BE][bytes][CRC-32 BE]. Returns (file bytes,
    per-blob offsets) — offsets point at the size word, as the
    protocol's ``offset`` field does."""
    out = bytearray(b"\x01")
    offsets = []
    for b in blobs:
        offsets.append(len(out))
        out += struct.pack(">i", len(b)) + b + struct.pack(">I", zlib.crc32(b))
    return bytes(out), offsets


def dv_blob_at(data: bytes, offset: int, size: int) -> bytes:
    """Extract + verify one framed bitmap from a sidecar file.
    ValueError (the quarantine class) on any malformed shape."""
    if offset < 1 or offset + 8 > len(data):
        raise ValueError(f"dv offset {offset} outside file ({len(data)}B)")
    (n,) = struct.unpack_from(">i", data, offset)
    if n != size:
        raise ValueError(f"dv framed size {n} != descriptor sizeInBytes {size}")
    if offset + 4 + n + 4 > len(data):
        raise ValueError(f"dv blob {n}B at {offset} overruns file")
    blob = data[offset + 4 : offset + 4 + n]
    (crc,) = struct.unpack_from(">I", data, offset + 4 + n)
    if crc != zlib.crc32(blob):
        raise ValueError("dv blob CRC-32 mismatch")
    return blob


def dv_sidecar_name(path_or_inline: str) -> str:
    """'u'-storage name derivation per the protocol: the LAST 20 chars
    of pathOrInlineDv are the Z85-encoded UUID (anything before is a
    random path prefix); the sidecar is deletion_vector_<uuid>.bin."""
    if len(path_or_inline) < 20:
        raise ValueError("dv 'u' pathOrInlineDv shorter than a z85 uuid")
    u = _uuid.UUID(bytes=z85_decode(path_or_inline[-20:], 16))
    return f"deletion_vector_{u}.bin"


DV_POS_SCHEMA = StructType(
    [
        StructField("table_id", LongType(), False),
        StructField("path", StringType(), True),
        StructField("pos", LongType(), True),
        StructField("dv_error", StringType(), True),
    ]
)


def _dv_actions(logs: DataFrame) -> DataFrame:
    """Commit files -> one row per action with the DV descriptor and
    numRecords carried through (all JVM-side: split + two from_json)."""
    lines = logs.select(
        "table_id",
        "version",
        F.posexplode(
            F.filter(
                F.split(F.col("payload"), "\n"),
                lambda l: F.trim(l) != "",
            )
        ).alias("action_idx", "line"),
    )
    j = lines.withColumn("j", F.from_json("line", DV_ACTION_SCHEMA))
    return j.select(
        "table_id",
        "version",
        "action_idx",
        F.when(F.col("j.add.path").isNotNull(), F.lit("add"))
        .when(F.col("j.remove.path").isNotNull(), F.lit("remove"))
        .otherwise(F.lit("other"))
        .alias("action"),
        F.coalesce("j.add.path", "j.remove.path").alias("path"),
        F.from_json(F.col("j.add.stats"), "numRecords bigint")
        .getField("numRecords")
        .alias("num_records"),
        F.col("j.add.deletionVector.storageType").alias("dv_storage"),
        F.col("j.add.deletionVector.pathOrInlineDv").alias("dv_ref"),
        F.col("j.add.deletionVector.offset").alias("dv_offset"),
        F.col("j.add.deletionVector.sizeInBytes").alias("dv_size"),
        F.col("j.add.deletionVector.cardinality").alias("dv_card"),
    )


def delta_live_row_stats(
    logs: DataFrame, dv_files: DataFrame
) -> DataFrame:
    """Merge-on-read row accounting per live file: replay the log
    (last add per path wins, WITH its DV descriptor), decode that DV's
    roaring positions, and emit per file the surviving-row certificate
    (table_id, path, dv_card, n_live, pos_sum) where pos_sum is the
    sum of surviving row ordinals — a one-position error anywhere
    moves it. Files without a DV pass through arithmetically
    (n_live = numRecords). Files with NO surviving rows — numRecords
    = 0 (a legal empty file) or a DV that deletes everything — report
    n_live = 0 explicitly rather than vanishing from the certificate.
    DV decode failures emit the -1 sentinel triple (see module
    docstring).

    Plan: one max_by replay aggregation, one broadcast join to the
    sidecar registry, ONE Arrow pass for bitmap decode, then a
    JVM-side sequence() explode anti-joined against the broadcast
    positions. Delete sets are metadata-scale; rows scan once."""
    acts = _dv_actions(logs)
    last = (
        acts.filter(F.col("action").isin("add", "remove"))
        .groupBy("table_id", "path")
        .agg(
            F.max_by(
                F.struct(
                    "action",
                    "num_records",
                    "dv_storage",
                    "dv_ref",
                    "dv_offset",
                    "dv_size",
                    "dv_card",
                ),
                F.struct("version", "action_idx"),
            ).alias("last")
        )
    )
    live = last.filter(F.col("last.action") == "add").select(
        "table_id",
        "path",
        F.col("last.num_records").alias("num_records"),
        F.col("last.dv_storage").alias("dv_storage"),
        F.col("last.dv_ref").alias("dv_ref"),
        F.col("last.dv_offset").alias("dv_offset"),
        F.col("last.dv_size").alias("dv_size"),
        F.col("last.dv_card").alias("dv_card"),
    )
    # spread the replayed file set BEFORE materializing: AQE collapses
    # the small replay aggregate to one partition, which would serialize
    # the downstream Python bitmap decode AND the ordinal explode onto
    # a single task (a real deployment's parquet scan brings its own
    # parallelism; the stand-in must too)
    live = live.repartition(
        logs.sparkSession.sparkContext.defaultParallelism,
        "table_id",
        "path",
    ).localCheckpoint()
    with_dv = live.filter(F.col("dv_storage").isNotNull())

    # sidecar join: derive deletion_vector_<uuid>.bin names for 'u'
    # refs (Python — uuid stringification), broadcast the file registry
    @F.pandas_udf(StringType())
    def _sidecar(refs):
        import pandas as pd

        out = []
        for r in refs:
            if r is None:
                out.append(None)
                continue
            try:
                out.append(dv_sidecar_name(str(r)))
            except ValueError:
                out.append("<bad-uuid>")
        return pd.Series(out)

    keyed = with_dv.withColumn(
        "dv_file",
        F.when(F.col("dv_storage") == "u", _sidecar("dv_ref"))
        # 'p': pathOrInlineDv IS the sidecar path, no derivation (and
        # no Python) — the registry keys sidecars by that path
        .when(F.col("dv_storage") == "p", F.col("dv_ref"))
        .otherwise(F.lit(None).cast("string")),
    )
    reg = dv_files.select(
        F.col("table_id").alias("f_table_id"),
        F.col("file_name").alias("f_name"),
        F.col("payload").alias("dv_bytes"),
    )
    joined = keyed.join(
        F.broadcast(reg),
        (keyed["table_id"] == reg["f_table_id"])
        & (keyed["dv_file"] == reg["f_name"]),
        "left",
    ).select(
        keyed["table_id"],
        "path",
        "dv_storage",
        "dv_ref",
        "dv_offset",
        "dv_size",
        "dv_card",
        "dv_bytes",
    )

    def _decode(batches):
        import pandas as pd

        for batch in batches:
            rows = []
            for tid, path, st, ref, off, size, card, blob in zip(
                batch["table_id"],
                batch["path"],
                batch["dv_storage"],
                batch["dv_ref"],
                batch["dv_offset"],
                batch["dv_size"],
                batch["dv_card"],
                batch["dv_bytes"],
            ):
                t, p = int(tid), str(path)
                try:
                    if st == "i":
                        raw = z85_decode(str(ref), int(size))
                    elif st in ("u", "p"):
                        if blob is None:
                            raise ValueError(
                                f"dv sidecar missing for {ref!r}"
                            )
                        raw = dv_blob_at(
                            bytes(blob), int(off), int(size)
                        )
                    else:
                        raise ValueError(f"dv storageType {st!r} unknown")
                    pos = roaring_array_positions(raw)
                    if len(pos) != int(card):
                        raise ValueError(
                            f"dv cardinality {len(pos)} != descriptor {card}"
                        )
                    rows.extend((t, p, q, None) for q in pos)
                except ValueError as e:
                    rows.append((t, p, None, str(e)[:200]))
            yield pd.DataFrame(
                rows, columns=[f.name for f in DV_POS_SCHEMA.fields]
            )

    decoded = joined.mapInPandas(_decode, DV_POS_SCHEMA).localCheckpoint()
    bad = decoded.filter(F.col("dv_error").isNotNull()).select(
        "table_id", "path"
    )
    positions = decoded.filter(F.col("dv_error").isNull()).select(
        "table_id", "path", "pos"
    )

    # the data-scan stand-in: ordinals 0..numRecords-1 per live file.
    # The explode is GATED on num_records > 0 — an unguarded
    # sequence(0, -1) is a DESCENDING [0, -1] in Spark, which would
    # emit two phantom ordinals for a legal empty file (ADVICE r13).
    rows = live.select(
        "table_id",
        "path",
        F.explode(
            F.when(
                F.col("num_records") > 0,
                F.sequence(
                    F.lit(0).cast("long"), F.col("num_records") - 1
                ),
            )
        ).alias("pos"),
    )
    surviving = rows.join(
        F.broadcast(positions), ["table_id", "path", "pos"], "left_anti"
    )
    agg = surviving.groupBy("table_id", "path").agg(
        F.count("*").alias("n_live"),
        F.sum("pos").alias("pos_sum"),
    )
    # fold the aggregates back onto the LIVE file set: a file whose DV
    # deletes every row (and an empty file) has no surviving rows, so
    # the groupBy alone would silently drop it from the certificate —
    # the exact failure mode this operator exists to prevent (ADVICE
    # r13). The left join + coalesce reports them as n_live = 0.
    stats = (
        live.filter(F.col("num_records").isNotNull())
        .select(
            "table_id",
            "path",
            F.coalesce(F.col("dv_card"), F.lit(0))
            .cast("long")
            .alias("dv_card"),
        )
        .join(F.broadcast(agg), ["table_id", "path"], "left")
    )
    ok = stats.join(
        F.broadcast(bad), ["table_id", "path"], "left_anti"
    ).select(
        "table_id",
        "path",
        "dv_card",
        F.coalesce(F.col("n_live"), F.lit(0)).cast("long").alias("n_live"),
        F.coalesce(F.col("pos_sum"), F.lit(0)).cast("long").alias("pos_sum"),
    )
    sentinel = bad.select(
        "table_id",
        "path",
        F.lit(-1).cast("long").alias("dv_card"),
        F.lit(-1).cast("long").alias("n_live"),
        F.lit(-1).cast("long").alias("pos_sum"),
    )
    # a live add WITHOUT parseable stats.numRecords cannot be
    # row-accounted — surface it with the sentinel rather than letting
    # it vanish from the certificate (silent drops are the failure
    # mode this operator exists to prevent)
    no_stats = (
        live.filter(F.col("num_records").isNull())
        .select(
            "table_id",
            "path",
            F.lit(-1).cast("long").alias("dv_card"),
            F.lit(-1).cast("long").alias("n_live"),
            F.lit(-1).cast("long").alias("pos_sum"),
        )
        # a file can be BOTH stats-less and dv-broken: one sentinel row
        .join(F.broadcast(bad), ["table_id", "path"], "left_anti")
    )
    return ok.unionByName(sentinel).unionByName(no_stats)


# ---------------------------------------------------------------------------
# Deterministic fixture: supersession + sidecar-offset traps, all three
# roaring container types across the doc slice
# ---------------------------------------------------------------------------


def _dv_dims(doc_id: int) -> tuple[int, int, int, int]:
    """(n0, n1, n3, n5) row counts — mirrored by the oracle. doc%25==2
    inflates part-0 to 8200 rows so its evens-DV (cardinality 4100)
    forces a BITMAP container; everyone else's evens fit an ARRAY
    container, and part-1's contiguous range is a RUN container. n5 is
    part-5, whose DV deletes EVERY row (the all-deleted edge)."""
    n0 = 8200 if doc_id % 25 == 2 else 40 + doc_id % 7
    return n0, 30 + doc_id % 9, 12 + doc_id % 4, 6 + doc_id % 3


def _dv_uuid(doc_id: int) -> _uuid.UUID:
    return _uuid.UUID(bytes=bytes((doc_id * 13 + k * 41) % 256 for k in range(16)))


def _add(path: str, n: int, dv: dict | None = None) -> str:
    a = {
        "path": path,
        "size": n * 10,
        "dataChange": dv is None,
        "stats": json.dumps({"numRecords": n}),
    }
    if dv is not None:
        a["deletionVector"] = dv
    return json.dumps({"add": a})


def synth_delta_dv_log_rows(doc_id: int) -> list[tuple[int, str]]:
    """(version, payload) commit files for table ``doc_id``. History:
    v0 adds part-0/1/2; v1 removes part-2; v2 attaches an inline DV
    on part-0 deleting multiples of 3 (SUPERSEDED — union with v3's
    breaks the hash); v3 re-adds part-0 with the CURRENT inline DV
    (evens), part-1 with a sidecar 'u' DV (the run range
    [5, 5+n1//2)), part-3 with no DV, part-4 with numRecords = 0 (a
    legal empty file — must certify n_live = 0, not phantom rows),
    and part-5 with an inline DV deleting EVERY row (must certify
    n_live = 0, not vanish)."""
    n0, n1, n3, n5 = _dv_dims(doc_id)
    dv_a = build_roaring_array([i for i in range(n0) if i % 3 == 0])
    dv_a2 = build_roaring_array([i for i in range(n0) if i % 2 == 0])
    dv_b = build_roaring_array(list(range(5, 5 + n1 // 2)))
    dv_all5 = build_roaring_array(list(range(n5)))
    _file, offsets = build_dv_file(
        [build_roaring_array(list(range(n1))), dv_b]
    )
    v0 = "\n".join(
        [
            json.dumps({"metaData": {"id": f"tbl-{doc_id}"}}),
            _add("part-0", n0),
            _add("part-1", n1),
            _add("part-2", 10),
        ]
    )
    v1 = json.dumps({"remove": {"path": "part-2", "dataChange": True}})
    v2 = _add(
        "part-0",
        n0,
        {
            "storageType": "i",
            "pathOrInlineDv": z85_encode(dv_a),
            "sizeInBytes": len(dv_a),
            "cardinality": (n0 + 2) // 3,
        },
    )
    v3 = "\n".join(
        [
            _add(
                "part-0",
                n0,
                {
                    "storageType": "i",
                    "pathOrInlineDv": z85_encode(dv_a2),
                    "sizeInBytes": len(dv_a2),
                    "cardinality": (n0 + 1) // 2,
                },
            ),
            _add(
                "part-1",
                n1,
                # storage rotation: even tables reference the sidecar
                # the spec's 'u' way (prefix + z85 uuid -> derived
                # deletion_vector_<uuid>.bin), odd tables the 'p' way
                # (pathOrInlineDv IS the path) — same file, same
                # offset, one oracle
                {
                    "storageType": "u",
                    "pathOrInlineDv": "ab"
                    + z85_encode(_dv_uuid(doc_id).bytes),
                    "offset": offsets[1],
                    "sizeInBytes": len(dv_b),
                    "cardinality": n1 // 2,
                }
                if doc_id % 2 == 0
                else {
                    "storageType": "p",
                    "pathOrInlineDv": (
                        f"deletion_vector_{_dv_uuid(doc_id)}.bin"
                    ),
                    "offset": offsets[1],
                    "sizeInBytes": len(dv_b),
                    "cardinality": n1 // 2,
                },
            ),
            _add("part-3", n3),
            _add("part-4", 0),
            _add(
                "part-5",
                n5,
                {
                    "storageType": "i",
                    "pathOrInlineDv": z85_encode(dv_all5),
                    "sizeInBytes": len(dv_all5),
                    "cardinality": n5,
                },
            ),
        ]
    )
    return [(0, v0), (1, v1), (2, v2), (3, v3)]


def synth_delta_dv_logs(documents: DataFrame) -> DataFrame:
    """(table_id, version, payload) commit files, executor-side."""
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    elem = StructType(
        [
            StructField("version", IntegerType()),
            StructField("payload", StringType()),
        ]
    )

    def _build_fn(doc_id):
        import pandas as pd

        return pd.Series(
            [synth_delta_dv_log_rows(int(d)) for d in doc_id]
        )

    _build = pandas_udf(_build_fn, ArrayType(elem), PandasUDFType.SCALAR)
    return documents.select(
        F.col("doc_id").alias("table_id"),
        F.explode(_build("doc_id")).alias("c"),
    ).select(
        "table_id",
        F.col("c.version").alias("version"),
        F.col("c.payload").alias("payload"),
    )


def synth_delta_dv_files(documents: DataFrame) -> DataFrame:
    """(table_id, file_name, payload) sidecar DV files. Each table's
    single sidecar holds a DECOY bitmap first (every row of part-1 —
    reading the wrong offset empties the file) and the real run-range
    bitmap second."""
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    elem = StructType(
        [
            StructField("file_name", StringType()),
            StructField("payload", BinaryType()),
        ]
    )

    def _build_fn(doc_id):
        import pandas as pd

        out = []
        for d in doc_id:
            d = int(d)
            _n0, n1, _n3, _n5 = _dv_dims(d)
            dv_b = build_roaring_array(list(range(5, 5 + n1 // 2)))
            payload, _offs = build_dv_file(
                [build_roaring_array(list(range(n1))), dv_b]
            )
            out.append(
                [(f"deletion_vector_{_dv_uuid(d)}.bin", payload)]
            )
        return pd.Series(out)

    _build = pandas_udf(_build_fn, ArrayType(elem), PandasUDFType.SCALAR)
    return documents.select(
        F.col("doc_id").alias("table_id"),
        F.explode(_build("doc_id")).alias("c"),
    ).select(
        "table_id",
        F.col("c.file_name").alias("file_name"),
        F.col("c.payload").alias("payload"),
    )
