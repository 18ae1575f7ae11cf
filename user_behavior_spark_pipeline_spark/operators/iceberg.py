"""Iceberg-style manifest replay — the OTHER lakehouse metadata
topology (iceberg.apache.org/spec, public): where Delta reconstructs
state by REPLAYING a JSON action log (operators/deltalog.py), Iceberg
snapshots are self-contained — the table metadata JSON names a current
snapshot, the snapshot points at a MANIFEST LIST (an Avro file of
manifest-file entries), each manifest (Avro again) carries data-file
entries with a status (0=EXISTING carried forward, 1=ADDED by this
snapshot, 2=DELETED by it). Live files of a snapshot = every entry in
its reachable manifests with status != DELETED.

Composition, not new machinery: the Avro object-container walker
(operators/avro.py — nested ``data_file`` records flatten to dotted
field names) explodes both metadata levels to the generic long format,
the metadata JSON parses JVM-side with from_json, and the rest is
joins + one pivot aggregation over METADATA-scale rows. The 100 TB
judgment is the same as deltalog.py's: state reconstruction costs
O(manifest entries), never O(data) — manifests are KBs pointing at TBs
— and every join here is metadata-vs-metadata (broadcastable in a real
deployment).

Scope note: fixture manifests carry the spec's load-bearing fields
(status, snapshot_id, data_file{file_path, file_format, record_count,
file_size_in_bytes}); real manifests add field-id-based resolution,
partition structs and column stats — documented seam, the topology and
status semantics are what this operator certifies.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .avro import avro_container_records, build_avro_container, zigzag_encode

#: table metadata JSON — Iceberg's dashed key names, verbatim.
ICEBERG_META_SCHEMA = StructType(
    [
        StructField("current-snapshot-id", LongType()),
        StructField(
            "snapshots",
            ArrayType(
                StructType(
                    [
                        StructField("snapshot-id", LongType()),
                        StructField("manifest-list", StringType()),
                    ]
                )
            ),
        ),
    ]
)

ICE_LONG_SCHEMA = StructType(
    [
        StructField("table_id", LongType(), False),
        StructField("file_name", StringType(), True),
        StructField("rec_idx", LongType(), True),
        StructField("field", StringType(), True),
        StructField("value", StringType(), True),
        StructField("parse_error", StringType(), True),
    ]
)


def avro_rows_keyed(files: DataFrame) -> DataFrame:
    """(table_id, file_name, payload) Avro files -> the long format
    keyed by (table_id, file_name) — same walker, same quarantine
    contract as avro.avro_records, with the file name carried through
    so manifest-list entries can join to the manifests they name."""

    def _walk(batches):
        import pandas as pd

        for batch in batches:
            rows = []
            for tid, fname, payload in zip(
                batch["table_id"], batch["file_name"], batch["payload"]
            ):
                t = int(tid)
                try:
                    for ri, fld, _typ, v in avro_container_records(
                        bytes(payload)
                    ):
                        rows.append((t, str(fname), ri, fld, v, None))
                except ValueError as e:
                    rows.append((t, str(fname), None, None, None, str(e)))
            yield pd.DataFrame(
                rows, columns=[f.name for f in ICE_LONG_SCHEMA.fields]
            )

    return files.select("table_id", "file_name", "payload").mapInPandas(
        _walk, ICE_LONG_SCHEMA
    )


#: manifest-entry pivot fields (the live_files surface)
_ENTRY_FIELDS = (
    "status",
    "sequence_number",
    "data_file.content",
    "data_file.file_path",
    "data_file.record_count",
    "data_file.file_size_in_bytes",
)


def _resolve_reachable_entries(
    metadata: DataFrame, files: DataFrame, content_fields=()
) -> tuple[DataFrame, DataFrame]:
    """Shared snapshot resolution for the metadata (live_files) and
    merge-on-read (live_rows) paths: returns (fused, entries) where
    ``fused`` is THE one materialized pivot of every Avro file's rows
    over (manifest-list + manifest-entry + ``content_fields``) and
    ``entries`` is the lazily-derived wide manifest-entry table
    restricted to manifests the CURRENT snapshot reaches (columns
    table_id, file_name, rec_idx, status, seq, content, file_path,
    record_count, file_size). ``content`` follows the v2 spec (0 data /
    1 position deletes / 2 equality deletes) and coalesces to '0' for
    v1 manifests that don't carry the field.

    Round 16 (guide §1.2): the resolution used to run THREE blocking
    materializations — the Avro-walk long table, then separate
    list/entry(/content) pivots over its checkpoint, each a driver
    dispatch. All pivots group on the same (table_id, file_name,
    rec_idx) key, so ONE fused aggregation carries every consumer's
    columns: the walk is a lazy localCheckpoint (single consumer — this
    pivot) and the fused pivot is the only eager job. Per-consumer
    group sets are preserved exactly — manifest-list groups and
    content-row groups entering the entry slice are dropped by the
    reachable join (a data/list file name can never equal a manifest
    path in a consistent table), and the ``_has_*`` flags restore the
    content consumers' field-presence semantics (a value-null field
    still counts).

    Sequence numbers follow the spec's §Sequence Number Inheritance
    (r14 — VERDICT r13 #1): an entry with a NULL sequence_number and
    status ADDED (1) inherits the manifest's own sequence number from
    its manifest-list entry — the NORMAL case real writers emit for
    entries added in the manifest's own snapshot. Explicit entry
    sequence numbers always win (EXISTING/DELETED entries must carry
    them per spec); v1 manifests (no sequence numbers anywhere)
    coalesce to 0, preserving their semantics. Residual (documented):
    a spec-INVALID v2 entry — null seq with non-ADDED status — also
    falls to 0, the conservative every-delete-applies reading; real
    writers cannot emit that shape."""
    meta = metadata.select(
        "table_id",
        F.from_json("payload", ICEBERG_META_SCHEMA).alias("j"),
    )
    current = (
        meta.select(
            "table_id",
            F.col("j.`current-snapshot-id`").alias("cur"),
            F.explode("j.snapshots").alias("s"),
        )
        .filter(F.col("s.`snapshot-id`") == F.col("cur"))
        .select(
            "table_id", F.col("s.`manifest-list`").alias("list_name")
        )
    )
    # the Avro walk feeds exactly ONE consumer (the fused pivot), so it
    # is marked lazy and computed inside the pivot's materialize job
    longs = (
        avro_rows_keyed(files)
        .filter(F.col("parse_error").isNull())
        .localCheckpoint(eager=False)
    )

    def mx(field: str, alias: str):
        return F.max(
            F.when(F.col("field") == field, F.col("value"))
        ).alias(alias)

    extra = list(content_fields)
    all_fields = ("manifest_path",) + _ENTRY_FIELDS + tuple(extra)
    aggs = [
        mx("manifest_path", "manifest"),
        # shared by list rows (the per-manifest seq ADDED entries
        # inherit) and entry rows (the explicit v2 entry seq): one
        # column, read per consumer
        mx("sequence_number", "seqno"),
        mx("status", "status"),
        mx("data_file.content", "content_raw"),
        # 'entry_' prefix: the content rows' own file_path field (a
        # position delete's target) is a DIFFERENT column below
        mx("data_file.file_path", "entry_file_path"),
        mx("data_file.record_count", "record_count"),
        mx("data_file.file_size_in_bytes", "file_size"),
    ]
    if extra:
        aggs += [mx(f, f) for f in extra]
        aggs += [
            F.max(F.col("field").isin("id", "v")).alias("_has_data"),
            F.max(F.col("field").isin("file_path", "pos")).alias(
                "_has_pos"
            ),
            F.max(F.col("field") == "id").alias("_has_id"),
        ]
    fused = (
        longs.filter(F.col("field").isin(*all_fields))
        .groupBy("table_id", "file_name", "rec_idx")
        .agg(*aggs)
        .localCheckpoint()
    )
    # manifest-list rows: which manifests the current snapshot reaches
    # (rows from entry/content files fall out via manifest IS NULL +
    # the join to current). Every column re-aliased: both sides of the
    # entries join below descend from the SAME fused checkpoint, so
    # un-renamed attributes would be ambiguous.
    list_rows = fused.filter(F.col("manifest").isNotNull()).select(
        F.col("table_id").alias("l_table_id"),
        F.col("file_name").alias("l_file_name"),
        F.col("manifest").alias("r_manifest"),
        F.col("seqno").alias("list_seq"),
    )
    reachable = list_rows.join(
        # one row per table: always broadcast — the manifest-list
        # long rows never shuffle for this join
        F.broadcast(current),
        (list_rows["l_file_name"] == current["list_name"])
        & (list_rows["l_table_id"] == current["table_id"]),
    ).select("l_table_id", "r_manifest", "list_seq")
    entries = (
        fused.join(
            # a few manifests per table: broadcast, so the (bigger)
            # fused table is filtered map-side instead of shuffling
            F.broadcast(reachable),
            (fused["file_name"] == reachable["r_manifest"])
            & (fused["table_id"] == reachable["l_table_id"]),
        )
        .select(
            fused["table_id"].alias("table_id"),
            "file_name",
            "rec_idx",
            "status",
            # §Sequence Number Inheritance: explicit wins; null+ADDED
            # inherits the manifest-list entry's sequence number; v1
            # (both null) keeps the legacy 0
            F.coalesce(
                fused["seqno"],
                F.when(fused["status"] == "1", reachable["list_seq"]),
                F.lit("0"),
            ).cast("long").alias("seq"),
            F.coalesce(fused["content_raw"], F.lit("0")).alias("content"),
            F.col("entry_file_path").alias("file_path"),
            "record_count",
            "file_size",
        )
    )
    return fused, entries


def iceberg_live_files(
    metadata: DataFrame, files: DataFrame
) -> DataFrame:
    """Resolve each table's CURRENT snapshot through the two Avro
    levels: metadata JSON -> current snapshot's manifest list ->
    manifests -> data-file entries with status != 2 (DELETED). Emits
    (table_id, file_path, record_count, file_size_in_bytes).

    Plan shape: one from_json + explode for snapshot selection, one
    pivot aggregation per manifest entry (groupBy (table, file, rec) —
    partial-aggregable, keys unique by construction), two
    metadata-scale joins. Nothing here ever touches a data file.
    v2 delete-file entries (content != 0) are excluded — they remove
    ROWS, not files; the merge-on-read read path is
    :func:`iceberg_live_rows`."""
    _fused, entries = _resolve_reachable_entries(metadata, files)
    return (
        entries.filter(
            (F.col("status") != "2") & (F.col("content") == "0")
        )
        .select(
            "table_id",
            "file_path",
            F.col("record_count").cast("long").alias("record_count"),
            F.col("file_size").cast("long").alias("file_size_in_bytes"),
        )
    )


def iceberg_live_rows(
    metadata: DataFrame, files: DataFrame
) -> DataFrame:
    """The v2 MERGE-ON-READ read path (spec: format version 2, row-level
    deletes): surviving rows of the current snapshot = rows of
    reachable live DATA files (status != 2, content 0), minus rows
    named by reachable POSITION delete files (content 1 — rows of
    (file_path, pos), pos = the row ordinal the walker already assigns
    as rec_idx), minus rows whose key matches a reachable EQUALITY
    delete file's values (content 2 — rows of id values). A delete
    file that is itself DELETED (status 2) must NOT apply — the
    fixture plants exactly that trap. Emits (table_id, file_path, id,
    v).

    Scale shape: data rows stream through the scan once; the delete
    sets are metadata-scale and broadcast into two ANTI joins — at
    100 TB this is Iceberg's own intended read topology (delete files
    are kept small by compaction; a giant delete set would first be
    compacted away by table maintenance, not streamed into a shuffle
    here). The fixture's data files are Avro so the certified
    container walker supplies the row contents; a parquet data file
    changes the scan, not the delete algebra."""
    # ONE materialized pivot (see _resolve_reachable_entries, round 16)
    # carries the manifest-list, manifest-entry AND content-row columns;
    # everything below is filters + broadcast joins over its checkpoint.
    # The three file lists and three content slices each re-derive from
    # the checkpoint per plan branch — metadata-scale scans, vs the old
    # shape's two extra blocking materializations (live, content).
    fused, entries = _resolve_reachable_entries(
        metadata, files, content_fields=("id", "v", "file_path", "pos")
    )
    live = entries.filter(F.col("status") != "2")
    # every column here is freshly ALIASED: the live and content
    # checkpoints both inherit their groupBy-key exprIds from the same
    # longs lineage, so an un-renamed table_id/file_path on this side
    # is attribute-identical to the content pivot's and the joins below
    # fail ambiguous-self-join analysis
    data_files = live.filter(F.col("content") == "0").select(
        F.col("table_id").alias("d_table_id"),
        F.col("file_path").alias("d_file_path"),
        F.col("seq").alias("seq_d"),
    )
    pos_files = live.filter(F.col("content") == "1").select(
        F.col("table_id").alias("p_table_id"),
        F.col("file_path").alias("del_file"),
        F.col("seq").alias("seq_del"),
    )
    eq_files = live.filter(F.col("content") == "2").select(
        F.col("table_id").alias("e_table_id"),
        F.col("file_path").alias("eq_del_file"),
        F.col("seq").alias("eq_seq_del"),
    )

    # the content slices read the SAME fused checkpoint via the
    # ``_has_*`` field-presence flags (a group belongs to a consumer iff
    # some row carries one of ITS fields — a value-null field still
    # counts, so a null-max test could not replicate this)
    content = fused

    # data rows: (table_id, file, ordinal, id, v) restricted to live
    # data files — the file set is metadata-scale, broadcast
    data = content.filter(F.col("_has_data"))
    rows = data.join(
        F.broadcast(data_files),
        (data["file_name"] == data_files["d_file_path"])
        & (data["table_id"] == data_files["d_table_id"]),
    ).select(
        data["table_id"].alias("table_id"),
        F.col("d_file_path").alias("file_path"),
        "seq_d",
        F.col("rec_idx").alias("pos"),
        "id",
        "v",
    )
    # position deletes: content rows of reachable content=1 files
    pos_rows_all = content.filter(F.col("_has_pos"))
    pos_del = pos_rows_all.join(
        F.broadcast(pos_files),
        (pos_rows_all["file_name"] == pos_files["del_file"])
        & (pos_rows_all["table_id"] == pos_files["p_table_id"]),
    ).select(
        pos_rows_all["table_id"].alias("table_id"),
        pos_rows_all["file_path"].alias("target_file"),
        F.col("pos").cast("long").alias("del_pos"),
        "seq_del",
    )
    # equality deletes: id values of reachable content=2 files
    eq_rows_all = content.filter(F.col("_has_id"))
    eq_del = eq_rows_all.join(
        F.broadcast(eq_files),
        (eq_rows_all["file_name"] == eq_files["eq_del_file"])
        & (eq_rows_all["table_id"] == eq_files["e_table_id"]),
    ).select(
        eq_rows_all["table_id"].alias("table_id"),
        F.col("id").alias("del_id"),
        F.col("eq_seq_del").alias("seq_del"),
    )
    # sequence scoping (spec §Scan Planning): a position delete applies
    # to data files with seq <= its own; an equality delete only to
    # STRICTLY older data files — rows added in the same commit as the
    # equality delete must survive (the d-{doc}-2 trap)
    surviving = rows.join(
        F.broadcast(pos_del),
        (rows["table_id"] == pos_del["table_id"])
        & (rows["file_path"] == pos_del["target_file"])
        & (rows["pos"] == pos_del["del_pos"])
        & (pos_del["seq_del"] >= rows["seq_d"]),
        "left_anti",
    )
    surviving = surviving.join(
        F.broadcast(eq_del),
        (surviving["table_id"] == eq_del["table_id"])
        & (surviving["id"] == eq_del["del_id"])
        & (eq_del["seq_del"] > surviving["seq_d"]),
        "left_anti",
    )
    return surviving.select(
        "table_id",
        "file_path",
        F.col("id").cast("long").alias("id"),
        "v",
    )


# ---------------------------------------------------------------------------
# Deterministic fixture: V = doc%3+1 snapshots of adds + rewrites
# ---------------------------------------------------------------------------

_ENTRY_SCHEMA = json.dumps(
    {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int"},
            {"name": "snapshot_id", "type": "long"},
            {
                "name": "data_file",
                "type": {
                    "type": "record",
                    "name": "data_file",
                    "fields": [
                        {"name": "file_path", "type": "string"},
                        {"name": "file_format", "type": "string"},
                        {"name": "record_count", "type": "long"},
                        {"name": "file_size_in_bytes", "type": "long"},
                    ],
                },
            },
        ],
    }
).encode()

_LIST_SCHEMA = json.dumps(
    {
        "type": "record",
        "name": "manifest_file",
        "fields": [
            {"name": "manifest_path", "type": "string"},
            {"name": "added_snapshot_id", "type": "long"},
        ],
    }
).encode()

#: v2 manifest list: gains the per-manifest ``sequence_number`` that
#: null-seq ADDED entries inherit (spec §Sequence Number Inheritance)
_LIST2_SCHEMA = json.dumps(
    {
        "type": "record",
        "name": "manifest_file",
        "fields": [
            {"name": "manifest_path", "type": "string"},
            {"name": "added_snapshot_id", "type": "long"},
            {"name": "sequence_number", "type": "long"},
        ],
    }
).encode()


def _enc_str(s: str) -> bytes:
    b = s.encode()
    return zigzag_encode(len(b)) + b


def _entry_body(
    status: int, snap: int, path: str, nrec: int, size: int
) -> bytes:
    # nested records concatenate — no tags in Avro binary
    return (
        zigzag_encode(status)
        + zigzag_encode(snap)
        + _enc_str(path)
        + _enc_str("PARQUET")
        + zigzag_encode(nrec)
        + zigzag_encode(size)
    )


def _file_numbers(doc_id: int, j: int, sub: int) -> tuple[int, int]:
    """Closed-form (record_count, file_size) for data file part-j-sub —
    mirrored verbatim by the oracle SQL."""
    return (
        doc_id + j * 3 + sub + 5,
        (doc_id % 97 + j * 2 + sub) * 16 + 64,
    )


def synth_iceberg_rows(
    doc_id: int, with_files: bool = True
) -> tuple[str, list[tuple[str, bytes]]]:
    """One table's full metadata tree: (metadata_json, [(file_name,
    avro_bytes), ...]). Snapshot k (0..V, V = doc_id%3+1) ADDs
    part-k-0 and part-k-1 and (k>0) DELETEs part-(k-1)-1 — a rewrite —
    while carrying part-j-0 (j<k) forward as EXISTING in a second
    manifest. current-snapshot-id = doc_id*100 + V, so reading any
    other snapshot (or ignoring DELETED status) breaks the hash. Live
    closed form: part-j-0 for j in 0..V plus part-V-1. Manifest codec
    rotates doc_id%4 through null/deflate/zstandard/snappy — the
    Iceberg path re-certifies every container codec.

    ``with_files=False`` skips the Avro byte assembly (the metadata
    JSON needs only names) — the metadata builder would otherwise pay
    the full container-build cost per doc just to discard it."""
    V = doc_id % 3 + 1
    codec = ("null", "deflate", "zstandard", "snappy")[doc_id % 4]
    sync = bytes((doc_id * 11 + k * 17) % 256 for k in range(16))
    files: list[tuple[str, bytes]] = []
    snapshots = []
    for k in range(V + 1):
        snap_id = doc_id * 100 + k
        new_name = f"m-{doc_id}-{k}-new.avro"
        recs = []
        for sub in (0, 1):
            nrec, size = _file_numbers(doc_id, k, sub)
            recs.append(
                _entry_body(1, snap_id, f"part-{k}-{sub}", nrec, size)
            )
        if with_files:
            files.append(
                (
                    new_name,
                    build_avro_container(_ENTRY_SCHEMA, recs, sync, codec),
                )
            )
        names = [new_name]
        if k > 0:
            carry_name = f"m-{doc_id}-{k}-carry.avro"
            recs = []
            for j in range(k):
                nrec, size = _file_numbers(doc_id, j, 0)
                recs.append(
                    _entry_body(0, snap_id, f"part-{j}-0", nrec, size)
                )
            nrec, size = _file_numbers(doc_id, k - 1, 1)
            recs.append(
                _entry_body(2, snap_id, f"part-{k - 1}-1", nrec, size)
            )
            if with_files:
                files.append(
                    (
                        carry_name,
                        build_avro_container(
                            _ENTRY_SCHEMA, recs, sync, codec
                        ),
                    )
                )
            names.append(carry_name)
        list_name = f"ml-{doc_id}-{k}.avro"
        if with_files:
            files.append(
                (
                    list_name,
                    build_avro_container(
                        _LIST_SCHEMA,
                        [
                            _enc_str(nm) + zigzag_encode(snap_id)
                            for nm in names
                        ],
                        sync,
                        codec,
                    ),
                )
            )
        snapshots.append(
            {"snapshot-id": snap_id, "manifest-list": list_name}
        )
    meta = json.dumps(
        {
            "format-version": 2,
            "current-snapshot-id": doc_id * 100 + V,
            "snapshots": snapshots,
        }
    )
    return meta, files


def synth_iceberg_metadata(documents: DataFrame) -> DataFrame:
    """(table_id, payload JSON string) per document-table."""
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    def _build_fn(doc_id):
        import pandas as pd

        return pd.Series(
            [
                synth_iceberg_rows(int(d), with_files=False)[0]
                for d in doc_id
            ]
        )

    _build = pandas_udf(_build_fn, StringType(), PandasUDFType.SCALAR)
    return documents.select(
        F.col("doc_id").alias("table_id"),
        _build("doc_id").alias("payload"),
    )


def synth_iceberg_manifests(documents: DataFrame) -> DataFrame:
    """(table_id, file_name, payload) — every manifest list and
    manifest of every table, built executor-side."""
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    elem = StructType(
        [
            StructField("file_name", StringType()),
            StructField("payload", BinaryType()),
        ]
    )

    def _build_fn(doc_id):
        import pandas as pd

        return pd.Series(
            [synth_iceberg_rows(int(d))[1] for d in doc_id]
        )

    _build = pandas_udf(_build_fn, ArrayType(elem), PandasUDFType.SCALAR)
    return documents.select(
        F.col("doc_id").alias("table_id"),
        F.explode(_build("doc_id")).alias("c"),
    ).select(
        "table_id",
        F.col("c.file_name").alias("file_name"),
        F.col("c.payload").alias("payload"),
    )


# ---------------------------------------------------------------------------
# v2 merge-on-read fixture: row-level deletes + a planted stale-delete
# trap (format version 2, spec §Row-level deletes)
# ---------------------------------------------------------------------------

#: v2 manifest entry: data_file gains ``content`` (0 data / 1 position
#: deletes / 2 equality deletes) — the field the read path dispatches on.
_ENTRY2_SCHEMA = json.dumps(
    {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int"},
            {"name": "snapshot_id", "type": "long"},
            # nullable per spec: null = inherit from the manifest list
            {"name": "sequence_number", "type": ["null", "long"]},
            {
                "name": "data_file",
                "type": {
                    "type": "record",
                    "name": "data_file",
                    "fields": [
                        {"name": "content", "type": "int"},
                        {"name": "file_path", "type": "string"},
                        {"name": "file_format", "type": "string"},
                        {"name": "record_count", "type": "long"},
                        {"name": "file_size_in_bytes", "type": "long"},
                    ],
                },
            },
        ],
    }
).encode()

_DATA_ROW_SCHEMA = json.dumps(
    {
        "type": "record",
        "name": "row",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "v", "type": "long"},
        ],
    }
).encode()

#: position delete file schema, spec-named fields (spec: file_path +
#: pos identify the deleted row by ordinal within its data file).
_POS_DELETE_SCHEMA = json.dumps(
    {
        "type": "record",
        "name": "pos_delete",
        "fields": [
            {"name": "file_path", "type": "string"},
            {"name": "pos", "type": "long"},
        ],
    }
).encode()

_EQ_DELETE_SCHEMA = json.dumps(
    {
        "type": "record",
        "name": "eq_delete",
        "fields": [{"name": "id", "type": "long"}],
    }
).encode()


def _entry2_body(
    status: int,
    snap: int,
    seq: int | None,
    content: int,
    path: str,
    nrec: int,
    size: int,
) -> bytes:
    """``seq`` None writes union branch 0 (null) — the
    inherit-from-manifest-list shape real writers emit for entries
    added in the manifest's own snapshot."""
    seq_enc = (
        zigzag_encode(0)
        if seq is None
        else zigzag_encode(1) + zigzag_encode(seq)
    )
    return (
        zigzag_encode(status)
        + zigzag_encode(snap)
        + seq_enc
        + zigzag_encode(content)
        + _enc_str(path)
        + _enc_str("AVRO")
        + zigzag_encode(nrec)
        + zigzag_encode(size)
    )


def _v2_row_value(doc_id: int, sub: int, i: int) -> tuple[int, int]:
    """Closed-form (id, v) for row i of data file d-{doc}-{sub} —
    mirrored verbatim by the x_iceberg_live_rows oracle SQL."""
    return doc_id * 1000 + sub * 100 + i, (doc_id + 7 * i + 13 * sub) % 23


def synth_iceberg_v2_rows(
    doc_id: int, with_files: bool = True, explicit_seq: bool = False
) -> tuple[str, list[tuple[str, bytes]]]:
    """One v2 table's full tree: data files WITH row contents plus both
    row-level delete kinds. N = doc%3+4 rows per data file (d-{doc}-0,
    d-{doc}-1). History:

    - snapshot 0 ADDs both data files AND a position-delete file
      ``pd-{doc}-stale`` that names EVERY row of d-{doc}-1;
    - snapshot 1 (CURRENT) carries the data files EXISTING (sequence
      number 1 preserved), marks the stale delete file DELETED (the
      trap: a removed delete file must stop applying — honouring it
      empties d-{doc}-1), and ADDs at sequence number 2: a THIRD data
      file ``d-{doc}-2`` (n2 = doc%2+3 rows), the real deletes
      ``pd-{doc}`` (positions i%3==0 of d-{doc}-0) and ``ed-{doc}``
      (equality ids: d-{doc}-1 rows with i%4==1, the id of d-{doc}-0
      row 0 — already position-deleted, so the delete algebra must be
      idempotent — AND the id of d-{doc}-2 row 1, which was added in
      the SAME commit: the spec scopes equality deletes to STRICTLY
      older sequence numbers, so that row must SURVIVE).

    Surviving closed form: d-{doc}-0 rows with i%3!=0, d-{doc}-1 rows
    with i%4!=1, and ALL of d-{doc}-2. Container codec rotates doc%4
    through null/deflate/zstandard/snappy like the v1 fixture.

    Sequence numbers follow what real writers emit (r14 — the r13
    'explicit everywhere' seam closed): ADDED entries carry NULL and
    INHERIT the manifest-list entry's sequence_number (m0 -> 1,
    m2-{doc}-1-new -> 2), EXISTING/DELETED entries keep their explicit
    original numbers per spec. Broken inheritance un-scopes the
    position deletes (pd's inherited seq 2 vs d-0/1's explicit 1), so
    the closed form breaks — inheritance is hash-load-bearing.
    ``explicit_seq=True`` writes the r13 all-explicit shape instead;
    the two MUST resolve identically (pinned in test_iceberg)."""
    n = doc_id % 3 + 4
    n2 = doc_id % 2 + 3
    codec = ("null", "deflate", "zstandard", "snappy")[doc_id % 4]
    sync = bytes((doc_id * 7 + k * 29) % 256 for k in range(16))
    files: list[tuple[str, bytes]] = []
    data_names = [f"d-{doc_id}-{sub}" for sub in (0, 1, 2)]
    pos_name, stale_name, eq_name = (
        f"pd-{doc_id}",
        f"pd-{doc_id}-stale",
        f"ed-{doc_id}",
    )
    if with_files:
        for sub, rows_n in ((0, n), (1, n), (2, n2)):
            recs = []
            for i in range(rows_n):
                rid, v = _v2_row_value(doc_id, sub, i)
                recs.append(zigzag_encode(rid) + zigzag_encode(v))
            files.append(
                (
                    data_names[sub],
                    build_avro_container(_DATA_ROW_SCHEMA, recs, sync, codec),
                )
            )
        files.append(
            (
                pos_name,
                build_avro_container(
                    _POS_DELETE_SCHEMA,
                    [
                        _enc_str(data_names[0]) + zigzag_encode(i)
                        for i in range(n)
                        if i % 3 == 0
                    ],
                    sync,
                    codec,
                ),
            )
        )
        files.append(
            (
                stale_name,
                build_avro_container(
                    _POS_DELETE_SCHEMA,
                    [
                        _enc_str(data_names[1]) + zigzag_encode(i)
                        for i in range(n)
                    ],
                    sync,
                    codec,
                ),
            )
        )
        eq_ids = (
            [_v2_row_value(doc_id, 1, i)[0] for i in range(n) if i % 4 == 1]
            + [_v2_row_value(doc_id, 0, 0)[0]]
            # same-sequence trap: named but must survive (strict >)
            + [_v2_row_value(doc_id, 2, 1)[0]]
        )
        files.append(
            (
                eq_name,
                build_avro_container(
                    _EQ_DELETE_SCHEMA,
                    [zigzag_encode(rid) for rid in eq_ids],
                    sync,
                    codec,
                ),
            )
        )
    snap0, snap1 = doc_id * 100, doc_id * 100 + 1
    m0 = f"m2-{doc_id}-0"
    m1_carry, m1_new = f"m2-{doc_id}-1-carry", f"m2-{doc_id}-1-new"
    if with_files:
        ent = _entry2_body
        # ADDED entries: null -> inherit from the manifest list (the
        # real-writer shape); explicit_seq=True pins equivalence
        s1 = 1 if explicit_seq else None
        s2 = 2 if explicit_seq else None
        files.append(
            (
                m0,
                build_avro_container(
                    _ENTRY2_SCHEMA,
                    [
                        ent(1, snap0, s1, 0, data_names[0], n, n * 16),
                        ent(1, snap0, s1, 0, data_names[1], n, n * 16),
                        ent(1, snap0, s1, 1, stale_name, n, n * 8),
                    ],
                    sync,
                    codec,
                ),
            )
        )
        files.append(
            (
                m1_carry,
                build_avro_container(
                    _ENTRY2_SCHEMA,
                    [
                        # EXISTING entries keep their ORIGINAL sequence
                        # number — losing it would let the seq-scoped
                        # equality join misfire
                        ent(0, snap1, 1, 0, data_names[0], n, n * 16),
                        ent(0, snap1, 1, 0, data_names[1], n, n * 16),
                        ent(2, snap1, 1, 1, stale_name, n, n * 8),
                    ],
                    sync,
                    codec,
                ),
            )
        )
        files.append(
            (
                m1_new,
                build_avro_container(
                    _ENTRY2_SCHEMA,
                    [
                        ent(1, snap1, s2, 0, data_names[2], n2, n2 * 16),
                        ent(1, snap1, s2, 1, pos_name, n, n * 8),
                        ent(1, snap1, s2, 2, eq_name, n, n * 8),
                    ],
                    sync,
                    codec,
                ),
            )
        )
        # v2 manifest lists carry the per-manifest sequence number the
        # null-seq ADDED entries inherit; the carry manifest was
        # WRITTEN at seq 2 but its EXISTING/DELETED entries keep their
        # explicit originals, so inheriting into them would be wrong —
        # which is exactly why the spec scopes inheritance to ADDED
        for list_name, entries_ in (
            (f"ml2-{doc_id}-0", [(m0, snap0, 1)]),
            (
                f"ml2-{doc_id}-1",
                [(m1_carry, snap1, 2), (m1_new, snap1, 2)],
            ),
        ):
            files.append(
                (
                    list_name,
                    build_avro_container(
                        _LIST2_SCHEMA,
                        [
                            _enc_str(nm)
                            + zigzag_encode(snap)
                            + zigzag_encode(lseq)
                            for nm, snap, lseq in entries_
                        ],
                        sync,
                        codec,
                    ),
                )
            )
    meta = json.dumps(
        {
            "format-version": 2,
            "current-snapshot-id": snap1,
            "snapshots": [
                {"snapshot-id": snap0, "manifest-list": f"ml2-{doc_id}-0"},
                {"snapshot-id": snap1, "manifest-list": f"ml2-{doc_id}-1"},
            ],
        }
    )
    return meta, files


def synth_iceberg_v2_metadata(documents: DataFrame) -> DataFrame:
    """(table_id, payload JSON string) per document-table, v2 tree."""
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    def _build_fn(doc_id):
        import pandas as pd

        return pd.Series(
            [
                synth_iceberg_v2_rows(int(d), with_files=False)[0]
                for d in doc_id
            ]
        )

    _build = pandas_udf(_build_fn, StringType(), PandasUDFType.SCALAR)
    return documents.select(
        F.col("doc_id").alias("table_id"),
        _build("doc_id").alias("payload"),
    )


def synth_iceberg_v2_manifests(documents: DataFrame) -> DataFrame:
    """(table_id, file_name, payload) — every Avro file of every v2
    table (manifest lists, manifests, data files, delete files)."""
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    elem = StructType(
        [
            StructField("file_name", StringType()),
            StructField("payload", BinaryType()),
        ]
    )

    def _build_fn(doc_id):
        import pandas as pd

        return pd.Series(
            [synth_iceberg_v2_rows(int(d))[1] for d in doc_id]
        )

    _build = pandas_udf(_build_fn, ArrayType(elem), PandasUDFType.SCALAR)
    return documents.select(
        F.col("doc_id").alias("table_id"),
        F.explode(_build("doc_id")).alias("c"),
    ).select(
        "table_id",
        F.col("c.file_name").alias("file_name"),
        F.col("c.payload").alias("payload"),
    )
