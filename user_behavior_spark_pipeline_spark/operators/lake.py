"""Data-lake layout introspection — footer-only Parquet metadata.

Auditing a 100 TB lake (row-group sizing, codec drift, schema shape,
rows-per-file skew) must read FOOTERS, not data: this probe opens each
payload with pyarrow (Spark's own Parquet stack's sibling — the
reference implementation available first-party) and emits one metadata
row per file without touching a single data page. Pairs with
operators/layout.py (compaction / z-order), which fixes what this probe
finds.

Corruption (bad magic, torn footer) quarantines as ONE parse_error row
— the standard walker contract. Untrusted-input caveat (shared with
operators/arrow_ipc.py, fuzz-established): junk/truncation reject
cleanly, but adversarial bit rot inside valid Thrift/flatbuffer
metadata can abort in Arrow's C++; Parquet footers DO carry enough
redundancy that this is far rarer than for raw IPC, but the same
checksummed-storage posture applies.

Reference parity note: no lake-audit path in the reference (SURVEY.md
§2.1); training-data extension surface (§2.5).
"""

from __future__ import annotations

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


def parquet_footer(payload: bytes) -> dict:
    """Footer-only metadata of one Parquet file: row groups, rows,
    columns, the first column chunk's codec, and total
    uncompressed/compressed data sizes. ValueError on corruption."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    try:
        f = pq.ParquetFile(pa.BufferReader(payload))
    except (pa.ArrowInvalid, pa.ArrowIOError, OSError) as e:
        raise ValueError(f"corrupt Parquet file: {e}") from None
    md = f.metadata
    codec = (
        md.row_group(0).column(0).compression
        if md.num_row_groups
        else None
    )
    total_comp = 0
    total_uncomp = 0
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for c in range(g.num_columns):
            col = g.column(c)
            total_comp += col.total_compressed_size
            total_uncomp += col.total_uncompressed_size
    return {
        "n_row_groups": md.num_row_groups,
        "n_rows": md.num_rows,
        "n_columns": md.num_columns,
        "codec": codec,
        "compressed_bytes": total_comp,
        "uncompressed_bytes": total_uncomp,
    }


PARQUET_FOOTER_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("n_row_groups", IntegerType(), True),
        StructField("n_rows", LongType(), True),
        StructField("n_columns", IntegerType(), True),
        StructField("codec", StringType(), True),
        StructField("parse_error", StringType(), True),
    ]
)


def parquet_footers(media: DataFrame) -> DataFrame:
    """(media_id, payload) -> one footer-metadata row per file."""

    def _walk(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for batch in batches:
            rows = []
            for media_id, payload in zip(batch["media_id"], batch["payload"]):
                mid = int(media_id)
                try:
                    d = parquet_footer(bytes(payload))
                    rows.append(
                        (
                            mid,
                            d["n_row_groups"],
                            d["n_rows"],
                            d["n_columns"],
                            d["codec"],
                            None,
                        )
                    )
                except ValueError as e:
                    rows.append((mid, None, None, None, None, str(e)))
            yield pd.DataFrame(
                rows,
                columns=[f.name for f in PARQUET_FOOTER_SCHEMA.fields],
            )

    return media.select("media_id", "payload").mapInPandas(
        _walk, PARQUET_FOOTER_SCHEMA
    )


def synth_parquet_bytes(doc_id: int) -> bytes:
    """Deterministic Parquet file: doc_id%5+1 rows of 3 columns,
    row_group_size=2 (so n_row_groups = ceil(n/2)), codec rotating
    NONE/SNAPPY/GZIP/ZSTD/LZ4 by doc_id%5 (r12: the codecs a modern
    lake actually mixes — codec drift across all five is exactly what
    the footer audit exists to catch)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = doc_id % 5 + 1
    table = pa.table(
        {
            "a": pa.array(range(doc_id, doc_id + n), pa.int64()),
            "b": pa.array([f"r{i}" for i in range(n)], pa.string()),
            "c": pa.array([float(i) for i in range(n)], pa.float64()),
        }
    )
    codec = ["NONE", "SNAPPY", "GZIP", "ZSTD", "LZ4"][doc_id % 5]
    sink = pa.BufferOutputStream()
    pq.write_table(table, sink, row_group_size=2, compression=codec)
    return sink.getvalue().to_pybytes()


def synth_parquet_media(documents: DataFrame) -> DataFrame:
    """(media_id, payload) of deterministic Parquet files."""
    return documents.select(
        F.col("doc_id").alias("media_id"),
        synth_bytes(synth_parquet_bytes, "doc_id").alias("payload"),
    )
