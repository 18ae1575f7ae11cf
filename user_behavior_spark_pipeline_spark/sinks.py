"""Batch sinks and physical data layout (OP-SINK-PARQUET-BATCH + the 100 TB
layout toolbox).

The reference's only batch sink is ``.write.mode('overwrite').parquet(...)``
(filtered_writes.py:46-49). At scale the sink IS the optimization surface:

- **partitionBy** on low-cardinality query keys → partition pruning turns
  full scans into directory lookups (the reference approximated this with
  three per-type sink queries; one partitioned sink replaces them);
- **bucketBy** on high-cardinality join/agg keys → co-located, shuffle-free
  joins between tables bucketed the same way;
- **maxRecordsPerFile** bounds file sizes so a skewed partition can't
  produce a multi-GB file (small-file problem's evil twin).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    mode: str = "overwrite",
    max_records_per_file: int | None = None,
) -> None:
    writer = df.write.mode(mode)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
    writer.partitionBy(*partition_cols).parquet(path)


def write_bucketed_table(
    spark: SparkSession,
    df: DataFrame,
    name: str,
    path: str,
    bucket_col: str,
    num_buckets: int = 8,
) -> None:
    """Bucketed + sorted table at ``path``: joins/aggs on bucket_col between
    co-bucketed tables need no Exchange (asserted in tests/test_sinks.py).

    The location is explicit rather than left to ``spark.sql.warehouse.dir``
    — an externally-built session (the correctness driver's) defaults that
    static conf to ./spark-warehouse in its CWD. ``path`` must be empty or
    absent (a non-empty stale location fails with LOCATION_ALREADY_EXISTS).

    Re-staging a table should use a FRESH directory (immutable-layout
    pattern) instead of rewriting a fixed path: Spark's session-shared
    file-status cache is keyed by path, so delete-then-rewrite at the same
    location can serve a stale part-file listing to the next scan
    (observed as FileNotFoundException on a deleted part file when a
    query re-stages after a catalog drop)."""
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    (
        df.write.mode("overwrite")
        .bucketBy(num_buckets, bucket_col)
        .sortBy(bucket_col)
        .option("path", path)
        .saveAsTable(name)
    )


def compact_parquet_dir(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-file compaction: rewrite a parquet directory into
    ceil(total_bytes / target) files of ~row-group size.

    The operational companion to every streaming file sink — micro-batches
    accumulate small files that degrade scan planning (one task per file)
    and metadata listing; periodic compaction restores the 128 MB
    row-group layout. Sizing reads the filesystem directly (swap in the
    Hadoop FileSystem API off-local); the rewrite is one scan + one
    round-robin repartition, no shuffle key needed. Returns the file count
    written."""
    import math
    import os

    total = 0
    for root, _dirs, files in os.walk(src_dir):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
    n = max(1, math.ceil(total / target_file_bytes))
    spark.read.parquet(src_dir).repartition(n).write.mode("overwrite").parquet(
        out_dir
    )
    return n
