"""Parquet table loaders for the driver test data (TESTDATA.md).

Columnar parquet scan is the engine's batch source (the reference's Presto
side reads the same way — SURVEY.md OP-SRC-PARQUET). Filters/projections
applied on top of these loaders reach the scan via Catalyst pushdown; tests
assert PushedFilters in plans/ helpers.
"""

from __future__ import annotations

import os
import stat
import threading
from urllib.parse import urlsplit

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType, TimestampType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# session confs that change the schema Spark infers from a parquet footer
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)
_SCHEMA_MEMO_MAX = 256
_SCHEMAS: dict[tuple, StructType] = {}
_SCHEMAS_LOCK = threading.Lock()


def _schema_key(spark: SparkSession, path: str) -> tuple | None:
    """Memo key of a local regular file: (abspath, size, mtime_ns, inode,
    inference confs). None for a directory, a remote URI or a missing
    path, which keep the plain read (and Spark's own error)."""
    if urlsplit(path).scheme:
        return None
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not stat.S_ISREG(st.st_mode):
        return None
    confs = tuple(spark.conf.get(k, None) for k in _INFERENCE_CONFS)
    return (os.path.abspath(path), st.st_size, st.st_mtime_ns, st.st_ino, confs)


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    key = _schema_key(spark, path)
    if key is None:
        return spark.read.parquet(path)
    with _SCHEMAS_LOCK:
        schema = _SCHEMAS.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    _remember(key, df.schema)
    return df


def _remember(key: tuple, schema: StructType) -> None:
    with _SCHEMAS_LOCK:
        if len(_SCHEMAS) >= _SCHEMA_MEMO_MAX:
            del _SCHEMAS[next(iter(_SCHEMAS))]
        _SCHEMAS[key] = schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read ``<sf_dir>/<name>.parquet``.

    A plain parquet read runs a one-task job to infer the schema from the
    footer on every call. For a local regular file the inferred schema is
    memoized (at most ``_SCHEMA_MEMO_MAX`` entries, oldest dropped first)
    under the file's absolute path, size, mtime_ns and inode plus the
    session's parquet inference confs, and later reads pass it in, so
    they run no job. A rewritten file (new inode or mtime, as when the
    test data is regenerated) misses and is inferred again. Directories
    and remote URIs always use the plain read.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    if name == "events":
        # Older testdata stored ts as INT64 TIMESTAMP(NANOS), which Spark
        # rejects by default (PARQUET_TYPE_ILLEGAL). The conf is a runtime-
        # settable session conf, so set it here defensively instead of only in
        # session.get_spark — callers (e.g. an externally built SparkSession)
        # must be able to read events without our builder.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = _read_parquet(spark, f"{sf_dir}/{name}.parquet")
    if name == "events":
        # Canonical ts type is TIMESTAMP_NTZ — the exact type DuckDB (and
        # any naive-timestamp engine) sees for parquet
        # TIMESTAMP(isAdjustedToUTC=false), so derived values compare
        # bit-for-bit with the oracle and no session-timezone conversion can
        # leak in. Normalize the two legacy physical encodings to it:
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, LongType):
            # TIMESTAMP(NANOS) + nanosAsLong: ns-since-epoch. Truncate to µs
            # with integer division (doubles lose precision at ns scale) and
            # rebase onto an NTZ epoch — wall-clock, tz-independent.
            df = df.withColumn(
                "ts",
                F.expr(
                    "timestampadd(MICROSECOND, ts div 1000,"
                    " TIMESTAMP_NTZ '1970-01-01 00:00:00')"
                ),
            )
        elif isinstance(ts_type, TimestampType):
            # isAdjustedToUTC=true data: session tz is pinned to UTC by
            # get_spark; under any other tz this cast is wall-clock in that
            # tz, which is what a naive engine reading the same file sees.
            df = df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    return df


def register_all(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so ``spark.sql`` works on them
    (the in-process analogue of the reference's Hive catalog —
    SURVEY.md OP-DDL-HIVE / §3.3)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
