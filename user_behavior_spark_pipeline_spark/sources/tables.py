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
from pyspark.sql.types import LongType, TimestampType

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
_RELATION_MEMO_MAX = 256
# key -> (the session, pinned so its id is not reused; the file's resolved
# BaseRelation)
_RELATIONS: dict[tuple, tuple[SparkSession, object]] = {}
_RELATIONS_LOCK = threading.Lock()


def _relation_key(spark: SparkSession, path: str) -> tuple | None:
    """Memo key of a local regular file: (session, abspath, size,
    mtime_ns, inode, inference confs). None for a directory, a remote URI
    or a missing path, which keep the plain read (and Spark's own error).

    The session is its ``id``: a memoized entry pins its session, so no
    other session can take that id while the entry lives."""
    if urlsplit(path).scheme:
        return None
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not stat.S_ISREG(st.st_mode):
        return None
    confs = tuple(spark.conf.get(k, None) for k in _INFERENCE_CONFS)
    return (
        id(spark),
        os.path.abspath(path),
        st.st_size,
        st.st_mtime_ns,
        st.st_ino,
        confs,
    )


def _remember(key: tuple, entry: tuple) -> None:
    with _RELATIONS_LOCK:
        if len(_RELATIONS) >= _RELATION_MEMO_MAX:
            del _RELATIONS[next(iter(_RELATIONS))]
        _RELATIONS[key] = entry


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """A read of ``path``, from the memo when it holds the file's resolved
    relation."""
    key = _relation_key(spark, path)
    if key is None:
        return spark.read.parquet(path)
    with _RELATIONS_LOCK:
        hit = _RELATIONS.get(key)
    if hit is not None:
        # a new LogicalRelation over the resolved relation, which is what
        # spark.read builds once it has resolved one: the plan of a plain
        # read, with attribute ids of its own
        jdf = spark._jsparkSession.baseRelationToDataFrame(hit[1])
        return DataFrame(jdf, spark)
    df = spark.read.parquet(path)
    plan = df._jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() == "LogicalRelation":
        _remember(key, (spark, plan.relation()))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read ``<sf_dir>/<name>.parquet`` (``events`` with ``ts`` as
    TIMESTAMP_NTZ).

    A plain parquet read runs a one-task job to infer the schema from the
    footer and then resolves the file into a relation (about 7 ms of
    driver time), on every call. For a local regular file the resolved
    relation is memoized (at most ``_RELATION_MEMO_MAX`` entries, oldest
    dropped first) under the session, the file's absolute path, size,
    mtime_ns and inode and the session's parquet inference confs. A warm
    load wraps it in a new ``LogicalRelation``: the plan of a plain read,
    with attribute ids of its own, so two loads of one table in one query
    join like two reads, and it runs no job and resolves nothing. A
    rewritten file (new inode or mtime, as when the test data is
    regenerated) misses and is read again; another session never gets
    this session's relation. Each entry pins its session (a stopped one
    or one from ``newSession()`` too) until the entry is dropped.
    Directories and remote URIs always use the plain read.
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
