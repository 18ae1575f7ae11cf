"""The reference's interactive SQL surface (SURVEY.md §2.4), as DataFrame ops.

These are the seven Presto queries the pipeline exists to serve
(README.md:588-817), re-targeted at Spark SQL over the same
parquet-directory-as-table contract. Each helper returns a DataFrame with
stable, explicitly-aliased column names (the driver's oracle compare is
name-keyed).

All aggregations here are hash aggregates with map-side partial aggregation —
at 100 TB the shuffle carries only (group-key, partial-count) pairs, never
raw rows. Sorts are applied AFTER aggregation (tiny cardinality), so no
full-data sort ever happens.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# --- OP-Q-COUNT (README.md:622-631) ---


def count_events(df: DataFrame) -> DataFrame:
    return df.agg(F.count(F.lit(1)).alias("num_entries"))


# --- OP-Q-LIMIT (README.md:636-651) — made deterministic via ORDER BY ---


def first_events(df: DataFrame, order_col: str, n: int = 10) -> DataFrame:
    """Deterministic LIMIT: requires ``order_col`` to be UNIQUE (the
    registry passes event_id). With ties, the selected row SET under
    LIMIT is partition- and engine-dependent — an oracle hash trap; add a
    unique tiebreak column before reaching for this helper.

    Plans as TakeOrderedAndProject: per-partition top-n then merge — no
    global sort."""
    return df.orderBy(order_col).limit(n)


# --- OP-Q-GROUPBY-1 (README.md:657-668) ---


def events_by(df: DataFrame, key: str, count_alias: str = "num_events") -> DataFrame:
    return df.groupBy(key).agg(F.count(F.lit(1)).alias(count_alias))


# --- OP-Q-GROUPBY-2 (README.md:776-791) ---


def events_by_host_and_type(
    df: DataFrame, host_col: str = "Host", type_col: str = "event_type"
) -> DataFrame:
    return (
        df.groupBy(F.col(host_col).alias("host"), F.col(type_col).alias("event_type"))
        .agg(F.count(F.lit(1)).alias("num_events"))
        .orderBy(F.desc("event_type"))
    )


# --- OP-Q-DISTINCT-3 (README.md:793-816): DISTINCT via GROUP BY + mixed sort ---


def distinct_host_type_detail(
    df: DataFrame,
    host_col: str = "Host",
    type_col: str = "event_type",
    detail_col: str = "event_detail",
) -> DataFrame:
    return (
        df.select(
            F.col(host_col).alias("host"),
            F.col(type_col).alias("event_type"),
            F.col(detail_col).alias("event_detail"),
        )
        .distinct()
        .orderBy(F.asc("event_type"), F.desc("event_detail"))
    )
