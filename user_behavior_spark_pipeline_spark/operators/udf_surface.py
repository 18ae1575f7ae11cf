"""The Python UDF surface (OP-X-UDF-SURFACE): every escape-hatch tier, each
demonstrated on a real query and each checked against a native/SQL oracle.

Tiers (fast to slow):
1. native column expressions        — everything else in this package
2. scalar pandas_udf (Arrow)        — similarity.pandas_cosine_topk
3. mapInPandas (Arrow, batch iter)  — multimodal.decode_features
4. applyInPandas (grouped)          — per_user_stats here
5. row-at-a-time @udf               — ingest.is_valid_event_udf (parity only)

applyInPandas shuffles the full group to one Python worker — at 100 TB use
it only when per-group logic genuinely needs the whole group in memory
(model fitting, sequence features); a whale group OOMs the worker, so
pre-aggregate or salt first where possible.

Determinism: per-group math is done on exact integer cents inside pandas,
so results hash-match the SQL oracle."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

PER_USER_SCHEMA = StructType(
    [
        StructField("user_id", LongType(), False),
        StructField("n_events", LongType(), False),
        StructField("total_cents", LongType(), False),
        StructField("avg_value_x100", LongType(), False),
    ]
)


def per_user_stats(events: DataFrame) -> DataFrame:
    """Per-user aggregate computed with applyInPandas (grouped map): the
    canonical 'custom per-group kernel' shape. The same numbers are
    expressible natively — the point is the surface, and the oracle keeps
    it honest."""
    import pandas as pd

    def _stats(pdf: "pd.DataFrame") -> "pd.DataFrame":
        cents = (pdf["value"] * 100).round().astype("int64")
        n = len(pdf)
        total = int(cents.sum())
        return pd.DataFrame(
            {
                "user_id": [int(pdf["user_id"].iloc[0])],
                "n_events": [n],
                "total_cents": [total],
                # exact integer half-up (Python round() is banker's; DuckDB
                # ROUND() is half-away — an avg landing on .5 diverges)
                "avg_value_x100": [(2 * total + n) // (2 * n)],
            }
        )

    # ship ONLY the two columns the kernel touches across the Python
    # boundary — applyInPandas is opaque to column pruning, so an
    # unselected events table would move every column (ts, the fat
    # props string, ...) through Arrow for nothing (guide §4.1).
    # The pruned shuffle is then tiny in BYTES while the stage cost is
    # per-group Python invocations, so AQE's byte-based coalescing
    # would collapse it to one partition and serialize every group onto
    # a single worker (measured: 1 post-shuffle partition, 1.4x slower
    # than the unpruned form). Pin the grouped exchange at cluster
    # parallelism, keyed on the grouping column so no second exchange
    # is planned — the deltadv.py repartition-before-Python pattern.
    spark = events.sparkSession
    return (
        events.select("user_id", "value")
        .repartition(spark.sparkContext.defaultParallelism, "user_id")
        .groupBy("user_id")
        .applyInPandas(_stats, PER_USER_SCHEMA)
    )


def per_type_stats_grouped_agg(events: DataFrame) -> DataFrame:
    """Grouped-aggregate pandas_udf (the UDAF tier): a whole group's column
    arrives as one pandas Series, returns one scalar. Integer-exact math so
    the result hash-matches SQL. Catalyst refuses to mix grouped-agg pandas
    UDFs with JVM aggregates in one .agg() (INVALID_PANDAS_UDF_PLACEMENT),
    so every aggregate here is pandas; prefer native aggs unless the kernel
    needs the full series (e.g. robust statistics)."""
    import pandas as pd  # noqa: F401
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # NB: no type hints on the inner fns (see similarity.pandas_cosine_topk);
    # GROUPED_AGG must be explicit — the default SCALAR type would make
    # Spark treat the call as a projection, not an aggregate
    @pandas_udf("long", PandasUDFType.GROUPED_AGG)
    def total_cents(v):
        return int((v * 100).round().astype("int64").sum())

    @pandas_udf("long", PandasUDFType.GROUPED_AGG)
    def n_rows(v):
        return len(v)

    return events.groupBy("event_type").agg(
        total_cents("value").alias("total_cents"),
        n_rows("value").alias("n_events"),
    )
