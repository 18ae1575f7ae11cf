"""Reshaping & semi-structured extraction: pivot, JSON property columns,
and the Python UDTF surface.

- **pivot**: wide-format conditional aggregation. Spark's ``pivot`` with an
  explicit value list is ONE shuffle (the values become columns map-side);
  omitting the list adds a distinct-values pre-pass — always pass the list
  in production.
- **JSON props**: the events fixture carries a semi-structured ``props``
  JSON column; extraction is ``from_json`` with a narrow schema — pushdown
  still prunes the other columns, and the parse is JVM-side Jackson, not
  Python.
- **UDTF**: Spark 4 Python user-defined table functions (one row in, many
  rows out, lateral-joined). The slowest extension tier — each row crosses
  into Python — kept as API surface with a native oracle twin; use
  explode()/split() built-ins when the expansion is expressible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def events_pivot_by_cohort(events: DataFrame) -> DataFrame:
    """User-cohort × event-type count matrix: groupBy(cohort).pivot(type).

    The explicit values list keeps it a single-shuffle plan; coalesce(0)
    because pivot emits null (not 0) for empty cells."""
    wide = (
        events.withColumn("cohort", (F.col("user_id") % 10).cast("long"))
        .groupBy("cohort")
        .pivot("event_type", list(EVENT_TYPES))
        .count()
    )
    return wide.select(
        "cohort",
        *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in EVENT_TYPES],
    )


def props_k_distribution(events: DataFrame) -> DataFrame:
    """Semi-structured extraction: parse the ``props`` JSON column with a
    narrow declared schema and aggregate on the extracted field."""
    k = F.from_json(F.col("props"), "k int")["k"]
    return (
        events.withColumn("k_decile", F.floor(k / 10).cast("int"))
        .groupBy("k_decile")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("total_cents"),
        )
    )


def udtf_tokenize(spark: SparkSession, documents: DataFrame, max_doc_id: int = 20) -> DataFrame:
    """Python UDTF: one document row in -> one row per token out, with the
    token's position (lateral join). Oracle twin: UNNEST WITH ORDINALITY."""
    import re

    from pyspark.sql.functions import udtf

    @udtf(returnType="token_idx int, token string")
    class Tokenize:
        def eval(self, text: str):
            if text is None:
                return  # null text -> no tokens (re.split(None) raises)
            for i, tok in enumerate(re.split(r"\s+", text)):
                yield i, tok

    spark.udtf.register("ubsp_tokenize", Tokenize)
    documents.filter(F.col("doc_id") < max_doc_id).createOrReplaceTempView(
        "udtf_docs"
    )
    return spark.sql(
        "SELECT doc_id, t.token_idx, t.token "
        "FROM udtf_docs, LATERAL ubsp_tokenize(text) t"
    )
