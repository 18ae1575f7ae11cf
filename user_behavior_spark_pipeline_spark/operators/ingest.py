"""Ingest pipeline: cast → filter → parse → flatten (SURVEY.md §2.2).

The reference runs this as: Python-UDF boolean filter over the raw JSON bytes
(``is_valid_event`` — README.md:349-357), then ``from_json`` with a declared
schema, then struct flatten (README.md:382-388). That design parses the JSON
TWICE and forces every row across the JVM↔Python boundary before any filter
can apply (SURVEY.md §4, "Python UDF pushdown barrier").

Spark-first redesign (the engine's hot path):

- one ``from_json`` per row, nothing else touches Python;
- the validity predicate is a native Column on the parsed struct, so Catalyst
  can prune columns and push what's pushable into the scan;
- whole-stage codegen covers the entire validate-parse-flatten pipeline.

The reference's UDF variants are kept (``is_valid_event_udf``,
``is_sword_purchase_udf``) purely as API-parity surface — tests assert they
produce identical row sets to the native path, and the bench never uses them.
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, StructType

from ..schemas import EVENT_SCHEMA, VALID_EVENT_TYPES

# ---------------------------------------------------------------------------
# OP-CAST — binary/any -> string (filter_swords_batch.py:57,59)
# ---------------------------------------------------------------------------


def cast_to_string(col: Column | str) -> Column:
    return F.col(col).cast("string") if isinstance(col, str) else col.cast("string")


# ---------------------------------------------------------------------------
# OP-JSON-PARSE + OP-FLATTEN — declared-schema parse then struct flatten
# (filter_swords_batch.py:60-62, README.md:382-388)
# ---------------------------------------------------------------------------


def parse_events(
    raw: DataFrame,
    schema: StructType = EVENT_SCHEMA,
    value_col: str = "value",
) -> DataFrame:
    """Kafka-shaped records -> flattened event rows.

    Output mirrors the reference's ``valid_events`` layout: raw_event (the
    unparsed payload, README.md:636-651 queries it), timestamp, then the
    parsed fields. Missing JSON keys -> null columns (all schema fields
    nullable — rpg_spark_stream.py:22-27). Malformed JSON -> null struct
    (PERMISSIVE), never a crash; the validity filter drops it.
    """
    value_str = cast_to_string(value_col)
    parsed = F.from_json(value_str, schema).alias("json")
    cols = [value_str.alias("raw_event")]
    if "timestamp" in raw.columns:
        cols.append(F.col("timestamp"))
    out = raw.select(*cols, parsed)
    return out.select(*[c for c in out.columns if c != "json"], "json.*")


# ---------------------------------------------------------------------------
# OP-FILTER (native path) — validity predicate on parsed columns
# ---------------------------------------------------------------------------


def is_valid_event_col(event_type: Column | str = "event_type") -> Column:
    """Native equivalent of the reference's ``is_valid_event`` UDF
    (README.md:349-357): event_type ∈ {sword_event, guild_event}."""
    c = F.col(event_type) if isinstance(event_type, str) else event_type
    return c.isin(*VALID_EVENT_TYPES)


def validate_events(
    raw: DataFrame, schema: StructType = EVENT_SCHEMA, value_col: str = "value"
) -> DataFrame:
    """The canonical pipeline (README.md:372-423), single-parse native form:
    parse → flatten → filter valid. One codegen stage, no Python."""
    return parse_events(raw, schema, value_col).filter(is_valid_event_col())


# ---------------------------------------------------------------------------
# OP-FILTER-UDF-BOOL — reference-parity Python UDF variants (slow path,
# kept only for API-surface parity; see module docstring)
# ---------------------------------------------------------------------------


def _is_valid_event(event_as_json):
    """Parity with README.md:349-357 (is_valid_event)."""
    try:
        event = json.loads(event_as_json)
    except (TypeError, ValueError):
        return False
    return event.get("event_type") in ("sword_event", "guild_event")


def _is_sword_purchase(event_as_json):
    """Parity with filter_swords_batch.py:29-36 (is_sword_purchase)."""
    try:
        event = json.loads(event_as_json)
    except (TypeError, ValueError):
        return False
    return event.get("event_type") in ("purchase_sword", "sword_event")


is_valid_event_udf = F.udf(_is_valid_event, BooleanType())
is_sword_purchase_udf = F.udf(_is_sword_purchase, BooleanType())


def validate_events_udf_path(
    raw: DataFrame, schema: StructType = EVENT_SCHEMA, value_col: str = "value"
) -> DataFrame:
    """The reference's exact dataflow: UDF filter on raw bytes, THEN parse
    (write_swords_stream.py:53-58). Double-parse, Python boundary — kept to
    prove behavioral equivalence with ``validate_events``."""
    filtered = raw.filter(is_valid_event_udf(cast_to_string(value_col)))
    return parse_events(filtered, schema, value_col)


# ---------------------------------------------------------------------------
# OP-INFER — dynamic JSON schema inference (filtered_writes.py:39-42)
# ---------------------------------------------------------------------------


def infer_parse_events(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """Schema-on-read from the JSON keys themselves.

    The reference does ``.rdd.map(lambda r: Row(**json.loads(r.raw))).toDF()``
    (filtered_writes.py:39-42) — per-row Python ``json.loads`` with kwargs
    Rows. Idiomatic form: infer the union schema with the JVM JSON datasource
    over the payload column (one inference pass, no Python in the parse), then
    a single native ``from_json`` with the inferred schema so the actual parse
    is codegen'd and streaming-safe.

    Cold-path operator: inference reads the corpus once. Hot path should use
    the declared-schema ``parse_events``.
    """
    value_str = cast_to_string(value_col)
    payloads = raw.select(value_str.alias("v")).filter(F.col("v").isNotNull())
    # JVM-side union-schema inference (same semantics as the reference's
    # per-row Row(**kwargs) merge, minus the Python round-trip per row)
    inferred_schema = raw.sparkSession.read.json(
        payloads.rdd.map(lambda r: r["v"])
    ).schema
    parsed = raw.select(
        value_str.alias("raw_event"),
        *([F.col("timestamp")] if "timestamp" in raw.columns else []),
        F.from_json(value_str, inferred_schema).alias("json"),
    )
    return parsed.select(*[c for c in parsed.columns if c != "json"], "json.*")


# ---------------------------------------------------------------------------
# Corrupt-record quarantine — the PERMISSIVE-parse routing a production
# ingest needs (the reference's parse crashes on nothing because its
# producer is well-formed by construction; real Kafka topics are not).
# ---------------------------------------------------------------------------


def parse_with_quarantine(
    raw: DataFrame,
    schema: StructType = EVENT_SCHEMA,
    value_col: str = "value",
) -> DataFrame:
    """Parse JSON payloads, ROUTING instead of dropping failures: every
    input row survives with ``parse_status`` ∈ {'ok', 'corrupt', 'null'}
    (malformed JSON / null payload), so the bad-records stream can be
    quarantined to its own sink and replayed after a producer fix — the
    dead-letter pattern, expressed as one PERMISSIVE from_json projection
    (scan-side, zero shuffle, no Python).

    Detection uses PERMISSIVE mode's ``columnNameOfCorruptRecord``: a
    malformed payload — OR one that is valid JSON of the wrong shape
    (array/scalar where an object is required) — lands verbatim in the
    corrupt column while the data fields come back null. ``from_json``
    does NOT return a null struct for malformed input (it returns all-null
    fields), so the corrupt column is the only native discriminator
    between "failed to parse" and "legitimately all-null object"."""
    from pyspark.sql.types import StringType

    value_str = cast_to_string(value_col)
    corrupt_col = "_corrupt_record"
    extended = StructType(
        [f for f in schema.fields if f.name != corrupt_col]
    ).add(corrupt_col, StringType())
    parsed = F.from_json(
        value_str, extended, {"columnNameOfCorruptRecord": corrupt_col}
    ).alias("json")
    out = raw.select(value_str.alias("raw_event"), parsed)
    status = (
        F.when(F.col("raw_event").isNull(), F.lit("null"))
        .when(F.col(f"json.{corrupt_col}").isNotNull(), F.lit("corrupt"))
        # empty / whitespace-only payloads: from_json returns a NULL
        # struct (no corrupt-record capture), so without this branch they
        # fell through to 'ok' with every data field null — silently
        # entering the clean stream instead of the dead-letter sink.
        # Kafka topics routinely carry empty-string messages.
        .when(F.col("json").isNull(), F.lit("corrupt"))
        .otherwise(F.lit("ok"))
    )
    return out.select(
        "raw_event",
        status.alias("parse_status"),
        *[f"json.{f.name}" for f in schema.fields if f.name != corrupt_col],
    )
