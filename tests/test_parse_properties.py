"""Property-based tests (Hypothesis) for the JSON parse null-semantics
(SURVEY.md §1/§5): for ANY subset of event fields with ANY string values,
``from_json`` with the superset schema must yield exactly the present fields
and null for the missing ones — the dual-schema coexistence contract
(rpg_spark_stream.py:21-28 declares both field sets, all nullable).

Strategy note: one Spark job per Hypothesis example would be minutes per
test, so each example set is batched into a single DataFrame pass
(max_examples controls the batch count, one Spark job each)."""

from __future__ import annotations

import json

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from user_behavior_spark_pipeline_spark.operators.ingest import parse_events
from user_behavior_spark_pipeline_spark.schemas import EVENT_SCHEMA

FIELDS = [f.name for f in EVENT_SCHEMA.fields]

# values: printable-ish strings without JSON-breaking escapes left to json.dumps
value_st = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=40
)
event_st = st.dictionaries(st.sampled_from(FIELDS), value_st, max_size=len(FIELDS))


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(events=st.lists(event_st, min_size=1, max_size=8))
def test_missing_fields_null_present_fields_roundtrip(spark, events):
    rows = [(json.dumps(e),) for e in events]
    raw = spark.createDataFrame(rows, "value string")
    out = parse_events(raw).collect()
    assert len(out) == len(events)
    for row, event in zip(out, events):
        for f in FIELDS:
            expected = event.get(f)
            assert row[f] == expected, (f, row[f], expected)
        assert json.loads(row["raw_event"]) == event


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(garbage=st.lists(st.text(max_size=30), min_size=1, max_size=8))
def test_malformed_json_yields_null_struct_not_crash(spark, garbage):
    """PERMISSIVE mode: non-JSON payloads parse to all-null fields (and the
    validity filter would drop them) — never an exception."""
    rows = [(g,) for g in garbage]
    raw = spark.createDataFrame(rows, "value string")
    out = parse_events(raw).collect()
    assert len(out) == len(garbage)
    for row, g in zip(out, garbage):
        try:
            parsed = json.loads(g)
            is_obj = isinstance(parsed, dict)
        except (json.JSONDecodeError, ValueError):
            is_obj = False
        if not is_obj:
            assert all(row[f] is None for f in FIELDS), (g, row)
