"""The SQL-text helpers the string-built operators splice names and
strings through."""

from __future__ import annotations

import datetime

from user_behavior_spark_pipeline_spark.operators.funnel import funnel_counts
from user_behavior_spark_pipeline_spark.sqltext import ident, literal


def test_literal_round_trips_quotes_and_backslashes(spark):
    value = "it's a \\ back'slash \\' end"
    got = spark.range(1).selectExpr(f"{literal(value)} AS v").first()["v"]
    assert got == value


def test_ident_resolves_hyphenated_dotted_and_backticked_names(spark):
    df = spark.createDataFrame([(1, 2, 4)], "`User-Agent` int, `a.b` int, `c``d` int")
    expr = f"{ident('User-Agent')} + {ident('a.b')} + {ident('c`d')} AS s"
    assert df.selectExpr(expr).first()["s"] == 7


def test_funnel_steps_with_quotes_are_literals(spark):
    ts = datetime.datetime(2024, 1, 1)
    events = spark.createDataFrame(
        [
            (1, "it's", ts),
            (1, "a\\b", ts + datetime.timedelta(hours=1)),
            (2, "it's", ts),
        ],
        "uid long, kind string, at timestamp_ntz",
    )
    got = funnel_counts(
        events, ("it's", "a\\b"), user_col="uid", type_col="kind", ts_col="at"
    ).collect()
    assert [tuple(r) for r in got] == [(1, "it's", 2), (2, "a\\b", 1)]
