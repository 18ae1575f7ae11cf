"""``tools/dump_plans.py`` masks the session-dependent ids of a plan, so
two dumps of an unchanged plan compare equal."""

from __future__ import annotations

import importlib.util
import os

from pyspark.sql import functions as F


def _dump_plans():
    p = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools",
        "dump_plans.py",
    )
    spec = importlib.util.spec_from_file_location("dump_plans", p)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_mask_keeps_plan_shape_and_drops_global_ids():
    mask = _dump_plans().mask_plan_ids
    plan = (
        "* HashAggregate (4)\n"
        "+- Exchange (3)\n"
        "(1) Scan parquet\n"
        "Location: InMemoryFileIndex [file:/tmp/ubsp_run_41_ab3x/src]\n"
        "(2) Project [codegen id : 1]\n"
        "Output [2]: [v#123L, _common_expr_7#5]\n"
        "Arguments: transform(t#9, lambdafunction((lambda x_12#44 + lambda y_13#45),"
        " lambda x_12#44, lambda y_13#45, false))\n"
        "Arguments: hashpartitioning(v#123L, 4), ENSURE_REQUIREMENTS, [plan_id=812]\n"
        "Arguments: [v#7L], MapPartitionsRDD[1607] at localCheckpoint at <unknown>:0\n"
    )
    assert mask(plan) == (
        "* HashAggregate (4)\n"
        "+- Exchange (3)\n"
        "(1) Scan parquet\n"
        "Location: InMemoryFileIndex [file:/tmp/ubsp_*/src]\n"
        "(2) Project [codegen id : 1]\n"
        "Output [2]: [v#NL, _common_expr_N#N]\n"
        "Arguments: transform(t#N, lambdafunction((lambda x_N#N + lambda y_N#N),"
        " lambda x_N#N, lambda y_N#N, false))\n"
        "Arguments: hashpartitioning(v#NL, 4), ENSURE_REQUIREMENTS, [plan_id=N]\n"
        "Arguments: [v#NL], MapPartitionsRDD[N] at localCheckpoint at <unknown>:0\n"
    )
    # a column that merely looks like a lambda variable is data, not an id
    assert mask("Output [1]: [x_1#3]") == "Output [1]: [x_1#N]"


def test_same_query_built_twice_dumps_identically(spark):
    mask = _dump_plans().mask_plan_ids

    def build(mult):
        return (
            spark.range(64)
            .select(
                F.transform(F.array("id", "id"), lambda x, i: x + i).alias("a"),
                (F.col("id") % mult).alias("k"),
            )
            .groupBy("k")
            .count()
        )

    first, second = _formatted(build(5)), _formatted(build(5))
    assert first != second  # raw ids advanced between the two builds
    assert mask(first) == mask(second)
    assert mask(_formatted(build(7))) != mask(first)  # a real change shows
