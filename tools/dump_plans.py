#!/usr/bin/env python
"""Dump .explain("formatted") for every registered query to a directory.

Usage: python tools/dump_plans.py OUTDIR [name ...]

Capture the plans at two commits and diff the directories to show a
change keeps (or moves) physical plans, e.g.
``python tools/dump_plans.py /tmp/plans_after x_stream_stream_join``
writes /tmp/plans_after/x_stream_stream_join.txt. Plan capture is driver-side
only — the DataFrame is built but not executed (streaming fixtures that
run during construction still run, as they do for any caller).

Each plan is written through :func:`mask_plan_ids`, so two dumps diff
directly (``diff -r A B``): the ids it masks come from JVM-global counters
and depend on what ran earlier in the session, not on the plan.
"""

import os
import re
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")

# (pattern, replacement) pairs, applied in order. ``[codegen id : N]`` and
# the ``(N)`` operator numbers are per-plan and stay.
_MASKS = (
    (re.compile(r"#\d+"), "#N"),  # expression ids: a#12L, subquery#7
    (re.compile(r"\blambda ([xyz])_\d+"), r"lambda \1_N"),  # F.transform vars
    (re.compile(r"\b_common_expr_\d+"), "_common_expr_N"),  # With() aliases
    (re.compile(r"\bplan_id=\d+"), "plan_id=N"),  # exchange ids
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),  # scanned RDDs: MapPartitionsRDD[1607]
    # per-process scratch and staged-fixture dirs under the temp dir
    (re.compile(r"/ubsp_[^/\s,\]]+"), "/ubsp_*"),
)


def mask_plan_ids(plan: str) -> str:
    """``plan`` with its session-dependent ids replaced by ``N``."""
    for pattern, repl in _MASKS:
        plan = pattern.sub(repl, plan)
    return plan


def main() -> int:
    outdir = sys.argv[1]
    names = sys.argv[2:]
    os.makedirs(outdir, exist_ok=True)
    sf_dir = os.path.join(TESTDATA, "sf0.1")

    from user_behavior_spark_pipeline_spark.fixtures import prepare_staged
    from user_behavior_spark_pipeline_spark.materialize import release_shared
    from user_behavior_spark_pipeline_spark.registry import QUERIES
    from user_behavior_spark_pipeline_spark.session import get_spark

    spark = get_spark(app_name="dump_plans")
    spark.sparkContext.setLogLevel("ERROR")
    prepare_staged(spark, sf_dir)
    fails = []
    for name in names or sorted(QUERIES):
        try:
            df = QUERIES[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # noqa: BLE001 - record and continue
            fails.append(name)
            plan = f"PLAN CAPTURE FAILED: {exc}\n"
        with open(os.path.join(outdir, f"{name}.txt"), "w") as f:
            f.write(mask_plan_ids(plan))
        release_shared()
        print("plan", name, flush=True)
    if fails:
        print("FAILED:", fails)
    return len(fails)


if __name__ == "__main__":
    raise SystemExit(main())
