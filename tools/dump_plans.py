#!/usr/bin/env python
"""Dump .explain("formatted") for every registered query to a directory.

Usage: python tools/dump_plans.py OUTDIR [name ...]

Capture the plans at two commits and diff the directories to show a
change keeps (or moves) physical plans, e.g.
``python tools/dump_plans.py /tmp/plans_after x_stream_stream_join``
writes /tmp/plans_after/x_stream_stream_join.txt. Plan capture is driver-side
only — the DataFrame is built but not executed (streaming fixtures that
run during construction still run, as they do for any caller).
"""

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")


def main() -> int:
    outdir = sys.argv[1]
    names = sys.argv[2:]
    os.makedirs(outdir, exist_ok=True)
    sf_dir = os.path.join(TESTDATA, "sf0.1")

    from user_behavior_spark_pipeline_spark.materialize import release_shared
    from user_behavior_spark_pipeline_spark.registry import (
        QUERIES,
        prepare_staged,
    )
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
            f.write(plan)
        release_shared()
        print("plan", name, flush=True)
    if fails:
        print("FAILED:", fails)
    return len(fails)


if __name__ == "__main__":
    raise SystemExit(main())
