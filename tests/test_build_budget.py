"""Driver-side build cost of the lake-mix queries (perfbench lake_queries).

An interactive session of small queries is bound by what each query costs
before its first job. These pin that cost in py4j round trips, which are
deterministic, where wall time on a shared box is not: a warm build of each
registry query of the mix stays under its budget and runs no job. Built
from ``F.*`` Column chains over plain reads, they took 98 (top-k) to 1,365
(funnel).
"""

from __future__ import annotations

import pytest

from tests.py4j_count import py4j_calls
from user_behavior_spark_pipeline_spark.registry import QUERIES

# about 1.15x the calls the SQL-string builders over memoized loads make
# (70, 67, 37, 21 and 72)
BUDGETS = {
    "x_funnel_counts": 80,
    "x_retention_cohorts": 77,
    "x_event_session": 43,
    "x_window_topk": 25,
    "x_join_star_revenue": 83,
}


@pytest.mark.parametrize("name", sorted(BUDGETS))
def test_warm_build_stays_within_py4j_budget(spark, sf_dir, name):
    QUERIES[name](spark, sf_dir)
    sc = spark.sparkContext
    group = f"build_budget_{name}"
    sc.setJobGroup(group, group)
    try:
        _, calls = py4j_calls(lambda: QUERIES[name](spark, sf_dir))
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs == []
    assert calls <= BUDGETS[name], f"{name}: {calls} py4j calls"
