"""Funnel semantics on constructed journeys where the answer is known."""

from __future__ import annotations

import datetime

from user_behavior_spark_pipeline_spark.operators.funnel import (
    funnel_counts,
    funnel_reach,
)

SCHEMA = "user_id long, event_type string, ts timestamp_ntz"


def _ts(s):
    return datetime.datetime.fromisoformat(s)


def _ev(spark, rows):
    return spark.createDataFrame(
        [(u, t, _ts(ts)) for u, t, ts in rows], SCHEMA
    )


def test_funnel_order_matters(spark):
    rows = [
        # user 1: full ordered journey
        (1, "view", "2024-01-01T00:00:00"),
        (1, "click", "2024-01-01T01:00:00"),
        (1, "purchase", "2024-01-01T02:00:00"),
        # user 2: purchase BEFORE the view/click — only depth 2
        (2, "purchase", "2024-01-01T00:00:00"),
        (2, "view", "2024-01-01T01:00:00"),
        (2, "click", "2024-01-01T02:00:00"),
        # user 3: view only
        (3, "view", "2024-01-01T00:00:00"),
        # user 4: no view at all — not in the funnel
        (4, "click", "2024-01-01T00:00:00"),
    ]
    got = {
        r["user_id"]: r["steps_reached"]
        for r in funnel_reach(
            _ev(spark, rows), ("view", "click", "purchase")
        ).collect()
    }
    assert got == {1: 3, 2: 2, 3: 1}


def test_funnel_horizon_cuts_late_completions(spark):
    rows = [
        (1, "view", "2024-01-01T00:00:00"),
        (1, "click", "2024-01-01T01:00:00"),
        (1, "purchase", "2024-01-20T00:00:00"),  # 19 days later
    ]
    reach = funnel_reach(
        _ev(spark, rows), ("view", "click", "purchase"), horizon_seconds=7 * 86400
    ).collect()[0]
    assert reach["steps_reached"] == 2


def test_funnel_repeated_step_types_advance_on_position(spark):
    """('view','click','view'): the fold advances on POSITION, so a later
    'view' event serves step 3 (round-4 rejected this; round 5 supports
    it). Verified against a chained min-after DuckDB oracle computing
    t1 = min(view), t2 = min(click > t1), t3 = min(view > t2) per user."""
    import duckdb

    rows = [
        # u1 completes: view @0, click @1, view @2
        (1, "view", "2024-01-01T00:00:00"),
        (1, "click", "2024-01-01T00:01:00"),
        (1, "view", "2024-01-01T00:02:00"),
        # u2 stalls at 2 (no second view after the click)
        (2, "view", "2024-01-01T00:00:00"),
        (2, "click", "2024-01-01T00:05:00"),
        # u3: second view BEFORE the click — cannot serve step 3
        (3, "view", "2024-01-01T00:00:00"),
        (3, "view", "2024-01-01T00:00:30"),
        (3, "click", "2024-01-01T00:01:00"),
        # u4: the step-1 view also precedes everything; a same-timestamp
        # view cannot serve step 3 (strict order)
        (4, "view", "2024-01-01T00:00:00"),
        (4, "click", "2024-01-01T00:01:00"),
        (4, "view", "2024-01-01T00:01:00"),
    ]
    got = {
        r["user_id"]: r["steps_reached"]
        for r in funnel_reach(
            _ev(spark, rows), ("view", "click", "view")
        ).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE ev (user_id BIGINT, event_type VARCHAR, ts TIMESTAMP)"
    )
    con.executemany("INSERT INTO ev VALUES (?, ?, ?)", rows)
    want = {
        u: d
        for u, d in con.execute(
            """
            WITH t1 AS (SELECT user_id, MIN(ts) AS t1 FROM ev
                        WHERE event_type = 'view' GROUP BY 1),
            t2 AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM ev e
                   JOIN t1 USING (user_id)
                   WHERE e.event_type = 'click' AND e.ts > t1.t1 GROUP BY 1),
            t3 AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM ev e
                   JOIN t2 USING (user_id)
                   WHERE e.event_type = 'view' AND e.ts > t2.t2 GROUP BY 1)
            SELECT t1.user_id,
                   1 + (t2.user_id IS NOT NULL)::INT
                     + (t3.user_id IS NOT NULL)::INT AS depth
            FROM t1 LEFT JOIN t2 USING (user_id) LEFT JOIN t3 USING (user_id)
            """
        ).fetchall()
    }
    assert got == want == {1: 3, 2: 2, 3: 2, 4: 2}


def test_funnel_horizon_exact_on_fractional_seconds(spark):
    """Horizon is an exact interval bound (docstring contract): a step at
    exactly t1 + horizon counts, one a fraction of a second past it does
    not — matching the registry oracle's `t - t1 <= INTERVAL n SECONDS`
    (DuckDB interval comparison is exact too; truncating date_diff would
    silently admit horizon + 0.9 s)."""
    rows = [
        # user 1: click at exactly t1 + horizon — counts
        (1, "view", "2024-01-01T00:00:00.500"),
        (1, "click", "2024-01-01T00:01:00.500"),
        # user 2: click at t1 + horizon + 0.25 s — out
        (2, "view", "2024-01-01T00:00:00.250"),
        (2, "click", "2024-01-01T00:01:00.500"),
    ]
    got = {
        r["user_id"]: r["steps_reached"]
        for r in funnel_reach(
            _ev(spark, rows), ("view", "click"), horizon_seconds=60
        ).collect()
    }
    assert got == {1: 2, 2: 1}


def test_funnel_same_timestamp_is_not_ordered(spark):
    """Strict order: a click at exactly the view's timestamp doesn't count
    (ties are not a progression)."""
    rows = [
        (1, "view", "2024-01-01T00:00:00"),
        (1, "click", "2024-01-01T00:00:00"),
    ]
    reach = funnel_reach(_ev(spark, rows), ("view", "click")).collect()[0]
    assert reach["steps_reached"] == 1


def test_funnel_counts_monotone(spark, sf_dir):
    from user_behavior_spark_pipeline_spark.sources.tables import load_table

    out = {
        r["step_index"]: r["n_users"]
        for r in funnel_counts(
            load_table(spark, sf_dir, "events"),
            ("view", "click", "purchase"),
            horizon_seconds=7 * 86400,
        ).collect()
    }
    assert set(out) == {1, 2, 3}
    assert out[1] >= out[2] >= out[3] >= 0
    assert out[1] > 0


def test_funnel_counts_without_step1_events_is_all_zero(spark, sf_dir):
    """No user enters the funnel: every step still comes back, with 0
    users, and the step table is JVM literals (no Python RDD scan)."""
    from pyspark.sql import functions as F

    from user_behavior_spark_pipeline_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") != "view"
    )
    df = funnel_counts(events, ("view", "click", "purchase"))
    assert df.schema.simpleString() == (
        "struct<step_index:bigint,step:string,n_users:bigint>"
    )
    assert sorted(tuple(r) for r in df.collect()) == [
        (1, "view", 0),
        (2, "click", 0),
        (3, "purchase", 0),
    ]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" not in plan, plan


def test_retention_semantics_on_constructed_cohorts(spark):
    from user_behavior_spark_pipeline_spark.operators.funnel import (
        retention_matrix,
    )

    rows = [
        # user 1: first event Thu 1970-01-01 (epoch day 0 -> cohort start
        # 1970-01-01), active again 8 days later (period 1)
        (1, "click", "1970-01-01T10:00:00"),
        (1, "view", "1970-01-09T10:00:00"),
        # user 2: same cohort bucket (Jan 3 is epoch day 2, same 7-day
        # bucket), never returns
        (2, "click", "1970-01-03T00:00:00"),
        # user 3: next bucket
        (3, "view", "1970-01-08T00:00:00"),
    ]
    ev = spark.createDataFrame(
        [(u, t, __import__("datetime").datetime.fromisoformat(ts)) for u, t, ts in rows],
        "user_id long, event_type string, ts timestamp_ntz",
    )
    got = {
        (r["cohort_day"], r["periods_later"]): r["n_active"]
        for r in retention_matrix(ev, bucket_days=7).collect()
    }
    assert got == {
        ("1970-01-01", 0): 2,  # users 1 and 2 active in their cohort week
        ("1970-01-01", 1): 1,  # user 1 retained into week 1
        ("1970-01-08", 0): 1,  # user 3's own cohort
    }


def test_funnel_reach_plan_has_single_exchange(spark, sf_dir):
    """The module docstring claims ONE shuffle for funnel_reach — pin it
    (the user_id aggregation's Exchange; everything after is row-local)."""
    from user_behavior_spark_pipeline_spark.sources.tables import load_table

    plan = funnel_reach(
        load_table(spark, sf_dir, "events"), ("view", "click", "purchase")
    )._jdf.queryExecution().executedPlan().toString()
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, f"{n_exchanges} exchanges:\n{plan}"
    # and the step filter reaches the scan
    assert "PushedFilters" in plan and "event_type" in plan.split("PushedFilters")[1][:200], plan


def test_retention_plan_exchange_budget(spark, sf_dir):
    """Pin retention_matrix's physical shuffle budget: the per-user
    first-day window's user_id exchange, which the distinct count's
    per-user step reuses, + the final (cohort, offset) exchange = 2 hash
    exchanges and no join (a regression to a self-join, a per-row or a
    re-shuffled shape shows up here first)."""
    from user_behavior_spark_pipeline_spark.operators.funnel import (
        retention_matrix,
    )
    from user_behavior_spark_pipeline_spark.sources.tables import load_table

    plan = (
        retention_matrix(load_table(spark, sf_dir, "events"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    n = plan.count("Exchange hashpartitioning")
    assert n <= 2, f"{n} hash exchanges:\n{plan[:2000]}"
    assert "Join" not in plan, plan[:2000]


# ---------------------------------------------------------------------------
# Property-based: funnel_reach must equal a naive first-entry-anchored chain
# walk for ANY event configuration — random users, step orders, duplicate
# timestamps, users missing step 1.
# ---------------------------------------------------------------------------

import datetime

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_STEPS = ["s1", "s2", "s3"]


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    events=st.lists(
        st.tuples(
            st.integers(0, 3),  # user
            st.sampled_from(_STEPS + ["noise"]),
            st.integers(0, 30),  # hour offset
        ),
        min_size=1,
        max_size=25,
    ),
    horizon_h=st.one_of(st.none(), st.integers(1, 20)),
)
def test_funnel_reach_matches_naive_reference_property(
    spark, events, horizon_h
):
    from user_behavior_spark_pipeline_spark.operators.funnel import (
        funnel_reach,
    )

    base = datetime.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [
            (u, et, base + datetime.timedelta(hours=h), i)
            for i, (u, et, h) in enumerate(events)
        ],
        "user_id long, event_type string, ts timestamp, event_id long",
    )
    got = {
        r["user_id"]: r["steps_reached"]
        for r in funnel_reach(
            df,
            _STEPS,
            horizon_seconds=horizon_h * 3600 if horizon_h else None,
        ).collect()
    }

    def naive(user):
        per_step = {
            s: sorted(h for (u, et, h) in events if u == user and et == s)
            for s in _STEPS
        }
        if not per_step["s1"]:
            return None  # user absent from the result
        t_prev = per_step["s1"][0]  # FIRST-ENTRY anchor
        t1 = t_prev
        times = [t1]
        for s in _STEPS[1:]:
            nxt = [h for h in per_step[s] if h > t_prev]
            if not nxt:
                break
            t_prev = nxt[0]
            times.append(t_prev)
        depth = len(times)
        if horizon_h is not None:
            depth = sum(1 for t in times if t - t1 <= horizon_h)
        return depth

    want = {
        u: naive(u) for u in {u for (u, _, _) in events} if naive(u) is not None
    }
    assert got == want, (events, horizon_h)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    events=st.lists(
        st.tuples(
            st.integers(0, 3),
            st.sampled_from(["s1", "s2", "noise"]),
            st.integers(0, 30),
        ),
        min_size=1,
        max_size=25,
    ),
    horizon_h=st.one_of(st.none(), st.integers(1, 20)),
)
def test_funnel_reach_repeated_steps_property(spark, events, horizon_h):
    """Property twin of the naive-reference test for a REPEATED-type
    funnel (s1, s2, s1): greedy chained-min-after per position."""
    from user_behavior_spark_pipeline_spark.operators.funnel import (
        funnel_reach,
    )

    steps = ["s1", "s2", "s1"]
    base = datetime.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [
            (u, et, base + datetime.timedelta(hours=h), i)
            for i, (u, et, h) in enumerate(events)
        ],
        "user_id long, event_type string, ts timestamp, event_id long",
    )
    got = {
        r["user_id"]: r["steps_reached"]
        for r in funnel_reach(
            df, steps, horizon_seconds=horizon_h * 3600 if horizon_h else None
        ).collect()
    }

    def naive(user):
        per_type = {
            s: sorted(h for (u, et, h) in events if u == user and et == s)
            for s in set(steps)
        }
        if not per_type[steps[0]]:
            return None
        t1 = per_type[steps[0]][0]
        t_prev, times = t1, [t1]
        for s in steps[1:]:
            nxt = [h for h in per_type[s] if h > t_prev]
            if not nxt:
                break
            t_prev = nxt[0]
            times.append(t_prev)
        depth = len(times)
        if horizon_h is not None:
            depth = sum(1 for t in times if t - t1 <= horizon_h)
        return depth

    want = {
        u: naive(u)
        for u in {u for (u, _, _) in events}
        if naive(u) is not None
    }
    assert got == want, (events, horizon_h)
