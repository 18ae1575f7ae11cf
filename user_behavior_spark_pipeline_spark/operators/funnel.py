"""Funnel analysis — ordered event-sequence conversion, the canonical
user-behavior query the reference's domain (game events) implies but its
engine could never express (no joins, no windows — README.md:819).

Design: ONE shuffle. Events are pre-filtered to the funnel's step types
(scan-side — at 100 TB this is the pushed-down predicate that makes the
whole thing cheap), then aggregated once per user: step 1 needs only its
min timestamp; the later steps' events are kept as ONE (ts, step) array
per user (bounded by the user's own step-event count, never the raw
event stream), and the ordered chain is a single sorted fold over that
array — O(n log n) row-local, so a whale user with n step events costs
one sort, not n passes (the replication probe measured 320k-step-event
whales at seconds; the earlier per-step-column formulation was
quadratic under projection collapse — see funnel_reach). A whale user
with millions of NON-step events costs nothing; step-event whales can
additionally be capped upstream (e.g. dedupe to per-(user, step,
minute) firsts — same funnel answer for any horizon coarser than the
bucket).

Semantics (strict-order funnel, FIRST-ENTRY anchored): the horizon is
measured from the user's FIRST step-1 event — t1 = global min ts of
step1, t_k = min ts of step_k strictly after t_{k-1} — and
greedy-earliest is optimal for that anchor (taking the earliest valid
predecessor never hurts later steps). This deliberately does NOT
re-anchor: a user whose only within-horizon chain starts at a LATER
step-1 event counts as not-converted, which is the common product
analytics convention ("convert within H of first entering the funnel")
and what the oracle mirrors. Existential semantics ("any chain anywhere
within some horizon window") would require per-candidate-anchor
re-evaluation — a different, strictly more expensive operator.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sqltext import ident, literal


def funnel_reach(
    events: DataFrame,
    steps: Sequence[str],
    horizon_seconds: int | None = None,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-user funnel depth: (user_id, steps_reached, t_first, t_last).

    ``steps_reached`` = how many ordered steps the user completed
    (1..len(steps); users with no step-1 event don't appear).
    ``horizon_seconds`` bounds t_last - t_first when given. The horizon
    is an EXACT interval comparison including fractional seconds: a step
    at precisely t1 + horizon counts, one at t1 + horizon + 1 ms does
    not (the registry oracle compares ``t - t1 <= INTERVAL n SECONDS``
    on the DuckDB side with the same exactness; pinned by
    tests/test_funnel.py::test_funnel_horizon_exact_on_fractional_seconds).

    Repeated step types (('view','click','view')) are supported: the
    fold advances on POSITION — each event carries its type id and the
    automaton compares it against the type required at depth+1, so one
    'view' event can serve step 1 and a later one step 3 (the pre-r04
    type-to-first-index mapping stalled at the repeat; r04 rejected
    loudly; this generalizes). Greedy-earliest stays optimal with
    repeats: taking the earliest valid event of the required type
    minimizes t_k, which can only widen step k+1's choices (the same
    exchange argument as the distinct case — later steps only need
    events strictly AFTER t_k, never the one consumed).
    """
    if len(steps) < 2:
        raise ValueError("a funnel needs at least 2 steps")
    user, etype, ts = ident(user_col), ident(type_col), ident(ts_col)
    # map event types to dense ids; each STEP POSITION then references a
    # type id — the step list itself travels as a literal array the fold
    # indexes by depth (supports repeated types at different positions)
    uniq = list(dict.fromkeys(steps))
    tid_of = {t: i for i, t in enumerate(uniq)}
    tid_col = " ".join(
        f"WHEN {etype} = {literal(t)} THEN {i}" for t, i in tid_of.items()
    )
    step_tids = ", ".join(f"CAST({tid_of[s]} AS INT)" for s in steps)
    # types appearing at positions >= 2 can advance the chain; an event
    # type appearing ONLY as step 1 never needs collecting
    later_tids = ", ".join(
        str(i) for i in sorted(tid_of[t] for t in set(steps[1:]))
    )
    ev = events.where(
        f"{etype} IN ({', '.join(literal(s) for s in steps)})"
    ).selectExpr(
        f"{user} AS user_id",
        f"CAST(CASE {tid_col} END AS INT) AS tid",
        f"{ts} AS ts",
    )
    # ONE array of (ts, idx) per user. The chain is then a single sorted
    # fold per row — t_k = earliest step-k event strictly after t_{k-1} is
    # exactly what a time-ordered greedy scan computes. The previous form
    # (per-step filter+array_min columns, each lambda comparing against
    # the PREVIOUS step's t column) was O(n^k) for whale users: projection
    # collapse inlines t_{k-1}'s whole array expression into t_k's
    # per-element lambda (the HOF-inlining pitfall documented at
    # dedup.shingles), re-evaluating it once per element. Measured: 10
    # users x 320k events took 943 s; the sorted fold takes seconds.
    agg = ev.groupBy("user_id").agg(
        F.expr(f"min(CASE WHEN tid = {tid_of[steps[0]]} THEN ts END) AS t1"),
        F.expr(
            f"collect_list(CASE WHEN tid IN ({later_tids}) THEN struct(ts, tid) END)"
            " AS _evts"
        ),
    )
    # array_sort on struct(ts, tid): time order, tid as tie-break — ties
    # in ts cannot advance the chain either way (strict > below), so the
    # tie-break never changes the result, it only makes the scan stable.
    # get() is 0-based and NULL-safe past the end: at full depth the
    # required-type lookup is NULL, the step test is NULL, and the fold
    # keeps acc (element_at would raise under ANSI when depth ==
    # len(steps)). times = [t1, t2, ... t_depth]: the greedy chain.
    times = (
        "aggregate(array_sort(_evts),"
        " named_struct('depth', CAST(1 AS INT), 'times', array(t1)),"
        " (acc, e) -> CASE WHEN"
        f" e.tid = get(array({step_tids}), CAST(acc.depth AS INT))"
        " AND e.ts > element_at(acc.times, -1)"
        " THEN named_struct('depth', acc.depth + CAST(1 AS INT),"
        " 'times', concat(acc.times, array(e.ts)))"
        " ELSE acc END).times"
    )
    out = agg.where("t1 IS NOT NULL").selectExpr(
        "user_id", "t1", f"{times} AS _times"
    )
    if horizon_seconds is None:
        reached = "size(_times)"
    else:
        # steps inside the horizon are prefix-monotone (times ascend);
        # NTZ-safe seconds: NTZ - NTZ is a day-time interval, compared
        # against a literal interval — no session-timezone dependence
        reached = (
            "size(filter(_times, t -> (t - t1)"
            f" <= make_dt_interval(0, 0, 0, {int(horizon_seconds)})))"
        )
    return out.selectExpr(
        "user_id",
        f"CAST({reached} AS BIGINT) AS steps_reached",
        "t1 AS t_first",
        f"element_at(_times, CAST({reached} AS INT)) AS t_last",
    )


def funnel_counts(
    events: DataFrame,
    steps: Sequence[str],
    horizon_seconds: int | None = None,
    **kwargs,
) -> DataFrame:
    """Classic funnel report: one row per step with the number of users
    whose ordered journey reached at least that step — monotonically
    non-increasing by construction.

    One global aggregate over ``funnel_reach``: a ``count_if(steps_reached
    >= k)`` per step, inlined into ``(step_index long, step string,
    n_users long)`` rows. The step table is JVM literals, so no Python
    task runs, and a funnel with no step-1 event still yields every step
    with 0 users."""
    reach = funnel_reach(events, steps, horizon_seconds, **kwargs)
    n = range(1, len(steps) + 1)
    counts = reach.selectExpr(
        *[f"count_if(steps_reached >= {k}) AS _n{k}" for k in n]
    )
    rows = ", ".join(
        f"named_struct('step_index', CAST({k} AS BIGINT),"
        f" 'step', {literal(s)}, 'n_users', _n{k})"
        for k, s in zip(n, steps)
    )
    return counts.selectExpr(f"inline(array({rows}))")


def retention_matrix(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    bucket_days: int = 7,
) -> DataFrame:
    """Cohort retention: users bucketed by their FIRST event's period
    (weekly by default), counted as retained in each later period they
    were active — the classic retention triangle, the funnel's companion
    user-behavior report.

    Shuffle profile (plan-pinned in tests): one scan of the events and
    two hash exchanges, no join. The user's first day is a window
    ``min`` over the user_id partitioning; the (cohort, offset) distinct
    count's per-user step reuses that partitioning, and only its final
    step shuffles by (cohort, offset). Offsets are wall-clock day
    arithmetic (NTZ-safe date_trunc + datediff), so results are
    identical in any session timezone.

    Columns: cohort_day (first period start, yyyy-MM-dd), periods_later
    (0 = the cohort period itself), n_active.
    """
    user, ts = ident(user_col), ident(ts_col)
    # a NULL user has no cohort (the oracle's inner join drops it)
    ev = events.where(f"{user} IS NOT NULL").selectExpr(
        f"{user} AS user_id", f"date_trunc('day', {ts}) AS day"
    )
    # snap the cohort to its epoch-aligned bucket start so every member of
    # a calendar bucket shares one cohort label
    first = "CAST(first_day AS DATE)"
    cohorted = (
        ev.selectExpr("*", "min(day) OVER (PARTITION BY user_id) AS first_day")
        .selectExpr(
            "*",
            f"date_sub({first}, datediff({first}, CAST('1970-01-01' AS DATE))"
            f" % {int(bucket_days)}) AS cohort_start",
        )
        .selectExpr(
            "user_id",
            "cohort_start",
            f"CAST(datediff(CAST(day AS DATE), cohort_start) / {int(bucket_days)}"
            " AS BIGINT) AS periods_later",
        )
    )
    return (
        cohorted.groupBy("cohort_start", "periods_later")
        .agg(F.expr("count(DISTINCT user_id) AS n_active"))
        .selectExpr(
            "date_format(cohort_start, 'yyyy-MM-dd') AS cohort_day",
            "periods_later",
            "n_active",
        )
    )
