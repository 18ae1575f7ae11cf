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

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


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
    # map event types to dense ids; each STEP POSITION then references a
    # type id — the step list itself travels as a literal array the fold
    # indexes by depth (supports repeated types at different positions)
    uniq = list(dict.fromkeys(steps))
    tid_of = {t: i for i, t in enumerate(uniq)}
    tid_col = F.when(F.col(type_col) == uniq[0], F.lit(0))
    for t in uniq[1:]:
        tid_col = tid_col.when(F.col(type_col) == t, F.lit(tid_of[t]))
    step_tids = F.array(*[F.lit(tid_of[s]).cast("int") for s in steps])
    # types appearing at positions >= 2 can advance the chain; an event
    # type appearing ONLY as step 1 never needs collecting
    later_types = set(steps[1:])
    ev = events.filter(F.col(type_col).isin(*steps)).select(
        F.col(user_col).alias("user_id"),
        tid_col.cast("int").alias("tid"),
        F.col(ts_col).alias("ts"),
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
    later_tids = sorted(tid_of[t] for t in later_types)
    agg = ev.groupBy("user_id").agg(
        F.min(
            F.when(F.col("tid") == tid_of[steps[0]], F.col("ts"))
        ).alias("t1"),
        F.collect_list(
            F.when(
                F.col("tid").isin(later_tids), F.struct("ts", "tid")
            )
        ).alias("_evts"),
    )
    out = agg.filter(F.col("t1").isNotNull())
    # array_sort on struct(ts, tid): time order, tid as tie-break — ties
    # in ts cannot advance the chain either way (strict > below), so the
    # tie-break never changes the result, it only makes the scan stable
    init = F.struct(
        F.lit(1).cast("int").alias("depth"),
        F.array(F.col("t1")).alias("times"),
    )

    def _advance(acc, e):
        # F.get is 0-based and NULL-safe past the end: at full depth the
        # required-type lookup is NULL, ok is NULL, and the fold keeps acc
        # (element_at would raise under ANSI when depth == len(steps))
        ok = (
            e["tid"] == F.get(step_tids, acc["depth"].cast("int"))
        ) & (e["ts"] > F.element_at(acc["times"], -1))
        return F.when(
            ok,
            F.struct(
                (acc["depth"] + F.lit(1).cast("int")).alias("depth"),
                F.concat(acc["times"], F.array(e["ts"])).alias("times"),
            ),
        ).otherwise(acc)

    # times = [t1, t2, ... t_depth]: the greedy chain's timestamps
    times = F.aggregate(F.array_sort(F.col("_evts")), init, _advance)["times"]
    out = out.select("user_id", "t1", times.alias("_times"))
    if horizon_seconds is None:
        reached = F.size("_times")
    else:
        # steps inside the horizon are prefix-monotone (times ascend);
        # NTZ-safe seconds: NTZ - NTZ is a day-time interval, compared
        # against a literal interval — no session-timezone dependence
        bound = F.make_dt_interval(
            F.lit(0), F.lit(0), F.lit(0), F.lit(horizon_seconds)
        )
        reached = F.size(
            F.filter(F.col("_times"), lambda t: (t - F.col("t1")) <= bound)
        )
    return out.select(
        "user_id",
        reached.cast("long").alias("steps_reached"),
        F.col("t1").alias("t_first"),
        F.element_at(F.col("_times"), reached.cast("int")).alias("t_last"),
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
    counts = reach.agg(
        *[
            F.count_if(F.col("steps_reached") >= k).alias(f"_n{k}")
            for k in range(1, len(steps) + 1)
        ]
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(k).cast("long").alias("step_index"),
                F.lit(s).alias("step"),
                F.col(f"_n{k}").alias("n_users"),
            )
            for k, s in enumerate(steps, start=1)
        ]
    )
    return counts.select(F.inline(rows))


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
    # a NULL user has no cohort (the oracle's inner join drops it)
    ev = events.where(F.col(user_col).isNotNull()).select(
        F.col(user_col).alias("user_id"),
        F.date_trunc("day", F.col(ts_col)).alias("day"),
    )
    # snap the cohort to its epoch-aligned bucket start so every member of
    # a calendar bucket shares one cohort label
    cohort_start = F.date_sub(
        F.col("first_day").cast("date"),
        F.datediff(
            F.col("first_day").cast("date"), F.lit("1970-01-01").cast("date")
        )
        % bucket_days,
    )
    first_day = F.min("day").over(Window.partitionBy("user_id"))
    cohorted = ev.withColumn("first_day", first_day).withColumn(
        "cohort_start", cohort_start
    ).select(
        "user_id",
        "cohort_start",
        (
            F.datediff(F.col("day").cast("date"), F.col("cohort_start"))
            / bucket_days
        )
        .cast("long")
        .alias("periods_later"),
    )
    return cohorted.groupBy("cohort_start", "periods_later").agg(
        F.countDistinct("user_id").alias("n_active")
    ).select(
        F.date_format("cohort_start", "yyyy-MM-dd").alias("cohort_day"),
        "periods_later",
        "n_active",
    )
