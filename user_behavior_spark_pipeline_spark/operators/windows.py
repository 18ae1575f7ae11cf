"""Window functions: analytic/ranking windows and event-time windows
(OP-X-WINDOW / OP-X-EVENTWINDOW, SURVEY.md §2.5).

The reference has none of these (processing-time only, no stateful ops —
"stateOperators": [] in every progress log, README.md:479). These are the
Spark-native forms:

- ranking/running windows: ``Window.partitionBy().orderBy()`` — one shuffle
  on the partition key; rows within a partition are sorted locally. Skewed
  partition keys (a whale user) are the scale risk; top-k is bounded by
  pushing a rank filter immediately after the window.
- event-time windows: ``F.window`` / ``F.session_window`` — tumbling windows
  are a pure group-by (map-side combinable); sliding windows replicate each
  row window/slide times; session windows need a per-key sort.

Running sums use exact per-row integer cents (see registry docstring) so the
cumulative values are engine-independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..sqltext import literal


def top_orders_per_customer(orders: DataFrame, k: int = 3) -> DataFrame:
    """Top-k orders per customer by price; deterministic tie-break on key."""
    return (
        orders.selectExpr(
            "*",
            "row_number() OVER (PARTITION BY o_custkey"
            " ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn",
        )
        .where(f"rn <= {int(k)}")
        .selectExpr("o_custkey", "o_orderkey", "rn")
    )


def running_spend_per_customer(orders: DataFrame) -> DataFrame:
    """Cumulative spend per customer in order-date order (exact cents)."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.sum(cents).over(w).alias("run_spend_cents"),
    )


def days_since_prev_order(orders: DataFrame) -> DataFrame:
    """lag() analytic: gap in days between consecutive orders per customer."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev = F.lag(F.col("o_orderdate")).over(w)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.datediff(F.col("o_orderdate").cast("date"), prev.cast("date")).alias(
            "days_since_prev"
        ),
    )


def events_per_day(events: DataFrame) -> DataFrame:
    """Tumbling 1-day event-time window: counts + distinct users.

    Uses ``F.window`` (the Structured-Streaming-compatible form); the start
    is emitted as a DATE so values compare across engines."""
    return (
        events.groupBy(F.window("ts", "1 day").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("num_events"),
            F.countDistinct("user_id").alias("num_users"),
        )
        .select(
            # ISO string: renders identically in every engine/pandas dtype
            F.date_format("w.start", "yyyy-MM-dd").alias("day"),
            "num_events",
            "num_users",
        )
    )


def events_sliding_2d_1d(events: DataFrame) -> DataFrame:
    """Sliding window: 2-day length, 1-day slide — each event lands in two
    windows (row replication factor = window/slide = 2)."""
    return (
        events.groupBy(F.window("ts", "2 days", "1 day").alias("w"))
        .agg(F.count(F.lit(1)).alias("num_events"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd").alias("window_start"),
            "num_events",
        )
    )


def user_sessions(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Session windows per user (gap-based). Emits one row per session with
    the event count and the session start as epoch seconds (exact across
    engines; sub-second truncated)."""
    return (
        events.groupBy("user_id", F.expr(f"session_window(ts, {literal(gap)}) AS w"))
        .agg(F.expr("count(1) AS num_events"))
        .selectExpr(
            "user_id", "unix_timestamp(w.start) AS session_start_s", "num_events"
        )
    )


def rolling_weekly_spend(events: DataFrame) -> DataFrame:
    """RANGE-frame analytic window: per user, each day's trailing-7-day
    spend — a range frame over event-time seconds, so gaps in the day
    sequence are handled by VALUE distance, not row offsets (a rowsBetween
    frame would silently widen across missing days).

    Two shuffles total: the daily pre-aggregation and the per-user window
    sort — the window runs over the (small) daily table, never raw events.

    The range key is a DAY NUMBER (datediff from epoch), not
    unix_timestamp: unix_timestamp interprets the NTZ day in the session
    timezone, so in a DST zone the 7th-prior day sits 522000 s (fall) or
    514800 s (spring) away and a fixed −6·86400 bound silently covers 6
    or 8 days. Day-number distance is timezone-independent wall-clock
    arithmetic — the repo-wide NTZ convention (see funnel horizon)."""
    daily = events.groupBy(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day_ts")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("day_cents"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.datediff(F.col("day_ts"), F.lit("1970-01-01")))
        .rangeBetween(-6, 0)
    )
    return daily.select(
        "user_id",
        F.date_format("day_ts", "yyyy-MM-dd").alias("day"),
        F.sum("day_cents").over(w).alias("weekly_cents"),
    )


def order_value_distribution(orders: DataFrame) -> DataFrame:
    """Distribution analytics per order-status: ntile quartile, percent_rank
    and cume_dist over totalprice (tie-broken by orderkey so every rank
    function is deterministic), scaled to integers for exact cross-engine
    comparison. One shuffle (the partitionBy), ranks computed in one sort."""
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    return orders.select(
        "o_orderkey",
        "o_orderstatus",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w) * 1_000_000).cast("long").alias("pct_rank_x1e6"),
        F.round(F.cume_dist().over(w) * 1_000_000).cast("long").alias("cume_dist_x1e6"),
    )
