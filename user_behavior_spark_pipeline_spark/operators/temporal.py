"""Temporal join operators Spark has no primitive for: as-of (nearest prior
observation) and interval/range joins — staples of event-stream analytics
that the reference's single-table pipeline never reached (its README wishes
for joins at README.md:819; SURVEY.md §2.5 OP-X-JOIN extensions).

Both are built so the expensive path is an EQUI-join Catalyst can plan:

- **as-of**: union the two sides and run ONE window pass per key — no join
  at all. The right side's payload is carried forward with
  ``last(..., ignorenulls=True)`` over an event-time-ordered window, so each
  left row sees the most recent right row at-or-before its timestamp.
  Cost: one shuffle on the key (the same minimum any per-key join pays);
  state per task is a single carried value, never a buffered range. This is
  the classic scalable formulation — a naive ``l.ts >= r.ts`` theta-join
  explodes into a per-key cross product at 100 TB.
- **range join**: the interval side is exploded into fixed-width bands and
  the fact side joins on ``floor(value / width)`` — an equi-join (broadcast
  when the interval table is small) plus a residual filter, instead of the
  BroadcastNestedLoopJoin Spark would otherwise plan for a pure inequality
  join. Band width trades explode factor against residual selectivity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    payload: str,
    direction: str = "backward",
) -> DataFrame:
    """Left as-of join: every ``left`` row annotated with ``payload`` from
    the nearest ``right`` row with the same ``key`` — the latest at-or-
    before ``left_ts`` (``direction="backward"``, the default) or the
    earliest at-or-after it (``"forward"``, e.g. next-touch attribution).
    Ties at equal timestamps see the right row; null when no such right
    row exists.

    ``right`` must be unique per (key, right_ts) — pre-aggregate it
    otherwise, or which-row-wins is undefined. Null payloads on the right
    are skipped by ``ignorenulls`` (read: "no observation"), so encode
    observed-but-null explicitly if that distinction matters.

    Returns all ``left`` columns plus ``asof_<payload>``."""
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction}")
    l_tagged = left.withColumn("_side", F.lit(1)).withColumn(
        "_ts", F.col(left_ts)
    )
    r_tagged = (
        right.select(
            F.col(key),
            F.col(right_ts).alias("_ts"),
            F.col(payload).alias("_payload"),
        )
        .withColumn("_side", F.lit(0))
    )
    u = l_tagged.unionByName(r_tagged, allowMissingColumns=True)
    # right rows (_side=0) sort before left rows at equal _ts, so an equal
    # timestamp counts as a match in either direction; forward is the same
    # one-pass carry over the reversed timestamp order
    ts_order = F.col("_ts").asc() if direction == "backward" else F.col("_ts").desc()
    w = (
        Window.partitionBy(key)
        .orderBy(ts_order, F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        u.withColumn(
            f"asof_{payload}", F.last("_payload", ignorenulls=True).over(w)
        )
        .filter(F.col("_side") == 1)
        .drop("_side", "_ts", "_payload")
    )


def range_join_banded(
    facts: DataFrame,
    intervals: DataFrame,
    value_col: str,
    lo_col: str,
    hi_col: str,
    band_width: float,
) -> DataFrame:
    """Join each fact row to the interval rows with ``lo <= value < hi``,
    as a banded equi-join.

    ``intervals`` is exploded to one row per covered band of width
    ``band_width`` (pick it near the typical interval length: explode
    factor ≈ interval_len / width, residual false-positive rate ≈
    width / interval_len). Intervals may overlap — a fact row then matches
    each containing interval, exactly like the theta-join would.

    The EXPLODED interval table is broadcast, so it must fit the
    broadcast budget (interval sides are dimension-sized: tiers, bands)."""
    banded_facts = facts.withColumn(
        "_band", F.floor(F.col(value_col) / band_width).cast("long")
    )
    lo_band = F.floor(F.col(lo_col) / band_width).cast("long")
    # hi is exclusive: an interval ending exactly on a band boundary does
    # not cover that band
    hi_band = F.when(
        F.col(hi_col) % band_width == 0,
        (F.col(hi_col) / band_width).cast("long") - 1,
    ).otherwise(F.floor(F.col(hi_col) / band_width).cast("long"))
    # Empty/inverted intervals (hi <= lo) match nothing under the
    # residual predicate — but WITHOUT this filter they reach
    # F.sequence(lo_band, hi_band) with hi_band < lo_band, which Spark
    # interprets as a DESCENDING sequence: one dirty row with swapped
    # bounds materializes a (lo_band − hi_band + 1)-element band array —
    # up to executor-OOM / 'too long sequence' scale — before the filter
    # can reject its matches. Dropping them first makes the sequence
    # provably ascending (hi > lo ⇒ ceil(hi/w) − 1 ≥ floor(lo/w)).
    banded_ivals = F.broadcast(
        intervals.filter(F.col(hi_col) > F.col(lo_col)).withColumn(
            "_band", F.explode(F.sequence(lo_band, hi_band))
        )
    )
    return (
        banded_facts.join(banded_ivals, "_band")
        .filter(
            (F.col(value_col) >= F.col(lo_col))
            & (F.col(value_col) < F.col(hi_col))
        )
        .drop("_band")
    )


def resample_dense(
    events: DataFrame,
    key_col: str = "event_type",
    bucket_seconds: int = 3600,
    max_buckets: int = 200_000,
) -> DataFrame:
    """Dense time-series resampling: per-key counts on a FIXED bucket grid
    with every gap zero-filled — what downstream rolling windows, spike
    baselines, and chart layers assume, and what a plain groupBy cannot
    produce (it emits only buckets that have data).

    Shape: one groupBy((key, bucket)) for the sparse counts, then the
    dense (key x bucket-grid) frame LEFT-joins them. The grid is built
    from the GLOBAL min/max bucket (a 2-value aggregate, broadcast as a
    scalar-subquery cross join — one row, not corpus-sized) exploded per
    key; grid size = keys x span/width, independent of event count, and
    the explode carries only (key, two longs). At 100 TB the sparse agg
    is the only event-sized stage and it is map-side combinable.

    Bucket = floor(epoch/width)*width, emitted as epoch seconds (an
    exact integer — the engine-portable form; callers cast to timestamp
    for display).

    ``max_buckets`` clamps the grid END to lo + max_buckets·width: ONE
    corrupt far-future timestamp (year-2100 in a 2024 corpus) would
    otherwise inflate the grid to keys × millions of buckets — the same
    dirty-metadata blowup sample_frames guards against (its max_frames
    cap). Sparse counts beyond the clamped grid still appear (the LEFT
    join keeps the grid side only — clamp changes zero-fill reach, never
    drops real data... it bounds the fabricated rows, not the observed
    ones). The default (200k ≈ 22 years hourly) never binds on sane
    data; raise it deliberately when the span is real."""
    bucket = (
        F.floor(
            F.unix_timestamp(F.col("ts").cast("timestamp")) / bucket_seconds
        ).cast("long")
        * bucket_seconds
    )
    sparse = (
        events.select(F.col(key_col).alias("key"), bucket.alias("bucket_s"))
        .groupBy("key", "bucket_s")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    span = events.select(
        F.min(bucket).alias("_lo"),
        F.least(
            F.max(bucket),
            F.min(bucket) + F.lit(int(max_buckets) * bucket_seconds),
        ).alias("_hi"),
    )
    keys = events.select(F.col(key_col).alias("key")).distinct()
    grid = keys.crossJoin(F.broadcast(span)).select(
        "key",
        F.explode(
            F.sequence(F.col("_lo"), F.col("_hi"), F.lit(bucket_seconds))
        ).alias("bucket_s"),
    )
    # FULL outer, not left: when the clamp binds, real counts beyond the
    # grid end must still appear (the clamp bounds the fabricated zero
    # rows, never the observed data)
    return grid.join(sparse, ["key", "bucket_s"], "full_outer").select(
        "key",
        "bucket_s",
        F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
    )
