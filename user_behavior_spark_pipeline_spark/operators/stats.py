"""Statistical aggregates with exact-integer internals.

Spark's native `corr`/`covar_samp` stream doubles through an online update —
the result depends on partition merge order, so it can't be hash-compared
across engines (or even across two runs with different partitioning). Here
every SUM is over scaled integers (exact, associative, order-free); only the
final closed-form division happens in floating point, on identical integer
inputs in both engines — deterministic by construction. Same single-pass,
map-side-combining shuffle profile as the native aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def corr_quantity_price(lineitem: DataFrame) -> DataFrame:
    """Pearson correlation of quantity vs extended price per return flag,
    from exact integer moment sums (qty ×100, price in cents ×100).

    The second-moment sums run in DECIMAL(38,0): the per-row price² term
    alone reaches ~1.1·10¹⁴ (l_extendedprice ~10⁵ → 10⁷ cents·100), so an
    int64 sum overflows around 10⁵ rows per group — at TPC-H SF1 the
    aggregate would throw under ANSI mode (Spark 4 default) or silently
    wrap without it. Decimal sums stay exact to 10³⁸ (≈10²⁴ rows of
    price², i.e. any conceivable scale), partial sums remain associative
    and map-side combinable, and the final CAST(... AS DOUBLE) sees the
    same IEEE value the oracle's HUGEINT sums produce (DuckDB promotes
    BIGINT sums to 128-bit on its own — Spark needs the decimal to
    match)."""
    qty = F.round(F.col("l_quantity") * 100).cast("long")
    price = F.round(F.col("l_extendedprice") * 100).cast("long")
    dec = "decimal(38,0)"
    sums = lineitem.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(qty).alias("sx"),
        F.sum(price).alias("sy"),
        # per-row products fit int64 comfortably (max ~1.1e14); only the
        # SUM needs the decimal widening
        F.sum((qty * qty).cast(dec)).alias("sxx"),
        F.sum((price * price).cast(dec)).alias("syy"),
        F.sum((qty * price).cast(dec)).alias("sxy"),
    )
    # identical expression shape to the oracle SQL: ints -> doubles once,
    # then the closed form — both engines see the same IEEE inputs
    return sums.select(
        "l_returnflag",
        "n",
        F.expr(
            "CAST(ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) "
            " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) "
            "/ SQRT(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) "
            " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) "
            "/ SQRT(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) "
            " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) "
            "* 1000000) AS BIGINT)"
        ).alias("corr_x1e6"),
    )


def distribution_drift(events: DataFrame) -> DataFrame:
    """Categorical-distribution drift between the first and second halves of
    the event-time range — the data-quality check a continuously-fed
    pipeline runs before a snapshot is promoted (did the event-type mix
    shift between yesterday's data and today's?).

    Split point = (min+max)/2 of epoch-microseconds, in INTEGER arithmetic
    (`div 2`) so both engines pick the identical boundary. Per event type:
    counts in each half (ca, cb) and the total-variation contribution
    |ca/na − cb/nb| × 10⁹ as a scaled long. TVD(A,B) = Σ contrib / 2e9.
    Determinism: counts are exact longs; long→double casts are exact below
    2⁵³; IEEE divide/subtract/multiply are correctly rounded, so both
    engines compute bit-identical doubles before the single final round —
    no ln()/accumulation-order exposure anywhere (contrast stats.py header).

    Shuffle profile: a 1-row min/max aggregate broadcast back, then ONE
    map-side-combinable hash-agg on event_type — the shape that costs the
    same per row at any scale. Degenerate range (all rows one timestamp →
    one side empty) yields NULL tvd rather than a division error, mirrored
    in the oracle's CASE."""
    # timestampdiff from an NTZ epoch, not unix_micros: ts is TIMESTAMP_NTZ
    # (unix_micros rejects NTZ) and wall-clock arithmetic is tz-independent,
    # matching the oracle's epoch_us on the naive parquet timestamp
    micros = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    )
    bounds = events.agg(F.min(micros).alias("mn"), F.max(micros).alias("mx"))
    in_a = F.when(micros < F.expr("(mn + mx) div 2"), 1).otherwise(0)
    from ..materialize import cache_shared

    # per_type feeds two branches (grand totals + the final projection);
    # pin it (it's #event-types rows, derived from the full scan) so the
    # events table is scanned twice total (bounds + per_type), not thrice
    per_type, _ = cache_shared(
        events.crossJoin(F.broadcast(bounds))
        .select("event_type", in_a.alias("in_a"))
        .groupBy("event_type")
        .agg(
            F.sum("in_a").alias("ca"),
            F.sum(1 - F.col("in_a")).alias("cb"),
        )
    )
    totals = per_type.agg(F.sum("ca").alias("na"), F.sum("cb").alias("nb"))
    contrib = F.abs(
        F.col("ca") / F.col("na") - F.col("cb") / F.col("nb")
    )
    return per_type.crossJoin(F.broadcast(totals)).select(
        "event_type",
        "ca",
        "cb",
        F.when(
            (F.col("na") > 0) & (F.col("nb") > 0),
            F.round(contrib * 1_000_000_000).cast("long"),
        ).alias("tvd_x1e9"),
    )


def price_histogram(orders: DataFrame, bucket_width: float = 50000.0) -> DataFrame:
    """Fixed-width histogram of order totals: one scan, one tiny hash-agg
    on the bucket id — the shape that costs the same at any row count."""
    bucket = F.floor(F.col("o_totalprice") / bucket_width).cast("long")
    return (
        orders.groupBy(bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .withColumn(
            "bucket_lo", (F.col("bucket") * bucket_width).cast("long")
        )
    )


def value_skewness(events: DataFrame) -> DataFrame:
    """Per-type skewness from exact integer moment sums over cents —
    deterministic under any partitioning (the native ``skewness()`` is a
    streaming-double fold whose result depends on merge order).

    First/second/third power sums run in DECIMAL(38,0) — the per-row
    cents³ term reaches ~10¹² at cents ~10⁴, so an int64 sum of cubes
    wraps around 10⁶ rows per group (see corr_quantity_price's overflow
    note; same rule, one power higher). The closed form
    g1 = √n · M3 / M2^1.5 (M2, M3 central sums) is evaluated in ONE
    expression with the identical op sequence as the DuckDB oracle, so
    both engines see the same IEEE doubles."""
    c = F.round(F.col("value") * 100).cast("long")
    dec = "decimal(38,0)"
    sums = events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(c.cast(dec)).alias("s1"),
        F.sum((c * c).cast(dec)).alias("s2"),
        F.sum((c * c * c).cast(dec)).alias("s3"),
    )
    return sums.select(
        "event_type",
        "n",
        F.col("s1").cast("long").alias("sum_cents"),
        F.expr(
            "CAST(ROUND(SQRT(CAST(n AS DOUBLE)) "
            "* (CAST(s3 AS DOUBLE) "
            "   - 3.0 * CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE) "
            "     / CAST(n AS DOUBLE) "
            "   + 2.0 * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) "
            "     * CAST(s1 AS DOUBLE) "
            "     / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) "
            "/ POWER(CAST(s2 AS DOUBLE) "
            "  - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) "
            "    / CAST(n AS DOUBLE), 1.5) "
            "* 1000000) AS BIGINT)"
        ).alias("skewness_x1e6"),
    )


def robust_outlier_counts(
    events: DataFrame, k_times_mad: int = 3
) -> DataFrame:
    """Robust per-group outlier monitor: |value − median| > k·MAD, counted
    per event_type — the median/MAD recipe that survives the outliers it
    measures (a mean/stddev z-score moves with every whale it's supposed
    to flag; the 50% breakdown point of median/MAD doesn't).

    Exactness: values quantize to cents first, so the inputs to the
    medians are integers; `percentile(col, 0.5)` interpolates the two
    middle integers — one IEEE add + halve, identical in any engine —
    and the k·MAD comparison stays in doubles derived from those exact
    integers. No accumulation-order hazard anywhere (contrast the moment
    sums above, which need decimal accumulators).

    Scale shape: the projected fact (two columns) feeds THREE passes —
    median, MAD-given-median, flag counts — so it is cache_shared'd
    once (persist with lineage, the corpus-sized rule) and the three
    consumers read the cache instead of re-scanning storage (measured:
    without the cache the plan scanned the fact three times). Each pass
    broadcast-joins the tiny per-type table (5 rows). A skewed group
    concentrates its percentile into one task — at 100 TB swap
    `percentile` for `approx_percentile` (KLL) and the plan is
    unchanged; the exact form here is what makes the oracle hash-exact.
    """
    from ..materialize import cache_shared

    cents = F.round(F.col("value") * 100).cast("long")
    typed, _ = cache_shared(events.select("event_type", cents.alias("cents")))
    med = typed.groupBy("event_type").agg(
        F.percentile(F.col("cents"), F.lit(0.5)).alias("med")
    )
    mad = (
        typed.join(F.broadcast(med), "event_type")
        .select(
            "event_type", F.abs(F.col("cents") - F.col("med")).alias("dev")
        )
        .groupBy("event_type")
        .agg(F.percentile(F.col("dev"), F.lit(0.5)).alias("mad"))
    )
    return (
        typed.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count(
                F.when(
                    F.abs(F.col("cents") - F.col("med"))
                    > F.lit(k_times_mad) * F.col("mad"),
                    F.lit(1),
                )
            ).alias("n_outliers"),
        )
        .orderBy("event_type")
    )
