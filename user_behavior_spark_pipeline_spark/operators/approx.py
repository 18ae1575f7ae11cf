"""Approximate aggregates (OP-X-APPROX, SURVEY.md §2.5).

Sketch-based aggregates are THE 100 TB tool: approx_count_distinct (HLL++)
and percentile_approx (KLL-ish) shuffle constant-size sketches instead of
value sets. Their outputs are engine-specific, so the oracle contract is a
**tolerance flag**: the query emits the exact value (engine-independent)
plus a boolean "the sketch landed within tolerance"; the oracle asserts the
same exact value and a hardcoded TRUE. A sketch regression therefore still
fails the hash compare — via the flag, not the raw estimate."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def distinct_users_with_sketch(
    events: DataFrame, rsd: float = 0.01, tolerance: float = 0.05
) -> DataFrame:
    """Per-type exact distinct users + HLL estimate within-``tolerance``.

    The sketch precision (rsd = one relative standard deviation) is set
    5× tighter than the 5% gate: gating a sketch at its own 1 sd fails
    ~32% of the time per group BY DESIGN of HLL, while 5 sd of margin
    makes the flag robust at any scale. The gate therefore uses the
    SEPARATE ``tolerance`` — an earlier version reused ``rsd`` for both,
    which kept the flag at 1 sd and made it flip false nondeterministically
    at realistic cardinalities (the driver oracle hardcodes TRUE). Cost is
    2^16 registers per group — KBs."""
    # distinct the (type, user) pairs FIRST, then count + sketch over the
    # distinct rows: HLL register state depends only on the SET of hashed
    # values, so the estimate is bit-identical to sketching the raw rows,
    # while the plan drops the Expand/double-aggregate the combined
    # countDistinct + approx form requires (measured 2.0 → 0.95 s at
    # sf0.1, collect()-identical output) and the per-row HLL update runs
    # over distinct pairs only. count("user_id") skips NULLs exactly as
    # countDistinct did.
    exact = F.count("user_id")
    approx = F.approx_count_distinct("user_id", rsd)
    return (
        events.select("event_type", "user_id")
        .distinct()
        .groupBy("event_type")
        .agg(
            exact.alias("exact_users"),
            (F.abs(approx - exact) <= F.ceil(exact * F.lit(tolerance))).alias(
                "sketch_ok"
            ),
        )
    )


def value_percentiles_with_sketch(
    events: DataFrame, tolerance: float = 0.05
) -> DataFrame:
    """Per-type exact continuous median (deterministic: interpolation of two
    sorted doubles) + percentile_approx within-tolerance flag."""
    exact_p50 = F.percentile("value", F.lit(0.5))
    approx_p50 = F.percentile_approx("value", F.lit(0.5), F.lit(10000))
    return events.groupBy("event_type").agg(
        F.round(exact_p50 * 100).cast("long").alias("p50_x100"),
        (F.abs(approx_p50 - exact_p50) <= exact_p50 * F.lit(tolerance)).alias(
            "sketch_ok"
        ),
    )


def bigrams_col(text="text"):
    """Adjacent-token bigrams as a JVM-side array expression: zip each
    token with its successor (zip_with over two slices — no explode until
    the caller asks, no Python)."""
    from .text import tokens_col

    toks = tokens_col(text)
    n = F.size(toks)
    return F.zip_with(
        F.slice(toks, 1, n - 1),
        F.slice(toks, 2, n - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )


def mg_merge(summary: dict, batch_counts, k: int) -> dict:
    """THE Misra-Gries merge-and-prune step, shared by the batch sketch
    (:func:`_mg_partial`) and the streaming fold
    (streaming.jobs.mg_heavy_hitters_stream) so the arithmetic the
    deterministic certificate rests on lives in exactly one place: add
    an EXACT histogram (pairs of (item, count)) into the running
    summary; if it exceeds k counters, subtract the (k+1)-st largest
    count from every counter and drop the non-positive ones. Each
    subtraction of m removes ≥ (k+1)·m total mass, so the total
    subtracted over a stream of n items is ≤ n/(k+1) — every surviving
    counter underestimates its item's true count by at most that, and
    any item with true count above the bound cannot have been fully
    subtracted away (Agarwal et al., "Mergeable Summaries")."""
    for item, c in batch_counts:
        summary[item] = summary.get(item, 0) + int(c)
    if len(summary) > k:
        m = sorted(summary.values(), reverse=True)[k]
        summary = {t: c - m for t, c in summary.items() if c > m}
    return summary


def _mg_partial(col: str, k: int):
    """Per-partition Misra-Gries summary of size ≤ k: fold each Arrow
    batch's value_counts through :func:`mg_merge` (the shared
    merge-and-prune step that carries the error/recall proof)."""
    import pandas as pd

    def fn(batches):
        counts: dict = {}
        for pdf in batches:
            counts = mg_merge(counts, pdf[col].value_counts().items(), k)
        yield pd.DataFrame(
            {col: list(counts.keys()), "est": list(counts.values())}
        )

    return fn


def heavy_hitter_candidates(
    items: DataFrame, col: str = "gram", k: int = 700
) -> DataFrame:
    """Distributed Misra-Gries heavy-hitters sketch: per-partition MG
    summaries (``k`` counters each, Arrow-batched) summed per token.

    THE frequent-items shape for 100 TB hot-token/boilerplate monitoring:
    the exact histogram shuffles every distinct gram (the
    boilerplate_ngram_stats cost), while this shuffles ≤ k rows per
    partition regardless of vocabulary size. Guarantees (deterministic,
    not probabilistic — any partitioning, any batch order):

    - underestimate only: est(t) ≤ true(t);
    - bounded error: true(t) − est(t) ≤ Σ_p subtracted_p ≤ n/(k+1);
    - recall: every token with true(t) > n/(k+1) appears (its estimate
      stays positive in ≥ 1 partition summary).

    The final merge is a plain groupBy-sum over ≤ partitions·k rows —
    summing per-partition underestimates preserves both bounds."""
    summaries = items.select(col).mapInPandas(
        _mg_partial(col, k), schema=f"{col} string, est long"
    )
    return summaries.groupBy(col).agg(F.sum("est").alias("est_count"))


def heavy_hitters_certified(
    documents: DataFrame, phi: float = 0.0015, k: int = 700
) -> DataFrame:
    """Corpus hot-bigram detection, certified: exact heavy hitters (count ≥
    ceil(phi·n) over all adjacent-token bigrams) + a flag that the MG
    sketch recalled each one with its estimate inside the n/(k+1) bound.

    Same tolerance-flag oracle contract as the other sketches (module
    docstring), but the MG bound is DETERMINISTIC — the flag is a theorem,
    not a confidence interval, so it never flips at any scale or
    partitioning. Requires phi > 1/(k+1) (here 0.0015 > 1/701) or the
    recall guarantee is void; asserted below. The exact side exists to
    CERTIFY the sketch and doubles as the oracle twin; a production
    monitor runs only `heavy_hitter_candidates` and never pays the
    full-vocabulary shuffle."""
    if phi <= 1.0 / (k + 1):
        raise ValueError(f"recall guarantee needs phi > 1/(k+1): {phi=} {k=}")
    grams = documents.select(F.explode(bigrams_col()).alias("gram"))
    # small post-agg table feeding three consumers (scalar n, threshold
    # filter, certify join) — materialize so the corpus explode runs once
    exact = (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("exact_count"))
        .localCheckpoint()
    )
    n = exact.agg(F.sum("exact_count").alias("n")).scalar()
    cand = heavy_hitter_candidates(grams, "gram", k)
    heavy = exact.filter(
        F.col("exact_count") >= F.ceil(F.lit(phi) * n)
    )
    return heavy.join(cand, "gram", "left").select(
        "gram",
        "exact_count",
        (
            F.col("est_count").isNotNull()
            & (F.col("est_count") <= F.col("exact_count"))
            & (
                F.col("exact_count") - F.col("est_count")
                <= F.floor(n / F.lit(k + 1))
            )
        ).alias("sketch_ok"),
    )


def distinct_users_mergeable_sketch(events: DataFrame, tolerance: float = 0.05) -> DataFrame:
    """MERGEABLE sketches (Datasketches HLL): per-day sketches built in one
    pass, then hll_union_agg'd into the per-type total — the incremental
    rollup pattern that makes 100 TB distinct-counting cheap (daily jobs
    persist KB-sized sketch blobs; any date range is a union of blobs, no
    re-scan). Same tolerance-flag oracle contract as the other sketches."""
    daily = events.groupBy(
        F.date_trunc("day", F.col("ts")).alias("day"), F.col("event_type")
    ).agg(F.hll_sketch_agg("user_id").alias("sk"))
    merged = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users")
    )
    exact = events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return exact.join(merged, "event_type").select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            <= F.ceil(F.col("exact_users") * F.lit(tolerance))
        ).alias("sketch_ok"),
    )
