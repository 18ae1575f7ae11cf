"""End-to-end corpus curation: the pipeline a training-data engine exists
for, composed entirely from this package's operators.

    quality filter  ->  exact dedup (keep first)  ->  near-dup removal
    (text.quality_filter)   (dedup.exact)             (dedup.ngram pairs)

Near-dup policy: greedy keep-first — among surviving docs, any doc that is
the HIGHER doc_id of a Jaccard>=threshold pair is dropped. Deterministic,
order-free, and SQL-expressible (the oracle is the same three CTEs), unlike
"keep one per component" which needs the iterative closure
(dedup.dedup_components) — use that variant when cluster-accurate retention
matters; greedy keep-first over-drops only when a kept doc bridges two
otherwise-separate near-dup groups.

At 100 TB each stage is one of the already-audited shapes (SCALE.md): a
scan-side filter, a hash-agg, and the shingle self-join — the composition
adds no new shuffle pattern. If the near-dup stage is swapped for
embedding-based matching, compose with dedup.embedding_near_dup_lsh (the
sign-random-projection path) or, exact, dedup.embedding_near_dup_blocked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import ngram_jaccard_pairs
from .text import quality_filter


def curate_corpus(
    documents: DataFrame,
    min_tokens: int = 20,
    min_alpha_x1000: int = 800,
    near_dup_threshold: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Returns the curated corpus as (doc_id, n_tokens), fully deterministic.

    Stages:
    1. quality: n_tokens >= min_tokens AND alpha ratio >= min_alpha_x1000;
    2. exact dedup: keep the min doc_id per distinct text;
    3. near-dup: drop the higher doc_id of every >=threshold pair among the
       docs that survived 1-2 (pairs are computed AFTER the earlier stages —
       a pair with an already-dropped doc must not kill its partner).
    """
    # quality gate as ONE in-row filter on the scan — the old form
    # scored the corpus (a second documents scan) and semi-joined the
    # surviving doc_ids back, paying a join for a predicate every row
    # answers locally (guide §2.4: remove joins outright). Same rows:
    # doc_id is unique and quality_filter applies quality_scores' own
    # expressions (equivalence pinned by test_curate).
    quality_docs = quality_filter(documents, min_tokens, min_alpha_x1000)

    # exact dedup as ONE groupBy pass: min doc_id per distinct text, with
    # text as the group key, so the output IS (doc_id, text) — no
    # join-back (the old join form computed the quality-filtered corpus
    # twice) and no window (a window over partitionBy(text) lands every
    # copy of the hottest duplicated text — a viral page duplicated 1e7
    # times — on ONE task; groupBy partial-aggregates map-side, so the
    # hot text's copies collapse to one row per task before the shuffle).
    # survivors feeds three downstream branches (the shingle pipeline,
    # the pair-verify joins, and the final anti-join) — persisted WITH
    # lineage + eager count (not localCheckpoint: corpus-sized
    # intermediate; a lost executor should recompute, not kill the job —
    # SCALE.md durability caveat).
    from ..materialize import cache_shared

    survivors, _ = cache_shared(
        quality_docs.groupBy("text")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", "text")
    )

    # max_shingle_df (recommended at corpus scale) is the hot-shingle
    # guard — see dedup.cap_shingle_df; default None keeps the exact
    # uncapped Jaccard this operator's oracle pins
    near_dup_losers = (
        ngram_jaccard_pairs(
            survivors,
            n=3,
            threshold=near_dup_threshold,
            max_shingle_df=max_shingle_df,
        )
        .select(F.col("doc_id_2").alias("doc_id"))
        .distinct()
    )
    curated = survivors.join(near_dup_losers, "doc_id", "left_anti")
    return curated.select(
        "doc_id", F.size(F.split(F.col("text"), "\\s+")).alias("n_tokens")
    )
