"""Deduplication operators over the documents table (north-star: the
large-scale training-data curation suite).

Families (text: exact / n-gram Jaccard / MinHash+LSH / SimHash; embedding:
exact cosine / LSH-pruned; graph: connected components), all DataFrame API:

- **exact**: hash-groupBy on the text (or its normalized fingerprint) — one
  shuffle carrying (key, min-id, count), nothing else.
- **n-gram Jaccard (exact near-dup)**: word-shingle explode + self-join on
  shingle. Only colliding pairs materialize, so cost is driven by shingle
  collisions, not n² — the exactness baseline the approximate methods are
  judged against.
- **MinHash + LSH**: 64 minhashes computed as 64 min() aggregates in ONE
  hash-agg pass over the exploded shingles (no 64× row blow-up), banded into
  32 bands of 2; candidate pairs from band-bucket self-joins are verified
  with exact Jaccard. At 32 bands the candidate probability at j=0.9 is
  1-(1-0.9²)³² ≈ 1-1e-23 — recall is effectively exact above threshold 0.5,
  which is why the LSH query can share the exact-Jaccard oracle.
- **SimHash**: 64-bit signature per doc — per-bit sign of the sum of ±1
  token-hash votes, assembled JVM-side; near-dups = small Hamming distance.

At 100 TB: every stage is a shuffle on a well-distributed key (shingle hash,
band bucket); the only skew risk is a pathologically common shingle, which
the `max_bucket` guard caps (drop shingles occurring in more than N docs —
they carry no near-dup signal and quadratically inflate the self-join).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..materialize import cache_shared

NUM_HASHES = 64
NUM_BANDS = 32  # 2 rows per band


def _drop_hot_values(
    df: DataFrame,
    col: str,
    max_df: int,
    count_distinct_by: str | None = None,
) -> DataFrame:
    """Shared hot-value guard: drop every row whose ``col`` value occurs in
    more than ``max_df`` rows (or, with ``count_distinct_by``, in more than
    ``max_df`` distinct (count_distinct_by, col) pairs — true document
    frequency even when values repeat within a group).

    Aggregate + broadcast anti-join, NOT a window over partitionBy(col):
    a window lands every row of the hottest value on ONE task, so at
    scale the guard would itself become the skew hotspot it exists to
    remove. The groupBy count partial-aggregates map-side and the hot
    list — only values in > max_df rows/groups, tiny by construction —
    broadcasts. Single definition shared by the shingle, token, and
    corpus-shingle guards so the boundary (> max_df) and the join shape
    stay consistent."""
    counted = (
        df.select(count_distinct_by, col).distinct()
        if count_distinct_by is not None
        else df
    )
    return df.join(
        F.broadcast(_hot_values(counted, col, max_df)), col, "left_anti"
    )


def _hot_values(df: DataFrame, col: str, max_df: int) -> DataFrame:
    """The hot list itself (values in > max_df rows of ``df``) — split out
    so incremental_near_dup can define the list on the CORPUS side and
    anti-join it away from both sides."""
    return (
        df.groupBy(col)
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") > max_df)
        .select(col)
    )


def _parse_byte_conf(value: str) -> int:
    """Parse a Spark size conf ('128MB', '4m', '134217728b', '1048576')."""
    v = value.strip().lower()
    mult = 1
    for suffix, m in (
        ("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30), ("tb", 1 << 40),
        ("pb", 1 << 50),
        ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30), ("t", 1 << 40),
        ("p", 1 << 50),
        ("b", 1),
    ):
        if v.endswith(suffix):
            v, mult = v[: -len(suffix)], m
            break
    return int(v) * mult


def _estimated_scan_partitions(spark, files: list[str]) -> int | None:
    """Replicate Spark's FilePartition packing estimate: maxSplitBytes =
    min(maxPartitionBytes, max(openCostInBytes, totalPaddedBytes/cores)),
    partitions ≈ ceil(totalPaddedBytes / maxSplitBytes). Needs file sizes,
    so only local file: URIs qualify — returns None otherwise."""
    import os
    from urllib.parse import unquote, urlparse

    sizes = []
    for f in files:
        parsed = urlparse(f)
        if parsed.scheme not in ("file", ""):
            return None
        try:
            sizes.append(os.path.getsize(unquote(parsed.path)))
        except OSError:
            return None
    if not sizes:
        return 1
    max_part = _parse_byte_conf(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "128MB")
    )
    open_cost = _parse_byte_conf(
        spark.conf.get("spark.sql.files.openCostInBytes", "4MB")
    )
    # the planner's bytesPerCore denominator: files.minPartitionNum if set,
    # else leafNodeDefaultParallelism, else defaultParallelism
    min_parts = int(
        spark.conf.get(
            "spark.sql.files.minPartitionNum",
            spark.conf.get(
                "spark.sql.leafNodeDefaultParallelism",
                str(spark.sparkContext.defaultParallelism),
            ),
        )
    )
    total = sum(s + open_cost for s in sizes)
    max_split = min(max_part, max(open_cost, total // max(min_parts, 1)))
    return max(1, -(-total // max(max_split, 1)))


def _spread(df: DataFrame) -> DataFrame:
    """Repartition up to the core count iff the input is under-partitioned.

    A small parquet file scans as one partition (one row group is not
    splittable), which serializes every CPU-heavy transform above it —
    tokenize/shingle/explode run on 1 of N cores. The shuffle this adds
    moves only the raw input rows (tiny next to the exploded intermediates)
    and is skipped entirely when the scan is already parallel, i.e. at any
    real data scale.

    Parallelism is estimated by replicating the scan planner's file-packing
    arithmetic over the file index (``inputFiles`` + sizes) — raw file
    count is NOT a parallelism proxy in either direction (Spark packs many
    small files into few partitions via maxPartitionBytes/openCostInBytes,
    and splits large files into many). ``df.rdd.getNumPartitions()`` would
    answer exactly but forces a Python-RDD conversion plan per call. When
    sizes are unavailable (remote filesystems) the file count falls back
    as a coarse proxy, erring toward NOT repartitioning — a wrong forced
    shuffle of a large remote dataset costs far more than a missed
    repartition of a small one."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    files = df.inputFiles()
    try:
        est = _estimated_scan_partitions(spark, files)
    except Exception:
        # unparseable conf value etc. — never fail the query over a
        # parallelism heuristic
        est = None
    if est is None:
        est = len(files)
    if est < target:
        return df.repartition(target)
    return df


def exact_duplicates_hashed(
    documents: DataFrame, key: str = "text"
) -> DataFrame:
    """Exact dedup groups: representative (min doc_id) + cardinality per
    distinct text, keyed on ``xxhash64(text)`` with an in-group exact-text
    verify. A text-keyed groupBy ships every document's
    full text through its exchange; here the FIRST aggregation shuffles
    16 bytes/row (hash + doc_id, text pruned from the scan), and only
    rows whose hash appears >= 2 times — actual duplicates plus the
    vanishingly rare 64-bit collision — re-shuffle WITH their text for
    the exact verify group (the duplicated_spans hash-first shape).

    Output is IDENTICAL to a text-keyed groupBy: a collision between two
    different texts lands both in the verify stage, whose exact-text
    groupBy separates them; a hash seen once is necessarily a text seen
    once, so singletons skip the text shuffle entirely."""
    hashed = documents.select(
        "doc_id",
        F.col(key).alias("_t"),
        F.xxhash64(F.col(key)).alias("_h"),
    )
    per_hash = hashed.groupBy("_h").agg(
        F.min("doc_id").alias("min_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )
    dup_exact = (
        hashed.join(per_hash.filter(F.col("n_copies") >= 2).select("_h"), "_h")
        .groupBy("_t")
        .agg(
            F.min("doc_id").alias("min_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select("min_doc_id", "n_copies")
    )
    singles = per_hash.filter(F.col("n_copies") == 1).select(
        "min_doc_id", "n_copies"
    )
    return singles.unionByName(dup_exact)


def shingles(documents: DataFrame, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document, as 64-bit hashes:
    (doc_id, shingle long).

    Hashing before the distinct/self-join shrinks shuffle payloads ~10×
    versus shipping shingle strings and turns every downstream compare into
    a long compare. A 64-bit collision inside one document pair's shingle
    sets (P ≈ |S|²/2⁶⁵) is the standard MinHash trade and far below the
    1e-6 Jaccard rounding grain.

    The token array is projected ONCE, then shingled with an index-aware
    ``transform`` over that bound column. Building grams by indexing into
    the raw ``split(...)`` expression instead re-evaluates the split per
    ``element_at`` (n accesses × ~|tokens| grams → quadratic re-tokenize;
    measured 12× slower at sf0.1).

    Deduplication is IN-ROW (``array_distinct`` over the hashed gram
    array before the explode), not a global ``.distinct()``: shingle
    distinctness is per DOCUMENT and ``doc_id`` is a key (one row per
    document at every call site), so the global distinct was a full
    shuffle + hash-aggregate of the exploded shingle table that
    deduplicated nothing across rows — and its (doc_id, shingle)
    partitioning was reusable by NO consumer (the pair self-join
    re-shuffles by shingle, the size/minhash aggregates by doc_id).
    Removing it drops one full-corpus exchange from every shingle
    consumer (guide §2.4), the duplicated_spans shape."""
    tokenized = _spread(documents).select(
        "doc_id", F.split(F.col("text"), "\\s+").alias("_toks")
    )
    t = F.col("_toks")
    grams = F.filter(
        F.transform(
            t,
            lambda x, i: F.when(
                i <= F.size(t) - n,
                F.concat_ws(
                    " ", x, *[F.element_at(t, i + j + 1) for j in range(1, n)]
                ),
            ),
        ),
        lambda g: g.isNotNull(),
    )
    hashed = F.array_distinct(F.transform(grams, lambda g: F.xxhash64(g)))
    return tokenized.select("doc_id", F.explode(hashed).alias("shingle"))


def _pair_jaccard(sh: DataFrame, pairs_filter: DataFrame | None = None) -> DataFrame:
    """(doc_id, shingle) -> pair Jaccard via shingle self-join.

    If ``pairs_filter`` (doc_id_1, doc_id_2) is given, only those pairs are
    scored (the LSH verify path): the candidates are joined against the two
    shingle sets directly — |cand|·|shingles per doc| rows — instead of
    materializing the full shingle self-join and semi-filtering it after,
    which would make the verify pass as expensive as the exact algorithm
    LSH exists to avoid."""
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("doc_id_1"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_id_2"), "shingle")
    if pairs_filter is not None:
        shared = (
            pairs_filter.join(a, "doc_id_1")
            .join(b, ["doc_id_2", "shingle"])
            .groupBy("doc_id_1", "doc_id_2")
            .agg(F.count(F.lit(1)).alias("shared"))
        )
    else:
        shared = (
            a.join(b, "shingle")
            .filter(F.col("doc_id_1") < F.col("doc_id_2"))
            .groupBy("doc_id_1", "doc_id_2")
            .agg(F.count(F.lit(1)).alias("shared"))
        )
    s1 = sizes.select(F.col("doc_id").alias("doc_id_1"), F.col("n_sh").alias("n1"))
    s2 = sizes.select(F.col("doc_id").alias("doc_id_2"), F.col("n_sh").alias("n2"))
    # no broadcast hint on the size tables: they carry one row per CORPUS
    # document, so a forced broadcast is unbounded at scale (the same
    # shape fixed in incremental_near_dup) — AQE broadcasts them while
    # they fit and shuffle-joins on doc_id when they don't
    return (
        shared.join(s1, "doc_id_1")
        .join(s2, "doc_id_2")
        .select(
            "doc_id_1",
            "doc_id_2",
            F.round(
                F.col("shared") * 1000000 / (F.col("n1") + F.col("n2") - F.col("shared"))
            )
            .cast("long")
            .alias("jaccard_x1e6"),
        )
    )


def cap_shingle_df(sh: DataFrame, max_df: int) -> DataFrame:
    """Drop shingles present in more than ``max_df`` documents — the
    hot-shingle guard for the pair self-join.

    A shingle shared by d documents contributes d·(d-1)/2 candidate
    pairs: one boilerplate header across a corpus turns the join
    quadratic (measured: 20k docs sharing a 10-token header = 220 s for
    ZERO result pairs; capped, the same corpus scores in seconds). A
    ubiquitous shingle also carries no duplication signal — similarity
    that rests only on boilerplate is exactly what near-dup detection
    should ignore — so downstream Jaccard is computed over the
    DISTINCTIVE-shingle space (the standard web-dedup practice).

    Implementation is aggregate + broadcast anti-join, NOT a window over
    ``partitionBy('shingle')``: a window lands every row of the hottest
    shingle (df up to the whole corpus) on ONE task, so at scale the
    guard would itself become the skew hotspot it exists to remove. The
    groupBy count partial-aggregates map-side (each task contributes one
    row per local shingle), and the hot list — only shingles in > max_df
    docs, tiny by construction — broadcasts. Same shape as
    incremental_near_dup's corpus-df guard (shared: _drop_hot_values).
    ``shingles()`` emits distinct (doc_id, shingle) rows, so the plain
    row count IS document frequency."""
    return _drop_hot_values(sh, "shingle", max_df)


def ngram_jaccard_pairs(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact near-duplicate pairs by word n-gram Jaccard >= threshold.

    ``max_shingle_df`` (recommended at corpus scale) applies
    :func:`cap_shingle_df` before pairing: Jaccard is then over each
    document's distinctive shingles — identical results wherever no
    capped shingle is involved, and the boilerplate-only pair explosion
    is gone."""
    # the shingle set feeds three plan branches (sizes + both join sides);
    # an eager localCheckpoint builds it ONCE — a lazy persist doesn't
    # help here because the branches' stages run concurrently and each
    # computes the unpopulated cache from scratch
    sh = shingles(documents, n)
    if max_shingle_df is not None:
        sh = cap_shingle_df(sh, max_shingle_df)
    sh = sh.localCheckpoint()
    return _pair_jaccard(sh).filter(
        F.col("jaccard_x1e6") >= int(threshold * 1_000_000)
    )


def duplicated_spans(
    documents: DataFrame, n: int = 5, min_docs: int = 2
) -> DataFrame:
    """Cross-document duplicated token spans — the exact-substring dedup
    signal (the span analogue of Lee et al.'s "Deduplicating Training Data
    Makes Language Models Better": a long token span appearing verbatim in
    ≥2 documents marks copied/boilerplate text that per-document near-dup
    scoring can miss when the containing documents are otherwise distinct).

    Output: (span string, n_docs = distinct documents containing it,
    min_doc_id = deterministic representative), only spans in >= min_docs
    documents.

    Two-stage, hash-first shape for scale: candidate generation groups
    64-bit ``xxhash64(span)`` values — after map-side combine the count
    shuffle carries ~8 bytes per distinct span instead of the n-token span
    string (~5 words each), which at corpus scale is the difference between
    shuffling longs and shuffling the tokenized corpus n times over. Only
    the surviving candidates (cross-doc duplicated spans — rare by
    construction) are re-derived WITH their strings and exactly re-grouped,
    so a 64-bit collision can only add a candidate to the confirm stage,
    never a wrong output row (the exact string groupBy recomputes both the
    doc count and the representative). Candidate-vs-confirm costs one extra
    tokenize pass; CPU re-scan beats string-shuffle IO at any real scale.

    Spans are built by an index-aware ``transform`` over a once-projected
    token array (the ``shingles()`` pattern — indexing the raw ``split``
    expression would re-tokenize per element access), and ``array_distinct``
    dedups within-document BEFORE the explode, so the per-span row count is
    document frequency with no global distinct shuffle."""
    tokenized = _spread(documents).select(
        "doc_id", F.split(F.col("text"), "\\s+").alias("_toks")
    )
    t = F.col("_toks")
    grams = F.filter(
        F.transform(
            t,
            lambda x, i: F.when(
                i <= F.size(t) - n,
                F.concat_ws(
                    " ", x, *[F.element_at(t, i + j + 1) for j in range(1, n)]
                ),
            ),
        ),
        lambda g: g.isNotNull(),
    )
    spans = tokenized.select(
        "doc_id", F.explode(F.array_distinct(grams)).alias("span")
    )
    hashed = spans.select("doc_id", "span", F.xxhash64("span").alias("_h"))
    # column pruning drops `span` from this branch — the count shuffle
    # moves only (_h, partial count) pairs
    hot = (
        hashed.groupBy("_h")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= min_docs)
        .select("_h")
    )
    return (
        hashed.join(hot, "_h")
        .groupBy("span")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc_id"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


def dedup_report(
    documents: DataFrame,
    jaccard_threshold: float = 0.5,
    n: int = 3,
    substr_n: int = 5,
    max_shingle_df: int | None = None,
    max_anchor_df: int | None = None,
    max_anchor_tf: int | None = None,
) -> DataFrame:
    """Per-document DEDUP REPORT — every duplication signal this module
    computes, joined into one row per document (the triage table a
    curation pipeline filters on):

    - ``n_exact_copies`` / ``exact_rep``: identical-text group size and
      its min-doc_id representative (1 / own id when unique);
    - ``near_component``: connected component in the n-gram-Jaccard
      near-dup graph at ``jaccard_threshold`` (own id when isolated);
    - ``max_contained_x1e6``: the largest fraction of THIS doc's
      shingles appearing in any single other doc (the quote/subset
      signal; 0 when it shares no shingle with anything);
    - ``n_tokens`` / ``n_verbatim_shared_tokens``: token count and how
      many of its token positions lie inside a cross-document maximal
      verbatim run (>= substr_n tokens, either side of the pair).

    One shingle table feeds BOTH the Jaccard and containment signals
    (checkpointed once); the exact group is one text-groupBy; coverage
    explodes only run intervals. Every signal is
    the same computation its standalone operator runs — this is a join,
    not a re-derivation, so the standalone oracles transfer.

    At corpus scale pass the same caps the standalone operators take:
    ``max_shingle_df`` (boilerplate shingles — O(k²) pair guard for BOTH
    pair signals), ``max_anchor_df``/``max_anchor_tf`` (the substring
    stage's boilerplate/periodic guards). Uncapped, the composite
    inherits every standalone hot-value wall at once."""
    exact = (
        documents.filter(F.col("text").isNotNull())
        .groupBy("text")
        .agg(
            F.count(F.lit(1)).alias("n_exact_copies"),
            F.min("doc_id").alias("exact_rep"),
        )
    )
    ex = documents.join(exact, "text", "left").select(
        "doc_id",
        F.coalesce("n_exact_copies", F.lit(1)).alias("n_exact_copies"),
        F.coalesce("exact_rep", F.col("doc_id")).alias("exact_rep"),
    )

    # The two expensive sub-pipelines are INDEPENDENT eager chains —
    # (shingles → overlap → components) and (anchor runs) — but each is
    # a sequence of blocking driver-side materializations, so running
    # them back to back leaves the cluster idle through every job's
    # scheduling tail. Submit the runs chain from a second driver
    # thread so its jobs back-fill the shingle chain's stragglers
    # (guide §2.6 "overlap independent jobs"); Spark's scheduler
    # interleaves them, and both results are joined lazily below.
    def _runs_chain() -> DataFrame:
        return maximal_duplicated_substrings(
            documents,
            n=substr_n,
            max_anchor_df=max_anchor_df,
            max_anchor_tf=max_anchor_tf,
        ).localCheckpoint()

    from concurrent.futures import ThreadPoolExecutor

    pool = ThreadPoolExecutor(max_workers=1)
    runs_future = pool.submit(_runs_chain)
    try:
        sh = shingles(documents, n)
        if max_shingle_df is not None:
            sh = cap_shingle_df(sh, max_shingle_df)
        sh = sh.localCheckpoint()
        sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
        a = sh.select(F.col("doc_id").alias("doc_id_1"), "shingle")
        b = sh.select(F.col("doc_id").alias("doc_id_2"), "shingle")
        shared = (
            a.join(b, "shingle")
            .filter(F.col("doc_id_1") < F.col("doc_id_2"))
            .groupBy("doc_id_1", "doc_id_2")
            .agg(F.count(F.lit(1)).alias("shared"))
        )
        s1 = sizes.select(
            F.col("doc_id").alias("doc_id_1"), F.col("n_sh").alias("n1")
        )
        s2 = sizes.select(
            F.col("doc_id").alias("doc_id_2"), F.col("n_sh").alias("n2")
        )
        # LAZY: overlap's consumers are strictly sequential on this
        # thread — components' edges materialize (the next blocking
        # action, which references overlap exactly once through jpairs)
        # populates it, and the final plan's `contained` branch then
        # reads the populated checkpoint. One blocking driver dispatch
        # fewer per report (strictly sequential consumer; the concurrent
        # runs chain never touches overlap).
        overlap = (
            shared.join(s1, "doc_id_1")
            .join(s2, "doc_id_2")
            .localCheckpoint(eager=False)
        )
        jpairs = overlap.select(
            "doc_id_1",
            "doc_id_2",
            F.round(
                F.col("shared")
                * 1_000_000
                / (F.col("n1") + F.col("n2") - F.col("shared"))
            )
            .cast("long")
            .alias("jaccard_x1e6"),
        ).filter(F.col("jaccard_x1e6") >= int(jaccard_threshold * 1_000_000))
        # jpairs is a cheap filter over the checkpointed overlap table,
        # so components' one-pass edge explode reads materialized data
        comp = dedup_components(jpairs)
        runs = runs_future.result()
    finally:
        pool.shutdown(wait=True)
    # per-doc max containment: this doc as side 1 (÷ n1) and as side 2 (÷ n2)
    contained = (
        overlap.select(
            F.col("doc_id_1").alias("doc_id"),
            F.round(F.col("shared") * 1_000_000 / F.col("n1"))
            .cast("long")
            .alias("c"),
        )
        .unionByName(
            overlap.select(
                F.col("doc_id_2").alias("doc_id"),
                F.round(F.col("shared") * 1_000_000 / F.col("n2"))
                .cast("long")
                .alias("c"),
            )
        )
        .groupBy("doc_id")
        .agg(F.max("c").alias("max_contained_x1e6"))
    )
    # runs feeds BOTH branches of the coverage union below — materialized
    # once inside _runs_chain (the fan-out-recompute pathology, SCALE.md).
    #
    # Covered-token count = |union of the per-doc token intervals
    # [start, start+n_tokens-1]| — computed as the classic interval
    # sweep (sort by start per doc, each interval contributes the part
    # past the running max end) instead of exploding every covered
    # POSITION and distinct-counting it. Exact same integer (sorted by
    # start, the earlier interval attaining the running max starts no
    # later than this one, so [s, prev_max] is contiguously covered),
    # but the plan drops the position explode (rows × run length), the
    # (doc_id, pos) distinct shuffle AND the second groupBy shuffle for
    # one window over interval rows — at corpus scale the explode
    # multiplied the run table by average run LENGTH before shuffling.
    ivals = runs.select(
        F.col("doc_id_1").alias("doc_id"),
        F.col("start_1").alias("s"),
        (F.col("start_1") + F.col("n_tokens") - 1).alias("e"),
    ).unionByName(
        runs.select(
            F.col("doc_id_2").alias("doc_id"),
            F.col("start_2").alias("s"),
            (F.col("start_2") + F.col("n_tokens") - 1).alias("e"),
        )
    )
    wiv = (
        Window.partitionBy("doc_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    covered = (
        ivals.withColumn("prev_e", F.max("e").over(wiv))
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.greatest(
                    F.col("e")
                    - F.greatest(F.col("prev_e"), F.col("s") - F.lit(1)),
                    F.lit(0).cast("long"),
                )
            ).alias("n_verbatim_shared_tokens")
        )
    )
    ntok = documents.select(
        "doc_id",
        F.when(F.col("text").isNull(), F.lit(0))
        .otherwise(F.size(F.split(F.col("text"), "\\s+")))
        .cast("long")
        .alias("n_tokens"),
    )
    comp_keyed = comp.withColumnRenamed("component", "near_component")
    return (
        ex.join(comp_keyed, "doc_id", "left")
        .join(contained, "doc_id", "left")
        .join(ntok, "doc_id")
        .join(covered, "doc_id", "left")
        .select(
            "doc_id",
            "n_exact_copies",
            "exact_rep",
            F.coalesce("near_component", F.col("doc_id")).alias("near_component"),
            F.coalesce("max_contained_x1e6", F.lit(0)).alias("max_contained_x1e6"),
            "n_tokens",
            F.coalesce("n_verbatim_shared_tokens", F.lit(0)).alias(
                "n_verbatim_shared_tokens"
            ),
        )
    )


def shingle_containment_pairs(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """ASYMMETRIC near-dup: shingle containment C(A in B) =
    |shingles(A) ∩ shingles(B)| / |shingles(A)| — the quote/subset
    detector Jaccard structurally misses. A 50-shingle document embedded
    verbatim in a 5000-shingle one has containment 1.0 but Jaccard
    ~0.01: symmetric dedup keeps both, yet for training data the small
    doc is pure duplication (Lee et al.'s suffix dedup catches the span;
    this catches it at document granularity with one shingle join).

    Emits one row per unordered pair where EITHER direction reaches the
    threshold, with both directions' containment (x1e6 integers, exact
    cross-engine arithmetic): downstream keeps the container and drops
    the contained side when its containment is high.

    Same plan shape as ngram_jaccard_pairs (hashed-shingle self-join —
    only colliding pairs materialize; ``max_shingle_df`` for
    boilerplate): one extra size join, zero extra shuffles."""
    sh = shingles(documents, n)
    if max_shingle_df is not None:
        sh = cap_shingle_df(sh, max_shingle_df)
    sh = sh.localCheckpoint()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("doc_id_1"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_id_2"), "shingle")
    shared = (
        a.join(b, "shingle")
        .filter(F.col("doc_id_1") < F.col("doc_id_2"))
        .groupBy("doc_id_1", "doc_id_2")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    s1 = sizes.select(F.col("doc_id").alias("doc_id_1"), F.col("n_sh").alias("n1"))
    s2 = sizes.select(F.col("doc_id").alias("doc_id_2"), F.col("n_sh").alias("n2"))
    thr = int(threshold * 1_000_000)
    # size tables: one row per corpus doc — no broadcast hint, AQE decides
    # (the incremental_near_dup lesson)
    return (
        shared.join(s1, "doc_id_1")
        .join(s2, "doc_id_2")
        .select(
            "doc_id_1",
            "doc_id_2",
            F.round(F.col("shared") * 1_000_000 / F.col("n1"))
            .cast("long")
            .alias("containment_1_in_2_x1e6"),
            F.round(F.col("shared") * 1_000_000 / F.col("n2"))
            .cast("long")
            .alias("containment_2_in_1_x1e6"),
        )
        .filter(
            F.greatest(
                F.col("containment_1_in_2_x1e6"),
                F.col("containment_2_in_1_x1e6"),
            )
            >= thr
        )
    )


def maximal_duplicated_substrings(
    documents: DataFrame,
    n: int = 5,
    min_tokens: int | None = None,
    max_anchor_df: int | None = None,
    max_anchor_tf: int | None = None,
) -> DataFrame:
    """ARBITRARY-LENGTH verbatim-substring dedup: every maximal token run
    shared verbatim by a document pair, with its positions and length —
    the maximal-exact-match (MEM) generalization of
    :func:`duplicated_spans`, which only sees fixed n-token windows
    (VERDICT r05 #2). Training-data pipelines dedup maximal repeats >= N
    tokens (Lee et al. use suffix arrays); the Spark-native equivalent:

    1. ANCHORS: every n-token window at its 1-based position — the
       suffix-array seed set, as (doc_id, pos, anchor string).
    2. SEED MATCHES: anchors present in >= 2 documents, self-joined on
       the exact STRING with doc_id_1 < doc_id_2. Candidacy is gated
       hash-first (xxhash64 groupBy, ~8 bytes/distinct anchor through
       the shuffle, the duplicated_spans trick); a 64-bit collision can
       only admit an extra candidate to the string join, never a wrong
       output row.
    3. EXTEND/MERGE, no n²: a shared run of length L >= n matches
       anchors at EVERY position it covers, and those matches share one
       DIAGONAL (p2 - p1). Tokens match at [p, p+m+n-1] x [p+d, ...]
       iff anchors match at diagonal d positions [p .. p+m] — so maximal
       runs are exactly the consecutive-position islands per (pair,
       diagonal): island of m+1 anchors -> run of m+n tokens. Islands
       via the classic p1 - row_number() grouping key; the window
       partitions by (pair, diagonal), so its state is bounded by a
       single document's length, never the corpus.

    Output: (doc_id_1, doc_id_2, start_1, start_2, n_tokens) — one row
    per maximal shared run (every occurrence pair reports, the MEM
    convention), 1-based token positions, only runs >= min_tokens
    (default n).

    ``max_anchor_df`` is the corpus-scale knob: an anchor inside
    boilerplate shared by k documents seeds O(k²) pair rows, so cap the
    anchor's document frequency and runs through dropped anchors split
    — same trade as cap_shingle_df. The df filter is computed on the
    exact string over the already-candidate set (small), so collisions
    cannot shift the cap.

    ``max_anchor_tf`` is the DEGENERATE-TEXT knob: periodic/repetitive
    text ("x x x x ...") makes ONE anchor occur at every position, so a
    pair of such docs of length L seeds O(L²) matches — the inherent
    MEM-count blowup (probe: L=3000 → 9M seed rows, SCALE.md). Capping
    the anchor's TOTAL occurrence count (positions, not documents)
    drops only pathologically self-repeating anchors, which carry no
    dedup signal; like the df cap it is computed string-exact over the
    candidate set.

    The runs are computed per call. A caller whose plan reads them more
    than once truncates them itself (:func:`dedup_report` checkpoints
    them before its coverage union)."""
    if min_tokens is None:
        min_tokens = n
    tokenized = _spread(documents).select(
        "doc_id", F.split(F.col("text"), "\\s+").alias("_toks")
    )
    t = F.col("_toks")
    grams = F.transform(
        t,
        lambda x, i: F.when(
            i <= F.size(t) - n,
            F.concat_ws(
                " ", x, *[F.element_at(t, i + j + 1) for j in range(1, n)]
            ),
        ),
    )
    anchors = (
        tokenized.select(
            "doc_id", F.posexplode(grams).alias("pos0", "anchor")
        )
        .filter(F.col("anchor").isNotNull())
        .select(
            "doc_id", (F.col("pos0") + 1).cast("long").alias("pos"), "anchor"
        )
    )
    hashed = anchors.withColumn("_h", F.xxhash64("anchor"))
    # candidacy on the hash, with the per-document dedup done IN-ROW
    # (array_distinct over the hashed gram array — the shingles() shape):
    # doc_id is a key, so the old global distinct over every (hash,
    # doc_id) anchor row was a full shuffle that deduplicated only
    # within-document repeats; the df count shuffle now carries one
    # (long, partial count) per distinct in-doc hash after map-side agg
    doc_hashes = tokenized.select(
        F.explode(
            F.array_distinct(
                F.transform(
                    F.filter(grams, lambda g: g.isNotNull()),
                    lambda g: F.xxhash64(g),
                )
            )
        ).alias("_h")
    )
    hot = (
        doc_hashes.groupBy("_h")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") >= 2)
        .select("_h")
    )
    # pinned: left to AQE inside the cached frame, the build side flipped
    # run to run between this side and the 251k-row anchor side at sf0.1
    cand = hashed.join(F.broadcast(hot), "_h").select("doc_id", "pos", "anchor")
    if max_anchor_df is not None:
        over_cap = (
            cand.select("anchor", "doc_id")
            .distinct()
            .groupBy("anchor")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > max_anchor_df)
            .select("anchor")
        )
        cand = cand.join(F.broadcast(over_cap), "anchor", "left_anti")
    if max_anchor_tf is not None:
        over_tf = (
            cand.groupBy("anchor")
            .agg(F.count(F.lit(1)).alias("_tf"))
            .filter(F.col("_tf") > max_anchor_tf)
            .select("anchor")
        )
        cand = cand.join(F.broadcast(over_tf), "anchor", "left_anti")
    a, b = cand.alias("a"), cand.alias("b")
    matches = a.join(
        b,
        (F.col("a.anchor") == F.col("b.anchor"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_id_1"),
        F.col("b.doc_id").alias("doc_id_2"),
        F.col("a.pos").alias("p1"),
        F.col("b.pos").alias("p2"),
        (F.col("b.pos") - F.col("a.pos")).alias("_diag"),
    )
    w = Window.partitionBy("doc_id_1", "doc_id_2", "_diag").orderBy("p1")
    return (
        matches.withColumn("_grp", F.col("p1") - F.row_number().over(w))
        .groupBy("doc_id_1", "doc_id_2", "_diag", "_grp")
        .agg(
            F.min("p1").alias("start_1"),
            F.min("p2").alias("start_2"),
            (F.count(F.lit(1)) + F.lit(n - 1)).cast("long").alias("n_tokens"),
        )
        .filter(F.col("n_tokens") >= min_tokens)
        .select("doc_id_1", "doc_id_2", "start_1", "start_2", "n_tokens")
    )


def incremental_substring_verdict(
    corpus: DataFrame,
    new_docs: DataFrame,
    n: int = 5,
    max_anchor_df: int | None = None,
) -> DataFrame:
    """Delta-vs-corpus verbatim-overlap screening (the crawl-ingestion
    shape, substring analogue of :func:`incremental_near_dup`): for each
    NEW document, how much of it appears verbatim in the existing
    corpus — without touching corpus-internal pairs.

    Per new doc: ``max_run_tokens`` (longest verbatim run shared with
    any one corpus doc), ``n_covered_tokens`` (distinct new-doc token
    positions inside any cross run — the strip volume admission would
    pay), ``best_match_doc`` (corpus doc holding the longest run;
    min-id tie-break; NULL when nothing shared).

    Cost scales with the DELTA: corpus anchors are semi-joined against
    the new side's anchor-hash set first, so the corpus-side explode is
    pruned to anchors the delta actually mentions; the diagonal-island
    window then runs only over (new, corpus) matches. Doc-id spaces
    must be disjoint (caller's contract, as in incremental_near_dup).

    ``max_anchor_df``: a boilerplate anchor present in k corpus docs AND
    mentioned by the delta seeds |delta mentions| x k match rows — the
    hot-value wall every pair stage in this module caps. Drops anchors
    whose CORPUS document frequency exceeds the cap (string-exact, over
    the already-semi-joined corpus side, so the df job is delta-pruned
    too); runs through dropped anchors split, the standard trade."""
    def _anchors(docs, id_alias, pos_alias):
        tokenized = _spread(docs).select(
            "doc_id", F.split(F.col("text"), "\\s+").alias("_toks")
        )
        t = F.col("_toks")
        grams = F.transform(
            t,
            lambda x, i: F.when(
                i <= F.size(t) - n,
                F.concat_ws(
                    " ", x, *[F.element_at(t, i + j + 1) for j in range(1, n)]
                ),
            ),
        )
        return (
            tokenized.select(
                "doc_id", F.posexplode(grams).alias("pos0", "anchor")
            )
            .filter(F.col("anchor").isNotNull())
            .select(
                F.col("doc_id").alias(id_alias),
                (F.col("pos0") + 1).cast("long").alias(pos_alias),
                "anchor",
            )
        )

    new_a = _anchors(new_docs, "n_id", "n_pos").localCheckpoint()
    new_hashes = new_a.select(F.xxhash64("anchor").alias("_h")).distinct()
    # no broadcast hint: the hash set is DELTA-cardinality (usually tiny,
    # but data-dependent) — AQE broadcasts it while it fits and falls back
    # to a shuffled semi join when it doesn't (the r04 unbounded-hint rule)
    corp_a = _anchors(corpus, "c_id", "c_pos").join(
        new_hashes,
        F.xxhash64("anchor") == F.col("_h"),
        "left_semi",
    )
    if max_anchor_df is not None:
        # two consumers (df job + anti join) — materialize the delta-pruned
        # corpus anchors once instead of re-running the semi join per branch
        corp_a = corp_a.localCheckpoint()
        over_cap = (
            corp_a.select("anchor", "c_id")
            .distinct()
            .groupBy("anchor")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > max_anchor_df)
            .select("anchor")
        )
        corp_a = corp_a.join(F.broadcast(over_cap), "anchor", "left_anti")
    matches = new_a.join(corp_a, "anchor").select(
        "n_id",
        "c_id",
        "n_pos",
        (F.col("c_pos") - F.col("n_pos")).alias("_diag"),
    )
    w = Window.partitionBy("n_id", "c_id", "_diag").orderBy("n_pos")
    # runs feeds best AND covered — materialize once (fan-out rule)
    runs = (
        matches.withColumn("_grp", F.col("n_pos") - F.row_number().over(w))
        .groupBy("n_id", "c_id", "_diag", "_grp")
        .agg(
            F.min("n_pos").alias("start_n"),
            (F.count(F.lit(1)) + F.lit(n - 1)).cast("long").alias("run_len"),
        )
        .localCheckpoint()
    )
    best = runs.groupBy("n_id").agg(
        F.max("run_len").alias("max_run_tokens"),
        F.max_by(
            "c_id", F.struct(F.col("run_len"), -F.col("c_id"))
        ).alias("best_match_doc"),
    )
    covered = (
        runs.select(
            "n_id",
            F.explode(
                F.sequence(
                    F.col("start_n"), F.col("start_n") + F.col("run_len") - 1
                )
            ).alias("pos"),
        )
        .distinct()
        .groupBy("n_id")
        .agg(F.count(F.lit(1)).alias("n_covered_tokens"))
    )
    return (
        new_docs.select(F.col("doc_id"))
        .join(best.withColumnRenamed("n_id", "doc_id"), "doc_id", "left")
        .join(covered.withColumnRenamed("n_id", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("max_run_tokens", F.lit(0)).alias("max_run_tokens"),
            F.coalesce("n_covered_tokens", F.lit(0)).alias("n_covered_tokens"),
            "best_match_doc",
        )
    )


def strip_duplicated_substrings(
    documents: DataFrame,
    n: int = 5,
    min_tokens: int | None = None,
    max_anchor_df: int | None = None,
    max_anchor_tf: int | None = None,
) -> DataFrame:
    """The dedup ACTION for verbatim repeats (Lee et al.'s "Deduplicating
    Training Data Makes Language Models Better" removal step): every
    maximal cross-document token run found by
    :func:`maximal_duplicated_substrings` is KEPT in its lowest-doc_id
    occurrence and STRIPPED from every higher doc's occurrence, so the
    corpus retains exactly one copy of each long verbatim repeat.

    Shape (round 16 — guide §2.3 "shuffle keys and metadata instead of
    payloads" / §8): runs → per-(higher-doc) INTERVAL LIST (one groupBy
    over run rows — the only shuffle, and it moves interval metadata,
    never tokens) → joined doc-keyed to the corpus → the strip decision,
    the removed count and the reassembly all happen IN-ROW over the
    token array (an indexed transform + an ``exists`` over the doc's
    intervals). The old form exploded every corpus token position,
    shuffled the full (doc_id, pos, token) table through a join against
    the exploded strip positions, then re-assembled the whole corpus
    through a collect_list groupBy — three corpus-sized shuffles where
    the decision data per doc is a handful of intervals.

    Output: (doc_id, n_tokens_before, n_tokens_removed, text_stripped)
    for every non-NULL-text document — docs with nothing stripped pass
    through with n_tokens_removed = 0; a doc that is one big repeat of a
    lower doc strips to the empty string (count columns make that
    auditable). Reassembly joins tokens with a single space, so
    documents round-trip byte-exact iff their original whitespace was
    single spaces (token-level identity always holds — the guarantee
    that matters for training-data dedup)."""
    runs = maximal_duplicated_substrings(
        documents,
        n=n,
        min_tokens=min_tokens,
        max_anchor_df=max_anchor_df,
        max_anchor_tf=max_anchor_tf,
    )
    ivals = runs.groupBy(F.col("doc_id_2").alias("doc_id")).agg(
        F.collect_list(
            F.struct(
                F.col("start_2").alias("s"),
                (F.col("start_2") + F.col("n_tokens") - 1).alias("e"),
            )
        ).alias("_iv")
    )
    toks = (
        _spread(documents.filter(F.col("text").isNotNull()))
        .select("doc_id", F.split(F.col("text"), "\\s+").alias("_toks"))
        .join(ivals, "doc_id", "left")
    )
    # 1-based positions, matching the run convention; a position is
    # stripped iff ANY interval covers it (overlapping runs count once —
    # same as the old explode+distinct). coalesce guards the no-runs
    # docs, whose _iv is NULL after the left join.
    indexed = F.transform(
        F.col("_toks"),
        lambda x, i: F.struct(x.alias("t"), (i + 1).alias("p")),
    )
    kept = F.filter(
        indexed,
        lambda s: ~F.coalesce(
            F.exists(
                F.col("_iv"),
                lambda iv: (s.getField("p") >= iv.getField("s"))
                & (s.getField("p") <= iv.getField("e")),
            ),
            F.lit(False),
        ),
    )
    return toks.select(
        "doc_id",
        F.size("_toks").cast("long").alias("n_tokens_before"),
        (F.size("_toks") - F.size(kept)).cast("long").alias(
            "n_tokens_removed"
        ),
        F.concat_ws(
            " ", F.transform(kept, lambda s: s.getField("t"))
        ).alias("text_stripped"),
    )


def minhash_lsh_pairs(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """MinHash-LSH candidate generation + exact-Jaccard verification.

    Bands of 2 rows hashed to a bucket; docs sharing any (band, bucket) are
    candidates; candidates are scored exactly. Output == exact
    ngram_jaccard_pairs at any threshold with near-certain LSH recall
    (see module docstring). ``max_shingle_df`` applies the same
    distinctive-shingle cap as :func:`ngram_jaccard_pairs` (consistently
    to signatures AND the verify pass, so the two functions stay
    output-identical for the same cap); the banded join is less exposed
    than the exact self-join, but a boilerplate band bucket still
    balloons candidates."""
    rows_per_band = NUM_HASHES // NUM_BANDS
    # the shingle set feeds BOTH the signature pass and the exact-Jaccard
    # verify pass — an eager localCheckpoint builds it once (a lazy
    # persist is computed N× by the N concurrent downstream stages)
    sh = shingles(documents, n)
    if max_shingle_df is not None:
        sh = cap_shingle_df(sh, max_shingle_df)
    sh = sh.localCheckpoint()
    # generated-SQL aggregates and band structs: one gateway round-trip
    # per column / one for the whole band array instead of hundreds of
    # per-op Column calls — identical Catalyst trees
    aggs = [
        F.expr(f"min(xxhash64({i}, shingle))").alias(f"h{i}")
        for i in range(NUM_HASHES)
    ]
    sig = sh.groupBy("doc_id").agg(*aggs)
    # both sides of the bucket self-join read the band table; the differing
    # doc_id_1/doc_id_2 projections sit below the exchange, so Spark can't
    # reuse one shuffle for both — checkpoint the (tiny: docs × bands rows)
    # band table instead of running the 64-agg signature pass twice
    band_structs = ", ".join(
        "struct({b} as band, xxhash64({cols}) as bucket)".format(
            b=b,
            cols=", ".join(
                f"h{b * rows_per_band + r}" for r in range(rows_per_band)
            ),
        )
        for b in range(NUM_BANDS)
    )
    bands = (
        sig.select(
            "doc_id",
            F.expr(f"explode(array({band_structs}))").alias("bb"),
        )
        .select("doc_id", "bb.band", "bb.bucket")
        .localCheckpoint()
    )
    left = bands.select(F.col("doc_id").alias("doc_id_1"), "band", "bucket")
    right = bands.select(F.col("doc_id").alias("doc_id_2"), "band", "bucket")
    candidates = (
        left.join(right, ["band", "bucket"])
        .filter(F.col("doc_id_1") < F.col("doc_id_2"))
        .select("doc_id_1", "doc_id_2")
        .distinct()
    )
    return _pair_jaccard(sh, pairs_filter=candidates).filter(
        F.col("jaccard_x1e6") >= int(threshold * 1_000_000)
    )


def lsh_auto_knobs(
    n_rows: int,
    bits_floor: int = 8,
    tables_floor: int = 6,
    n_ref: int = 8192,
) -> tuple[int, int]:
    """Corpus-size-derived LSH knobs (the SCALE.md operating rule, now
    code): same-bucket candidate pairs grow ~N²/2^bits at fixed knobs —
    the round-3 replication probe measured 35× time at 32× data. Growing
    ``bits_per_table`` by log₂ of the corpus growth keeps per-bucket
    density (and therefore candidate count per row) constant; each added
    bit multiplies per-table collision probability for true near-dups by
    ~0.857 (cosine 0.9), so ``num_tables`` scales by 1/0.857 per bit to
    hold recall. Floors are the hand-tuned test-scale values — small
    corpora keep exactly the old behavior."""
    import math

    extra = max(0, math.ceil(math.log2(max(n_rows, 1) / n_ref)))
    bits = bits_floor + extra
    return bits, _tables_for_bits(bits, bits_floor, tables_floor)


def _tables_for_bits(
    bits: int, bits_floor: int = 8, tables_floor: int = 6
) -> int:
    """Recall-compensating table count for an EFFECTIVE bit width: each
    bit past the floor multiplies per-table collision probability for
    true near-dups by ~0.857 (cosine 0.9), so tables scale by its
    inverse. Split out so a caller pinning bits_per_table explicitly
    still gets tables matched to THOSE bits — deriving tables from the
    auto bits while using different explicit bits would silently
    collapse recall (e.g. 16 explicit bits with the 8-bit floor's 6
    tables ⇒ ~59% miss)."""
    import math

    return math.ceil(tables_floor * (1 / 0.857) ** max(0, bits - bits_floor))


def embedding_near_dup_lsh(
    embeddings: DataFrame,
    threshold: float = 0.9,
    bits_per_table: int | None = None,
    num_tables: int | None = None,
) -> DataFrame:
    """Scale path for embedding near-dup: sign-random-projection LSH.

    ``num_tables`` independent ``bits_per_table``-bit signatures; a pair is a
    candidate iff it collides on at least one whole table; candidates are
    verified with the exact cosine. For genuine near-dups (cosine >= 0.9,
    angle <= 0.45 rad) the per-bit collision probability is 1 - θ/π ≈ 0.857,
    per-table 0.857^8 ≈ 0.29, miss across 6 tables ≈ 0.71^6 ≈ 13% — and
    practically lower because near-dup angles cluster near 0. Recall is
    measured in tests against planted duplicates; raise num_tables for more.

    Knobs default to AUTO (:func:`lsh_auto_knobs`): derived from the
    corpus count so a 100× corpus gets log₂-scaled bits (near-linear
    candidate growth — the round-3 probe measured fixed-knob 35× vs
    auto-rule 4.4× at 32× data) and recall-compensating tables by
    default; pass explicit ints to pin them. Exact duplicates collide on
    every table at ANY knob setting (identical vectors ⇒ identical
    signatures), so planted-duplicate recall — the oracle-checked
    property — is knob-independent.

    Unlike the exact form, cost is Σ_buckets |bucket|² per table — at 100 TB
    the self-joins shuffle on (table, signature), never materializing N²."""
    import numpy as np

    from .similarity import multi_table_planes, pair_dot_udf

    if bits_per_table is None:
        # materialize the (possibly derived) embeddings ONCE: the count
        # here and the _prep pass below would otherwise each execute the
        # full upstream pipeline
        embeddings, n_emb = cache_shared(
            embeddings.select("vec_id", "embedding")
        )
        bits_per_table, auto_tables = lsh_auto_knobs(n_emb)
    else:
        # tables must compensate the EFFECTIVE bits, not the auto ones
        auto_tables = _tables_for_bits(bits_per_table)
    num_tables = num_tables or auto_tables
    planes = multi_table_planes(num_tables, bits_per_table)
    weights = 1 << np.arange(bits_per_table, dtype=np.int64)

    # ONE Python pass prepares both the normalized vector and all table
    # signatures per row (a single matmul per Arrow batch); eagerly
    # checkpointed so the candidate join's two sides and the verify join
    # all read the materialized result instead of re-crossing into Python
    def _prep(batches):
        import pandas as pd

        for pdf in batches:
            x = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            n = np.linalg.norm(x, axis=1, keepdims=True)
            # zero-norm drop (ADVICE r08, shared convention with
            # normalized_vectors): a zero vector would normalize to NaN,
            # and Spark's NaN-is-greatest comparison would then PASS the
            # cosine >= threshold verify that DuckDB/numpy reject
            keep = n[:, 0] > 0
            x = x[keep] / n[keep]
            bits = (x @ planes.T > 0).astype(np.int64)
            packed = (
                bits.reshape(len(x), num_tables, bits_per_table) * weights
            ).sum(axis=2)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy()[keep],
                    "ne": list(x),
                    "sig_arr": list(packed),
                }
            )

    prepped, _ = cache_shared(
        embeddings.select("vec_id", "embedding")
        .mapInPandas(_prep, "vec_id long, ne array<double>, sig_arr array<long>")
    )
    # candidate generation carries ONLY (tbl, sig, vec_id) — the 64-double
    # vectors never enter the self-join shuffle or the distinct
    sigs = prepped.select("vec_id", F.posexplode("sig_arr").alias("tbl", "sig"))
    left = sigs.select(F.col("vec_id").alias("vec_id_1"), "tbl", "sig")
    right = sigs.select(F.col("vec_id").alias("vec_id_2"), "tbl", "sig")
    cand = (
        left.join(right, ["tbl", "sig"])
        .filter(F.col("vec_id_1") < F.col("vec_id_2"))
        .select("vec_id_1", "vec_id_2")
        .distinct()
    )
    n1 = prepped.select(F.col("vec_id").alias("vec_id_1"), F.col("ne").alias("e1"))
    n2 = prepped.select(F.col("vec_id").alias("vec_id_2"), F.col("ne").alias("e2"))
    dots = pair_dot_udf()
    return (
        cand.join(n1, "vec_id_1")
        .join(n2, "vec_id_2")
        .withColumn("cosine", dots(F.col("e1"), F.col("e2")))
        .filter(F.col("cosine") >= threshold)
        .select(
            "vec_id_1",
            "vec_id_2",
            F.round(F.col("cosine") * 1_000_000).cast("long").alias("cosine_x1e6"),
        )
    )


def _portable_token_hash(col):
    """60-bit engine-portable token hash: the first 15 hex chars of md5,
    parsed base-16. Spark: conv(substr(md5 …)); DuckDB: ('0x' || substr(
    md5 …))::BIGINT — verified identical, so an oracle can recompute every
    SimHash signature bit (xxhash64 has no cross-engine twin)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def simhash_signatures(
    documents: DataFrame,
    portable: bool = False,
    max_token_df: int | None = None,
) -> DataFrame:
    """64-bit SimHash per document from token hashes (sign-sum per bit).

    ``portable=True`` swaps xxhash64 for the md5-based 60-bit hash (bits
    60-63 then always vote -1 → zero in the signature — harmless, both
    engines agree) so the signature is reproducible outside Spark.

    ``max_token_df`` is SimHash's flavor of the hot-shingle guard
    (cap_shingle_df): tokens present in more than that many DOCUMENTS are
    dropped BEFORE the sign-sum, so boilerplate (headers, templates)
    stops dominating signatures — without it, a corpus sharing most of
    its tokens collapses into a few band buckets and the candidate join
    (plus the output itself, by simhash's own definition) goes quadratic.
    Signatures are then over distinctive tokens; uncapped by default.

    df is true document frequency — counted over distinct (doc_id,
    token) — so one whale document repeating a distinctive token cannot
    evict that token from every OTHER document's signature corpus-wide.
    Occurrence rows of surviving tokens are kept untouched: per-document
    vote weights are unchanged. The hot list (> max_df docs) is tiny and
    broadcasts; no window skew on the hottest token."""
    tok = _spread(documents).select(
        "doc_id", F.explode(F.split(F.col("text"), "\\s+")).alias("token")
    )
    if max_token_df is not None:
        tok = _drop_hot_values(
            tok, "token", max_token_df, count_distinct_by="doc_id"
        )
    # bind the token hash to a projected column BEFORE the 64 per-bit vote
    # aggregates: each vote references the hash, and subexpression
    # elimination does not reach into aggregate inputs — inlined, the (md5
    # for the portable variant) hash would be recomputed per bit
    hashed = tok.select(
        "doc_id",
        (
            _portable_token_hash(F.col("token"))
            if portable
            else F.xxhash64("token")
        ).alias("_h"),
    )
    # the 64 per-bit expressions are built as generated SQL strings (one
    # py4j round-trip each / one for the fold) rather than per-op Column
    # calls: the Column form issued ~1000 gateway round-trips per call
    # (~0.6 s of driver time, measured by cProfile) for an identical
    # Catalyst tree — same CASE WHEN / sum / shift ops, same results
    votes = [
        F.expr(
            f"sum(case when (shiftright(_h, {i}) & 1) = 1 then 1 else -1 end)"
        ).alias(f"v{i}")
        for i in range(64)
    ]
    per_bit = hashed.groupBy("doc_id").agg(*votes)
    sig = F.expr(
        " | ".join(
            f"shiftleft(cast(case when v{i} > 0 then 1 else 0 end as bigint), {i})"
            for i in range(64)
        )
    )
    return per_bit.select("doc_id", sig.alias("simhash"))


def simhash_near_pairs(
    documents: DataFrame,
    max_hamming: int = 4,
    portable: bool = False,
    max_token_df: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, banded with GUARANTEED
    candidate recall: the 64-bit signature is split into ``max_hamming + 1``
    bands, so two signatures within ``max_hamming`` differing bits must
    agree on at least one whole band (pigeonhole: max_hamming differences
    cannot touch all max_hamming+1 bands). Candidates come from band-bucket
    collisions — only colliding pairs materialize, never N² — and are then
    verified by exact popcount, so the banding affects cost, not results."""
    n_bands = max_hamming + 1
    width, rem = divmod(64, n_bands)
    # first `rem` bands are one bit wider; offsets partition bits [0, 64)
    widths = [width + 1] * rem + [width] * (n_bands - rem)
    offsets = [sum(widths[:b]) for b in range(n_bands)]
    # the band table feeds both self-join sides — materialize it once
    # (same rationale as minhash_lsh_pairs: the sides' stages run
    # concurrently, so a lazy persist would compute the signature pass
    # twice)
    sig = simhash_signatures(
        documents, portable=portable, max_token_df=max_token_df
    )
    # arithmetic shift sign-extends for the top band; the width mask
    # keeps exactly the band's bits (generated SQL — see simhash_signatures)
    band_structs = ", ".join(
        f"struct({b} as band, "
        f"(shiftright(simhash, {offsets[b]}) & {(1 << widths[b]) - 1}) as bucket)"
        for b in range(n_bands)
    )
    bands = sig.select(
        "doc_id",
        "simhash",
        F.expr(f"explode(array({band_structs}))").alias("bb"),
    ).select("doc_id", "simhash", "bb.band", "bb.bucket").localCheckpoint()
    left = bands.select(
        F.col("doc_id").alias("doc_id_1"), F.col("simhash").alias("sig1"), "band", "bucket"
    )
    right = bands.select(
        F.col("doc_id").alias("doc_id_2"), F.col("simhash").alias("sig2"), "band", "bucket"
    )
    cand = (
        left.join(right, ["band", "bucket"])
        .filter(F.col("doc_id_1") < F.col("doc_id_2"))
        .select("doc_id_1", "doc_id_2", "sig1", "sig2")
        .distinct()
    )
    hamming = F.bit_count(F.col("sig1").bitwiseXOR(F.col("sig2")))
    return cand.select(
        "doc_id_1", "doc_id_2", hamming.alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)


# rounds the last dedup_components call used — read by convergence tests
# (a return-value change would break every caller for a diagnostic)
_LAST_COMPONENT_ROUNDS: int = 0


def dedup_components(pairs: DataFrame, max_iters: int = 64) -> DataFrame:
    """Connected components over near-dup pairs: (doc_id, component) where
    component = min doc_id reachable through the pair graph — the step that
    turns pairwise matches into duplicate CLUSTERS (keep one row per
    component to materialize the deduplicated corpus).

    Min-label propagation WITH POINTER JUMPING, pure DataFrame ops. Each
    round does two steps:

    1. neighbor-min: every node takes the min of its own and its
       neighbors' labels (join + hash-agg, one shuffle) — the classic
       propagation step, O(diameter) rounds alone;
    2. pointer jump: every node then replaces its label with ITS LABEL'S
       label (labels self-join) — path-halving, the two-phase
       acceleration the round-3 verdict asked for: label chains collapse
       geometrically, so convergence needs O(log diameter) rounds total
       (a 200-chain converges in 6 rounds where plain propagation needs
       ~200 — and silently returned WRONG labels past max_iters; pinned
       by tests/test_dedup.py::test_components_chain_converges_logarithmically).

    Correctness invariant: a label is always the id of a node in the same
    component, and both steps are monotone non-increasing, so the fixpoint
    is the component min — the union-find property test stays the oracle.
    Converged when no label changes. Label state is localCheckpointed
    each round to keep lineage flat — the standard large-graph pattern
    short of bringing in GraphFrames."""
    global _LAST_COMPONENT_ROUNDS
    # Both edge orientations come from ONE explode over the pair rows —
    # not a two-branch union. The union form referenced the (possibly
    # expensive) pair pipeline twice, forcing a separate pairs
    # checkpoint job before the edges checkpoint just to avoid computing
    # the pair join twice; the in-row explode reads each pair row once,
    # so the pairs checkpoint is gone and only the edges materialize
    # remains (one blocking job instead of two per components call).
    # NO distinct on the edges: every producer in this package emits
    # distinct ordered pairs from a groupBy, the two orientations are
    # disjoint, and min-propagation is duplicate-TOLERANT anyway (a
    # duplicate edge changes no label, only join width). The checkpoint
    # stays: every round's neighbor join references edges, and an
    # un-materialized edge table re-evaluates inside each round's
    # checkpoint (measured +0.7 s on x_dedup_report when dropped).
    pairs = pairs.select("doc_id_1", "doc_id_2")
    edges = (
        pairs.select(
            F.expr(
                "explode(array(struct(doc_id_1 as src, doc_id_2 as dst), "
                "struct(doc_id_2 as src, doc_id_1 as dst))) as e"
            )
        )
        .select("e.src", "e.dst")
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("component", F.col("doc_id"))
    )
    _LAST_COMPONENT_ROUNDS = 0
    for _ in range(max_iters):
        _LAST_COMPONENT_ROUNDS += 1
        neighbor_min = (
            edges.join(labels, edges["dst"] == labels["doc_id"])
            .groupBy("src")
            .agg(F.min("component").alias("nbr_component"))
        )
        stepped = labels.join(
            neighbor_min, labels["doc_id"] == neighbor_min["src"], "left"
        ).select(
            "doc_id",
            F.least(
                F.col("component"),
                F.coalesce(F.col("nbr_component"), F.col("component")),
            ).alias("component"),
            F.col("component").alias("prev"),
        )
        # pointer jump: component <- label(component). The label column
        # always holds a node id (both steps only ever assign node ids),
        # so the self-join resolves every pointer; left+coalesce guards
        # the no-op case without a row-count change.
        ptr = stepped.select(
            F.col("doc_id").alias("p_id"), F.col("component").alias("p_comp")
        )
        updated = (
            stepped.join(ptr, stepped["component"] == ptr["p_id"], "left")
            .select(
                "doc_id",
                F.coalesce(F.col("p_comp"), F.col("component")).alias("component"),
                "prev",
            )
            # round N's plan references round N-1's — the checkpoint
            # truncates lineage, or analysis cost grows exponentially
            # with rounds. LAZY: the convergence count right below is
            # the round's one next action, so it materializes the
            # checkpoint in the same job — one blocking dispatch per
            # round instead of two (strictly sequential consumer)
            .localCheckpoint(eager=False)
        )
        # prev carried through the checkpoint so convergence is a cheap
        # filter on materialized data, not a second join+job — and the
        # count doubles as the lazy checkpoint's materializing action
        changed = updated.filter(F.col("component") < F.col("prev")).count()
        labels = updated.select("doc_id", "component")
        if changed == 0:
            break
    return labels


def embedding_near_dup_blocked(
    embeddings: DataFrame, threshold: float = 0.4, n_blocks: int = 8
) -> DataFrame:
    """Exact embedding-cosine near-dup pairs with NO driver-side collect:
    block-replicated all-pairs, one numpy matmul per block-pair group.

    Each vector hashes to one of ``n_blocks`` blocks; side A replicates to
    every block pair (b, j>=b), side B to (i<=b, b), so every unordered
    vector pair meets in EXACTLY one (i, j) cogroup. Scoring runs as
    ``cogroup().applyInPandas``: each group is two Arrow batches turned
    into ONE (N/B × N/B) matrix product, per group and distributed. (A
    pure-JVM pair join was measured 10-40× slower here: per-pair dot
    products run as interpreted higher-order functions, and unrolling them
    blows out codegen — bulk matmul is precisely the Pandas-UDF sweet
    spot.)

    Cost model at 100 TB: Arrow-shuffles N·(n_blocks+1) vectors (NOT two
    per pair); per-task memory is two N/B-vector blocks; compute is the
    inherent N²/2 of EXACT all-pairs, spread over B(B+1)/2 groups — tune
    ``n_blocks`` so a block pair fits executor memory. This is the exact
    rung under :func:`embedding_near_dup_lsh` (avoids N² by candidate
    pruning), with the same output contract: (vec_id_1, vec_id_2,
    cosine_x1e6), i<j, cosine >= threshold.
    """
    import numpy as np
    import pandas as pd

    blk = F.pmod(F.xxhash64(F.col("vec_id")), F.lit(n_blocks))
    base = embeddings.select("vec_id", "embedding", blk.alias("blk"))
    # side A covers block pairs (blk, j >= blk); side B covers (i <= blk, blk)
    a = base.select(
        "vec_id",
        "embedding",
        F.col("blk").alias("bi"),
        F.explode(F.sequence(F.col("blk"), F.lit(n_blocks - 1))).alias("bj"),
    )
    # identity aliases give side B's value columns ids of their own:
    # without them the cogroup's UDF reads side A's ids for both sides,
    # and over a union input side B arrives with its grouping columns only
    b = base.select(
        F.col("vec_id").alias("vec_id"),
        F.col("embedding").alias("embedding"),
        F.explode(F.sequence(F.lit(0), F.col("blk"))).alias("bi"),
        F.col("blk").alias("bj"),
    )

    def _score(key, a_pdf: pd.DataFrame, b_pdf: pd.DataFrame) -> pd.DataFrame:
        bi, bj = key
        if a_pdf.empty or b_pdf.empty:
            return pd.DataFrame(
                {"vec_id_1": [], "vec_id_2": [], "cosine_x1e6": []}
            ).astype({"vec_id_1": "int64", "vec_id_2": "int64", "cosine_x1e6": "int64"})
        x = np.array(a_pdf["embedding"].tolist(), dtype=np.float64)
        y = np.array(b_pdf["embedding"].tolist(), dtype=np.float64)
        x /= np.linalg.norm(x, axis=1, keepdims=True)
        y /= np.linalg.norm(y, axis=1, keepdims=True)
        xid = a_pdf["vec_id"].to_numpy(dtype=np.int64)
        yid = b_pdf["vec_id"].to_numpy(dtype=np.int64)
        sims = x @ y.T
        if bi == bj:
            # same-block group holds the full block on both sides: keep the
            # strict upper triangle by id
            mask = (sims >= threshold) & (xid[:, None] < yid[None, :])
        else:
            # cross-block group holds each unordered pair once, arbitrary
            # id order
            mask = sims >= threshold
        i, j = np.nonzero(mask)
        lo = np.minimum(xid[i], yid[j])
        hi = np.maximum(xid[i], yid[j])
        return pd.DataFrame(
            {
                "vec_id_1": lo,
                "vec_id_2": hi,
                # half-up at the 1e-6 grain — same rounding as the
                # DuckDB oracle
                "cosine_x1e6": np.floor(sims[i, j] * 1_000_000 + 0.5).astype(
                    np.int64
                ),
            }
        )

    return (
        a.groupBy("bi", "bj")
        .cogroup(b.groupBy("bi", "bj"))
        .applyInPandas(
            _score, "vec_id_1 long, vec_id_2 long, cosine_x1e6 long"
        )
    )


def semantic_near_dup_pairs(
    embeddings: DataFrame, threshold: float = 0.4, n_clusters: int = 16
) -> DataFrame:
    """SemDeDup-style semantic near-dup pairs: k-means cluster the
    embeddings (centroids trained on a bounded driver-side sample — the
    constant-cost ANN recipe, similarity._train_centroids), then score
    all pairs WITHIN each cluster only — the curation family that catches
    paraphrases MEM/shingle methods miss (Abbas et al., SemDeDup,
    arXiv:2303.09540).

    Scale shape: assignment is one broadcast-centroid crossJoin + max_by
    hash-agg (corpus scanned once, shuffled only by cell id — the
    ivf_topk plan); pair scoring is cluster-local, so compute is
    Σ|cell|²/2 instead of N²/2 — at 100 TB, n_clusters grows with the
    corpus so a cell fits one task (cluster skew is the documented
    SemDeDup trade: a mega-cluster re-approaches all-pairs; raise
    n_clusters or pre-split hot cells). Same kernel economics as
    embedding_near_dup_blocked: one numpy matmul per cell, Arrow in/out.

    Approximate BY DESIGN: pairs straddling a cluster boundary are
    missed (recall vs the exact blocked baseline is measured in
    tests/test_dedup.py); within a cluster the scoring is exact. Output
    contract matches the other near-dup fns: (vec_id_1, vec_id_2,
    cosine_x1e6), i<j, cosine >= threshold."""
    import numpy as np
    import pandas as pd

    from .similarity import (
        _centroids_df,
        _train_centroids,
        assign_cells,
        normalized_vectors,
    )

    spark = embeddings.sparkSession
    cent = _train_centroids(embeddings, n_clusters)
    cdf = _centroids_df(spark, cent)
    # the SHARED ivf_topk assignment (similarity.assign_cells): one
    # audited implementation instead of a drifting copy; cent= routes
    # to the numpy-argmax batch kernel (no crossJoin, no max_by shuffle)
    assigned = assign_cells(normalized_vectors(embeddings), cdf, cent=cent)

    # no type hints: a partially-annotated applyInPandas kernel trips
    # pyspark's eval-type inference warning
    def _score(key, pdf):
        empty = pd.DataFrame(
            {"vec_id_1": [], "vec_id_2": [], "cosine_x1e6": []}
        ).astype(
            {"vec_id_1": "int64", "vec_id_2": "int64", "cosine_x1e6": "int64"}
        )
        if len(pdf) < 2:
            return empty
        x = np.array(pdf["ne"].tolist(), dtype=np.float64)
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        sims = x @ x.T
        mask = (sims >= threshold) & (ids[:, None] < ids[None, :])
        i, j = np.nonzero(mask)
        return pd.DataFrame(
            {
                "vec_id_1": ids[i],
                "vec_id_2": ids[j],
                # same half-up 1e-6 grain as the exact baselines
                "cosine_x1e6": np.floor(sims[i, j] * 1_000_000 + 0.5).astype(
                    np.int64
                ),
            }
        )

    return assigned.groupBy("cell").applyInPandas(
        _score, "vec_id_1 long, vec_id_2 long, cosine_x1e6 long"
    )


def semantic_dedup_certified(
    embeddings: DataFrame,
    threshold: float = 0.4,
    n_clusters: int = 16,
    num_probes: int = 10,
    planted_offset: int = 1 << 40,
) -> DataFrame:
    """Self-certifying SemDeDup (the x_sim_lsh planted-probe pattern): the
    corpus is augmented with a PARAPHRASE DOUBLE of each probe vector —
    the same direction at 2× magnitude, so byte-level/exact dedup can
    never catch it but its cosine with the probe is exactly 1.0 — and the
    certificate per probe asserts the semantic pipeline did:

    - ``planted_ok``: the (probe, double) pair was detected. Deterministic
      for ANY trained centroid set: scaling by a power of two is exact in
      IEEE arithmetic, so the double's normalized vector is bit-identical
      to the probe's, lands in the same cell, and scores >= threshold;
    - ``dropped_id``: the id SemDeDup's keep-lowest rule removes — always
      the planted double (probe_id + planted_offset), engine-independent,
      so the DuckDB oracle states it literally.

    ``planted_offset`` must exceed every real vec_id (certified_ann_topk
    docstring); cluster-boundary recall of the UNPLANTED corpus is the
    tests/test_dedup.py measurement, not this certificate's claim."""
    planted = embeddings.filter(F.col("vec_id") < num_probes).select(
        (F.col("vec_id") + F.lit(planted_offset)).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(2.0).cast("float")).alias(
            "embedding"
        ),
    )
    corpus = embeddings.select("vec_id", "embedding").unionByName(planted)
    pairs = semantic_near_dup_pairs(corpus, threshold, n_clusters)
    probes = embeddings.filter(F.col("vec_id") < num_probes).select(
        F.col("vec_id").alias("probe_id")
    )
    hits = pairs.filter(
        (F.col("vec_id_2") == F.col("vec_id_1") + F.lit(planted_offset))
    ).select(F.col("vec_id_1").alias("probe_id"), F.lit(True).alias("hit"))
    return (
        probes.join(hits, "probe_id", "left")
        .select(
            "probe_id",
            F.coalesce(F.col("hit"), F.lit(False)).alias("planted_ok"),
            (F.col("probe_id") + F.lit(planted_offset)).alias("dropped_id"),
        )
        .orderBy("probe_id")
    )


def incremental_near_dup(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Delta-vs-corpus near-dup screening: for each NEW document, is it a
    near-duplicate (n-gram Jaccard >= threshold) of anything already in the
    corpus — without re-deduplicating the corpus.

    The operational form at 100 TB: a daily crawl delta is a fraction of the
    corpus, so the shingle join is delta-shingles × matching corpus-shingles
    only (shuffle keyed on the 8-byte shingle hash, exactly like
    ngram_jaccard_pairs) — cost scales with the DELTA and its collision
    fan-out, never with corpus². In production the corpus side is the
    standing (doc_id, shingle) table maintained as new batches are admitted;
    here it's derived on the fly from the corpus frame.

    Returns one row per new doc: (doc_id, is_dup, best_match_doc,
    best_jaccard_x1e6) — is_dup false gives (NULL, 0). Admission = filter
    ``~is_dup`` and append; the decision is deterministic, so replaying a
    delta batch admits the same rows (idempotent ingest).
    """
    new_sh = shingles(new_docs, n)
    corpus_sh = shingles(corpus_docs, n)
    if max_shingle_df is not None:
        # hot-shingle guard, CORPUS-df based: a boilerplate shingle in the
        # standing corpus collides with every delta doc (delta × corpus_df
        # pairs). The drop list is defined by the corpus side and applied
        # to BOTH sides so the Jaccard space stays consistent; the list
        # itself is tiny (only shingles in > max_df docs) → broadcast
        # anti-join on the delta side.
        corpus_sh = corpus_sh.localCheckpoint()
        hot = _hot_values(corpus_sh, "shingle", max_shingle_df)
        corpus_sh = corpus_sh.join(F.broadcast(hot), "shingle", "left_anti")
        new_sh = new_sh.join(F.broadcast(hot), "shingle", "left_anti")
    new_sh = new_sh.localCheckpoint()
    corpus_sh = corpus_sh.localCheckpoint()
    new_sizes = new_sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_new"))
    corpus_sizes = corpus_sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_corp")
    )
    shared = (
        new_sh.withColumnRenamed("doc_id", "new_id")
        .join(corpus_sh.withColumnRenamed("doc_id", "corp_id"), "shingle")
        .groupBy("new_id", "corp_id")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    # new_sizes is delta-bounded — safe to broadcast at any corpus size.
    # corpus_sizes is NOT (one row per corpus doc): join it plainly AFTER
    # `shared`, so only the corp_ids that survived the shingle collision
    # join shuffle — cost stays proportional to the delta's fan-out, never
    # the standing corpus (AQE still broadcasts it in small-corpus runs).
    scored = (
        shared.join(
            F.broadcast(new_sizes.withColumnRenamed("doc_id", "new_id")),
            "new_id",
        )
        .join(
            corpus_sizes.withColumnRenamed("doc_id", "corp_id"),
            "corp_id",
        )
        .select(
            "new_id",
            "corp_id",
            F.round(
                F.col("shared")
                * 1_000_000
                / (F.col("n_new") + F.col("n_corp") - F.col("shared"))
            )
            .cast("long")
            .alias("jaccard_x1e6"),
        )
        .filter(F.col("jaccard_x1e6") >= int(threshold * 1_000_000))
    )
    best = scored.groupBy("new_id").agg(
        F.max_by("corp_id", F.struct(F.col("jaccard_x1e6"), -F.col("corp_id"))).alias(
            "best_match_doc"
        ),
        F.max("jaccard_x1e6").alias("best_jaccard_x1e6"),
    )
    return (
        new_docs.select("doc_id")
        .join(best.withColumnRenamed("new_id", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.col("best_match_doc").isNotNull().alias("is_dup"),
            "best_match_doc",
            F.coalesce("best_jaccard_x1e6", F.lit(0)).alias(
                "best_jaccard_x1e6"
            ),
        )
    )


def simhash_planted_cert(
    documents: DataFrame,
    n_planted: int = 50,
    max_hamming: int = 4,
    planted_offset: int = 1 << 40,
    max_pairs_per_doc: int = 50,
) -> DataFrame:
    """Self-certifying run of the PRODUCTION (xxhash64) SimHash pipeline.

    The xxhash signature bits are engine-specific, so the pair list itself
    cannot be oracle-checked (the md5 ``portable`` twin covers that); and a
    cross-hash recall floor is NOT a usable certificate — two independent
    hash families agree only on the non-marginal pairs (measured: 13%
    pair-set overlap on the sf0.1 corpus, where most pairs sit right at the
    Hamming threshold). What IS deterministic under ANY hash: an exact copy
    of a document has an identical token multiset, hence an identical
    signature, hence Hamming 0 — and the banding's pigeonhole guarantee
    means a Hamming-0 pair can never be lost. So:

    - plant a copy (doc_id + planted_offset) of every non-NULL-text doc
      with doc_id < n_planted, run ``simhash_near_pairs`` (xxhash) over
      the augmented corpus, and emit ``found_ok`` per planted doc — TRUE
      iff the (d, d+offset) pair came back. Certifies tokenization, the
      xxhash sign-sum signature, band decomposition, the candidate join
      and the popcount filter end to end, independent of corpus content;
    - ``pairs_bounded_ok``: total emitted pairs <= max_pairs_per_doc x
      n_docs of the AUGMENTED corpus (originals + planted copies — the
      corpus the pairs are drawn from) — catches the degenerate-signature
      failure mode (constant
      signatures -> all-pairs output) that the planted flag alone would
      miss (a degenerate run still finds its planted pairs).

    DuckDB oracle: ``SELECT doc_id, TRUE, TRUE FROM documents WHERE
    doc_id < n AND text IS NOT NULL`` — the formerly rows-only production
    query becomes hash-green with flags that can actually fail.

    ``planted_offset`` must exceed every real doc_id (the found filter
    keys on doc_id_2 == doc_id_1 + offset); the 2^40 default clears any
    realistic corpus id space."""
    base = documents.filter(
        (F.col("doc_id") < n_planted) & F.col("text").isNotNull()
    )
    planted = base.withColumn(
        "doc_id", F.col("doc_id") + F.lit(planted_offset)
    )
    aug = documents.unionByName(planted)
    pairs = simhash_near_pairs(aug, max_hamming=max_hamming)
    found = pairs.filter(
        (F.col("doc_id_1") < n_planted)
        & (F.col("doc_id_2") == F.col("doc_id_1") + F.lit(planted_offset))
    ).select(F.col("doc_id_1").alias("doc_id"), F.lit(True).alias("f"))
    # bound vs the AUGMENTED corpus (originals + planted copies): the
    # pairs being counted come from `aug`, and the planted copies add
    # their own near-dup cross pairs — bounding against documents.count()
    # alone was slightly miscalibrated vs the docstring contract
    # (ADVICE r05)
    bound_ok = pairs.select(F.count(F.lit(1)).alias("n_pairs")).crossJoin(
        aug.select(F.count(F.lit(1)).alias("n_docs"))
    ).select(
        (
            F.col("n_pairs") <= F.lit(max_pairs_per_doc) * F.col("n_docs")
        ).alias("pairs_bounded_ok")
    )
    return (
        base.select("doc_id")
        .join(found, "doc_id", "left")
        .select(
            "doc_id", F.coalesce("f", F.lit(False)).alias("found_ok")
        )
        .crossJoin(F.broadcast(bound_ok))
        .orderBy("doc_id")
    )
