"""Corpus-preparation operators a training-data pipeline needs between
curation and the trainer: benchmark-contamination detection, document
chunking, GPT-style sequence packing, and BPE token accounting.

These extend the reference's query surface (it stops at event analytics —
README.md:588-817) with the ops that turn a deduplicated corpus into model
inputs. All three are pure DataFrame compositions — no Python in the hot
path — and their shuffle profiles are documented per function for the
100 TB deployment.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyspark.sql.window import Window


def _gram_col(toks, n: int):
    """Word n-gram strings from a bound token-array column (index-aware
    transform — same single-projection shape as dedup.shingles, which is
    12× faster than re-splitting per element access)."""
    return F.filter(
        F.transform(
            toks,
            lambda x, i: F.when(
                # one gram per start while start <= len-n; short docs (< n
                # tokens) contribute their whole text as the single gram —
                # mirrors the oracle's clipped list slice
                (i == 0) | (i <= F.size(toks) - n),
                F.concat_ws(" ", F.slice(toks, i + 1, n)),
            ),
        ),
        lambda g: g.isNotNull(),
    )


def contamination_report(
    train: DataFrame, eval_docs: DataFrame, n: int = 8
) -> DataFrame:
    """Benchmark-contamination check: for every eval document, the fraction
    of its word n-gram shingles that appear anywhere in the training corpus,
    plus the single worst-overlapping train document.

    The canonical pre-training hygiene step (n-gram overlap against eval
    sets, as popularized by the GPT-2/GPT-3 dataset reports): an eval doc
    with high overlap was leaked into training data and inflates benchmark
    scores.

    Scale shape: eval sets are small (thousands of docs) while train is the
    100 TB side — so the EVAL shingle set broadcasts and the train side is
    scanned once, map-side joined, never shuffled by more than the matched
    (shingle, eval_doc) pairs. Shingles are joined as xxhash64 values
    (8-byte shuffle keys instead of ~50-byte strings; collision probability
    |shingles|²/2⁶⁴ is below any reported rate's grain).

    Columns: eval_doc_id, n_shingles, n_overlap, contamination_x1000,
    top_match_doc (train doc sharing the most shingles, min-id tie-break;
    NULL when clean), top_match_shared.
    """
    def _shingled(docs, id_alias, dedupe=True):
        # bind the token array to a projected column FIRST — slicing the raw
        # split(...) expression inside the transform would re-tokenize per
        # gram (the quadratic pitfall documented at dedup.shingles)
        tokenized = docs.select(
            F.col("doc_id").alias(id_alias),
            F.split(F.col("text"), "\\s+").alias("_toks"),
        )
        if dedupe:
            # per-doc distinct IN-ROW (doc_id is a key, so the global
            # distinct deduplicated only within documents — the
            # dedup.shingles r16 shape): no exchange at all
            return tokenized.select(
                id_alias,
                F.explode(
                    F.array_distinct(
                        F.transform(
                            _gram_col(F.col("_toks"), n),
                            lambda g: F.xxhash64(g),
                        )
                    )
                ).alias("shingle"),
            )
        return tokenized.select(
            id_alias,
            F.explode(_gram_col(F.col("_toks"), n)).alias("gram"),
        ).select(id_alias, F.xxhash64("gram").alias("shingle"))

    ev = _shingled(eval_docs, "eval_doc_id")
    # The TRAIN side is deliberately NOT deduplicated before the join: a
    # distinct here plans as a full Exchange of the corpus-scale
    # (train_doc_id, shingle) table (Catalyst can't push a join below an
    # Aggregate), which would shuffle the 100 TB side — the exact thing
    # this operator's shape exists to avoid. Instead the raw grams join
    # map-side against the broadcast eval set FIRST, and the distinct
    # runs on the surviving hits (bounded by |eval shingles| × matching
    # train docs), where it also dedupes repeated grams within a train
    # doc so per_pair's `shared` counts distinct shingles.
    tr = _shingled(train, "train_doc_id", dedupe=False)
    sizes = ev.groupBy("eval_doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    # hits feeds BOTH rollups below; pin it so the train-side shingle
    # pipeline + membership join run once (hits is small by construction:
    # only train shingles colliding with the eval set survive)
    hits = tr.join(F.broadcast(ev), "shingle").distinct().localCheckpoint()
    per_pair = hits.groupBy("eval_doc_id", "train_doc_id").agg(
        F.count(F.lit(1)).alias("shared")
    )
    per_eval = hits.groupBy("eval_doc_id").agg(
        F.countDistinct("shingle").alias("n_overlap")
    )
    top = per_pair.groupBy("eval_doc_id").agg(
        F.max_by(
            "train_doc_id",
            F.struct(F.col("shared"), -F.col("train_doc_id")),
        ).alias("top_match_doc"),
        F.max("shared").alias("top_match_shared"),
    )
    return (
        sizes.join(per_eval, "eval_doc_id", "left")
        .join(top, "eval_doc_id", "left")
        .select(
            "eval_doc_id",
            "n_shingles",
            F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"),
            (
                F.coalesce("n_overlap", F.lit(0))
                * F.lit(1000)
                / F.col("n_shingles")
            )
            .cast("long")
            .alias("contamination_x1000"),
            "top_match_doc",
            F.coalesce("top_match_shared", F.lit(0)).alias("top_match_shared"),
        )
    )


def chunk_documents(
    documents: DataFrame, chunk_tokens: int = 64, stride: int = 48
) -> DataFrame:
    """Split documents into overlapping token-window chunks (the retrieval/
    embedding preprocessing step): chunk k covers tokens
    [k·stride, k·stride + chunk_tokens), last chunk clipped.

    One narrow projection + explode — no shuffle at all; chunking is
    embarrassingly parallel and stays inside whole-stage codegen. Row
    growth ≈ chunk/stride ×, which is the operator's contract, not a
    planning accident.

    The chunk structs are built INSIDE one transform over the bound token
    array and only the finished chunks are exploded. Exploding the start
    offsets first (the obvious formulation) carries the FULL token array
    into every generated row — each output row physically copies it, so a
    1M-token whale document materializes n_chunks × n_tokens cells
    (~170 GB at stride 48) before the slice ever runs; the giant-doc
    probe hung there. Binding the array before slicing also keeps the
    per-chunk slice O(chunk), not O(n) re-tokenization (the
    dedup.shingles pitfall)."""
    # NULL text is explicitly excluded (not a chunkable document): the
    # behavior of size/sequence over a null token array is config- and
    # engine-dependent (legacy sizeOfNull=-1 makes sequence(1,-1,stride)
    # THROW; ANSI silently drops) — the filter makes it defined.
    tokenized = documents.filter(F.col("text").isNotNull()).select(
        "doc_id", F.split(F.col("text"), "\\s+").alias("_t")
    )
    t = F.col("_t")
    chunks = F.transform(
        F.sequence(F.lit(1), F.size(t), F.lit(stride)),
        lambda i: F.struct(
            ((i - 1) / stride).cast("long").alias("chunk_index"),
            F.concat_ws(" ", F.slice(t, i, chunk_tokens)).alias("chunk_text"),
            F.least(F.lit(chunk_tokens), F.size(t) - i + 1)
            .cast("long")
            .alias("n_tokens"),
        ),
    )
    return tokenized.select("doc_id", F.explode(chunks).alias("_c")).select(
        "doc_id", "_c.chunk_index", "_c.chunk_text", "_c.n_tokens"
    )


#: Deterministic merge ranks for the scan-side BPE tokenizer — a
#: broadcast vocabulary in the truest sense: the merges are LITERALS in
#: the plan, shipped inside the serialized expressions, no join, no UDF.
#: Multi-step chains (t+h -> th+e, i+n -> in+g) make rank ORDER
#: load-bearing: applying the list out of order produces different
#: token counts, which the oracle hash would catch.
BPE_MERGES: tuple[tuple[str, str], ...] = (
    ("t", "h"),
    ("th", "e"),
    ("i", "n"),
    ("in", "g"),
    ("a", "n"),
    ("an", "d"),
    ("e", "r"),
    ("o", "u"),
    ("r", "e"),
    ("o", "n"),
    ("s", "t"),
    ("a", "t"),
)

#: symbol delimiters for the BPE stream: every symbol is WRAPPED as
#: ``<US><sym><RS>`` (U+001F unit separator / U+001E record separator).
#: Both markers are load-bearing: with only a terminator, a merge
#: pattern ``e<sep>r<sep>`` false-matches after any symbol ENDING in
#: "e" ("the"+"r" would fuse to "ther" — caught by the independent-
#: reference property test); the start marker pins matches to symbol
#: boundaries. "Count tokens" stays two length() calls (count of RS).
BPE_SOS = "\u001f"
BPE_EOS = "\u001e"


def bpe_symbol_stream(col, merges: tuple[tuple[str, str], ...] = BPE_MERGES):
    """The document as a BPE symbol stream: every character becomes a
    ``<char><US>`` symbol, then each merge (a, b) rewrites
    ``a<US>b<US> -> ab<US>`` with a plain left-to-right non-overlapping
    replace — the classic merge-table representation, applied in rank
    order, one pass per rank (the deterministic inference-time variant;
    a full priority-queue BPE re-scans for lower ranks after each
    merge — documented simplification, identical on the common case
    and exactly mirrored by the DuckDB twin).

    Entirely codegen: one regexp_replace + |merges| literal replaces,
    zero Python, zero shuffles — the 100 TB tokenize-while-you-scan
    shape. Both engines' replace() scans left-to-right non-overlapping,
    so the twin is semantic, not approximate; equality with a naive
    symbol-list reference implementation is pytest-pinned over
    adversarial strings (test_corpus)."""
    s = F.regexp_replace(col, r"([\s\S])", BPE_SOS + "$1" + BPE_EOS)
    for a, b in merges:
        s = F.replace(
            s,
            F.lit(BPE_SOS + a + BPE_EOS + BPE_SOS + b + BPE_EOS),
            F.lit(BPE_SOS + a + b + BPE_EOS),
        )
    return s


def bpe_token_count(col, merges: tuple[tuple[str, str], ...] = BPE_MERGES):
    """Exact BPE token count = number of symbol end-markers left in the
    merged stream (length difference, no split/array materialization)."""
    s = bpe_symbol_stream(col, merges)
    return (
        F.length(s) - F.length(F.replace(s, F.lit(BPE_EOS), F.lit("")))
    ).cast("long")


def chunk_documents_bpe(
    documents: DataFrame,
    chunk_tokens: int = 64,
    stride: int = 48,
    merges: tuple[tuple[str, str], ...] = BPE_MERGES,
) -> DataFrame:
    """Tokenizer-aware chunking: windows of BPE TOKENS, not whitespace
    words — what an embedding/retrieval stage actually wants when its
    encoder has a token budget. The merged symbol stream splits into a
    bound token array (start markers stripped per element), then the
    same sequence+slice+explode shape as chunk_documents; chunk_text is
    the VERBATIM concatenation of its symbols, so chunks exactly
    partition (with stride overlap) the original character stream —
    the property that makes the closed-form twin possible and proves
    the tokenizer loses no characters. Zero shuffles, pure codegen."""
    s = bpe_symbol_stream(F.col("text"), merges)
    raw = F.split(s, BPE_EOS)
    toks = F.transform(
        F.slice(raw, 1, F.size(raw) - 1),  # drop the trailing empty
        lambda x: x.substr(F.lit(2), F.length(x)),  # strip the SOS mark
    )
    tokenized = documents.filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    ).select("doc_id", toks.alias("_t"))
    t = F.col("_t")
    chunks = F.transform(
        F.sequence(F.lit(1), F.size(t), F.lit(stride)),
        lambda i: F.struct(
            ((i - 1) / stride).cast("long").alias("chunk_index"),
            F.array_join(F.slice(t, i, chunk_tokens), "").alias(
                "chunk_text"
            ),
            F.least(F.lit(chunk_tokens), F.size(t) - i + 1)
            .cast("long")
            .alias("n_tokens"),
        ),
    )
    return tokenized.select("doc_id", F.explode(chunks).alias("_c")).select(
        "doc_id", "_c.chunk_index", "_c.chunk_text", "_c.n_tokens"
    )


def pack_spans(
    documents: DataFrame,
    window_tokens: int = 128,
    shard_col: str = "source",
    token_count=None,
) -> DataFrame:
    """GPT-style sequence packing: concatenate each shard's documents in
    doc_id order and split the token stream into fixed ``window_tokens``
    packs; emit every (document, pack) span so the trainer knows exactly
    which tokens of which doc fill which pack (docs crossing a boundary
    appear in both packs with ``is_split`` true).

    Scale shape: the running token offset is a per-shard window cumsum —
    ONE shuffle on the shard key, then pure map-side arithmetic + explode.
    Pack ids are shard-local; a deployment shards by file/source bucket so
    every shard packs independently in parallel (a single global ordering
    would serialize on one partition — deliberately not offered).

    Columns: shard, doc_id, pack_id, n_tok (tokens of this doc in this
    pack), is_split.

    ``token_count``: an optional Column giving each document's token
    count — pass :func:`bpe_token_count` for tokenizer-aware packing
    (x_corpus_pack_bpe); default is whitespace words. Zero-token docs
    are dropped AFTER the cumulative offset (they contribute nothing to
    any pack and an empty pack range would otherwise emit a descending
    sequence).
    """
    n_tok = (
        token_count
        if token_count is not None
        else F.size(F.split(F.col("text"), "\\s+")).cast("long")
    )
    # NULL text contributes no tokens to any pack — excluded explicitly
    # (null-size semantics are config-dependent; see chunk_documents)
    documents = documents.filter(F.col("text").isNotNull())
    spans = documents.select(
        F.col(shard_col).alias("shard"),
        "doc_id",
        n_tok.alias("n"),
    ).select(
        "shard",
        "doc_id",
        "n",
        (F.sum("n").over(
            Window.partitionBy("shard")
            .orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ) - F.col("n")).alias("s"),
    )
    spans = spans.filter(F.col("n") > 0)
    e = F.col("s") + F.col("n")
    W = F.lit(window_tokens)
    packs = F.sequence(
        (F.col("s") / W).cast("long"), ((e - 1) / W).cast("long")
    )
    return spans.select(
        "shard",
        "doc_id",
        F.explode(packs).alias("pack_id"),
        "s",
        "n",
    ).select(
        "shard",
        "doc_id",
        "pack_id",
        (
            F.least(F.col("s") + F.col("n"), (F.col("pack_id") + 1) * W)
            - F.greatest(F.col("s"), F.col("pack_id") * W)
        ).cast("long").alias("n_tok"),
        (
            (F.col("s") < F.col("pack_id") * W)
            | (F.col("s") + F.col("n") > (F.col("pack_id") + 1) * W)
        ).alias("is_split"),
    )


def repetition_stats(documents: DataFrame, n: int = 3) -> DataFrame:
    """Within-document repetition ratio (the C4/Gopher-style quality
    signal: heavily self-repeating docs are boilerplate or spam): fraction
    of the doc's word n-grams that are duplicates of an earlier n-gram in
    the SAME doc, as an exact integer per-mille.

    Entirely array-side — size(grams) vs size(array_distinct(grams)) inside
    one projection: ZERO shuffles, stays in whole-stage codegen, trivially
    scan-parallel at any corpus size.

    Columns: doc_id, n_grams, n_distinct, repetition_x1000.
    """
    # NULL text: no grams, no row — excluded explicitly (null-size
    # semantics are config-dependent; see chunk_documents)
    tokenized = documents.filter(F.col("text").isNotNull()).select(
        "doc_id", F.split(F.col("text"), "\\s+").alias("_toks")
    )
    grams = _gram_col(F.col("_toks"), n)
    return tokenized.select(
        "doc_id",
        F.size(grams).cast("long").alias("n_grams"),
        F.size(F.array_distinct(grams)).cast("long").alias("n_distinct"),
    ).select(
        "doc_id",
        "n_grams",
        "n_distinct",
        (
            (F.col("n_grams") - F.col("n_distinct")) * 1000 / F.col("n_grams")
        )
        .cast("long")
        .alias("repetition_x1000"),
    )


def boilerplate_ngram_stats(
    documents: DataFrame, n: int = 5, min_docs: int = 2
) -> DataFrame:
    """Cross-document boilerplate signal per doc: the fraction of its
    distinct word n-grams that recur in >= ``min_docs`` documents of the
    SAME source (the n-gram generalization of C4's repeated-line removal —
    headers, templates and near-dup fragments all surface here).

    Shuffle profile: the distinct shuffles on (doc_id, source, gram-hash)
    — well-spread, doc_id in the key — then doc-frequency is a groupBy
    count (map-side partial aggregation: a gram in a billion docs
    contributes one partial per task to the shuffle, never a billion
    rows to one reducer) joined back on (source, g). The join's build
    side is the per-gram count table and the probe shuffle on (source,
    g) IS skewed on ubiquitous grams — but joins are AQE-skew-splittable
    while window partitions are NOT: the previous window-over-(source,
    g) formulation landed every row of the hottest gram on ONE window
    task with no runtime remedy, the exact ubiquitous-token hotspot the
    dedup caps exist to avoid. Then the per-doc rollup hash-agg.

    Columns: doc_id, n_grams, n_boiler, boilerplate_x1000.
    """
    tokenized = documents.select(
        "doc_id",
        "source",
        F.split(F.col("text"), "\\s+").alias("_toks"),
    )
    # per-doc distinct IN-ROW (doc_id is a key and source is constant
    # per row, so the global distinct on (doc_id, source, g) only ever
    # deduplicated within a document — the dedup.shingles r16 shape):
    # the corpus-gram Exchange + double HashAggregate disappears. grams
    # feeds two consumers (counts + the flag join), which re-run the
    # tokenize map-side instead of sharing the distinct's exchange —
    # CPU paid twice where a full corpus shuffle used to be.
    grams = tokenized.select(
        "doc_id",
        "source",
        F.explode(
            F.array_distinct(
                F.transform(
                    _gram_col(F.col("_toks"), n), lambda g: F.xxhash64(g)
                )
            )
        ).alias("g"),
    )
    counts = grams.groupBy("source", "g").agg(
        F.count(F.lit(1)).alias("_df")
    )
    flagged = grams.join(counts, ["source", "g"]).select(
        "doc_id",
        "g",
        (F.col("_df") >= min_docs).cast("int").alias("is_boiler"),
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum("is_boiler").alias("n_boiler"),
    ).select(
        "doc_id",
        F.col("n_grams").cast("long").alias("n_grams"),
        F.col("n_boiler").cast("long").alias("n_boiler"),
        (F.col("n_boiler") * 1000 / F.col("n_grams"))
        .cast("long")
        .alias("boilerplate_x1000"),
    )


def cap_per_source(
    documents: DataFrame, cap: int = 10, pre_rank_salts: int | None = None
) -> DataFrame:
    """Per-source document cap (the anti-domination step of web-corpus
    mixing: no source may contribute more than ``cap`` docs): keep the
    ``cap`` longest docs per source, ties broken by doc_id — fully
    deterministic under any partitioning.

    One shuffle (the per-source window); the rank runs per source-partition
    in parallel and the filter drops rows before any further stage sees
    them. A WHALE source serializes its whole row set onto one task,
    though — for 100 TB skew pass ``pre_rank_salts`` (e.g. 32): a first
    window over (source, salt(doc_id)) keeps only each salt's top ``cap``
    — a provable superset of the global top ``cap``, since dropping a row
    ranked > cap within its own salt cannot promote it globally — so the
    final per-source window sees at most cap·salts rows per source
    instead of the source's full row count. Same output, bounded task
    input. For mixture WEIGHTS (proportional sampling rather than hard
    caps) see sampling.stratified_sample.

    Columns: doc_id, source, n_chars, source_rank.
    """
    narrowed = documents.select(
        "doc_id", "source", F.col("n_chars").cast("long").alias("n_chars")
    )
    if pre_rank_salts and pre_rank_salts > 1:
        pre_w = Window.partitionBy("source", "_salt").orderBy(
            F.desc("n_chars"), F.asc("doc_id")
        )
        narrowed = (
            narrowed.withColumn(
                "_salt", F.pmod(F.xxhash64("doc_id"), F.lit(pre_rank_salts))
            )
            .withColumn("_pre", F.row_number().over(pre_w))
            .filter(F.col("_pre") <= cap)
            .drop("_salt", "_pre")
        )
    w = Window.partitionBy("source").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    return (
        narrowed.withColumn("source_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("source_rank") <= cap)
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Dataset-version diff — the training-data provenance question
    "what changed between corpus snapshot N and N+1?" answered WITHOUT
    comparing text bytes across the shuffle: each side reduces to
    (id, md5(text)) at the scan (bytes of fingerprint per doc, however
    large the documents), then ONE full outer join on the id classifies

      removed    — id only in ``old``
      added      — id only in ``new``
      changed    — id in both, fingerprints differ
      unchanged  — id in both, fingerprints equal

    Emits (id, status). At 100 TB both inputs shuffle fingerprints, not
    documents; the join is a plain hash join on the id. md5 (not
    xxhash64) so any SQL engine reproduces the fingerprint for audits.

    Presence is tracked with explicit flags, NOT fingerprint nullness:
    md5(NULL) is NULL, so a null-text document present on one side would
    otherwise masquerade as removed/added; fingerprints compare
    null-safely (null -> null counts as unchanged, null -> text as
    changed).
    """
    o = old.select(
        F.col(id_col).alias("_id"),
        F.md5(text_col).alias("_old_fp"),
        F.lit(True).alias("_in_old"),
    )
    nw = new.select(
        F.col(id_col).alias("_id"),
        F.md5(text_col).alias("_new_fp"),
        F.lit(True).alias("_in_new"),
    )
    return o.join(nw, "_id", "full_outer").select(
        F.col("_id").alias(id_col),
        F.when(F.col("_in_new").isNull(), "removed")
        .when(F.col("_in_old").isNull(), "added")
        .when(
            ~F.col("_old_fp").eqNullSafe(F.col("_new_fp")), "changed"
        )
        .otherwise("unchanged")
        .alias("status"),
    )
