"""Text analysis over the documents table (OP-X-TEXT + north-star text ops).

Everything here is built from native string/array/lambda column functions
(split/filter/transform/aggregate) — no Python UDFs, fully codegen-able, and
linear in corpus size (one scan, one optional explode). Quality metrics and
ratios are emitted as scaled integers (round once per row) so values compare
exactly across engines.

Language-ID is a marker-word heuristic (per-language stopword hit counts,
deterministic argmax) — the classic cheap n-gram/stopword approach; on a real
corpus you'd swap the marker lists, the plumbing is identical.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TOKEN_SPLIT_RE = "\\s+"

# marker words per language, checked in this order (deterministic tie-break)
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and"),
    "es": ("el", "la", "de", "que"),
    "de": ("der", "die", "und", "das"),
    "fr": ("le", "les", "et", "une"),
    "zh": (),  # CJK detection is by script, not markers
}

STOPWORDS = ("the", "a", "of", "and", "to", "in")


def tokens_col(text: Column | str = "text") -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.split(c, TOKEN_SPLIT_RE)


def token_stats(documents: DataFrame) -> DataFrame:
    """Per-document token counting: whitespace tokens + a BPE-ish estimate
    (chars/4, the common rule-of-thumb) + stopword ratio ×1000."""
    toks = tokens_col()
    n_tokens = F.size(toks)
    # match stopwords case-insensitively: sentence-initial "The" is the
    # same stopword as "the" (the marker lists are lowercase)
    stop_hits = F.size(F.filter(toks, lambda t: F.lower(t).isin(*STOPWORDS)))
    return documents.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.ceil(F.length("text") / F.lit(4.0)).cast("long").alias("tokens_est"),
        F.round(stop_hits * 1000 / n_tokens).cast("long").alias("stop_ratio_x1000"),
    )


def quality_filter(
    documents: DataFrame, min_tokens: int, min_alpha_x1000: int
) -> DataFrame:
    """Row-local quality gate: keeps exactly the documents whose
    :func:`quality_scores` row passes ``n_tokens >= min_tokens AND
    alpha_ratio_x1000 >= min_alpha_x1000`` — but applied as ONE in-row
    filter on the documents scan instead of scoring the corpus and
    semi-joining it back (doc_id is unique, so the semi-join and the
    filter keep the same rows; the join form scans the corpus twice
    and pays a join for a predicate every row can answer locally).
    The expressions are the same ones quality_scores emits, so the
    two forms cannot drift (pinned by test)."""
    n_tokens = F.size(tokens_col()).cast("long")
    n_chars = F.length("text").cast("long")
    alpha = F.length(F.regexp_replace("text", "[^A-Za-z]", "")).cast("long")
    return documents.filter(
        F.col("text").isNotNull()
        & (n_chars > 0)
        & (n_tokens >= min_tokens)
        & (
            F.round(alpha * 1000 / n_chars).cast("long")
            >= min_alpha_x1000
        )
    )


def quality_scores(documents: DataFrame) -> DataFrame:
    """Length/punctuation/stopword quality signals (scaled-integer outputs).

    mean token length ×100, punctuation ratio ×1000, alpha ratio ×1000 —
    the standard cheap quality filters for web-scale text curation."""
    toks = tokens_col()
    # widen to long BEFORE the x1000/x100 ratio math: length() is int32,
    # so alpha*1000 overflows at ~2.1M chars — one giant document then
    # throws under ANSI (Spark 4 default) or silently wraps negative and
    # gets mis-filtered (DuckDB's LENGTH is BIGINT, so the oracle would
    # quietly diverge instead of failing loudly)
    n_tokens = F.size(toks).cast("long")
    n_chars = F.length("text").cast("long")
    punct = n_chars - F.length(F.regexp_replace("text", "[^\\w\\s]", "")).cast(
        "long"
    )
    alpha = F.length(F.regexp_replace("text", "[^A-Za-z]", "")).cast("long")
    # empty/null text has no quality score — and the ratio divisions by
    # n_chars would throw under ANSI mode (Spark 4 default) on a single
    # empty document; the oracle SQL carries the same WHERE
    documents = documents.filter(
        F.col("text").isNotNull() & (n_chars > 0)
    )
    return documents.select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        F.round((n_chars - n_tokens + 1) * 100 / n_tokens).cast("long").alias(
            "mean_token_len_x100"
        ),
        F.round(punct * 1000 / n_chars).cast("long").alias("punct_ratio_x1000"),
        F.round(alpha * 1000 / n_chars).cast("long").alias("alpha_ratio_x1000"),
    )


def language_id(documents: DataFrame) -> DataFrame:
    """Marker-word language ID with deterministic priority tie-break.

    CJK is detected by script range first; otherwise the language with the
    most marker-word hits wins (ties resolve in LANG_MARKERS order; zero hits
    -> 'und')."""
    toks = tokens_col()

    def _hit_count(markers):
        # single-arg lambda: a two-arg lambda would be read as (elem, index);
        # lowercase the token so sentence-initial markers ("Le", "Der")
        # count — the marker lists are lowercase
        return F.size(F.filter(toks, lambda t: F.lower(t).isin(*markers)))

    hits = {
        lang: _hit_count(markers)
        for lang, markers in LANG_MARKERS.items()
        if markers
    }
    has_cjk = F.col("text").rlike("[\\u4e00-\\u9fff]")
    en, es, de, fr = hits["en"], hits["es"], hits["de"], hits["fr"]
    lang_pred = (
        F.when(has_cjk, F.lit("zh"))
        .when((en > 0) & (en >= es) & (en >= de) & (en >= fr), F.lit("en"))
        .when((es > 0) & (es >= de) & (es >= fr), F.lit("es"))
        .when((de > 0) & (de >= fr), F.lit("de"))
        .when(fr > 0, F.lit("fr"))
        .otherwise(F.lit("und"))
    )
    return documents.select("doc_id", "lang", lang_pred.alias("lang_pred"))


def fingerprints(documents: DataFrame) -> DataFrame:
    """Document fingerprint: md5 of the case/whitespace-normalized text —
    the exact-dedup key that survives formatting noise."""
    normalized = F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]", "")
    return documents.select(
        "doc_id",
        F.md5(normalized.cast("binary")).alias("fingerprint"),
    )


def distinctive_tokens(
    documents: DataFrame, k: int = 3, min_count: int = 5
) -> DataFrame:
    """TF-IDF-style distinctive terms, exact-integer form: per language, the
    top-k tokens by lift = P(token|lang) / P(token|corpus), computed as
    ``tf_lang·corpus_total·10⁶ div (lang_total·tf_corpus)`` — all-integer,
    so ranks compare exactly across engines (a float idf would be at the
    mercy of ln() rounding at tie boundaries).

    Shuffle profile: one explode + (lang, token) hash-agg; the corpus
    totals are tiny aggregates broadcast back in. Overflow bound:
    tf·total·10⁶ needs tf·total < 9·10¹² — fine to ~10⁹ corpus tokens; at
    100 TB drop the 10⁶ scale to 10³ or pre-divide."""
    from pyspark.sql import Window

    tok = documents.select(
        "lang", F.explode(tokens_col()).alias("token")
    )
    # ONE tokenization pass: every other statistic folds from the
    # vocabulary-sized tf table (pinned so the explode isn't recomputed
    # per consumer — before this, lang totals and the corpus total each
    # re-exploded the whole corpus: 3 tokenization passes instead of 1).
    # persist-with-lineage + eager count, not localCheckpoint: the tf
    # table is vocabulary-sized but derived from a full corpus scan — a
    # lost executor should recompute, not kill the job (SCALE.md).
    from ..materialize import cache_shared

    tf, _ = cache_shared(
        tok.groupBy("lang", "token")
        .agg(F.count(F.lit(1)).alias("tf_lang"))
    )
    lang_tot = tf.groupBy("lang").agg(F.sum("tf_lang").alias("lang_total"))
    corpus_tf = tf.groupBy("token").agg(F.sum("tf_lang").alias("tf_corpus"))
    corpus_total = tf.agg(F.sum("tf_lang").alias("corpus_total"))
    scored = (
        tf.join(F.broadcast(lang_tot), "lang")
        .join(corpus_tf, "token")
        .crossJoin(F.broadcast(corpus_total))
        .filter(F.col("tf_lang") >= min_count)
        .withColumn(
            "lift_x1e6",
            F.expr(
                "(tf_lang * corpus_total * CAST(1000000 AS BIGINT)) "
                "div (lang_total * tf_corpus)"
            ),
        )
    )
    w = Window.partitionBy("lang").orderBy(
        F.desc("lift_x1e6"), F.asc("token")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("lang", "token", "lift_x1e6", "rank")
    )


def hashing_tf(documents: DataFrame, num_buckets: int = 1024) -> DataFrame:
    """Feature hashing (hashing-trick term frequencies) in long form:
    (doc_id, bucket, tf) — the fixed-width featurization that needs no
    vocabulary pass, so it's one explode + one hash-agg at any corpus size.

    Bucket = md5-based (engine-portable, like sampling.hash_bucket) rather
    than a Spark-seeded hash, so the features are reproducible outside
    Spark — the property that matters when the training stack reading the
    features isn't the engine that wrote them."""
    bucket = (
        F.conv(F.substring(F.md5(F.col("token")), 1, 8), 16, 10)
        .cast("long")
        % num_buckets
    )
    return (
        documents.select("doc_id", F.explode(tokens_col()).alias("token"))
        .groupBy("doc_id", bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def oov_stats(documents: DataFrame, vocab_size: int = 500) -> DataFrame:
    """Out-of-vocabulary rate per document against the corpus top-K vocab
    (count desc, token asc tie-break) — the cheap LM-free proxy for
    "is this document from the training distribution".

    The vocab is a top-K aggregate (tiny) broadcast into the membership
    join; per-doc stats are one explode + hash-agg. Two corpus passes by
    design (vocab, then tag) — the TF-IDF shape; materializing the exploded
    token stream to skip the second pass would cost more than re-exploding.
    OOV emitted ×1000 as a scaled integer."""
    tok = documents.select("doc_id", F.explode(tokens_col()).alias("token"))
    counts = tok.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    # orderBy+limit compiles to TakeOrderedAndProject (map-side partial
    # top-K) — a global row_number window here would sort the whole
    # vocabulary in ONE task
    vocab = (
        counts.orderBy(F.desc("cnt"), F.asc("token"))
        .limit(vocab_size)
        .select("token", F.lit(1).alias("_in_vocab"))
    )
    flagged = tok.join(F.broadcast(vocab), "token", "left_outer")
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.when(F.col("_in_vocab").isNull(), 1).otherwise(0)).alias("n_oov"),
        F.round(
            F.sum(F.when(F.col("_in_vocab").isNull(), 1).otherwise(0))
            * 1000
            / F.count(F.lit(1))
        )
        .cast("long")
        .alias("oov_x1000"),
    )


def unigram_nll(documents: DataFrame) -> DataFrame:
    """Unigram-LM negative log-likelihood per document — the CCNet-style
    perplexity quality filter (docs whose tokens are improbable under the
    corpus unigram distribution are the junk a perplexity gate removes).
    Laplace-smoothed: p(tok) = (c+1)/(N+V) over corpus token counts.

    Output (doc_id, n_tokens, nll_micro_sum): per-token NLL is quantized to
    integer micro-nats ONCE PER DISTINCT COUNT VALUE — round((ln(N+V) −
    ln(c+1))·10⁶) — and the per-document total is a SUM OF LONGS. Summing
    quantized integers is exact and order-free, so the result hash-compares
    across engines; summing raw doubles would depend on partition merge
    order (the same rule as stats.py's exact-integer moments). The only
    cross-engine float exposure is ln() on identical integer inputs, rounded
    at 10⁻⁶ — a divergence needs two libms to disagree within ~10⁻⁹ of a
    rounding boundary. Mean NLL / perplexity derive exactly from the two
    output columns (ppl = exp(nll_micro_sum / n_tokens / 1e6)).

    Shuffle profile: one explode + token hash-agg for the vocabulary, a
    1-row totals broadcast, then a token-keyed join back to the token
    stream + doc hash-agg. Hot tokens ("the") skew the join's left side;
    the right side is one row per token, so AQE's skew-join split handles
    it (both sides' hot partitions are splittable — no salting needed).
    Per-doc sums fit int64 to ~10¹¹ tokens/doc (NLL ≤ ~50·10⁶ micro-nats)."""
    from ..materialize import cache_shared

    tok = documents.select("doc_id", F.explode(tokens_col()).alias("token"))
    # the vocabulary feeds two branches (totals + per-token NLL); pin it
    # (persist-with-lineage, vocabulary-sized) so the corpus explode isn't
    # recomputed per branch — same rationale as distinctive_tokens
    counts, _ = cache_shared(
        tok.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    )
    totals = counts.agg(
        F.sum("c").alias("n_total"), F.count(F.lit(1)).alias("v")
    )
    nll = counts.crossJoin(F.broadcast(totals)).select(
        "token",
        F.round(
            (F.log(F.col("n_total") + F.col("v")) - F.log(F.col("c") + 1))
            * 1_000_000
        )
        .cast("long")
        .alias("nll_micro"),
    )
    return (
        tok.join(nll, "token")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("nll_micro").alias("nll_micro_sum"),
        )
    )


def token_frequencies(documents: DataFrame, min_count: int = 2) -> DataFrame:
    """Corpus token histogram (explode + count). The explode multiplies rows
    by tokens-per-doc; the count is map-side combinable so the shuffle only
    carries (token, partial-count)."""
    return (
        documents.select(F.explode(tokens_col()).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("occurrences"))
        .filter(F.col("occurrences") >= min_count)
    )


# PII patterns restricted to the Java-regex ∩ RE2 common subset (no
# backrefs, no lookaround) so the DuckDB oracle runs the LITERAL same
# patterns: character classes and bounded repetition ONLY. Deliberately
# NO \b word boundaries: Java's \b and RE2's \b disagree whenever a
# digit run abuts a non-ASCII letter (verified live: Spark finds 0 SSNs
# in '語123-45-6789語' where DuckDB finds 1) — and for a redaction
# scrub, boundary-free over-matching inside longer digit runs is the
# SAFE direction (redact too much, never leak). Order matters (applied
# sequentially): IP before SSN/phone so dotted runs go first; SSN before
# phone so ###-##-#### is consumed as SSN, never partially as a phone.
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("ipv4", r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}", "[IP]"),
    ("ssn", r"\d{3}-\d{2}-\d{4}", "[SSN]"),
    ("phone", r"\d{3}-\d{3}-\d{4}", "[PHONE]"),
)


def redact_pii(documents: DataFrame) -> DataFrame:
    """PII detection + redaction — the scrub every training-data pipeline
    runs before anything else sees the text. Scan-side only: per document
    one pass of regexp counts + sequential regexp_replace, no shuffle at
    all (the 100 TB shape: embarrassingly parallel over row groups).

    Returns (doc_id, n_email, n_ipv4, n_ssn, n_phone, redacted_md5):
    counts BEFORE redaction per class, and the md5 of the UTF-8 bytes of
    the fully-redacted text — byte-level, so the DuckDB oracle verifies
    the exact redacted output (non-ASCII safe, same contract as the
    multimodal decode oracle) without shipping full texts through the
    hash compare. Counts count non-overlapping leftmost matches, which
    Java regex and RE2 agree on for these boundary-free, lookaround-free
    patterns (see PII_PATTERNS on why \b is banned here)."""
    # regexp_count, not size(regexp_extract_all): counting must not
    # materialize the match array — a degenerate giant doc (millions of
    # PII hits in one row) would otherwise build a million-element array
    # per pattern inside the row before taking its size
    counts = [
        F.regexp_count(F.col("text"), F.lit(pat))
        .cast("long")
        .alias(f"n_{name}")
        for name, pat, _ in PII_PATTERNS
    ]
    redacted = F.col("text")
    for _, pat, token in PII_PATTERNS:
        redacted = F.regexp_replace(redacted, pat, token)
    return documents.select(
        "doc_id",
        *counts,
        F.md5(F.encode(redacted, "UTF-8")).alias("redacted_md5"),
    )


GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """The published Gopher-paper document-quality rules (Rae et al.
    2021, §A1.1 — the de-facto web-curation gate reused by MassiveText/
    RefinedWeb/Dolma descendants), as ONE native-column projection:

      R1  50 <= word count <= 100_000
      R2  3 <= mean word length <= 10
      R3  hash-or-ellipsis symbol ratio <= 0.1  (per word)
      R4  < 90% of lines start with a bullet
      R5  < 30% of lines end with an ellipsis
      R6  >= 80% of words contain at least one alphabetic character
      R7  at least 2 distinct stop words present

    All signals are scaled integers (round once per row) so the DuckDB
    twin compares exactly; `passes_gopher` is the conjunction. Zero
    Python — split/filter/size/aggregate lambda columns, one scan,
    fully codegen-able; at 100 TB this is a scan-side gate that feeds
    partition-pruned writes, never a shuffle."""
    text = F.col(text_col)
    words = F.filter(F.split(text, TOKEN_SPLIT_RE), lambda w: w != F.lit(""))
    n_words = F.size(words).cast("long")
    char_sum = F.aggregate(
        words, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
    )
    n_hash = (
        F.length(text) - F.length(F.replace(text, F.lit("#"), F.lit("")))
    ).cast("long")
    n_ellipsis = (
        (
            F.length(text)
            - F.length(F.replace(text, F.lit("..."), F.lit("")))
        )
        / 3
    ).cast("long")
    lines = F.split(text, "\n")
    n_lines = F.size(lines).cast("long")
    bullet_lines = F.size(
        F.filter(
            lines,
            lambda l: l.startswith("- ")
            | l.startswith("* ")
            | l.startswith("•"),
        )
    ).cast("long")
    ellipsis_lines = F.size(
        F.filter(lines, lambda l: l.endswith("..."))
    ).cast("long")
    alpha_words = F.size(
        F.filter(words, lambda w: w.rlike("[A-Za-z]"))
    ).cast("long")
    lowered = F.transform(words, lambda w: F.lower(w))
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(lowered),
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
        )
    ).cast("long")
    out = documents.filter(text.isNotNull() & (n_words > 0)).select(
        "doc_id",
        n_words.alias("n_words"),
        F.round(char_sum * 100 / n_words).cast("long").alias(
            "mean_word_len_x100"
        ),
        F.round((n_hash + n_ellipsis) * 1000 / n_words)
        .cast("long")
        .alias("symbol_ratio_x1000"),
        F.round(bullet_lines * 1000 / n_lines).cast("long").alias(
            "bullet_line_ratio_x1000"
        ),
        F.round(ellipsis_lines * 1000 / n_lines).cast("long").alias(
            "ellipsis_line_ratio_x1000"
        ),
        F.round(alpha_words * 1000 / n_words).cast("long").alias(
            "alpha_word_ratio_x1000"
        ),
        stop_hits.alias("n_stopwords_hit"),
    )
    return out.withColumn(
        "passes_gopher",
        (F.col("n_words") >= 50)
        & (F.col("n_words") <= 100000)
        & (F.col("mean_word_len_x100") >= 300)
        & (F.col("mean_word_len_x100") <= 1000)
        & (F.col("symbol_ratio_x1000") <= 100)
        & (F.col("bullet_line_ratio_x1000") < 900)
        & (F.col("ellipsis_line_ratio_x1000") < 300)
        & (F.col("alpha_word_ratio_x1000") >= 800)
        & (F.col("n_stopwords_hit") >= 2),
    )
