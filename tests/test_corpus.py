"""Corpus-preparation operators: contamination, chunking, packing.

Oracle parity runs in test_oracle_parity; here the SEMANTIC invariants are
pinned on constructed inputs where the right answer is known by hand.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from user_behavior_spark_pipeline_spark.operators.corpus import (
    chunk_documents,
    contamination_report,
    pack_spans,
)

DOC_SCHEMA = "doc_id long, text string, source string"


def _docs(spark, rows):
    return spark.createDataFrame(rows, DOC_SCHEMA)


def test_contamination_exact_copy_scores_1000(spark):
    leaked = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    clean = "one two three four five six seven eight nine ten"
    train = _docs(spark, [(1, leaked, "a"), (2, "x y z " * 20, "a")])
    evals = _docs(spark, [(10, leaked, "e"), (11, clean, "e")])
    got = {
        r["eval_doc_id"]: r
        for r in contamination_report(train, evals, n=8).collect()
    }
    assert got[10]["contamination_x1000"] == 1000
    assert got[10]["top_match_doc"] == 1
    assert got[11]["contamination_x1000"] == 0
    assert got[11]["top_match_doc"] is None
    assert got[11]["top_match_shared"] == 0


def test_contamination_partial_overlap_is_fractional(spark):
    # eval doc = 12 tokens -> 5 8-gram shingles; the first 8 tokens appear
    # verbatim in train (1 shared shingle) -> 1/5 = 200 per mille
    shared8 = "t1 t2 t3 t4 t5 t6 t7 t8"
    train = _docs(spark, [(1, f"pre1 pre2 {shared8} post1 post2", "a")])
    evals = _docs(spark, [(10, f"{shared8} e1 e2 e3 e4", "e")])
    row = contamination_report(train, evals, n=8).collect()[0]
    assert row["n_shingles"] == 5
    assert row["n_overlap"] == 1
    assert row["contamination_x1000"] == 200


def test_chunks_cover_and_overlap(spark):
    text = " ".join(f"w{i}" for i in range(100))
    df = _docs(spark, [(1, text, "a")])
    chunks = sorted(
        chunk_documents(df, 64, 48).collect(), key=lambda r: r["chunk_index"]
    )
    # starts at 0, 48, 96 -> 3 chunks; last clipped to 4 tokens
    assert [c["chunk_index"] for c in chunks] == [0, 1, 2]
    assert [c["n_tokens"] for c in chunks] == [64, 52, 4]
    # consecutive chunks overlap by chunk - stride = 16 tokens
    c0, c1 = chunks[0]["chunk_text"].split(), chunks[1]["chunk_text"].split()
    assert c0[48:] == c1[:16]
    # stride-aligned reconstruction: first `stride` tokens of every chunk +
    # the tail of the last = the original document
    rebuilt = []
    for c in chunks:
        rebuilt.extend(c["chunk_text"].split()[:48])
    rebuilt.extend(chunks[-1]["chunk_text"].split()[48:])
    assert rebuilt == text.split()


def test_chunks_short_doc_is_single_chunk(spark):
    df = _docs(spark, [(1, "a b c", "s")])
    chunks = chunk_documents(df, 64, 48).collect()
    assert len(chunks) == 1
    assert chunks[0]["chunk_text"] == "a b c"
    assert chunks[0]["n_tokens"] == 3


def test_pack_conservation_and_boundaries(spark):
    # shard "a": docs of 100, 50, 30 tokens -> stream of 180 over W=128:
    #   doc 1 [0,100)   -> pack 0, whole
    #   doc 2 [100,150) -> packs 0 (28 tok) + 1 (22 tok), split
    #   doc 3 [150,180) -> pack 1, whole
    rows = [
        (1, " ".join(["x"] * 100), "a"),
        (2, " ".join(["y"] * 50), "a"),
        (3, " ".join(["z"] * 30), "a"),
    ]
    got = pack_spans(_docs(spark, rows), 128, "source").collect()
    by = {(r["doc_id"], r["pack_id"]): r for r in got}
    assert by[(1, 0)]["n_tok"] == 100 and not by[(1, 0)]["is_split"]
    assert by[(2, 0)]["n_tok"] == 28 and by[(2, 0)]["is_split"]
    assert by[(2, 1)]["n_tok"] == 22 and by[(2, 1)]["is_split"]
    assert by[(3, 1)]["n_tok"] == 30 and not by[(3, 1)]["is_split"]
    # conservation: per-doc spans sum to the doc's token count
    import collections

    per_doc = collections.Counter()
    for r in got:
        per_doc[r["doc_id"]] += r["n_tok"]
    assert per_doc == {1: 100, 2: 50, 3: 30}
    # every non-final pack is exactly full
    per_pack = collections.Counter()
    for r in got:
        per_pack[r["pack_id"]] += r["n_tok"]
    assert per_pack[0] == 128 and per_pack[1] == 52


def test_pack_shards_are_independent(spark):
    rows = [
        (1, " ".join(["x"] * 100), "a"),
        (2, " ".join(["y"] * 100), "b"),
    ]
    got = pack_spans(_docs(spark, rows), 128, "source").collect()
    # each shard starts its own pack 0 — no cross-shard stream
    assert {(r["shard"], r["pack_id"]) for r in got} == {("a", 0), ("b", 0)}


def test_chunking_plan_has_no_shuffle(spark, sf_dir):
    from user_behavior_spark_pipeline_spark.sources.tables import load_table

    plan = chunk_documents(
        load_table(spark, sf_dir, "documents"), 64, 48
    )._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_repetition_counts_duplicate_grams(spark):
    # "a b a b a b" -> 3-grams: "a b a", "b a b", "a b a", "b a b" (4 total,
    # 2 distinct) -> repetition 500
    df = _docs(spark, [(1, "a b a b a b", "s"), (2, "p q r s t", "s")])
    got = {r["doc_id"]: r for r in
           __import__("user_behavior_spark_pipeline_spark.operators.corpus",
                      fromlist=["repetition_stats"]).repetition_stats(df, 3).collect()}
    assert got[1]["n_grams"] == 4 and got[1]["n_distinct"] == 2
    assert got[1]["repetition_x1000"] == 500
    assert got[2]["repetition_x1000"] == 0


def test_repetition_plan_has_no_shuffle(spark, sf_dir):
    from user_behavior_spark_pipeline_spark.operators.corpus import (
        repetition_stats,
    )
    from user_behavior_spark_pipeline_spark.sources.tables import load_table

    plan = repetition_stats(
        load_table(spark, sf_dir, "documents"), 3
    )._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_boilerplate_flags_cross_doc_grams_within_source(spark):
    from user_behavior_spark_pipeline_spark.operators.corpus import (
        boilerplate_ngram_stats,
    )

    shared = "c1 c2 c3 c4 c5"
    rows = [
        (1, f"{shared} u1 u2 u3 u4", "a"),   # shares the 5-gram with doc 2
        (2, f"v1 v2 v3 v4 {shared}", "a"),
        (3, f"{shared} w1 w2 w3 w4", "b"),   # same gram, DIFFERENT source
    ]
    got = {r["doc_id"]: r for r in
           boilerplate_ngram_stats(_docs(spark, rows), n=5, min_docs=2).collect()}
    assert got[1]["n_boiler"] == 1 and got[2]["n_boiler"] == 1
    # source-scoped: doc 3's copy is unique within source b
    assert got[3]["n_boiler"] == 0


def test_cap_per_source_keeps_longest_deterministically(spark):
    from user_behavior_spark_pipeline_spark.operators.corpus import (
        cap_per_source,
    )

    rows = [(i, "w " * (10 + i), f"s{i % 2}") for i in range(10)]
    df = spark.createDataFrame(
        [(d, t, s, len(t)) for d, t, s in rows],
        "doc_id long, text string, source string, n_chars long",
    )
    got = cap_per_source(df, cap=2).collect()
    by_src = {}
    for r in got:
        by_src.setdefault(r["source"], []).append(r["doc_id"])
    # longest docs are the highest ids in each parity class
    assert sorted(by_src["s0"]) == [6, 8]
    assert sorted(by_src["s1"]) == [7, 9]
    assert all(r["source_rank"] <= 2 for r in got)


def test_cap_per_source_salted_pre_rank_identical(spark, sf_dir):
    """The skew path (per-(source, salt) top-cap before the global per-
    source window) must return exactly the single-window result — the
    pre-rank only drops rows that provably cannot rank <= cap globally."""
    from user_behavior_spark_pipeline_spark.operators.corpus import (
        cap_per_source,
    )
    from user_behavior_spark_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    plain = sorted(map(tuple, cap_per_source(docs, cap=3).collect()))
    salted = sorted(
        map(tuple, cap_per_source(docs, cap=3, pre_rank_salts=4).collect())
    )
    assert plain == salted and len(plain) > 0


# ---------------------------------------------------------------------------
# Property-based invariants (hypothesis): chunking and packing must conserve
# tokens for ANY document shape, not just the hand-built cases above.
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_doc_lengths = st.lists(st.integers(min_value=1, max_value=300), min_size=1, max_size=8)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(lengths=_doc_lengths, chunk=st.integers(16, 64), stride=st.integers(8, 64))
def test_chunk_token_conservation_property(spark, lengths, chunk, stride):
    stride = min(stride, chunk)  # stride > chunk would skip tokens by design
    rows = [
        (i, " ".join(f"d{i}w{j}" for j in range(n)), "s")
        for i, n in enumerate(lengths)
    ]
    got = chunk_documents(_docs(spark, rows), chunk, stride).collect()
    # stride-aligned reconstruction per doc == original token stream
    by_doc = {}
    for r in got:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for i, n in enumerate(lengths):
        cs = sorted(by_doc[i], key=lambda r: r["chunk_index"])
        rebuilt = []
        for c in cs:
            rebuilt.extend(c["chunk_text"].split()[:stride])
        rebuilt.extend(cs[-1]["chunk_text"].split()[stride:])
        assert rebuilt == [f"d{i}w{j}" for j in range(n)], (chunk, stride, i)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(lengths=_doc_lengths, window=st.integers(16, 256))
def test_pack_conservation_property(spark, lengths, window):
    import collections

    rows = [
        (i, " ".join(["w"] * n), f"s{i % 2}") for i, n in enumerate(lengths)
    ]
    got = pack_spans(_docs(spark, rows), window, "source").collect()
    per_doc = collections.Counter()
    per_pack = collections.Counter()
    for r in got:
        assert r["n_tok"] >= 1
        per_doc[r["doc_id"]] += r["n_tok"]
        per_pack[(r["shard"], r["pack_id"])] += r["n_tok"]
    # every token lands in exactly one pack span
    assert per_doc == {i: n for i, n in enumerate(lengths)}
    # every pack except each shard's last is exactly full
    for shard in {s for s, _ in per_pack}:
        packs = sorted(p for s, p in per_pack if s == shard)
        assert packs == list(range(len(packs)))  # contiguous ids from 0
        for p in packs[:-1]:
            assert per_pack[(shard, p)] == window, (shard, p)
        assert per_pack[(shard, packs[-1])] <= window


def test_chunk_generate_carries_no_token_array(spark):
    """The explode's carried columns (Generate's requiredChildOutput) must
    not include the token array: carrying it copies the whole array into
    every generated chunk row — O(n_chunks · n_tokens) cells, which hung a
    1M-token whale document before the bound-transform rewrite."""
    df = spark.createDataFrame(
        [(0, "a b c d e", "en", "s", 9)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    plan = (
        chunk_documents(df)._jdf.queryExecution().executedPlan().toString()
    )
    gen_lines = [l for l in plan.splitlines() if "Generate" in l]
    assert gen_lines, plan
    for line in gen_lines:
        # line shape: "Generate explode(...), [carried...], false, [out...]"
        # — the carried (requiredChildOutput) list is the last bracket
        # before the outer flag; the generator expr may reference _t (it
        # IS the input), the carried list must not
        carried = line.rsplit(", false, [", 1)[0].rsplit(", [", 1)[-1]
        assert "_t#" not in carried, line


def test_corpus_ops_define_null_text_behavior(spark):
    """NULL text must be EXCLUDED — explicitly, not as a side effect of
    config-dependent null-size semantics (legacy sizeOfNull=-1 would make
    chunk_documents' sequence(1,-1,stride) throw; ANSI silently drops).
    One null row must never kill a corpus-scale job."""
    from user_behavior_spark_pipeline_spark.operators.corpus import (
        chunk_documents,
        pack_spans,
        repetition_stats,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h", "s1"),
            (2, None, "s1"),  # the poison row
            (3, "x y z", "s2"),
        ],
        "doc_id long, text string, source string",
    )
    chunks = chunk_documents(docs, chunk_tokens=4, stride=4).collect()
    assert {r["doc_id"] for r in chunks} == {1, 3}
    packs = pack_spans(docs, window_tokens=8).collect()
    assert {r["doc_id"] for r in packs} == {1, 3}
    reps = repetition_stats(docs).collect()
    assert {r["doc_id"] for r in reps} == {1, 3}


def test_snapshot_diff_null_text_and_all_states(spark):
    """Presence must come from row existence, not fingerprint nullness:
    md5(NULL) is NULL, so null-text docs would otherwise read as
    removed/added. All four states + both null transitions pinned."""
    from user_behavior_spark_pipeline_spark.operators.corpus import (
        snapshot_diff,
    )

    old = spark.createDataFrame(
        [
            (1, "same"),
            (2, "will change"),
            (3, "will be removed"),
            (5, None),          # null -> null : unchanged
            (6, None),          # null -> text : changed
            (7, "text"),        # text -> null : changed
        ],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (1, "same"),
            (2, "changed!"),
            (4, "brand new"),
            (5, None),
            (6, "now real"),
            (7, None),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.status for r in snapshot_diff(old, new).collect()}
    assert got == {
        1: "unchanged",
        2: "changed",
        3: "removed",
        4: "added",
        5: "unchanged",
        6: "changed",
        7: "changed",
    }


# ---------------------------------------------------------------------------
# BPE token accounting (r12)
# ---------------------------------------------------------------------------


def test_bpe_token_count_known_words(spark):
    """Hand-derived counts under the shipped merge table: multi-step
    chains (t+h -> th+e; i+n -> in+g) must apply in rank order."""
    from pyspark.sql import functions as F

    from user_behavior_spark_pipeline_spark.operators.corpus import (
        bpe_token_count,
    )

    df = spark.createDataFrame(
        [("the",), ("thing",), ("and",), ("x",), ("",), ("rethe",)],
        "text string",
    )
    got = dict(
        df.select(
            "text", bpe_token_count(F.col("text")).alias("n")
        ).collect()
    )
    # the: t h e -> th e -> the            = 1
    # thing: t h i n g -> th in g -> th ing = 2  (th+i never merges)
    # and: a n d -> an d -> and            = 1
    # x: 1; empty: 0
    # rethe: r e t h e -> re th e -> re the = 2
    assert got == {"the": 1, "thing": 2, "and": 1, "x": 1, "": 0,
                   "rethe": 2}


def test_bpe_merge_order_is_load_bearing(spark):
    """Reversing the merge table changes counts on chain words — the
    property that makes the generated oracle a real certification of
    rank order, not just of character coverage."""
    from pyspark.sql import functions as F

    from user_behavior_spark_pipeline_spark.operators.corpus import (
        BPE_MERGES,
        bpe_token_count,
    )

    df = spark.createDataFrame([("the thing",)], "text string")
    fwd, rev = df.select(
        bpe_token_count(F.col("text")).alias("a"),
        bpe_token_count(
            F.col("text"), tuple(reversed(BPE_MERGES))
        ).alias("b"),
    ).collect()[0]
    # fwd: the(1) + space(1) + th ing(2) = 4; reversed loses the
    # th+e / in+g chains (their prerequisites apply too late)
    assert fwd == 4
    assert rev > fwd


def test_pack_spans_bpe_drops_zero_token_docs(spark):
    from pyspark.sql import functions as F

    from user_behavior_spark_pipeline_spark.operators.corpus import (
        bpe_token_count,
        pack_spans,
    )

    docs = spark.createDataFrame(
        [(1, "s1", "the and"), (2, "s1", ""), (3, "s1", "ou st")],
        "doc_id long, source string, text string",
    )
    rows = pack_spans(
        docs, 4, "source", token_count=bpe_token_count(F.col("text"))
    ).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert 2 not in by_doc  # zero tokens -> no span rows
    # doc1: the(1) space(1) and(1) = 3 tokens -> pack 0, not split
    (r1,) = by_doc[1]
    assert (r1.pack_id, r1.n_tok, r1.is_split) == (0, 3, False)
    # doc3: ou(1) space(1) st(1) = 3 tokens at offset 3 -> packs 0+1
    assert {(r.pack_id, r.n_tok) for r in by_doc[3]} == {(0, 1), (1, 2)}
    assert all(r.is_split for r in by_doc[3])


def test_bpe_matches_independent_reference(spark):
    """Property check: the codegen replace-chain equals a NAIVE
    list-based implementation of the same semantics (apply each merge
    rank once, left-to-right non-overlapping) over adversarial strings
    — merge-generated symbols, overlapping runs, unicode, separators
    in odd places."""
    from pyspark.sql import functions as F

    from user_behavior_spark_pipeline_spark.operators.corpus import (
        BPE_MERGES,
        bpe_token_count,
    )

    def reference(text: str) -> int:
        syms = list(text)
        for a, b in BPE_MERGES:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return len(syms)

    cases = [
        "the thing and the other thing",
        "ththththe",            # overlapping t-h runs
        "aaanand",              # an+d chains off a merged an
        "in in ing inging",
        "ererer",               # repeated e-r pairs
        "",                     # empty
        "þe þing",              # unicode
        "t h e",                # separated chars never merge
        "xxantxx",              # a+n inside a word, then a+t blocked
        "st" * 50,              # long repeated pair
    ]
    import random

    rng = random.Random(99)
    alpha = "theinganderoust "
    cases += [
        "".join(rng.choice(alpha) for _ in range(rng.randrange(0, 60)))
        for _ in range(40)
    ]
    df = spark.createDataFrame([(c,) for c in cases], "text string")
    got = {
        r.text: r.n
        for r in df.select(
            "text", bpe_token_count(F.col("text")).alias("n")
        ).collect()
    }
    for c in cases:
        assert got[c] == reference(c), repr(c)


def test_chunk_bpe_reconstruction_and_overlap(spark):
    """stride == chunk -> chunks exactly tile the original characters
    (the tokenizer loses nothing); stride < chunk -> consecutive
    chunks overlap by (chunk - stride) tokens."""
    from user_behavior_spark_pipeline_spark.operators.corpus import (
        chunk_documents_bpe,
    )

    df = spark.createDataFrame(
        [(1, "the thing and the other stuff here"), (2, "")],
        "doc_id long, text string",
    )
    tiles = chunk_documents_bpe(df, 3, 3).collect()
    assert {r.doc_id for r in tiles} == {1}  # empty text yields nothing
    txt = "".join(
        r.chunk_text
        for r in sorted(tiles, key=lambda r: r.chunk_index)
    )
    assert txt == "the thing and the other stuff here"
    over = sorted(
        chunk_documents_bpe(df, 4, 3).collect(),
        key=lambda r: r.chunk_index,
    )
    # overlap law: each chunk k starts at token k*stride, so chunk k+1
    # is a SUFFIX-EXTENSION of chunk k shifted by stride tokens — the
    # last (chunk - stride) tokens of chunk k are the first of k+1;
    # in characters: chunk_text[k] ends with the prefix of
    # chunk_text[k+1] that covers those shared tokens. Verify via the
    # tiling run: tiles[k].chunk_text is exactly tokens [3k, 3k+3), so
    # over[k].chunk_text == tiles-prefix concatenation shifted.
    tiled = {
        r.chunk_index: r.chunk_text
        for r in sorted(tiles, key=lambda r: r.chunk_index)
    }
    for r in over:
        assert r.n_tokens <= 4
        # an overlapping chunk starts where its tile starts
        assert r.chunk_text.startswith(tiled[r.chunk_index][:1])
        assert r.chunk_text.startswith(
            tiled[r.chunk_index]
        ) or r.n_tokens < 4


# Arrow-lane BPE with a real-size merge table (r13)


def _load_bpe_generator():
    """Import tools/gen_bpe_vocab.py (the offline naive-reference
    generator) by path."""
    import importlib.util
    import os

    p = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools",
        "gen_bpe_vocab.py",
    )
    spec = importlib.util.spec_from_file_location("gen_bpe_vocab", p)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_bpe_vocab_generator_is_pinned():
    """The committed vocab module must be exactly what the generator
    produces: re-train a 64-merge prefix (cheap) and re-derive two
    template tokenizations through the NAIVE reference."""
    from user_behavior_spark_pipeline_spark.operators.bpe import (
        BPE_MERGES_1K,
        BPE_TEMPLATES,
        TEMPLATE_TOKENS,
    )

    gen = _load_bpe_generator()
    pool = gen.build_word_pool()
    assert gen.train_merges(pool, 64) == list(BPE_MERGES_1K[:64])
    assert gen.build_templates(pool) == list(BPE_TEMPLATES)
    assert len(BPE_MERGES_1K) >= 1000
    for k in (0, 17):
        assert (
            tuple(gen.naive_bpe_text(BPE_TEMPLATES[k], list(BPE_MERGES_1K)))
            == TEMPLATE_TOKENS[k]
        )


def test_bpe_kernel_matches_naive_reference():
    """Kernel (greedy lowest-rank-first with cache) == naive reference
    (rescan-from-rank-0) on every template plus adversarial strings —
    the independence certificate behind the driver oracles' embedded
    token arrays."""
    from user_behavior_spark_pipeline_spark.operators.bpe import (
        BPE_MERGES_1K,
        BPE_TEMPLATES,
        _ranks,
        bpe_encode_text,
    )

    gen = _load_bpe_generator()
    ranks = _ranks(BPE_MERGES_1K)
    merges = list(BPE_MERGES_1K)
    cache: dict = {}
    cases = list(BPE_TEMPLATES) + [
        "",
        " ",
        "\t\n  ",
        "a",
        "zzzz",
        "ototot",
        "gotohufo" * 7,
        "123 9 x7y",
        "  double  spaces  ",
        BPE_TEMPLATES[3] + "\n" + BPE_TEMPLATES[9],
        BPE_MERGES_1K[500][0] + BPE_MERGES_1K[500][1],
        # right-to-left hazard: a suffix that only merges if the
        # kernel respects rank order over position order
        BPE_MERGES_1K[0][0] * 3 + BPE_MERGES_1K[0][1] * 3,
    ]
    # deterministic pseudo-random strings over the pool alphabet
    g = gen._lcg(99)
    alpha = "abcdefghiklmnoprstuvw "
    for _ in range(40):
        n = next(g) % 60
        cases.append("".join(alpha[next(g) % len(alpha)] for _ in range(n)))
    for s in cases:
        got = bpe_encode_text(s, ranks, cache)
        want = gen.naive_bpe_text(s, merges)
        assert got == want, (s, got, want)
        assert "".join(got) == s  # verbatim reconstruction, always


def test_bpe_closed_form_assumptions_hold():
    """The oracles' closed form needs: no merge touches a digit or
    whitespace (doc_id digits stay single-char tokens; whitespace runs
    are atomic by pre-tokenization, never merged)."""
    from user_behavior_spark_pipeline_spark.operators.bpe import (
        BPE_MERGES_1K,
    )

    for a, b in BPE_MERGES_1K:
        assert not any(c.isdigit() or c.isspace() for c in a + b)


def test_bpe_arrow_operators_and_synth_text(spark):
    """The Arrow-lane column ops agree with the kernel run locally,
    synth_bpe_text matches its documented Python construction, and
    chunks tile the character stream."""
    from pyspark.sql import functions as F

    from user_behavior_spark_pipeline_spark.operators.bpe import (
        BPE_MERGES_1K,
        BPE_TEMPLATES,
        TEMPLATE_TOKENS,
        _ranks,
        bpe_encode_text,
        bpe_token_count_arrow,
        chunk_documents_bpe_arrow,
        synth_bpe_text,
    )

    ranks = _ranks(BPE_MERGES_1K)
    docs = spark.createDataFrame(
        [(i,) for i in range(40)], "doc_id long"
    ).withColumn("text", synth_bpe_text(F.col("doc_id")))
    rows = docs.withColumn(
        "n", bpe_token_count_arrow(F.col("text"))
    ).collect()
    for r in rows:
        d = r.doc_id
        want_text = " ".join(
            [BPE_TEMPLATES[d % 32]] * (d % 3 + 1)
        ) + f" {d}"
        assert r.text == want_text, d
        base = len(TEMPLATE_TOKENS[d % 32])
        assert r.n == (d % 3 + 1) * (base + 1) + len(str(d)), d
        assert r.n == len(bpe_encode_text(r.text, ranks)), d
    # null text -> null count (pack_spans filters it upstream)
    nulls = spark.createDataFrame(
        [(1, None)], "doc_id long, text string"
    )
    (nr,) = nulls.withColumn(
        "n", bpe_token_count_arrow(F.col("text"))
    ).collect()
    assert nr.n is None
    # chunks tile the character stream verbatim at stride == chunk
    tiles = chunk_documents_bpe_arrow(docs, 16, 16).collect()
    by_doc: dict[int, list] = {}
    for t in tiles:
        by_doc.setdefault(t.doc_id, []).append(t)
    for d, ts in by_doc.items():
        ts.sort(key=lambda t: t.chunk_index)
        joined = "".join(t.chunk_text for t in ts)
        assert joined == " ".join(
            [BPE_TEMPLATES[d % 32]] * (d % 3 + 1)
        ) + f" {d}", d
        assert sum(t.n_tokens for t in ts) == len(
            bpe_encode_text(joined, ranks)
        )
