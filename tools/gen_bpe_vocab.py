#!/usr/bin/env python
"""Generate operators/bpe_vocab.py: a real-size (~1k-merge) BPE merge
table plus the evolution-fixture templates and their NAIVE-reference
tokenizations.

Everything here is deterministic and self-contained (stdlib only):

- A deterministic pseudo-language word pool (N_WORDS entries) is built from consonant-vowel
  syllables via a fixed LCG, with Zipf-ish frequencies.
- A merge table is TRAINED on the (word -> freq) dict with the classic
  Sennrich procedure: repeatedly count adjacent symbol pairs weighted
  by word frequency, merge the most frequent pair (ties broken by the
  lexicographically largest pair — deterministic), until the target
  merge count or pair exhaustion.
- 32 fixture templates are sentences drawn from the same pool (so the
  merges actually fire on them), joined by single spaces.
- TEMPLATE_TOKENS is computed by the NAIVE reference tokenizer (scan
  the merge list from rank 0 after every merge — transparent,
  quadratic, implementation-independent of the fast kernel in
  operators/bpe.py). The DuckDB oracles embed these arrays as
  literals, so the Spark kernel must agree with the naive reference
  for the driver hash to stay green.

The generated file is committed; tests/test_corpus.py re-derives a
prefix of the merge table and a subset of TEMPLATE_TOKENS through this
module to pin the generator itself.

Run: python tools/gen_bpe_vocab.py  (rewrites operators/bpe_vocab.py)
"""

from __future__ import annotations

import os

N_MERGES = 1100
N_WORDS = 1536
N_TEMPLATES = 32

_CONSONANTS = "bcdfghklmnprstvw"
_VOWELS = "aeiou"
SYLLABLES = [c + v for c in _CONSONANTS for v in _VOWELS]  # 80


def _lcg(seed: int):
    """Deterministic 31-bit LCG (glibc constants)."""
    s = seed & 0x7FFFFFFF
    while True:
        s = (s * 1103515245 + 12345) & 0x7FFFFFFF
        yield s


def build_word_pool() -> dict[str, int]:
    """(word -> frequency) for the pseudo-language: N_WORDS words of 2-5
    syllables, Zipf-ish frequency 2048//(rank+1)+1."""
    pool: dict[str, int] = {}
    for i in range(N_WORDS):
        g = _lcg(i * 2654435761 + 17)
        n_syll = 2 + next(g) % 4
        w = "".join(SYLLABLES[next(g) % len(SYLLABLES)] for _ in range(n_syll))
        pool[w] = pool.get(w, 0) + 2048 // (i + 1) + 1
    return pool


def train_merges(
    word_freqs: dict[str, int], n_merges: int
) -> list[tuple[str, str]]:
    vocab: dict[tuple[str, ...], int] = {}
    for w, f in word_freqs.items():
        k = tuple(w)
        vocab[k] = vocab.get(k, 0) + f
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: dict[tuple[str, str], int] = {}
        for sym, f in vocab.items():
            for a, b in zip(sym, sym[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + f
        if not pairs:
            break
        best = max(pairs.items(), key=lambda kv: (kv[1], kv[0]))[0]
        merges.append(best)
        a, b = best
        new_vocab: dict[tuple[str, ...], int] = {}
        for sym, f in vocab.items():
            out: list[str] = []
            i = 0
            while i < len(sym):
                if i < len(sym) - 1 and sym[i] == a and sym[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            k = tuple(out)
            new_vocab[k] = new_vocab.get(k, 0) + f
        vocab = new_vocab
    return merges


def naive_bpe_word(word: str, merges: list[tuple[str, str]]) -> list[str]:
    """The transparent quadratic reference: after every merge, rescan
    the merge list from rank 0; apply the first (lowest-rank) merge
    present to ALL its non-overlapping occurrences left-to-right.
    Equivalent to GPT-2's lowest-rank-pair-first loop."""
    sym = list(word)
    changed = True
    while changed and len(sym) > 1:
        changed = False
        for a, b in merges:
            hit = any(
                sym[i] == a and sym[i + 1] == b for i in range(len(sym) - 1)
            )
            if not hit:
                continue
            out: list[str] = []
            i = 0
            while i < len(sym):
                if i < len(sym) - 1 and sym[i] == a and sym[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            sym = out
            changed = True
            break
    return sym


def naive_bpe_text(text: str, merges: list[tuple[str, str]]) -> list[str]:
    """Pre-tokenize into \\S+ words and \\s+ runs (runs are atomic
    tokens), BPE each word — concatenating the output reconstructs the
    text verbatim."""
    import re

    out: list[str] = []
    for tok in re.findall(r"\S+|\s+", text):
        if tok.strip():
            out.extend(naive_bpe_word(tok, merges))
        else:
            out.append(tok)
    return out


# ---------------------------------------------------------------------------
# Byte-level (GPT-2 family) artifacts — r14. Everything below is the
# INDEPENDENT reference path for operators/bpe_bytes.py: its own byte
# mapping, its own regex pre-tokenizer (the package uses a unicodedata
# scanner — two mechanisms, one contract), and the transparent naive
# merge loop. The committed vocab.json/merges.txt strings are the ONLY
# form the kernel loads, so the on-disk-format loader is load-bearing
# for every byte-level driver hash.
# ---------------------------------------------------------------------------

N_BYTE_MERGES = 900

#: deterministic accent substitution — every 5th pool word becomes
#: multi-byte UTF-8 so byte-level merges on continuation bytes are
#: hash-load-bearing (28/32 templates end up containing non-ASCII)
_ACCENTS = {"a": "á", "e": "é", "i": "í",
            "o": "ö", "u": "ü"}


def gpt2_bytes_to_unicode() -> dict[int, str]:
    """The public GPT-2 byte<->unicode bijection: printable latin-1
    bytes map to themselves, the rest to U+0100+n in scan order."""
    bs = (
        list(range(ord("!"), ord("~") + 1))
        + list(range(0xA1, 0xAC + 1))
        + list(range(0xAE, 0xFF + 1))
    )
    cs = bs[:]
    n = 0
    for b in range(256):
        if b not in bs:
            bs.append(b)
            cs.append(256 + n)
            n += 1
    return dict(zip(bs, (chr(c) for c in cs)))


#: the published GPT-2 pre-tokenizer, expressed with stdlib-re class
#: approximations ([^\W\d_] for \p{L}, \d for \p{N}) — exact on the
#: fixture alphabet (letters, accents, ASCII digits, space/newline);
#: the package scanner is category-exact for arbitrary input
_GPT2_RX_APPROX = (
    r"'s|'t|'re|'ve|'m|'ll|'d| ?[^\W\d_]+| ?\d+| ?[^\s\w]+|\s+(?!\S)|\s+"
)


def build_byte_pool() -> dict[str, int]:
    """The char-level pool with every 5th word accent-substituted."""
    pool = build_word_pool()
    out: dict[str, int] = {}
    for idx, (w, f) in enumerate(sorted(pool.items())):
        if idx % 5 == 2:
            w = "".join(_ACCENTS.get(c, c) for c in w)
        out[w] = out.get(w, 0) + f
    return out


def _map_word(s: str, b2u: dict[int, str]) -> str:
    return "".join(b2u[b] for b in s.encode("utf-8"))


def byte_training_words(pool: dict[str, int]) -> dict[str, int]:
    """GPT-2-style training pretokens: each word in its after-a-space
    form (4x weight — words mostly follow spaces) and bare form."""
    b2u = gpt2_bytes_to_unicode()
    words: dict[str, int] = {}
    for w, f in pool.items():
        sp = _map_word(" " + w, b2u)
        words[sp] = words.get(sp, 0) + 4 * f
        bare = _map_word(w, b2u)
        words[bare] = words.get(bare, 0) + f
    return words


def naive_byte_encode_ids(
    text: str, merges: list[tuple[str, str]], vocab: dict[str, int]
) -> list[int]:
    """Naive byte-level reference: regex pre-tokenize, byte-map, run
    the SAME transparent rescan-from-rank-0 loop, look up ids."""
    import re as _re

    b2u = gpt2_bytes_to_unicode()
    ids: list[int] = []
    for pt in _re.findall(_GPT2_RX_APPROX, text):
        for tok in naive_bpe_word(_map_word(pt, b2u), merges):
            ids.append(vocab[tok])
    return ids


def build_byte_templates(pool: dict[str, int]) -> list[str]:
    """32 deterministic sentences over the BYTE pool vocabulary (same
    construction as build_templates, different seed stream)."""
    words = sorted(pool, key=lambda w: (-pool[w], w))
    m = len(words)
    templates: list[str] = []
    for k in range(N_TEMPLATES):
        g = _lcg(k * 48611 + 3)
        n = 12 + k % 5
        templates.append(
            " ".join(
                words[(next(g) % m) * (next(g) % m) // m] for _ in range(n)
            )
        )
    return templates


def render_gpt2_files(
    merges: list[tuple[str, str]]
) -> tuple[str, str]:
    """(vocab.json, merges.txt) in the published on-disk format: ids =
    byte value for the 256 base symbols, 256+rank for merged tokens."""
    import json as _json

    b2u = gpt2_bytes_to_unicode()
    vocab = {b2u[b]: b for b in range(256)}
    for r, (a, b) in enumerate(merges):
        vocab[a + b] = 256 + r
    merges_txt = "#version: 0.2\n" + "".join(
        f"{a} {b}\n" for a, b in merges
    )
    return _json.dumps(vocab, ensure_ascii=True, sort_keys=False), merges_txt


def build_templates(pool: dict[str, int]) -> list[str]:
    """32 deterministic sentences over the pool vocabulary, frequency-
    biased word choice so the trained merges bite."""
    words = sorted(pool, key=lambda w: (-pool[w], w))
    m = len(words)
    templates: list[str] = []
    for k in range(N_TEMPLATES):
        g = _lcg(k * 40503 + 7)
        n = 12 + k % 5
        # bias toward frequent words: square the random fraction
        chosen = [
            words[(next(g) % m) * (next(g) % m) // m] for _ in range(n)
        ]
        templates.append(" ".join(chosen))
    return templates


def main() -> None:
    pool = build_word_pool()
    merges = train_merges(pool, N_MERGES)
    assert len(merges) >= 1000, f"only {len(merges)} merges trainable"
    templates = build_templates(pool)
    tokens = [naive_bpe_text(t, merges) for t in templates]

    # byte-level artifacts (r14)
    bpool = build_byte_pool()
    bmerges = train_merges(byte_training_words(bpool), N_BYTE_MERGES)
    assert len(bmerges) >= 800, f"only {len(bmerges)} byte merges"
    btemplates = build_byte_templates(bpool)
    vocab_json, merges_txt = render_gpt2_files(bmerges)
    import json as _json

    bvocab = _json.loads(vocab_json)
    byte_stats = []
    for t in btemplates:
        head = naive_byte_encode_ids(t, bmerges, bvocab)
        cont = naive_byte_encode_ids(" " + t, bmerges, bvocab)
        byte_stats.append(
            (len(head), sum(head), head[0], len(cont), sum(cont))
        )

    out_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "..",
        "user_behavior_spark_pipeline_spark",
        "operators",
        "bpe_vocab.py",
    )
    with open(out_path, "w") as f:
        f.write(
            '"""AUTO-GENERATED by tools/gen_bpe_vocab.py — do not edit.\n'
            "\n"
            f"{len(merges)}-merge BPE table trained deterministically on a\n"
            "pseudo-language word pool (see the generator for the exact\n"
            "procedure), plus the 32 fixture templates and their NAIVE-\n"
            "reference tokenizations. The fast kernel (operators/bpe.py)\n"
            "must reproduce TEMPLATE_TOKENS exactly — the DuckDB oracles\n"
            "embed these arrays as literals, so kernel drift breaks the\n"
            'driver hash. Regenerate: python tools/gen_bpe_vocab.py\n"""\n'
            "\n"
        )
        f.write("BPE_MERGES_1K: tuple[tuple[str, str], ...] = (\n")
        for a, b in merges:
            f.write(f"    ({a!r}, {b!r}),\n")
        f.write(")\n\n")
        f.write("BPE_TEMPLATES: tuple[str, ...] = (\n")
        for t in templates:
            f.write(f"    {t!r},\n")
        f.write(")\n\n")
        f.write("TEMPLATE_TOKENS: tuple[tuple[str, ...], ...] = (\n")
        for toks in tokens:
            f.write(f"    {tuple(toks)!r},\n")
        f.write(")\n\n")
        f.write(
            "# --- byte-level (GPT-2 family) artifacts, r14: the\n"
            "# committed vocab.json/merges.txt ON-DISK-FORMAT strings\n"
            "# (operators/bpe_bytes.py loads the kernel table from\n"
            "# these, so the loader is driver-hash-load-bearing), the\n"
            "# byte-pool templates, and their NAIVE-reference id stats\n"
            "# (head_count, head_id_sum, head_first_id, cont_count,\n"
            "# cont_id_sum) for template-at-text-start vs after-space.\n"
        )
        f.write(f"GPT2_VOCAB_JSON: str = {vocab_json!r}\n\n")
        f.write(f"GPT2_MERGES_TXT: str = {merges_txt!r}\n\n")
        f.write("BPE_BYTE_TEMPLATES: tuple[str, ...] = (\n")
        for t in btemplates:
            f.write(f"    {t!r},\n")
        f.write(")\n\n")
        f.write(
            "TEMPLATE_BYTE_STATS: tuple[tuple[int, int, int, int, int], ...] = (\n"
        )
        for st in byte_stats:
            f.write(f"    {st!r},\n")
        f.write(")\n")
    print(
        f"wrote {out_path}: {len(merges)} merges, "
        f"{len(templates)} templates, "
        f"avg {sum(len(t) for t in tokens) / len(tokens):.1f} tokens/template"
    )


if __name__ == "__main__":
    main()
