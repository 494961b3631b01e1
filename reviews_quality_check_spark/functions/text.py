"""Text normalization / tokenization / n-gram expressions.

Re-expresses the reference's per-row string loops as native Column
expressions (reference sites cited per function). The engine's canonical
tokenizer is a deterministic regex tokenizer (``[a-z0-9']+`` over the
lowercased text) — chosen over NLTK punkt so the exact same semantics
are expressible JVM-side in Spark, in DuckDB SQL (correctness oracles),
and in pure Python (parity oracle), with no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Canonical token pattern: runs of lowercase alphanumerics/apostrophes.
TOKEN_RE = "[a-z0-9']+"
# Sentence split pattern — reference analyzers/sentiment.py:248 re.split(r'[.!?]+')
SENTENCE_SPLIT_RE = "[.!?]+"


def norm_text(col: Column | str) -> Column:
    """lower + trim + whitespace collapse.

    reference: analyzers/similarity.py:80-82 (' '.join(text.split()) after
    lower/strip) and utils/text_processing.py:67-73.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.trim(F.lower(c)), r"\s+", " ")


def tokens(col: Column | str) -> Column:
    """Array of canonical tokens of the lowercased text.

    reference: review_analysis.py:505 nltk.word_tokenize(text.lower()) —
    re-expressed as a regex extraction (deterministic, engine-canonical).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(F.lower(c), F.lit(TOKEN_RE), 0)


def word_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def sentences(col: Column | str) -> Column:
    """Non-empty sentences after splitting on [.!?]+ (reference
    sentiment.py:248, text_processing.py split variant)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(
        F.transform(F.split(c, SENTENCE_SPLIT_RE), lambda s: F.trim(s)),
        lambda s: s.rlike(r"\S"),
    )


def sentence_count(col: Column | str) -> Column:
    return F.size(sentences(col))


def word_ngrams(tok: Column, n: int, sep: str = " ") -> Column:
    """Word n-grams from a token array. Empty array when there are fewer
    than ``n`` tokens.

    reference: review_analysis.py:510-512 (nltk.ngrams over tokens).
    Shape: zip_with over aligned slices — measured 12x faster than the
    sequence+transform+element_at form (per-index element_at through an
    interpreted transform dominates; zip_with walks the aligned arrays
    once), bit-identical output.
    """
    if n == 1:
        return tok
    m = F.greatest(F.size(tok) - (n - 1), F.lit(0))
    out = F.slice(tok, 1, m)
    for i in range(1, n):
        out = F.zip_with(
            out, F.slice(tok, i + 1, m), lambda a, b: F.concat(a, F.lit(sep), b)
        )
    return out


def char_ngrams_per_word(tok: Column, n: int = 3) -> Column:
    """All length-n substrings of each word (words >= n chars) plus the
    whole word — reference analyzers/similarity.py:84-100 (word + its
    char trigrams feed the Jaccard n-gram set).
    """
    def word_grams(w: Column) -> Column:
        positions = F.sequence(F.lit(1), F.greatest(F.length(w) - (n - 1), F.lit(0)))
        grams = F.transform(positions, lambda i: w.substr(i, F.lit(n)))
        return F.concat(grams, F.array(w))

    return F.flatten(F.transform(tok, word_grams))


def shingles(col: Column | str, k: int = 3) -> Column:
    """k-token shingle set of the normalized text (MinHash input)."""
    return F.array_distinct(word_ngrams(tokens(col), k))


def whitespace_words(col: Column | str) -> Column:
    """Whitespace-split words of the normalized text (punctuation kept
    attached) — the reference's similarity preprocessing splits on
    whitespace, NOT on a token regex (analyzers/similarity.py:80-87)."""
    c = F.col(col) if isinstance(col, str) else col
    nt = norm_text(c)
    return F.when(nt == "", F.array().cast("array<string>")).otherwise(F.split(nt, " "))


def similarity_ngram_set_from_words(words: Column, n: int = 3) -> Column:
    """similarity_ngram_set over an already-materialized words column —
    use this form inside operators (project words first, then build the
    set) so codegen doesn't re-derive the words array per n-gram element."""
    return F.array_distinct(
        F.concat(char_ngrams_per_word(words, n), word_ngrams(words, n))
    )


def similarity_ngram_set(col: Column | str, n: int = 3) -> Column:
    """The reference's n-gram set for pairwise Jaccard similarity
    (analyzers/similarity.py:84-100): every whitespace word, plus char
    n-grams of words >= n chars, plus word-level n-grams.
    """
    return similarity_ngram_set_from_words(whitespace_words(col), n)


def md5_fingerprint(col: Column | str) -> Column:
    """Deterministic 128-bit content fingerprint of the normalized text.

    Plays the role of the reference's exact-duplicate hash key
    (analyzers/similarity.py:233-249 used the normalized string itself);
    a fixed-width digest keeps shuffle rows narrow at 100 TB scale.
    """
    return F.md5(norm_text(col))


def md5_fingerprint_exact(col: Column | str) -> Column:
    """Reference-exact duplicate key: lower + strip with INTERNAL
    whitespace preserved (analyzers/similarity.py:235 uses
    text.lower().strip() — no run collapse). Python's strip() removes all
    whitespace classes, so edges are trimmed with \\s regexes (Spark/
    DuckDB trim() would only strip spaces)."""
    c = F.col(col) if isinstance(col, str) else col
    stripped = F.regexp_replace(
        F.regexp_replace(F.lower(c), r"^\s+", ""), r"\s+$", ""
    )
    return F.md5(stripped)


def winnowing_from_hashes(hashes: Column, window: int = 4) -> Column:
    """Winnowing window minima over an ALREADY-MATERIALIZED hash-array
    column (a bound attribute, e.g. after an exchange). Passing an
    inline expression here makes codegen re-evaluate it once per window
    (CollapseProject inlines producer projections into lambda bodies)."""
    n_windows = F.greatest(F.size(hashes) - (window - 1), F.lit(0))
    mins = F.transform(
        F.sequence(F.lit(1), n_windows),
        lambda i: F.array_min(F.slice(hashes, i, window)),
    )
    return F.when(n_windows > 0, F.sort_array(F.array_distinct(mins))).otherwise(
        F.array().cast("array<long>")
    )


def shingle_hashes_long(col: Column | str, k: int = 3) -> Column:
    """md5-derived 60-bit int per k-token shingle (winnowing input)."""
    grams = word_ngrams(tokens(col), k)
    return F.transform(
        grams,
        lambda g: F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("long"),
    )


def winnowing_fingerprints(
    col: Column | str, k: int = 3, window: int = 4
) -> Column:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS scheme): hash every k-token shingle, slide a
    window of ``window`` consecutive shingle hashes, keep each window's
    minimum, dedupe. Robust local fingerprints for partial-overlap
    detection, O(tokens) per row, pure expressions.

    Hashes are md5-hex-prefix integers so Spark and the DuckDB oracle
    produce identical fingerprints. Empty/short texts → empty array.
    """
    tok = tokens(col)
    grams = word_ngrams(tok, k)
    hashes = F.transform(
        grams,
        lambda g: F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("long"),
    )
    n_windows = F.greatest(F.size(hashes) - (window - 1), F.lit(0))
    mins = F.transform(
        F.sequence(F.lit(1), n_windows),
        lambda i: F.array_min(F.slice(hashes, i, window)),
    )
    return F.when(n_windows > 0, F.sort_array(F.array_distinct(mins))).otherwise(
        F.array().cast("array<long>")
    )


def truncate_words(col: Column | str, max_length: int = 100, ellipsis: str = "...") -> Column:
    """Word-boundary truncation — reference utils/text_processing.py:75-95.

    If len(text) <= max_length return as-is; else cut at max_length, back
    up to the last space (if any), append ellipsis.
    """
    c = F.col(col) if isinstance(col, str) else col
    cut = F.substring(c, 1, max_length)
    # position of last space within the cut: length - position of first
    # space in the reversed string.
    rev_pos = F.instr(F.reverse(cut), " ")
    keep_len = F.length(cut) - rev_pos
    # reference: `last_space > 0` — a space at index 0 (keep_len==0) keeps cut
    trimmed = F.when((rev_pos > 0) & (keep_len > 0), F.substring(cut, 1, keep_len)).otherwise(cut)
    return F.when(F.length(c) <= max_length, c).otherwise(F.concat(trimmed, F.lit(ellipsis)))


# GPT-2-style pre-tokenizer regex (Radford et al. 2019 / tiktoken's
# published pattern), simplified to what Spark's java.util.regex AND
# DuckDB's RE2 both support identically: no negative lookahead, ASCII
# letter/digit classes. Counts approximate BPE token counts the way an
# LLM-ingest pipeline budgets sequence length before real tokenization.
BPE_PRETOKEN_RE = r"'(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s']+|'| ?\s+"


def bpe_token_count(col: Column | str) -> Column:
    """Pre-tokenizer match count — the 'BPE-ish regex' token budget
    (real BPE merges only split pre-tokens further, so this lower-bounds
    the true token count at roughly 0.75-1x for English text)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(BPE_PRETOKEN_RE), 0))
