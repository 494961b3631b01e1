"""Text-quality / language-ID / token-statistics expressions.

The training-data-pipeline operators (language identification, quality
scoring, token counting) the engine adds beyond the reference, built as
pure Column expressions so they run JVM-side at 100 TB scale. All
constants are module-level so the DuckDB correctness oracles can be
generated from the same lists (no semantic drift between engine and
oracle).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from reviews_quality_check_spark.functions.arrays import lit_array_str
from reviews_quality_check_spark.functions.text import tokens

# Engine-canonical English stopword list (fixed, small — the reference used
# nltk stopwords at review_analysis.py:40-50; the engine pins an explicit
# list so Spark / DuckDB / Python oracles agree byte-for-byte).
STOPWORDS: tuple[str, ...] = (
    "a", "an", "and", "are", "as", "at", "be", "but", "by", "for", "from",
    "has", "have", "he", "in", "is", "it", "its", "not", "of", "on", "or",
    "s", "she", "that", "the", "this", "to", "was", "were", "will", "with",
)

# Marker tokens per language for the n-gram/stopword language-ID heuristic.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is", "in", "that", "it", "with", "for"),
    "es": ("el", "la", "de", "que", "y", "los", "las", "una", "por", "con"),
    "de": ("der", "die", "und", "das", "ist", "nicht", "ein", "mit", "auf", "zu"),
    "fr": ("le", "la", "les", "et", "est", "une", "des", "du", "dans", "pour"),
}
LANG_PRIORITY: tuple[str, ...] = ("en", "es", "de", "fr")


def stopword_ratio(tok: Column) -> Column:
    """Fraction of tokens that are canonical stopwords; 0.0 if no tokens."""
    stops = lit_array_str(STOPWORDS)
    # NB: not array_intersect (it dedups) — count every stopword occurrence.
    n_stop = F.size(F.filter(tok, lambda t: F.array_contains(stops, t)))
    return F.when(F.size(tok) > 0, n_stop.cast("double") / F.size(tok).cast("double")).otherwise(
        F.lit(0.0)
    )


def punct_ratio(col: Column | str) -> Column:
    """Punctuation characters / total characters; 0.0 for empty."""
    c = F.col(col) if isinstance(col, str) else col
    n_punct = F.length(c) - F.length(F.regexp_replace(c, r"[.,;:!?'\"()\[\]-]", ""))
    return F.when(F.length(c) > 0, n_punct.cast("double") / F.length(c).cast("double")).otherwise(
        F.lit(0.0)
    )


def mean_word_length(tok: Column) -> Column:
    total = F.aggregate(tok, F.lit(0), lambda acc, w: acc + F.length(w))
    return F.when(
        F.size(tok) > 0, total.cast("double") / F.size(tok).cast("double")
    ).otherwise(F.lit(0.0))


def quality_score(col: Column | str) -> Column:
    """Deterministic document-quality heuristic in [0,1].

    Components (each in [0,1], weighted):
      0.35 * length_ok      — 5..5000 tokens
      0.25 * wordlen_ok     — mean word length in [3, 12]
      0.20 * (1 - min(punct_ratio*5, 1))
      0.20 * stop_presence  — min(stopword_ratio*4, 1) (gibberish has ~0)
    """
    c = F.col(col) if isinstance(col, str) else col
    tok = tokens(c)
    n = F.size(tok)
    length_ok = F.when((n >= 5) & (n <= 5000), F.lit(1.0)).otherwise(F.lit(0.0))
    mwl = mean_word_length(tok)
    wordlen_ok = F.when((mwl >= 3.0) & (mwl <= 12.0), F.lit(1.0)).otherwise(F.lit(0.0))
    punct_pen = F.lit(1.0) - F.least(punct_ratio(c) * 5.0, F.lit(1.0))
    stop_pres = F.least(stopword_ratio(tok) * 4.0, F.lit(1.0))
    score = 0.35 * length_ok + 0.25 * wordlen_ok + 0.20 * punct_pen + 0.20 * stop_pres
    return F.when(c.isNull() | (n == 0), F.lit(0.0)).otherwise(score)


def lang_marker_hits(tok: Column, lang: str) -> Column:
    """Number of tokens that are marker words of ``lang`` (with multiplicity)."""
    markers = lit_array_str(LANG_MARKERS[lang])
    return F.size(F.filter(tok, lambda t: F.array_contains(markers, t)))


def predict_lang(col: Column | str) -> Column:
    """Argmax language over marker-hit counts; ties resolved by
    LANG_PRIORITY order; 'und' when no marker hits at all."""
    c = F.col(col) if isinstance(col, str) else col
    tok = tokens(c)
    hits = {lg: lang_marker_hits(tok, lg) for lg in LANG_PRIORITY}
    best = F.greatest(*hits.values())
    expr = F.lit("und")
    for lg in reversed(LANG_PRIORITY):
        expr = F.when((best > 0) & (hits[lg] == best), F.lit(lg)).otherwise(expr)
    return expr


# --- n-gram-heuristic language ID (Cavnar-Trenkle style) ---------------------
# Char-trigram profiles derived deterministically from the marker lexicon:
# every marker word is space-padded (boundary-aware) and decomposed into
# trigrams. Short function words still yield discriminative boundary
# trigrams (' el', 'el '), which is the point of the padding.


def _padded_trigrams_py(word: str) -> list[str]:
    p = f" {word} "
    return [p[i : i + 3] for i in range(len(p) - 2)]


LANG_TRIGRAM_PROFILES: dict[str, tuple[str, ...]] = {
    lg: tuple(sorted({t for m in ms for t in _padded_trigrams_py(m)}))
    for lg, ms in LANG_MARKERS.items()
}


def _padded_trigrams(words: Column) -> Column:
    """All space-padded char trigrams across a words array (multiplicity
    kept — profile hits count occurrences, not distinct types)."""
    def word_tgs(w: Column) -> Column:
        p = F.concat(F.lit(" "), w, F.lit(" "))
        return F.transform(
            F.sequence(F.lit(1), F.length(p) - 2), lambda i: F.substring(p, i, F.lit(3))
        )

    return F.flatten(F.transform(words, word_tgs))


def lang_trigram_hits(tgs: Column, lang: str) -> Column:
    prof = lit_array_str(LANG_TRIGRAM_PROFILES[lang])
    return F.size(F.filter(tgs, lambda t: F.array_contains(prof, t)))


# ---------------------------------------------------------------------------
# Gopher / C4 web-text quality-filter rules (engine addition for the
# LLM-training-data pipeline; public provenance: Rae et al. 2021
# "Scaling Language Models: ... Gopher" §A1.1 and Raffel et al. 2020
# "Exploring the Limits of Transfer Learning" (C4) §2.2).
#
# Every rule is deliberately expressed in INTEGER arithmetic (e.g.
# mean word length in [3,10] <=> 3*n <= total_len <= 10*n), so the
# DuckDB oracle matches bit-for-bit with no float discipline needed.
# ---------------------------------------------------------------------------

GOPHER_STOP_SET: tuple[str, ...] = (
    "the", "be", "to", "of", "and", "that", "have", "with",
)


def gopher_flags(col: Column | str) -> dict[str, Column]:
    """Per-document Gopher rule booleans over whitespace words:

      word_count_ok   50 <= n_words <= 100000
      mean_word_len_ok  3 <= mean(len) <= 10      (3n <= total <= 10n)
      symbol_ratio_ok   (#hash + #ellipsis) * 10 < n_words
      alpha_ratio_ok    words containing [A-Za-z] * 5 >= n_words * 4
      stop_hits_ok      >= 2 distinct words from the 8-word stop set

    plus the C4 additions:

      no_brace          no '{' (code marker)
      no_lorem          no 'lorem ipsum' (lowercased)
      min_sentences_ok  >= 3 sentences

    (Gopher's line-level bullet/ellipsis ratios degenerate on this
    corpus — text is single-line at every scale factor — and are
    covered by the symbol-ratio rule; documented, not hidden.)
    """
    from reviews_quality_check_spark.functions.text import (
        sentence_count,
        whitespace_words,
    )

    from reviews_quality_check_spark.functions.text import norm_text

    c = F.col(col) if isinstance(col, str) else col
    words = whitespace_words(c)
    n = F.size(words)
    # All derived counts below are FLAT expressions over the normalized
    # text (single-space-joined lowercased words), not HOF lambdas over
    # the words array: interpreted lambda evaluation cost the flagship
    # suite's gopher check +5s/1M rows (r5 attribution) and Catalyst
    # inlines the words chain into each lambda body (the r1 64x trap).
    # Exact equivalences on norm = norm_text(c):
    #   sum(len(word)) == length(norm) - (n - 1)   [n-1 single spaces]
    #   words containing a letter == matches of ' [^ ]*[a-z][^ ]*' in
    #     ' ' || norm (each word consumed with its leading space)
    #   stop word present == ' <stop> ' substring of ' ' || norm || ' '
    norm = norm_text(c)
    total_len = F.when(n > 0, F.length(norm) - (n - 1)).otherwise(F.lit(0))
    n_hash = F.size(F.split(c, "#", -1)) - 1
    n_ellipsis = F.size(F.split(c, r"\.\.\.", -1)) - 1
    n_alpha = F.size(
        F.regexp_extract_all(
            F.concat(F.lit(" "), norm), F.lit(" [^ ]*[a-z][^ ]*"), F.lit(0)
        )
    )
    padded = F.concat(F.lit(" "), norm, F.lit(" "))
    stop_hits = sum(
        (padded.contains(f" {s} ").cast("int") for s in GOPHER_STOP_SET),
        F.lit(0),
    )
    return {
        "word_count_ok": (n >= 50) & (n <= 100000),
        "mean_word_len_ok": (total_len >= 3 * n) & (total_len <= 10 * n) & (n > 0),
        "symbol_ratio_ok": (n_hash + n_ellipsis) * 10 < n,
        "alpha_ratio_ok": n_alpha * 5 >= n * 4,
        "stop_hits_ok": stop_hits >= 2,
        "no_brace": ~c.contains("{"),
        "no_lorem": ~F.lower(c).contains("lorem ipsum"),
        "min_sentences_ok": sentence_count(c) >= 3,
    }


def gopher_keep(col: Column | str) -> Column:
    """Conjunction of all Gopher+C4 flags — the pipeline keep decision."""
    flags = gopher_flags(col)
    out = F.lit(True)
    for v in flags.values():
        out = out & v
    return out
