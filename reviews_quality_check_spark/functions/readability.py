"""Readability expressions: syllable counting + Flesch Reading Ease.

Re-expresses the reference's custom syllable counter and Flesch formula
(/root/reference/utils/text_processing.py:128-161) as pure Column
expressions over the engine's canonical regex tokenizer — no UDF, fully
inside whole-stage codegen, and identically expressible in DuckDB SQL
for the correctness oracle.

Semantics (per reference count_syllables):
  - syllables(word) = number of maximal vowel-group runs ([aeiouy]+)
  - minus 1 if the word ends with 'e'
  - plus 1 if the word ends with 'le', len > 2, and the char before the
    'le' is not a vowel
  - floor at 1
Flesch = 206.835 - 1.015*(words/sentences) - 84.6*(syllables/words),
clamped to [0, 100]; 0 for empty/whitespace text
(text_processing.py:151-161).

Deviation from reference (documented): tokens come from the engine's
regex tokenizer rather than nltk.word_tokenize, so punctuation is never
a token (the reference counts each punctuation token as 1 syllable —
an artifact of word_tokenize, not a semantic goal). The parity oracle
in oracle/reference.py implements *this* engine contract; the reference
formula itself is identical.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from reviews_quality_check_spark.functions.text import sentence_count, tokens

def syllables_in_word(w: Column) -> Column:
    """Syllable count of a single lowercase word (Column over string)."""
    vowel_groups = F.size(F.regexp_extract_all(w, F.lit("[aeiouy]+"), 0))
    ends_e = w.endswith("e").cast("int")
    # 'le' ending with a consonant before it, word longer than 2 chars
    third_last = w.substr(F.length(w) - 2, F.lit(1))
    ends_cons_le = (
        w.endswith("le") & (F.length(w) > 2) & ~third_last.rlike("[aeiouy]")
    ).cast("int")
    raw = vowel_groups - ends_e + ends_cons_le
    return F.greatest(raw, F.lit(1))


def total_syllables(tok: Column) -> Column:
    """Sum of per-word syllables over a token array."""
    return F.aggregate(
        tok, F.lit(0), lambda acc, w: acc + syllables_in_word(w)
    )


# --- flat-regex fast path ----------------------------------------------------
# Higher-order-function lambdas (transform/aggregate) are evaluated
# INTERPRETED in Spark (not whole-stage-codegen), which costs minutes of
# C2 JIT warm-up per executor and stays ~10× slower than codegen'd
# expressions. The per-word syllable algorithm decomposes EXACTLY into
# six global regex counts over the lowercased text (proof sketch below),
# so the fast path is pure regexp_extract_all + size — fully codegen'd.
#
# For token set T(text) and the reference per-word rules:
#   Σ vowel_groups(w)  = |matches('[aeiouy]+')|        (groups can't cross
#                        non-letter boundaries, so counting globally over
#                        the text equals summing per word)
#   Σ endswith_e(w)    = |matches("(?<!K)K*e(?!K)")|    K = token char class
#   Σ ends_cons_le(w)  = |matches("(?<!K)K*Cle(?!K)")|  C = K minus vowels
#   clamp corrections (words where raw <= 0, i.e. raw==0):
#     no-vowel words            = |matches("(?<!K)C+(?!K)")|
#     single-group-ending-e     = |matches("(?<!K)C*[aeiouy]*e(?!K)")|
#     minus cons+'le' words     = |matches("(?<!K)C+le(?!K)")|  (these got
#                                  the +1 'le' adjustment, raw==1)
# total_syllables = groups - ends_e + ends_cons_le + clamps.
# Verified exhaustively against the per-word oracle in
# tests/test_text_parity.py (hypothesis property test).
_K = "[a-z0-9']"
_C = "[b-df-hj-np-tv-xz0-9']"
_P_GROUPS = "[aeiouy]+"
_P_ENDS_E = f"(?<!{_K}){_K}*e(?!{_K})"
_P_ENDS_CONS_LE = f"(?<!{_K}){_K}*{_C}le(?!{_K})"
_P_NO_VOWEL = f"(?<!{_K}){_C}+(?!{_K})"
_P_SINGLE_E = f"(?<!{_K}){_C}*[aeiouy]*e(?!{_K})"
_P_CONS_LE = f"(?<!{_K}){_C}+le(?!{_K})"
# non-empty sentence fragments: runs without terminators containing at
# least one non-terminator non-whitespace char
_P_SENTENCE = r"[^.!?]*[^.!?\s][^.!?]*"


def _count(c: Column, pattern: str) -> Column:
    return F.size(F.regexp_extract_all(c, F.lit(pattern), 0))


def flesch_reading_ease_fast(col: Column | str) -> Column:
    """Whole-stage-codegen Flesch: identical values to
    flesch_reading_ease (see module comment), ~10× faster and no JIT
    warm-up cliff. Use this in hot validation paths."""
    c = F.col(col) if isinstance(col, str) else col
    tl = F.lower(c)
    n_words = _count(tl, f"{_K}+")
    n_sents = _count(c, _P_SENTENCE)
    syll = (
        _count(tl, _P_GROUPS)
        - _count(tl, _P_ENDS_E)
        + _count(tl, _P_ENDS_CONS_LE)
        + _count(tl, _P_NO_VOWEL)
        + _count(tl, _P_SINGLE_E)
        - _count(tl, _P_CONS_LE)
    )
    score = (
        F.lit(206.835)
        - F.lit(1.015) * (n_words.cast("double") / n_sents.cast("double"))
        - F.lit(84.6) * (syll.cast("double") / n_words.cast("double"))
    )
    clamped = F.greatest(F.lit(0.0), F.least(F.lit(100.0), score))
    return F.when(
        c.isNull() | (n_words == 0) | (n_sents == 0), F.lit(0.0)
    ).otherwise(clamped)


def flesch_reading_ease(col: Column | str) -> Column:
    """Flesch Reading Ease, clamped to [0,100]; 0.0 for null/empty text.

    reference: utils/text_processing.py:151-161 (custom formula used by
    the main pipeline via review_analysis.py:65-82 — NOT the textstat
    variant in linguistics.py:263-266; see SURVEY.md §4.1 quirk 6).
    """
    c = F.col(col) if isinstance(col, str) else col
    tok = tokens(c)
    n_words = F.size(tok)
    n_sents = sentence_count(c)
    n_syll = total_syllables(tok)
    score = (
        F.lit(206.835)
        - F.lit(1.015) * (n_words.cast("double") / n_sents.cast("double"))
        - F.lit(84.6) * (n_syll.cast("double") / n_words.cast("double"))
    )
    clamped = F.greatest(F.lit(0.0), F.least(F.lit(100.0), score))
    return F.when(
        c.isNull() | (n_words == 0) | (n_sents == 0), F.lit(0.0)
    ).otherwise(clamped)
