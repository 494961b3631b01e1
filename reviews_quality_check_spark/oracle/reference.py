"""Row-level parity oracle (pure Python, no Spark).

Each function mirrors an engine Column expression and cites the
reference site whose semantics it reproduces. The pytest parity suite
runs these over fixture rows and asserts the Spark pipeline produces
identical values (byte-identical for sanitize_text, exact for booleans/
ints, ULP-exact for the float arithmetic which both sides perform in
IEEE double).
"""

from __future__ import annotations

import math
import re
import unicodedata

from reviews_quality_check_spark.functions.quality import (
    LANG_MARKERS,
    LANG_PRIORITY,
    STOPWORDS,
)
from reviews_quality_check_spark.functions.sentiment_rules import (
    CONTRAST_MARKERS,
    DOMAIN_INDICATORS,
    NEGATION_WORDS,
    NEUTRAL_INDICATORS,
    NEUTRAL_PATTERNS,
    SURROGATE_NEGATIVE,
    SURROGATE_POSITIVE,
    THRESHOLDS_BINARY,
)

TOKEN_RE = re.compile(r"[a-z0-9']+")

# --- text normalization ------------------------------------------------------
# Character replacement table for PDF/ASCII compatibility; semantics from
# /root/reference/utils/text_processing.py:14-46 (sanitize_text).
_CHAR_MAP = {
    "\u201C": '"',
    "\u201D": '"',
    "\u2018": "'",
    "\u2019": "'",
    "\u2013": "-",   # en dash
    "\u2014": "-",   # em dash
    "\u2026": "...", # ellipsis
    "\u2022": "*",   # bullet
    "\u00A0": " ",   # non-breaking space
    "\u00AD": "-",   # soft hyphen
    "\u2212": "-",   # minus sign
    "\u200B": "",    # zero-width space
    "\uFEFF": "",    # zero-width no-break space
}


def sanitize_text(text) -> str:
    """Byte-identical sanitize chain — utils/text_processing.py:7-55."""
    if not isinstance(text, str):
        return str(text)
    for old, new in _CHAR_MAP.items():
        text = text.replace(old, new)
    text = unicodedata.normalize("NFKD", text)
    text = text.encode("ascii", "ignore").decode("ascii")
    text = re.sub(r"[^\x20-\x7E]", "", text)
    return " ".join(text.split())


_HTML_TAG = re.compile(rb"<[^>]*>")


def extract_text(payload: bytes) -> str:
    """Tag-strip + utf-8 ignore-decode + sanitize chain: the clean-room
    twin of functions/udfs.extract_text_udf, used only to precompute
    planted-fixture EXPECTED literals (the byte-identical extracted-text
    invariant of the north-star input_hint)."""
    raw = _HTML_TAG.sub(b" ", bytes(payload))
    return sanitize_text(raw.decode("utf-8", errors="ignore"))


def norm_text(text: str) -> str:
    """lower + trim + whitespace collapse — similarity.py:80-82."""
    return re.sub(r"\s+", " ", text.lower().strip())


def tokenize(text: str) -> list[str]:
    return TOKEN_RE.findall(text.lower())


def split_sentences(text: str) -> list[str]:
    return [s.strip() for s in re.split(r"[.!?]+", text) if s.strip()]


def truncate_words(text: str, max_length: int = 100, ellipsis: str = "...") -> str:
    """Word-boundary truncation — utils/text_processing.py:75-95."""
    if len(text) <= max_length:
        return text
    cut = text[:max_length]
    last_space = cut.rfind(" ")
    if last_space > 0:
        cut = cut[:last_space]
    return cut + ellipsis


# --- readability -------------------------------------------------------------
def count_syllables(word: str) -> int:
    """Vowel-group syllable counter — utils/text_processing.py:128-149,
    over engine-canonical tokens (already lowercase, no punctuation)."""
    groups = len(re.findall(r"[aeiouy]+", word))
    if word.endswith("e"):
        groups -= 1
    if word.endswith("le") and len(word) > 2 and word[-3] not in "aeiouy":
        groups += 1
    return max(groups, 1)


def flesch_reading_ease(text) -> float:
    """Custom Flesch formula — utils/text_processing.py:151-161, clamped
    [0,100], 0.0 for degenerate input; engine tokenizer."""
    if not text or not isinstance(text, str):
        return 0.0
    words = tokenize(text)
    sents = split_sentences(text)
    if not words or not sents:
        return 0.0
    syll = sum(count_syllables(w) for w in words)
    score = 206.835 - 1.015 * (len(words) / len(sents)) - 84.6 * (syll / len(words))
    return max(0.0, min(100.0, score))


# --- similarity --------------------------------------------------------------
def similarity_ngram_set(text: str, n: int = 3) -> set[str]:
    """Word + char-ngram + word-ngram set — similarity.py:84-100."""
    words = norm_text(text).split()
    if words == [""]:
        words = []
    out: set[str] = set()
    for w in words:
        out.add(w)
        for i in range(len(w) - n + 1):
            out.add(w[i : i + n])
    for i in range(len(words) - n + 1):
        out.add(" ".join(words[i : i + n]))
    return out


def ngram_jaccard(text1: str, text2: str, n: int = 3) -> float:
    """Jaccard over the similarity n-gram sets — similarity.py:102-110."""
    s1, s2 = similarity_ngram_set(text1, n), similarity_ngram_set(text2, n)
    if not s1 or not s2:
        return 0.0
    union = len(s1 | s2)
    return len(s1 & s2) / union if union > 0 else 0.0


def similarity_tier(score: float) -> str | None:
    """Disjoint descending tier buckets — similarity.py:194-199."""
    if score >= 0.9:
        return "critical"
    if score >= 0.8:
        return "high"
    if score >= 0.7:
        return "moderate"
    return None


# --- distribution drift ------------------------------------------------------
def kl_divergence(real: dict[str, float], synth: dict[str, float]) -> float:
    """D_KL(real || synth) with category alignment and normalization —
    analyzers/statistics.py:34-70 (scipy.entropy(p, qk=q), natural log).
    Either side summing to 0 -> 0.0."""
    cats = sorted(set(real) | set(synth))
    p = [real.get(c, 0.0) for c in cats]
    q = [synth.get(c, 0.0) for c in cats]
    ps, qs = sum(p), sum(q)
    if ps == 0 or qs == 0:
        return 0.0
    p = [x / ps for x in p]
    q = [x / qs for x in q]
    out = 0.0
    for pi, qi in zip(p, q):
        if pi > 0:
            out += pi * math.log(pi / qi) if qi > 0 else math.inf
    return out


def psi(real: dict[str, float], synth: dict[str, float], eps: float = 1e-6) -> float:
    """Population Stability Index (engine addition): symmetric-ish drift
    sum((p-q)*ln(p/q)) with epsilon floor on both sides."""
    cats = sorted(set(real) | set(synth))
    p = [real.get(c, 0.0) for c in cats]
    q = [synth.get(c, 0.0) for c in cats]
    ps, qs = sum(p), sum(q)
    if ps == 0 or qs == 0:
        return 0.0
    out = 0.0
    for pi, qi in zip(p, q):
        a = max(pi / ps, eps)
        b = max(qi / qs, eps)
        out += (a - b) * math.log(a / b)
    return out


# --- quality / lang-id -------------------------------------------------------
def stopword_ratio(text: str) -> float:
    tok = tokenize(text)
    if not tok:
        return 0.0
    return sum(1 for t in tok if t in STOPWORDS) / len(tok)


def punct_ratio(text: str) -> float:
    if not text:
        return 0.0
    n = len(re.findall(r"[.,;:!?'\"()\[\]-]", text))
    return n / len(text)


def mean_word_length(text: str) -> float:
    tok = tokenize(text)
    if not tok:
        return 0.0
    return sum(len(t) for t in tok) / len(tok)


def quality_score(text) -> float:
    """Mirror of functions/quality.py:quality_score."""
    if not text or not isinstance(text, str):
        return 0.0
    tok = tokenize(text)
    if not tok:
        return 0.0
    n = len(tok)
    length_ok = 1.0 if 5 <= n <= 5000 else 0.0
    mwl = mean_word_length(text)
    wordlen_ok = 1.0 if 3.0 <= mwl <= 12.0 else 0.0
    punct_pen = 1.0 - min(punct_ratio(text) * 5.0, 1.0)
    stop_pres = min(stopword_ratio(text) * 4.0, 1.0)
    return 0.35 * length_ok + 0.25 * wordlen_ok + 0.20 * punct_pen + 0.20 * stop_pres


def predict_lang(text: str) -> str:
    tok = tokenize(text)
    hits = {
        lg: sum(1 for t in tok if t in LANG_MARKERS[lg]) for lg in LANG_PRIORITY
    }
    best = max(hits.values()) if hits else 0
    if best == 0:
        return "und"
    for lg in LANG_PRIORITY:
        if hits[lg] == best:
            return lg
    return "und"


# --- sentiment validation (surrogate-model chain) ----------------------------
def validate_sentiment(text: str, labeled: str, domain: str | None) -> dict:
    """Mirror of functions/sentiment_rules.attach_validation —
    the reference chain sentiment.py:399-513 with the deterministic
    surrogate scorer. Returns predicted/confidence/is_mismatch."""
    text_lower = text.lower()
    tok = tokenize(text)

    # context (sentiment.py:224-249): substring contrast, unfiltered split
    has_contrast = any(m in text_lower for m in CONTRAST_MARKERS)
    n_words = len(tok)
    multi_sentence = len(re.split(r"[.!?]+", text)) > 1

    # surrogate model
    pos = sum(1 for t in tok if t in SURROGATE_POSITIVE)
    neg = sum(1 for t in tok if t in SURROGATE_NEGATIVE)
    if pos > neg:
        predicted, confidence = "positive", min(0.98, 0.62 + 0.09 * abs(pos - neg))
    elif neg > pos:
        predicted, confidence = "negative", min(0.98, 0.62 + 0.09 * abs(pos - neg))
    else:
        predicted, confidence = "neutral", max(0.50, min(0.88, 0.88 - 0.04 * (pos + neg)))

    # domain merge (sentiment.py:368-397)
    dsent = None
    if domain in DOMAIN_INDICATORS:
        sets = DOMAIN_INDICATORS[domain]
        p = sum(1 for k in sets["positive"] if k in text_lower)
        ng = sum(1 for k in sets["negative"] if k in text_lower)
        nu = sum(1 for k in sets["neutral_markers"] if k in text_lower)
        if nu > 0 and (p + ng) <= nu:
            dsent = "neutral"
        elif p > ng:
            dsent = "positive"
        elif ng > p:
            dsent = "negative"
    if dsent is not None and dsent != predicted and confidence < 0.80:
        predicted, confidence = dsent, confidence * 0.85

    # neutral override (sentiment.py:466-477) + adjustment (333-366)
    has_ind = any(i in text_lower for i in NEUTRAL_INDICATORS)
    has_pat = any(re.search(p, text_lower) for p in NEUTRAL_PATTERNS)
    if has_ind or has_pat:
        adj = confidence
        if has_contrast:
            adj *= 0.9
        if multi_sentence and n_words > 20:
            adj *= 0.95
        ncount = sum(1 for i in NEUTRAL_INDICATORS if i in text_lower)
        if ncount > 1:
            adj = min(adj * 1.1, 1.0)
        predicted, confidence = "neutral", adj

    # mismatch (sentiment.py:480-493)
    if labeled == "neutral":
        is_mismatch = confidence > THRESHOLDS_BINARY["neutral"] and predicted != "neutral"
    else:
        thr = THRESHOLDS_BINARY.get(predicted, THRESHOLDS_BINARY["default"])
        is_mismatch = predicted != labeled and confidence >= thr

    return {
        "predicted": predicted,
        "confidence": confidence,
        "is_mismatch": is_mismatch,
        "has_neutral_indicators": has_ind,
        "has_neutral_patterns": has_pat,
        "domain_sentiment": dsent,
        "has_negation": any(t in NEGATION_WORDS for t in tok),
    }


# --- linguistics (F26/F27) ----------------------------------------------------
def sentences_with_punct(text: str) -> list[str]:
    out = [s.strip() for s in re.findall(r"[^.!?]+[.!?]*", text)]
    return [s for s in out if re.search(r"\S", s)]


def sentence_flow(text: str) -> float:
    """F27 adjacency flow — linguistics.py:189-215 over engine-canonical
    punctuation-preserving sentences."""
    sents = sentences_with_punct(text)
    if len(sents) <= 1:
        return 1.0
    scores = []
    for i in range(1, len(sents)):
        ok = bool(re.search(r"[.!?]$", sents[i - 1])) and bool(re.match(r"[A-Z]", sents[i]))
        scores.append(1.0 if ok else 0.5)
    return sum(scores) / len(scores)


def topic_coherence(weights: list[float]) -> float:
    """F26 — review_analysis.py:473-483."""
    if len(weights) < 2:
        return 0.0
    return sum(a * b for a, b in zip(weights[:-1], weights[1:])) / (len(weights) - 1)
