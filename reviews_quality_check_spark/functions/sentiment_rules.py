"""Sentiment-mismatch validation rule layer as Column expressions.

Re-expresses the reference's validate_sentiment chain
(/root/reference/analyzers/sentiment.py:399-513) — domain-indicator
check, context analysis, domain/model merge, neutral override,
confidence adjustment, and the asymmetric mismatch rule — as pure
DataFrame expressions. The HF transformer scorer (sentiment.py:445-449)
is pluggable; the default is a deterministic keyword surrogate so
results are reproducible with no model weights (the full threshold /
override logic downstream is exact).

Reproduced reference quirks (SURVEY.md §4.1):
  - #3 SUBSTRING (not token) matching for domain/neutral/contrast
    indicators ("fairly" matches indicator "fair") —
    sentiment.py:188-199, 466, 241-246.
  - #4 unconditional neutral override on any neutral indicator/pattern
    hit — sentiment.py:474-477.
  - #5 asymmetric mismatch rule for labeled-neutral rows (strict > vs
    >=, different threshold source) — sentiment.py:480-493.
  - multiple-sentence flag counts EMPTY split fragments
    (len(re.split('[.!?]+', text)) > 1, so "Good." is multi-sentence) —
    sentiment.py:248.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from reviews_quality_check_spark.functions.arrays import lit_array_str
from reviews_quality_check_spark.functions.text import SENTENCE_SPLIT_RE, tokens

# --- constants ported from the reference (data, not code) --------------------
# sentiment.py:52-56
CONTRAST_MARKERS: tuple[str, ...] = ("but", "however", "although", "though", "while", "yet")

# sentiment.py:57-70 (base set + nuanced update, merged)
NEUTRAL_INDICATORS: tuple[str, ...] = (
    "adequate", "adequately", "average", "basic", "decent", "fair", "moderate",
    "normal", "ordinary", "reasonable", "standard", "typical", "usual",
    "performs adequately", "works fine", "meets expectations", "as expected",
    "suitable for", "acceptable", "sufficient", "satisfactory",
    "mixed feelings", "balanced", "middle ground", "somewhat",
    "relatively", "fairly", "neither", "nor", "compared to",
    "while", "although", "however", "on one hand", "on the other hand",
    "pros and cons", "trade-off", "trade off", "compromise",
    "limited compared", "basic but", "simple but", "decent but",
    "good enough", "not great but", "not bad but",
)

# sentiment.py:73
NEGATION_WORDS: tuple[str, ...] = ("not", "no", "never", "none", "cannot", "n't", "hardly", "rarely")

# sentiment.py:76-82
NEUTRAL_PATTERNS: tuple[str, ...] = (
    r"(compared|relative|versus|vs).*(newer|other|previous|similar)",
    r"(while|although|however).*but",
    r"(somewhat|fairly|relatively|quite|rather)\s\w+",
    r"(neutral|mixed|balanced|middle ground|average|moderate)",
    r"(pros.*cons|advantages.*disadvantages|benefits.*drawbacks)",
)

# configs/models.py:34-60 ('technology'); configs/models.py:61-90 ('software')
DOMAIN_INDICATORS: dict[str, dict[str, tuple[str, ...]]] = {
    "technology": {
        "positive": (
            "innovative", "efficient", "powerful", "impressive", "reliable",
            "cutting-edge", "scalable", "disruptive", "well-designed",
            "user-centric", "robust", "secure", "sleek", "lightweight",
            "groundbreaking", "revolutionary", "high-performance",
        ),
        "negative": (
            "slow", "buggy", "expensive", "disappointing", "unreliable",
            "outdated", "clunky", "inefficient", "overhyped", "vulnerable",
            "data privacy concerns", "fragile", "resource-heavy", "obsolete",
        ),
        "neutral_markers": (
            "average", "standard", "typical", "expected", "common",
            "generic", "industry-standard", "normal", "ordinary",
        ),
    },
    "software": {
        "positive": (
            "user-friendly", "intuitive", "fast", "robust", "feature-rich",
            "versatile", "stable", "secure", "efficient", "scalable",
            "lightweight", "modern", "responsive", "well-documented",
            "high-quality", "streamlined", "flexible",
        ),
        "negative": (
            "crashes", "unresponsive", "complicated", "glitchy", "slow",
            "insecure", "outdated", "buggy", "limited", "inefficient",
        ),
        "neutral_markers": (
            "average", "standard", "typical", "expected", "common",
        ),
    },
}

# sentiment.py:99-106 — binary-model thresholds (engine default model type)
THRESHOLDS_BINARY: dict[str, float] = {
    "neutral": 0.85,
    "positive": 0.90,
    "negative": 0.90,
    "default": 0.95,
}

# Surrogate-scorer keyword polarity lists (engine-defined, deterministic).
SURROGATE_POSITIVE: tuple[str, ...] = (
    "good", "great", "excellent", "amazing", "love", "best", "fantastic",
    "wonderful", "perfect", "happy",
)
SURROGATE_NEGATIVE: tuple[str, ...] = (
    "bad", "terrible", "awful", "worst", "hate", "poor", "horrible",
    "disappointing", "broken", "useless",
)


# --- building blocks ---------------------------------------------------------
def _substr_hits(text_lower: Column, phrases: tuple[str, ...]) -> Column:
    """Count of phrases contained (substring match) in the text —
    reference sentiment.py:188-199 semantics ('fairly' matches 'fair').

    Array-literal + filter instead of N chained predicates: one loop in
    codegen instead of N branches (the phrase lists are 10-45 long and
    this chain appears ~8× per validation plan)."""
    arr = lit_array_str(phrases)
    return F.size(F.filter(arr, lambda p: F.contains(text_lower, p)))


def _substr_any(text_lower: Column, phrases: tuple[str, ...]) -> Column:
    arr = lit_array_str(phrases)
    return F.exists(arr, lambda p: F.contains(text_lower, p))


def _token_hits(tok: Column, words: tuple[str, ...]) -> Column:
    arr = lit_array_str(words)
    return F.size(F.filter(tok, lambda t: F.array_contains(arr, t)))


def neutral_pattern_hit(text_lower: Column) -> Column:
    """Any of the 5 neutral regex patterns matches — sentiment.py:442-454."""
    cond = text_lower.rlike(NEUTRAL_PATTERNS[0])
    for p in NEUTRAL_PATTERNS[1:]:
        cond = cond | text_lower.rlike(p)
    return cond


def surrogate_score(text_lower: Column, tok: Column) -> tuple[Column, Column]:
    """Deterministic keyword surrogate for the HF model (sentiment.py:445-449).

    predicted = sign(pos_hits - neg_hits) mapped to a label;
    confidence = min(0.98, 0.62 + 0.09*|pos-neg|) for polar predictions,
    and clamp(0.88 - 0.04*(pos+neg), 0.50, 0.88) for neutral.
    """
    pos = _token_hits(tok, SURROGATE_POSITIVE)
    neg = _token_hits(tok, SURROGATE_NEGATIVE)
    predicted = (
        F.when(pos > neg, F.lit("positive"))
        .when(neg > pos, F.lit("negative"))
        .otherwise(F.lit("neutral"))
    )
    polar_conf = F.least(F.lit(0.98), F.lit(0.62) + F.lit(0.09) * F.abs(pos - neg).cast("double"))
    neutral_conf = F.greatest(
        F.lit(0.50), F.least(F.lit(0.88), F.lit(0.88) - F.lit(0.04) * (pos + neg).cast("double"))
    )
    confidence = F.when(predicted == "neutral", neutral_conf).otherwise(polar_conf)
    return predicted, confidence


def domain_sentiment(text_lower: Column, domain_col: Column) -> Column:
    """Domain-driven sentiment (or null) — sentiment.py:159-220.

    neutral if neu>0 and pos+neg <= neu; else positive if pos>neg;
    else negative if neg>pos; else null.
    """
    out = F.lit(None).cast("string")
    for dom, sets in DOMAIN_INDICATORS.items():
        pos = _substr_hits(text_lower, sets["positive"])
        neg = _substr_hits(text_lower, sets["negative"])
        neu = _substr_hits(text_lower, sets["neutral_markers"])
        dom_sent = (
            F.when((neu > 0) & ((pos + neg) <= neu), F.lit("neutral"))
            .when(pos > neg, F.lit("positive"))
            .when(neg > pos, F.lit("negative"))
            .otherwise(F.lit(None).cast("string"))
        )
        out = F.when(domain_col == dom, dom_sent).otherwise(out)
    return out


def threshold_for(sentiment: Column) -> Column:
    """Threshold lookup with 'default' fallback — sentiment.py:330-331."""
    expr = F.lit(THRESHOLDS_BINARY["default"])
    for k in ("neutral", "positive", "negative"):
        expr = F.when(sentiment == k, F.lit(THRESHOLDS_BINARY[k])).otherwise(expr)
    return expr


def attach_validation(
    df: DataFrame,
    text_col: str = "text",
    label_col: str = "labeled",
    domain_col: str = "domain",
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Attach the 6 validation columns via STAGED projections.

    The full validate_sentiment chain (sentiment.py:399-513), with every
    intermediate (token hits, domain sentiment, pred/conf at each chain
    step) a real projected attribute before the next step references
    it. A single-projection form duplicates the whole upstream chain inside
    each output column (is_mismatch alone embeds predicted 3x and
    confidence 2x), and because classic pyspark ANALYZES eagerly on
    every Dataset construction, that multiplicative tree cost ~1 s of
    JVM analyzer time per query (r6 measured; execution was negligible).
    Staging keeps the tree linear; CollapseProject leaves the boundaries
    alone because each staged alias is multiply-referenced and
    non-cheap. ``keep`` retains named internal columns (e.g. "__pos")
    for callers that derive extra model variants from the same hits.
    """
    text = F.col(text_col)
    tl, tok = F.col("__tl"), F.col("__tok")
    s0 = df.withColumns({"__tl": F.lower(text), "__tok": tokens(text)})
    s1 = s0.withColumns(
        {
            "__pos": _token_hits(tok, SURROGATE_POSITIVE),
            "__neg": _token_hits(tok, SURROGATE_NEGATIVE),
            "__has_contrast": _substr_any(tl, CONTRAST_MARKERS),
            "__nw": F.size(tok),
            "__multi": F.size(F.split(text, SENTENCE_SPLIT_RE)) > 1,
            "__dsent": domain_sentiment(tl, F.col(domain_col)),
            "__ncount": _substr_hits(tl, NEUTRAL_INDICATORS),
            "__has_ind": _substr_any(tl, NEUTRAL_INDICATORS),
            "__has_pat": neutral_pattern_hit(tl),
        }
    )
    pos, neg = F.col("__pos"), F.col("__neg")
    pred0 = (
        F.when(pos > neg, F.lit("positive"))
        .when(neg > pos, F.lit("negative"))
        .otherwise(F.lit("neutral"))
    )
    polar_conf = F.least(F.lit(0.98), F.lit(0.62) + F.lit(0.09) * F.abs(pos - neg).cast("double"))
    neutral_conf = F.greatest(
        F.lit(0.50), F.least(F.lit(0.88), F.lit(0.88) - F.lit(0.04) * (pos + neg).cast("double"))
    )
    s2 = s1.withColumns({"__pred0": pred0})
    s2 = s2.withColumns(
        {
            "__conf0": F.when(F.col("__pred0") == "neutral", neutral_conf).otherwise(
                polar_conf
            )
        }
    )
    dsent, p0, c0 = F.col("__dsent"), F.col("__pred0"), F.col("__conf0")
    take_domain = dsent.isNotNull() & (dsent != p0) & (c0 < 0.80)
    s3 = s2.withColumns(
        {
            "__pred1": F.when(take_domain, dsent).otherwise(p0),
            "__conf1": F.when(take_domain, c0 * 0.85).otherwise(c0),
        }
    )
    adj = F.col("__conf1")
    adj = F.when(F.col("__has_contrast"), adj * 0.9).otherwise(adj)
    adj = F.when(F.col("__multi") & (F.col("__nw") > 20), adj * 0.95).otherwise(adj)
    adj = F.when(
        F.col("__ncount") > 1, F.least(adj * 1.1, F.lit(1.0))
    ).otherwise(adj)
    override = F.col("__has_ind") | F.col("__has_pat")
    s4 = s3.withColumns(
        {
            "predicted": F.when(override, F.lit("neutral")).otherwise(F.col("__pred1")),
            "confidence": F.when(override, adj).otherwise(F.col("__conf1")),
            "has_neutral_indicators": F.col("__has_ind"),
            "has_neutral_patterns": F.col("__has_pat"),
            "domain_sentiment": F.col("__dsent"),
        }
    )
    labeled = F.col(label_col)
    thr_neutral = F.lit(THRESHOLDS_BINARY["neutral"])
    mismatch_neutral_label = (F.col("confidence") > thr_neutral) & (
        F.col("predicted") != "neutral"
    )
    mismatch_other = (F.col("predicted") != labeled) & (
        F.col("confidence") >= threshold_for(F.col("predicted"))
    )
    s5 = s4.withColumn(
        "is_mismatch",
        F.when(labeled == "neutral", mismatch_neutral_label).otherwise(mismatch_other),
    )
    internals = [
        "__tl", "__tok", "__pos", "__neg", "__has_contrast", "__nw", "__multi",
        "__dsent", "__ncount", "__has_ind", "__has_pat", "__pred0", "__conf0",
        "__pred1", "__conf1",
    ]
    return s5.drop(*[c for c in internals if c not in keep])


def validate_sentiments(df: DataFrame, text_col: str = "text",
                        label_col: str = "sentiment", domain_col: str = "domain") -> DataFrame:
    """Attach the validation columns to a reviews-shaped DataFrame
    (staged projections — see attach_validation)."""
    return attach_validation(df, text_col, label_col, domain_col)
