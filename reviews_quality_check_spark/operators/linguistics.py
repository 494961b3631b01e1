"""Linguistic-quality heuristics (reference analyzers/linguistics.py).

- sentence_flow (F27, linguistics.py:189-215): adjacency heuristic —
  pair scores 1.0 when the previous sentence ends with terminal
  punctuation AND the next starts capitalized, else 0.5; mean over
  pairs; 1.0 for <= 1 sentence. Pure Column expressions. The engine's
  sentence segmentation keeps trailing punctuation (the reference used
  nltk sent_tokenize, which preserves it; a plain [.!?]+ split would
  make 'ends with punctuation' vacuously false).
- combined quality (analyze_quality shape, linguistics.py:217+):
  readability (custom Flesch) + flow, weighted.
- grammar checks (F28, linguistics.py:293-327) need a POS tagger
  (TextBlob/spaCy) not present in this container: stubbed behind an
  import-try with the Arrow-batch plumbing in place.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from reviews_quality_check_spark.functions.readability import flesch_reading_ease_fast

# sentence incl. its trailing terminator run (engine-canonical
# segmentation for flow scoring)
_P_SENT_WITH_PUNCT = r"[^.!?]+[.!?]*"


def sentences_with_punct(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    raw = F.regexp_extract_all(c, F.lit(_P_SENT_WITH_PUNCT), 0)
    trimmed = F.transform(raw, lambda s: F.trim(s))
    return F.filter(trimmed, lambda s: s.rlike(r"\S"))


def sentence_flow(col: Column | str) -> Column:
    """F27 flow score in [0.5, 1.0]; 1.0 for <= 1 sentence."""
    sents = sentences_with_punct(col)
    n = F.size(sents)
    pair_scores = F.transform(
        F.sequence(F.lit(2), F.greatest(n, F.lit(2))),
        lambda i: F.when(
            F.element_at(sents, i - 1).rlike(r"[.!?]$")
            & F.element_at(sents, i).rlike(r"^[A-Z]"),
            F.lit(1.0),
        ).otherwise(F.lit(0.5)),
    )
    mean_pairs = F.aggregate(pair_scores, F.lit(0.0), lambda a, x: a + x) / (
        F.greatest(n, F.lit(2)) - 1
    ).cast("double")
    return F.when(n <= 1, F.lit(1.0)).otherwise(mean_pairs)


def linguistic_quality(col: Column | str) -> Column:
    """Combined linguistic quality in [0,1]: mean of readability
    (flesch/100), flow, and grammar score — the analyze_quality
    mean-of-scores shape (linguistics.py:319-327). The reference also
    averages spaCy structure/vocabulary scores; those need a dependency
    parser not present here and are documented out (SURVEY §2.8)."""
    c = F.col(col) if isinstance(col, str) else col
    words = F.size(F.regexp_extract_all(c, F.lit(r"\S+"), 0))
    grammar = F.when(words <= 0, F.lit(1.0)).otherwise(
        F.greatest(
            F.lit(0.0),
            F.least(
                F.lit(1.0),
                F.lit(1.0) - grammar_issue_count(c).cast("double") / words.cast("double"),
            ),
        )
    )
    return (
        (flesch_reading_ease_fast(col) / 100.0) + sentence_flow(col) + grammar
    ) / F.lit(3.0)


# ---------------------------------------------------------------------------
# F28 grammar checks via a deterministic mini POS tagger
# (reference linguistics.py:293-327: TextBlob tags driving three rules —
#  NN+VBP, NNS+VBZ subject-verb agreement, 'a'-before-vowel article use).
# The tagger is a suffix/lexicon heuristic sufficient for those three
# adjacency rules — NOT a general tagger — and is pure Column
# expressions, so the whole check is JVM-side and SQL-mirrorable.
# ---------------------------------------------------------------------------

# closed-class words that are neither nouns nor present-tense verbs for
# the purposes of the three rules
GRAMMAR_DT = ("a", "an", "the")
GRAMMAR_CLOSED = (
    "i", "you", "he", "she", "it", "we", "they", "me", "him", "us", "them",
    "my", "your", "his", "her", "its", "our", "their", "this", "that",
    "these", "those", "there", "here", "what", "which", "who", "whom",
    "whose", "when", "where", "why", "how", "in", "on", "at", "by", "for",
    "with", "from", "of", "to", "as", "into", "over", "under", "about",
    "after", "before", "between", "and", "or", "but", "if", "then", "than",
    "so", "because", "while", "is", "are", "was", "were", "be", "been",
    "being", "am", "has", "have", "had", "do", "does", "did", "will",
    "would", "can", "could", "should", "may", "might", "must", "not", "no",
    "yes", "very", "really", "quite", "too", "also", "just", "only",
    "more", "most", "less", "least", "never", "always", "often", "well",
)
# small common-verb lexicon: base form tags VBP, base+s/es tags VBZ
GRAMMAR_VERB_STEMS = (
    "work", "run", "make", "take", "go", "get", "seem", "look", "feel",
    "perform", "last", "come", "give", "use", "find", "tell", "ask",
    "try", "call", "need", "want", "mean", "keep", "let", "begin",
    "help", "talk", "turn", "start", "show", "hear", "play", "move",
    "like", "live", "believe", "hold", "bring", "happen", "write",
    "provide", "sit", "stand", "lose", "pay", "meet", "include",
    "continue", "set", "learn", "change", "lead", "understand", "watch",
    "follow", "stop", "create", "speak", "read", "allow", "add", "spend",
    "grow", "open", "walk", "win", "offer", "remember", "love",
    "consider", "appear", "buy", "wait", "serve", "send", "expect",
    "build", "stay", "fall", "cut", "reach", "remain", "suggest",
    "raise", "pass", "sell", "require", "report", "decide", "pull",
    "break", "fail", "crash", "charge",
)

_P_WORD = r"[a-z]+"


def _mini_tag(w: Column) -> Column:
    """Tag one lowercase word: DT | OTHER | VBP | VBZ | NNS | NN.
    isin() compiles to InSet (hash lookup) under codegen — measured far
    faster than array_contains over ~100-word literal arrays."""
    stem_s = F.substring(w, F.lit(1), F.length(w) - 1)   # runs -> run
    stem_es = F.substring(w, F.lit(1), F.length(w) - 2)  # goes -> go
    return (
        F.when(w.isin(*GRAMMAR_DT), F.lit("DT"))
        .when(w.isin(*GRAMMAR_CLOSED), F.lit("OTHER"))
        .when(w.isin(*GRAMMAR_VERB_STEMS), F.lit("VBP"))
        .when(
            w.endswith("s")
            & (stem_s.isin(*GRAMMAR_VERB_STEMS) | stem_es.isin(*GRAMMAR_VERB_STEMS)),
            F.lit("VBZ"),
        )
        .when(w.endswith("ss"), F.lit("NN"))
        .when(w.endswith("s"), F.lit("NNS"))
        .otherwise(F.lit("NN"))
    )


def grammar_issue_count(col: Column | str) -> Column:
    """Total issue count over the text: per sentence, adjacent-pair
    subject-verb agreement (NN+VBP / NNS+VBZ) plus 'a'-before-vowel —
    the reference's three TextBlob rules (linguistics.py:304-326)."""
    sents = sentences_with_punct(col)

    def sent_issues(s: Column) -> Column:
        toks = F.regexp_extract_all(F.lower(s), F.lit(_P_WORD), 0)
        n = F.size(toks)
        pair_flags = F.transform(
            F.sequence(F.lit(1), F.greatest(n - 1, F.lit(1))),
            lambda i: (
                (
                    ((_mini_tag(F.element_at(toks, i)) == "NN")
                     & (_mini_tag(F.element_at(toks, i + 1)) == "VBP"))
                    | ((_mini_tag(F.element_at(toks, i)) == "NNS")
                       & (_mini_tag(F.element_at(toks, i + 1)) == "VBZ"))
                ).cast("int")
                + (
                    (F.element_at(toks, i) == "a")
                    & F.element_at(toks, i + 1).rlike("^[aeiou]")
                ).cast("int")
            ),
        )
        total = F.aggregate(pair_flags, F.lit(0), lambda a, x: a + x)
        return F.when(n < 2, F.lit(0)).otherwise(total)

    per_sent = F.transform(sents, sent_issues)
    return F.aggregate(per_sent, F.lit(0), lambda a, x: a + x)


def grammar_checks(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """F28 grammar checks: (doc_id, grammar_issues, grammar_score) with
    score = clamp(1 - issues / whitespace_word_count, 0, 1)
    (linguistics.py:321-323); 1.0 for blank text (the analyze_quality
    early-return default).

    Plan shape: explode-then-aggregate. Nesting the tagger inside
    per-sentence HOF lambdas runs interpreted per PAIR (measured 166 s at
    sf0.1); exploding the adjacent-pair structs first lets the tagger run
    as whole-stage-codegen projections with InSet lookups (<2 s), then a
    narrow (doc_id, int) shuffle sums the flags. Linear, no window."""
    base = df.select(
        F.col(id_col).alias("doc_id"),
        # coalesce: size(regexp_extract_all(NULL)) is NULL, and a null
        # word count must yield the documented blank-text default (1.0)
        F.coalesce(
            F.size(F.regexp_extract_all(F.col(text_col), F.lit(r"\S+"), 0)),
            F.lit(0),
        ).alias("words"),
        sentences_with_punct(text_col).alias("sents"),
    )
    # adjacent-token pair structs per sentence, flattened across sentences
    def sent_pairs(s: Column) -> Column:
        toks = F.regexp_extract_all(F.lower(s), F.lit(_P_WORD), 0)
        n1 = F.greatest(F.size(toks) - 1, F.lit(0))
        return F.zip_with(
            F.slice(toks, 1, n1), F.slice(toks, 2, n1),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        )

    pairs = base.select(
        "doc_id",
        "words",
        F.explode_outer(F.flatten(F.transform("sents", sent_pairs))).alias("p"),
    )
    t1, t2 = _mini_tag(F.col("p.w1")), _mini_tag(F.col("p.w2"))
    agree = ((t1 == "NN") & (t2 == "VBP")) | ((t1 == "NNS") & (t2 == "VBZ"))
    article = (F.col("p.w1") == "a") & F.col("p.w2").rlike("^[aeiou]")
    flagged = pairs.select(
        "doc_id",
        "words",
        (
            F.coalesce(agree.cast("int"), F.lit(0))
            + F.coalesce(article.cast("int"), F.lit(0))
        ).alias("flag"),
    )
    agg = flagged.groupBy("doc_id", "words").agg(
        F.sum("flag").cast("int").alias("grammar_issues")
    )
    score = F.when(F.col("words") <= 0, F.lit(1.0)).otherwise(
        F.greatest(
            F.lit(0.0),
            F.least(
                F.lit(1.0),
                F.lit(1.0)
                - F.col("grammar_issues").cast("double") / F.col("words").cast("double"),
            ),
        )
    )
    return agg.select("doc_id", "grammar_issues", score.alias("grammar_score"))
