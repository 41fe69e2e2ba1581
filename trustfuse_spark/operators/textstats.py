"""Text-analysis operators for training-data pipelines.

All pure Spark expressions (JVM-side, codegen'd): language ID (stopword
n-gram heuristic), quality scoring, BPE-ish regex token counting.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# tiny per-language stopword marker sets (heuristic, not a model)
_LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "a", "is"],
    "de": ["der", "die", "und", "das", "ist", "ein"],
    "fr": ["le", "la", "et", "les", "des", "est"],
    "es": ["el", "la", "los", "que", "es", "una"],
}

# BPE-ish token pattern: word pieces, numbers, or single non-space symbols
_TOKEN_RE = r"[A-Za-z]+|\d+|[^\sA-Za-z\d]"


def tokens_ws(text: Column) -> Column:
    """Whitespace token array."""
    return F.filter(F.split(text, r"\s+"), lambda t: t != "")


def token_count_bpe(text: Column) -> Column:
    """BPE-ish token count via regexp extraction (approximates subword
    tokenizer counts without a vocab)."""
    return F.size(F.regexp_extract_all(text, F.lit(_TOKEN_RE), 0))


def lang_id(text: Column) -> Column:
    """Heuristic language ID: argmax stopword-marker hit count, 'und'
    (undetermined) when nothing matches."""
    toks = F.transform(tokens_ws(F.lower(text)), lambda t: t)
    scores = []
    for lang, markers in _LANG_MARKERS.items():
        score = F.size(F.array_intersect(toks, F.array(*[F.lit(m) for m in markers])))
        hits = F.size(F.filter(toks, lambda t: t.isin(markers)))
        scores.append(F.struct(hits.alias("hits"), F.lit(lang).alias("lang")))
    best = F.array_max(F.array(*scores))
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword / repetition features + a composite
    quality score in [0, 1]."""
    text = F.col(text_col)
    toks = tokens_ws(text)
    n_chars = F.length(text)
    n_tokens = F.size(toks)
    n_punct = F.size(F.regexp_extract_all(text, F.lit(r"[^\w\s]"), 0))
    all_markers = sorted({m for v in _LANG_MARKERS.values() for m in v})
    n_stop = F.size(
        F.filter(F.transform(toks, lambda t: F.lower(t)), lambda t: t.isin(all_markers))
    )
    n_distinct = F.size(F.array_distinct(toks))
    out = df.withColumn("n_chars", n_chars).withColumn("n_tokens", n_tokens)
    out = (
        out.withColumn("punct_ratio", F.when(n_chars > 0, n_punct / n_chars).otherwise(0.0))
        .withColumn("stopword_ratio", F.when(n_tokens > 0, n_stop / n_tokens).otherwise(0.0))
        .withColumn(
            "repetition_ratio",
            F.when(n_tokens > 0, 1.0 - n_distinct / n_tokens).otherwise(0.0),
        )
        .withColumn(
            "mean_token_len",
            F.when(
                n_tokens > 0,
                F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t)) / n_tokens,
            ).otherwise(0.0),
        )
    )
    # composite: reward stopwords + moderate length, punish punctuation noise
    # and repetition (weights are heuristic, monotone, documented)
    score = (
        F.least(F.col("n_tokens") / 64.0, F.lit(1.0)) * 0.3
        + F.least(F.col("stopword_ratio") * 4.0, F.lit(1.0)) * 0.3
        + (1.0 - F.least(F.col("punct_ratio") * 5.0, F.lit(1.0))) * 0.2
        + (1.0 - F.col("repetition_ratio")) * 0.2
    )
    return out.withColumn("quality_score", F.round(score, 6))
