"""Text-analysis operators: language ID, quality scoring, token counts,
document fingerprinting — all pure Column expressions with exact DuckDB
SQL twins (no UDFs at all)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import word_shingles

# Tiny deterministic stopword lists (heuristic language ID only).
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "zu"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "des", "dans", "pour"],
}


def tokens(text: Column) -> Column:
    return F.split(text, " ")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def _hits(text: Column, words: list[str]) -> Column:
    """Count of tokens present in the word list (duplicates count)."""
    lst = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(tokens(text), lambda t: F.array_contains(lst, t)))


def lang_scores(df: DataFrame) -> DataFrame:
    """Per-language stopword-hit counts of ``text`` + argmax prediction.

    Ties break alphabetically (deterministic, matches the SQL oracle's
    greatest-struct comparison order).
    """
    out = df
    for lang, words in sorted(STOPWORDS.items()):
        out = out.withColumn(f"hits_{lang}", _hits(F.col("text"), words))
    # argmax via greatest over (hits, reversed-lang) structs
    structs = [
        F.struct(F.col(f"hits_{lang}").alias("h"),
                 F.lit(-i).alias("ord"),
                 F.lit(lang).alias("lang"))
        for i, lang in enumerate(sorted(STOPWORDS))
    ]
    return out.withColumn("pred_lang", F.greatest(*structs).getField("lang"))


def quality_features(df: DataFrame) -> DataFrame:
    """Length / token / stopword / alpha features of ``text`` + a quality
    score.

    score = stopword_ratio * 0.5 + clamp(n_tokens/100, 0, 1) * 0.3
          + alpha_ratio * 0.2  (rounded to 6 dp for oracle stability).
    """
    t = F.col("text")
    n_chars = F.length(t)
    n_tokens = token_count(t)
    n_stop = _hits(t, STOPWORDS["en"])
    alpha_chars = F.length(F.regexp_replace(t, "[^a-zA-Z]", ""))
    stop_ratio = n_stop.cast("double") / n_tokens
    alpha_ratio = alpha_chars.cast("double") / n_chars
    score = (
        stop_ratio * 0.5
        + F.least(n_tokens.cast("double") / 100.0, F.lit(1.0)) * 0.3
        + alpha_ratio * 0.2
    )
    return df.select(
        "*",
        n_chars.alias("q_n_chars"),
        n_tokens.alias("q_n_tokens"),
        n_stop.alias("q_n_stopwords"),
        alpha_chars.alias("q_alpha_chars"),
        F.round(score, 6).alias("q_score"),
    )


def fingerprint(df: DataFrame, shingle_n: int = 5) -> DataFrame:
    """Winnowing-style fingerprint of documents(doc_id, text): min md5
    over word 5-gram shingles + distinct shingle count.  (doc_id, fp,
    n_shingles)."""
    sh = word_shingles(F.col("text"), shingle_n)
    hashed = F.transform(sh, F.md5)
    return df.select(
        F.col("doc_id"),
        F.array_min(hashed).alias("fp"),
        F.size(F.array_distinct(sh)).alias("n_shingles"),
    )
