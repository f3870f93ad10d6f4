"""Text-analysis operators over a document corpus (north-star extension).

All hot-path expressions are JVM-side built-ins (split / filter /
transform / md5) — no Python UDFs — so they vectorize inside
WholeStageCodegen and scale linearly with executors.  Each operator
has an exact ANSI-SQL equivalent used by the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny per-language stopword marker sets for the n-gram/stopword
# language-ID heuristic.  Deterministic and oracle-expressible.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "et", "les", "des"),
    "es": ("el", "la", "los", "y", "de"),
    "zh": ("de5", "shi4", "le5", "zai4", "he2"),
}

EN_STOPWORDS = ("the", "a", "an", "and", "of", "to", "in", "is", "it", "that")


def tokens(col: Column) -> Column:
    """Whitespace tokenization of trimmed text."""
    return F.split(F.trim(col), r"\s+")


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def stopword_hits_expr(text_col: str, words: tuple[str, ...]) -> Column:
    """How many tokens are in the given word list (JVM-side lambda filter)."""
    wordlist = ", ".join(f"'{w}'" for w in words)
    return F.expr(rf"size(filter(split(trim({text_col}), '\\s+'), x -> x in ({wordlist})))")


def language_id(df: DataFrame, text_col: str = "text", out_col: str = "predicted_lang") -> DataFrame:
    """n-gram/stopword-heuristic language ID.

    Scores each language by marker-token hits and takes the argmax
    (ties broken by language code order, deterministically).  At 100 TB
    this is a single projection — no shuffle, no UDF.
    """
    scored = df
    for lang, words in LANG_MARKERS.items():
        scored = scored.withColumn(f"__s_{lang}", stopword_hits_expr(text_col, words))
    # argmax with deterministic tie-break: compare (score, lang) structs.
    best = F.greatest(*[F.struct(F.col(f"__s_{l}").alias("s"), F.lit(l).alias("l")) for l in LANG_MARKERS])
    # greatest on structs picks lexicographically-largest (score, lang);
    # invert lang ordering is not needed — documented tie-break is "largest code wins".
    scored = scored.withColumn(out_col, best.getField("l"))
    return scored.drop(*[f"__s_{l}" for l in LANG_MARKERS])


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword-ratio quality features + score.

    Mirrors the classic LLM-corpus quality filters (C4/Gopher-style
    rules) with pure column expressions.
    """
    t = F.col(text_col)
    n_tok = token_count(t)
    n_chars = F.length(t)
    punct = F.length(F.regexp_replace(t, r"[^.,;:!?]", ""))
    stop = stopword_hits_expr(text_col, EN_STOPWORDS)
    # try_divide throughout: n_chars is 0 for empty text, and ANSI mode
    # (Spark 4 default) raises on 0/0 where DuckDB yields NULL —
    # try_divide matches the oracle's NULL exactly.
    df = (
        df.withColumn("n_tokens", n_tok)
        .withColumn("n_chars_m", n_chars)
        .withColumn("avg_token_len", F.round(F.try_divide(n_chars - n_tok + 1, n_tok), 4))
        .withColumn("punct_ratio", F.round(F.try_divide(punct, n_chars), 6))
        .withColumn("stopword_ratio", F.round(F.try_divide(stop, n_tok), 6))
    )
    score = (
        F.when(F.col("n_tokens") < 5, 0.0)
        .otherwise(
            F.least(F.lit(1.0), F.col("stopword_ratio") * 2 + F.lit(0.5))
            - F.least(F.lit(0.5), F.col("punct_ratio") * 5)
        )
    )
    return df.withColumn("quality_score", F.round(score, 6))


def fingerprint(df: DataFrame, text_col: str = "text", out_col: str = "fingerprint") -> DataFrame:
    """Document fingerprint: md5 of whitespace-normalized lowercase text.

    md5 is bit-identical across Spark and ANSI oracles, making exact
    dedup keys portable.  (A rolling/winnowing fingerprint for partial
    overlap lives in text_dedup.simhash.)
    """
    norm = F.lower(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " "))
    return df.withColumn(out_col, F.md5(norm))
