"""Text analysis for training-data pipelines: token counting, quality
scoring, language ID, fingerprinting (all engine-portable built-ins, no UDFs).

Patterns use only syntax shared by Java regex and RE2 so the DuckDB oracles
compute identical values.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text_dedup import fingerprint, normalize_text

# BPE-ish pre-tokenization: word runs or single non-space punctuation
TOKEN_RE = r"[A-Za-z0-9_]+|[^A-Za-z0-9_\s]"
WS_TOKEN_RE = r"\S+"

# language marker words (heuristic n-gram language ID); scored by match count
LANG_MARKERS: dict[str, str] = {
    "en": r"\b(the|and|of|to|in|is|that|for|with)\b",
    "de": r"\b(der|die|das|und|ist|nicht|ein|mit|zu)\b",
    "es": r"\b(el|la|los|las|que|es|una|por|para)\b",
    "fr": r"\b(le|les|des|est|une|dans|pour|sur|avec)\b",
}
CJK_RE = r"[一-鿿]"  # Spark/Java syntax; DuckDB side uses \x{...}


def _count_matches(col: Column, pattern: str) -> Column:
    return F.size(F.regexp_extract_all(col, F.lit(pattern), F.lit(0)))


def with_token_counts(docs: DataFrame) -> DataFrame:
    """Whitespace-token and regex-piece-token counts (JVM regex, no UDF).

    ``n_re_tokens`` is the cheap word+punct piece count (one regex pass); for
    counts from an actual merges-table tokenizer use
    ``tokenizer.with_bpe_token_counts`` (``n_bpe_tokens``)."""
    return docs.withColumn("n_ws_tokens", _count_matches(F.col("text"), WS_TOKEN_RE)).withColumn(
        "n_re_tokens", _count_matches(F.col("text"), TOKEN_RE)
    )


def with_quality_scores(docs: DataFrame) -> DataFrame:
    """Heuristic quality features: length, alpha/punct/space ratios, mean
    word length, stopword ratio — the standard pre-training quality block."""
    t = F.col("text")
    n = F.length(t).cast("double")
    n_alpha = _count_matches(t, r"[A-Za-z]").cast("double")
    n_punct = _count_matches(t, r"[^A-Za-z0-9\s]").cast("double")
    n_ws = _count_matches(t, WS_TOKEN_RE).cast("double")
    n_stop = _count_matches(F.lower(t), LANG_MARKERS["en"]).cast("double")
    safe_n = F.greatest(n, F.lit(1.0))
    return (
        docs.withColumn("n_chars", n.cast("long"))
        .withColumn("alpha_ratio", F.round(n_alpha / safe_n, 6))
        .withColumn("punct_ratio", F.round(n_punct / safe_n, 6))
        .withColumn("mean_word_len", F.round(n_alpha / F.greatest(n_ws, F.lit(1.0)), 6))
        .withColumn("stopword_ratio", F.round(n_stop / F.greatest(n_ws, F.lit(1.0)), 6))
    )


def with_lang_id(docs: DataFrame) -> DataFrame:
    """Marker-word language ID with deterministic tie-break order
    (zh → en → de → es → fr → unknown)."""
    lowered = F.lower(F.col("text"))
    scores = {lang: _count_matches(lowered, pat) for lang, pat in LANG_MARKERS.items()}
    scores["zh"] = _count_matches(F.col("text"), CJK_RE)
    out = docs
    for lang, s in scores.items():
        out = out.withColumn(f"score_{lang}", s)
    best = F.greatest(*[F.col(f"score_{lang}") for lang in scores])
    pred = (
        F.when(best == 0, F.lit("unknown"))
        .when(F.col("score_zh") == best, F.lit("zh"))
        .when(F.col("score_en") == best, F.lit("en"))
        .when(F.col("score_de") == best, F.lit("de"))
        .when(F.col("score_es") == best, F.lit("es"))
        .otherwise(F.lit("fr"))
    )
    return out.withColumn("lang_pred", pred)


def with_fingerprint(docs: DataFrame) -> DataFrame:
    """Content fingerprint: md5 of normalized text + normalized length."""
    return docs.withColumn("fp", fingerprint(F.col("text"))).withColumn(
        "norm_len", F.length(normalize_text(F.col("text"))).cast("long")
    )
