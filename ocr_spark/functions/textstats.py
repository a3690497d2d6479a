"""Text-analysis column expressions for training-data pipelines.

All pure Catalyst expressions (JVM-side, codegen) — language ID, quality
scoring, token counting, document fingerprinting. Each has an exact ANSI-SQL
twin used as the DuckDB oracle in __spark_entry__.py (note: DuckDB's
regexp_replace needs the 'g' flag to match Spark's replace-all default).

These extend the reference's text pipeline (ordered line split + regex
extraction, reference src/ocr/cli.js:21-27) with the analysis ops a
100 TB corpus pipeline needs for filtering/curation.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# language-ID stopword regexes (tiny n-gram-free heuristic; deterministic)
LANG_PATTERNS = {
    "en": r"\b(the|a|and|of|to|for|at|is|in)\b",
    "de": r"\b(der|die|das|und|ist|nicht|ein)\b",
    "fr": r"\b(le|la|les|et|est|une|des)\b",
}
PUNCT_PATTERN = r"[^A-Za-z0-9\s]"
WS_SPLIT = r"\s+"


def token_count(text: Column | str) -> Column:
    """Whitespace token count (0 for empty/blank)."""
    t = F.trim(text)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, WS_SPLIT))
    )


def char_count(text: Column | str) -> Column:
    return F.length(text)


def punct_count(text: Column | str) -> Column:
    # every match is a single char, so count = chars removed; this avoids
    # materializing one array element per punctuation char (regexp_extract_all
    # was ~50x slower on long documents — same value, see DuckDB oracle)
    return F.length(text) - F.length(F.regexp_replace(text, PUNCT_PATTERN, ""))


def stopword_count(text: Column | str) -> Column:
    """English stopword count."""
    return F.size(
        F.regexp_extract_all(F.lower(text), F.lit(LANG_PATTERNS["en"]), 0)
    )


def quality_score(text: Column | str) -> Column:
    """Deterministic [0,1] quality heuristic.

    0.4 * stopword ratio (capped at 0.25 -> full marks)
    + 0.3 * (1 - punctuation ratio)
    + 0.3 * length factor (tokens/100, capped at 1)
    """
    toks = token_count(text).cast("double")
    chars = F.greatest(char_count(text).cast("double"), F.lit(1.0))
    stop_ratio = stopword_count(text).cast("double") / F.greatest(toks, F.lit(1.0))
    punct_ratio = punct_count(text).cast("double") / chars
    return F.round(
        F.least(stop_ratio / 0.25, F.lit(1.0)) * 0.4
        + (1.0 - punct_ratio) * 0.3
        + F.least(toks / 100.0, F.lit(1.0)) * 0.3,
        4,
    )


def lang_id(text: Column | str) -> Column:
    """Stopword-count argmax over {en, de, fr}; 'und' (undetermined) if no
    stopword of any language matches. Tie-break order en > de > fr."""
    low = F.lower(text)
    n = {
        lang: F.size(F.regexp_extract_all(low, F.lit(pat), 0))
        for lang, pat in LANG_PATTERNS.items()
    }
    return (
        F.when((n["en"] == 0) & (n["de"] == 0) & (n["fr"] == 0), F.lit("und"))
        .when((n["en"] >= n["de"]) & (n["en"] >= n["fr"]), F.lit("en"))
        .when(n["de"] >= n["fr"], F.lit("de"))
        .otherwise(F.lit("fr"))
    )


def fingerprint(text: Column | str) -> Column:
    """Whitespace-normalized lowercase md5 — stable doc fingerprint for
    exact dedup (mirrors the reference's md5 content keys,
    reference src/database/jsonDb.py:21-27)."""
    return F.md5(F.regexp_replace(F.lower(F.trim(text)), WS_SPLIT, " "))


# --------------------------------------------------------------------------
# PII redaction (curation: scrub before a corpus ships to training)
# --------------------------------------------------------------------------

# Ordered: widest/most-specific first so a 16-digit card is never half-
# eaten by a phone pattern. Every pattern stays inside the common
# Java-regex/RE2 subset (char classes, \d, \b, bounded repeats — no
# lookaround), so the DuckDB oracle runs them VERBATIM.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
     "<EMAIL>"),
    ("card", r"\b\d{4}[ -]\d{4}[ -]\d{4}[ -]\d{4}\b", "<CARD>"),
    ("phone_intl", r"\b\d{2}-\d{3}-\d{3}-\d{4}\b", "<PHONE>"),
    ("phone_us", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
]


def pii_scrub(text: Column | str) -> Column:
    """Redact emails / card numbers / phone numbers with typed tokens.

    A chain of JVM-side regexp_replace calls (whole-stage codegen, no
    Python); patterns applied in PII_PATTERNS order. The reference has
    no PII surface — this is part of the training-data curation
    vocabulary the 100 TB pipeline needs before a corpus ships.
    """
    col = F.col(text) if isinstance(text, str) else text
    for _, pat, token in PII_PATTERNS:
        col = F.regexp_replace(col, pat, token)
    return col


def pii_counts(text: Column | str) -> dict[str, Column]:
    """{kind: match count} for each PII pattern, pre-redaction."""
    return {
        name: F.size(F.regexp_extract_all(
            F.col(text) if isinstance(text, str) else text,
            F.lit(pat), 0))
        for name, pat, _ in PII_PATTERNS
    }
