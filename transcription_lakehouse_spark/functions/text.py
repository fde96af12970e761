"""Portable text expressions (scalar-function family, SURVEY §2.7).

Every expression here is pure Spark SQL (JVM-side, codegen-friendly) and has
an exact DuckDB-SQL twin so results hash-match the oracle. Tokenization is
the reference's convention: lowercase, trim, split on whitespace runs
(`/root/reference/src/lakehouse/quality/metrics/text_quality.py:225-228`,
`integrity.py:460-476`).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column

__all__ = [
    "normalize_text",
    "tokens",
    "token_count",
    "punct_ratio",
    "content_tokens",
    "STOPWORDS",
]

# Compact stopword list (reference uses a 100+-word set,
# `text_quality.py:22-36`); kept small + sorted so the DuckDB oracle can
# inline the identical literal list.
STOPWORDS = (
    "a", "an", "and", "are", "as", "at", "be", "by", "for", "from", "in",
    "is", "it", "of", "on", "or", "that", "the", "this", "to", "was", "with",
)


def normalize_text(col: Column | str) -> Column:
    """lower + trim + collapse whitespace — the reference's dedup
    normalization (`integrity.py:460-476`)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.trim(F.lower(c)), r"\s+", " ")


def tokens(col: Column | str) -> Column:
    """array<string> of non-empty whitespace-delimited lowercase tokens."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(
        F.split(F.trim(F.lower(c)), r"\s+"), lambda x: x != F.lit("")
    )


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def punct_ratio(col: Column | str) -> Column:
    """punctuation chars / non-space chars (`text_quality.py:280-391`)."""
    c = F.col(col) if isinstance(col, str) else col
    nonspace = F.length(F.regexp_replace(c, r"\s", ""))
    punct = F.length(c) - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    return F.when(nonspace > 0, punct / nonspace).otherwise(F.lit(0.0))


def content_tokens(col: Column | str) -> Column:
    """tokens minus stopwords (lexical-density numerator,
    `text_quality.py:159-277`)."""
    stop = F.array(*[F.lit(s) for s in STOPWORDS])
    return F.filter(tokens(col), lambda x: ~F.array_contains(stop, x))


# GPT-2-style pretokenizer shape (contractions / letter runs / digit runs /
# punctuation runs, each with optional leading space) restricted to syntax
# that Java regex (Spark) and RE2 (DuckDB) tokenize identically — no
# lookaheads, no unicode property classes. Counts from this are the cheap
# in-engine proxy for "how many BPE tokens will the trainer see".
BPE_PATTERN = r"'s|'t|'re|'ve|'m|'ll|'d| ?[A-Za-z]+| ?[0-9]+| ?[^ \tA-Za-z0-9]+"


def subword_tokens(col: Column | str) -> Column:
    """array<string> of BPE-ish pretokens (engine parity with DuckDB)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(c, F.lit(BPE_PATTERN), 0)


def subword_count(col: Column | str) -> Column:
    return F.size(subword_tokens(col))


def duckdb_subword_count_sql(col: str) -> str:
    """DuckDB twin of :func:`subword_count`."""
    pat = BPE_PATTERN.replace("'", "''")
    return f"len(regexp_extract_all({col}, '{pat}'))"


def duckdb_tokens_sql(col: str) -> str:
    """DuckDB twin of :func:`tokens` for oracle SQL composition."""
    return (
        f"list_filter(string_split_regex(trim(lower({col})), '\\s+'), x -> x <> '')"
    )


def duckdb_stopword_list() -> str:
    return "[" + ", ".join(f"'{s}'" for s in STOPWORDS) + "]"
