"""Text-analysis column expressions for the LLM-data-pipeline operators.

All pure Column expressions (JVM-side, codegen'd) — no Python UDFs in the
hot path. Tokenization is whitespace-based to stay oracle-parity with
DuckDB's string_split; a BPE-ish regex token count is also provided.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny multilingual stopword marker sets for the n-gram/stopword language
# heuristic. Deliberately simple and deterministic — the same lists are
# embedded in the oracle SQL so both engines compute the identical score.
STOPWORDS_EN = ("the", "a", "of", "and", "to")


def tokens(text: Column) -> Column:
    """Whitespace tokens, empties removed (split on runs of whitespace)."""
    return F.filter(F.split(text, r"\s+"), lambda t: t != F.lit(""))


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def stopword_ratio(text: Column, stopwords: tuple[str, ...] = STOPWORDS_EN) -> Column:
    """Fraction of whitespace tokens that are in the stopword list."""
    toks = tokens(F.lower(text))
    n_stop = F.size(F.filter(toks, lambda t: t.isin(list(stopwords))))
    return n_stop.cast("double") / F.greatest(F.size(toks), F.lit(1)).cast("double")


def punct_ratio(text: Column) -> Column:
    """Fraction of characters that are not [a-z0-9 ] (lower-cased)."""
    stripped = F.regexp_replace(F.lower(text), r"[a-z0-9 ]", "")
    return F.length(stripped).cast("double") / F.greatest(
        F.length(text), F.lit(1)
    ).cast("double")


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 of the whitespace-normalized, lower-cased
    text. Stable across engines (md5 is md5 everywhere)."""
    normalized = F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")
    return F.md5(normalized)


def shingles(text: Column, n: int = 3) -> Column:
    """Word n-gram shingle array (with duplicates removed) of the
    lower-cased text — the unit set for MinHash / Jaccard dedup.

    NOTE: as a single inline expression the tokenizer re-evaluates per
    n-gram (interpreted HOF, no CSE) — for DataFrame-level shingling use
    operators/dedup.py::shingle_rows, which materializes the token array
    first (~8× faster at sf0.1)."""
    toks = tokens(F.lower(text))
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    grams = F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n))
    )
    return F.array_distinct(grams)
