"""Text-analysis expression builders (tokenize, quality features,
language markers) — all built-in functions, codegen-friendly.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# BPE-ish tokenizer regex: letter runs, digit runs, or single non-space
# symbols. Kept to a dialect subset that matches RE2/PCRE identically.
TOKEN_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"

# Tiny per-language marker lexicons for the n-gram/stopword language-ID
# heuristic. Deterministic and SQL-expressible (list_intersect oracle).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "value", "row", "fast"),
    "de": ("der", "die", "das", "und", "nicht", "ein", "zu", "mit"),
    "es": ("el", "la", "los", "una", "que", "por", "como", "para"),
    "fr": ("le", "les", "des", "une", "est", "pas", "pour", "dans"),
    "zh": ("de5", "shi4", "le5", "zai4", "he2", "you3", "wo3", "ta1"),
}

STOPWORDS = ("the", "a", "an", "of", "and", "to", "in", "is", "on", "for")


def ws_tokens(text: Column) -> Column:
    """Whitespace tokenization; collapses runs, drops empties."""
    return F.filter(F.split(F.trim(text), r"\s+"), lambda t: t != "")


def regex_tokens(text: Column) -> Column:
    """BPE-ish regex tokenization via regexp_extract_all."""
    return F.regexp_extract_all(text, F.lit(TOKEN_PATTERN), 0)


def stopword_ratio(text: Column) -> Column:
    toks = ws_tokens(F.lower(text))
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    return n_stop.cast("double") / F.nullif(F.size(toks).cast("double"), F.lit(0.0))


def marker_hits(text: Column, markers: tuple[str, ...]) -> Column:
    """Number of distinct marker words present in the text."""
    toks = F.array_distinct(ws_tokens(F.lower(text)))
    return F.size(F.filter(toks, lambda t: t.isin(*markers)))
