"""Column-level string helpers mirroring the reference's scalar
transforms (SURVEY.md §2.4), all built on JVM-side
``pyspark.sql.functions`` — no Python UDFs, so they stay inside
whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Truthy set of the reference's parse_bool (`Notion_openai_vector_etl.py:52-55`).
TRUTHY = ("1", "true", "yes", "y", "on")


def url_strip_query(url: Column) -> Column:
    """Drop the query string: everything before the first '?'."""
    return F.split(url, r"\?", 2).getItem(0)


def url_basename(url: Column) -> Column:
    """Display-name derivation (`:63-69`): strip query string, rstrip
    '/', take the last path segment, percent-decode; empty -> NULL.

    The decode mirrors the reference's ``urllib.parse.unquote``, NOT
    x-www-form-urlencoded: '+' stays literal (protected through the
    form decoder as %2B) and a malformed '%' never aborts the query
    (``try_url_decode`` -> NULL -> fall back to the raw segment).
    One disclosed divergence: unquote decodes the VALID escapes of a
    string that also contains bad ones; the all-JVM fallback returns
    such a segment fully undecoded instead (partial decode would need
    a Python UDF in what is otherwise whole-stage codegen).
    """
    path = F.regexp_replace(url_strip_query(url), "/+$", "")
    base = F.element_at(F.split(path, "/"), -1)
    protected = F.regexp_replace(base, r"\+", "%2B")
    decoded = F.coalesce(F.try_url_decode(protected), base)
    return F.nullif(decoded, F.lit(""))


def safe_filename(name: Column, fallback: str = "file") -> Column:
    """Basename of a trimmed name with a constant fallback (`:152-154`)."""
    base = F.element_at(F.split(F.trim(name), "/"), -1)
    return F.coalesce(F.nullif(base, F.lit("")), F.lit(fallback))


def normalize_uuid(raw: Column) -> Column:
    """Strip hyphens; if exactly 32 hex chars, re-hyphenate 8-4-4-4-12,
    else NULL (the reference raises, `:72-76`; NULL is the relational
    error channel)."""
    bare = F.lower(F.regexp_replace(raw, "-", ""))
    ok = bare.rlike("^[0-9a-f]{32}$")
    return F.when(
        ok,
        F.concat_ws(
            "-",
            F.substring(bare, 1, 8),
            F.substring(bare, 9, 4),
            F.substring(bare, 13, 4),
            F.substring(bare, 17, 4),
            F.substring(bare, 21, 12),
        ),
    )


def extract_id_from_url(url: Column) -> Column:
    """First 32-hex-char run in the de-hyphenated url (`:79-84`)."""
    bare = F.regexp_replace(url, "-", "")
    hit = F.regexp_extract(bare, "([0-9a-fA-F]{32})", 1)
    return F.nullif(hit, F.lit(""))


def parse_bool(raw: Column) -> Column:
    """Truthy-set membership on the lowered, trimmed value (`:52-55`)."""
    return F.lower(F.trim(raw)).isin(*TRUTHY)


def parse_int(raw: Column, default: int) -> Column:
    """try_cast with default — the reference's int_env (`:639-646`)."""
    return F.coalesce(F.trim(raw).try_cast("bigint"), F.lit(default).cast("bigint"))
