"""The reference's text-cleaning chain as pure column expressions.

Reference semantics (``main.R:96-103``, applied in this order to
``content`` and ``quoted_content`` via ``mutate_at``):

1. ``str_to_lower``                     -> ``F.lower``
2. remove URLs, pattern
   ``\\s?(f|ht)(tp)(s?)(://)([^\\.]*)[\\.|/](\\S*)``  (verbatim,
   including the quirky char class ``[\\.|/]`` matching ``.|/``)
3. remove mentions, pattern ``@\\w+``
4. remove Snowball Spanish stopwords (whole-word)
5. ``str_squish``: trim + collapse internal whitespace runs

Everything compiles to built-in ``regexp_replace``/``lower``/
``trim`` calls — no UDFs — so the whole chain is one codegen'd
projection over the scan: the shape that survives a 100x scale-up
(per-row CPU only, no shuffle, vectorized parquet input).

The same five steps exist as DuckDB SQL fragments
(:func:`sql_clean_chain`) so every oracle uses literally the same
patterns (SURVEY.md §4.3.3: no backrefs, no lookarounds).

Known dialect divergence (found by cross-engine fuzzing,
``tests/test_cross_engine_fuzz.py``): Java's ``\\b`` is
Unicode-aware while RE2's is ASCII-only, so stopword removal can
differ when a non-ASCII letter sits at a word-boundary edge
(e.g. ``¿qué?``: Spark removes ``qué``; RE2 sees no boundary after
``é``). The Spark side is the *reference-faithful* one (R's
tm/ICU treats accented letters as word characters); the DuckDB
oracle is only exercised on ASCII corpora, where the dialects are
proven identical.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .stopwords import STOPWORD_PATTERN

URL_PATTERN = r"\s?(f|ht)(tp)(s?)(://)([^\.]*)[\.|/](\S*)"
MENTION_PATTERN = r"@\w+"
SQUISH_PATTERN = r"\s+"


def lower(c: Column) -> Column:
    return F.lower(c)


def strip_urls(c: Column) -> Column:
    return F.regexp_replace(c, URL_PATTERN, "")


def strip_mentions(c: Column) -> Column:
    return F.regexp_replace(c, MENTION_PATTERN, "")


def strip_stopwords(c: Column) -> Column:
    return F.regexp_replace(c, STOPWORD_PATTERN, "")


def squish(c: Column) -> Column:
    return F.trim(F.regexp_replace(c, SQUISH_PATTERN, " "))


def clean_chain(c: Column) -> Column:
    """The full five-step chain, composed in reference order."""
    return squish(strip_stopwords(strip_mentions(strip_urls(lower(c)))))


def tokens() -> Column:
    """Whitespace tokens of ``text``: trim, then split on whitespace
    runs. The tokenizer the query modules and rollups share;
    :data:`SQL_TOKENS` is its DuckDB twin."""
    return F.split(F.trim(F.col("text")), r"\s+")


# ---------------------------------------------------------------------------
# DuckDB oracle fragments: f(expr_sql) -> sql string with same semantics.
# DuckDB regexp_replace needs the 'g' flag to match Spark's replace-all.
# ---------------------------------------------------------------------------

def _sql_quote(pattern: str) -> str:
    return "'" + pattern.replace("'", "''") + "'"


def sql_lower(e: str) -> str:
    return f"lower({e})"


def sql_strip_urls(e: str) -> str:
    return f"regexp_replace({e}, {_sql_quote(URL_PATTERN)}, '', 'g')"


def sql_strip_mentions(e: str) -> str:
    return f"regexp_replace({e}, {_sql_quote(MENTION_PATTERN)}, '', 'g')"


def sql_strip_stopwords(e: str) -> str:
    return f"regexp_replace({e}, {_sql_quote(STOPWORD_PATTERN)}, '', 'g')"


def sql_squish(e: str) -> str:
    return f"trim(regexp_replace({e}, '\\s+', ' ', 'g'))"


def sql_clean_chain(e: str) -> str:
    return sql_squish(sql_strip_stopwords(sql_strip_mentions(sql_strip_urls(sql_lower(e)))))


SQL_TOKENS = "string_split_regex(trim(text), '\\s+')"
