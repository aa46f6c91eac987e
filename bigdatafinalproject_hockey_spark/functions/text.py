"""Text-analysis expressions for the documents table.

Training-data-pipeline text ops: tokenization, token counting,
quality scoring, language-ID heuristics, fingerprinting. All built-in
Catalyst expressions (split/regexp/size/aggregate) — JVM-side,
codegen'd, no Python in the row path, so they stream through 100 TB
of text at scan speed.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny built-in stopword lists for the language-ID heuristic. Real
# pipelines would load per-language lists; the mechanism (token-set
# intersection ratio, argmax over languages) is the same.
STOPWORDS = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "value"),
    "fr": ("le", "la", "de", "et", "un", "une", "est"),
    "de": ("der", "die", "das", "und", "ein", "ist"),
    "es": ("el", "la", "de", "y", "un", "una", "es"),
}


def tokens_expr(col: Column | str) -> Column:
    """Lowercase + regex-split + drop empty tokens.

    Empty-string filtering matters: leading/trailing separators yield
    empty tokens in both Spark and DuckDB; filtering keeps the two
    tokenizations identical. Spark lowers U+0130 (İ) to ``i`` + U+0307,
    so "İstanbul" splits into ``["i", "stanbul"]``; DuckDB's ``lower``
    gives ``i`` alone, and :func:`tokens_sql` rewrites U+0130 first to
    match.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.lower(c), "[^a-z0-9]+"), lambda x: x != F.lit(""))


def tokens_sql(c: str) -> str:
    """DuckDB fragment computing the same token list as
    :func:`tokens_expr` over SQL expression ``c``."""
    return (
        f"list_filter(string_split_regex(lower(replace({c}, chr(304), "
        "'i' || chr(775))), '[^a-z0-9]+'), x -> x <> '')"
    )


def token_count_expr(col: Column | str) -> Column:
    return F.size(tokens_expr(col))


def bigrams_expr(toks: Column) -> Column:
    """Adjacent token bigrams ("w_i w_i+1") of a token array — the
    ONE Spark definition matching queries/curation.py's
    ``_SQL_BIGRAMS`` oracle form (round-11 dedup: the bigram-LM and
    Gopher-rule ops previously each built this with a different
    idiom). Arrays of < 2 tokens yield an empty array."""
    n = F.size(toks)
    return F.when(
        n >= 2,
        F.zip_with(
            F.slice(toks, 1, n - 1),
            F.slice(toks, 2, n - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))


def distinct_tokens_expr(col: Column | str) -> Column:
    return F.array_distinct(tokens_expr(col))


def stopword_hits_expr(col: Column | str, stopwords: Sequence[str]) -> Column:
    """Count of tokens that are stopwords (not distinct — frequency counts)."""
    toks = tokens_expr(col)
    return F.size(F.filter(toks, lambda x: x.isin(*[str(s) for s in stopwords])))


def stopword_ratio_expr(col: Column | str, stopwords: Sequence[str]) -> Column:
    n = token_count_expr(col)
    return F.when(n > 0, stopword_hits_expr(col, stopwords) / n).otherwise(F.lit(0.0))


def avg_token_len_expr(col: Column | str) -> Column:
    toks = tokens_expr(col)
    total = F.aggregate(toks, F.lit(0), lambda acc, x: acc + F.length(x))
    return F.when(F.size(toks) > 0, total.cast("double") / F.size(toks)).otherwise(
        F.lit(0.0)
    )


def digit_ratio_expr(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    n_digit = F.length(c) - F.length(F.regexp_replace(c, r"[0-9]", ""))
    return F.when(F.length(c) > 0, n_digit.cast("double") / F.length(c)).otherwise(
        F.lit(0.0)
    )


def md5_fingerprint_expr(col: Column | str) -> Column:
    """Whole-document fingerprint of the whitespace-normalized text —
    the exact-dedup key. MD5 is available verbatim in both Spark and
    ANSI-ish oracles, so the fingerprint itself is checkable."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(F.trim(F.regexp_replace(c, r"\s+", " ")))


def rolling_hash_expr(col: Column | str, base: int = 31, mod: int = 1_000_000_007) -> Column:
    """Polynomial rolling hash over characters (Rabin-Karp style) —
    the classic document-fingerprint primitive, computed JVM-side with
    a higher-order aggregate over the char array. Deterministic but
    engine-specific reduce; checked rows-only."""
    c = F.col(col) if isinstance(col, str) else col
    chars = F.split(c, "")
    return F.aggregate(
        F.filter(chars, lambda x: x != F.lit("")),
        F.lit(0).cast("long"),
        lambda acc, x: (acc * base + F.ascii(x)) % mod,
    )


# GPT-2-style pretokenizer, ASCII-restricted so the Java (Spark) and
# RE2 (DuckDB) regex dialects agree: a token is an optionally
# space-prefixed letter run, digit run, or punctuation run. The real
# BPE merge table then splits WITHIN these pretokens, so this count is
# the standard fast upper-anchor for "how many tokens will the
# tokenizer emit".
BPE_PRETOKEN_PATTERN = r" ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+"


def bpe_pretoken_count_expr(col: Column | str) -> Column:
    """Count of BPE-style pretokens (JVM-side regexp_extract_all)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(BPE_PRETOKEN_PATTERN), 0))
