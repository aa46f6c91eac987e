"""Text-analysis expressions for the documents table.

Training-data-pipeline text ops: tokenization, token counting,
quality scoring, language-ID heuristics, fingerprinting. All built-in
Catalyst expressions (split/regexp/size/aggregate) — JVM-side,
codegen'd, no Python in the row path, so they stream through 100 TB
of text at scan speed.

The helpers take column names. The tokenizer and the fingerprint are
Spark SQL text (``token_list_sql``, ``md5_fingerprint_sql``) for
``selectExpr`` bodies; their ``*_expr`` forms are one ``F.expr`` over
that text, which costs the JVM a few py4j commands where the same
Column calls cost dozens.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

from bigdatafinalproject_hockey_spark.operators.strings import normalize_ws_sql, quote_ident

# Tiny built-in stopword lists for the language-ID heuristic. Real
# pipelines would load per-language lists; the mechanism (token-set
# intersection ratio, argmax over languages) is the same.
STOPWORDS = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "value"),
    "fr": ("le", "la", "de", "et", "un", "une", "est"),
    "de": ("der", "die", "das", "und", "ein", "ist"),
    "es": ("el", "la", "de", "y", "un", "una", "es"),
}


def token_list_sql(col: str) -> str:
    """Spark SQL text of column ``col``'s token list: lowercase,
    regex-split, empty tokens dropped. The one Spark tokenizer; the
    ``*_expr`` helpers below are built on it.

    Empty-string filtering matters: leading/trailing separators yield
    empty tokens in both Spark and DuckDB; filtering keeps the two
    tokenizations identical. Spark lowers U+0130 (İ) to ``i`` + U+0307,
    so "İstanbul" splits into ``["i", "stanbul"]``; DuckDB's ``lower``
    gives ``i`` alone, and :func:`tokens_sql` rewrites U+0130 first to
    match.
    """
    return f"filter(split(lower({quote_ident(col)}), '[^a-z0-9]+'), x -> x != '')"


def tokens_sql(c: str) -> str:
    """DuckDB fragment computing the same token list as
    :func:`token_list_sql` over SQL expression ``c``."""
    return (
        f"list_filter(string_split_regex(lower(replace({c}, chr(304), "
        "'i' || chr(775))), '[^a-z0-9]+'), x -> x <> '')"
    )


def tokens_expr(col: str) -> Column:
    return F.expr(token_list_sql(col))


def token_count_expr(col: str) -> Column:
    return F.expr(f"size({token_list_sql(col)})")


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


def distinct_tokens_expr(col: str) -> Column:
    return F.expr(f"array_distinct({token_list_sql(col)})")


def stopword_hits_expr(col: str, stopwords: Sequence[str]) -> Column:
    """Count of tokens that are stopwords (not distinct — frequency counts)."""
    toks = tokens_expr(col)
    return F.size(F.filter(toks, lambda x: x.isin(*[str(s) for s in stopwords])))


def stopword_ratio_expr(col: str, stopwords: Sequence[str]) -> Column:
    n = token_count_expr(col)
    return F.when(n > 0, stopword_hits_expr(col, stopwords) / n).otherwise(F.lit(0.0))


def avg_token_len_expr(col: str) -> Column:
    toks = tokens_expr(col)
    total = F.aggregate(toks, F.lit(0), lambda acc, x: acc + F.length(x))
    return F.when(F.size(toks) > 0, total.cast("double") / F.size(toks)).otherwise(
        F.lit(0.0)
    )


def digit_ratio_expr(col: str) -> Column:
    c = F.col(col)
    n_digit = F.length(c) - F.length(F.regexp_replace(c, r"[0-9]", ""))
    return F.when(F.length(c) > 0, n_digit.cast("double") / F.length(c)).otherwise(
        F.lit(0.0)
    )


def md5_fingerprint_sql(col: str) -> str:
    """Spark SQL text of the whole-document fingerprint of column
    ``col``'s whitespace-normalized text — the exact-dedup key. MD5 is
    available verbatim in both Spark and ANSI-ish oracles, so the
    fingerprint itself is checkable."""
    return f"md5({normalize_ws_sql(quote_ident(col))})"


def md5_fingerprint_expr(col: str) -> Column:
    return F.expr(md5_fingerprint_sql(col))


def rolling_hash_expr(col: str, base: int = 31, mod: int = 1_000_000_007) -> Column:
    """Polynomial rolling hash over characters (Rabin-Karp style) —
    the classic document-fingerprint primitive, computed JVM-side with
    a higher-order aggregate over the char array. Deterministic but
    engine-specific reduce; checked rows-only."""
    c = F.col(col)
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


def bpe_pretoken_count_expr(col: str) -> Column:
    """Count of BPE-style pretokens (JVM-side regexp_extract_all)."""
    c = F.col(col)
    return F.size(F.regexp_extract_all(c, F.lit(BPE_PRETOKEN_PATTERN), 0))
