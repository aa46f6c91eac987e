"""String normalization operators (SURVEY.md §2.3).

The reference normalizes raw team names before map lookup:
whitespace-collapse + trim, and an uppercase/strip-charset fallback
(reference code/experiment.py:305-316, 344-356).

Each rule comes as a Column and as SQL expression text (``*_sql``)
for ``selectExpr``/``where``/``F.expr``: an expression string costs the
JVM one py4j command, a Column call several. ``quote_ident`` and
``sql_literal`` put names and values into that text.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# A run of whitespace, collapsed to one space by normalize_ws_*.
WS_RUN = r"\s+"


def quote_ident(name: str) -> str:
    """``name`` as a backquoted SQL identifier; a backtick in it is
    doubled, so spaces, dots and backticks stay part of the name."""
    return "`" + name.replace("`", "``") + "`"


def sql_literal(value: object) -> str:
    """SQL text for a Python value, typed as ``F.lit`` types it: None,
    int, float (a DOUBLE, never a DECIMAL) and str, whose ``\\`` and
    ``'`` are escaped as Spark's parser reads them by default."""
    if value is None:
        return "NULL"
    if isinstance(value, float):
        return f"{value!r}D"
    if isinstance(value, int):
        return str(value)
    if isinstance(value, str):
        return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"
    raise TypeError(f"no SQL literal for {type(value).__name__}: {value!r}")


def normalize_ws_expr(col: Column | str) -> Column:
    """trim + collapse internal whitespace to single spaces
    (reference code/experiment.py:305-307)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(c, WS_RUN, " "))


def normalize_ws_sql(expr: str) -> str:
    """``normalize_ws_expr`` over the SQL expression ``expr``."""
    return f"trim(regexp_replace({expr}, {sql_literal(WS_RUN)}, ' '))"


def strip_charset_expr(col: Column | str, keep: str = "A-Z") -> Column:
    """Uppercase then strip everything outside ``keep`` — the
    reference's fallback team-code rule (code/experiment.py:311-316)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.upper(c), f"[^{keep}]", "")


def strip_charset_sql(expr: str, keep: str = "A-Z") -> str:
    """``strip_charset_expr`` over the SQL expression ``expr``."""
    return f"regexp_replace(upper({expr}), {sql_literal(f'[^{keep}]')}, '')"


def str_normalize_ws(df: DataFrame, col: str, out: str | None = None) -> DataFrame:
    return df.withColumn(out or col, normalize_ws_expr(col))


def str_strip_charset(df: DataFrame, col: str, out: str | None = None) -> DataFrame:
    return df.withColumn(out or col, strip_charset_expr(col))
