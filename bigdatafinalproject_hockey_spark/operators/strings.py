"""String normalization operators (SURVEY.md §2.3).

The reference normalizes raw team names before map lookup:
whitespace-collapse + trim, and an uppercase/strip-charset fallback
(reference code/experiment.py:305-316, 344-356).

Each rule is SQL expression text (``*_sql``) for
``selectExpr``/``where``/``F.expr``, which Catalyst plans as it plans
the same Column calls; an expression string costs the JVM one py4j
command, a Column call several. ``quote_ident`` and ``sql_literal``
put names and values into that text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# A run of whitespace, collapsed to one space by normalize_ws_sql.
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


def normalize_ws_sql(expr: str) -> str:
    """trim + collapse internal whitespace to single spaces, over the
    SQL expression ``expr`` (reference code/experiment.py:305-307)."""
    return f"trim(regexp_replace({expr}, {sql_literal(WS_RUN)}, ' '))"


def strip_charset_sql(expr: str, keep: str = "A-Z") -> str:
    """Uppercase then strip everything outside ``keep``, over the SQL
    expression ``expr`` — the reference's fallback team-code rule
    (code/experiment.py:311-316)."""
    return f"regexp_replace(upper({expr}), {sql_literal(f'[^{keep}]')}, '')"


def str_normalize_ws(df: DataFrame, col: str, out: str | None = None) -> DataFrame:
    return df.withColumn(out or col, F.expr(normalize_ws_sql(quote_ident(col))))


def str_strip_charset(df: DataFrame, col: str, out: str | None = None) -> DataFrame:
    return df.withColumn(out or col, F.expr(strip_charset_sql(quote_ident(col))))
