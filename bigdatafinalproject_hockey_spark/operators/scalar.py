"""Scalar transforms: projections, casts, filters, defaults.

Covers SURVEY.md §2.2 — the reference's cleaning layer
(reference code/experiment.py:286-316, 328-356, 476-494, 544-552,
628-633). All Catalyst expressions; no UDFs.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DataType


def rename_cols(df: DataFrame, mapping: Mapping[str, str]) -> DataFrame:
    """Rename columns (incl. names with spaces, e.g. 'Game Id' → GameID;
    reference code/experiment.py:286-288)."""
    return df.withColumnsRenamed(dict(mapping))


def cast_types(df: DataFrame, casts: Mapping[str, str | DataType]) -> DataFrame:
    """Cast columns to target types, e.g. {'Season': 'int', 'GameID': 'long'}
    (reference code/experiment.py:290-297, 328-338). Invalid values → NULL
    (``try_cast``, whatever the session's ANSI setting), matching the
    reference's `\\N`-sentinel behavior."""
    return df.withColumns({c: F.col(c).try_cast(t) for c, t in casts.items()})


def parse_date(df: DataFrame, col: str, pattern: str = "M/d/yyyy", out: str | None = None) -> DataFrame:
    """String → date with single-digit month/day pattern
    (reference code/experiment.py:298)."""
    return df.withColumn(out or col, F.to_date(F.col(col), pattern))


def filter_range(df: DataFrame, lower_bounds: Mapping[str, object]) -> DataFrame:
    """Conjunctive >= filters (reference code/experiment.py:301-302, 341-342).
    Written post-scan; Catalyst pushes them into the source."""
    pred = None
    for c, v in lower_bounds.items():
        p = F.col(c) >= F.lit(v)
        pred = p if pred is None else (pred & p)
    return df.filter(pred) if pred is not None else df


def filter_eq(df: DataFrame, col: str, value: object) -> DataFrame:
    """Equality filter (reference code/experiment.py:502-503, 566-567)."""
    return df.filter(F.col(col) == F.lit(value))


def filter_notnull(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Drop rows with NULL in any of the key columns
    (reference code/experiment.py:401-402)."""
    pred = None
    for c in cols:
        p = F.col(c).isNotNull()
        pred = p if pred is None else (pred & p)
    return df.filter(pred) if pred is not None else df


def drop_nulls_any(df: DataFrame, subset: Sequence[str] | None = None) -> DataFrame:
    """Drop rows with any NULL (reference code/experiment.py:555)."""
    return df.dropna(how="any", subset=list(subset) if subset else None)


def filter_compound(df: DataFrame, *preds: Column) -> DataFrame:
    """Conjunction of arbitrary predicates (reference confusion-matrix
    cells, code/experiment.py:645-656)."""
    pred = None
    for p in preds:
        pred = p if pred is None else (pred & p)
    return df.filter(pred) if pred is not None else df


def project_alias(df: DataFrame, projections: Mapping[str, Column | str]) -> DataFrame:
    """Wide select with per-column aliases — the reference's join-output
    re-projection pattern (code/experiment.py:381-397, 511-541)."""
    cols = []
    for alias, expr in projections.items():
        col = F.col(expr) if isinstance(expr, str) else expr
        cols.append(col.alias(alias))
    return df.select(*cols)


def derive_arith(df: DataFrame, derived: Mapping[str, Column]) -> DataFrame:
    """Derived arithmetic columns (the reference's 5 differential
    features, code/experiment.py:544-552)."""
    return df.withColumns(dict(derived))


def case_when(
    df: DataFrame, out: str, cond: Column, then: object, otherwise: object
) -> DataFrame:
    """Binary CASE (label binarization, reference code/experiment.py:628-633)."""
    return df.withColumn(out, F.when(cond, F.lit(then)).otherwise(F.lit(otherwise)))


def fill_default(df: DataFrame, defaults: Mapping[str, object]) -> DataFrame:
    """Per-column NULL defaults via coalesce — applied AFTER window
    features so empty-frame NULLs get league-average defaults
    (reference code/experiment.py:476-494). Order matters: coalescing
    before the window would leak the default into history."""
    return df.withColumns(
        {c: F.coalesce(F.col(c), F.lit(v)) for c, v in defaults.items()}
    )
