"""Dictionary-lookup operators (SURVEY.md §2.4).

The reference materializes an 83-entry team-name → code dict as a
literal ``create_map`` expression and indexes it per row, with a
regex fallback for unmapped names (reference code/experiment.py:58-246,
272-274, 308-316). Two engine forms:

- ``map_literal_lookup``: the same constant-folded MapType expression.
  Right choice for small dicts (the map is baked into the codegen'd
  expression — zero shuffle, zero broadcast).
- ``lookup_via_broadcast_join``: broadcast join against a dim
  DataFrame. Right choice when the dict is big enough that a literal
  expression would bloat the plan (thousands+ entries) — still no
  shuffle on the fact side at 100 TB.
"""

from __future__ import annotations

from collections.abc import Mapping
from itertools import chain

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bigdatafinalproject_hockey_spark.operators.strings import sql_literal


def literal_map_expr(mapping: Mapping[str, str]) -> Column:
    """Constant MapType expression from a Python dict
    (reference code/experiment.py:272-274)."""
    return F.create_map(*[F.lit(x) for x in chain.from_iterable(mapping.items())])


def literal_map_sql(mapping: Mapping[str, str]) -> str:
    """``literal_map_expr`` as SQL text: ``map(k1, v1, ...)``, one
    string however many entries the dict has."""
    return f"map({', '.join(map(sql_literal, chain.from_iterable(mapping.items())))})"


def map_literal_lookup(
    df: DataFrame, col: str, mapping: Mapping[str, str], out: str
) -> DataFrame:
    """Per-row map lookup; misses → NULL (reference code/experiment.py:308-310).
    Uses element_at-style indexing rather than the deprecated
    ``getItem(Column)`` the reference warns on (output.txt:18)."""
    return df.withColumn(out, literal_map_expr(mapping)[F.col(col)])


def lookup_with_fallback(
    df: DataFrame,
    col: str,
    mapping: Mapping[str, str],
    fallback: Column,
    out: str,
) -> DataFrame:
    """coalesce(map hit, fallback rule) — normalization with default
    (reference code/experiment.py:311-316)."""
    return df.withColumn(
        out, F.coalesce(literal_map_expr(mapping)[F.col(col)], fallback)
    )


def lookup_via_broadcast_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    dim_value: str,
    out: str,
    fallback: Column | None = None,
) -> DataFrame:
    """Scale path: left join against an explicitly broadcast dim table.

    At 100 TB the fact side never shuffles; the dim ships once per
    executor. Equivalent semantics to map_literal_lookup (left join ≡
    NULL on miss), optionally with the same fallback coalesce.
    """
    joined = fact.join(
        F.broadcast(dim.select(F.col(dim_key), F.col(dim_value).alias(out))),
        fact[fact_key] == dim[dim_key],
        "left",
    ).drop(dim_key)
    if fallback is not None:
        joined = joined.withColumn(out, F.coalesce(F.col(out), fallback))
    return joined
