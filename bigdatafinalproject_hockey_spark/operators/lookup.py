"""Dictionary-lookup operators (SURVEY.md §2.4).

The reference materializes an 83-entry team-name → code dict as a
literal ``create_map`` expression and indexes it per row, with a
regex fallback for unmapped names (reference code/experiment.py:58-246,
272-274, 308-316). ``lookup_sql`` writes that rule once as SQL text: a
constant-folded ``map(...)`` literal indexed by the key, coalesced
with a fallback expression where one is given. The map is baked into
the codegen'd expression — zero shuffle, zero broadcast — which suits
dicts of up to a few thousand entries; a bigger one belongs in a
broadcast join against a dimension table.
"""

from __future__ import annotations

from collections.abc import Mapping
from itertools import chain

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigdatafinalproject_hockey_spark.operators.strings import quote_ident, sql_literal


def lookup_sql(
    mapping: Mapping[str, str], key_sql: str, fallback_sql: str | None = None
) -> str:
    """SQL text of ``mapping`` indexed by the expression ``key_sql``
    (NULL on a miss), or ``coalesce(hit, fallback_sql)`` where a
    fallback is given. An empty ``mapping`` reads the fallback alone
    (a string NULL without one). The map is ``map(k1, v1, ...)``, one string however many entries
    the dict has."""
    if not mapping:
        return fallback_sql or "CAST(NULL AS STRING)"
    pairs = ", ".join(map(sql_literal, chain.from_iterable(mapping.items())))
    hit = f"map({pairs})[{key_sql}]"
    return hit if fallback_sql is None else f"coalesce({hit}, {fallback_sql})"


def map_literal_lookup(
    df: DataFrame, col: str, mapping: Mapping[str, str], out: str
) -> DataFrame:
    """Per-row map lookup; misses → NULL (reference code/experiment.py:308-310).
    Map indexing rather than the deprecated ``getItem(Column)`` the
    reference warns on (output.txt:18)."""
    return df.withColumn(out, F.expr(lookup_sql(mapping, quote_ident(col))))


def lookup_with_fallback(
    df: DataFrame,
    col: str,
    mapping: Mapping[str, str],
    fallback_sql: str,
    out: str,
) -> DataFrame:
    """coalesce(map hit, fallback rule) — normalization with default
    (reference code/experiment.py:311-316). ``fallback_sql`` is a SQL
    expression over ``df``'s columns."""
    return df.withColumn(
        out, F.expr(lookup_sql(mapping, quote_ident(col), fallback_sql))
    )
