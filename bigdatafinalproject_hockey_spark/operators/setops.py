"""Set operations (SURVEY.md §2.9).

The reference only concatenates chunk results (pd.concat,
create_subsample.py:90); ``union_all`` is that operation.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame


def union_all(*dfs: DataFrame) -> DataFrame:
    """Positional-safe UNION ALL by column NAME (pd.concat analog).
    unionByName, not union: column order must not silently matter."""
    return reduce(lambda a, b: a.unionByName(b), dfs)
