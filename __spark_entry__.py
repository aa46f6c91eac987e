"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash).

All real logic lives in the ``bigdatafinalproject_hockey_spark``
package; this file only adapts it to the driver's interface.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bigdatafinalproject_hockey_spark.queries import ORACLE_SQL, QUERIES  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the reference's
    signature leakage-free expanding-window feature
    (SURVEY.md §7 minimum slice)."""
    return QUERIES["win_expanding_avg"](spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (+ the
    training-data-pipeline extensions)."""
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query; hash-seeded / ML / RNG queries
    are omitted (rows-only check)."""
    return dict(ORACLE_SQL)
