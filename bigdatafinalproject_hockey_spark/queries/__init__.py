"""Query registry: a lookup of named queries and their DuckDB oracles.

Every implemented operator from SURVEY.md §2 (plus the
training-data-pipeline extensions) registers one named query: a
``(spark, sf_dir) -> DataFrame`` callable built from the operator
library, and, where SQL-expressible, a DuckDB oracle SQL string with
IDENTICAL output column names and value semantics.

Importing the query modules below fills ``QUERIES`` and
``ORACLE_SQL`` (both defined in ``queries.base``). Entries sit in
registration order; the order carries no meaning, so callers look
queries up by name.
"""

from bigdatafinalproject_hockey_spark.queries.base import ORACLE_SQL, QUERIES

# Importing the modules populates the registry.
from bigdatafinalproject_hockey_spark.queries import advanced  # noqa: E402,F401
from bigdatafinalproject_hockey_spark.queries import analytics  # noqa: E402,F401
from bigdatafinalproject_hockey_spark.queries import core  # noqa: E402,F401
from bigdatafinalproject_hockey_spark.queries import curation  # noqa: E402,F401
from bigdatafinalproject_hockey_spark.queries import extensions  # noqa: E402,F401
from bigdatafinalproject_hockey_spark.queries import graph  # noqa: E402,F401
from bigdatafinalproject_hockey_spark.queries import scale  # noqa: E402,F401

__all__ = ["QUERIES", "ORACLE_SQL"]
