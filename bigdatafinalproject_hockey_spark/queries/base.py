"""Registration plumbing for the query registry."""

from __future__ import annotations

from collections.abc import Callable, Iterator, MutableMapping

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]
Oracle = str | Callable[[], str]


class OracleSQL(MutableMapping):
    """Query name -> DuckDB oracle SQL. An oracle registered as a
    zero-argument callable is built on its first read and kept, so
    importing the registry does not build SQL nobody reads (some
    oracles embed thousands of hash literals)."""

    def __init__(self) -> None:
        self._sql: dict[str, Oracle] = {}

    def __getitem__(self, name: str) -> str:
        sql = self._sql[name]
        if callable(sql):
            sql = self._sql[name] = sql()
        return sql

    def __setitem__(self, name: str, sql: Oracle) -> None:
        self._sql[name] = sql

    def __delitem__(self, name: str) -> None:
        del self._sql[name]

    def __iter__(self) -> Iterator[str]:
        return iter(self._sql)

    def __len__(self) -> int:
        return len(self._sql)


QUERIES: dict[str, QueryFn] = {}
ORACLE_SQL = OracleSQL()


def register(name: str, oracle: Oracle | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query and (optionally) its DuckDB oracle SQL, as a
    string or as a callable that builds it.

    Oracle-less queries (ML, LSH, hash-specific ops) get the driver's
    weaker rows-only check.
    """

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE_SQL[name] = oracle
        return fn

    return deco
