"""Explicit-schema catalog for the synthetic test tables.

The reference reads its CSVs with ``inferSchema=true`` and then
re-casts every consumed column (reference code/experiment.py:281-298,
322-338). Inference costs an extra scan and is fragile at scale, so
this engine pins every table to an explicit ``StructType``;
``verify_contract`` checks a table's parquet footers against it, and
``load_table`` runs that check whenever it meets a new file version.
This module is the only one that knows how ``events.ts`` is encoded
(``events_source``).

Tables (TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings — one parquet file per table in
a scale-factor directory (``sf_dir``).
"""

from __future__ import annotations

import os
from typing import Callable

import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bigdatafinalproject_hockey_spark.session import pin

SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}

TABLES = tuple(SCHEMAS)

Decode = Callable[[DataFrame], DataFrame]


def _footer_paths(path: str) -> list[str]:
    """Every parquet part file for a table path (a single file, or the
    part files of a directory)."""
    if os.path.isdir(path):
        parts = sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(".parquet")
        )
        if not parts:
            raise FileNotFoundError(f"no parquet files under {path}")
        return parts
    return [path]


def file_version(path: str) -> tuple[tuple[str, int, int], ...]:
    """(absolute path, size, ``st_mtime_ns``) of every part file of a
    table path: rewriting the table changes it."""
    out = []
    for part in _footer_paths(path):
        st = os.stat(part)
        out.append((os.path.abspath(part), st.st_size, st.st_mtime_ns))
    return tuple(out)


def events_ts_encoding(path: str) -> str:
    """How ``events.ts`` is physically encoded in the parquet footer
    (first part file; ``verify_contract`` covers all parts).

    The driver's testdata generator has shipped two encodings so far
    (nanos-as-int64 in round 1, timestamp[us] in round 2); the loader
    branches on the footer instead of hard-coding either. Returns
    ``"nanos"`` (int64 raw nanos, or timestamp[ns] backed by int64 —
    read as a long) or ``"timestamp"`` (us/ms-precision timestamp, or
    legacy INT96 — both read natively as a timestamp).
    """
    pf = pq.ParquetFile(_footer_paths(path)[0])
    t = pf.schema_arrow.field("ts").type
    if pa.types.is_integer(t):
        return "nanos"
    if pa.types.is_timestamp(t):
        if t.unit != "ns":
            return "timestamp"
        # Arrow reports BOTH int64-nanos and legacy INT96 timestamps
        # as timestamp[ns]; only the former reads as a long (an INT96
        # file read under a long schema fails).
        # Disambiguate on the parquet PHYSICAL type — Spark writes
        # INT96 by default, so any Spark-written events table lands
        # here.
        phys = pf.schema
        for i in range(len(phys)):
            if phys.column(i).name == "ts":
                return "timestamp" if phys.column(i).physical_type == "INT96" else "nanos"
        return "nanos"
    raise TypeError(f"unsupported events.ts parquet type: {t}")


def verify_contract(name: str, path: str) -> None:
    """Testdata-contract guard: EVERY part file's footer schema must
    match ``SCHEMAS[name]`` column-for-column, with an explicit
    allowance for the known events.ts encoding variants. A future
    silent encoding drift — including drift between part files of one
    table, which a first-part-only check would miss — fails here,
    loudly, instead of deep inside 20 queries. Integer widths are
    checked exactly (IntegerType ⇒ int32), not by parquet integer
    family."""
    expect = SCHEMAS[name]
    want_names = [f.name for f in expect.fields]
    for part in _footer_paths(path):
        footer = pq.read_schema(part)
        got_names = list(footer.names)
        if got_names != want_names:
            raise ValueError(
                f"testdata contract broken for {name!r} ({part}): columns "
                f"{got_names} != expected {want_names}"
            )
        for field in expect.fields:
            a = footer.field(field.name).type
            s = field.dataType
            ok = (
                (isinstance(s, T.LongType) and pa.types.is_int64(a))
                or (isinstance(s, T.IntegerType) and pa.types.is_int32(a))
                or (isinstance(s, T.DoubleType) and pa.types.is_float64(a))
                or (isinstance(s, T.StringType) and (pa.types.is_string(a) or pa.types.is_large_string(a)))
                or (isinstance(s, T.TimestampType)
                    and (pa.types.is_timestamp(a)
                         # round-1 encoding: raw int64 nanos
                         or (name == "events" and field.name == "ts" and pa.types.is_int64(a))))
                or (isinstance(s, T.ArrayType) and (pa.types.is_list(a) or pa.types.is_large_list(a)))
                or (isinstance(s, T.BinaryType) and (pa.types.is_binary(a) or pa.types.is_large_binary(a)))
            )
            if not ok:
                raise ValueError(
                    f"testdata contract broken for {name}.{field.name} "
                    f"({part}): parquet type {a} incompatible with expected "
                    f"{s.simpleString()}"
                )


def events_source(path: str) -> tuple[T.StructType, Decode]:
    """(read schema, decode) for the events table at ``path``.

    ``events.ts`` is encoded differently across testdata generations
    (int64 nanos, then timestamp[us] NTZ), so the schema's ``ts``
    follows the footer: a long for ``"nanos"``, ``timestamp_ntz`` for
    ``"timestamp"``. ``decode`` turns either into a session-TZ (UTC)
    timestamp with the same wall-clock values DuckDB reads. Batch and
    stream readers both read with the schema and then decode; the
    explicit schema also spares the reader a footer inference."""
    if events_ts_encoding(path) == "nanos":
        ts_type: T.DataType = T.LongType()

        def decode(df: DataFrame) -> DataFrame:
            return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))

    else:
        ts_type = T.TimestampNTZType()

        def decode(df: DataFrame) -> DataFrame:
            return df.withColumn("ts", F.col("ts").cast("timestamp"))

    schema = T.StructType(
        [
            T.StructField(f.name, ts_type) if f.name == "ts" else f
            for f in SCHEMAS["events"].fields
        ]
    )
    return schema, decode


# Session conf that changes the schema Spark infers from a parquet
# footer; a read resolved under one set of values is not reused under
# another.
PARQUET_INFERENCE_CONF = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.legacy.parquet.nanosAsLong",
)

# table path -> (version key, (read schema, decode or None)). One
# entry per path: a new file version replaces the old entry. Each
# entry is one tuple stored by a single dict assignment, so a
# concurrent caller sees the old entry or the new one, never half of
# one.
_resolved: dict[str, tuple[tuple, tuple[T.StructType, Decode | None]]] = {}


def _resolve_read(
    spark: SparkSession, name: str, path: str
) -> tuple[T.StructType, Decode | None]:
    """``events_source(path)`` for ``events``; for any other table the
    schema Spark infers for ``path`` and no decode. Resolved once per
    version key (``file_version(path)`` and the session's
    ``PARQUET_INFERENCE_CONF`` values) after ``verify_contract``
    passes; a failing check stores nothing."""
    key = (
        file_version(path),
        tuple(spark.conf.get(k, None) for k in PARQUET_INFERENCE_CONF),
    )
    entry = _resolved.get(os.path.abspath(path))
    if entry is not None and entry[0] == key:
        return entry[1]
    verify_contract(name, path)
    if name == "events":
        read = events_source(path)
    else:
        read = (spark.read.parquet(path).schema, None)
    _resolved[os.path.abspath(path)] = (key, read)
    return read


def load_table(spark: SparkSession, name: str, sf_dir: str) -> DataFrame:
    """Load one synthetic table as a DataFrame.

    ``events`` is read with ``events_source``'s schema and decoded.
    Every other table is read with the schema Spark infers from its
    parquet footer, which is expected to equal ``SCHEMAS[name]`` up to
    timestamp precision (a tz-naive timestamp stays
    ``timestamp_ntz``); forcing ours on the reader would break
    vectorized reads on a mismatch. Column pruning + predicate
    pushdown come free from expressing queries declaratively
    downstream.

    The read is resolved once per file version: the first call checks
    ``verify_contract`` and infers (one Spark job, or a footer read
    for ``events``); later calls reuse the result and launch no job.
    The version key holds each part file's absolute path, size and
    mtime, and the session's ``PARQUET_INFERENCE_CONF`` values, so a
    rewritten table or a session that infers differently resolves
    afresh.
    """
    if name not in SCHEMAS:
        raise KeyError(f"unknown table {name!r}; have {sorted(SCHEMAS)}")
    # The caller may hand us an externally-built session (the driver
    # does); pin the session timezone so timestamp formatting/compare
    # is stable regardless of host TZ.
    pin(spark)
    path = f"{sf_dir}/{name}.parquet"
    schema, decode = _resolve_read(spark, name, path)
    df = spark.read.schema(schema).parquet(path)
    return decode(df) if decode else df
