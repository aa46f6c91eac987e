"""CSV source/sink with the reference's data quirks handled.

The reference reads its CSVs with header + inferSchema
(reference code/experiment.py:281-284, 322-326) and then re-casts;
its events file uses MySQL-style ``\\N`` null sentinels alongside
empty strings (data/Sample_NHL_EventData.csv:2). Inference costs an
extra full scan and mis-types sentinel columns — ``scan_csv`` takes an
explicit StructType and maps both sentinel forms to real NULLs in one
pass, and ``scan_csv_named`` builds that StructType from the file's
header and a name → type map, for files whose column order is not
fixed (the CLI reads both of its inputs this way). ``scan_csv_infer``
is the reference-parity reader, kept for exploration.

Scale notes: CSV is a row format — no pushdown, no pruning, no
vectorized read. It's supported as an INGEST format; convert to
parquet (``csv_to_parquet``) before analytics. Chunked reading
(create_subsample.py:79-88) needs no replication: Spark's partitioned
file scan splits big CSVs by byte ranges automatically.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

NULL_SENTINEL = r"\N"


def scan_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    header: bool = True,
    null_value: str = NULL_SENTINEL,
    date_format: str = "M/d/yyyy",
) -> DataFrame:
    """Explicit-schema CSV scan; ``\\N`` and empty fields → NULL.

    Replaces the reference's inferSchema double-scan + post-cast dance
    (code/experiment.py:283, 290-297) with a single typed pass.
    """
    return (
        spark.read.schema(schema)
        .option("header", str(header).lower())
        .option("nullValue", null_value)
        .option("emptyValue", None)
        .option("dateFormat", date_format)
        .option("mode", "PERMISSIVE")
        .csv(path)
    )


def scan_csv_named(
    spark: SparkSession, path: str, types: Mapping[str, T.DataType]
) -> DataFrame:
    """Typed scan of a headed CSV whose column order is not known up
    front. One small job reads the header line (no inference); columns
    named in ``types`` get those types, every other column is a string.
    Spark applies a CSV schema by position, which is why the header is
    read first. A field that does not parse as its type reads as NULL
    (``scan_csv``'s PERMISSIVE mode) instead of failing the job."""
    columns = spark.read.option("header", "true").csv(path).columns
    schema = T.StructType(
        [T.StructField(c, types.get(c, T.StringType())) for c in columns]
    )
    return scan_csv(spark, path, schema)


def scan_csv_infer(spark: SparkSession, path: str, header: bool = True) -> DataFrame:
    """Inference-based scan for exploration only — parity with the
    reference's loader (code/experiment.py:281-284). It runs an eager
    inference scan per file and types a column by its values, so one
    malformed cell turns a numeric column into strings; the CLI reads
    with ``scan_csv_named`` instead. perfbench's traced run still
    patches this function by name."""
    return (
        spark.read.option("header", str(header).lower())
        .option("inferSchema", "true")
        .option("nullValue", NULL_SENTINEL)
        .csv(path)
    )


def sink_csv(df: DataFrame, path: str, header: bool = True) -> None:
    """CSV writer (reference create_subsample.py:76, 94)."""
    df.write.mode("overwrite").option("header", str(header).lower()).csv(path)


def csv_to_parquet(
    df: DataFrame, path: str, partition_by: list[str] | None = None
) -> None:
    """Ingest conversion: land CSV data as parquet, optionally
    partitioned by a low-cardinality key (season/date at 100 TB) so
    later queries prune partitions at the source."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)
