"""Parquet sink/scan with hive-style partition directories (partition
PRUNING — a filter on the partition key skips whole directories at
planning time) and small-files compaction. Bucketed tables (co-located
joins with ZERO shuffle) are written by operators.bucketing.write_bucketed.

The reference has no parquet sink (it prints to stdout); these are
the sinks its pipeline would need in production.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def sink_parquet(
    df: DataFrame, path: str, partition_by: list[str] | None = None
) -> None:
    """Write parquet, optionally hive-partitioned by low-cardinality
    keys (date/season/year). Verify pruning with .explain() on a
    filtered read-back: PartitionFilters must list the predicate."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def scan_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def compact_parquet(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> DataFrame:
    """Small-files compaction: rewrite a parquet directory into files
    sized near ``target_file_bytes`` and return the compacted
    read-back.

    Streaming ingest (per-trigger appends) and over-parallel writes
    leave thousands of KB-sized files; every later scan then pays one
    task + one open per file and loses row-group-sized IO. Compaction
    is the standing maintenance job of any lake table. File count is
    chosen from the ACTUAL byte size of the input (Spark's own
    relation sizing), not row counts — compressed bytes are what IO
    cost tracks. repartition (round-robin shuffle) balances output
    sizes regardless of input skew.
    """
    src = spark.read.parquet(src_path)
    total_bytes = src._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    n_files = max(1, int((int(total_bytes) + target_file_bytes - 1) // target_file_bytes))
    src.repartition(n_files).write.mode("overwrite").parquet(dst_path)
    return spark.read.parquet(dst_path)
