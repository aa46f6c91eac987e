"""Bucketed-table layout: pre-shuffle once, join forever shuffle-free.

The reference joins its per-team aggregates to the game fact with a
plain equi-join every run (reference code/experiment.py:502-541) —
on a cluster each run pays the full both-sides shuffle again. Spark's
bucketed tables amortize that cost: ``bucketBy(n, key)`` hash-splits
the data into ``n`` stable buckets AT WRITE TIME, recorded in the
catalog, so every later join or aggregation on the bucket key reads
co-located partitions and skips the Exchange entirely.

At 100 TB this is the difference between shuffling the fact table on
every query (network-bound, the dominant cost) and shuffling it once
at ingest. The write itself repartitions by the bucket expression so
each bucket lands in ONE file per table (no small-file fan-out:
without it, every write task emits a file per bucket it touches,
giving tasks × buckets files).

Bucket hashing uses the same Murmur3 ``hashpartitioning`` family as
shuffle exchanges, which is what lets the planner prove
co-partitioning and elide the Exchange on both sides.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdatafinalproject_hockey_spark import sidecar


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int,
    path: str | None = None,
    sort_cols: list[str] | None = None,
) -> None:
    """Persist ``df`` as a bucketed (optionally sort-within-bucket)
    parquet table — external at ``path`` if given, else managed —
    replacing any previous version.

    ``repartition(num_buckets, *bucket_cols)`` aligns write tasks with
    bucket assignment (both use Murmur3 hash partitioning), so each
    bucket is exactly one file — bucket b is written wholly by the
    task holding hash-partition b.
    """
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    writer = (
        df.repartition(num_buckets, *[F.col(c) for c in bucket_cols])
        .write.mode("overwrite")
        .format("parquet")
        .bucketBy(num_buckets, *bucket_cols)
    )
    if path is not None:
        writer = writer.option("path", path)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def cached_bucketed(
    df: DataFrame,
    name: str,
    inputs: list[str],
    version: str,
    bucket_cols: list[str],
    num_buckets: int,
    sort_cols: list[str] | None = None,
) -> str:
    """Bucketed ingest of ``df`` kept in the sidecar store; returns the
    catalog table over it.

    The whole point of bucketing at scale is that the shuffle is paid
    once at ingest and every later query on the key rides the existing
    layout, so the files are written once per ``inputs`` version
    (``sidecar.cached``) and reused across sessions. The entry's
    version folds the caller's ``version`` together with the full
    bucket spec — projected schema, bucket columns, bucket count, sort
    columns: a changed projection or bucketing over unchanged inputs
    must rewrite, not re-declare the old files under new DDL.

    The table, named after the entry's key, is declared over the
    published directory with a DDL-only CREATE (bucket ids live in the
    file names, so a re-declared table keeps its co-partitioning)."""
    spark = df.sparkSession
    spec = "|".join(
        [
            version,
            df.schema.simpleString(),
            f"by={','.join(bucket_cols)}",
            f"n={num_buckets}",
            f"sort={','.join(sort_cols or [])}",
        ]
    )

    def build(tmp: str) -> None:
        staging = "".join(c if c.isalnum() else "_" for c in os.path.basename(tmp))
        write_bucketed(df, staging, bucket_cols, num_buckets, tmp, sort_cols)
        spark.sql(f"DROP TABLE IF EXISTS {staging}")

    path = sidecar.cached(name, inputs, spec, build)
    table = os.path.basename(path)
    cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields)
    sort_clause = f"SORTED BY ({', '.join(sort_cols)}) " if sort_cols else ""
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {table} ({cols}) USING PARQUET "
        f"CLUSTERED BY ({', '.join(bucket_cols)}) "
        f"{sort_clause}INTO {num_buckets} BUCKETS "
        f"LOCATION '{path}'"
    )
    return table


def join_cobucketed(
    spark: SparkSession, left_table: str, right_table: str, on: list[str], how: str = "inner"
) -> DataFrame:
    """Join two tables bucketed on the join key with equal bucket
    counts. The planner reads each bucket pair co-located — no
    Exchange on either side (locked in tests/test_plans.py)."""
    return spark.table(left_table).join(spark.table(right_table), on=on, how=how)
