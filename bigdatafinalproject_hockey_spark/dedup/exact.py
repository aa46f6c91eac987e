"""Exact deduplication via normalized fingerprint groupBy.

One shuffle on a 32-byte key regardless of document size — the md5
fingerprint is computed scan-side, so 100 TB of text shuffles only
(fingerprint, doc_id) pairs if you project before grouping.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigdatafinalproject_hockey_spark.functions.text import md5_fingerprint_expr


def dedup_exact_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """One row per distinct normalized text: the kept (minimum) id, the
    duplicate count, and the fingerprint."""
    return (
        df.select(F.col(id_col), md5_fingerprint_expr(text_col).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def dedup_incremental(
    delta: DataFrame, base_fps: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Snapshot-incremental exact dedup: given the new ``delta`` docs
    and the fingerprint store ``base_fps`` (one column ``fp``) of every
    previously ingested snapshot, keep only delta docs that are (a)
    absent from the store — 32-byte-key left_anti join — and (b) the
    first occurrence (min id) within the delta itself.

    This is the production shape of exact dedup: a 100 TB corpus is
    never re-deduplicated from scratch; each ingest batch dedups
    against an append-only fingerprint table. Both the anti-join and
    the min-id semi-join shuffle fingerprints + ids only, never text,
    and the store side can be bucketed on ``fp`` (operators.bucketing)
    so repeated ingests skip its shuffle entirely.
    """
    fps = delta.select(F.col(id_col), md5_fingerprint_expr(text_col).alias("fp"))
    fresh = fps.join(base_fps.select("fp"), ["fp"], "left_anti")
    keep = (
        fresh.groupBy("fp")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return delta.join(keep, [id_col], "left_semi")
