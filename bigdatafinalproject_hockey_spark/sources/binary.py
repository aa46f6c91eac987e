"""Binary-files source: Spark's ``binaryFile`` format.

The ingestion front door for multimodal corpora — images/audio/video
arrive as FILES, not rows, and the first pipeline step is turning a
directory of blobs into a DataFrame of (id, payload, metadata). The
multimodal tier (multimodal/__init__.py) starts from such a frame;
this module covers how it actually gets built: ``spark.read.format(
"binaryFile")``, which distributes file reads across executors and
yields (path, modificationTime, length, content) without any
driver-side I/O.

At 100 TB the same scan works unchanged: binaryFile splits the file
LIST, not file contents (a blob is one row), so parallelism = files;
pathGlobFilter prunes non-media files at listing time, and
``spark.sql.files.maxPartitionBytes`` groups small blobs per task —
the small-files problem is a listing/packing concern here, not a
correctness one.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def stage_payload_files(parquet_path: str, out_dir: str) -> None:
    """Write each document's utf-8 text as ``doc_<id>.bin`` into the
    empty directory ``out_dir``: the on-disk stand-in for a media
    directory, derived from the documents fixture so the scan can be
    value-checked against the table it came from. Callers build it
    through the sidecar store, which keys the directory on the source
    files, so a regenerated documents table gets fresh blobs."""
    import pyarrow.parquet as pq

    tbl = pq.read_table(parquet_path, columns=["doc_id", "text"])
    for doc_id, text in zip(
        tbl.column("doc_id").to_pylist(), tbl.column("text").to_pylist()
    ):
        with open(os.path.join(out_dir, f"doc_{doc_id}.bin"), "wb") as f:
            f.write(text.encode("utf-8"))


def scan_binary_files(spark: SparkSession, dir_path: str) -> DataFrame:
    """Distributed blob ingest: one row per file with the id parsed
    from the filename, exact byte length, and a content digest — the
    columns every downstream multimodal op keys on."""
    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(dir_path)
    )
    return raw.select(
        F.regexp_extract(F.col("path"), r"doc_(\d+)\.bin$", 1)
        .cast("long")
        .alias("doc_id"),
        F.col("length").alias("n_bytes"),
        F.md5(F.col("content")).alias("content_md5"),
    )
