"""SparkSession factory.

The reference builds its session with 4g driver/executor memory and
``spark.sql.shuffle.partitions=50`` (reference code/experiment.py:264-270).
We instead enable AQE so shuffle sizing is adaptive (the modern
replacement for a hand-tuned partition count), pin the session
timezone to UTC (so results are comparable against UTC-naive engines
like DuckDB), lower the file open cost so an input of a few MB scans
on every core, and enable Arrow for any pandas exchange.

This is the only module that writes session conf. ``pin`` brings a
session built elsewhere (the driver's plain one) to ``PINNED_CONF``;
``with_conf`` runs a frame under extra conf in a clone of its session,
so the caller's session is never written at call time.

At cluster scale the same builder works unchanged: ``master`` is left
to spark-submit/cluster config unless explicitly given.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# The directory that holds this package. Python workers unpickle the
# engine's UDFs and data sources by module reference, so
# ``get_session`` puts it on their path, wherever the driver runs,
# ahead of any worker path the caller passes in ``extra_conf``.
PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Conf every result depends on. Deterministic cross-engine comparison:
# DuckDB is UTC-naive.
PINNED_CONF = {"spark.sql.session.timeZone": "UTC"}


def get_session(
    app_name: str = "bigdatafinalproject_hockey_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    Local mode is the test/bench default (``local[$SPARK_GRAFT_CPUS]``);
    on a real cluster pass ``master=None`` and let spark-submit decide.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and not os.environ.get("SPARK_MASTER"):
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    n_shuffle = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    conf = {
        "spark.sql.shuffle.partitions": str(n_shuffle),
        # AQE: runtime partition coalescing, skew-join splitting, and
        # dynamic join-strategy switching — the scale story for 100 TB.
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # AQE's coalescing floor decides the smallest partition worth
        # a task. The 1 MB default assumes scan-cheap rows; this
        # engine's window/agg stages are EXPRESSION-heavy (a 1 MB
        # compressed shuffle slice can be seconds of single-core
        # compute), so the default floor serialized small-but-expensive
        # stages onto one core (measured: events_anomaly_mad 1.01 s ->
        # 0.60 s at sf0.1 with a 128k floor). At production shuffle sizes the floor
        # never binds — the advisory partition size governs — so the
        # 100 TB plan shape is unchanged.
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "128k",
        # A file scan's split size is at least the open cost, 4 MB by
        # default, so a CSV of a few MB (the CLI's events file) is one
        # split and its parse, map and partial aggregate run on one
        # core. At 1 MB the split size falls to about (total bytes +
        # 1 MB per file) / cores, so such a file runs on every core.
        # Parquet tables of one small file still plan one split, and
        # at production file sizes the 128 MB split cap governs.
        "spark.sql.files.openCostInBytes": "1m",
        **PINNED_CONF,
        # Arrow for pandas_udf / toPandas / createDataFrame paths.
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Write micros, not legacy INT96: other readers (arrow, duckdb)
        # see a plain timestamp[us], and the events loader's footer
        # branching never meets the INT96/ns ambiguity on our own
        # output. (The loader still handles INT96 input defensively.)
        "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
        "spark.ui.enabled": "false",
        # The whole registry at sf0.01 runs in a 6g heap, which a
        # 15 GB machine can hold next to the Python side; larger
        # deployments set SPARK_GRAFT_DRIVER_MEM.
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "6g"),
    }
    if extra_conf:
        conf.update(extra_conf)
    worker_path = conf.get("spark.executorEnv.PYTHONPATH", "").split(os.pathsep)
    conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
        [PACKAGE_PARENT] + [p for p in worker_path if p and p != PACKAGE_PARENT]
    )
    # Local files are written without a chmod process per file.
    # (Imported here: localfs -> sidecar -> catalog imports this module.)
    from bigdatafinalproject_hockey_spark import localfs

    conf.update(localfs.session_conf(master, conf))
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def pin(spark: SparkSession) -> None:
    """Set each ``PINNED_CONF`` entry the session does not already
    hold. A ``get_session`` session is never written; any other is
    written once, always to the same values."""
    for key, value in PINNED_CONF.items():
        if spark.conf.get(key, None) != value:
            spark.conf.set(key, value)


def with_conf(df: DataFrame, conf: dict[str, str]) -> DataFrame:
    """``df``'s plan bound to a clone of its session that also holds
    ``conf``; ``df``'s own session is left as it was.

    The clone copies the session's runtime conf, temp views and
    functions, and shares its SparkContext and cache, so a cached
    input is still read from the cache. Work derived from the result,
    including a stream started from it, runs in the clone.
    """
    parent = df.sparkSession
    jclone = parent._jsparkSession.cloneSession()
    clone = SparkSession(parent.sparkContext, jclone)
    for key, value in conf.items():
        clone.conf.set(key, value)
    jdf = parent._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        jclone, df._jdf.logicalPlan()
    )
    return DataFrame(jdf, clone)
