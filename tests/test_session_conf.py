"""Session conf has one owner: a registry call leaves its caller's
session conf as it found it, and concurrent callers on one session get
oracle answers.

Conf that a call needs (a stream's state-partition count, the TWS
state-store provider) is applied by ``session.with_conf`` in a clone
of the caller's session. The ``with_conf`` tests pin that helper's two
private JVM calls (``cloneSession`` and ``Dataset.ofRows``) against
Spark upgrades.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from bigdatafinalproject_hockey_spark.catalog import load_table
from bigdatafinalproject_hockey_spark.session import with_conf

SF_DIR = "/root/testdata/sf0.001"

# The reads and writes of perfbench's driver_mix workload.
DRIVER_MIX = (
    "join_equi_3key",
    "win_expanding_avg",
    "agg_histogram",
    "agg_rollup",
    "sessionize_events",
    "text_token_count",
    "dedup_exact",
    "scan_csv_roundtrip",
    "scan_jsonl_roundtrip",
)
# Its curation calls.
DRIVER_MIX_CURATION = ("pipeline_document_curation", "text_normalize_unicode")


def _nanos_events(tmp_path) -> str:
    """An sf dir whose events.parquet stores ts as timestamp[ns]."""
    table = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array([1704067200_000_000_000, 1704067260_123_456_000], pa.timestamp("ns")),
            "user_id": pa.array([10, 11], pa.int64()),
            "event_type": pa.array(["view", "click"]),
            "value": pa.array([1.5, 2.5], pa.float64()),
            "props": pa.array(["{}", "{}"]),
        }
    )
    pq.write_table(table, str(tmp_path / "events.parquet"), coerce_timestamps=None)
    return str(tmp_path)


def _conf_diff(before: dict, after: dict) -> dict:
    return {
        k: (before.get(k), after.get(k))
        for k in before.keys() | after.keys()
        if before.get(k) != after.get(k)
    }


def test_registry_calls_leave_caller_conf_alone(spark, tmp_path):
    from bigdatafinalproject_hockey_spark.queries import QUERIES

    nanos_dir = _nanos_events(tmp_path)
    calls = [
        (n, lambda n=n: QUERIES[n](spark, SF_DIR).collect())
        for n in (*DRIVER_MIX, "stream_tumbling_agg", "dedup_components")
    ]
    calls.append(
        ("load_table(nanos events)", lambda: load_table(spark, "events", nanos_dir).collect())
    )
    before = spark.conf.getAll
    for name, call in calls:
        call()
        assert spark.conf.getAll == before, (name, _conf_diff(before, spark.conf.getAll))


def test_get_session_keeps_generated_code_compiled(spark):
    """``get_session`` raises Spark's 100-class codegen cache; the
    ``driver_mix`` working set (~94 classes) overflows the default."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"


def test_driver_mix_second_round_compiles_nothing(spark):
    """Rerunning the ``driver_mix`` calls in one session compiles no
    generated class: every class of the first round is still cached."""
    from bigdatafinalproject_hockey_spark.queries import QUERIES

    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def run_round():
        for name in (*DRIVER_MIX, *DRIVER_MIX_CURATION):
            QUERIES[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()

    run_round()
    before = compiles.getCount()
    run_round()
    assert compiles.getCount() == before


def test_concurrent_callers_match_oracle(spark):
    """Two threads on one session run a stream, an events read,
    connected components and a join ten times each; every result
    equals the oracle and neither thread ever sees the session's
    shuffle-partition count change."""
    from bigdatafinalproject_hockey_spark.queries import ORACLE_SQL, QUERIES
    from tests.oracle_utils import compare_frames, duckdb_conn

    names = ["stream_tumbling_agg", "sessionize_events", "dedup_components", "join_equi_3key"]
    con = duckdb_conn(SF_DIR)
    want = {n: con.execute(ORACLE_SQL[n]).df() for n in names}
    key = "spark.sql.shuffle.partitions"
    partitions = spark.conf.get(key)

    def client() -> list:
        out = []
        for _ in range(10):
            for n in names:
                out.append((n, QUERIES[n](spark, SF_DIR).toPandas()))
                assert spark.conf.get(key) == partitions, n
        return out

    with ThreadPoolExecutor(2) as pool:
        futures = [pool.submit(client) for _ in range(2)]
        results = [r for f in futures for r in f.result(timeout=900)]
    assert len(results) == 2 * 10 * len(names)
    for n, got in results:
        compare_frames(got, want[n], n)


def test_with_conf_sets_conf_in_clone_only(spark):
    """The clone copies the parent's runtime conf and adds ``conf``;
    the parent keeps its own."""
    parent = spark.newSession()
    parent.conf.set("spark.sql.shuffle.partitions", "7")
    df = parent.range(20).withColumn("k", F.col("id") % 3)
    out = with_conf(df, {"spark.sql.files.maxPartitionBytes": "1m"})
    clone = out.sparkSession
    assert clone is not parent
    assert clone.sparkContext is parent.sparkContext
    assert clone.conf.get("spark.sql.shuffle.partitions") == "7"
    assert clone.conf.get("spark.sql.files.maxPartitionBytes") == "1m"
    assert parent.conf.get("spark.sql.files.maxPartitionBytes") != "1m"
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, df.collect()))


def test_with_conf_reads_parent_cache(spark):
    df = spark.range(100).withColumn("x", F.col("id") * 2).cache()
    try:
        df.count()
        out = with_conf(df.filter("x > 10"), {"spark.sql.shuffle.partitions": "3"})
        assert "InMemoryRelation" in out._jdf.queryExecution().optimizedPlan().toString()
        assert out.count() == 94
    finally:
        df.unpersist()


def test_with_conf_keeps_a_stream_streaming(spark):
    from bigdatafinalproject_hockey_spark.streaming import read_events_stream

    stream = read_events_stream(spark, SF_DIR)
    assert with_conf(stream, {"spark.sql.shuffle.partitions": "3"}).isStreaming


def test_workers_import_package_from_any_cwd(tmp_path):
    """A driver started outside the checkout, with no PYTHONPATH, still
    runs a Python data source: ``get_session`` puts the package on the
    Python workers' path."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = (
        "import sys\n"
        f"sys.path.insert(0, {repo!r})\n"
        "from bigdatafinalproject_hockey_spark.queries import QUERIES\n"
        "from bigdatafinalproject_hockey_spark.session import get_session\n"
        "spark = get_session(app_name='cwd', shuffle_partitions=2)\n"
        f"print(QUERIES['scan_custom_datasource'](spark, {SF_DIR!r}).count())\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.split()[-1] == "2000"
