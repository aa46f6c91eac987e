"""Testdata-contract guard (VERDICT r2 item 6).

Round 2 broke silently when the driver's testdata generator changed
events.ts from int64-nanos to timestamp[us]: 17 batch queries crashed
and 6 streaming queries computed timestamps 1000x too small. These
tests make any future encoding/schema drift fail in ONE targeted
place instead of deep inside two dozen queries.
"""

import datetime
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from bigdatafinalproject_hockey_spark import catalog
from bigdatafinalproject_hockey_spark.catalog import (
    SCHEMAS,
    events_ts_encoding,
    load_table,
    verify_contract,
)

SF_DIRS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]


@pytest.mark.parametrize("sf_dir", SF_DIRS)
@pytest.mark.parametrize("name", sorted(SCHEMAS))
def test_footer_contract(name, sf_dir):
    """Every table's parquet footer matches the pinned catalog schema
    (with the documented events.ts encoding allowance)."""
    verify_contract(name, f"{sf_dir}/{name}.parquet")


@pytest.mark.parametrize("sf_dir", SF_DIRS)
@pytest.mark.parametrize("name", sorted(SCHEMAS))
def test_load_matches_catalog_schema(spark, name, sf_dir):
    """load_table yields exactly SCHEMAS[name]'s column names and
    logical types at every sf — i.e. the normalization (ts decode)
    lands on the catalog type, whatever the on-disk encoding."""
    df = load_table(spark, name, sf_dir)
    got = [(f.name, f.dataType.simpleString()) for f in df.schema.fields]
    want = [(f.name, f.dataType.simpleString()) for f in SCHEMAS[name].fields]
    # tz-naive parquet timestamps read as TIMESTAMP_NTZ; the catalog
    # deliberately does NOT cast them (a withColumn cast would defeat
    # predicate pushdown on the scan) — queries treat NTZ wall-clock
    # values as UTC, which is exactly DuckDB's reading. Only events.ts
    # is normalized (its decode already breaks pushdown by necessity).
    got = [(n, "timestamp" if t == "timestamp_ntz" else t) for n, t in got]
    assert got == want


def test_events_ts_values_match_duckdb(spark):
    """The decoded event times equal DuckDB's reading of the same file
    (the oracle side of every events query) — catches a wrong-scale
    decode (the silent 1000x streaming bug) not just a wrong dtype."""
    duckdb = pytest.importorskip("duckdb")
    path = "/root/testdata/sf0.001/events.parquet"
    lo, hi = duckdb.sql(
        f"select min(ts), max(ts) from read_parquet('{path}')"
    ).fetchone()
    row = load_table(spark, "events", "/root/testdata/sf0.001").agg(
        {"ts": "min"}
    ).collect()[0]
    row_max = load_table(spark, "events", "/root/testdata/sf0.001").agg(
        {"ts": "max"}
    ).collect()[0]
    assert row[0] == lo and row_max[0] == hi
    # sanity: plausible wall-clock range, not 1970-epoch-adjacent
    assert row[0] > datetime.datetime(2000, 1, 1)


def test_events_encoding_detected():
    for sf_dir in SF_DIRS:
        enc = events_ts_encoding(f"{sf_dir}/events.parquet")
        assert enc in ("nanos", "timestamp")


def test_streaming_schema_follows_footer(spark):
    """The events read schema derives from the footer — a pinned
    LongType schema against micros data is the exact shape of a
    silent event-time corruption."""
    from bigdatafinalproject_hockey_spark.catalog import events_source

    schema, _ = events_source("/root/testdata/sf0.001/events.parquet")
    enc = events_ts_encoding("/root/testdata/sf0.001/events.parquet")
    ts_type = dict((f.name, f.dataType.simpleString()) for f in schema.fields)["ts"]
    if enc == "nanos":
        assert ts_type == "bigint"
    else:
        assert ts_type == "timestamp_ntz"


def test_nanos_encoding_branch_still_decodes(spark, tmp_path):
    """Round 1's testdata stored events.ts as parquet timestamp[ns];
    the loader keeps a branch for it. No current testdata exercises
    that encoding, so synthesize a nanos-encoded events.parquet and
    assert load_table decodes it to the same wall-clock micros as the
    timestamp[us] path — a drift BACK to nanos must keep working."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    micros = [1704067200_000_000, 1704067260_123_456]  # 2024-01-01 UTC
    table = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array([m * 1000 for m in micros], pa.timestamp("ns")),
            "user_id": pa.array([10, 11], pa.int64()),
            "event_type": pa.array(["view", "click"]),
            "value": pa.array([1.5, 2.5], pa.float64()),
            "props": pa.array(["{}", "{}"]),
        }
    )
    pq.write_table(
        table, str(tmp_path / "events.parquet"), store_schema=False,
        use_deprecated_int96_timestamps=False, coerce_timestamps=None,
    )
    from bigdatafinalproject_hockey_spark.catalog import (
        events_ts_encoding,
        load_table,
    )

    assert events_ts_encoding(str(tmp_path / "events.parquet")) == "nanos"
    df = load_table(spark, "events", str(tmp_path))
    assert df.schema["ts"].dataType.simpleString() == "timestamp"
    got = sorted(r["ts"] for r in df.select("ts").collect())
    import datetime

    want = [
        datetime.datetime(2024, 1, 1, 0, 0, 0),
        datetime.datetime(2024, 1, 1, 0, 1, 0, 123456),
    ]
    assert got == want


@pytest.mark.parametrize("out_type", ["INT96", "TIMESTAMP_MICROS"])
def test_load_spark_written_events(spark, tmp_path, out_type):
    """Engine-WRITTEN events tables must load back identically under
    both parquet timestamp encodings. The INT96 case is the trap:
    arrow reports INT96 as timestamp[ns] — indistinguishable at the
    arrow level from int64-nanos, which the loader reads as a long —
    so events_ts_encoding has to branch on the parquet
    PHYSICAL type (a misbranch crashes the decode on Spark's default
    INT96 output)."""
    src = load_table(spark, "events", "/root/testdata/sf0.001")
    want = sorted(map(tuple, src.limit(50).collect()))
    path = str(tmp_path / f"events_{out_type}" / "events.parquet")
    old = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", out_type)
    try:
        src.limit(50).write.parquet(path)
    finally:
        spark.conf.set("spark.sql.parquet.outputTimestampType", old)
    enc = events_ts_encoding(path)
    assert enc == "timestamp", f"{out_type} misclassified as {enc}"
    got = sorted(
        map(tuple, load_table(spark, "events", str(tmp_path / f"events_{out_type}")).collect())
    )
    assert got == want


def _jobs_in(spark, group, fn):
    """(fn(), ids of the Spark jobs ``fn`` ran under job group ``group``)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _orders(tmp_path, n_rows: int = 2, tz: str | None = None) -> str:
    """An sf dir holding an orders table of ``n_rows`` rows whose
    ``o_orderdate`` carries time zone ``tz``."""
    table = pa.table(
        {
            "o_orderkey": pa.array(range(n_rows), pa.int64()),
            "o_custkey": pa.array(range(n_rows), pa.int64()),
            "o_orderstatus": pa.array(["O"] * n_rows),
            "o_totalprice": pa.array([1.0] * n_rows, pa.float64()),
            "o_orderdate": pa.array(
                [datetime.datetime(2024, 1, 1)] * n_rows, pa.timestamp("us", tz=tz)
            ),
            "o_orderpriority": pa.array(["1-URGENT"] * n_rows),
        }
    )
    pq.write_table(table, str(tmp_path / "orders.parquet"))
    return str(tmp_path)


def test_second_load_runs_no_job(spark, tmp_path):
    """The first load of a file version infers its schema with a Spark
    job; a second load of the same version runs none and reads with the
    same schema."""
    shutil.copy(f"{SF_DIRS[0]}/lineitem.parquet", tmp_path / "lineitem.parquet")
    first, jobs = _jobs_in(
        spark, "load-first", lambda: load_table(spark, "lineitem", str(tmp_path))
    )
    assert jobs, "the first load should infer the footer schema"
    second, jobs = _jobs_in(
        spark, "load-second", lambda: load_table(spark, "lineitem", str(tmp_path))
    )
    assert jobs == []
    assert second.schema == first.schema


def test_rewritten_table_resolves_afresh(spark, tmp_path):
    """A rewrite of the table at the same path is a new file version: the
    next load reads the new schema, and a rewrite that breaks the
    contract fails instead of serving the old entry."""
    sf = _orders(tmp_path)

    def date_type():
        return load_table(spark, "orders", sf).schema["o_orderdate"].dataType

    assert date_type() == T.TimestampNTZType()
    _orders(tmp_path, tz="UTC")
    assert date_type() == T.TimestampType()
    extra = pq.read_table(f"{sf}/orders.parquet").append_column(
        "o_comment", pa.array(["x", "y"])
    )
    pq.write_table(extra, f"{sf}/orders.parquet")
    with pytest.raises(ValueError, match="o_comment"):
        load_table(spark, "orders", sf)


def test_memo_follows_session_inference_conf(spark):
    """A session that infers tz-naive timestamps as ``timestamp`` reads
    orders.o_orderdate that way; the default session still reads it as
    ``timestamp_ntz``."""
    other = spark.newSession()
    other.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    for session, want in ((spark, "timestamp_ntz"), (other, "timestamp"), (spark, "timestamp_ntz")):
        df = load_table(session, "orders", SF_DIRS[0])
        assert df.schema["o_orderdate"].dataType.simpleString() == want


def test_memo_keeps_one_entry_per_path(spark, tmp_path):
    """After several rewrites of one table, the memo holds one entry
    for it: the current file version's."""
    for n_rows in range(1, 5):
        load_table(spark, "orders", _orders(tmp_path, n_rows=n_rows))
    path = os.path.abspath(f"{tmp_path}/orders.parquet")
    held = [
        files
        for (files, _conf), _read in catalog._resolved.values()
        if any(part == path for part, _size, _mtime in files)
    ]
    assert held == [catalog.file_version(path)]


def test_contract_checked_at_load(spark, tmp_path):
    """A table that breaks the testdata contract fails at load, naming
    the column, on every call: a failing check is not memoised."""
    table = pq.read_table(f"{SF_DIRS[0]}/lineitem.parquet")
    i = table.schema.get_field_index("l_linenumber")
    table = table.set_column(
        i, "l_linenumber", table.column(i).cast(pa.int64())
    )
    pq.write_table(table, str(tmp_path / "lineitem.parquet"))
    for _ in range(2):
        with pytest.raises(ValueError, match="lineitem.l_linenumber"):
            load_table(spark, "lineitem", str(tmp_path))
