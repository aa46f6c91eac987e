"""Testdata-contract guard (VERDICT r2 item 6).

Round 2 broke silently when the driver's testdata generator changed
events.ts from int64-nanos to timestamp[us]: 17 batch queries crashed
and 6 streaming queries computed timestamps 1000x too small. These
tests make any future encoding/schema drift fail in ONE targeted
place instead of deep inside two dozen queries.
"""

import datetime

import pytest

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
