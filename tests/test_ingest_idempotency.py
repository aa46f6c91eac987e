"""Regression locks on the sidecar store and the ingest machinery:
``sidecar.cached`` builds once per input version and build version
and publishes atomically; a bucketed ingest's key covers the bucket
SPEC (not just the source files); the testdata contract guard catches
schema drift in ANY part file with exact integer widths.
"""

from __future__ import annotations

import os
import sys
import threading

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from bigdatafinalproject_hockey_spark import sidecar
from bigdatafinalproject_hockey_spark.catalog import load_table, verify_contract
from bigdatafinalproject_hockey_spark.operators.bucketing import cached_bucketed

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture
def store(tmp_path, monkeypatch) -> str:
    """An empty store root private to the test."""
    root = str(tmp_path / "store")
    monkeypatch.setattr(sidecar, "ROOT", root)
    return root


def _write_table(path: str, n: int) -> str:
    pq.write_table(pa.table({"x": pa.array(range(n), pa.int64())}), path)
    return path


def _counting_build(calls: list):
    def build(d: str) -> None:
        calls.append(d)
        with open(os.path.join(d, "out.txt"), "w") as fh:
            fh.write("built")

    return build


def test_cached_builds_once(store, tmp_path):
    src = _write_table(str(tmp_path / "t.parquet"), 3)
    calls: list = []
    first = sidecar.cached("t", [src], "v1", _counting_build(calls))
    mtime = os.stat(first).st_mtime_ns
    second = sidecar.cached("t", [src], "v1", _counting_build(calls))
    assert second == first
    assert len(calls) == 1
    assert os.stat(second).st_mtime_ns == mtime
    with open(os.path.join(second, "out.txt")) as fh:
        assert fh.read() == "built"
    assert os.listdir(store) == [os.path.basename(first)]


def test_cached_rebuilds_on_changed_input(store, tmp_path):
    src = _write_table(str(tmp_path / "t.parquet"), 3)
    calls: list = []
    first = sidecar.cached("t", [src], "v1", _counting_build(calls))
    # same path, new size
    _write_table(src, 4)
    by_size = sidecar.cached("t", [src], "v1", _counting_build(calls))
    # same path and size, new mtime
    st = os.stat(src)
    os.utime(src, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    by_mtime = sidecar.cached("t", [src], "v1", _counting_build(calls))
    assert len({first, by_size, by_mtime}) == 3
    assert len(calls) == 3
    # a directory input is fingerprinted part by part
    table_dir = tmp_path / "dir.parquet"
    table_dir.mkdir()
    _write_table(str(table_dir / "part-0.parquet"), 2)
    one_part = sidecar.cached("t", [str(table_dir)], "v1", _counting_build(calls))
    _write_table(str(table_dir / "part-1.parquet"), 2)
    two_parts = sidecar.cached("t", [str(table_dir)], "v1", _counting_build(calls))
    assert one_part != two_parts
    assert len(calls) == 5


def test_cached_rebuilds_on_changed_version(store, tmp_path):
    src = _write_table(str(tmp_path / "t.parquet"), 3)
    calls: list = []
    v1 = sidecar.cached("t", [src], "v1", _counting_build(calls))
    v2 = sidecar.cached("t", [src], "v2", _counting_build(calls))
    assert v1 != v2
    assert len(calls) == 2
    assert sidecar.cached("t", [src], "v1", _counting_build(calls)) == v1
    assert len(calls) == 2


def test_failed_build_publishes_nothing(store, tmp_path):
    src = _write_table(str(tmp_path / "t.parquet"), 3)

    def broken(d: str) -> None:
        with open(os.path.join(d, "half.txt"), "w") as fh:
            fh.write("partial")
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError, match="build failed"):
        sidecar.cached("t", [src], "v1", broken)
    assert os.listdir(store) == []  # no entry and no leftover build dir
    calls: list = []
    path = sidecar.cached("t", [src], "v1", _counting_build(calls))
    assert len(calls) == 1
    assert os.listdir(path) == ["out.txt"]


def _run_threads(n: int, target) -> list:
    """Run ``target`` on ``n`` threads with a short switch interval;
    return the exceptions they raised."""
    errors: list = []

    def run() -> None:
        try:
            target()
        except BaseException as e:  # noqa: BLE001
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=run) for _ in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
            assert not t.is_alive()
    finally:
        sys.setswitchinterval(old)
    return errors


def test_racing_builds_share_one_complete_entry(store, tmp_path):
    """Eight threads miss the same key and build at the same time: all
    get the one published directory, complete, and the losing builds
    leave nothing behind."""
    src = _write_table(str(tmp_path / "t.parquet"), 3)
    n = 8
    all_building = threading.Barrier(n)

    def build(d: str) -> None:
        all_building.wait(timeout=30)
        for i in range(50):
            with open(os.path.join(d, f"f{i:02d}"), "w") as fh:
                fh.write(str(i))

    got: list = []
    errors = _run_threads(n, lambda: got.append(sidecar.cached("t", [src], "v1", build)))
    assert not errors
    assert len(got) == n and len(set(got)) == 1
    assert sorted(os.listdir(got[0])) == [f"f{i:02d}" for i in range(50)]
    assert os.listdir(store) == [os.path.basename(got[0])]


def test_scratch_dirs_are_fresh():
    got: list = []

    def take() -> None:
        for _ in range(20):
            got.append(sidecar.scratch("s"))

    assert not _run_threads(8, take)
    assert len(set(got)) == len(got) == 160
    assert all(os.listdir(d) == [] for d in got)
    assert len({os.path.dirname(d) for d in got}) == 1  # one per-process dir


def _bucket_files(path: str) -> set[str]:
    return {f for f in os.listdir(path) if f.endswith(".parquet")}


def test_changed_bucket_spec_reingests(spark, store):
    """Same source + changed bucket count/columns must REWRITE, not
    re-serve the old layout under new DDL."""
    df = load_table(spark, "orders", SF_DIR).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    src = [os.path.join(SF_DIR, "orders.parquet")]

    table = cached_bucketed(df, "t_reingest", src, "v1", ["o_custkey"], 4)
    path = os.path.join(store, table)
    first = _bucket_files(path)
    assert len(first) == 4

    # Unchanged spec: the data write is skipped (same files, same mtimes).
    mtimes = {f: os.path.getmtime(os.path.join(path, f)) for f in first}
    assert cached_bucketed(df, "t_reingest", src, "v1", ["o_custkey"], 4) == table
    assert _bucket_files(path) == first
    assert all(
        os.path.getmtime(os.path.join(path, f)) == mtimes[f] for f in first
    )
    assert len(os.listdir(store)) == 1

    # Changed bucket COUNT, same source: must rewrite to 8 buckets.
    by_count = cached_bucketed(df, "t_reingest", src, "v1", ["o_custkey"], 8)
    assert by_count != table
    assert len(_bucket_files(os.path.join(store, by_count))) == 8
    assert spark.table(by_count).count() == df.count()

    # Changed bucket COLUMNS, same source + count: must rewrite again.
    second = _bucket_files(os.path.join(store, by_count))
    by_cols = cached_bucketed(df, "t_reingest", src, "v1", ["o_orderkey"], 8)
    assert by_cols != by_count
    assert _bucket_files(os.path.join(store, by_cols)) != second
    for t in (table, by_count, by_cols):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_changed_projection_reingests(spark, store):
    """Same source, different projected schema: the entry's version
    folds in schema.simpleString(), so the narrower table must be
    rewritten."""
    orders = load_table(spark, "orders", SF_DIR)
    src = [os.path.join(SF_DIR, "orders.parquet")]
    wide = cached_bucketed(
        orders.select("o_orderkey", "o_custkey", "o_totalprice"),
        "t_proj", src, "v1", ["o_custkey"], 2,
    )
    narrow = cached_bucketed(
        orders.select("o_orderkey", "o_custkey"),
        "t_proj", src, "v1", ["o_custkey"], 2,
    )
    assert narrow != wide
    assert spark.table(narrow).columns == ["o_orderkey", "o_custkey"]
    for t in (wide, narrow):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_contract_catches_drift_in_later_part(tmp_path):
    """verify_contract must inspect EVERY part footer: a table whose
    first part is clean but whose second part drifted (int32 where the
    contract says int64) must fail loudly."""
    path = str(tmp_path / "region.parquet")
    os.makedirs(path)
    good = pa.table(
        {
            "r_regionkey": pa.array([1], type=pa.int32()),
            "r_name": pa.array(["AMERICA"], type=pa.string()),
        }
    )
    drifted = pa.table(
        {
            "r_regionkey": pa.array([2], type=pa.int64()),  # int32 expected
            "r_name": pa.array(["ASIA"], type=pa.string()),
        }
    )
    # part order is lexicographic — the clean part sorts FIRST, so a
    # first-part-only check would pass this fixture
    pq.write_table(good, os.path.join(path, "part-000.parquet"))
    pq.write_table(drifted, os.path.join(path, "part-001.parquet"))
    with pytest.raises(ValueError, match="r_regionkey"):
        verify_contract("region", path)
    # and the clean-only directory passes
    os.remove(os.path.join(path, "part-001.parquet"))
    verify_contract("region", path)


def test_contract_rejects_loose_integer_width(tmp_path):
    """IntegerType means int32 exactly — an int64 column that merely
    'fits' the integer family must not pass."""
    path = str(tmp_path / "nation.parquet")
    os.makedirs(path)
    t = pa.table(
        {
            "n_nationkey": pa.array([1], type=pa.int64()),  # int32 expected
            "n_name": pa.array(["FRANCE"], type=pa.string()),
            "n_regionkey": pa.array([1], type=pa.int32()),
        }
    )
    pq.write_table(t, os.path.join(path, "part-000.parquet"))
    with pytest.raises(ValueError, match="n_nationkey"):
        verify_contract("nation", path)
# Queries that write into a per-call scratch directory and return a
# lazy reader of it.
SCRATCH_QUERIES = [
    "scan_csv_roundtrip",
    "scan_jsonl_roundtrip",
    "scan_text_roundtrip",
    "scan_orc_roundtrip",
    "sink_parquet_partitioned",
    "sink_parquet_compacted",
    "scan_schema_evolution",
    "mv_incremental_agg",
    "mv_incremental_join",
    "stream_scd2_cdc",
    "stream_fanout_multi_sink",
    "stream_foreachbatch_upsert",
    "stream_late_data_accounting",
]


@pytest.mark.parametrize("name", SCRATCH_QUERIES)
def test_second_call_keeps_first_callers_data(spark, name):
    """A later call must not rewrite the files under an earlier
    caller's lazy reader: build the query twice, then collect the
    FIRST frame."""
    from bigdatafinalproject_hockey_spark.queries import ORACLE_SQL, QUERIES
    from tests.oracle_utils import compare_frames, duckdb_conn

    first = QUERIES[name](spark, SF_DIR)
    QUERIES[name](spark, SF_DIR)
    compare_frames(
        first.toPandas(), duckdb_conn(SF_DIR).execute(ORACLE_SQL[name]).df(), name
    )


def test_concurrent_callers_match_oracle(spark, store):
    """Two threads on one session, starting from an empty store, each
    run two write-then-read queries and a first-call sidecar query
    three times; every result must equal the oracle."""
    from bigdatafinalproject_hockey_spark.queries import ORACLE_SQL, QUERIES
    from tests.oracle_utils import compare_frames, duckdb_conn

    names = ["scan_csv_roundtrip", "scan_jsonl_roundtrip", "join_dpp"]
    con = duckdb_conn(SF_DIR)
    want = {n: con.execute(ORACLE_SQL[n]).df() for n in names}
    results: list = []

    def client() -> None:
        for _ in range(3):
            for n in names:
                results.append((n, QUERIES[n](spark, SF_DIR).toPandas()))

    errors = _run_threads(2, client)
    assert not errors, errors
    assert len(results) == 2 * 3 * len(names)
    for n, got in results:
        compare_frames(got, want[n], n)


def test_refreshed_inputs_are_not_served_stale(spark, store, tmp_path):
    """Rewriting a table in place must rebuild the sidecars derived
    from it: each result equals the oracle on the files as they are
    now."""
    import shutil

    from bigdatafinalproject_hockey_spark.queries import ORACLE_SQL, QUERIES
    from tests.oracle_utils import TABLES, compare_frames, duckdb_conn

    sf = tmp_path / "sf"
    sf.mkdir()
    for t in TABLES:
        shutil.copyfile(os.path.join(SF_DIR, f"{t}.parquet"), sf / f"{t}.parquet")
    names = ["stream_late_data_accounting", "join_dpp"]

    def check() -> None:
        con = duckdb_conn(str(sf))
        for n in names:
            compare_frames(
                QUERIES[n](spark, str(sf)).toPandas(),
                con.execute(ORACLE_SQL[n]).df(),
                n,
            )

    check()
    for table, key in (("events", "event_id"), ("orders", "o_orderkey")):
        path = str(sf / f"{table}.parquet")
        t = pq.read_table(path)
        keep = pa.array([k % 3 != 0 for k in t.column(key).to_pylist()])
        pq.write_table(t.filter(keep), path)
    check()
