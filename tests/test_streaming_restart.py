"""Checkpoint-restart semantics of the streaming path.

A production stream dies and restarts; Spark's checkpoint must carry
the file-source progress so already-processed input is never
re-emitted (exactly-once into the sink given idempotent/append sinks
and a deterministic query). This is infrastructure behavior the
per-query oracle checks can't see — a restart that reprocessed old
files would still hash-match any single run.
"""

from __future__ import annotations

import os

import pytest

from bigdatafinalproject_hockey_spark.catalog import events_source, load_table

SF_DIR = "/root/testdata/sf0.001"


def _run_to_completion(spark, stage: str, checkpoint: str, out: str) -> None:
    schema, decode = events_source(os.path.join(SF_DIR, "events.parquet"))
    stream = decode(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    ).select("event_id", "user_id", "value")
    q = (
        stream.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def test_restart_from_checkpoint_never_reprocesses(spark, tmp_path):
    stage = str(tmp_path / "stage")
    checkpoint = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    os.makedirs(stage)
    src = os.path.join(SF_DIR, "events.parquet")
    n = load_table(spark, "events", SF_DIR).count()

    # run 1: one copy of the table
    os.symlink(src, os.path.join(stage, "events_0.parquet"))
    _run_to_completion(spark, stage, checkpoint, out)
    assert spark.read.parquet(out).count() == n

    # crash + restart: two NEW copies arrive; the old file is still
    # listed in the directory but the checkpoint must skip it
    os.symlink(src, os.path.join(stage, "events_1.parquet"))
    os.symlink(src, os.path.join(stage, "events_2.parquet"))
    _run_to_completion(spark, stage, checkpoint, out)

    got = spark.read.parquet(out)
    # 3 copies of every event — NOT 4 (a re-read of events_0 after
    # restart would show up as a fourth)
    assert got.count() == 3 * n
    per_id = got.groupBy("event_id").count().select("count").distinct().collect()
    assert [r["count"] for r in per_id] == [3]


def test_left_outer_flush_rerun_idempotent(spark):
    """The flush-batch staging (read_events_stream_with_flush) is
    created on first use and reused after; a second invocation of the
    left-outer join must see the identical staged source and produce
    the identical result — and the outer semantics must actually
    fire (some clicks with zero purchases in the window)."""
    from bigdatafinalproject_hockey_spark.queries import QUERIES

    q = QUERIES["stream_stream_left_outer"]
    a = sorted(map(tuple, q(spark, SF_DIR).collect()))
    b = sorted(map(tuple, q(spark, SF_DIR).collect()))
    assert a == b
    assert any(r[2] == 0 for r in a), "no unmatched clicks emitted"
    assert all(r[0] >= 0 for r in a), "flush sentinel leaked into output"


def test_stage_source_links_owns_directory(tmp_path, monkeypatch):
    """A stream stage is a sidecar-store entry holding EXACTLY one flat
    symlink per source part file (FileStreamSource does not recurse,
    and an extra link would double-ingest every event): a single-file
    source gives one link, a directory of part files one link per
    part. A second call reuses the published entry."""
    import shutil

    from bigdatafinalproject_hockey_spark import sidecar
    from bigdatafinalproject_hockey_spark.streaming import (
        _stage_source_links,
        _stage_stream_dir,
    )

    monkeypatch.setattr(sidecar, "ROOT", str(tmp_path / "store"))
    src = os.path.join(SF_DIR, "events.parquet")
    stage = _stage_stream_dir(SF_DIR)
    assert sorted(os.listdir(stage)) == ["events_00000.parquet"]
    assert os.path.realpath(os.path.join(stage, "events_00000.parquet")) == src
    assert _stage_stream_dir(SF_DIR) == stage
    assert os.listdir(sidecar.ROOT) == [os.path.basename(stage)]

    table = tmp_path / "events_dir.parquet"
    table.mkdir()
    for i in range(2):
        shutil.copyfile(src, table / f"part-{i}.parquet")
    multi = tmp_path / "multi"
    multi.mkdir()
    _stage_source_links(str(multi), {"a": str(table), "b": src})
    assert sorted(os.listdir(multi)) == [
        "a_00000.parquet",
        "a_00001.parquet",
        "b_00000.parquet",
    ]
    assert os.path.realpath(multi / "a_00001.parquet") == str(table / "part-1.parquet")


def test_upsert_crash_between_writes_then_replay(spark, tmp_path):
    """Batch-id-keyed overwrite safety (VERDICT r4 item 4a): a batch
    that crashed AFTER its sink write but BEFORE its index write is
    replayed by the checkpoint; the replay must overwrite its own
    directories and the final sink must hold each key exactly once."""
    from bigdatafinalproject_hockey_spark.streaming import _novel_rows

    sink = str(tmp_path / "sink")
    index = str(tmp_path / "idx")
    events = load_table(spark, "events", SF_DIR).select(
        "event_id", "user_id", "value"
    )
    b0 = events.limit(100)
    b1 = events.limit(150)  # overlaps b0's keys: 50 novel

    def write_batch(df, bid, crash_before_index=False):
        b = _novel_rows(spark, df, index, ["event_id"], bid)
        b.persist()
        b.write.mode("overwrite").parquet(f"{sink}/ingest_batch={bid}")
        if not crash_before_index:
            b.select("event_id").write.mode("overwrite").parquet(
                f"{index}/ingest_batch={bid}"
            )
        b.unpersist()

    write_batch(b0, 0)
    write_batch(b1, 1, crash_before_index=True)  # crash window
    write_batch(b1, 1)  # checkpoint replay of the same batch id
    got = spark.read.parquet(sink)
    assert got.count() == 150
    assert got.select("event_id").distinct().count() == 150


def test_upsert_reconcile_heals_lost_checkpoint(spark, tmp_path):
    """reconcile_key_index (VERDICT r4 item 4a, the no-replay window):
    sink batch dir exists, index twin missing, checkpoint gone so the
    batch never replays. Without reconciliation a later batch carrying
    the same keys re-appends them; with it they are filtered."""
    from bigdatafinalproject_hockey_spark.streaming import (
        _novel_rows,
        reconcile_key_index,
    )

    sink = str(tmp_path / "sink")
    index = str(tmp_path / "idx")
    events = load_table(spark, "events", SF_DIR).select(
        "event_id", "user_id", "value"
    )
    b0 = events.limit(100)

    # batch 0 crashed between writes; checkpoint was then lost
    _novel_rows(spark, b0, index, ["event_id"], 0).write.mode(
        "overwrite"
    ).parquet(f"{sink}/ingest_batch=0")
    assert not os.path.isdir(f"{index}/ingest_batch=0")

    healed = reconcile_key_index(spark, sink, index, ["event_id"])
    assert healed == [0]
    # idempotent: second call finds nothing to heal
    assert reconcile_key_index(spark, sink, index, ["event_id"]) == []

    # a NEW batch (fresh checkpoint numbering) re-delivers b0's keys
    b = _novel_rows(spark, b0, index, ["event_id"], None)
    assert b.count() == 0, "healed index failed to filter re-delivered keys"
