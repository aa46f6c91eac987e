"""The two workloads, their correctness gates and their metrics.

Everything here drives the engine through its public entry points:
``__main__.main``, ``queries.QUERIES[name]`` and ``session.get_session``.
"""

from __future__ import annotations

import importlib
import json
import math
import os
import random
import statistics
import sys
import time

import duckdb
import pyarrow.parquet as pq

from bigdatafinalproject_hockey_spark import __main__ as cli
from bigdatafinalproject_hockey_spark import catalog, session
from bigdatafinalproject_hockey_spark.queries import ORACLE_SQL, QUERIES
from bigdatafinalproject_hockey_spark.sources import csv as csv_source

from spans import Tracer, event_log_files, parse_event_log

PACKAGE = "bigdatafinalproject_hockey_spark"
HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(HERE, ".work")

# Registry queries that build a persistent sidecar on their first call
# and reuse it afterwards, whoever built it. No workload runs them.
FIRST_CALL_SIDECAR = frozenset("""
agg_sketch_rollup graph_pagerank graph_triangle_count join_bucketed join_dpp
pipeline_embedding_curation scan_binary_files scan_csv_quarantine
scan_files_pruned scan_rowgroups_pruned sim_ann_ivfpq_fitted
stream_dedup_within_watermark stream_stream_left_outer stream_tumbling_agg
""".split())

# driver_mix. Reads: small oracle-backed queries, from every queries/
# module but graph (its one query outside FIRST_CALL_SIDECAR takes 2.5 s
# a call on a 4-core box). Writes: queries that rewrite their store and
# return the same rows on every call. Curation: text functions and the
# Arrow-worker extraction step of the corpus pipeline.
READ_QUERIES = (
    "join_equi_3key", "win_expanding_avg",  # core
    "agg_histogram",  # analytics
    "agg_rollup",  # scale
    "sessionize_events",  # advanced
    "text_token_count", "dedup_exact",  # extensions
)
WRITE_QUERIES = ("scan_csv_roundtrip", "scan_jsonl_roundtrip")
CURATION_QUERIES = ("pipeline_document_curation", "text_normalize_unicode")

# Module-level sidecar directories, redirected into the checkout.
SIDECAR_ATTRS = (
    ("queries.advanced", "TMP_DIR"),
    ("queries.analytics", "TMP_DIR"),
    ("queries.curation", "TMP_DIR"),
    ("queries.graph", "TMP_DIR"),
    ("queries.scale", "TMP_DIR"),
    ("streaming", "_TMP"),
)

# Passes still drift down a few percent each on a 4-core box long after
# the first one; a run cannot afford to wait that out, so every run
# follows the same fixed protocol and parent and change drift alike.
WARMUP_PASSES = 1
MIN_TIMED_PASSES = 3


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Tally:
    """Calls attempted and calls that raised or failed their check."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def record(self, ok: bool, what: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(what)
        return ok


def _norm_cell(x) -> str:
    if x is None:
        return "~"
    if isinstance(x, float):
        if math.isnan(x):
            return "~"
        if x == int(x) and abs(x) < 1e15:
            return f"f:{int(x)}"
        return f"f:{x!r}"
    if hasattr(x, "isoformat"):
        import pandas as pd

        return f"t:{pd.Timestamp(x).isoformat()}"
    if isinstance(x, int):
        return f"i:{x}"
    return f"s:{x}"


def fingerprint(pdf) -> tuple[int, list[str], int]:
    """Row count, sorted column names and an order-insensitive hash of
    the normalized cells (the comparison of tests/oracle_utils.py)."""
    cols = sorted(pdf.columns)
    rows = sorted(
        "\x1f".join(_norm_cell(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    )
    return len(rows), cols, hash("\x1e".join(rows))


def sidecar_snapshot(root: str) -> set:
    out = set()
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            path = os.path.join(dirpath, name)
            try:
                st = os.stat(path)
            except OSError:
                continue
            out.add((os.path.relpath(path, root), st.st_size, st.st_mtime_ns))
    return out


# --- hockey_pipeline ---------------------------------------------------

HOCKEY_MEASURES = (
    "sum_Corsi", "sum_Fenwick", "sum_Shot", "sum_Goal", "avg_ShotDistance",
    "avg_ShotAngle", "Goal", "Win", "Points", "xG",
)


class HockeyPipeline:
    """One pass = one CLI run (``__main__.main``) over the generated
    CSVs: inference scans, normalize, aggregate, 3-key join, windows,
    home/away self-join, temporal split, parquet write, baselines."""

    def __init__(self, data_dir: str, sizes: dict, tally: Tally, tracer: Tracer):
        self.d, self.sizes, self.tally, self.tracer = data_dir, sizes, tally, tracer
        self.out = os.path.join(WORK, "out", "matchups")
        self.calls: list[tuple[str, str, float]] = []

    def result_rows(self) -> int:
        return self.sizes["games"]

    def trace_points(self):
        return [
            (csv_source, "scan_csv_infer", "sources.csv_infer"),
            (importlib.import_module(f"{PACKAGE}.pipeline"), "run_pipeline", "pipeline.run_pipeline"),
            (importlib.import_module(f"{PACKAGE}.ml"), "baselines", "ml.baselines"),
            (catalog, "load_table", "catalog.load_table"),
        ]

    def run_pass(self, spark, rng: random.Random, collect: bool = False) -> None:
        d = self.d
        argv = [
            "--events", f"{d}/events.csv", "--results", f"{d}/results.csv",
            "--team-map", f"{d}/teams.json", "--models", "", "--output", self.out,
        ]
        t0 = time.perf_counter()
        try:
            with self.tracer.span("cli.main"):
                s = cli.main(argv, spark=spark)
            g = self.sizes["games"]
            ok = (
                s["game_team_rows"] == 2 * g
                and s["matchups"] == g
                and s["train"] + s["test"] == s["matchups"]
                and s["test"] > 0
            )
            self.tally.record(ok, f"cli summary {s}")
        except Exception as e:  # noqa: BLE001
            self.tally.record(False, f"cli: {type(e).__name__}: {e}")
        self.calls.append(("cli.main", "write", time.perf_counter() - t0))

    def check(self) -> bool:
        """The written matchups' window features must equal a DuckDB
        recomputation from the generated CSVs."""
        try:
            got = pq.read_table(self.out).to_pandas()
            want = duckdb_matchups(self.d)
            ok = len(got) == len(want) == self.sizes["games"]
            merged = got.merge(want, on=["GameID"], suffixes=("", "_ref"))
            ok = ok and len(merged) == len(want)
            worst = 0.0
            for side in ("home", "away"):
                for kind in ("hist", "recent"):
                    for m in HOCKEY_MEASURES:
                        c = f"{side}_{kind}_{m}"
                        a, b = merged[c].astype(float), merged[f"{c}_ref"].astype(float)
                        worst = max(worst, float(((a - b).abs() / b.abs().clip(lower=1.0)).max()))
            ok = ok and worst < 1e-9
            return self.tally.record(ok, f"window features vs duckdb: rows {len(got)}/{len(want)}, max rel err {worst}")
        except Exception as e:  # noqa: BLE001
            return self.tally.record(False, f"check: {type(e).__name__}: {e}")


def duckdb_matchups(d: str):
    """Independent recomputation of the CLI's matchup features."""
    con = duckdb.connect()
    with open(os.path.join(d, "teams.json")) as f:
        tm = json.load(f)
    con.execute("CREATE TABLE tm(name VARCHAR, code VARCHAR)")
    con.executemany("INSERT INTO tm VALUES (?, ?)", list(tm.items()))
    csv = "header=true, all_varchar=true, delim=',', quote='\"'"
    feats = ",\n".join(
        f"COALESCE(AVG({m}) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0) AS hist_{m},\n"
        f"COALESCE(AVG({m}) OVER (w ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING), 0.0) AS recent_{m}"
        for m in HOCKEY_MEASURES
    )
    pick = lambda side: ", ".join(  # noqa: E731
        f"{side}.{k}_{m} AS {side}_{k}_{m}_ref" for k in ("hist", "recent") for m in HOCKEY_MEASURES
    )
    sql = f"""
    WITH r AS (
      SELECT CAST("Game Id" AS BIGINT) AS GameID, CAST(Season AS INT) AS Season,
             CAST(strptime(Date, '%m/%d/%Y') AS DATE) AS Date,
             trim(regexp_replace(Ev_Team, '\\s+', ' ', 'g')) AS nt,
             CAST(Is_Home AS INT) AS Is_Home, CAST(Goal AS DOUBLE) AS Goal,
             CAST(Win AS DOUBLE) AS Win, CAST(Points AS DOUBLE) AS Points, CAST(xG AS DOUBLE) AS xG
      FROM read_csv('{d}/results.csv', {csv})
    ), rt AS (
      SELECT r.*, COALESCE(tm.code, regexp_replace(upper(r.nt), '[^A-Z]', '', 'g')) AS TeamCode
      FROM r LEFT JOIN tm ON tm.name = r.nt
    ), e AS (
      SELECT CAST(GameID AS BIGINT) AS GameID, CAST(Season AS INT) AS Season,
             trim(regexp_replace(EventTeam, '\\s+', ' ', 'g')) AS nt,
             TRY_CAST(Corsi AS DOUBLE) AS Corsi, TRY_CAST(Fenwick AS DOUBLE) AS Fenwick,
             TRY_CAST(Shot AS DOUBLE) AS Shot, TRY_CAST(Goal AS DOUBLE) AS Goal,
             TRY_CAST(ShotDistance AS DOUBLE) AS ShotDistance, TRY_CAST(ShotAngle AS DOUBLE) AS ShotAngle
      FROM read_csv('{d}/events.csv', {csv})
    ), ea AS (
      SELECT e.GameID, e.Season,
             COALESCE(tm.code, regexp_replace(upper(e.nt), '[^A-Z]', '', 'g')) AS TeamCode,
             SUM(Corsi) AS sum_Corsi, SUM(Fenwick) AS sum_Fenwick, SUM(Shot) AS sum_Shot,
             SUM(Goal) AS sum_Goal, AVG(ShotDistance) AS avg_ShotDistance, AVG(ShotAngle) AS avg_ShotAngle
      FROM e LEFT JOIN tm ON tm.name = e.nt
      GROUP BY ALL
    ), g AS (
      SELECT rt.GameID, rt.Season, rt.TeamCode, rt.Date, rt.Is_Home, rt.Goal, rt.Win, rt.Points, rt.xG,
             ea.sum_Corsi, ea.sum_Fenwick, ea.sum_Shot, ea.sum_Goal, ea.avg_ShotDistance, ea.avg_ShotAngle
      FROM rt JOIN ea USING (GameID, Season, TeamCode)
    ), f AS (
      SELECT GameID, Season, Is_Home, {feats}
      FROM g WINDOW w AS (PARTITION BY TeamCode, Season ORDER BY Date, GameID)
    )
    SELECT home.GameID, {pick("home")}, {pick("away")}
    FROM f AS home JOIN f AS away
      ON home.GameID = away.GameID AND home.Season = away.Season
     AND home.Is_Home = 1 AND away.Is_Home = 0
    """
    return con.execute(sql).df()


# --- driver_mix --------------------------------------------------------


class DriverMix:
    """One pass = every query of the mix once, in a seeded order, each
    built through the registry and run to a noop sink."""

    def __init__(self, data_dir: str, sizes: dict, tally: Tally, tracer: Tracer):
        self.d, self.sizes, self.tally, self.tracer = data_dir, sizes, tally, tracer
        self.kind = {n: "read" for n in READ_QUERIES}
        self.kind.update({n: "write" for n in WRITE_QUERIES})
        self.kind.update({n: "curation" for n in CURATION_QUERIES})
        bad = FIRST_CALL_SIDECAR.intersection(self.kind)
        assert not bad, f"first-call-sidecar queries in the mix: {sorted(bad)}"
        self.calls: list[tuple[str, str, float]] = []
        self.collected: dict = {}
        self.rows_out = 0

    def result_rows(self) -> int:
        return self.rows_out

    def trace_points(self):
        return [(catalog, "load_table", "catalog.load_table")]

    def run_pass(self, spark, rng: random.Random, collect: bool = False) -> None:
        """``collect=True`` (the first pass only) fetches every result
        for ``check`` instead of running it to the noop sink."""
        order = list(self.kind)
        rng.shuffle(order)
        for name in order:
            t0 = time.perf_counter()
            try:
                with self.tracer.span("queries.build"):
                    df = QUERIES[name](spark, self.d)
                with self.tracer.span("queries.action"):
                    if collect:
                        self.collected[name] = df.toPandas()
                    else:
                        df.write.format("noop").mode("overwrite").save()
                self.tally.record(True)
            except Exception as e:  # noqa: BLE001
                self.tally.record(False, f"{name}: {type(e).__name__}: {str(e)[:200]}")
            self.calls.append((name, self.kind[name], time.perf_counter() - t0))

    def check(self) -> bool:
        """Every result of the first pass against its DuckDB oracle on
        the same generated tables: row count, columns and an
        order-insensitive hash of the values."""
        con = duckdb.connect()
        for t in catalog.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.d}/{t}.parquet')")
        all_ok, rows = True, 0
        for name in self.kind:
            try:
                got = fingerprint(self.collected.pop(name))
                want = fingerprint(con.execute(ORACLE_SQL[name]).df())
                ok = got == want
                rows += got[0]
                self.tally.record(ok, f"{name}: oracle mismatch rows {got[0]} vs {want[0]}, cols {got[1] == want[1]}")
            except Exception as e:  # noqa: BLE001
                ok = False
                self.tally.record(False, f"{name} check: {type(e).__name__}: {str(e)[:200]}")
            all_ok = all_ok and ok
        self.rows_out = rows
        return all_ok


# --- protocol ----------------------------------------------------------


def redirect_sidecars(path: str) -> None:
    for mod, attr in SIDECAR_ATTRS:
        setattr(importlib.import_module(f"{PACKAGE}.{mod}"), attr, path)


def cpu_steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor took from the machine between
    two readings of /proc/stat (the noise of a shared host)."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(sum(d[:8]), 1)


def proc_stat() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def timed_window(wl, spark, rng, seconds: float, min_passes: int, sidecar: str | None = None):
    """Run whole passes until ``seconds`` have elapsed and at least
    ``min_passes`` passes have run. Every pass starts from an empty
    cache: the CLI persists its intermediates and never unpersists
    them, so without this a repeated pass would read the previous
    pass's cached plan instead of redoing the work."""
    walls, changed = [], []
    first_call = len(wl.calls)
    t_start = time.perf_counter()
    while len(walls) < min_passes or time.perf_counter() - t_start < seconds:
        before = sidecar_snapshot(sidecar) if sidecar else None
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        wl.run_pass(spark, rng)
        walls.append(time.perf_counter() - t0)
        if sidecar:
            changed.append(len(before ^ sidecar_snapshot(sidecar)))
    return walls, wl.calls[first_call:], changed


def warm_up(wl, spark, rng) -> list[float]:
    """WARMUP_PASSES untimed passes after the first one."""
    walls = []
    for _ in range(WARMUP_PASSES):
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        wl.run_pass(spark, rng)
        walls.append(time.perf_counter() - t0)
    return walls


def stop_jvm(spark) -> None:
    """Stop the session, the JVM and wait for every child process."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:  # noqa: BLE001
            pass
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def run_workload(args, data_dir, sizes, session_conf, t_process, gen_s, versions) -> dict:
    tally = Tally()
    tracer = Tracer()
    sidecar = os.path.join(WORK, "sidecar")
    redirect_sidecars(sidecar)
    wl = (HockeyPipeline if args.workload == "hockey_pipeline" else DriverMix)(data_dir, sizes, tally, tracer)
    rng = random.Random(args.seed)

    t0 = time.perf_counter()
    spark = session.get_session(extra_conf=session_conf(False))
    session_s = time.perf_counter() - t0
    wl.run_pass(spark, rng, collect=True)  # first untimed pass
    setup_s = time.time() - t_process - gen_s
    env = versions(spark)
    log(f"setup_s {setup_s:.2f} (session {session_s:.2f})")

    ok = wl.check()
    warm = warm_up(wl, spark, rng)
    log("warm-up passes", [round(w, 3) for w in warm])
    # A traced run splits its window: half untraced (the reference for
    # the tracing overhead), half traced.
    seconds = args.seconds / 2 if args.trace else args.seconds
    cpu0 = proc_stat()
    walls, calls, _ = timed_window(wl, spark, rng, seconds, 1 if args.trace else MIN_TIMED_PASSES)
    run_s = median(walls)
    log("timed passes", [round(w, 3) for w in walls], f"cpu steal {cpu_steal_share(cpu0, proc_stat()):.1%}")
    res = {"ok": ok, "tally": tally, "env": env}

    if not args.trace:
        reads = [c[2] for c in calls if c[1] == "read"]
        writes = [c[2] for c in calls if c[1] == "write"]
        stop_jvm(spark)
        res["end_to_end"] = {
            "setup_s": {"value": round(setup_s, 4), "unit": "s"},
            "run_s": {"value": round(run_s, 4), "unit": "s"},
            "query_p50_s": {"value": round(median(reads or writes), 5), "unit": "s"},
            "write_p50_s": {"value": round(median(writes), 5), "unit": "s"},
        }
        return res

    # Traced phase: a fresh SparkContext with the event log on, spans on.
    spark.stop()
    spark = session.get_session(extra_conf=session_conf(True))
    app_id = spark.sparkContext.applicationId
    tracer.spark = spark
    for mod, attr, name in wl.trace_points():
        tracer.patch(mod, attr, name)
    tracer.enabled = True
    wl.run_pass(spark, rng)  # re-warm the new context
    tracer.reset()
    t0_ms = time.time() * 1000
    twalls, tcalls, changed = timed_window(wl, spark, rng, seconds, 1, sidecar)
    t1_ms = time.time() * 1000
    tracer.enabled = False
    tracer.unpatch()
    n = len(twalls)
    spans = {k: v / n for k, v in tracer.totals.items()}
    span_calls = {k: v / n for k, v in tracer.calls.items()}
    stop_jvm(spark)
    ev = parse_event_log(event_log_files(os.path.join(WORK, "eventlog"), app_id), t0_ms, t1_ms)
    window_s = (t1_ms - t0_ms) / 1000
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "1"))
    per = lambda k: ev.get(k, 0) / n  # noqa: E731
    cur = {}
    for name in CURATION_QUERIES:
        lat = [c[2] for c in tcalls if c[0] == name]
        cur[f"queries.{name}_s"] = median(lat)
    main_s = spans.get("cli.main", 0.0)
    main_self = main_s - sum(spans.get(k, 0.0) for k in ("sources.csv_infer", "pipeline.run_pipeline", "ml.baselines"))
    layer = {
        "session.start_s": (session_s, "s"),
        "catalog.load_table_s": (spans.get("catalog.load_table", 0.0), "s"),
        "catalog.load_table_calls": (span_calls.get("catalog.load_table", 0.0), "count"),
        "queries.build_s": (spans.get("queries.build", 0.0), "s"),
        "queries.action_s": (spans.get("queries.action", 0.0), "s"),
        **{k: (v, "s") for k, v in cur.items()},
        "sources.csv_infer_s": (spans.get("sources.csv_infer", 0.0), "s"),
        "pipeline.run_pipeline_s": (spans.get("pipeline.run_pipeline", 0.0), "s"),
        "cli.main_self_s": (main_self if main_s else 0.0, "s"),
        "ml.baselines_s": (spans.get("ml.baselines", 0.0), "s"),
        "sources.scan_s": (per("scan_ms") / 1000, "s"),
        "sources.input_bytes": (per("input_bytes"), "B"),
        "sources.output_bytes": (per("output_bytes"), "B"),
        "operators.aggregates.build_s": (per("agg_build_ms") / 1000, "s"),
        "operators.sort_s": (per("sort_ms") / 1000, "s"),
        "operators.spill_bytes": (per("spill_bytes") + per("task_spill_bytes"), "B"),
        "operators.peak_memory_bytes": (ev.get("peak_memory_bytes", 0), "B"),
        "python.run_s": (per("py_run_ms") / 1000, "s"),
        "python.start_s": (per("py_start_ms") / 1000, "s"),
        "python.bytes_sent": (per("py_bytes_sent"), "B"),
        "shuffle.write_bytes": (per("shuffle_write_bytes"), "B"),
        "shuffle.read_bytes": (per("shuffle_read_bytes"), "B"),
        "shuffle.fetch_wait_s": (per("fetch_wait_ms") / 1000, "s"),
        "plan.exchanges": (per("exchanges"), "count"),
        "spark.jobs": (per("jobs"), "count"),
        "spark.stages": (per("stages"), "count"),
        "spark.tasks": (per("tasks"), "count"),
        "spark.task_run_s": (per("task_run_ms") / 1000, "s"),
        "spark.task_cpu_s": (per("task_cpu_ns") / 1e9, "s"),
        "spark.gc_s": (per("gc_ms") / 1000, "s"),
        "spark.core_busy_ratio": (ev.get("task_run_ms", 0) / 1000 / (cores * window_s), "ratio"),
        "spark.driver_only_s": ((window_s * 1000 - ev.get("job_busy_ms", 0)) / 1000 / n, "s"),
        "spark.rows_read_per_row_out": (per("input_records") / max(wl.result_rows(), 1), "ratio"),
        "spark.task_failures": (ev.get("task_failures", 0), "count"),
        "sidecar.entries_changed": (sum(changed) / n, "count"),
        "trace.overhead_ratio": (median(twalls) / run_s if run_s else 0.0, "ratio"),
    }
    res["per_layer"] = {k: {"value": round(float(v), 6), "unit": u} for k, (v, u) in layer.items()}
    log("traced passes", [round(w, 3) for w in twalls])
    return res
