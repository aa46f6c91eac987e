"""Per-layer tracing for the benchmark's traced runs.

Two sources, both driven from benchmark code only:

* Spans: ``Tracer.patch`` swaps a public engine function for a timing
  wrapper everywhere it is bound (its defining module and every module
  that imported it by name). Each span also tags the Spark jobs it
  launches with ``setJobGroup(<span name>)`` so the event log can be
  read per layer.
* Spark's event log, switched on through ``get_session(extra_conf=...)``
  with compression off and parsed after the session stops.
"""

from __future__ import annotations

import collections
import functools
import json
import os
import sys
import time

PACKAGE = "bigdatafinalproject_hockey_spark"


class Tracer:
    def __init__(self):
        self.enabled = False
        self.spark = None
        self.totals = collections.Counter()  # span name -> seconds
        self.calls = collections.Counter()  # span name -> calls
        self._patched: list[tuple[object, str, object]] = []

    def reset(self) -> None:
        self.totals.clear()
        self.calls.clear()

    def span(self, name: str):
        return _Span(self, name)

    def patch(self, module, attr: str, name: str) -> None:
        """Wrap ``module.attr`` in a span named ``name`` wherever the
        package has bound that function."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        for mod in list(sys.modules.values()):
            if mod is None or not getattr(mod, "__name__", "").startswith(PACKAGE):
                continue
            for key, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, key, wrapper)
                    self._patched.append((mod, key, orig))

    def unpatch(self) -> None:
        for mod, key, orig in reversed(self._patched):
            setattr(mod, key, orig)
        self._patched.clear()


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.t, self.name = tracer, name

    def __enter__(self):
        t = self.t
        if not t.enabled:
            return self
        self.prev = None
        if t.spark is not None:
            sc = t.spark.sparkContext
            self.prev = sc.getLocalProperty("spark.jobGroup.id")
            sc.setJobGroup(self.name, self.name)
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        t = self.t
        if not t.enabled:
            return False
        dt = time.perf_counter() - self.t0
        t.totals[self.name] += dt
        t.calls[self.name] += 1
        if t.spark is not None:
            sc = t.spark.sparkContext
            sc.setLocalProperty("spark.jobGroup.id", self.prev)
            sc.setLocalProperty("spark.job.description", self.prev)
        return False


# --- event log ---------------------------------------------------------

# SQL metric (accumulable) names summed over completed stages; the key
# suffix is the unit Spark reports them in.
ACCUMULABLES = {
    "scan time": "scan_ms",
    "sort time": "sort_ms",
    "time in aggregation build": "agg_build_ms",
    "spill size": "spill_bytes",
    "peak memory": "peak_memory_bytes",
    "data sent to Python workers": "py_bytes_sent",
    "time to start Python workers": "py_start_ms",
    "time to run Python workers": "py_run_ms",
}
EXCHANGE_NODES = {"Exchange", "BroadcastExchange"}


def _count_exchanges(plan: dict) -> int:
    n = 1 if plan.get("nodeName") in EXCHANGE_NODES else 0
    return n + sum(_count_exchanges(c) for c in plan.get("children", []))


def event_log_files(log_dir: str, app_id: str) -> list[str]:
    """The application's log: one file, or the parts of a rolling log."""
    path = os.path.join(log_dir, app_id)
    if os.path.isfile(path):
        return [path]
    rolled = os.path.join(log_dir, f"eventlog_v2_{app_id}")
    if os.path.isdir(rolled):
        parts = [f for f in os.listdir(rolled) if f.startswith("events_")]
        return [os.path.join(rolled, f) for f in sorted(parts, key=lambda f: int(f.split("_")[1]))]
    raise FileNotFoundError(f"no event log for {app_id} under {log_dir}")


def _events(paths: list[str]):
    for path in paths:
        with open(path) as f:
            for line in f:
                yield json.loads(line)


def parse_event_log(paths: list[str], t0_ms: float, t1_ms: float) -> dict:
    """Sum task, stage, job and plan metrics of everything that STARTED
    inside the wall-clock window [t0_ms, t1_ms]."""
    jobs: dict[int, dict] = {}
    stage_time: dict[int, float] = {}
    plans: dict[int, dict] = {}
    exec_time: dict[int, float] = {}
    m = collections.Counter()
    peak_task_mem = 0
    tasks = []
    for ev in _events(paths):
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            jobs[ev["Job ID"]] = {"start": ev["Submission Time"], "end": None}
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            stage_time[info["Stage ID"]] = info.get("Submission Time") or 0
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            t = info.get("Submission Time") or stage_time.get(info["Stage ID"], 0)
            if not (t0_ms <= t <= t1_ms):
                continue
            m["stages"] += 1
            for acc in info.get("Accumulables", []):
                key = ACCUMULABLES.get(acc.get("Name"))
                if key is None:
                    continue
                try:
                    v = float(acc.get("Value", 0))
                except (TypeError, ValueError):
                    continue
                if key == "peak_memory_bytes":
                    m[key] = max(m[key], v)
                else:
                    m[key] += v
        elif kind == "SparkListenerTaskEnd":
            tasks.append(ev)
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            exec_time[ev["executionId"]] = ev.get("time", 0)
            plans[ev["executionId"]] = ev.get("sparkPlanInfo", {})
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            plans[ev["executionId"]] = ev.get("sparkPlanInfo", {})
    for ev in tasks:
        info = ev.get("Task Info", {})
        if not (t0_ms <= info.get("Launch Time", 0) <= t1_ms):
            continue
        m["tasks"] += 1
        if ev.get("Task End Reason", {}).get("Reason") != "Success":
            m["task_failures"] += 1
        tm = ev.get("Task Metrics") or {}
        m["task_run_ms"] += tm.get("Executor Run Time", 0)
        m["task_cpu_ns"] += tm.get("Executor CPU Time", 0)
        m["gc_ms"] += tm.get("JVM GC Time", 0)
        m["task_spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
        peak_task_mem = max(peak_task_mem, tm.get("Peak Execution Memory", 0))
        sr = tm.get("Shuffle Read Metrics") or {}
        m["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        m["fetch_wait_ms"] += sr.get("Fetch Wait Time", 0)
        sw = tm.get("Shuffle Write Metrics") or {}
        m["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        im = tm.get("Input Metrics") or {}
        m["input_bytes"] += im.get("Bytes Read", 0)
        m["input_records"] += im.get("Records Read", 0)
        om = tm.get("Output Metrics") or {}
        m["output_bytes"] += om.get("Bytes Written", 0)
    # jobs inside the window, and the union of their busy intervals
    spans = []
    for j in jobs.values():
        if t0_ms <= j["start"] <= t1_ms:
            m["jobs"] += 1
            spans.append((j["start"], min(j["end"] or t1_ms, t1_ms)))
    busy, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(spans):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                busy += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        busy += cur_e - cur_s
    m["job_busy_ms"] = busy
    m["exchanges"] = sum(
        _count_exchanges(p) for eid, p in plans.items() if t0_ms <= exec_time.get(eid, 0) <= t1_ms
    )
    m["peak_memory_bytes"] = max(m["peak_memory_bytes"], peak_task_mem)
    return dict(m)
