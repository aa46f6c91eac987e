#!/usr/bin/env python3
"""Regression benchmark for the engine.

    python3 perfbench/run.py --workload hockey_pipeline --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed``
under ``perfbench/.work`` (not timed), the engine is driven through its
public entry points only, and the last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones. perfbench/README.md defines every metric.
"""

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
PACKAGE = "bigdatafinalproject_hockey_spark"
WORKLOADS = ("hockey_pipeline", "driver_mix")


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def _parents() -> dict[int, int]:
    parent = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    parent[int(pid)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    return parent


def descendants() -> list[int]:
    parent = _parents()
    out, frontier = [], [os.getpid()]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p:
                out.append(c)
                frontier.append(c)
    return out


class RssSampler(threading.Thread):
    """Peak of the summed resident set of this process and all of its
    descendants (Python driver, JVM, Python workers), sampled twice a
    second."""

    def __init__(self, period=0.5):
        super().__init__(daemon=True)
        self.period, self.peak, self.done = period, 0, threading.Event()
        self.page = os.sysconf("SC_PAGE_SIZE")

    def tree_rss(self) -> int:
        total = 0
        for pid in [os.getpid(), *descendants()]:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self.page
            except (OSError, IndexError, ValueError):
                pass
        return total

    def run(self):
        while not self.done.is_set():
            self.peak = max(self.peak, self.tree_rss())
            self.done.wait(self.period)

    def stop(self):
        self.done.set()
        self.join()


def setup_environment() -> None:
    for d in ("spark-local", "tmp", "data"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    for d in ("sidecar", "out", "eventlog", "warehouse"):
        shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
        os.makedirs(os.path.join(WORK, d))
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # session.py defaults to a 16g heap; pin one that fits a shared box.
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # Every JVM (the spark-submit launcher too) keeps its temp files in
    # the checkout and writes no perf-data file to /tmp.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(WORK, 'tmp')}"
    # Python workers import the engine too.
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)


def session_conf(event_log: bool) -> dict:
    conf = {
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # A fixed-size heap: without it G1's resizing decisions, which
        # depend on GC timing, moved peak RSS by 15-20% between runs.
        "spark.driver.extraJavaOptions": "-Xms2g",
    }
    if event_log:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(WORK, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    return conf


def versions(spark) -> dict:
    java = spark.sparkContext._jvm.java.lang.System.getProperty("java.version")
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "python": platform.python_version(),
        "spark": spark.version,
        "java": java,
        **{k: v for k, v in sorted(os.environ.items()) if k.startswith("SPARK_GRAFT_")},
    }


def wait_for_children(timeout=30.0) -> None:
    deadline = time.time() + timeout
    while descendants() and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendants():
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    while descendants():
        time.sleep(0.1)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        log(f"{PACKAGE}/ not found next to perfbench/: run from a full checkout")
        return 2

    # Standard output carries only the final JSON line; whatever the
    # engine or the JVM prints goes to standard error.
    result_fd = os.dup(1)
    os.dup2(2, 1)
    sys.stdout = sys.stderr

    setup_environment()
    kind = "hockey" if args.workload == "hockey_pipeline" else "tables"
    t_gen = time.time()
    gen = subprocess.run(
        [sys.executable, os.path.join(HERE, "gen.py"), kind, str(args.seed), os.path.join(WORK, "data")],
        check=True, stdout=subprocess.PIPE, text=True,
    )
    gen_s = time.time() - t_gen
    data_dir, sizes = json.loads(gen.stdout.strip().splitlines()[-1])
    log(f"inputs {data_dir} {sizes} (generated in {gen_s:.1f}s, not timed)")

    from workloads import run_workload  # imports the engine

    rss = RssSampler()
    rss.start()
    try:
        res = run_workload(args, data_dir, sizes, session_conf, T_PROCESS, gen_s, versions)
    finally:
        rss.stop()
        wait_for_children()
    tally = res["tally"]
    if args.trace:
        metrics = res["per_layer"]
    else:
        metrics = res["end_to_end"]
        metrics["peak_rss_mb"] = {"value": round(rss.peak / 2**20, 3), "unit": "MB"}
    log("environment", json.dumps(res["env"]))
    log(f"failed_ops_ratio {tally.failed / max(tally.attempted, 1)} ({tally.failed}/{tally.attempted})")
    for e in tally.errors:
        log("failure:", e)
    line = json.dumps({
        "correct": bool(res["ok"]) and tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": metrics,
    })
    os.write(result_fd, (line + "\n").encode())
    os.close(result_fd)
    return 0


if __name__ == "__main__":
    sys.exit(main())
