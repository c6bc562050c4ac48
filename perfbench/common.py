"""Shared harness pieces: pinned deployment settings, the Spark session,
process-tree RSS sampling, percentiles, event-log task metrics and the
result line.

Everything the benchmark writes lives under ``perfbench/.work`` in the
checkout it runs from; the directory is recreated at the start of a run
and removed at the end.
"""

from __future__ import annotations

import glob
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from collections import defaultdict

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(BENCH_DIR, ".work")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment(driver_memory: str) -> None:
    """Pin every setting ``session.get_spark`` reads from the environment,
    so a parent commit and a change run with identical deployment settings
    whatever the calling shell exports. Must run before pyspark starts."""
    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(WORK, d))
    for k in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_EXECUTOR_MEMORY",
              "SPARK_GRAFT_MAX_PARTITION_BYTES", "SPARK_GRAFT_ARROW_BATCH",
              "PYSPARK_SUBMIT_ARGS", "SPARK_CONF_DIR"):
        os.environ.pop(k, None)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc()),
        "SPARK_DRIVER_MEMORY": driver_memory,
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(WORK, "spark-local"),
        "OPENBLAS_NUM_THREADS": "1",
        "OMP_NUM_THREADS": "1",
        "TMPDIR": os.path.join(WORK, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def spark_conf(event_log: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # the heap starts at its maximum: left to grow on demand, the JVM's
        # resident size varied by 1.5x between runs of the same input
        "spark.driver.extraJavaOptions":
            f"-Xms{os.environ['SPARK_DRIVER_MEMORY']} "
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} "
            f"-Dderby.system.home={WORK}",
    }
    if event_log:
        ev = os.path.join(WORK, "eventlog")
        os.makedirs(ev, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": ev,
                     "spark.eventLog.compress": "false"})
    return conf


def start_spark(app: str, master: str | None = None, event_log: bool = False):
    """(spark, seconds) through the product's own session factory."""
    from openlogparse_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app, master=master, extra_conf=spark_conf(event_log))
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


# ---------------------------------------------------------------- processes

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids[ppid].append(int(p))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, with each page shared between
    processes (the forked Python workers) split among them, so a sum over
    the tree counts every page once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


class RssSampler:
    """Peak resident memory of this process plus every descendant (the JVM
    and its Python workers), sampled every 500 ms on a daemon thread. One
    sample reads every process's smaps_rollup, which walks its page tables:
    about 15-20 ms for the JVM, so sampling every 100 ms kept a fifth of a
    core busy beside the benchmark."""

    def __init__(self, period_s: float = 0.5):
        self.period_s = period_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_pss_bytes(p) for p in [me, *descendants(me)])
            self.peak = max(self.peak, total)
            self._stop.wait(self.period_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak / 1e6


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait until every
    child process of this interpreter has exited."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while descendants(os.getpid()):
        if time.time() > deadline:
            for pid in descendants(os.getpid()):
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        if time.time() > deadline + 10:
            raise RuntimeError("child processes did not exit")
        time.sleep(0.1)


# -------------------------------------------------------------------- stats

def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (inclusive), q in [0, 1]."""
    xs = sorted(values)
    if not xs:
        return float("nan")
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else float("nan")


# ------------------------------------------------------------ closed loops

def closed_loop(args, job) -> tuple[list[float], int]:
    """The timed window of a closed loop: call ``job()`` -> (wall, errors,
    ...) until ``args.seconds`` have passed and at least ``args.min_jobs``
    jobs ran. Returns (job walls, jobs that failed their check)."""
    walls, failed = [], 0
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < args.seconds or len(walls) < args.min_jobs:
        wall, errs = job()[:2]
        walls.append(wall)
        if errs:
            failed += 1
            print(f"timed job {len(walls)} failed its check: {errs}", file=sys.stderr)
    return walls, failed


def closed_loop_result(label: str, walls: list[float], failed: int, rows: int,
                       parts: dict, checks: dict, warm_errors: list[str],
                       peak_mb: float):
    """(correct, attempted, failed, end-to-end metrics) of a closed loop.
    Every row of a job waits the job's whole wall time, so the lag
    percentiles are those of the job walls."""
    if warm_errors:
        print(f"warm-up jobs failed their checks: {warm_errors}", file=sys.stderr)
    n = len(walls)
    print(f"{label}: {n} timed jobs {[round(w, 3) for w in walls]}, "
          f"{rows} input rows each; set-up {parts}")
    print("checks: " + " ".join(f"{k}={v}" for k, v in sorted(checks.items())))
    metrics = {
        "setup_s": sum(parts.values()),
        "job_s_p50": median(walls),
        "rows_per_s": rows * n / sum(walls),
        "lag_p50_s": median(walls),
        "lag_p90_s": quantile(walls, 0.9),
        "ok_ratio": (n - failed) / n,
        "peak_rss_mb": peak_mb,
    }
    return failed == 0 and not warm_errors, n, failed, metrics


# ---------------------------------------------------- event-log task metrics

TASK_METRICS = ("task_s", "shuffle_mb", "spill_mb", "task_skew")


def eventlog_task_metrics(event_dir: str, rename: dict[str, str] | None = None
                          ) -> dict[str, dict]:
    """Per job group: summed executor run time, shuffle bytes written,
    bytes spilled, task skew (the largest max/median task duration of any
    stage) and failed tasks. Reads every event log under ``event_dir``;
    ``rename`` maps job groups onto layer names (a streaming query tags its
    jobs with its run id)."""
    rename = rename or {}
    stage_group: dict[int, str] = {}
    tasks: dict[int, list[tuple[float, float, float, float, bool]]] = defaultdict(list)
    for path in glob.glob(os.path.join(event_dir, "**"), recursive=True):
        if not os.path.isfile(path) or "appstatus" in os.path.basename(path):
            continue
        with open(path) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = rename.get(group, group or "untagged")
                elif kind == "SparkListenerTaskEnd":
                    info = ev["Task Info"]
                    tm = ev.get("Task Metrics") or {}
                    sw = tm.get("Shuffle Write Metrics") or {}
                    tasks[ev["Stage ID"]].append((
                        (info["Finish Time"] - info["Launch Time"]) / 1000.0,
                        (tm.get("Executor Run Time") or 0) / 1000.0,
                        (sw.get("Shuffle Bytes Written") or 0) / 1e6,
                        (tm.get("Disk Bytes Spilled") or 0) / 1e6,
                        bool(info.get("Failed")) or (ev.get("Task End Reason") or {})
                        .get("Reason", "Success") != "Success",
                    ))
    out: dict[str, dict] = defaultdict(
        lambda: dict.fromkeys((*TASK_METRICS, "failed_tasks"), 0.0))
    for sid, ts in tasks.items():
        g = out[stage_group.get(sid, "untagged")]
        g["task_s"] += sum(t[1] for t in ts)
        g["shuffle_mb"] += sum(t[2] for t in ts)
        g["spill_mb"] += sum(t[3] for t in ts)
        g["failed_tasks"] += sum(t[4] for t in ts)
        durs = [t[0] for t in ts]
        g["task_skew"] = max(g["task_skew"],
                             max(durs) / max(statistics.median(durs), 1e-3))
    return dict(out)


def layer_task_values(groups: dict[str, dict]) -> dict[str, float]:
    """``<layer>.<task metric>`` per job group, and ``<module>.failed_tasks``
    summed over the groups of each module (``parse``, ``route``, ...). A
    group prefix such as ``drain:`` counts towards the module after it."""
    values: dict[str, float] = {}
    for layer, m in groups.items():
        values.update({f"{layer}.{k}": m[k] for k in TASK_METRICS})
        key = layer.split(":")[-1].split(".")[0] + ".failed_tasks"
        values[key] = values.get(key, 0) + m["failed_tasks"]
    return values


# ------------------------------------------------------------------- output

def emit(correct: bool, attempted: int, failed: int,
         metrics: dict[str, tuple[float, str]]) -> None:
    """Print the human-readable table, then the one-line JSON result last."""
    width = max(len(k) for k in metrics)
    for k, (v, unit) in metrics.items():
        print(f"  {k:<{width}}  {v:>14.6g} {unit}")
    print(json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": u}
                    for k, (v, u) in metrics.items()},
    }), flush=True)
