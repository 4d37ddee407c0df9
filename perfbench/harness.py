"""Run scaffolding shared by the workloads: the process environment, the
Spark session lifecycle, summary statistics, the memory sampler and the
contention annotations."""

from __future__ import annotations

import os
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")


def cpu_count() -> int:
    """What ``nproc`` prints: the CPUs this process may run on."""
    return len(os.sched_getaffinity(0))


def prepare_env(run_dir: str) -> None:
    """Make the package importable to Spark's Python workers from any cwd
    and keep every scratch write inside ``run_dir``. Must run before the
    JVM starts (the workers inherit this environment)."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    # no JVM writes outside run_dir: its temp dir, and no /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" pyspark-shell'
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------
def median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


class Phases:
    """Wall time of the run's phases, in call order: ``phases(name)`` ends
    the phase ``name`` that began at the previous call."""

    def __init__(self):
        self.times: dict[str, float] = {}
        self._t = time.perf_counter()

    def __call__(self, name: str) -> None:
        now = time.perf_counter()
        self.times[name] = now - self._t
        self._t = now


# ---------------------------------------------------------------------------
# peak resident memory of this process tree
# ---------------------------------------------------------------------------
def _process_tree(root_pid: int) -> dict[int, int]:
    """{pid: resident bytes} of ``root_pid`` and all its descendants."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{d}/statm") as f:
                rss[int(d)] = int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    tree, todo = {}, [root_pid]
    while todo:
        p = todo.pop()
        tree[p] = rss.get(p, 0)
        todo.extend(children.get(p, []))
    return tree


class PeakRss:
    """Samples the resident memory of this process and all its descendants
    (the JVM and the Python workers) every 0.2 s until stopped."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, sum(_process_tree(os.getpid()).values()))
            self._stop.wait(0.2)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


# ---------------------------------------------------------------------------
# contention anchors (annotations, not metrics)
# ---------------------------------------------------------------------------
_ANCHOR_TASK = """
import sys, time
import numpy as np
start_at = float(sys.argv[1])
a = np.random.default_rng(0).random((160, 160))
a @ a
while time.time() < start_at:
    time.sleep(0.005)
best = 1e9
for _ in range(3):
    t = time.perf_counter()
    for _ in range(20):
        a @ a
    best = min(best, time.perf_counter() - t)
print(best)
"""


def _anchor_batch(n: int) -> list[float]:
    env = dict(os.environ, OMP_NUM_THREADS="1", OPENBLAS_NUM_THREADS="1", MKL_NUM_THREADS="1")
    start_at = time.time() + 0.4 + 0.05 * n
    procs = [
        subprocess.Popen([sys.executable, "-c", _ANCHOR_TASK, str(start_at)], env=env,
                         stdout=subprocess.PIPE, text=True)
        for _ in range(n)
    ]
    return [float(p.communicate(timeout=60)[0]) for p in procs]


def anchor() -> dict:
    """A single-thread numpy matmul time and the ``nproc``-way parallel
    efficiency (single time over the slowest of nproc concurrent copies).
    Both are compared only with the same run's other anchor."""
    single = _anchor_batch(1)[0]
    par = _anchor_batch(cpu_count())
    return {"np_s": single, "par_eff": single / max(par)}


def degraded(start: dict, end: dict) -> bool:
    """True when the host changed under the run (numpy anchor slowed by
    half) or other load shared the cores (parallel efficiency below 0.6)."""
    return end["np_s"] > 1.5 * start["np_s"] or min(start["par_eff"], end["par_eff"]) < 0.6


# ---------------------------------------------------------------------------
# Spark session lifecycle
# ---------------------------------------------------------------------------
def set_event_log(jvm, log_dir: str | None) -> None:
    """Switch the uncompressed event log on (``log_dir``) or off for the
    next SparkContext started in this JVM."""
    sysprops = jvm.java.lang.System
    if log_dir is None:
        sysprops.clearProperty("spark.eventLog.enabled")
        return
    os.makedirs(log_dir, exist_ok=True)
    sysprops.setProperty("spark.eventLog.enabled", "true")
    sysprops.setProperty("spark.eventLog.dir", "file://" + log_dir)
    sysprops.setProperty("spark.eventLog.compress", "false")


def start_session(cpus: int, old=None, event_log: str | None = None):
    """(Re)start the engine's session on ``local[cpus]``; returns
    (spark, seconds spent in session start)."""
    from pyspark import SparkContext

    from pulsar_replay_spark.session import get_spark

    t = time.perf_counter()
    if old is not None:
        old.stop()
    if SparkContext._jvm is not None:
        set_event_log(SparkContext._jvm, event_log)
    spark = get_spark(app_name="perfbench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t


def stop_jvm(timeout: float = 60.0) -> None:
    """Stop the session, end the JVM gateway (it exits when its stdin
    closes) and wait until every process this run started has ended."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=timeout)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.time() + timeout
    while len(_process_tree(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.1)
