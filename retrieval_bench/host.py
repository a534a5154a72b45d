"""Pinned execution environment and host measurements.

Everything here runs before (or beside) the Spark session: the knob
scrub, the worker-visible paths, the recorded versions, a pre-run CPU
calibration that shows how noisy the host was, and the sampler that
tracks resident memory of the driver process tree.
"""

from __future__ import annotations

import os
import platform
import statistics
import subprocess
import sys
import threading
import time

def nproc() -> int:
    """CPUs this process may run on (what `nproc` prints without
    OMP_NUM_THREADS)."""
    return len(os.sched_getaffinity(0))


def pin_environment(root: str, work: str) -> None:
    """Unset every DPR_SPARK_* engine knob (driver memory, Spark confs
    injected as JSON, and the size thresholds that pick a plan) so a stray
    shell export cannot change what is measured, and point every scratch
    path into `work`.

    Must run before dpr_spark is imported: some knobs are read at module
    import. Python workers inherit PYTHONPATH, so they import the
    checkout's dpr_spark, not whatever else is on the machine."""
    for k in list(os.environ):
        if k.startswith("DPR_SPARK_"):
            del os.environ[k]
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    prev = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root + (os.pathsep + prev if prev else "")
    import tempfile

    tempfile.tempdir = tmp


def spark_conf(work: str) -> dict:
    """Session confs the benchmark adds on top of get_spark's defaults:
    scratch inside the checkout, no console progress bar, and status
    retention large enough that a traced run keeps every job."""
    tmp = os.path.join(work, "tmp")
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.ui.retainedJobs": "20000",
        "spark.ui.retainedStages": "20000",
        "spark.sql.ui.retainedExecutions": "20000",
    }


def versions() -> dict:
    import numpy
    import pandas
    import pyarrow
    import pyspark

    try:
        java = subprocess.run(
            ["java", "-version"], capture_output=True, text=True, timeout=30
        ).stderr.splitlines()[0]
    except (OSError, subprocess.SubprocessError, IndexError):
        java = "unknown"
    return {
        "nproc": nproc(),
        "python": platform.python_version(),
        "java": java,
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
        "numpy": numpy.__version__,
        "machine": platform.machine(),
        "kernel": platform.release(),
    }


def calibrate(reps: int = 7) -> dict:
    """Host-noise calibration: time one fixed single-core numpy kernel
    (sort of 2^20 seeded doubles) several times before the run. A slow
    or spread-out calibration flags a busy host."""
    import numpy as np

    data = np.random.default_rng(0).random(1 << 20)
    walls = []
    for _ in range(reps):
        t = time.perf_counter()
        np.sort(data, kind="quicksort")
        walls.append((time.perf_counter() - t) * 1000.0)
    q = statistics.quantiles(walls, n=4)
    med = statistics.median(walls)
    return {
        "kernel": "np.sort(2^20 float64)",
        "reps": reps,
        "median_ms": med,
        "iqr_share": (q[2] - q[0]) / med if med else 0.0,
        "max_ms": max(walls),
    }


def _children_map() -> dict:
    kids: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: fields resume after ')'
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss_mb(root_pid: int) -> dict:
    """Resident memory (MB) of root_pid and all its descendants (the
    Python driver, the JVM it launched, and the JVM's Python workers), by
    command name. Counted as PSS: a page shared by n processes counts 1/n
    in each, so forked Python workers and a JVM child between fork and
    exec do not count their parent's pages twice."""
    kids = _children_map()
    todo, out = [root_pid], {}
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                pss_kb = next(int(ln.split()[1]) for ln in f if ln.startswith("Pss:"))
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
        except (OSError, StopIteration):
            continue
        out[comm] = out.get(comm, 0.0) + pss_kb / 1024.0
    return out


def reap_descendants(timeout: float = 30.0) -> None:
    """Wait until every process this one started, directly or through the
    JVM (its Python daemon and workers), has exited; kill what is left
    after `timeout` seconds."""
    import signal

    def alive() -> list:
        kids, todo, out = _children_map(), [os.getpid()], []
        while todo:
            pid = todo.pop()
            for c in kids.get(pid, ()):
                out.append(c)
                todo.append(c)
        return out

    deadline = time.monotonic() + timeout
    while alive() and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in alive():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for pid in alive():
        try:
            os.waitpid(pid, 0)  # only direct children can be reaped here
        except ChildProcessError:
            pass


class RssSampler:
    """Background thread sampling tree_rss_mb every `period` seconds."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak = 0.0
        self.peak_parts: dict = {}  # MB by command name at the peak
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            parts = tree_rss_mb(pid)
            total = sum(parts.values())
            if total > self.peak:
                self.peak, self.peak_parts = total, parts
            self.samples += 1
            self._stop.wait(self.period)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
