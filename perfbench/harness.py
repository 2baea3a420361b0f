"""Shared machinery for the perfbench workloads.

Statistics (median, tail percentile, geometric mean), fault-isolated op
accounting, a /proc memory sampler for the driver process tree, the Spark
session lifecycle, and the run record that states what was measured and
where.  Nothing here imports ``hnsw_spark``: the library is reached only from
the workload modules, through its public functions.
"""

from __future__ import annotations

import math
import os
import platform
import shutil
import signal
import threading
import time
import traceback
from dataclasses import dataclass, field

# Percentiles tried for the tail, highest first.  The tail is the highest one
# that still has at least TAIL_MIN_BEYOND samples above it.
TAIL_LADDER = (99.9, 99.5, 99.0, 98.0, 95.0, 90.0, 80.0, 75.0, 50.0)
TAIL_MIN_BEYOND = 10


def median(values) -> float:
    v = sorted(values)
    if not v:
        raise ValueError("median of no samples")
    n = len(v)
    mid = n // 2
    return float(v[mid]) if n % 2 else (v[mid - 1] + v[mid]) / 2.0


def geomean(values) -> float:
    v = list(values)
    if not v or min(v) <= 0:
        raise ValueError("geometric mean needs positive samples")
    return math.exp(sum(math.log(x) for x in v) / len(v))


def nearest_rank(sorted_values, pct: float) -> float:
    """Nearest-rank percentile of an ascending list."""
    n = len(sorted_values)
    rank = max(1, math.ceil(pct / 100.0 * n))
    return float(sorted_values[rank - 1])


def tail(values) -> dict | None:
    """Highest percentile of ``values`` with at least ``TAIL_MIN_BEYOND``
    samples strictly above it: ``{"percentile", "value", "n", "beyond"}``,
    or None when even the median has fewer than that beyond it."""
    v = sorted(values)
    for pct in TAIL_LADDER:
        if not v:
            break
        x = nearest_rank(v, pct)
        beyond = sum(1 for s in v if s > x)
        if beyond >= TAIL_MIN_BEYOND:
            return {"percentile": pct, "value": x, "n": len(v), "beyond": beyond}
    return None


@dataclass
class OpLog:
    """Closed-loop op accounting: every op is timed and fault-isolated, so an
    exception or a failed check is counted and the run goes on."""

    latencies: dict = field(default_factory=dict)  # op type -> [seconds]
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)

    def run(self, op_type: str, fn, timed: bool = True):
        """Call ``fn()``; record its latency under ``op_type`` when timed.
        Returns fn's result, or None when it raised."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception:  # an op boundary: record and keep running
            self.fail(op_type, traceback.format_exc(limit=4))
            return None
        if timed:
            self.latencies.setdefault(op_type, []).append(time.perf_counter() - t0)
        return out

    def check(self, op_type: str, ok: bool, detail: str = "") -> bool:
        """Count a correctness check as one op; a failed check is a failed op."""
        self.attempted += 1
        if not ok:
            self.fail(op_type, detail)
        return ok

    def fail(self, op_type: str, detail: str) -> None:
        self.failed += 1
        self.errors.append({"op": op_type, "error": detail[-2000:]})

    def summary(self) -> dict:
        out = {}
        for op, lat in self.latencies.items():
            ms = [x * 1000.0 for x in lat]
            out[op] = {"n": len(ms), "p50_ms": median(ms), "tail": tail(ms),
                       "samples_ms": [round(x, 1) for x in ms]}
        return out


def _processes() -> dict[int, tuple[int, str, int]]:
    """pid -> (parent pid, command name, start time) for every process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        head, rest = stat.rsplit(")", 1)
        fields = rest.split()  # stat(5) fields from 3 on: state, ppid, ...
        out[int(name)] = (int(fields[1]), head.split("(", 1)[1], int(fields[19]))
    return out


def _proc_tree(root_pids, procs=None) -> list[int]:
    """``root_pids`` plus all their live descendants."""
    children: dict[int, list[int]] = {}
    for pid, (ppid, _comm, _start) in (procs or _processes()).items():
        children.setdefault(ppid, []).append(pid)
    seen, stack = [], [p for p in root_pids if p]
    while stack:
        pid = stack.pop()
        if pid in seen:
            continue
        seen.append(pid)
        stack.extend(children.get(pid, ()))
    return seen


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Watches the driver Python process, the Spark JVM and every process
    below them from a background thread, through /proc (psutil is not
    needed).  ``python_peak_mb`` sums the high-water mark (VmHWM) of every
    Python process (the driver, the worker daemon and the workers), which does
    not depend on when a sample lands.  The JVM is left out of it because its
    heap grows with garbage-collection timing, and so are the short-lived
    launcher processes.  ``peak_sampled_mb`` is the highest summed VmRSS of
    the whole tree, JVM included."""

    def __init__(self, period_s: float = 0.25):
        self.period_s = period_s
        self.roots = [os.getpid()]
        self.peak_kb = 0
        self.hwm_kb: dict[tuple, int] = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def add_root(self, pid: int) -> None:
        self.roots.append(pid)

    def sample(self) -> int:
        """Read the tree now; called by the thread and by the run itself."""
        procs = _processes()
        pids = _proc_tree(self.roots, procs)
        rss = {p: _status_kb(p, "VmRSS") for p in pids}
        hwm = {p: _status_kb(p, "VmHWM") for p in pids}
        with self._lock:
            self.peak_kb = max(self.peak_kb, sum(rss.values()))
            for p in pids:
                # pids wrap around: a process is its pid, name and start time
                key = (p, procs[p][1], procs[p][2])
                self.hwm_kb[key] = max(self.hwm_kb.get(key, 0), hwm[p])
        return sum(rss.values())

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            self.sample()

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    def python_peak_mb(self) -> float:
        with self._lock:
            kb = sum(v for (_p, comm, _s), v in self.hwm_kb.items() if comm.startswith("python"))
        return kb / 1024.0

    def peak_sampled_mb(self) -> float:
        with self._lock:
            return self.peak_kb / 1024.0

    def hwm_mb(self) -> dict:
        """Per-process VmHWM (the kernel's own high-water mark) of every
        process seen."""
        with self._lock:
            return {f"{p}:{comm}": kb / 1024.0 for (p, comm, _), kb in self.hwm_kb.items()}


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def start_spark(work_dir: str, traced: bool):
    """A local[nproc] session whose temporary files live under ``work_dir``.
    Tracing keeps more jobs and stages in the status store so a span can
    still read its own jobs after long passes."""
    from pyspark.sql import SparkSession

    cpus = cpu_count()
    local = os.path.join(work_dir, "spark-local")
    os.makedirs(local, exist_ok=True)
    builder = (
        SparkSession.builder.appName("perfbench")
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "2g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", os.path.join(work_dir, "warehouse"))
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={local}")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if traced:
        builder = (
            builder.config("spark.ui.retainedJobs", "20000")
            .config("spark.ui.retainedStages", "40000")
            .config("spark.sql.ui.retainedExecutions", "20000")
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM and every process it started and
    wait for each to exit."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    tree = set(_proc_tree([proc.pid])) if proc is not None else set()
    spark.stop()
    try:
        gateway.shutdown()
    except Exception:  # gateway already gone; the process wait below decides
        pass
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its parent pipe closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 20
    live = {p for p in tree if os.path.exists(f"/proc/{p}")}
    while live and time.monotonic() < deadline:
        time.sleep(0.1)
        live = {p for p in live if _alive(p)}
    for p in live:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while any(_alive(p) for p in live):
        time.sleep(0.05)


def _alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def git_commit(root: str) -> str:
    """HEAD commit read from .git without running git; 'unknown' outside a
    repository (the benchmark may run from an exported tree)."""
    head_path = os.path.join(root, ".git", "HEAD")
    try:
        with open(head_path) as f:
            head = f.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        ref_path = os.path.join(root, ".git", ref)
        if os.path.exists(ref_path):
            with open(ref_path) as f:
                return f.read().strip()
        with open(os.path.join(root, ".git", "packed-refs")) as f:
            for line in f:
                if line.rstrip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        pass
    return "unknown"


def environment(root: str, seed: int) -> dict:
    import numpy
    import pyspark

    return {
        "cpus": cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "numpy": numpy.__version__,
        "commit": git_commit(root),
        "seed": seed,
        "platform": platform.platform(),
    }


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
