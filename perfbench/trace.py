"""Spans around the public calls into each ``hnsw_spark`` layer.

A traced run patches the library's public functions *from the outside*: each
wrapper opens a span, gives it its own Spark job group, and on exit reads
what Spark's status stores say about the jobs that group ran (stages, tasks,
executor run/CPU time, shuffle, spill, bytes written, slowest task) and the
Python-worker metrics of the SQL executions those jobs belong to.  Nothing in
``hnsw_spark`` changes.  An untraced run installs nothing and uses
``NullTracer``, whose context managers do no work.

Functions a caller imported by name (``from hnsw_spark.operators.ann import
route_probes``) are patched in every ``hnsw_spark`` module that holds them, so
the wrapper runs where the caller looks the name up.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import itertools
import re
import sys
import time

from py4j.protocol import Py4JJavaError

# Library calls wrapped in a traced run: (module, attribute, span name).
TARGETS = (
    ("hnsw_spark.sources.synthetic", "synthetic_vectors", "sources.synthetic_vectors"),
    ("hnsw_spark.sources.tables", "load_table", "sources.load_table"),
    ("hnsw_spark.operators.ann", "train_centroids", "ann.train_centroids"),
    ("hnsw_spark.operators.ann", "assign_lists", "ann.assign_lists"),
    ("hnsw_spark.operators.ann", "route_probes", "ann.route_probes"),
    ("hnsw_spark.operators.ann", "build_ivf_index", "ann.build_ivf_index"),
    ("hnsw_spark.operators.ann", "IVFIndex.search", "ann.ivf_search"),
    ("hnsw_spark.operators.hnsw_graph", "build_hnsw_index", "hnsw_graph.build"),
    ("hnsw_spark.operators.hnsw_graph", "add_points", "hnsw_graph.add_points"),
    ("hnsw_spark.operators.hnsw_graph", "HNSWIndex.search", "hnsw_graph.search"),
    ("hnsw_spark.operators.knn", "knn_exact", "knn.exact"),
    ("hnsw_spark.operators.knn", "knn_local_merge_prepared", "knn.local_merge"),
    ("hnsw_spark.plans.persistence", "save_index", "persistence.save_index"),
    ("hnsw_spark.plans.persistence", "load_index", "persistence.load_index"),
    ("hnsw_spark.streaming.ingest", "StreamingGraphIngest.process_batch", "streaming.graph_ingest"),
    ("hnsw_spark.streaming.search", "StreamingSearch.process_batch", "streaming.search"),
    ("hnsw_spark.plans.cachereg", "owned_persist", "cachereg.owned_persist"),
    ("hnsw_spark.plans.cachereg", "release_caches", "cachereg.release_caches"),
)

# SQL metrics of the pandas/Arrow operators, by the names Spark gives them.
PYTHON_SQL_METRICS = {
    "time to run Python workers": "python_ms",
    "time to start Python workers": "python_start_ms",
    "data sent to Python workers": "python_sent_bytes",
    "data returned from Python workers": "python_returned_bytes",
}

COUNTERS = (
    "jobs", "tasks", "executor_run_ms", "executor_cpu_ms",
    "shuffle_bytes", "spill_bytes", "output_bytes", "max_task_ms",
    "planning_ms", *PYTHON_SQL_METRICS.values(),
)

_PLAN_METRIC = re.compile(r"SQLPlanMetric\((.*?),(\d+),\w+\)")

_UNITS = {
    "ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?")


def parse_sql_metric(text: str) -> float:
    """Value of a formatted SQL metric: '188 ms', '1.5 s', '159.3 KiB',
    '10,000', or the 'total (min, med, max ...)' form whose second line
    starts with the total.  Times come back in ms, sizes in bytes."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = _VALUE.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1.0)


def covered_ms(start: float, end: float, intervals) -> float:
    """Length of the union of ``intervals`` clipped to [start, end], in ms."""
    clipped = sorted(
        (max(a, start), min(b, end)) for a, b in intervals if min(b, end) > max(a, start)
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total * 1000.0


def self_ms(span: "Span", children) -> float:
    """Span duration minus the part of it that its children cover; children
    may overlap each other."""
    dur = (span.end - span.start) * 1000.0
    return dur - covered_ms(span.start, span.end, [(c.start, c.end) for c in children])


class Span:
    __slots__ = ("sid", "name", "parent", "op_id", "start", "end", "readout", "group", "own")

    def __init__(self, sid, name, parent, op_id):
        self.sid, self.name, self.parent, self.op_id = sid, name, parent, op_id
        self.start = time.perf_counter()
        self.end = None
        self.readout = 0.0  # seconds spent reading this span's counters
        self.group = f"perfbench-span-{sid}"
        self.own = dict.fromkeys(COUNTERS, 0.0)


class NullTracer:
    """Tracing off: every hook is a no-op."""

    enabled = False

    @contextlib.contextmanager
    def op(self, op_type, group=None):
        yield

    @contextlib.contextmanager
    def span(self, name):
        yield

    @contextlib.contextmanager
    def action(self, call, df=None):
        yield


class Tracer:
    """Nested spans with unique job groups and status-store readouts."""

    enabled = True

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.ops: dict[int, dict] = {}
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._op_id = None
        self._patched: list[tuple] = []
        self._exec_cursor = 0
        self._pending_execs: list[tuple[set, dict]] = []
        self.storage_peak_bytes = 0

    # ---- spans -----------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(next(self._ids), name, parent.sid if parent else None, self._op_id)
        self._stack.append(s)
        self.sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            t0 = time.perf_counter()
            self._read_counters(s)
            s.readout = time.perf_counter() - t0
            self.spans.append(s)

    @contextlib.contextmanager
    def op(self, op_type: str, group=None):
        """Root span of one op; spans opened inside carry its op id."""
        op_id = len(self.ops) + 1
        self.ops[op_id] = {"type": op_type, "group": group}
        self._op_id = op_id
        try:
            with self.span("op." + op_type):
                yield
        finally:
            self._op_id = None
            self.sample_storage()

    @contextlib.contextmanager
    def action(self, call: str, df=None):
        """Span for the action that materializes the frame a library call
        returned.  With ``df`` the planning phases of its query execution are
        measured here, before the action runs (collect/toPandas reuse that
        same execution)."""
        with self.span(call + ".action") as s:
            if df is not None:
                qe = df._jdf.queryExecution()
                qe.executedPlan()
                phases = qe.tracker().phases()
                for key in ("analysis", "optimization", "planning"):
                    opt = phases.get(key)
                    if opt.isDefined():
                        s.own["planning_ms"] += opt.get().durationMs()
            yield s

    def sample_storage(self) -> None:
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        total = sum(int(i.memSize()) for i in infos)
        self.storage_peak_bytes = max(self.storage_peak_bytes, total)

    # ---- status-store readouts ------------------------------------------
    def _read_counters(self, s: Span) -> None:
        jsc = self.sc._jsc.sc()
        job_ids = list(self.sc.statusTracker().getJobIdsForGroup(s.group))
        if not job_ids:
            return
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        own = s.own
        own["jobs"] += len(job_ids)
        stages = set()
        for j in job_ids:
            it = store.job(j).stageIds().iterator()
            while it.hasNext():
                stages.add(it.next())
        for sid in stages:
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:  # evicted from the store: nothing to read
                continue
            if sd.status().toString() == "SKIPPED":  # reused shuffle output
                continue
            own["tasks"] += sd.numCompleteTasks()
            own["executor_run_ms"] += sd.executorRunTime()
            own["executor_cpu_ms"] += sd.executorCpuTime() / 1e6
            own["shuffle_bytes"] += sd.shuffleReadBytes() + sd.shuffleWriteBytes()
            own["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            own["output_bytes"] += sd.outputBytes()
            tasks = store.taskList(sid, sd.attemptId(), 1 << 20).iterator()
            while tasks.hasNext():
                d = tasks.next().duration()
                if d.isDefined():
                    own["max_task_ms"] = max(own["max_task_ms"], d.get())
        self._attribute_sql(s, set(job_ids))

    def _attribute_sql(self, s: Span, job_ids: set) -> None:
        """Python-worker metrics of the SQL executions whose jobs this span
        ran.  New executions are read once into a pending list; an execution
        stays pending until the span that owns its jobs exits."""
        store = self.spark._jsparkSession.sharedState().statusStore()
        execs = store.executionsList(self._exec_cursor, 1 << 20).iterator()
        while execs.hasNext():
            e = execs.next()
            self._exec_cursor += 1
            jobs = set()
            jit = e.jobs().keys().iterator()
            while jit.hasNext():
                jobs.add(jit.next())
            if not jobs:
                continue
            got = {}
            # one call for the metric list instead of several per metric
            wanted = {
                int(acc): PYTHON_SQL_METRICS[name]
                for name, acc in _PLAN_METRIC.findall(e.metrics().toString())
                if name in PYTHON_SQL_METRICS
            }
            if wanted:
                values = store.executionMetrics(e.executionId())
                for acc, key in wanted.items():
                    v = values.get(acc)
                    if v.isDefined():
                        got[key] = got.get(key, 0.0) + parse_sql_metric(v.get())
            self._pending_execs.append((jobs, got))
        keep = []
        for jobs, got in self._pending_execs:
            if jobs & job_ids:
                for k, v in got.items():
                    s.own[k] += v
            else:
                keep.append((jobs, got))
        self._pending_execs = keep

    # ---- patching ---------------------------------------------------------
    def install(self) -> None:
        for mod_name, attr, span_name in TARGETS:
            mod = importlib.import_module(mod_name)
            owner, name = mod, attr
            if "." in attr:
                cls_name, name = attr.split(".")
                owner = getattr(mod, cls_name)
            orig = getattr(owner, name)
            wrapped = self._wrap(orig, span_name)
            self._patched.append((owner, name, orig))
            setattr(owner, name, wrapped)
            if owner is mod:
                # rebind names that other modules imported directly
                for other in list(sys.modules.values()):
                    oname = getattr(other, "__name__", "") or ""
                    if other is mod or not oname.startswith(("hnsw_spark", "perfbench")):
                        continue
                    for k, v in list(vars(other).items()):
                        if v is orig:
                            self._patched.append((other, k, orig))
                            setattr(other, k, wrapped)

    def uninstall(self) -> None:
        for owner, name, orig in reversed(self._patched):
            setattr(owner, name, orig)
        self._patched.clear()

    def _wrap(self, fn, span_name):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(span_name):
                return fn(*args, **kwargs)

        return traced

    # ---- derived views ------------------------------------------------------
    def children(self) -> dict:
        kids: dict = {}
        for s in self.spans:
            kids.setdefault(s.parent, []).append(s)
        return kids

    def readout_below(self) -> dict:
        """span id -> seconds its descendants spent reading counters.  That
        time falls inside the span's interval; subtracting it leaves the
        span's wall as an untraced run would see it."""
        kids = self.children()
        memo: dict = {}

        def total(s):
            if s.sid not in memo:
                memo[s.sid] = sum(c.readout + total(c) for c in kids.get(s.sid, ()))
            return memo[s.sid]

        for s in self.spans:
            total(s)
        return memo

    def inclusive(self) -> dict:
        """span id -> counters summed over the span and all its descendants
        (``max_task_ms`` takes the maximum)."""
        kids = self.children()
        memo: dict = {}

        def total(s):
            if s.sid in memo:
                return memo[s.sid]
            acc = dict(s.own)
            for c in kids.get(s.sid, ()):
                sub = total(c)
                for k, v in sub.items():
                    acc[k] = max(acc[k], v) if k == "max_task_ms" else acc[k] + v
            memo[s.sid] = acc
            return acc

        for s in self.spans:
            total(s)
        return memo

    def records(self) -> list[dict]:
        """Every span with its timing and own counters, for the trace file."""
        kids = self.children()
        t0 = min((s.start for s in self.spans), default=0.0)
        out = []
        for s in sorted(self.spans, key=lambda x: x.start):
            out.append({
                "id": s.sid,
                "name": s.name,
                "parent": s.parent,
                "op_id": s.op_id,
                "op_type": self.ops.get(s.op_id, {}).get("type"),
                "start_ms": round((s.start - t0) * 1000.0, 3),
                "end_ms": round((s.end - t0) * 1000.0, 3),
                "self_ms": round(self_ms(s, kids.get(s.sid, ())), 3),
                "readout_ms": round(s.readout * 1000.0, 3),
                "counters": {k: v for k, v in s.own.items() if v},
            })
        return out
