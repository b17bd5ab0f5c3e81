"""Per-layer spans for the traced run, and process-tree memory sampling.

A span wraps one call into a pitfeat layer plus the write that forces its
output. Spark work is attributed to the span through a job group: after the
run, the jobs of each group and their stages are read from the driver's
status store (``SparkContext.statusStore``), which is populated with the UI
off. Spans are kept in memory and turned into metrics when the run ends.
"""

from __future__ import annotations

import os
import re
import threading
import time
from dataclasses import dataclass, field

# physical operators that cross the JVM/Python boundary
_PY_NODE = re.compile(r"Python|InPandas|InArrow|ArrowEval")


@dataclass
class Span:
    layer: str
    group: str
    wall_s: float = 0.0
    call_s: float = 0.0
    rows_out: int = 0
    bytes_written: int = 0
    plan: dict = field(default_factory=dict)


def plan_counts(df) -> dict:
    """Operator counts of a DataFrame's physical plan, as planned before
    execution (adaptive re-planning at run time does not change them, so
    they repeat exactly for the same inputs)."""
    tree = df._jdf.queryExecution().executedPlan().treeString()
    names = []
    for line in tree.splitlines():
        body = line.lstrip(" :+-|")
        if body:
            names.append(re.split(r"[\s\[(]", body, maxsplit=1)[0])
    return {
        "exchanges": sum(n == "Exchange" for n in names),
        "sorts": sum(n == "Sort" for n in names),
        "python_nodes": sum(bool(_PY_NODE.search(n)) for n in names),
    }


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


class NullTracer:
    """Untraced runs: spans cost nothing and record nothing."""

    enabled = False

    def span(self, layer: str):
        return _NullSpan()


class _NullSpan:
    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False

    def called(self):
        pass

    def output(self, df=None, path=None, rows=None):
        pass


class Tracer:
    enabled = True

    def __init__(self, spark, prefix: str):
        self.sc = spark.sparkContext
        self.prefix = prefix
        self.spans: list[Span] = []

    def span(self, layer: str):
        return _LiveSpan(self, layer)

    def _stage_metrics(self) -> dict:
        """group -> summed stage metrics, read once at the end of the run."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        groups = {s.group for s in self.spans}
        jobs_by_group: dict[str, list] = {g: [] for g in groups}
        jobs = store.jobsList(None)
        for i in range(jobs.size()):
            j = jobs.apply(i)
            g = j.jobGroup()
            if g.isDefined() and g.get() in groups:
                jobs_by_group[g.get()].append(j)
        quantiles = getattr(store, "stageList$default$4")()
        stages = store.stageList(None, False, False, quantiles, None)
        by_stage: dict[int, list] = {}
        for i in range(stages.size()):
            st = stages.apply(i)
            by_stage.setdefault(st.stageId(), []).append(st)
        out = {}
        for g, js in jobs_by_group.items():
            ids = set()
            for j in js:
                sids = j.stageIds()
                ids.update(sids.apply(k) for k in range(sids.size()))
            m = dict.fromkeys(
                ("task_s", "cpu_s", "gc_s", "shuffle_mb", "spill_mb", "tasks", "failed_tasks"), 0.0
            )
            for sid in ids:
                for st in by_stage.get(sid, []):
                    m["task_s"] += st.executorRunTime() / 1e3
                    m["cpu_s"] += st.executorCpuTime() / 1e9
                    m["gc_s"] += st.jvmGcTime() / 1e3
                    m["shuffle_mb"] += st.shuffleWriteBytes() / 1e6
                    m["spill_mb"] += st.diskBytesSpilled() / 1e6
                    m["tasks"] += st.numCompleteTasks()
                    m["failed_tasks"] += st.numFailedTasks()
            m["jobs"] = len(js)
            out[g] = m
        return out

    def layer_totals(self) -> dict:
        """layer -> {metric: value} summed over that layer's spans."""
        stage = self._stage_metrics()
        totals: dict[str, dict] = {}
        for s in self.spans:
            t = totals.setdefault(s.layer, {})
            vals = {
                "wall_s": s.wall_s,
                "call_s": s.call_s,
                "rows_out": s.rows_out,
                "bytes_written": s.bytes_written,
                **s.plan,
                **stage.get(s.group, {}),
            }
            for k, v in vals.items():
                t[k] = t.get(k, 0) + v
        return totals


class _LiveSpan:
    def __init__(self, tracer: Tracer, layer: str):
        self.tracer = tracer
        self.span = Span(layer, f"{tracer.prefix}-{len(tracer.spans)}-{layer}")

    def __enter__(self):
        self.tracer.sc.setJobGroup(self.span.group, self.span.layer)
        self.t0 = time.perf_counter()
        return self

    def called(self):
        """Mark the end of the layer call: eager driver work before the
        forcing write counts as call time."""
        self.span.call_s = time.perf_counter() - self.t0

    def output(self, df=None, path=None, rows=None):
        """Record the plan of the DataFrame about to be forced; after the
        span, ``path`` is measured and ``rows`` counted."""
        if df is not None:
            self.span.plan = plan_counts(df)
        self._path, self._rows = path, rows

    def __exit__(self, exc_type, *exc):
        self.span.wall_s = time.perf_counter() - self.t0
        if not self.span.call_s:
            self.span.call_s = self.span.wall_s
        self.tracer.sc.setJobGroup("perfbench-untraced", "untraced")
        if exc_type is None:
            path = getattr(self, "_path", None)
            if path:
                self.span.bytes_written = dir_bytes(path)
            rows = getattr(self, "_rows", None)
            if rows is not None:
                self.span.rows_out = int(rows() if callable(rows) else rows)
            self.tracer.spans.append(self.span)
        return False


class TreeMemory:
    """Peak resident memory of this process's descendants (the Spark JVM
    and its Python workers), sampled from /proc in a background thread."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self):
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak_kb / 1024.0

    def _loop(self):
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, sum(_rss_kb(p) for p in descendants()))
            self._stop.wait(self.interval_s)


def descendants(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0
