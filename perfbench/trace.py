"""Traced-run tooling: an in-memory span recorder, readers for Spark's
event log and for the SQL metrics of executed plans, and the self-time
report.

Spans are recorded around the benchmark's calls into each layer, never
inside the program. A span has a name, start, end, parent and the op id
shared by every span of one operation. Nothing is written until the run
ends. With tracing off the recorder hands out a shared no-op context, so
the untraced code path differs only by the recording itself.
"""

from __future__ import annotations

import collections
import contextlib
import importlib.util
import io
import json
import os
import re
import time
from dataclasses import dataclass, field
from typing import Dict, Iterator, List, Optional

_NULL = contextlib.nullcontext()


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: Optional[int]
    op: Optional[str]


class Recorder:
    """Collects spans in memory when enabled; otherwise does nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: List[Span] = []
        self._stack: List[int] = []
        self._op: Optional[str] = None

    def span(self, name: str, op: Optional[str] = None):
        if not self.enabled:
            return _NULL
        return self._record(name, op)

    @contextlib.contextmanager
    def _record(self, name: str, op: Optional[str]) -> Iterator[None]:
        if op is not None:
            self._op = op
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent,
                               self._op))
        self._stack.append(idx)
        try:
            yield
        finally:
            self.spans[idx].end = time.perf_counter()
            self._stack.pop()
            if op is not None:
                self._op = None

    def _self(self) -> List[float]:
        """Each span's duration minus the part its direct children cover
        (children never overlap: one thread)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        return [(s.end - s.start) - c for s, c in zip(self.spans, child)]

    def self_times(self, ops: set) -> Dict[str, float]:
        """Total self time per span name over the spans of ``ops``."""
        out: Dict[str, float] = collections.defaultdict(float)
        for s, t in zip(self.spans, self._self()):
            if s.op in ops:
                out[s.name] += t
        return dict(out)

    def per_op(self, name: str) -> Dict[str, float]:
        """Self time of spans called ``name``, summed per op id."""
        out: Dict[str, float] = collections.defaultdict(float)
        for s, t in zip(self.spans, self._self()):
            if s.name == name and s.op is not None:
                out[s.op] += t
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, "name": s.name,
                                    "start": s.start, "end": s.end,
                                    "parent": s.parent, "op": s.op}) + "\n")


# ---------------------------------------------------------------------------
# SQL metrics of an executed plan
# ---------------------------------------------------------------------------

def _children(node) -> list:
    """Children of a physical plan node, descending through adaptive
    query stages and reused exchanges into the plans they wrap."""
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if cls.endswith("QueryStageExec"):
        return [node.plan()]
    if cls == "ReusedExchangeExec":
        return [node.child()]
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


def _metrics(node) -> Dict[str, int]:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        m = kv._2()
        out[m.name().get() if m.name().isDefined() else kv._1()] = m.value()
    return out


def python_metrics(df) -> Dict[str, float]:
    """Python-worker time and rows, summed over the Python evaluation
    nodes (pandas UDFs) of ``df``'s executed plan. Spark reports these
    times in milliseconds, summed over tasks."""
    stack = [df._jdf.queryExecution().executedPlan()]
    out = {"python_s": 0.0, "python_init_s": 0.0, "rows_to_python": 0}
    while stack:
        node = stack.pop()
        if "EvalPython" in node.nodeName():
            m = _metrics(node)
            out["python_s"] += m.get("time to run Python workers", 0) / 1e3
            out["python_init_s"] += (
                m.get("time to start Python workers", 0)
                + m.get("time to initialize Python workers", 0)) / 1e3
            out["rows_to_python"] += m.get("number of output rows", 0)
        stack.extend(_children(node))
    return out


def jvm_gc_s(sc) -> float:
    """Total collection time of every JVM garbage collector so far. In
    local mode every executor runs inside this one JVM."""
    beans = sc._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1e3


# ---------------------------------------------------------------------------
# Event log: per-op jobs and task metrics
# ---------------------------------------------------------------------------

def _load_profile_queries(root: str):
    """``scripts/profile_queries.py`` owns the job-log parser; import it
    by path so its parsing is reused, not copied."""
    path = os.path.join(root, "scripts", "profile_queries.py")
    spec = importlib.util.spec_from_file_location("profile_queries", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


_JOBS_LINE = re.compile(r"^== (.*): (\d+) jobs, ([0-9.]+)s job time$")


def jobs_per_description(root: str, evdir: str) -> Dict[str, dict]:
    """Per job description: number of jobs and their summed wall time,
    as ``profile_queries._report_joblog`` prints them."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        _load_profile_queries(root)._report_joblog(evdir)
    out = {}
    for line in buf.getvalue().splitlines():
        m = _JOBS_LINE.match(line)
        if m:
            out[m.group(1)] = {"jobs": int(m.group(2)),
                               "job_s": float(m.group(3))}
    return out


@dataclass
class TaskTotals:
    tasks: int = 0
    cpu_s: float = 0.0
    run_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    stage_ids: set = field(default_factory=set)

    @property
    def stages(self) -> int:
        return len(self.stage_ids)


def task_metrics_per_group(evdir: str) -> Dict[str, TaskTotals]:
    """Sum task metrics from the event log per job group."""
    stage_group: Dict[int, str] = {}
    out: Dict[str, TaskTotals] = collections.defaultdict(TaskTotals)
    for root, _dirs, files in os.walk(evdir):
        for name in sorted(files):
            with open(os.path.join(root, name)) as f:
                for line in f:
                    try:
                        ev = json.loads(line)
                    except ValueError:
                        continue
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        group = (ev.get("Properties") or {}).get(
                            "spark.jobGroup.id")
                        if group:
                            for sid in ev.get("Stage IDs", []):
                                stage_group[sid] = group
                    elif kind == "SparkListenerTaskEnd":
                        group = stage_group.get(ev.get("Stage ID"))
                        tm = ev.get("Task Metrics")
                        if group is None or not tm:
                            continue
                        t = out[group]
                        t.tasks += 1
                        t.stage_ids.add(ev["Stage ID"])
                        t.cpu_s += tm.get("Executor CPU Time", 0) / 1e9
                        t.run_s += tm.get("Executor Run Time", 0) / 1e3
                        sw = tm.get("Shuffle Write Metrics") or {}
                        t.shuffle_write_bytes += sw.get(
                            "Shuffle Bytes Written", 0)
                        sr = tm.get("Shuffle Read Metrics") or {}
                        t.shuffle_read_bytes += (
                            sr.get("Remote Bytes Read", 0)
                            + sr.get("Local Bytes Read", 0))
                        t.spill_bytes += (tm.get("Memory Bytes Spilled", 0)
                                          + tm.get("Disk Bytes Spilled", 0))
    return dict(out)


def self_time_report(rec: Recorder, ops: set, wall_s: float) -> List[str]:
    """Lines of the self-time table for the traced operations: each
    layer's self time, its share of ``wall_s``, and the remainder no
    span covers."""
    st = rec.self_times(ops)
    lines = [f"{'layer':32s} {'self_s':>10s} {'share':>7s}"]
    covered = 0.0
    for name, s in sorted(st.items(), key=lambda kv: -kv[1]):
        covered += s
        lines.append(f"{name:32s} {s:10.4f} {s / wall_s:7.1%}")
    lines.append(f"{'(unattributed)':32s} {wall_s - covered:10.4f} "
                 f"{(wall_s - covered) / wall_s:7.1%}")
    lines.append(f"{'traced wall_s':32s} {wall_s:10.4f}")
    return lines
