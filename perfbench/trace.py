"""Spans, Spark status-store counters, percentiles and process memory.

Spans are recorded only by the traced mode, around the benchmark's own
calls into the engine. Each span runs its Spark work under its own job
group, so the status store can be asked afterwards which jobs, stages
and SQL executions belong to it. Spans stay in memory until the run
writes them out.
"""

from __future__ import annotations

import contextlib
import math
import os
import re
import statistics
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

TAIL_LADDER = (0.999, 0.99, 0.95, 0.9, 0.75, 0.5)


def tail(samples: list[float]) -> tuple[float, float, int]:
    """(percentile, value, n): the highest ladder percentile that leaves at
    least ten samples above it, so the tail is never read off fewer than
    ten observations. Below 20 samples no percentile above the median
    qualifies and the median is returned as the tail."""
    n = len(samples)
    if n == 0:
        raise ValueError("no samples")
    xs = sorted(samples)
    for p in TAIL_LADDER:
        rank = math.ceil(p * n)  # nearest-rank percentile
        if n - rank >= 10:
            return p, xs[rank - 1], n
    return 0.5, statistics.median(xs), n


def vm_hwm_kb(pid: int | str = "self") -> int:
    """Peak resident set (VmHWM) of a process from /proc, in KiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise ValueError(f"no VmHWM for pid {pid}")


def tree_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) used so far
    by this process and all its descendants: the Python driver, the
    driver JVM and the Python workers. Unlike wall time it leaves out
    time the host hands to other tenants (CPU steal)."""
    tick = os.sysconf("SC_CLK_TCK")
    parent, cpu = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while scanning
        parent[int(d)] = int(f[1])
        cpu[int(d)] = sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    mine = {os.getpid()}
    grew = True
    while grew:
        kids = {p for p, pp in parent.items() if pp in mine} - mine
        grew = bool(kids)
        mine |= kids
    return sum(cpu[p] for p in mine if p in cpu) / tick


@dataclass(eq=False)
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    group: str = ""
    counts: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. ``span`` opens a child of the innermost
    open span and tags the Spark work inside it with a job group."""

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        group = f"{self.run_id}.{sid}"
        s = Span(name, 0.0, parent=self._stack[-1] if self._stack else None, group=group)
        self.spans.append(s)
        self._stack.append(sid)
        self.sc.setJobGroup(group, name)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self.spans[self._stack[-1]].group, "")
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def children(self, sid: int) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s.parent == sid]

    def self_time(self, sid: int) -> float:
        """Span wall minus the part its children cover (children are
        sequential, so their walls do not overlap)."""
        return self.spans[sid].wall - sum(self.spans[c].wall for c in self.children(sid))

    def to_json(self) -> list[dict]:
        return [
            {"id": i, "name": s.name, "start": s.start, "end": s.end,
             "parent": s.parent, "run_id": self.run_id,
             "self_s": self.self_time(i), "counts": s.counts}
            for i, s in enumerate(self.spans)
        ]


class NullTracer:
    """Untraced mode: spans cost one no-op context manager."""

    @contextlib.contextmanager
    def span(self, name: str):
        yield None


# ---------------------------------------------------------------- status store

_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9,
          "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}
_NUM = re.compile(r"(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?")

# Spark SQL metric name -> counter key
SQL_METRICS = {
    "scan time": "scan_s",
    "time to run Python workers": "python_s",
    "time to start Python workers": "python_boot_s",
    "time to initialize Python workers": "python_boot_s",
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_returned",
}


def parse_metric(value: str) -> float:
    """Spark's formatted SQL metric (``'2.3 s'``, ``'63.5 KiB'``,
    ``'26,165'``, or the per-task ``'total (min, med, max ...)\\n1.2 s
    (...)'`` form) → a number in seconds, bytes or units."""
    text = value.split("\n", 1)[1] if "\n" in value else value
    m = _NUM.search(text)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    return num * _UNITS.get(m.group(2) or "", 1.0)


class StatusReader:
    """Reads per-job-group counters from the driver's status stores."""

    _ENTRY = re.compile(r"(?:^Map\(|, )(\d+) -> ")
    _PLAN_METRIC = re.compile(r"SQLPlanMetric\((.*?),(\d+),(\w+)\)")

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        jvm = self.sc._jvm
        q = self.sc._gateway.new_array(jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        self._quantiles = q

    def sql_watermark(self) -> int:
        ex = self.sql.executionsList()
        n = ex.size()
        return max((ex.apply(i).executionId() for i in range(n)), default=-1)

    def group_counts(self, groups: list[str], wall: float) -> dict:
        """jobs/stages/tasks, executor time, shuffle and spill bytes,
        input rows and bytes, output bytes, task skew (max/median task
        run time of the most skewed stage) and the driver gap (``wall``
        minus the union of the stage intervals) over the jobs of
        ``groups``."""
        c = dict(jobs=0, stages=0, tasks=0, executor_run_s=0.0, executor_cpu_s=0.0,
                 gc_s=0.0, shuffle_read_bytes=0, shuffle_write_bytes=0, spill_bytes=0,
                 input_rows=0, input_bytes=0, output_bytes=0, task_skew=1.0)
        intervals = []
        tracker = self.sc.statusTracker()
        job_ids = [j for g in groups for j in tracker.getJobIdsForGroup(g)]
        for job_id in job_ids:
            c["jobs"] += 1
            ids = self.store.job(job_id).stageIds()
            for k in range(ids.size()):
                try:
                    st = self.store.lastStageAttempt(ids.apply(k))
                except Py4JJavaError:
                    continue  # an earlier job's stage, reused here and since evicted
                if st.numCompleteTasks() == 0:
                    continue  # skipped: output reused from an earlier stage
                c["stages"] += 1
                c["tasks"] += st.numCompleteTasks()
                c["executor_run_s"] += st.executorRunTime() / 1e3
                c["executor_cpu_s"] += st.executorCpuTime() / 1e9
                c["gc_s"] += st.jvmGcTime() / 1e3
                c["shuffle_read_bytes"] += st.shuffleReadBytes()
                c["shuffle_write_bytes"] += st.shuffleWriteBytes()
                c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                c["input_rows"] += st.inputRecords()
                c["input_bytes"] += st.inputBytes()
                c["output_bytes"] += st.outputBytes()
                sub, done = st.submissionTime(), st.completionTime()
                if sub.isDefined() and done.isDefined():
                    intervals.append((sub.get().getTime(), done.get().getTime()))
                if st.numCompleteTasks() >= 2 and st.executorRunTime() >= 100:
                    dist = self.store.taskSummary(st.stageId(), st.attemptId(), self._quantiles)
                    if dist.isDefined():
                        run = dist.get().executorRunTime()
                        med, mx = run.apply(0), run.apply(1)
                        if med > 0:
                            c["task_skew"] = max(c["task_skew"], mx / med)
        covered, end = 0.0, None
        for a, b in sorted(intervals):
            if end is None or a > end:
                covered += b - a
                end = b
            elif b > end:
                covered += b - end
                end = b
        c["driver_gap_s"] = max(0.0, wall - covered / 1e3)
        return c

    def sql_counts(self, after: int) -> dict:
        """Sums of the SQL metrics in SQL_METRICS, plus the file bytes of
        CSV scan nodes (``csv_bytes_read``), over the executions started
        after the ``after`` watermark."""
        out = {k: 0.0 for k in set(SQL_METRICS.values())}
        out["csv_bytes_read"] = 0.0
        ex = self.sql.executionsList()
        for i in range(ex.size()):
            e = ex.apply(i)
            if e.executionId() <= after:
                continue
            wanted = {
                acc: SQL_METRICS[name]
                for name, acc, _ in self._PLAN_METRIC.findall(e.metrics().toString())
                if name in SQL_METRICS
            }
            nodes = self.sql.planGraph(e.executionId()).allNodes()
            for k in range(nodes.size()):
                node = nodes.apply(k)
                if node.name().startswith("Scan csv"):
                    for name, acc, _ in self._PLAN_METRIC.findall(node.metrics().toString()):
                        if name == "size of files read":
                            wanted[acc] = "csv_bytes_read"
            if not wanted:
                continue
            text = self.sql.executionMetrics(e.executionId()).toString()
            parts = self._ENTRY.split(text.rstrip(")"))
            for acc, val in zip(parts[1::2], parts[2::2]):
                if acc in wanted:
                    out[wanted[acc]] += parse_metric(val)
        return out
