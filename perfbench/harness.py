"""Closed-loop op loop, span tracer and summary statistics.

The loop is one client thread: it starts the next op only after the
previous one returned (a closed loop with one client), so a slower engine
simply completes fewer ops in the measured window.

Tracing is off for the end-to-end runs. With tracing on, every op is a
root span and the workload opens child spans around each call into the
engine's layers. Spans (name, start, end, parent, run id) and counts stay
in memory and are written to one JSON file when the run ends. Spark job
and task counts come from ``SparkContext.statusTracker()`` under a job
group set around each span that asks for them.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    jobs: int | None = None
    tasks: int | None = None


class Tracer:
    """In-memory span and count recorder; a no-op when disabled."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self.counts: dict[str, list[float]] = {}
        self.bookkeeping_s = 0.0
        self._sc = spark.sparkContext
        self._stack: list[int] = []
        self._groups: list[tuple[str, Span]] = []

    @contextmanager
    def span(self, name: str, jobs: bool = False):
        if not self.enabled:
            yield None
            return
        t = time.perf_counter()
        s = Span(name, 0.0, parent=self._stack[-1] if self._stack else None)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        group = None
        if jobs:
            group = f"{self.run_id}-{len(self.spans)}"
            s.jobs = s.tasks = 0
            self._sc.setJobGroup(group, name)
            self._groups.append((group, s))
        s.start = time.perf_counter()
        self.bookkeeping_s += s.start - t
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if group is not None:
                self._groups.pop()
                jobs_n, tasks_n = self._job_counts(group)
                s.jobs += jobs_n
                s.tasks += tasks_n
                if self._groups:
                    # jobs of a nested group also belong to the enclosing one
                    outer_group, outer = self._groups[-1]
                    outer.jobs += s.jobs
                    outer.tasks += s.tasks
                    self._sc.setJobGroup(outer_group, outer.name)
                else:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)
                    self._sc.setLocalProperty("spark.job.description", None)
            self.bookkeeping_s += time.perf_counter() - s.end

    def reset(self) -> None:
        """Forget what set-up and warm-up recorded."""
        self.spans.clear()
        self.counts.clear()
        self.bookkeeping_s = 0.0

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            self.counts.setdefault(name, []).append(float(value))

    def _job_counts(self, group: str) -> tuple[int, int]:
        tracker = self._sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        tasks = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            for st in info.stageIds if info else ():
                sinfo = tracker.getStageInfo(st)
                if sinfo is not None:
                    tasks += sinfo.numTasks
        return len(jobs), tasks

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def span_field(self, name: str, attr: str) -> list[float]:
        return [
            float(getattr(s, attr))
            for s in self.spans
            if s.name == name and getattr(s, attr) is not None
        ]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                {
                    "run_id": self.run_id,
                    "spans": [
                        {"name": s.name, "start": s.start, "end": s.end,
                         "parent": s.parent, "jobs": s.jobs,
                         "tasks": s.tasks, "run_id": self.run_id}
                        for s in self.spans
                    ],
                    "counts": self.counts,
                },
                f,
            )


@dataclass
class OpResult:
    kind: str
    latency_s: float
    ok: bool
    error: str | None = None


@dataclass
class LoopResult:
    ops: list[OpResult] = field(default_factory=list)
    cycles: list[float] = field(default_factory=list)  # wall seconds per cycle
    cycles_cpu: list[float] = field(default_factory=list)  # CPU seconds per cycle
    elapsed_s: float = 0.0  # wall seconds inside ops
    steal_share: float = 0.0  # of the machine's CPU time, taken by other guests


def closed_loop(workload, tracer: Tracer, seconds: float) -> LoopResult:
    """Run ops back to back until ``seconds`` have passed and the workload
    is at a cycle boundary, so only whole cycles of its op mix are
    measured. Only the ops are timed: the benchmark's own work between
    them (``next_op`` making inputs) is not. Every raised exception
    counts as a failed op; its type is kept."""
    res = LoopResult()
    stat0 = cpu_stat()
    t0 = time.perf_counter()
    wall = cpu = 0.0
    while True:
        kind, fn = workload.next_op()
        cpu_start = tree_cpu_s()
        start = time.perf_counter()
        try:
            with tracer.span(f"op.{kind}", jobs=True):
                fn()
            ok, err = True, None
        except Exception as e:  # noqa: BLE001 — every failure is counted
            ok, err = False, type(e).__name__
        end = time.perf_counter()
        cpu += tree_cpu_s() - cpu_start
        wall += end - start
        res.ops.append(OpResult(kind, end - start, ok, err))
        if not workload.at_boundary():
            continue
        res.cycles.append(wall)
        res.cycles_cpu.append(cpu)
        res.elapsed_s += wall
        wall = cpu = 0.0
        if end - t0 >= seconds:
            stat1 = cpu_stat()
            total = sum(stat1) - sum(stat0)
            res.steal_share = (stat1[7] - stat0[7]) / total if total else 0.0
            return res


# -- statistics ----------------------------------------------------------


def latencies(ops: list[OpResult], kinds=None) -> tuple[list[float], list[float]]:
    """(latencies of the ops that succeeded, latencies for a tail): in the
    second list a failed op reads +inf, since it misses any latency limit."""
    picked = [o for o in ops if kinds is None or o.kind in kinds]
    return ([o.latency_s for o in picked if o.ok],
            [o.latency_s if o.ok else math.inf for o in picked])


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]) -> tuple[float | None, float | None]:
    """(value, percentile) of the highest percentile that still has at
    least ten samples above it; (None, None) with ten samples or fewer."""
    n = len(xs)
    if n <= 10:
        return None, None
    k = n - 11  # 0-based rank: exactly ten samples lie beyond it
    return sorted(xs)[k], round(100.0 * (k + 1) / n, 1)


def _process_tree() -> list[int]:
    """This process and all its descendants (the Spark JVM and the
    Python workers it starts), from the parent links in /proc."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    tree, frontier = [os.getpid()], [os.getpid()]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        tree += kids
        frontier += kids
    return tree


# Thread names of the JVM's JIT compilers, cut to 15 characters by the kernel.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _ticks(stat: str) -> tuple[str, int, int]:
    """(name, own CPU ticks, reaped children's CPU ticks) of a /proc stat."""
    fields = stat.rsplit(")", 1)[1].split()
    name = stat[stat.index("(") + 1:stat.rindex(")")]
    return name, int(fields[11]) + int(fields[12]), int(fields[13]) + int(fields[14])


def tree_cpu_s() -> float:
    """CPU seconds (user + system, including reaped children) used so far
    by this process tree, read from /proc, less what the JVM's JIT
    compiler threads used.

    JIT compilation is the JVM warming up, not the engine's work: over the
    first cycles of a run it takes 4 to 15 CPU seconds a cycle, and it
    varies more from run to run than all the rest of a cycle together. The
    compiler threads are kept alive for the whole run
    (``-XX:-UseDynamicNumberOfCompilerThreads``, set in ``run.start_spark``),
    so their CPU can be read from their own /proc entries."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in _process_tree():
        try:
            with open(f"/proc/{pid}/stat") as f:
                _, own, children = _ticks(f.read())
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        total += own + children
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as f:
                    name, own, _ = _ticks(f.read())
            except OSError:
                continue
            if name.startswith(JIT_THREADS):
                total -= own
    return total / tick


def cpu_stat() -> list[int]:
    """The machine's CPU time counters (user, nice, system, idle, iowait,
    irq, softirq, steal), in ticks, from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def peak_rss_mb() -> float:
    """Sum of the peak resident sets (VmHWM) of this process tree: the
    Python process, the Spark JVM and live Python workers."""
    total_kb = 0
    for pid in _process_tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def metric(value: float | None, unit: str, samples: int) -> dict:
    """A reported number; ``None`` (JSON null) where it is undefined."""
    v = None if value is None else float(value)
    if v is not None and (math.isnan(v) or math.isinf(v)):
        v = None
    return {"value": v, "unit": unit, "samples": int(samples)}
