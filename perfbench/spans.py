"""Tracing from outside the engine: spans, Spark job attribution, memory.

A span wraps one public engine call made by the benchmark. Entering a
span sets a Spark job group named after the span, so every Spark job
the call launches can be found afterwards in Spark's status store
(``sc._jsc.sc().statusStore()``, populated with the UI disabled) with
its per-stage counters. Spans stay in memory until the run ends.

Jobs are labelled by the engine's own call site, which PySpark puts in
the job name (``toPandas at executor.py:1889``): the line is mapped to
the enclosing engine function with ``ast``, so labels follow the engine
source instead of hard-coded line numbers.
"""

from __future__ import annotations

import ast
import contextlib
import os
import re
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    req: int
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. Disabled, ``span`` costs one branch.

    ``cost_s`` accumulates the time spent in the tracer's own
    bookkeeping (mostly the py4j calls that set job groups), so a traced
    run can state its overhead without a second, untraced run."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self.cost_s = 0.0
        self._stack: list[Span] = []
        self._next = 0

    @contextlib.contextmanager
    def span(self, name: str, req: int = -1, **attrs):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = Span(self._next, name, 0.0, 0.0, parent.sid if parent else None,
                  req if req >= 0 else (parent.req if parent else -1), dict(attrs))
        self._next += 1
        self._stack.append(sp)
        self.sc.setJobGroup(f"pb{sp.sid}", name, False)
        sp.start = time.time()
        self.cost_s += time.perf_counter() - t0
        try:
            yield sp
        finally:
            sp.end = time.time()
            t1 = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(f"pb{parent.sid}", parent.name, False)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(sp)
            self.cost_s += time.perf_counter() - t1


# -- Spark status store ---------------------------------------------------


def _it(seq):
    i = seq.iterator()
    while i.hasNext():
        yield i.next()


def _opt(o, default=None):
    return o.get() if o.isDefined() else default


@dataclass
class Stage:
    run_s: float
    cpu_s: float
    gc_s: float
    tasks: int
    input_bytes: int
    output_bytes: int
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    spill_bytes: int


@dataclass
class Job:
    jid: int
    group: str
    func: str  # "<module>.<function>" of the engine call site, or "write:<dir>"
    start: float
    end: float
    stages: list[Stage]

    @property
    def dur(self) -> float:
        return self.end - self.start

    def total(self, attr: str, pred=None):
        return sum(getattr(s, attr) for s in self.stages if pred is None or pred(s))


_CALLSITE = re.compile(r" at (\S+\.py):(\d+)")
_WRITE_PATH = re.compile(r"\(\d+\) Execute InsertIntoHadoopFsRelationCommand\n(?:.*\n)*?Arguments: (?:file:)?([^,\s]+)")


class CallSites:
    """Maps ``file.py:line`` in an engine module to its enclosing function."""

    def __init__(self, modules):
        self._funcs: dict[str, list[tuple[int, int, str]]] = {}
        for mod in modules:
            path = mod.__file__
            with open(path) as fh:
                src = fh.read()
            fns = []
            for node in ast.walk(ast.parse(src)):
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    fns.append((node.lineno, node.end_lineno, node.name))
            self._funcs[os.path.basename(path)] = fns

    def lookup(self, job_name: str) -> str:
        m = _CALLSITE.search(job_name or "")
        base = os.path.basename(m.group(1)) if m else None
        if base not in self._funcs:
            return "other"
        line = int(m.group(2))
        inner = None
        for lo, hi, name in self._funcs[base]:
            if lo <= line <= hi and (inner is None or lo > inner[0]):
                inner = (lo, name)
        return f"{base[:-3]}.{inner[1] if inner else '<module>'}"


def _sql_executions(spark) -> dict[int, tuple[int, str]]:
    """job id -> (SQL execution id, basename of the path it writes or "")."""
    out = {}
    for e in _it(spark._jsparkSession.sharedState().statusStore().executionsList()):
        m = _WRITE_PATH.search(e.physicalPlanDescription())
        target = os.path.basename(m.group(1).rstrip("/")) if m else ""
        for jid in _it(e.jobs().keys()):
            out[int(jid)] = (int(e.executionId()), target)
    return out


def collect_jobs(spark, sites: CallSites) -> list[Job]:
    """Every finished job that ran under a benchmark span's job group.

    A job's label is the engine function at its Python call site. Jobs
    without one (DataFrameWriter actions, adaptive query stages) take
    the call site of another job of the same SQL execution, or else
    ``write:<dir>`` from the path their execution writes."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    execs = _sql_executions(spark)
    jobs = []
    for j in _it(store.jobsList(None)):
        group = _opt(j.jobGroup())
        if not group or not group.startswith("pb"):
            continue
        sub, done = _opt(j.submissionTime()), _opt(j.completionTime())
        if sub is None or done is None:
            continue
        stages = []
        for sid in _it(j.stageIds()):
            for sd in _it(store.stageData(sid, False, None, False, None)):
                if str(sd.status()) != "COMPLETE":
                    continue
                stages.append(Stage(
                    run_s=sd.executorRunTime() / 1e3,
                    cpu_s=sd.executorCpuTime() / 1e9,
                    gc_s=sd.jvmGcTime() / 1e3,
                    tasks=sd.numCompleteTasks(),
                    input_bytes=sd.inputBytes(),
                    output_bytes=sd.outputBytes(),
                    shuffle_read_bytes=sd.shuffleReadBytes(),
                    shuffle_write_bytes=sd.shuffleWriteBytes(),
                    spill_bytes=sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
                ))
        jobs.append(Job(int(j.jobId()), group, sites.lookup(j.name()),
                        sub.getTime() / 1e3, done.getTime() / 1e3, stages))
    by_exec: dict[int, str] = {}
    for job in jobs:
        if job.func != "other" and job.jid in execs:
            by_exec.setdefault(execs[job.jid][0], job.func)
    for job in jobs:
        if job.func == "other" and job.jid in execs:
            ex, target = execs[job.jid]
            job.func = by_exec.get(ex, f"write:{target}" if target else "other")
    return sorted(jobs, key=lambda x: x.jid)


def covered(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per span name: duration minus the part its child spans cover."""
    kids: dict[int | None, list[Span]] = {}
    for sp in spans:
        kids.setdefault(sp.parent, []).append(sp)
    out: dict[str, float] = {}
    for sp in spans:
        child = covered((c.start, c.end) for c in kids.get(sp.sid, ()))
        out[sp.name] = out.get(sp.name, 0.0) + sp.dur - child
    return out


# -- memory ---------------------------------------------------------------


def peak_rss_bytes(root_pid: int) -> dict[int, int]:
    """High-water resident memory (VmHWM) of a process and each of its
    descendants (the driver JVM and the Python workers it forks), by
    pid. The kernel keeps the peak, so nothing is sampled."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    st = fh.read()
            except OSError:
                continue
            children.setdefault(int(st[st.rindex(")") + 2:].split()[1]), []).append(int(d))
    out, todo = {}, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        out[pid] = int(line.split()[1]) * 1024
        except OSError:
            continue
    return out
