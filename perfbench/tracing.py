"""Tracing for the benchmark's traced runs (``--trace 1``).

* ``Tracer`` keeps spans (name, start, end, parent, run id) in memory and
  writes them out at the end of the run. ``Tracer.wrap`` puts a span
  around a function of the program by replacing the module or class
  attribute for the duration of a ``with`` block; while the span is open,
  every Spark job the thread submits carries the span name as the local
  property ``perfbench.span``.
* ``callsite_hooks`` makes every job record the program frame that
  triggered it: PySpark sets a job's call site only for ``collect`` and
  RDD actions, so writer saves and ``count`` get the same treatment here.
* ``read_event_log`` turns Spark's JSON event log into per-job records
  (call site, module, scheduler pool, span, stage/task counts and task
  metrics) that ``summarize`` aggregates over any subset of jobs.
* ``self_time`` and ``HostWitness`` are the span and machine-load
  arithmetic the report uses.
"""

from __future__ import annotations

import contextlib
import json
import os
import sys
import threading
import time
from dataclasses import dataclass, field

SPAN_PROP = "perfbench.span"
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run: str
    sid: int


@dataclass
class Tracer:
    """In-memory span recorder. Times are ``time.time()`` seconds so they
    line up with the millisecond timestamps of the Spark event log."""

    run: str
    sc: object = None  # SparkContext; None records spans without job tagging
    spans: list[Span] = field(default_factory=list)
    _local: threading.local = field(default_factory=threading.local)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    @contextlib.contextmanager
    def span(self, name: str):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            sid = len(self.spans)
            sp = Span(name, time.time(), 0.0, stack[-1] if stack else None, self.run, sid)
            self.spans.append(sp)
        prev = self.sc.getLocalProperty(SPAN_PROP) if self.sc is not None else None
        if self.sc is not None:
            self.sc.setLocalProperty(SPAN_PROP, name)
        stack.append(sid)
        try:
            yield sp
        finally:
            stack.pop()
            sp.end = time.time()
            if self.sc is not None:
                self.sc.setLocalProperty(SPAN_PROP, prev)

    @contextlib.contextmanager
    def wrap(self, owner, attr: str, name: str):
        """Span every call of ``owner.attr`` inside the block. A missing
        attribute raises ``AttributeError``, so a renamed entry point cannot
        leave its layer reading 0."""
        orig = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        try:
            yield
        finally:
            setattr(owner, attr, orig)

    def dump(self, path: str) -> None:
        """Write every span with its self time."""
        own = self_time(self.spans)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([{**s.__dict__, "self_s": own[s.sid]} for s in self.spans], f)


def self_time(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of its interval its children cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = _union_length(
            [(max(c.start, s.start), min(c.end, s.end)) for c in children.get(s.sid, [])]
        )
        out[s.sid] = (s.end - s.start) - covered
    return out


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ---------------------------------------------------------------------------
# Job call sites
# ---------------------------------------------------------------------------

def _program_frame() -> str | None:
    """The innermost caller outside PySpark and this file."""
    import pyspark

    skip = (os.path.dirname(pyspark.__file__), os.path.abspath(__file__))
    f = sys._getframe(2)
    while f is not None:
        fn = f.f_code.co_filename
        if not fn.startswith(skip):
            return f"{f.f_code.co_name} at {fn}:{f.f_lineno}"
        f = f.f_back
    return None


@contextlib.contextmanager
def callsite_hooks(sc):
    """Give writer saves and ``count`` the call-site tagging that PySpark
    only applies to ``collect`` and RDD actions."""
    from pyspark.sql import DataFrame, DataFrameWriter

    targets = [(DataFrameWriter, m) for m in
               ("save", "parquet", "json", "csv", "orc", "text", "insertInto", "saveAsTable")]
    targets.append((DataFrame, "count"))
    originals = []
    for owner, attr in targets:
        orig = getattr(owner, attr)
        originals.append((owner, attr, orig))

        def hooked(*args, __orig=orig, **kwargs):
            site = _program_frame()
            if site is None:
                return __orig(*args, **kwargs)
            sc._jsc.setCallSite(site)
            try:
                return __orig(*args, **kwargs)
            finally:
                sc._jsc.setCallSite(None)

        setattr(owner, attr, hooked)
    try:
        yield
    finally:
        for owner, attr, orig in originals:
            setattr(owner, attr, orig)


def module_of(callsite: str, root: str) -> str:
    """``"parquet at <root>/shopify_etl_spark/pipeline/runner.py:12"`` →
    ``"pipeline.runner"``; the benchmark's own calls read ``perfbench`` and
    anything else ``other``."""
    path = callsite.rsplit(" at ", 1)[-1].rsplit(":", 1)[0]
    pkg = os.path.join(root, "shopify_etl_spark") + os.sep
    if path.startswith(pkg):
        mod = path[len(pkg):]
        return mod[:-3].replace(os.sep, ".") if mod.endswith(".py") else mod
    if path.startswith(BENCH_DIR):
        return "perfbench"
    return "other"


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------

@dataclass
class Job:
    job_id: int
    start: float
    end: float = 0.0
    callsite: str = ""
    module: str = "other"
    pool: str = "default"
    span: str = ""
    stages: set = field(default_factory=set)
    tasks: int = 0
    failed_tasks: int = 0
    task_run_s: float = 0.0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    spill_bytes: int = 0
    shuffle_write_bytes: int = 0
    input_bytes: int = 0
    output_bytes: int = 0
    task_intervals: list = field(default_factory=list)

    @property
    def wall_s(self) -> float:
        return max(0.0, self.end - self.start)

    @property
    def wait_s(self) -> float:
        """Job wall time not covered by any of its running tasks."""
        return max(0.0, self.wall_s - _union_length(self.task_intervals))


def read_event_log(path: str, root: str) -> list[Job]:
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                site = props.get("callSite.short", "")
                job = Job(
                    job_id=ev["Job ID"], start=ev["Submission Time"] / 1000.0,
                    callsite=site, module=module_of(site, root),
                    pool=props.get("spark.scheduler.pool") or "default",
                    span=props.get(SPAN_PROP) or "",
                    stages=set(ev.get("Stage IDs", [])),
                )
                jobs[job.job_id] = job
                for sid in job.stages:
                    stage_job.setdefault(sid, job.job_id)
            elif kind == "SparkListenerJobEnd":
                job = jobs.get(ev["Job ID"])
                if job is not None:
                    job.end = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev.get("Stage ID"), -1))
                if job is None:
                    continue
                info = ev.get("Task Info", {})
                m = ev.get("Task Metrics") or {}
                job.tasks += 1
                if ev.get("Task End Reason", {}).get("Reason") != "Success":
                    job.failed_tasks += 1
                job.task_intervals.append((info.get("Launch Time", 0) / 1000.0,
                                           info.get("Finish Time", 0) / 1000.0))
                job.task_run_s += m.get("Executor Run Time", 0) / 1000.0
                job.task_cpu_s += m.get("Executor CPU Time", 0) / 1e9
                job.gc_s += m.get("JVM GC Time", 0) / 1000.0
                job.spill_bytes += m.get("Disk Bytes Spilled", 0) + m.get("Memory Bytes Spilled", 0)
                job.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                job.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                job.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    return sorted(jobs.values(), key=lambda j: j.job_id)


def summarize(jobs: list[Job]) -> dict:
    """Aggregate counters over a set of jobs."""
    mb = 1 << 20
    return {
        "jobs": len(jobs),
        "stages": len(set().union(*[j.stages for j in jobs])) if jobs else 0,
        "tasks": sum(j.tasks for j in jobs),
        "failed_tasks": sum(j.failed_tasks for j in jobs),
        "job_s": sum(j.wall_s for j in jobs),
        "wait_s": sum(j.wait_s for j in jobs),
        "task_run_s": sum(j.task_run_s for j in jobs),
        "task_cpu_s": sum(j.task_cpu_s for j in jobs),
        "gc_s": sum(j.gc_s for j in jobs),
        "spill_mb": sum(j.spill_bytes for j in jobs) / mb,
        "shuffle_mb": sum(j.shuffle_write_bytes for j in jobs) / mb,
        "input_mb": sum(j.input_bytes for j in jobs) / mb,
        "output_mb": sum(j.output_bytes for j in jobs) / mb,
    }


def spark_metrics(window_jobs: list[Job], all_jobs: list[Job], wall: float, cores: int) -> dict:
    """The engine-wide ``spark.*`` metrics over the jobs of a timed window;
    failed tasks count over the whole run."""
    s = summarize(window_jobs)
    return {
        "spark.jobs": s["jobs"],
        "spark.scheduler_wait_s": s["wait_s"],
        "spark.task_cpu_s": s["task_cpu_s"],
        "spark.task_run_s": s["task_run_s"],
        "spark.core_busy_frac": s["task_run_s"] / (wall * cores) if wall else 0.0,
        "spark.gc_s": s["gc_s"],
        "spark.spill_mb": s["spill_mb"],
        "spark.shuffle_mb": s["shuffle_mb"],
        "spark.failed_tasks": summarize(all_jobs)["failed_tasks"],
    }


def dump_modules(path: str, window_jobs: list[Job], all_jobs: list[Job]) -> None:
    """Per-module job/task/byte counts of the timed window and the run."""
    unattributed: dict[str, int] = {}
    for j in all_jobs:
        if j.module == "other":
            unattributed[j.callsite] = unattributed.get(j.callsite, 0) + 1
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump({"window": by_module(window_jobs), "all": by_module(all_jobs),
                   "other_callsites": unattributed}, f, indent=1)


def jobs_between(jobs: list[Job], t0: float, t1: float) -> list[Job]:
    return [j for j in jobs if t0 <= j.start <= t1]


def by_module(jobs: list[Job]) -> dict[str, dict]:
    groups: dict[str, list[Job]] = {}
    for j in jobs:
        groups.setdefault(j.module, []).append(j)
    return {m: summarize(js) for m, js in sorted(groups.items())}


# ---------------------------------------------------------------------------
# Machine load
# ---------------------------------------------------------------------------

def _cpu_ticks() -> tuple[int, int, int]:
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    idle = vals[3] + (vals[4] if len(vals) > 4 else 0)
    steal = vals[7] if len(vals) > 7 else 0
    return sum(vals[:8]), idle, steal


class HostWitness:
    """load1 plus busy and steal percentages of the whole machine over the
    measured window: how much else was competing for the cores."""

    def __init__(self):
        self._t0 = _cpu_ticks()

    def read(self) -> dict:
        t1 = _cpu_ticks()
        total = max(1, t1[0] - self._t0[0])
        with open("/proc/loadavg") as f:
            load1 = float(f.read().split()[0])
        return {
            "load1": load1,
            "busy_pct": 100.0 * (total - (t1[1] - self._t0[1])) / total,
            "steal_pct": 100.0 * (t1[2] - self._t0[2]) / total,
        }
