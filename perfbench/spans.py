"""Spans around calls into the engine's layers, and the numbers read
back from Spark for each operation.

Everything here observes the package from outside: functions are
wrapped by replacing module attributes, Catalyst phase times come from
``QueryExecution.tracker()``, and executor metrics from the status store
for the jobs of one job group per operation.
"""

from __future__ import annotations

import functools
import inspect
import statistics
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError


def median_and_count(samples: list[float]) -> tuple[float, int]:
    """Median of the samples and how many there were."""
    if not samples:
        raise ValueError("no samples")
    return statistics.median(samples), len(samples)


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    jobs: int = 0
    child_s: float = 0.0
    child_jobs: int = 0

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        """Time not covered by direct child spans."""
        return self.duration - self.child_s

    @property
    def self_jobs(self) -> int:
        return self.jobs - self.child_jobs


@dataclass
class Tracer:
    """Nested spans on one thread.  ``job_count`` returns how many Spark
    jobs the current operation has started so far; a span's jobs are the
    difference between its exit and entry counts."""

    job_count: object = staticmethod(lambda: 0)
    clock: object = staticmethod(time.monotonic)
    active: bool = True
    closed: list[Span] = field(default_factory=list)
    overhead_s: float = 0.0  # time spent reading job counts
    _stack: list[Span] = field(default_factory=list)

    def _jobs(self) -> int:
        t = time.monotonic()
        n = self.job_count()
        self.overhead_s += time.monotonic() - t
        return n

    @contextmanager
    def span(self, name: str):
        s = Span(name, self.clock())
        jobs0 = self._jobs()
        self._stack.append(s)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = self.clock()
            s.jobs = self._jobs() - jobs0
            if self._stack:
                self._stack[-1].child_s += s.duration
                self._stack[-1].child_jobs += s.jobs
            self.closed.append(s)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped_by_tracer__ = True
        return traced

    def totals(self) -> dict[str, dict[str, float]]:
        """Per span name: summed self time, calls and self jobs."""
        out: dict[str, dict[str, float]] = {}
        for s in self.closed:
            t = out.setdefault(s.name, {"s": 0.0, "calls": 0, "jobs": 0})
            t["s"] += s.self_s
            t["calls"] += 1
            t["jobs"] += s.self_jobs
        return out


def _replace_everywhere(package: str, old, new) -> None:
    """Rebind every module-level reference to ``old`` in ``package``."""
    for mod in list(sys.modules.values()):
        if getattr(mod, "__name__", "").startswith(package):
            for key, val in list(vars(mod).items()):
                if val is old:
                    setattr(mod, key, new)


def wrap_module_functions(tracer: Tracer, module, span_name: str, package: str) -> int:
    """Trace every public function defined in ``module``; returns how many."""
    n = 0
    for key, val in list(vars(module).items()):
        if (
            inspect.isfunction(val)
            and val.__module__ == module.__name__
            and not key.startswith("_")
            and not getattr(val, "__wrapped_by_tracer__", False)
        ):
            _replace_everywhere(package, val, tracer.wrap(span_name, val))
            n += 1
    return n


def wrap_function(tracer: Tracer, fn, span_name: str, package: str):
    traced = tracer.wrap(span_name, fn)
    _replace_everywhere(package, fn, traced)
    return traced


# ---------------------------------------------------------------------------
# Numbers read back from Spark
# ---------------------------------------------------------------------------

STAGE_FIELDS = (
    "executor_run_s", "executor_cpu_s", "gc_s", "shuffle_write_bytes",
    "shuffle_read_bytes", "spill_bytes", "input_bytes", "input_records",
    "tasks", "failed_tasks", "stages",
)


def catalyst_phases(df) -> dict[str, float]:
    """Analysis, optimization and planning seconds of ``df``'s plan."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for p in ("analysis", "optimization", "planning"):
        o = phases.get(p)
        out[p] = o.get().durationMs() / 1000.0 if o.isDefined() else 0.0
    return out


def stage_totals(sc, job_ids) -> dict[str, float]:
    """Sum the status-store metrics of every stage the jobs ran."""
    tot = dict.fromkeys(STAGE_FIELDS, 0.0)
    store = sc._jsc.sc().statusStore()
    seen = set()
    for j in job_ids:
        info = sc.statusTracker().getJobInfo(j)
        if info is None:
            continue
        for sid in info.stageIds:
            if sid in seen:
                continue
            seen.add(sid)
            try:
                d = store.lastStageAttempt(sid)
            except Py4JJavaError:  # stage of a job that never submitted it
                continue
            if d.status().toString() == "SKIPPED":
                continue
            tot["stages"] += 1
            tot["tasks"] += d.numTasks()
            tot["failed_tasks"] += d.numFailedTasks()
            tot["executor_run_s"] += d.executorRunTime() / 1e3
            tot["executor_cpu_s"] += d.executorCpuTime() / 1e9
            tot["gc_s"] += d.jvmGcTime() / 1e3
            tot["shuffle_write_bytes"] += d.shuffleWriteBytes()
            tot["shuffle_read_bytes"] += d.shuffleReadBytes()
            tot["spill_bytes"] += d.memoryBytesSpilled() + d.diskBytesSpilled()
            tot["input_bytes"] += d.inputBytes()
            tot["input_records"] += d.inputRecords()
    return tot
