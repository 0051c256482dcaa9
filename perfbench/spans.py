"""Span recorder for the traced benchmark run.

Tracing lives entirely in the benchmark: :meth:`Tracer.wrap` rebinds a
package function at every module that imported it (``method_suite``
calls ``cox_fit`` through its own module global, so patching
``cox.cox_fit`` alone would miss it), and the wrapper records one span
per call.  A span holds

* its wall interval and parent span (self time = wall minus the part
  its children cover, :func:`self_times`);
* the Spark jobs that started inside it, as the range of job ids read
  from ``statusTracker()`` at its two ends;
* the py4j commands the driver sent during it (:class:`Py4jCounter`),
  the tracer's own job-id lookups excluded (their time is the tracing
  overhead, :attr:`Tracer.own_s`);
* the Newton/IRLS iteration count when the call returns a fit with
  ``n_iter``.

Stages, tasks, executor CPU, shuffle, spill, GC, Python-worker time and
speculative or failed tasks come from Spark's event log, parsed after
the session stops (:func:`parse_event_log`) and joined to spans by job
id (:func:`job_totals`).

A function that returns a lazy DataFrame only builds a plan; its span
covers plan construction and any job it runs eagerly, and the job that
finally executes the plan lands in the caller's span.
"""

from __future__ import annotations

import functools
import itertools
import json
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Iterable, Iterator, Sequence


@dataclass
class Span:
    name: str
    parent: int | None
    phase: str
    start: float = 0.0  # time.perf_counter()
    end: float = 0.0
    job_lo: int = -1  # jobs with job_lo < id <= job_hi started in the span
    job_hi: int = -1
    py4j: int = 0
    iterations: int = 0

    @property
    def wall(self) -> float:
        return self.end - self.start


class Py4jCounter:
    """Counts the commands a py4j gateway client sends to the JVM."""

    def __init__(self, client) -> None:
        self._client = client
        self._send = client.send_command
        self._n = itertools.count()
        self._last = 0

        def counted(*args, **kwargs):
            self._last = next(self._n) + 1
            return self._send(*args, **kwargs)

        client.send_command = counted

    @property
    def count(self) -> int:
        return self._last

    def remove(self) -> None:
        del self._client.send_command  # falls back to the class method


class Tracer:
    """Records spans around calls into the package's layers."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self.spans: list[Span] = []
        self.phase = "setup"
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        self._py4j = Py4jCounter(sc._gateway._gateway_client)
        self._own = 0  # py4j commands the tracer itself sent
        self.own_s: dict[str, float] = {}  # seconds the tracer spent, per phase
        self._status = sc._jsc.sc().statusTracker()
        self._arrays = sc._jvm.java.util.Arrays

    def py4j_commands(self) -> int:
        """Commands sent so far, not counting the tracer's own."""
        return self._py4j.count - self._own

    def last_job_id(self) -> int:
        t0 = time.perf_counter()
        before = self._py4j.count
        ids = self._status.getJobIdsForGroup(None)  # jobs with no group
        last = int(self._arrays.stream(ids).max().orElse(-1))
        del ids
        self._own += self._py4j.count - before
        self.own_s[self.phase] = self.own_s.get(self.phase, 0.0) + (
            time.perf_counter() - t0
        )
        return last

    @contextmanager
    def span(self, name: str) -> Iterator[Span]:
        """Record a span; a call nested directly in a span of the same
        name (the benchmark spanning a call plus the action that runs
        its lazy result) joins the outer span instead of opening a new
        one."""
        if self._stack and self.spans[self._stack[-1]].name == name:
            yield self.spans[self._stack[-1]]
            return
        sp = Span(name, self._stack[-1] if self._stack else None, self.phase)
        sp.job_lo = self.last_job_id()
        py4j0 = self.py4j_commands()
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            sp.job_hi = self.last_job_id()
            sp.py4j = self.py4j_commands() - py4j0

    def wrap(self, module, attr: str, name: str, prefixes: Sequence[str]) -> None:
        """Rebind ``module.attr`` in every loaded module whose name
        starts with one of ``prefixes`` and that holds the same object."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name) as sp:
                out = orig(*args, **kwargs)
                n_iter = getattr(out, "n_iter", None)
                if isinstance(n_iter, int):
                    sp.iterations += n_iter
                return out

        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith(tuple(prefixes)):
                continue
            if vars(mod).get(attr) is orig:
                setattr(mod, attr, traced)
                self._patches.append((mod, attr, orig))

    def unwrap(self) -> None:
        for mod, attr, orig in reversed(self._patches):
            setattr(mod, attr, orig)
        self._patches.clear()

    def close(self) -> None:
        self.unwrap()
        self._py4j.remove()


def self_times(spans: Sequence[Span]) -> list[float]:
    """Each span's wall minus the union of its children's intervals."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp.parent is not None:
            kids.setdefault(sp.parent, []).append((sp.start, sp.end))
    out = []
    for i, sp in enumerate(spans):
        covered = 0.0
        reach = sp.start
        for a, b in sorted(kids.get(i, ())):
            a, b = max(a, reach), min(b, sp.end)
            if b > a:
                covered += b - a
                reach = b
        out.append(sp.wall - covered)
    return out


@dataclass
class TaskTotals:
    """Sums over the task-end events of some set of stages."""

    tasks: int = 0
    failed: int = 0
    speculative: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    python_s: float = 0.0

    def add(self, other: "TaskTotals") -> None:
        for f in self.__dataclass_fields__:
            setattr(self, f, getattr(self, f) + getattr(other, f))


# SQL metric on the Python exec nodes (ArrowEvalPython, FlatMapGroupsIn-
# Pandas, MapInPandas ...): milliseconds the task spent in Python workers.
PYTHON_RUN_METRIC = "time to run Python workers"


def _task_totals(event: dict) -> TaskTotals:
    tot = TaskTotals(tasks=1)
    info = event.get("Task Info") or {}
    if info.get("Speculative"):
        tot.speculative = 1
    if (event.get("Task End Reason") or {}).get("Reason") != "Success":
        tot.failed = 1
    m = event.get("Task Metrics") or {}
    tot.run_s = m.get("Executor Run Time", 0) / 1e3
    tot.cpu_s = m.get("Executor CPU Time", 0) / 1e9
    tot.gc_s = m.get("JVM GC Time", 0) / 1e3
    tot.shuffle_write_bytes = (m.get("Shuffle Write Metrics") or {}).get(
        "Shuffle Bytes Written", 0
    )
    tot.spill_bytes = m.get("Disk Bytes Spilled", 0)
    for acc in info.get("Accumulables") or ():
        if acc.get("Name") == PYTHON_RUN_METRIC:
            tot.python_s += float(acc.get("Update") or 0) / 1e3
    return tot


@dataclass
class EventLog:
    job_stages: dict[int, list[int]] = field(default_factory=dict)
    stage_totals: dict[int, TaskTotals] = field(default_factory=dict)


def parse_event_log(lines: Iterable[str]) -> EventLog:
    """Task totals per stage and the stages each job ran.

    A stage is listed by every job that depends on it, but runs only in
    the first one (later jobs skip it), so it is charged to the lowest
    job id that lists it.  Stages with no task-end event never ran."""
    owner: dict[int, int] = {}
    log = EventLog()
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            for sid in ev.get("Stage IDs", ()):
                owner[sid] = min(owner.get(sid, ev["Job ID"]), ev["Job ID"])
        elif kind == "SparkListenerTaskEnd":
            log.stage_totals.setdefault(ev["Stage ID"], TaskTotals()).add(
                _task_totals(ev)
            )
    for sid in sorted(log.stage_totals):
        if sid in owner:
            log.job_stages.setdefault(owner[sid], []).append(sid)
    return log


def job_totals(log: EventLog, job_lo: int, job_hi: int) -> tuple[int, int, TaskTotals]:
    """(jobs, stages run, task totals) for jobs job_lo < id <= job_hi."""
    tot = TaskTotals()
    stages = 0
    for job in range(job_lo + 1, job_hi + 1):
        for sid in log.job_stages.get(job, ()):
            stages += 1
            tot.add(log.stage_totals[sid])
    return max(0, job_hi - job_lo), stages, tot
