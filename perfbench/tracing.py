"""Layer tracing for the traced run (``--trace 1``).

Spans are recorded from the benchmark's own files: the public functions
are wrapped where their callers resolve them, each wrapper recording
(name, start, end, parent) in memory.  A run has one client, so a span's
Spark jobs are the jobs the application started while it was open, from
any thread (the engine submits some from its own thread pools, which do
not inherit a caller's job group); their ids and task counts come from
Spark's status tracker.  Task CPU, GC, shuffle and spill come from the
Spark event log, read after the session stops.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
from dataclasses import dataclass, field


def job_ids(sc) -> set[int]:
    """Ids of the jobs the status tracker knows that carry no job group:
    every job of the run, since the benchmark sets no group and the engine
    sets one only when a merge progress callback is given."""
    return set(sc.statusTracker().getJobIdsForGroup(None))


def job_tasks(sc, ids) -> int:
    """Completed tasks over every stage of the given jobs (status
    tracker).  A stage that a later job reuses is listed by both jobs and
    counted once."""
    tracker = sc.statusTracker()
    stages: set[int] = set()
    for jid in ids:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stages.update(info.stageIds)
    infos = (tracker.getStageInfo(sid) for sid in stages)
    return sum(st.numCompletedTasks for st in infos if st is not None)


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None  # index of the enclosing span
    job_ids: frozenset = frozenset()  # jobs started while the span was open
    index: int = 0

    @property
    def wall(self) -> float:
        return self.end - self.start

    @property
    def jobs(self) -> int:
        return len(self.job_ids)


@dataclass
class Tracer:
    """Collects spans and counters; inert until ``enabled`` is set."""

    sc: object = None
    enabled: bool = False
    cost: float = 0.0  # seconds spent on status-tracker reads and bookkeeping
    spans: list[Span] = field(default_factory=list)
    counts: dict[str, float] = field(default_factory=dict)
    _local: threading.local = field(default_factory=threading.local)
    _patched: list = field(default_factory=list)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    def count(self, name: str, n: float = 1) -> None:
        with self._lock:
            self.counts[name] = self.counts.get(name, 0) + n

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str):
        """Record a span and the Spark jobs started while it is open."""
        if not self.enabled:
            yield None
            return
        c0 = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else None
        jobs0 = job_ids(self.sc)
        with self._lock:
            sp = Span(name, time.perf_counter(), parent=parent, index=len(self.spans))
            self.spans.append(sp)
        stack.append(sp.index)
        c1 = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = c2 = time.perf_counter()
            stack.pop()
            sp.job_ids = frozenset(job_ids(self.sc) - jobs0)
            with self._lock:
                self.cost += (c1 - c0) + (time.perf_counter() - c2)

    def wrap(self, module, attr: str, name: str, on_call=None) -> None:
        """Replace ``module.attr`` with a spanning wrapper until
        :meth:`unwrap`; while enabled, ``on_call(args)`` may record
        counters."""
        orig = getattr(module, attr)

        def wrapper(*args, **kwargs):
            if on_call is not None and self.enabled:
                on_call(args)
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(module, attr, wrapper)
        self._patched.append((module, attr, orig))

    def unwrap(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()

    def self_time(self, sp: Span) -> float:
        """A span's wall minus the union of its children's intervals."""
        kids = sorted(
            (c.start, c.end) for c in self.spans if c.parent == sp.index
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return sp.wall - covered


def event_log_task_metrics(log_dir: str) -> tuple[dict[int, dict[str, float]], int]:
    """Per job id: task CPU seconds, GC seconds, shuffle bytes written and
    bytes spilled, summed from every TaskEnd in the event log, and the
    number of TaskEnd events read.  A stage belongs to the first job that
    lists it; later jobs that list it reuse its output and run no task.

    Reads every file under ``log_dir``: Spark writes one file per
    application, or a directory of rolling files when
    ``spark.eventLog.rolling.enabled`` is set.  Hidden files (the local
    file system's ``.crc`` checksums) are skipped."""
    stage_job: dict[int, int] = {}
    per_stage: dict[int, dict[str, float]] = {}
    n_tasks = 0
    paths = sorted(
        os.path.join(d, f) for d, _, files in os.walk(log_dir)
        for f in files if not f.startswith(".")
    )
    for path in paths:
        with open(path) as fh:
            for line in fh:
                if not line.strip():
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    for sid in ev.get("Stage IDs", ()):
                        stage_job.setdefault(sid, ev["Job ID"])
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics")
                    if not m:
                        continue
                    n_tasks += 1
                    acc = per_stage.setdefault(
                        ev["Stage ID"], {"task_cpu_s": 0.0, "gc_s": 0.0,
                                         "shuffle_bytes": 0.0, "spill_bytes": 0.0}
                    )
                    acc["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    acc["shuffle_bytes"] += (
                        m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    )
                    acc["spill_bytes"] += (
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    )
    per_job: dict[int, dict[str, float]] = {}
    for sid, acc in per_stage.items():
        jid = stage_job.get(sid)
        if jid is None:
            continue
        tot = per_job.setdefault(jid, dict.fromkeys(acc, 0.0))
        for stat, v in acc.items():
            tot[stat] += v
    return per_job, n_tasks
