"""Spans, counters and the readers that fill them from outside the package.

Everything here wraps the benchmark's own calls into the package or reads
Spark's public status APIs after a timed region has closed:

* ``Tracer`` keeps spans (name, start, end, parent, one trace id per run) and
  the counts recorded at the same boundaries, in memory; ``write`` dumps
  them at the end of the run. A disabled tracer records nothing, so
  untraced runs pay only the ``if`` tests.
* ``spark_counts`` turns a job group into jobs, stages, tasks and the stage
  store's executor metrics (the JVM status store behind the Spark UI, which
  is kept even with the UI off).
* ``MemorySampler`` polls ``/proc`` for the proportional set size of this
  process and every descendant (the JVM and its Python workers), keeping
  the peak of the sum.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# Executor-side metrics summed over the stages a job group ran.
STAGE_FIELDS = {
    "tasks": ("numCompleteTasks", 1),
    "failed_tasks": ("numFailedTasks", 1),
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "input_bytes": ("inputBytes", 1),
    "input_records": ("inputRecords", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
}


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    counts: dict = field(default_factory=dict)


class Tracer:
    """In-memory spans for one run; ``enabled=False`` makes every call a no-op."""

    def __init__(self, enabled: bool, trace_id: str):
        self.enabled = enabled
        self.trace_id = trace_id
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        s = Span(len(self.spans), name, time.perf_counter(), parent=self._stack[-1] if self._stack else None)
        self.spans.append(s)
        self._stack.append(s.span_id)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def add(self, name: str, start: float, end: float, parent: Span | None, **counts) -> None:
        """Record a span measured elsewhere (a micro-batch from stream progress)."""
        if self.enabled:
            pid = parent.span_id if parent is not None else None
            self.spans.append(Span(len(self.spans), name, start, end, pid, counts))

    def write(self, path: str) -> None:
        rows = [
            {"trace": self.trace_id, "id": s.span_id, "parent": s.parent, "name": s.name,
             "start": s.start, "end": s.end, "counts": s.counts}
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump({"trace": self.trace_id, "spans": rows}, f)


def _ms(opt_date) -> float | None:
    return opt_date.get().getTime() / 1e3 if opt_date.isDefined() else None


def _union_s(intervals: list[tuple[float, float]]) -> float:
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


def spark_counts(sc, job_ids) -> dict:
    """Jobs, stages that ran, summed stage metrics and busy time of ``job_ids``.

    ``jobs_busy_s`` is the wall time covered by at least one of the jobs
    (union of submission..completion, millisecond clock), used as the spark
    layer's share of the enclosing span."""
    store = sc._jsc.sc().statusStore()  # noqa: SLF001 -- JVM status store
    tracker = sc.statusTracker()
    out = {k: 0 for k in STAGE_FIELDS}
    out.update(jobs=len(job_ids), stages=0, jobs_busy_s=0.0)
    intervals = []
    for jid in job_ids:
        job = store.job(jid)
        s, e = _ms(job.submissionTime()), _ms(job.completionTime())
        if s is not None and e is not None:
            intervals.append((s, e))
        for sid in tracker.getJobInfo(jid).stageIds:
            st = store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            for key, (getter, scale) in STAGE_FIELDS.items():
                out[key] += getattr(st, getter)() * scale
    out["jobs_busy_s"] = _union_s(intervals)
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size: pages shared between processes (a forked
    Python worker and its daemon, a JVM child between fork and exec) are
    split among them instead of counted once per process."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


class MemorySampler:
    """Peak of the summed PSS of this process tree, polled every ``period`` s.

    ``parts_kb`` keeps the peak of each part on its own: this driver process,
    the JVM, and the other descendants (Python workers and their daemon).
    One poll takes about 30 ms of this process's CPU, most of it reading the
    JVM's ``smaps_rollup``, so polling every 0.2 s took a seventh of a core
    from the workload; the default polls once a second."""

    def __init__(self, period: float = 1.0):
        self.period = period
        self.peak_kb = 0
        self.parts_kb = {"driver": 0, "jvm": 0, "workers": 0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="memory-sampler", daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        parts = {"driver": 0, "jvm": 0, "workers": 0}
        for pid in _descendants(me):
            kind = "driver" if pid == me else "jvm" if _comm(pid) == "java" else "workers"
            parts[kind] += _pss_kb(pid)
        self.peak_kb = max(self.peak_kb, sum(parts.values()))
        for k, v in parts.items():
            self.parts_kb[k] = max(self.parts_kb[k], v)

    def _run(self) -> None:
        while not self._stop.wait(self.period):
            self._sample()

    def start(self) -> "MemorySampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop polling; returns the peak in MB. Later calls only return it."""
        if not self._stop.is_set():
            self._stop.set()
            self._thread.join(timeout=5)
            self._sample()
        return self.peak_kb / 1024.0
