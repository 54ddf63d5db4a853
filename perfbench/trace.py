"""Benchmark-side tracing: spans around public engine calls, Spark job
accounting per job group, and streaming progress.

Nothing here reaches into the engine.  Job and stage numbers come from
Spark's always-on status store (present with ``spark.ui.enabled=false``);
streaming numbers come from a ``StreamingQueryListener``.  Spans are kept
in memory and written once, when the run ends.
"""

from __future__ import annotations

import json
import os
import resource
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None


@dataclass
class GroupStats:
    """Work Spark did for one job group."""

    jobs: int = 0
    tasks: int = 0
    input_records: int = 0
    shuffle_bytes: int = 0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    job_s: float = 0.0  # wall time covered by the union of the jobs' intervals

    def add(self, o: "GroupStats") -> None:
        for k in asdict(self):
            setattr(self, k, getattr(self, k) + getattr(o, k))


def _union_s(intervals: list[tuple[int, int]]) -> float:
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1000.0


def group_stats(sc, group: str) -> GroupStats:
    """Jobs, tasks, input records, shuffle bytes, executor CPU and GC time
    of every job Spark ran under ``group``, read from the status store.
    Call it after the group's work has finished."""
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    out = GroupStats()
    intervals = []
    for jid in tracker.getJobIdsForGroup(group):
        out.jobs += 1
        job = store.job(jid)
        if job.submissionTime().isDefined() and job.completionTime().isDefined():
            intervals.append(
                (job.submissionTime().get().getTime(), job.completionTime().get().getTime())
            )
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info is not None else ():
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # a stage that never ran has no attempt
                continue
            out.tasks += st.numCompleteTasks()
            out.input_records += st.inputRecords()
            out.shuffle_bytes += st.shuffleWriteBytes()
            out.executor_cpu_s += st.executorCpuTime() / 1e9
            out.gc_s += st.jvmGcTime() / 1e3
    out.job_s = _union_s(intervals)
    return out


class Tracer:
    """Spans plus per-group Spark accounting.  ``enabled=False`` makes
    every method a near no-op, so workloads call it unconditionally."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._groups = 0

    @contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, op))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    @contextmanager
    def group(self, name: str, op: int | None = None):
        """A span whose Spark jobs run under their own job group; yields a
        GroupStats filled in when the block exits (empty when tracing is
        off)."""
        stats = GroupStats()
        if not self.enabled:
            yield stats
            return
        self._groups += 1
        gid = f"perfbench-{self._groups}-{name}"
        self.sc.setJobGroup(gid, name)
        try:
            with self.span(name, op):
                yield stats
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        stats.add(group_stats(self.sc, gid))

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


class ProgressLog(StreamingQueryListener):
    """Collects every ``StreamingQueryProgress`` of the session's queries
    (the Structured Streaming monitoring surface)."""

    def __init__(self):
        self._lock = threading.Lock()
        self._progress: list = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        with self._lock:
            self._progress.append(event.progress)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def for_run(self, run_id: str, n: int) -> list:
        """The progress of query run ``run_id`` once ``n`` batches have
        reported (listener events arrive asynchronously; give up after
        10 s)."""
        deadline = time.monotonic() + 10
        while True:
            with self._lock:
                got = [p for p in self._progress if str(p.runId) == run_id and p.numInputRows > 0]
            if len(got) >= n or time.monotonic() > deadline:
                return sorted(got, key=lambda p: p.batchId)
            time.sleep(0.05)

    def run_ids(self) -> list[str]:
        with self._lock:
            return list(dict.fromkeys(str(p.runId) for p in self._progress))


def peak_rss_mb(sc) -> float:
    """Peak resident memory of this process plus the driver JVM."""
    mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    proc = getattr(sc._gateway, "proc", None)
    if proc is not None:
        try:
            with open(f"/proc/{proc.pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        mb += int(line.split()[1]) / 1024.0
        except OSError:
            pass
    return mb
