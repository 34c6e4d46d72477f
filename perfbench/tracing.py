"""Measurement from outside the program.

* ``Tracer`` keeps spans in memory: name, start, end, parent, and the op
  (one pipeline call or one panel call) that caused them.  Spans come
  from wrappers the benchmark installs around the layers' public functions;
  nothing inside the program is edited.
* ``ProgressLog`` is a ``StreamingQueryListener`` that records every
  micro-batch's progress (durations, rows, state size).
* ``job_stats`` reads Spark's status store for the jobs of one op: jobs,
  stages, tasks, executor run/CPU/GC time, shuffle bytes and the union of
  job spans (the rest of the op's wall time is driver time).
"""

from __future__ import annotations

import datetime as dt
import functools
import itertools
import threading
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    """In-memory span recorder; ``enabled`` gates every wrapper."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self.op: dict | None = None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {
            "id": next(self._ids),
            "name": name,
            "op": self.op["id"] if self.op else None,
            "parent": stack[-1] if stack else None,
            "thread": threading.get_ident(),
            "start": time.time(),
        }
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()
            with self._lock:
                self.spans.append(rec)

    def wrap(self, owner: object, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper; ``after``,
        if given, is called with the same arguments once the span ended."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return orig(*args, **kwargs)
            with tracer.span(name):
                out = orig(*args, **kwargs)
            if after is not None:
                after(*args, **kwargs)
            return out

        setattr(owner, attr, traced)

    def op_spans(self, op_id: int) -> list[dict]:
        with self._lock:
            return [s for s in self.spans if s["op"] == op_id]


def _epoch(ts: str) -> float:
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class ProgressLog(StreamingQueryListener):
    """Every query start, progress and termination, with receive times."""

    def __init__(self) -> None:
        self.started: list[dict] = []
        self.progress: list[dict] = []
        self.terminated: list[dict] = []
        self._cv = threading.Condition()

    def onQueryStarted(self, event) -> None:
        with self._cv:
            self.started.append({"run_id": str(event.runId), "at": time.time()})
            self._cv.notify_all()

    def onQueryProgress(self, event) -> None:
        p = event.progress
        ops = list(p.stateOperators)
        rec = {
            "run_id": str(p.runId),
            "batch_id": p.batchId,
            "rows": p.numInputRows,
            "start": _epoch(p.timestamp),
            "durations": dict(p.durationMs),
            "main": bool(ops),
            "state_rows": sum(o.numRowsTotal for o in ops),
            "state_bytes": sum(o.memoryUsedBytes for o in ops),
            "late_dropped": sum(o.numRowsDroppedByWatermark for o in ops),
        }
        with self._cv:
            self.progress.append(rec)
            self._cv.notify_all()

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._cv:
            self.terminated.append({"run_id": str(event.runId), "at": time.time()})
            self._cv.notify_all()

    def wait_terminated(self, count: int, timeout: float = 10.0) -> bool:
        """Block until ``count`` terminations were delivered (events are
        posted asynchronously, after ``awaitTermination`` returns)."""
        deadline = time.time() + timeout
        with self._cv:
            while len(self.terminated) < count:
                left = deadline - time.time()
                if left <= 0:
                    return False
                self._cv.wait(left)
        return True


def _opt_ms(opt) -> float | None:
    return float(opt.get().getTime()) / 1000.0 if opt.isDefined() else None


def job_stats(spark, job_ids: list[int], timeout: float = 5.0) -> dict:
    """Status-store totals for ``job_ids`` (waits for their completion to be
    recorded; the status listener runs asynchronously)."""
    store = spark.sparkContext._jsc.sc().statusStore()
    out = {"jobs": 0, "stages": 0, "tasks": 0, "executor_run_ms": 0.0,
           "executor_cpu_ms": 0.0, "jvm_gc_ms": 0.0, "shuffle_bytes": 0,
           "intervals": []}
    for jid in sorted(job_ids):
        deadline = time.time() + timeout
        while True:
            try:
                job = store.job(jid)
            except Exception:  # already evicted from the status store
                job = None
                break
            end = _opt_ms(job.completionTime())
            if end is not None or time.time() > deadline:
                break
            time.sleep(0.01)
        if job is None:
            continue
        start = _opt_ms(job.submissionTime())
        if start is not None and end is not None:
            out["intervals"].append((start, end))
        out["jobs"] += 1
        stage_ids = job.stageIds()
        for i in range(stage_ids.size()):
            try:
                st = store.lastStageAttempt(stage_ids.apply(i))
            except Exception:  # skipped stage: never attempted
                continue
            if st.numCompleteTasks() == 0:
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["executor_run_ms"] += st.executorRunTime()
            out["executor_cpu_ms"] += st.executorCpuTime() / 1e6
            out["jvm_gc_ms"] += st.jvmGcTime()
            out["shuffle_bytes"] += st.shuffleReadBytes() + st.shuffleWriteBytes()
    return out


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per span name: duration minus the time its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, float] = {}
    for s in spans:
        covered = union_length(children.get(s["id"], []), s["start"], s["end"])
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"] - covered)
    return out


def jvm_heap_mb(spark) -> float:
    """Heap in use after forced full collections."""
    rt = spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
    system = spark.sparkContext._jvm.java.lang.System
    for _ in range(3):
        system.gc()
        time.sleep(0.05)
    return (rt.totalMemory() - rt.freeMemory()) / (1024 * 1024)
