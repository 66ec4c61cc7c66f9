"""Spans around calls into the engine, and the Spark counters behind them.

Everything here is read from outside the engine:

- ``Tracer.span(name)`` times a block, tags the Spark jobs it starts with
  a job group of its own (``setJobGroup``), and when the block ends reads
  that group's jobs and stages from the in-process status store
  (``sc._jsc.sc().statusStore()``), which is populated even with
  ``spark.ui.enabled=false``.
- Spans nest per thread. Each keeps name, start, end, parent and run id
  in memory; ``self_times`` subtracts the part of a span that its
  children cover.
- A disabled tracer yields without touching Spark, so the untraced
  timing loop pays nothing for it.
"""

from __future__ import annotations

import itertools
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "input_mb",
    "shuffle_read_mb",
    "shuffle_write_mb",
    "spill_mb",
)

_MB = 1024.0 * 1024.0


class StatusStore:
    """Per-job-group stage metrics from Spark's AppStatusStore."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._seen_stages: set[int] = set()
        self._lock = threading.Lock()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event posted
        so far, so the store reflects the jobs that just ended."""
        self._bus.waitUntilEmpty(30_000)

    def group_counters(self, group: str) -> dict[str, float]:
        """Sum the stage metrics of every job in ``group``. A stage that
        ran under an earlier group and is only reused (skipped) here is
        counted once, where it ran."""
        self.drain()
        out = dict.fromkeys(COUNTERS, 0.0)
        for job_id in self.sc.statusTracker().getJobIdsForGroup(group):
            job = self._store.job(job_id)
            out["jobs"] += 1
            ids = job.stageIds()
            for i in range(ids.size()):
                sid = ids.apply(i)
                with self._lock:
                    if sid in self._seen_stages:
                        continue
                try:
                    st = self._store.lastStageAttempt(sid)
                except Exception:
                    continue  # never submitted: nothing to count
                if st.status().toString() in ("SKIPPED", "PENDING"):
                    continue
                with self._lock:
                    self._seen_stages.add(sid)
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                out["executor_run_s"] += st.executorRunTime() / 1e3
                out["executor_cpu_s"] += st.executorCpuTime() / 1e9
                out["gc_s"] += st.jvmGcTime() / 1e3
                out["input_mb"] += st.inputBytes() / _MB
                out["shuffle_read_mb"] += st.shuffleReadBytes() / _MB
                out["shuffle_write_mb"] += st.shuffleWriteBytes() / _MB
                out["spill_mb"] += (
                    st.memoryBytesSpilled() + st.diskBytesSpilled()
                ) / _MB
        return out


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    counters: dict[str, float] = field(default_factory=dict)
    groups: list[str] = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. ``enabled`` may be flipped between
    passes; spans are only recorded while it is on."""

    def __init__(self, spark, run_id: str, enabled: bool = False):
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self.store = StatusStore(spark)

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, parent: Span | None = None):
        """Time one call into a layer. ``parent`` links a span opened in
        a worker thread to the span that spawned the thread."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        up = stack[-1] if stack else parent
        sp = Span(next(self._ids), name, up.id if up else None, self.run_id,
                  0.0)
        group = f"pb-{self.run_id}-{sp.id}"
        sp.groups.append(group)
        sc = self.spark.sparkContext
        sc.setJobGroup(group, name)
        stack.append(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            if stack:
                sc.setJobGroup(stack[-1].groups[0], stack[-1].name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            sp.counters = dict.fromkeys(COUNTERS, 0.0)
            for g in sp.groups:
                for k, v in self.store.group_counters(g).items():
                    sp.counters[k] += v
            with self._lock:
                self.spans.append(sp)

    def current(self) -> Span | None:
        stack = self._stack()
        return stack[-1] if stack else None


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the union of its children's
    intervals (clipped to the span). Children that ran in parallel
    threads are not double-subtracted."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        cover = [
            (max(c.start, s.start), min(c.end, s.end))
            for c in kids.get(s.id, [])
            if c.end > s.start and c.start < s.end
        ]
        out[s.id] = s.seconds - _union_length(cover)
    return out


def by_name(spans: list[Span]) -> dict[str, dict[str, float]]:
    """Per span name: summed inclusive time, self time and own-group
    Spark counters."""
    selfs = self_times(spans)
    out: dict[str, dict[str, float]] = {}
    for s in spans:
        row = out.setdefault(
            s.name, {"n": 0, "total_s": 0.0, "self_s": 0.0,
                     **dict.fromkeys(COUNTERS, 0.0)}
        )
        row["n"] += 1
        row["total_s"] += s.seconds
        row["self_s"] += selfs[s.id]
        for k, v in s.counters.items():
            row[k] += v
    return out


def tail_percentile(n: int) -> int:
    """Highest whole percentile with at least ten of ``n`` samples
    beyond it. With ten or fewer samples no percentile qualifies, and
    the maximum (100) stands in for the tail."""
    if n <= 10:
        return 100
    return int(100 * (n - 10) / n)


def percentile(values: list[float], pct: float) -> float:
    """Nearest-rank percentile (``pct`` in 0..100)."""
    xs = sorted(values)
    if not xs:
        return float("nan")
    k = max(0, min(len(xs) - 1, int(round(pct / 100 * (len(xs) - 1)))))
    return xs[k]
