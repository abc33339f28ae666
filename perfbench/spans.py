"""In-memory span tracer with Spark counters, for the traced benchmark run.

A span is opened around a call into one of the program's public
functions (see ``run.py``'s patch list) and records its wall time, its
parent and, when a SparkContext is attached, the Spark work that ran
while it was open. Spans stay in memory until ``write_json``.

Counter attribution uses ID ranges, not totals: job and stage IDs are
allocated in increasing order by the DAG scheduler, so the work of a span
is exactly the jobs and stages whose IDs were allocated between its open
and its close. Their metrics are then read per stage from the status
store (which keeps only the most recent stages, so diffing its totals
would drop work once old stages are evicted). Counters are inclusive:
a parent's counters contain its children's.

A span's interval includes the tracer's own bookkeeping for it (the ID
marks, draining the listener bus, reading stage metrics), kept apart as
its ``overhead``. ``self_s`` is a span's wall time minus the part of it
its child spans cover and minus its own overhead, so no span's self time
or ``driver_s`` contains tracer time, its own or its descendants'.
``check_windows`` compares the traced time of each op (self time plus
overhead over every span in it) with the op's time taken by the
benchmark's own clock outside the tracer.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

MB = 1024 * 1024
COUNTERS = ["jobs", "tasks", "task_cpu_s", "gc_s", "input_mb", "output_mb",
            "shuffle_write_mb", "spill_mb", "driver_s"]
# an op's traced time (self time plus tracer overhead over all of its
# spans) must equal the op's time taken outside the tracer to within this
# many seconds: the untraced Python between the op's timer and its spans
# takes microseconds, while overlapping spans, a span escaping its op or
# bookkeeping left outside every span cost milliseconds or more
WINDOW_TOLERANCE_S = 0.01


@dataclass
class Span:
    name: str
    start: float  # perf_counter seconds
    end: float = 0.0
    parent: int | None = None
    tags: dict = field(default_factory=dict)
    children: list[int] = field(default_factory=list)
    counters: dict = field(default_factory=dict)
    epoch_start: float = 0.0  # wall-clock seconds, to compare with job times
    epoch_end: float = 0.0
    overhead: float = 0.0  # the tracer's bookkeeping for this span
    nested_overhead: float = 0.0  # the same, summed over its descendants

    @property
    def wall(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_time(spans: list[Span], i: int) -> float:
    s = spans[i]
    return s.wall - s.overhead - covered(
        [(spans[c].start, spans[c].end) for c in s.children], s.start, s.end)


def check_windows(spans: list[Span], windows: list[tuple[float, float]],
                  tol: float = WINDOW_TOLERANCE_S) -> list[str]:
    """Ops whose traced time is off their measured time by more than
    ``tol`` seconds. ``windows`` are the ops' measured intervals, taken
    with the tracer's clock but outside the tracer; the traced time of an
    op is self time plus overhead summed over every span that opened
    inside it."""
    bad = []
    for k, (lo, hi) in enumerate(windows):
        inside = [i for i, s in enumerate(spans) if lo <= s.start < hi]
        traced = sum(self_time(spans, i) + spans[i].overhead for i in inside)
        if abs((hi - lo) - traced) > tol:
            bad.append(f"op {k}: traced {traced:.6f}s, measured {hi - lo:.6f}s")
    return bad


class SparkProbe:
    """Reads job/stage ID watermarks and per-stage metrics over py4j."""

    def __init__(self, sc):
        self._sc = sc._jsc.sc()
        self._dag = self._sc.dagScheduler()
        self._store = self._sc.statusStore()
        self._stages: dict[int, dict] = {}
        self._jobs: dict[int, tuple[float, float]] = {}

    def mark(self) -> tuple[int, int]:
        """(next job ID, next stage ID) — everything at or above them is
        allocated after this call."""
        return self._dag.numTotalJobs(), self._dag.nextStageId()

    def _stage(self, sid: int) -> dict:
        if sid in self._stages:
            return self._stages[sid]
        from py4j.protocol import Py4JJavaError

        try:
            s = self._store.lastStageAttempt(sid)
        except Py4JJavaError:  # allocated but never submitted
            return {}
        m = {
            "tasks": s.numCompleteTasks(),
            "task_cpu_s": s.executorCpuTime() / 1e9,
            "gc_s": s.jvmGcTime() / 1e3,
            "input_mb": s.inputBytes() / MB,
            "output_mb": s.outputBytes() / MB,
            "shuffle_write_mb": s.shuffleWriteBytes() / MB,
            "spill_mb": s.diskBytesSpilled() / MB,
        }
        if s.status().toString() in ("COMPLETE", "SKIPPED", "FAILED"):
            self._stages[sid] = m
        return m

    def _job(self, jid: int) -> tuple[float, float] | None:
        if jid in self._jobs:
            return self._jobs[jid]
        from py4j.protocol import Py4JJavaError

        try:
            j = self._store.job(jid)
        except Py4JJavaError:
            return None
        sub, done = j.submissionTime(), j.completionTime()
        if sub.isEmpty() or done.isEmpty():
            return None
        iv = (sub.get().getTime() / 1e3, done.get().getTime() / 1e3)
        self._jobs[jid] = iv
        return iv

    def counters(self, before: tuple[int, int], after: tuple[int, int],
                 epoch_lo: float, epoch_hi: float, tracer_s: float = 0.0) -> dict:
        """Counters of the jobs and stages allocated between ``before`` and
        ``after``. ``driver_s`` is the window ``[epoch_lo, epoch_hi]``
        minus the time a job ran in it and minus ``tracer_s``, the
        tracer's time inside the window (no job runs while the tracer
        works)."""
        # the status store is fed asynchronously; drain it before reading
        self._sc.listenerBus().waitUntilEmpty()
        out = dict.fromkeys(COUNTERS, 0.0)
        out["jobs"] = after[0] - before[0]
        for sid in range(before[1], after[1]):
            for k, v in self._stage(sid).items():
                out[k] += v
        jobs = [self._job(j) for j in range(before[0], after[0])]
        busy = covered([iv for iv in jobs if iv], epoch_lo, epoch_hi)
        out["driver_s"] = max(0.0, (epoch_hi - epoch_lo) - busy - tracer_s)
        return out


class Tracer:
    """Collects spans in memory. ``probe`` (a SparkProbe) may be attached
    once the SparkContext exists; spans opened before that get no
    counters."""

    def __init__(self, clock=time.perf_counter, epoch=time.time):
        self.spans: list[Span] = []
        self.probe: SparkProbe | None = None
        self._stack: list[int] = []
        self._clock, self._epoch = clock, epoch
        self._patches: list[tuple[object, str, object]] = []
        # the ops' measured intervals, for check_windows
        self.windows: list[tuple[float, float]] = []

    @property
    def overhead_s(self) -> float:
        """Time spent in the tracer's own bookkeeping: what tracing adds
        to the traced run's wall time."""
        return sum(s.overhead for s in self.spans)

    @contextmanager
    def span(self, name: str, **tags):
        # the span's interval opens before its ID mark and closes after its
        # counters are read, so that bookkeeping falls inside the span and
        # is kept apart in its overhead, not in an ancestor's self time
        s = Span(name, self._clock(), tags=tags)
        s.parent = self._stack[-1] if self._stack else None
        i = len(self.spans)
        self.spans.append(s)
        if s.parent is not None:
            self.spans[s.parent].children.append(i)
        self._stack.append(i)
        mark = self.probe.mark() if self.probe else None
        s.epoch_start = self._epoch()
        s.overhead = self._clock() - s.start
        try:
            yield s
        finally:
            self._stack.pop()
            s.epoch_end = self._epoch()
            t = self._clock()
            if mark is not None:
                s.counters = self.probe.counters(mark, self.probe.mark(),
                                                 s.epoch_start, s.epoch_end,
                                                 tracer_s=s.nested_overhead)
            s.end = self._clock()
            s.overhead += s.end - t
            if s.parent is not None:
                self.spans[s.parent].nested_overhead += s.overhead + s.nested_overhead

    def wrap(self, fn, name: str):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def patch(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a traced wrapper until ``unpatch``."""
        fn = getattr(owner, attr)
        self._patches.append((owner, attr, fn))
        setattr(owner, attr, self.wrap(fn, name))

    def unpatch(self) -> None:
        while self._patches:
            owner, attr, fn = self._patches.pop()
            setattr(owner, attr, fn)

    def aggregate(self) -> dict[str, dict]:
        """Per span name: calls, summed self_s and summed counters. A span
        nested inside one of the same name adds its calls and self time
        but not its (already included) counters."""
        out: dict[str, dict] = {}
        for i, s in enumerate(self.spans):
            agg = out.setdefault(s.name, {"calls": 0, "self_s": 0.0,
                                          **dict.fromkeys(COUNTERS, 0.0)})
            agg["calls"] += 1
            agg["self_s"] += self_time(self.spans, i)
            if s.counters and not self._inside_same_name(i):
                for k, v in s.counters.items():
                    agg[k] += v
        return out

    def _inside_same_name(self, i: int) -> bool:
        p = self.spans[i].parent
        while p is not None:
            if self.spans[p].name == self.spans[i].name:
                return True
            p = self.spans[p].parent
        return False

    def write_json(self, path: str, extra: dict | None = None) -> None:
        spans = [{**asdict(s), "self_s": self_time(self.spans, i)}
                 for i, s in enumerate(self.spans)]
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"spans": spans, **(extra or {})}, f, indent=1)
