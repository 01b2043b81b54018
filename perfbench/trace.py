"""Spans around calls into the engine, with Spark accounting read from
outside the engine.

A span records its name, start, end, parent and request id. A span that
wraps an engine call also sets its own Spark job group, and when it ends
reads, for every job of that group, the job's stages from the status
store: tasks, executor run time, shuffle read/write bytes, input bytes
and the stage's submit/complete times. The part of the span's wall time
that no stage covers is the call's driver time.

Spans are kept in memory and written out once, when the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

STAGE_FIELDS = ("tasks", "exec_run_ms", "shuffle_read_bytes",
                "shuffle_write_bytes", "input_bytes")


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    request: int | None
    start: float          # epoch seconds
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    exec_run_ms: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    input_bytes: int = 0
    stage_cover_s: float = 0.0
    group: str | None = None   # Spark job group of an engine call

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def driver_s(self) -> float:
        return max(self.dur - self.stage_cover_s, 0.0)


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of [start, end] intervals."""
    total = 0.0
    cur_s = cur_e = None
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """{span id: duration minus the union of its children's intervals,
    clipped to the span}."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        cover = [(max(c.start, s.start), min(c.end, s.end))
                 for c in kids.get(s.id, ())]
        out[s.id] = s.dur - union_length([iv for iv in cover if iv[1] > iv[0]])
    return out


class Tracer:
    """``span(name)`` is a no-op context when tracing is off, so the
    untraced run executes the same code with no bookkeeping."""

    def __init__(self, enabled: bool, spark=None):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next = 0
        self.spark = spark

    def bind(self, spark) -> None:
        self.spark = spark

    @contextmanager
    def span(self, name: str, request: int | None = None, spark_call=True):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if request is None and parent is not None:
            request = parent.request
        sp = Span(self._next, name, parent.id if parent else None, request,
                  time.time())
        self._next += 1
        group = f"perfbench-{sp.id}"
        sc = self.spark.sparkContext if (spark_call and self.spark) else None
        if sc is not None:
            sp.group = group
            sc.setJobGroup(group, name)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if sc is not None:
                self._account(sc, group, sp)
                outer = next((p for p in reversed(self._stack) if p.group),
                             None)
                if outer is not None:
                    sc.setJobGroup(outer.group, outer.name)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
            self.spans.append(sp)

    def _account(self, sc, group: str, sp: Span) -> None:
        jsc = sc._jsc.sc()
        # the status store is filled by the listener bus; drain it first
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        intervals = []
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else ()):
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # py4j error: stage never ran (skipped)
                    continue
                if st.numTasks() == 0 or st.status().toString() == "SKIPPED":
                    continue
                sp.stages += 1
                sp.tasks += st.numTasks()
                sp.exec_run_ms += st.executorRunTime()
                sp.shuffle_read_bytes += (st.shuffleRemoteBytesRead()
                                          + st.shuffleLocalBytesRead())
                sp.shuffle_write_bytes += st.shuffleWriteBytes()
                sp.input_bytes += st.inputBytes()
                sub, done = st.submissionTime(), st.completionTime()
                if sub.isDefined() and done.isDefined():
                    s = max(sub.get().getTime() / 1000.0, sp.start)
                    e = min(done.get().getTime() / 1000.0, sp.end)
                    if e > s:
                        intervals.append((s, e))
        sp.jobs = len(jobs)
        sp.stage_cover_s = union_length(intervals)

    def rollup(self, sp: Span) -> dict:
        """Spark counters of ``sp`` plus all its descendants."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        tot = {"jobs": 0, "stages": 0, **{k: 0 for k in STAGE_FIELDS}}
        todo = [sp]
        while todo:
            s = todo.pop()
            tot["jobs"] += s.jobs
            tot["stages"] += s.stages
            for k in STAGE_FIELDS:
                tot[k] += getattr(s, k)
            todo.extend(kids.get(s.id, ()))
        return tot

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def write(self, path: str) -> None:
        selfs = self_times(self.spans)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                rec = asdict(s)
                rec["self_s"] = selfs[s.id]
                rec["driver_s"] = s.driver_s
                f.write(json.dumps(rec, sort_keys=True) + "\n")
