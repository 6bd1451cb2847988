"""Spans and Spark job counts, recorded from the benchmark's own calls.

A span has a name, a start, an end, a parent and the id of the operation
(one query pass or one micro-batch) it belongs to. Spans stay in memory
and are written out once, when the run ends. With tracing off, ``span``
records nothing and sets no job group, so untraced runs pay only a
context-manager entry per call.

Job, stage and task counts come from Spark's public status tracker: a span
opened with ``jobs=True`` runs its body under its own ``setJobGroup`` and
reads the group's jobs back when it closes.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    span_id: int
    name: str
    op: str
    parent: int | None
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its direct
    children cover (overlapping children are merged, so time is never
    subtracted twice)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_start = cur_end = None
        for c in sorted(children.get(s.span_id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_end is None or lo > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = lo, hi
            else:
                cur_end = max(cur_end, hi)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.span_id] = s.duration - covered
    return out


class Tracer:
    def __init__(self, enabled: bool, sc) -> None:
        self.enabled = enabled
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, op: str = "", jobs: bool = False):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(
            span_id=len(self.spans),
            name=name,
            op=op or (parent.op if parent else ""),
            parent=parent.span_id if parent else None,
            start=time.perf_counter(),
        )
        self.spans.append(s)
        self._stack.append(s)
        group = f"perfbench-{s.span_id}"
        if jobs:
            self.sc.setJobGroup(group, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if jobs:
                s.counts.update(job_counts(self.sc, group))
                self.sc.setJobGroup("perfbench-idle", "untraced")

    def self_time_by_name(self) -> dict[str, float]:
        totals: dict[str, float] = {}
        for sid, t in self_times(self.spans).items():
            name = self.spans[sid].name
            totals[name] = totals.get(name, 0.0) + t
        return totals

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__ | {"duration": s.duration}) + "\n")


def job_counts(sc, group: str) -> dict[str, int]:
    """Jobs, stages that ran, their tasks, shuffle bytes written and bytes
    spilled (memory plus disk) for one job group. Stages Spark skipped
    (shuffle output reused) report no stage info and are not counted."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(("jobs", "stages", "tasks", "shuffle_write_bytes", "spill_bytes"), 0)
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        out["jobs"] += 1
        for sid in info.stageIds:
            st = tracker.getStageInfo(sid)
            if st is None or st.numCompletedTasks == 0:
                continue
            out["stages"] += 1
            out["tasks"] += st.numTasks
            data = store.lastStageAttempt(sid)
            out["shuffle_write_bytes"] += data.shuffleWriteBytes()
            out["spill_bytes"] += data.memoryBytesSpilled() + data.diskBytesSpilled()
    return out
