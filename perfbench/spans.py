"""Spans around the benchmark's calls into the library, and the counts
read at the same boundaries.

A span records name, layer, start, end, parent span and run id. While a
span is open its Spark jobs run under a job group of its own, so the
job, stage, task and failed-task counts of exactly that span are read
back from ``statusTracker()`` when it closes. Spans stay in memory and
are written out as JSON lines when the run ends.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    layer: str
    run_id: str
    parent: int | None
    start: float
    end: float = 0.0
    iteration: int | None = None
    counts: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when ``enabled``; otherwise ``span`` only yields, so a
    traced and an untraced run make the same library calls."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self.iteration: int | None = None
        self._stack: list[Span] = []

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(self._group(span), span.name)

    def _group(self, span: Span) -> str:
        return f"perfbench-{self.run_id}-{span.id}"

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, layer, self.run_id,
                 parent.id if parent else None, 0.0, iteration=self.iteration)
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)
            s.counts.update(self._spark_counts(s))

    def _spark_counts(self, span: Span) -> dict:
        tracker = self.sc.statusTracker()
        jobs = stages = tasks = failed = 0
        for j in tracker.getJobIdsForGroup(self._group(span)):
            info = tracker.getJobInfo(j)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                st = tracker.getStageInfo(sid)
                if st is not None:
                    stages += 1
                    tasks += st.numTasks
                    failed += st.numFailedTasks
        return {"jobs": jobs, "stages": stages, "tasks": tasks, "failed_tasks": failed}

    def write_jsonl(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        selfs = self_times(self.spans)
        with open(path, "w") as f:
            for s in self.spans:
                rec = asdict(s)
                rec["duration"] = s.duration
                rec["self"] = selfs[s.id]
                f.write(json.dumps(rec) + "\n")


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of its interval that its direct
    children cover (overlapping children are counted once)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(children.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.id] = s.duration - covered
    return out


def list_parquet(root: str) -> dict[str, tuple[int, int, int]]:
    """``{path: (mtime_ns, bytes, rows)}`` for every parquet file under
    ``root``; rows come from the file footers."""
    import pyarrow.parquet as pq

    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                st = os.stat(p)
                out[p] = (st.st_mtime_ns, st.st_size, pq.read_metadata(p).num_rows)
    return out


def written(before: dict, after: dict) -> dict[str, tuple[int, int, int]]:
    """Files present after a call that are new or were rewritten by it."""
    return {p: v for p, v in after.items() if before.get(p, (None,))[0] != v[0]}
