"""Outside-in layer tracing for a Spark process.

``Tracer.wrap(module, attr, span_name)`` rebinds a public function in its
module so each call runs as a span: the span gets its own Spark job group,
the caller's group is restored afterwards, and wall time is recorded. Spans
nest (a wrapped function called from a wrapped function). Nothing is written
while spans run; ``Tracer.report()`` resolves jobs, stages and tasks through
``SparkContext.statusTracker()`` and shuffle/spill bytes and job times
through the UI REST API (one request each), then ``Tracer.dump()`` writes
the spans as JSON.
"""

from __future__ import annotations

import functools
import itertools
import json
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import Any

_GROUP_KEY = "spark.jobGroup.id"


@dataclass
class Span:
    name: str
    group: str
    parent: int | None
    start: float
    end: float = 0.0
    job_ids: list[int] = field(default_factory=list)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans of one Spark session; ``overhead_s`` is the time spent in the
    tracer's own bookkeeping while spans open and close."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._stack: list[int] = []
        self._ids = itertools.count()
        self._restore: list[tuple[Any, str, Any]] = []

    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        group = f"bench-{next(self._ids)}-{name}"
        prev_group = self.sc.getLocalProperty(_GROUP_KEY)
        prev_desc = self.sc.getLocalProperty("spark.job.description")
        self.sc.setJobGroup(group, name)
        span = Span(name, group, self._stack[-1] if self._stack else None, 0.0)
        self.spans.append(span)
        self._stack.append(len(self.spans) - 1)
        span.start = time.perf_counter()
        self.overhead_s += span.start - t0
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            self._stack.pop()
            if prev_group is None:
                self.sc.setLocalProperty(_GROUP_KEY, None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                self.sc.setJobGroup(prev_group, prev_desc or "")
            span.job_ids = list(self.sc.statusTracker().getJobIdsForGroup(group))
            self.overhead_s += time.perf_counter() - span.end

    def wrap(self, module: Any, attr: str, name: str) -> None:
        original = getattr(module, attr)

        @functools.wraps(original)
        def traced(*args: Any, **kwargs: Any) -> Any:
            with self.span(name):
                return original(*args, **kwargs)

        setattr(module, attr, traced)
        self._restore.append((module, attr, original))

    def unwrap_all(self) -> None:
        for module, attr, original in reversed(self._restore):
            setattr(module, attr, original)
        self._restore.clear()

    # ------------------------------------------------------------------
    # resolution after the traced work has finished
    # ------------------------------------------------------------------

    def _rest(self, path: str) -> list[dict]:
        url = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}/{path}"
        with urllib.request.urlopen(url, timeout=30) as r:  # noqa: S310 - local UI
            return json.load(r)

    def _span_stats(self) -> list[dict[str, float]]:
        st = self.sc.statusTracker()
        stages = {s["stageId"]: s for s in self._rest("stages?status=complete")}
        jobs = {j["jobId"]: j for j in self._rest("jobs")}
        stats = []
        for idx, span in enumerate(self.spans):
            stage_ids: set[int] = set()
            for j in span.job_ids:
                info = st.getJobInfo(j)
                if info is not None:
                    stage_ids.update(info.stageIds)
            ran = [stages[s] for s in stage_ids if s in stages]
            own = span.wall - sum(c.wall for c in self.spans if c.parent == idx)
            busy = _union_seconds(
                [_job_interval(jobs[j]) for j in span.job_ids if j in jobs]
            )
            stats.append({
                "wall_s": span.wall,
                "own_s": own,
                "driver_s": max(0.0, own - busy),
                "jobs": len(span.job_ids),
                "stages": len(ran),
                "tasks": sum(s.get("numCompleteTasks", 0) for s in ran),
                "shuffle_write_bytes": sum(s.get("shuffleWriteBytes", 0) for s in ran),
                "spill_bytes": sum(
                    s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
                    for s in ran
                ),
            })
        return stats

    def report(self) -> dict[str, dict[str, float]]:
        """Per span name, summed over its calls: wall, own wall (minus nested
        spans), jobs, stages, tasks, shuffle write and spill bytes, and
        ``driver_s``: own wall during which none of the span's own jobs ran.
        Each name also gets a ``<name>/tree`` entry: the same counters summed
        over the span and everything nested in it."""
        stats = self._span_stats()
        out: dict[str, dict[str, float]] = {}

        def add(key: str, st: dict[str, float]) -> None:
            agg = out.setdefault(key, {"calls": 0, **{k: 0 for k in st}})
            agg["calls"] += 1
            for k, v in st.items():
                agg[k] += v

        for idx, span in enumerate(self.spans):
            add(span.name, stats[idx])
            tree = dict(stats[idx])
            for d in self._descendants(idx):
                for k in ("jobs", "stages", "tasks", "shuffle_write_bytes", "spill_bytes"):
                    tree[k] += stats[d][k]
            add(f"{span.name}/tree", tree)
        return out

    def _descendants(self, idx: int) -> list[int]:
        found, frontier = [], [idx]
        while frontier:
            p = frontier.pop()
            kids = [i for i, s in enumerate(self.spans) if s.parent == p]
            found.extend(kids)
            frontier.extend(kids)
        return found

    def top_level_wall(self, under: str) -> float:
        """Sum of the walls of the direct children of the spans named ``under``."""
        parents = {i for i, s in enumerate(self.spans) if s.name == under}
        return sum(s.wall for s in self.spans if s.parent in parents)

    def dump(self, path: str) -> None:
        """Write every span (times relative to the first span's start)."""
        t0 = self.spans[0].start if self.spans else 0.0
        with open(path, "w") as f:
            json.dump(
                [
                    {"name": s.name, "parent": s.parent, "start_s": s.start - t0,
                     "end_s": s.end - t0, "jobs": s.job_ids}
                    for s in self.spans
                ],
                f,
            )


def _job_interval(job: dict) -> tuple[float, float] | None:
    try:
        a = _parse_ts(job["submissionTime"])
        b = _parse_ts(job["completionTime"])
    except (KeyError, ValueError):
        return None
    return a, b


def _parse_ts(value: str) -> float:
    return (
        datetime.strptime(value.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z")
        .astimezone(timezone.utc)
        .timestamp()
    )


def _union_seconds(intervals: list[tuple[float, float] | None]) -> float:
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(i for i in intervals if i is not None):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total

