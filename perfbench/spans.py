"""Spans around the benchmark's calls into each layer of the engine.

A span is (name, start, end, parent, run id). The layer is the part of
the name before the first dot. Spans are kept in memory and written out
once, at the end of the run. ``NullTracer`` is what untraced runs use, so
the end-to-end figures pay for no bookkeeping.
"""

from __future__ import annotations

import json
import time
import uuid
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from stats import PHASES


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    attrs: dict = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


class NullTracer:
    enabled = False

    @contextmanager
    def span(self, name: str):
        yield None

    def add_progress(self, progress: list[dict]) -> None:
        pass


class Tracer:
    """Records spans. With a SparkContext (``sc``) it also runs each span
    under a job group of its own and counts the Spark jobs it started."""

    enabled = True

    def __init__(self, run_id: str | None = None):
        self.run_id = run_id or uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.sc = None

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.time(), 0.0, parent, self.run_id)
        self.spans.append(s)
        idx = len(self.spans) - 1
        self._stack.append(idx)
        group = f"{self.run_id}-{idx}"
        sc = self.sc
        if sc is not None:
            sc.setJobGroup(group, name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if sc is not None:
                s.attrs["jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))
                if self._stack:
                    sc.setJobGroup(f"{self.run_id}-{self._stack[-1]}", self.spans[self._stack[-1]].name)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)

    def add_progress(self, progress: list[dict]) -> None:
        """One span per micro-batch from its progress event, with a child per
        ``durationMs`` phase. Progress reports only phase durations, so the
        children are laid end to end in the order the engine runs them."""
        parent = self._stack[-1] if self._stack else None
        for p in progress:
            start = _iso_to_epoch(p["timestamp"])
            dur = p.get("durationMs", {})
            b = Span("streaming.batch", start, start + dur.get("triggerExecution", 0) / 1e3,
                     parent, self.run_id, {"batchId": p.get("batchId"),
                                          "rows": p.get("numInputRows", 0)})
            self.spans.append(b)
            bi = len(self.spans) - 1
            t = start
            for key in ("latestOffset", "walCommit", "getBatch", "queryPlanning",
                        "addBatch", "commitOffsets"):
                d = dur.get(key, 0) / 1e3
                self.spans.append(Span(PHASES[key].rsplit("_ms", 1)[0], t, t + d, bi, self.run_id))
                t += d

    def job_count(self, prefix: str) -> int:
        return sum(s.attrs.get("jobs", 0) for s in self.spans if s.name.startswith(prefix))

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


def self_times(spans: list[Span]) -> dict[str, float]:
    """Seconds per layer: each span's duration minus the part of it its
    children cover, summed by layer."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out: dict[str, float] = {}
    for i, s in enumerate(spans):
        covered, cur_start, cur_end = 0.0, None, None
        for a, b in sorted(children.get(i, [])):
            a, b = max(a, s.start), min(b, s.end)
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.layer] = out.get(s.layer, 0.0) + max(0.0, (s.end - s.start) - covered)
    return out


def _iso_to_epoch(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()
