"""In-memory spans recorded around the benchmark's calls into the package.

A span has a name, start, end, parent and the run id it belongs to.
Spans are kept in a list and written out once, at exit. When a Spark
context is attached, each span also becomes the Spark job group for
the calls made inside it, so the offline event-log parse can charge
jobs, stages and tasks to the span that started them.
"""

from __future__ import annotations

import contextlib
import json
import time
import uuid
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: str
    name: str
    start: float
    end: float | None = None
    parent: str | None = None
    run_id: str = ""
    #: what the span worked on, e.g. the query name
    detail: str = ""
    #: extra Spark job-group ids charged to this span (a streaming
    #: query sets its own group, its run id, on every micro-batch)
    groups: list[str] = field(default_factory=list)

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


class Tracer:
    """Records spans when ``enabled``; otherwise every call is a no-op
    that still runs the wrapped block."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        #: the SparkContext spans set job groups on (None: set none)
        self.sc = None
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._n = 0

    @contextlib.contextmanager
    def span(self, name: str, detail: str = ""):
        if not self.enabled:
            yield None
            return
        self._n += 1
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            id=f"{self.run_id}-{self._n}",
            name=name,
            start=time.time(),
            parent=parent.id if parent else None,
            run_id=self.run_id,
            detail=detail,
        )
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, sp: Span | None) -> None:
        if self.sc is None:
            return
        if sp is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(sp.id, f"{sp.name} {sp.detail}".strip())

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(asdict(sp)) + "\n")


def self_times(spans: list[Span]) -> dict[str, float]:
    """Self time per span id: the span's duration minus the part of its
    interval covered by its direct children (overlapping children are
    merged, so concurrent children are not subtracted twice)."""
    children: dict[str | None, list[Span]] = {}
    for sp in spans:
        children.setdefault(sp.parent, []).append(sp)
    out = {}
    for sp in spans:
        out[sp.id] = sp.duration - covered(
            [(c.start, c.end) for c in children.get(sp.id, [])], sp.start, sp.end
        )
    return out


def covered(intervals, lo: float, hi: float | None) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    if hi is None:
        return 0.0
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals if e is not None):
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


def self_time_by_name(spans: list[Span]) -> dict[str, float]:
    """Sum of self times over spans sharing a name."""
    st = self_times(spans)
    out: dict[str, float] = {}
    for sp in spans:
        out[sp.name] = out.get(sp.name, 0.0) + st[sp.id]
    return out
