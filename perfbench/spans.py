"""Spans around the benchmark's calls into engine modules.

A span records name, start, end, parent span and pass id, and carries the
engine counters (``sparkstats.StatusReader``) and output rows of the work
it forced. Spans are kept in memory and written once, at the end of a run.

A traced query forces its stages as prefixes, innermost first: the span
of stage *i* opens around the span of stage *i-1*, which forces and
caches its output; stage *i* then runs on that cached output. A span's
self time (its duration minus the part its child span covers) is
therefore the time of its own module's work, and it is never negative.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    pass_id: int = 0
    query: str = ""
    rows: int = 0
    counters: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str, pass_id: int, query: str = ""):
        sp = Span(name, time.perf_counter(), parent=self._open[-1] if self._open else None,
                  pass_id=pass_id, query=query)
        self.spans.append(sp)
        self._open.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._open.pop()

    def self_times(self) -> list[float]:
        """Per span: duration minus the union of its children's intervals."""
        kids: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                kids.setdefault(sp.parent, []).append(sp)
        out = []
        for i, sp in enumerate(self.spans):
            covered, cursor = 0.0, sp.start
            for c in sorted(kids.get(i, []), key=lambda s: s.start):
                lo, hi = max(c.start, cursor), min(c.end, sp.end)
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out.append(sp.duration - covered)
        return out

    def check_nesting(self) -> list[str]:
        """Problems with the span tree: a child outside its parent's
        interval, a parent from another pass, or a negative self time."""
        bad = []
        for i, sp in enumerate(self.spans):
            if sp.end < sp.start:
                bad.append(f"span {i} {sp.name} ends before it starts")
            if sp.parent is not None:
                p = self.spans[sp.parent]
                if sp.start < p.start or sp.end > p.end:
                    bad.append(f"span {i} {sp.name} is not inside its parent {p.name}")
                if p.pass_id != sp.pass_id:
                    bad.append(f"span {i} {sp.name} and its parent belong to different passes")
        bad += [f"span {i} has negative self time" for i, s in enumerate(self.self_times()) if s < 0]
        return bad

    def dump(self, path) -> None:
        selfs = self.self_times()
        rows = [dict(asdict(sp), self_s=st) for sp, st in zip(self.spans, selfs)]
        with open(path, "w") as f:
            json.dump(rows, f, indent=1)


def run_query(tracer: Tracer, reader, query, pass_id: int, force) -> int:
    """Run one query with every stage boundary forced; returns its rows."""
    outs, cached = [], []

    def stage(i: int) -> Span:
        st = query.stages[i]
        with tracer.span(st.span, pass_id, query.name) as sp:
            if i:
                stage(i - 1)
            mark = reader.mark()
            df = st.run(outs)
            if i < len(query.stages) - 1:
                df = df.persist()
                cached.append(df)
            sp.rows = force(df)  # the last stage may be a commit, which forces itself
            sp.counters = reader.since(mark)
            outs.append(df)
        return sp

    with tracer.span(f"query.{query.name}", pass_id, query.name) as top:
        top.rows = stage(len(query.stages) - 1).rows
        for df in cached:
            df.unpersist(blocking=True)
    return top.rows
