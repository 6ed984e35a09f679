"""In-memory spans and the order statistics the benchmark reports.

Pure Python, no Spark: the self-tests exercise this module directly.

A span records one call across a layer boundary: its name, wall-clock start
and end (epoch seconds, so they line up with the Spark event log's
millisecond timestamps), the span that caused it, and the trace id of the
query it belongs to.  A span's self time is its duration minus the part of
that interval its child spans cover.
"""

from __future__ import annotations

import json
import math
import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: str
    name: str
    trace_id: str
    parent: str | None
    start: float
    end: float = math.nan
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records nested spans on one thread.

    ``on_enter(span)`` and ``on_exit(span, parent)`` let the caller tag work
    started inside a span, e.g. with a Spark job group; ``on_exit`` receives
    the parent so the caller can restore the outer tag.
    """

    def __init__(
        self,
        on_enter: Callable[[Span], None] | None = None,
        on_exit: Callable[[Span, Span | None], None] | None = None,
        clock: Callable[[], float] = time.time,
    ) -> None:
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._on_enter = on_enter
        self._on_exit = on_exit
        self._clock = clock

    @contextmanager
    def span(self, name: str, trace_id: str | None = None, **attrs) -> Iterator[Span]:
        parent = self._stack[-1] if self._stack else None
        if trace_id is None:
            trace_id = parent.trace_id if parent else ""
        s = Span(
            id=f"s{len(self.spans)}",
            name=name,
            trace_id=trace_id,
            parent=parent.id if parent else None,
            start=self._clock(),
            attrs=attrs,
        )
        self.spans.append(s)
        self._stack.append(s)
        if self._on_enter:
            self._on_enter(s)
        try:
            yield s
        finally:
            s.end = self._clock()
            self._stack.pop()
            if self._on_exit:
                self._on_exit(s, parent)

    def dump(self, path: str) -> None:
        """Write every span, with its self time, as one JSON object a line."""
        selfs = self_times(self.spans)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**asdict(s), "self": selfs[s.id]}) + "\n")


def self_times(spans: list[Span]) -> dict[str, float]:
    """Span id -> duration minus the union of its children's intervals
    (clipped to the span, so overlapping or overhanging children are not
    subtracted twice)."""
    children: dict[str, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_start = cur_end = None
        for c in sorted(children.get(s.id, []), key=lambda c: c.start):
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
        out[s.id] = s.duration - covered
    return out


def tail_percentile(
    samples: list[float], beyond: int = 10, planned: int | None = None
) -> tuple[int, float] | None:
    """The highest whole percentile with at least ``beyond`` samples above it.

    Nearest-rank: percentile ``p`` is the sample at rank ``ceil(p * n / 100)``,
    leaving ``n - rank`` samples beyond it; the largest ``p`` with
    ``n - rank >= beyond`` is ``floor(100 * (n - beyond) / n)``.  Returns
    ``(p, value)``, or None when fewer than ``beyond + 1`` samples exist.

    ``planned`` picks the percentile from that many samples instead of
    ``len(samples)`` (which must be at least as many), so that a run that
    happens to fit more passes into its time reports the same percentile,
    not one further out in the tail.
    """
    n = len(samples)
    m = n if planned is None else planned
    if m > n:
        raise ValueError(f"{n} samples, fewer than the {m} planned")
    p = (100 * (m - beyond)) // m if m else 0
    if p < 1:
        return None
    rank = -(-p * n // 100)
    return p, sorted(samples)[rank - 1]

