"""Spans around calls into the engine's public functions, with Spark job groups.

A :class:`Tracer` keeps spans in memory: name, start, end (wall-clock
seconds since the epoch, the clock Spark's event log uses), span id, parent
id and the run id every span of one run shares. Each span runs its Spark
jobs under its own job group (``span-<id>``) and restores the enclosing
group on exit, so the event log attributes every job to the innermost span
that submitted it.

:func:`instrument` wraps the engine's functions from the benchmark's side.
It works because the engine looks each name up at call time:
``plans.epoch.run_epoch`` and ``operators.seen.filter_unseen`` are read as
module attributes, ``BloomSeenSet.add_keys``, ``SnapshotStore.commit`` and
``read_table`` as class attributes, and ``run_epoch`` imports
``operators.sequence.global_sequence`` inside its body. No engine file
changes.

Lazy calls (``run_epoch``, ``filter_unseen``) time only driver-side plan
building; the Spark work they describe runs later, inside whichever
materializing call consumes the plan (``Crawler.step``'s checkpoint,
``add_keys``, ``commit``). Attribute a saving through job time, not span
wall time alone.
"""

from __future__ import annotations

import functools
import os
import time
import uuid
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_KEY = "spark.jobGroup.id"
DESC_KEY = "spark.job.description"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"span-{self.id}"

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else time.time()) - self.start


class Tracer:
    """In-memory span recorder. ``sc`` (a SparkContext) may be attached
    later; spans opened before it exists get no job group."""

    def __init__(self, sc=None):
        self.sc = sc
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, parent, time.time())
        self.spans.append(s)
        self._stack.append(s)
        prev = None
        if self.sc is not None:
            prev = (self.sc.getLocalProperty(GROUP_KEY), self.sc.getLocalProperty(DESC_KEY))
            self.sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if self.sc is not None:
                self.sc.setLocalProperty(GROUP_KEY, prev[0])
                self.sc.setLocalProperty(DESC_KEY, prev[1])

    def wrap(self, name: str, fn: Callable, before=None, after=None) -> Callable:
        """``fn`` run inside a span; ``before(args)`` returns state handed
        to ``after(span, state, args)`` for measuring around the call."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            state = before(args) if before else None
            with self.span(name) as s:
                out = fn(*args, **kwargs)
            if after:
                after(s, state, args)
            return out

        return traced

    def to_records(self) -> list[dict]:
        return [
            {"run": self.run_id, "id": s.id, "name": s.name, "parent": s.parent,
             "start": s.start, "end": s.end, "attrs": s.attrs}
            for s in self.spans
        ]


def dir_bytes(root: str) -> int:
    total = 0
    for d, _, files in os.walk(root):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except FileNotFoundError:
                pass
    return total


def instrument(tracer: Tracer) -> Callable[[], None]:
    """Wrap the engine's public calls; returns a function that undoes it."""
    from nlnieuwscrawler_spark.operators import seen, sequence
    from nlnieuwscrawler_spark.plans import crawler, epoch
    from nlnieuwscrawler_spark.sources import tableio

    def commit_before(args):
        return dir_bytes(args[0].root)

    def commit_after(span, before, args):
        span.attrs["bytes"] = dir_bytes(args[0].root) - before

    targets = [
        (crawler.Crawler, "__init__", "plans.crawler.init", {}),
        (crawler.Crawler, "start", "plans.crawler.start", {}),
        (crawler.Crawler, "resume", "plans.crawler.resume", {}),
        (crawler.Crawler, "step", "plans.crawler.step", {}),
        (epoch, "run_epoch", "plans.epoch.run_epoch", {}),
        (seen, "filter_unseen", "operators.seen.filter_unseen", {}),
        (seen.BloomSeenSet, "add_keys", "operators.seen.add_keys", {}),
        (sequence, "global_sequence", "operators.sequence.global_sequence", {}),
        (tableio.SnapshotStore, "commit", "sources.tableio.commit",
         {"before": commit_before, "after": commit_after}),
        (tableio.SnapshotStore, "read_table", "sources.tableio.read_table", {}),
    ]
    originals = []
    for owner, attr, name, hooks in targets:
        fn = owner.__dict__[attr]
        originals.append((owner, attr, fn))
        setattr(owner, attr, tracer.wrap(name, fn, **hooks))

    def undo() -> None:
        for owner, attr, fn in originals:
            setattr(owner, attr, fn)

    return undo


def self_time(span: Span, children: list[Span]) -> float:
    """The span's duration minus the part of its interval its children
    cover (the union, so overlapping children are not counted twice)."""
    return span.duration - covered(
        [(max(c.start, span.start), min(c.end, span.end)) for c in children]
    )


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
