"""Outside-in spans around the engine's layer entry points.

The engine is not edited. Each layer entry point is wrapped by patching
the attribute where the caller looks the name up (``runner.plan_merge``,
not ``merge.plan_merge``, because the runner imported the name), so the
wrapper sees exactly the calls the engine makes. A wrapper whose target
no longer exists is recorded in ``Tracer.absent`` and its layer's
metrics are reported as absent, never as zero.

Spans (id, name, layer, start, end, parent, thread, batch) are kept in
memory and written out when the benchmark ends. While a span is open its
id is set as the Spark local property ``perfbench.span`` on the calling
thread, so every Spark job it triggers carries the id into the event log
(see ``eventlog.py``).
"""

from __future__ import annotations

import functools
import importlib
import itertools
import threading
import time
from collections.abc import Callable
from contextlib import contextmanager, nullcontext
from dataclasses import asdict, dataclass

PKG = "arcane_stream_sqlserver_change_tracking_spark"

#: (module, class or None, attribute, layer). Order is irrelevant.
TARGETS: tuple[tuple[str, str | None, str, str], ...] = (
    (f"{PKG}.streaming.runner", "CdcEngine", "run_incremental", "runner"),
    (f"{PKG}.streaming.runner", None, "version_chunks", "chunk_plan"),
    (f"{PKG}.streaming.runner", "CdcEngine", "_stage", "stage"),
    (f"{PKG}.operators.quality_gate", None, "enforce_expectations", "gate"),
    (f"{PKG}.streaming.runner", "CdcEngine", "_apply_staged", "runner"),
    (f"{PKG}.streaming.runner", None, "plan_merge", "merge"),
    (f"{PKG}.plans.lake", "LakeTable", "read", "read"),
    (f"{PKG}.plans.lake", "LakeTable", "_write_parts", "write"),
    (f"{PKG}.plans.lake", "LakeTable", "_attach_row_counts", "footer_stats"),
    (f"{PKG}.plans.lake", "LakeTable", "_commit", "manifest_commit"),
    (f"{PKG}.streaming.runner", "CdcEngine", "run_maintenance", "maintenance"),
    (f"{PKG}.plans.lake", "LakeTable", "changes_between", "cdf"),
)

#: every layer a span can be attributed to (stage_wait is derived)
LAYERS = (
    "chunk_plan", "stage", "stage_wait", "gate", "runner", "merge", "write",
    "footer_stats", "manifest_commit", "maintenance", "read", "cdf",
)

#: layers whose nested calls are their own work: the compaction write
#: inside maintenance is maintenance, the scans inside a CDF are CDF
ABSORBING = ("maintenance", "cdf")

SPAN_PROPERTY = "perfbench.span"


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    thread: str = ""
    batch: int | None = None


def resolve_layer(layer: str, parent: Span | None) -> str:
    """Layer of a span opened under ``parent``. Absorbing layers claim
    their descendants; a table read planned by the commit loop is the
    merge's read of the touched buckets; any other nested read belongs to
    whatever opened it."""
    if parent is None:
        return layer
    if parent.layer in ABSORBING:
        return parent.layer
    if layer == "read":
        return "merge" if parent.layer == "runner" else parent.layer
    return layer


class Tracer:
    """Collects spans from any thread. ``tag_jobs(value)`` sets the
    Spark local property of the calling thread (None clears it)."""

    def __init__(self, tag_jobs: Callable[[str | None], None] | None = None):
        self.spans: list[Span] = []
        self.absent: list[str] = []
        self._tag_jobs = tag_jobs
        self._tls = threading.local()
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._batches: dict[str, int] = {}
        self._undo: list[Callable[[], None]] = []

    def _stack(self) -> list[Span]:
        if not hasattr(self._tls, "stack"):
            self._tls.stack = []
        return self._tls.stack

    @contextmanager
    def span(self, name: str, layer: str):
        stack = self._stack()
        parent = stack[-1] if stack else None
        s = Span(
            id=next(self._ids), name=name, layer=resolve_layer(layer, parent),
            start=time.time(), parent=parent.id if parent else None,
            thread=threading.current_thread().name,
            batch=parent.batch if parent else None,
        )
        with self._lock:
            if name == "CdcEngine.run_incremental":
                self._batches.clear()  # batch ids count per drain
            elif name in ("CdcEngine._stage", "CdcEngine._apply_staged"):
                s.batch = self._batches.get(name, 0)
                self._batches[name] = s.batch + 1
        stack.append(s)
        if self._tag_jobs:
            self._tag_jobs(str(s.id))
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()
            if self._tag_jobs:
                self._tag_jobs(str(stack[-1].id) if stack else None)
            with self._lock:
                self.spans.append(s)

    # -- patching ------------------------------------------------------
    def install(self, targets=TARGETS) -> None:
        for module, cls, attr, layer in targets:
            owner = importlib.import_module(module)
            if cls is not None:
                owner = getattr(owner, cls, None)
            target = getattr(owner, attr, None) if owner is not None else None
            if target is None:
                self.absent.append(f"{module}.{cls + '.' if cls else ''}{attr}")
                continue
            name = f"{cls}.{attr}" if cls else attr
            setattr(owner, attr, self._wrap(target, name, layer))
            self._undo.append(functools.partial(setattr, owner, attr, target))

    def uninstall(self) -> None:
        while self._undo:
            self._undo.pop()()

    def _wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)

        return wrapper

    def to_json(self) -> list[dict]:
        return [asdict(s) for s in sorted(self.spans, key=lambda s: s.start)]


class NullTracer:
    """Tracing off: spans cost one ``nullcontext``."""

    def __init__(self):
        self.spans: list[Span] = []
        self.absent: list[str] = []

    def span(self, name: str, layer: str):
        return nullcontext()


# -- span arithmetic -------------------------------------------------------
Interval = tuple[float, float]


def union(intervals: list[Interval]) -> list[Interval]:
    out: list[Interval] = []
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if out and a <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], b))
        else:
            out.append((a, b))
    return out


def length(intervals: list[Interval]) -> float:
    return sum(b - a for a, b in union(intervals))


def subtract(base: list[Interval], cut: list[Interval]) -> list[Interval]:
    """``base`` minus ``cut`` (both any interval lists)."""
    out: list[Interval] = []
    cut = union(cut)
    for a, b in union(base):
        cur = a
        for c, d in cut:
            if d <= cur or c >= b:
                continue
            if c > cur:
                out.append((cur, c))
            cur = max(cur, d)
        if cur < b:
            out.append((cur, b))
    return out


def with_stage_wait(spans: list[Span]) -> list[Span]:
    """Add derived ``stage_wait`` spans: in the pipelined loop the commit
    thread blocks on the future of the next staged batch. For batch i the
    wait runs from the end of the commit thread's previous activity in
    that drain (chunk planning, or commit i-1 and its maintenance) to the
    end of staging i, when staging ran on another thread and finished
    later. The serial loop stages on the commit thread and never waits."""
    out = list(spans)
    next_id = max((s.id for s in spans), default=0) + 1
    by_parent: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            by_parent.setdefault(s.parent, []).append(s)
    for drain in (s for s in spans if s.name == "CdcEngine.run_incremental"):
        kids = sorted(by_parent.get(drain.id, []), key=lambda s: s.start)
        stages = sorted(
            (s for s in spans if s.name == "CdcEngine._stage"
             and s.thread != drain.thread
             and drain.start <= s.start <= drain.end),
            key=lambda s: s.start,
        )
        applies = [s for s in kids if s.name == "CdcEngine._apply_staged"]
        for i, ap in enumerate(applies):
            if i >= len(stages):
                break
            before = [k.end for k in kids if k.end <= ap.start]
            prev_end = max(before, default=drain.start)
            wait_end = min(stages[i].end, ap.start)
            if wait_end > prev_end:
                out.append(Span(
                    id=next_id, name="stage_wait", layer="stage_wait",
                    start=prev_end, end=wait_end, parent=drain.id,
                    thread=drain.thread, batch=ap.batch,
                ))
                next_id += 1
    return out


def self_intervals(spans: list[Span]) -> dict[int, list[Interval]]:
    """Per span: its interval minus the intervals of its child spans on
    the same thread (work on other threads overlaps, it does not nest)."""
    kids: dict[int, list[Interval]] = {}
    by_id = {s.id: s for s in spans}
    for s in spans:
        p = by_id.get(s.parent) if s.parent is not None else None
        if p is not None and p.thread == s.thread:
            kids.setdefault(p.id, []).append((s.start, s.end))
    return {
        s.id: subtract([(s.start, s.end)], kids.get(s.id, [])) for s in spans
    }
