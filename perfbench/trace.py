"""In-process span tracer for the benchmark's traced run.

Spans are recorded around calls into `venice_spark`'s public entry points
by replacing module and class attributes inside the benchmark process; no
engine source is edited. A function-local `from venice_spark.x import f`
resolves the module attribute at call time, so those calls are caught too.

Each span opened on the main thread gets its own Spark job group, so the
jobs, tasks and failed tasks it launched are read back from
`SparkContext.statusTracker()` once the op that contains it has finished.
Spans opened on other threads (Structured Streaming's `foreachBatch`
callbacks) record time only, as roots of their own. Spans stay in memory
until the run ends.
"""

from __future__ import annotations

import functools
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any, Callable


@dataclass
class Span:
    name: str
    start: float
    parent: "Span | None"
    op: int
    group: str
    phase: str
    end: float = 0.0
    children: list["Span"] = field(default_factory=list)
    notes: dict[str, float] = field(default_factory=dict)
    jobs: int = 0  # launched while this span was innermost
    tasks: int = 0
    failed_tasks: int = 0

    @property
    def dur(self) -> float:
        return self.end - self.start

    def self_time(self) -> float:
        """Duration minus the part of it that child spans cover."""
        covered, last = 0.0, self.start
        for c in sorted(self.children, key=lambda s: s.start):
            lo, hi = max(c.start, last), min(c.end, self.end)
            if hi > lo:
                covered += hi - lo
                last = hi
        return self.dur - covered

    def walk(self):
        yield self
        for c in self.children:
            yield from c.walk()

    def total(self, attr: str) -> int:
        return sum(getattr(s, attr) for s in self.walk())

    def time_in(self, prefix: str) -> float:
        """Seconds covered by outermost descendants whose name starts with
        `prefix`."""
        out = 0.0
        for c in self.children:
            out += c.dur if c.name.startswith(prefix) else c.time_in(prefix)
        return out

    def find(self, prefix: str) -> list["Span"]:
        return [s for s in self.walk() if s is not self and s.name.startswith(prefix)]


class Tracer:
    """Records spans while `enabled`; otherwise every method is a no-op
    apart from running the wrapped call."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.phase = "setup"  # "setup", "warmup" or "loop"; stamped on each span
        self.roots: list[Span] = []
        self.overhead_s: list[float] = []  # tracer bookkeeping per top-level op
        self._local = threading.local()
        self._lock = threading.Lock()
        self._seq = 0
        self._undo: list[tuple[Any, str, Any]] = []

    # ---- spans ----
    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _open(self, name: str, jobs: bool) -> Span:
        stack = self._stack()
        main = jobs and threading.current_thread() is threading.main_thread()
        with self._lock:
            self._seq += 1
            seq = self._seq
        parent = stack[-1] if stack else None
        group = f"perfbench-{seq}" if main else ""
        span = Span(name, 0.0, parent, parent.op if parent else seq, group, self.phase)
        if parent:
            parent.children.append(span)
        stack.append(span)
        if main:
            self.sc.setLocalProperty("spark.jobGroup.id", span.group)
        span.start = time.perf_counter()
        return span

    def _close(self, span: Span) -> None:
        span.end = time.perf_counter()
        stack = self._stack()
        stack.pop()
        parent = stack[-1] if stack else None
        if span.group:
            outer = next((p.group for p in reversed(stack) if p.group), None)
            self.sc.setLocalProperty("spark.jobGroup.id", outer)
        if parent is None:
            with self._lock:
                self.roots.append(span)
            if span.group:
                t0 = time.perf_counter()
                self._resolve(span)
                self.overhead_s.append(time.perf_counter() - t0)

    @contextmanager
    def span(self, name: str, jobs: bool = True):
        """`jobs=False` skips the span's own job group (two JVM calls) for
        pure-Python callees that launch no Spark job; any job still lands
        in the nearest enclosing group."""
        if not self.enabled:
            yield None
            return
        s = self._open(name, jobs)
        try:
            yield s
        finally:
            self._close(s)

    def _resolve(self, root: Span) -> None:
        """Read back job, task and failed-task counts for every span of a
        finished top-level op. The status store is fed by Spark's async
        listener bus, so drain it first."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        for s in root.walk():
            if not s.group:
                continue
            for jid in tracker.getJobIdsForGroup(s.group):
                s.jobs += 1
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    stage = tracker.getStageInfo(sid)
                    if stage:
                        s.tasks += stage.numCompletedTasks
                        s.failed_tasks += stage.numFailedTasks

    # ---- attribute wrapping ----
    def wrap(
        self,
        owner: Any,
        attr: str,
        name: str,
        note: Callable[[Any], dict] | None = None,
        jobs: bool = True,
    ) -> None:
        """Replace `owner.attr` with a spanning wrapper; `note(result)`
        attaches numbers to the span."""
        if not self.enabled:
            return
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        fn = orig.__func__ if isinstance(orig, staticmethod) else orig

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name, jobs) as s:
                result = fn(*args, **kwargs)
                if note is not None:
                    s.notes.update(note(result))
                return result

        setattr(owner, attr, staticmethod(wrapper) if isinstance(orig, staticmethod) else wrapper)
        self._undo.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    # ---- read-out ----
    def ops(self, name: str) -> list[Span]:
        """The timed loop's top-level spans called `name`."""
        return [s for s in self.roots if s.name == name and s.phase == "loop"]

    def spans(self, name: str) -> list[Span]:
        return [s for r in self.roots for s in r.walk() if s.name == name]

    def dump(self, path: str) -> None:
        """Write every span as one JSON line (name, start, end, parent, op,
        phase, Spark jobs and tasks, and any notes)."""
        import json

        ids = {}
        with open(path, "w") as fh:
            for r in self.roots:
                for s in r.walk():
                    ids[id(s)] = len(ids)
                    fh.write(
                        json.dumps(
                            {
                                "id": ids[id(s)],
                                "name": s.name,
                                "start": s.start,
                                "end": s.end,
                                "parent": ids.get(id(s.parent)),
                                "op": s.op,
                                "phase": s.phase,
                                "jobs": s.jobs,
                                "tasks": s.tasks,
                                **s.notes,
                            }
                        )
                        + "\n"
                    )


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0
