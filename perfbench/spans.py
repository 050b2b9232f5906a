"""Span tracing for the traced run.

Spans are recorded around calls into the engine's public functions and
into the PySpark calls they drive, from the benchmark's own code: the
engine itself is not modified. Spans live in memory; the run derives
each layer's self time from them when it ends.

A span opened on a thread with no open span of its own (the capture
worker, the foreachBatch callback thread) takes as parent the span the
caller gave it, else the innermost open span of the main thread: the
operation that caused it.
"""

from __future__ import annotations

import functools
import threading
import time
from collections import deque
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Optional

# span name prefix -> layer; the longest matching prefix wins
LAYER_OF = {
    "op": "driver",
    "operators.": "operators",
    "tables.": "tables",
    "streaming.": "streaming",
    "catalyst.": "catalyst",
    "exec.": "exec",
    "sources.": "sources",
    "session.": "session",
    "extract.": "extract",
    "reporters.": "reporters",
    "trace.": "trace",
}


def layer_of(name: str) -> str:
    best = max((p for p in LAYER_OF if name.startswith(p)), key=len, default=None)
    return LAYER_OF[best] if best is not None else "other"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: Optional[int] = None
    op: Optional[int] = None
    calls: int = 0  # py4j call commands sent while this span was innermost
    attrs: dict = field(default_factory=dict)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its
    child spans cover (children are clipped to the parent's interval and
    overlapping children are counted once)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
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
        out[s.id] = (s.end - s.start) - covered
    return out


class Tracer:
    """Records spans and py4j call counts while ``enabled`` is set."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self.op: Optional[int] = None
        self.unattributed_calls = 0
        self._lock = threading.Lock()
        self._stacks: dict[int, list[Span]] = {}
        self._main = threading.get_ident()
        self._patches: list[tuple[object, str, object]] = []
        # emit spans waiting for their capture to start (FIFO: the
        # engine captures on the caller or on one ordered worker)
        self.pending_capture: deque[Span] = deque()

    # -- spans --------------------------------------------------------
    def begin(self, name: str, parent: Optional[Span] = None) -> Span:
        tid = threading.get_ident()
        with self._lock:
            stack = self._stacks.setdefault(tid, [])
            if parent is None:
                if stack:
                    parent = stack[-1]
                elif tid != self._main and self._stacks.get(self._main):
                    parent = self._stacks[self._main][-1]
            span = Span(
                id=len(self.spans),
                name=name,
                start=time.perf_counter(),
                parent=parent.id if parent is not None else None,
                op=parent.op if parent is not None else self.op,
            )
            self.spans.append(span)
            stack.append(span)
        return span

    def end(self, span: Span) -> None:
        span.end = time.perf_counter()
        with self._lock:
            stack = self._stacks.get(threading.get_ident(), [])
            if span in stack:
                stack.remove(span)

    @contextmanager
    def span(self, name: str, parent: Optional[Span] = None):
        if not self.enabled:
            yield None
            return
        s = self.begin(name, parent)
        try:
            yield s
        finally:
            self.end(s)

    def add_span(self, name: str, start: float, end: float, parent: Optional[Span]) -> Span:
        """Record a span measured elsewhere (the Catalyst phases)."""
        with self._lock:
            s = Span(
                id=len(self.spans), name=name, start=start, end=end,
                parent=parent.id if parent else None, op=parent.op if parent else None,
            )
            self.spans.append(s)
        return s

    def count_call(self) -> None:
        stack = self._stacks.get(threading.get_ident())
        if stack:
            stack[-1].calls += 1
        else:
            self.unattributed_calls += 1

    # -- patching -----------------------------------------------------
    def patch(self, owner: object, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a wrapper that runs it in a span."""
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return original(*args, **kwargs)
            s = tracer.begin(name)
            try:
                return original(*args, **kwargs)
            finally:
                tracer.end(s)

        self._patches.append((owner, attr, original))
        setattr(owner, attr, wrapper)

    def count_py4j(self) -> None:
        """Count py4j call commands (``c\\n``) against the innermost span
        of the sending thread. Other commands (memory deletes driven by
        the Python GC, for instance) are not counted, so counts repeat."""
        from py4j import clientserver, java_gateway

        for cls in (clientserver.ClientServerConnection, java_gateway.GatewayConnection):
            original = cls.send_command
            tracer = self

            def send_command(conn, command, *args, _original=original, **kwargs):
                if tracer.enabled and command.startswith("c\n"):
                    tracer.count_call()
                return _original(conn, command, *args, **kwargs)

            self._patches.append((cls, "send_command", original))
            cls.send_command = send_command

    def unpatch_all(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)


def _output_rows(plan):
    """``numOutputRows`` of the topmost operator that has one (through
    adaptive and codegen wrappers)."""
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()
    while plan is not None:
        rows = plan.metrics().get("numOutputRows")
        if rows.isDefined():
            return rows.get().value()
        children = plan.children()
        plan = children.apply(0) if children.nonEmpty() else None
    return None


class QueryListener:
    """A py4j-callback ``QueryExecutionListener``: keeps, for every
    completed query, its Catalyst phase intervals (epoch ms), Spark's
    ``durationNs`` and the output row count of its executed plan."""

    def __init__(self) -> None:
        self.events: list[dict] = []
        self.failures = 0

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (JVM interface)
        event = {"duration_ns": duration_ns, "phases": {}, "rows": None}
        try:
            phases = qe.tracker().phases()
            for name in ("parsing", "analysis", "optimization", "planning"):
                opt = phases.get(name)
                if opt.isDefined():
                    ph = opt.get()
                    event["phases"][name] = (ph.startTimeMs(), ph.endTimeMs())
            event["rows"] = _output_rows(qe.executedPlan())
        except Exception:  # the listener must never break the bus
            self.failures += 1
        self.events.append(event)

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        self.failures += 1

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]
