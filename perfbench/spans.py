"""Spans recorded from outside the program, around calls into its layers.

The traced run wraps public entry points of each layer (the parser, the
session's ``execute``, ``procedures.run_call``, the graph algorithms,
the server's ``format_rows``) with timing wrappers, keeps every span in
memory and writes them out at the end. A span's self time is its
duration minus the time its children cover; the layer of a span is the
first dotted part of its name.
"""

from __future__ import annotations

import json
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    rid: str
    py4j: int = 0
    children: list = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_time(self) -> float:
        return self.dur - sum(c.dur for c in self.children)

    @property
    def layer(self) -> str:
        return self.name.split(".")[0]


class Tracer:
    """Span recorder. One request is open at a time (closed loop), so
    a span opened on a thread with no open span of its own (the
    server's handler thread) is parented to the open request."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.py4j_calls = 0
        self._local = threading.local()
        self._root: Span | None = None
        self._restore: list = []

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _open(self, name: str, start: float) -> Span:
        stack = self._stack()
        parent = stack[-1] if stack else self._root
        span = Span(len(self.spans), name, start, start,
                    parent.sid if parent else None,
                    parent.rid if parent else name)
        span.py4j = self.py4j_calls
        self.spans.append(span)
        if parent is not None:
            parent.children.append(span)
        return span

    @contextmanager
    def request(self, rid: str):
        """Root span of one operation (a request or a gate)."""
        span = Span(len(self.spans), "request", time.perf_counter(), 0.0,
                    None, rid)
        self.spans.append(span)
        self._root = span
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            self._root = None

    @contextmanager
    def span(self, name: str):
        span = self._open(name, time.perf_counter())
        self._stack().append(span)
        try:
            yield span
        finally:
            self._stack().pop()
            span.end = time.perf_counter()
            span.py4j = self.py4j_calls - span.py4j

    def add(self, name: str, start: float, dur: float) -> None:
        """Record a span whose time was accumulated in pieces (rows
        pulled from a lazy iterator)."""
        span = self._open(name, start)
        span.end = start + dur
        span.py4j = 0

    def current(self) -> Span | None:
        """The open request's root span."""
        return self._root

    def replace(self, owner, attr: str, new) -> None:
        """Set ``owner.attr`` to ``new`` until ``unwrap``."""
        self._restore.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def timed(self, name: str, fn):
        """``fn`` wrapped to record a span per call."""
        def call(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return call

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a wrapper that records a span."""
        self.replace(owner, attr, self.timed(name, getattr(owner, attr)))

    def count_py4j(self, spark) -> None:
        """Count py4j round trips by wrapping the gateway client's
        send call. Releases of Java references are left out: Python's
        garbage collector sends them whenever it runs."""
        from py4j import protocol

        release = protocol.MEMORY_COMMAND_NAME + \
            protocol.MEMORY_DEL_SUBCOMMAND_NAME
        client = spark.sparkContext._gateway._gateway_client
        orig = client.send_command

        def counted(command, *args, **kwargs):
            if not command.startswith(release):
                self.py4j_calls += 1
            return orig(command, *args, **kwargs)

        self.replace(client, "send_command", counted)

    def unwrap(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()

    # -- analysis ---------------------------------------------------------
    def roots(self) -> list[Span]:
        return [s for s in self.spans if s.parent is None]

    @staticmethod
    def descendants(root: Span):
        todo = list(root.children)
        while todo:
            s = todo.pop()
            yield s
            todo.extend(s.children)

    def layer_self(self, root: Span) -> dict[str, float]:
        """Self seconds per layer under one root span (root excluded)."""
        out: dict[str, float] = {}
        for s in self.descendants(root):
            out[s.layer] = out.get(s.layer, 0.0) + s.self_time
        return out

    def layer_calls(self, root: Span) -> dict[str, int]:
        """py4j round trips per layer under one root, self only."""
        out: dict[str, int] = {}
        for s in self.descendants(root):
            own = s.py4j - sum(c.py4j for c in s.children)
            out[s.layer] = out.get(s.layer, 0) + own
        return out

    def coverage(self, root: Span) -> float:
        """Share of the root's wall time that layer spans account for."""
        return sum(self.layer_self(root).values()) / root.dur

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.sid, "name": s.name, "start": s.start,
                    "end": s.end, "parent": s.parent, "request": s.rid,
                    "self": s.self_time, "py4j": s.py4j}) + "\n")


# -- Spark-side counters ---------------------------------------------------

def group_jobs(sc, group: str) -> tuple[int, int]:
    """(jobs, tasks) run under a job group, from the status tracker."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for sid in (info.stageIds if info else []):
            stage = st.getStageInfo(sid)
            tasks += stage.numTasks if stage else 0
    return len(jobs), tasks


def shuffle_written(sc) -> int:
    """Total shuffle bytes written so far by the (local) executor."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    execs = jsc.statusStore().executorList(True)
    return sum(execs.apply(i).totalShuffleWrite() for i in range(execs.size()))


_EXCHANGE = re.compile(r"\b(Broadcast)?Exchange\b")


def exchanges(plan: str) -> tuple[int, int]:
    """(shuffle exchanges, broadcast exchanges) in the plan that ran:
    the final adaptive plan when there is one."""
    final = plan.split("== Initial Plan ==")[0]
    shuffles = broadcasts = 0
    for m in _EXCHANGE.finditer(final):
        if m.group(1):
            broadcasts += 1
        else:
            shuffles += 1
    return shuffles, broadcasts
