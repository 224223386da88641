"""Measurement from outside the package: spans, Spark job counts, RSS.

``SpanRecorder`` wraps public entry points of the package by patching
attributes on their modules and classes; the package itself is never
edited. Each span records its name, start, end, parent span, thread and
the batch (closed-loop cycle) it belongs to. Spans stay in memory and are
written out once, at exit.

A span's self time is its duration minus the part of it that its child
spans cover. Children started on another thread (the pipeline commits its
tables from a thread pool) have no parent on their own thread's stack;
they take the innermost open span of the thread that opened the cycle's
root span instead: the call that is waiting on the pool.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    batch: int | None = None
    thread: int = 0


class SpanRecorder:
    """In-memory span store. ``enabled`` toggles recording without
    removing the patches, so one traced run can time cycles with and
    without recording and report the overhead."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = True
        self.batch: int | None = None
        self._root: int | None = None
        self._root_stack: list[int] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str, root: bool = False) -> Span | None:
        if not self.enabled:
            return None
        stack = self._stack()
        if stack:
            parent = stack[-1]
        else:
            parent = self._root_stack[-1] if self._root_stack else None
        with self._lock:
            span = Span(
                len(self.spans), name, time.perf_counter(), parent=parent,
                batch=self.batch, thread=threading.get_ident(),
            )
            self.spans.append(span)
        stack.append(span.sid)
        if root:
            self._root = span.sid
            self._root_stack = stack
        return span

    def close(self, span: Span | None) -> None:
        if span is None:
            return
        span.end = time.perf_counter()
        stack = self._stack()
        if stack and stack[-1] == span.sid:
            stack.pop()
        if self._root == span.sid:
            self._root = None
            self._root_stack = []

    def patch(self, owner: object, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a wrapper recording span ``name``."""
        original = getattr(owner, attr)
        recorder = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            span = recorder.open(name)
            try:
                return original(*args, **kwargs)
            finally:
                recorder.close(span)

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, original))

    def unpatch_all(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    # --- analysis ---------------------------------------------------------

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.end]

    def self_time(self, span: Span) -> float:
        """Duration minus the union of the intervals its children cover,
        clipped to the span."""
        kids = sorted(
            (max(c.start, span.start), min(c.end, span.end))
            for c in self.spans
            if c.parent == span.sid and c.end
        )
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in kids:
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        return (span.end - span.start) - covered

    def mean_self(self, name: str) -> float:
        spans = self.named(name)
        return sum(self.self_time(s) for s in spans) / len(spans) if spans else 0.0

    def mean_duration(self, name: str) -> float:
        spans = self.named(name)
        return sum(s.end - s.start for s in spans) / len(spans) if spans else 0.0

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s), default=str) + "\n")


def max_job_id(spark) -> int:
    """Highest Spark job id so far. Job ids are sequential per context, so
    the difference across a call counts the jobs it ran; the status
    tracker answers with the UI disabled."""
    ids = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    return max(ids) if ids else -1


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    JVM and the Python workers), sampled from /proc on a thread. Pages the
    forked Python workers share count once per worker. Only ``statm`` is
    read: ``smaps_rollup`` costs ~25 ms on the JVM and holds its memory-map
    lock, which would slow the run being measured."""

    def __init__(self, interval_s: float = 0.5) -> None:
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> bool:
        self._stop.set()
        self._thread.join(timeout=5)
        return False

    def _tree(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            # the command name may contain spaces: ppid follows the last ')'
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            children.setdefault(ppid, []).append(int(entry))
        tree, todo = [], [os.getpid()]
        while todo:
            pid = todo.pop()
            tree.append(pid)
            todo.extend(children.get(pid, ()))
        return tree

    def sample(self) -> int:
        total = 0
        for pid in self._tree():
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                continue
        self.peak_bytes = max(self.peak_bytes, total)
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)
