"""In-memory spans around calls into the engine's modules.

``Tracer.wrap`` replaces a module attribute (or a method) with a wrapper
that records a span per call, and ``unwrap`` puts the originals back.
Spans nest per thread; a span opened on a thread with no open span
(e.g. the pipeline's ``dup_pairs`` writer thread) gets ``root`` as its
parent.
"""

from __future__ import annotations

import functools
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.root: int | None = None
        self._local = threading.local()
        self._patches: list[tuple] = []
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else self.root
        with self._lock:
            rec = {"id": len(self.spans), "name": name, "parent": parent,
                   "start": time.time(), "end": None,
                   "main": threading.current_thread() is threading.main_thread()}
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()

    def wrap(self, owner, attr: str, name):
        """``name``: a span name, or a function of the call's arguments
        that returns one."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            label = name(*args, **kwargs) if callable(name) else name
            with self.span(label):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def unwrap(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def add(self, name: str, start: float, end: float, parent: int | None) -> None:
        """Record a span measured elsewhere (an event-log job)."""
        with self._lock:
            self.spans.append({"id": len(self.spans), "name": name, "parent": parent,
                               "start": start, "end": end, "main": False})
