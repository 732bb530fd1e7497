"""In-memory span recorder for the traced run.

A span wraps one call from the benchmark into a layer of the program.
It records a name, start, end, parent span and op id; spans are kept in
memory and written out once, when the run ends. Self time of a span is
its duration minus the part covered by its child spans."""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self.op_id: int | None = None
        self.op_span: int | None = None

    @contextmanager
    def span(self, name: str):
        """Record a span. Its parent is the innermost open span of this
        thread, else the current op span."""
        if not self.enabled:
            yield None
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else self.op_span
        with self._lock:
            sid = len(self.spans)
            rec = {"id": sid, "name": name, "parent": parent, "op": self.op_id,
                   "start": time.perf_counter(), "end": None}
            self.spans.append(rec)
        stack.append(sid)
        try:
            yield sid
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()

    @contextmanager
    def op(self, op_id: int):
        """Root span of one op; spans opened on other threads while it
        is open (the stream thread's sink calls) become its children."""
        with self.span("op") as sid:
            self.op_id, self.op_span = op_id, sid
            try:
                yield sid
            finally:
                self.op_id = self.op_span = None

    def duration_ms(self, sid: int) -> float:
        s = self.spans[sid]
        return (s["end"] - s["start"]) * 1e3

    def total_ms(self, name: str) -> float:
        return sum(
            (s["end"] - s["start"]) * 1e3 for s in self.spans if s["name"] == name
        )

    def self_ms(self) -> dict[str, float]:
        """Total self time per span name, in ms."""
        child_ms = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_ms[s["parent"]] += (s["end"] - s["start"]) * 1e3
        out: dict[str, float] = {}
        for s, covered in zip(self.spans, child_ms):
            if s["end"] is not None:
                own = (s["end"] - s["start"]) * 1e3 - covered
                out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")
