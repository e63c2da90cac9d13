"""In-memory spans recorded around calls into the program's layers.

The benchmark traces from outside: :meth:`Tracer.wrap` replaces a
public function or method with a wrapper that records one span per
call, and :meth:`Tracer.restore` puts the originals back, so untraced
operations run the unmodified program.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.op: str | None = None  # operation the next spans belong to
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append({"name": name, "op": self.op, "parent": parent,
                           "start": time.perf_counter(), "end": None})
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.perf_counter()

    def wrap(self, owner, attr: str, name) -> None:
        """Trace ``owner.attr``; ``name`` is a span name or a function of
        the call's arguments that returns one."""
        original = getattr(owner, attr)
        naming = name if callable(name) else (lambda *a, **k: name)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(naming(*args, **kwargs)):
                return original(*args, **kwargs)

        self._patches.append((owner, attr, original))
        setattr(owner, attr, traced)

    def restore(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)

    def durations(self, op: str) -> tuple[float, dict[str, float]]:
        """(root span duration, summed duration per direct-child name)
        for the spans of one operation."""
        spans = [s for s in self.spans if s["op"] == op]
        root = next(s for s in spans if s["parent"] is None)
        root_idx = self.spans.index(root)
        children: dict[str, float] = {}
        for s in spans:
            if s["parent"] == root_idx:
                children[s["name"]] = children.get(s["name"], 0.0) + s["end"] - s["start"]
        return root["end"] - root["start"], children

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)
