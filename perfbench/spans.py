"""In-memory spans recorded from the benchmark's own calls into a layer.

A span has a name, start and end (perf_counter seconds), the id of the
span open around it, and the run id. Spans stay in memory and are
written once, when the run ends. `wrap` times every call of a module
function for the length of a `with` block, so the benchmark can time a
layer from outside without editing it.
"""

from __future__ import annotations

import contextlib
import json
import time


@contextlib.contextmanager
def patched(module, attr: str, value):
    """Replace `module.attr` with `value` for the length of the block."""
    real = getattr(module, attr)
    setattr(module, attr, value)
    try:
        yield real
    finally:
        setattr(module, attr, real)


class Tracer:
    def __init__(self, run_id: str, enabled: bool = True):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name,
               "parent": self._open[-1] if self._open else None,
               "run": self.run_id, "start": time.perf_counter(), **attrs}
        self.spans.append(rec)
        self._open.append(rec["id"])
        try:
            yield rec
        finally:
            self._open.pop()
            rec["end"] = time.perf_counter()

    @contextlib.contextmanager
    def wrap(self, module, attr: str, name: str):
        """Record a span around every call of `module.attr`."""
        real = getattr(module, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                return real(*args, **kwargs)

        with patched(module, attr, traced):
            yield

    def total(self, name: str, under: str | None = None) -> float:
        """Summed duration of spans called `name`, optionally only those
        with an ancestor called `under`."""
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name and "end" in s
                   and (under is None or self._has_ancestor(s, under)))

    def _has_ancestor(self, s: dict, name: str) -> bool:
        p = s["parent"]
        while p is not None:
            if self.spans[p]["name"] == name:
                return True
            p = self.spans[p]["parent"]
        return False

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)
