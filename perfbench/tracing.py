"""Spans and counters recorded from outside the program.

The traced run wraps the public functions of each layer (named after the
repo module they live in) and records a span per call: name, start, end,
parent span and op id. Nothing in `duckdb_spark/` is edited; the wrappers
replace module and class attributes for the life of the process.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from collections import defaultdict

_MISSING = object()


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.counts: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self.op: str | None = None
        self._stack: list[int] = []
        self._undo: list[tuple] = []

    # -- spans --------------------------------------------------------------

    def begin(self, name: str) -> int:
        self.spans.append({"name": name, "start": time.perf_counter(), "end": None,
                           "parent": self._stack[-1] if self._stack else None,
                           "op": self.op})
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def end(self, idx: int, error: bool = False) -> float:
        span = self.spans[idx]
        span["end"] = time.perf_counter()
        if error:
            span["error"] = True
        self._stack.pop()
        return span["end"] - span["start"]

    def count(self, key: str, n: float = 1) -> None:
        self.counts[self.op or "setup"][key] += n

    # -- wrapping -----------------------------------------------------------

    def traced(self, fn, name: str, before=None, after=None):
        """`fn` wrapped in a span; `before(args)` and `after(args, result)`
        may add counts."""
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if before is not None:
                before(args)
            idx = tracer.begin(name)
            try:
                result = fn(*args, **kwargs)
            except BaseException:
                tracer.end(idx, error=True)
                raise
            tracer.end(idx)
            if after is not None:
                after(args, result)
            return result

        return wrapper

    def patch(self, owner, attr: str, name: str, before=None, after=None) -> bool:
        """Replace `owner.attr`, and every module-level alias of the same
        function imported elsewhere in the program, with a traced wrapper.
        False when the program has no such attribute."""
        orig = getattr(owner, attr, None)
        if orig is None:
            return False
        wrapper = self.traced(orig, name, before, after)
        self._set(owner, attr, wrapper)
        if not isinstance(owner, type):
            for mod in list(sys.modules.values()):
                if (mod is not owner and getattr(mod, "__name__", "").startswith("duckdb_spark")
                        and getattr(mod, attr, None) is orig):
                    self._set(mod, attr, wrapper)
        return True

    def _set(self, owner, attr, value) -> None:
        self._undo.append((owner, attr, owner.__dict__.get(attr, _MISSING)))
        setattr(owner, attr, value)

    def unpatch(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            if orig is _MISSING:
                delattr(owner, attr)
            else:
                setattr(owner, attr, orig)
        self._undo.clear()

    # -- summaries ----------------------------------------------------------

    def layer_times(self) -> dict[str, dict[str, float]]:
        """Per op: calls and total ms of each span name, counting only the
        outermost span of a name (a recursive call is not counted twice),
        the self ms of each name (its spans minus their direct children)
        and the number of its spans that raised."""
        out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        child_ms: dict[int, float] = defaultdict(float)
        for span in self.spans:
            if span["parent"] is not None and span["end"] is not None:
                child_ms[span["parent"]] += span["end"] - span["start"]
        for i, span in enumerate(self.spans):
            if span["end"] is None:
                continue
            ms = (span["end"] - span["start"]) * 1e3
            per = out[span["op"] or "setup"]
            per[span["name"] + ".self_ms"] += ms - child_ms[i] * 1e3
            per[span["name"] + ".errors"] += bool(span.get("error"))
            if not self._inside_same(i):
                per[span["name"] + ".calls"] += 1
                per[span["name"] + ".ms"] += ms
        return out

    def _inside_same(self, i: int) -> bool:
        name, parent = self.spans[i]["name"], self.spans[i]["parent"]
        while parent is not None:
            if self.spans[parent]["name"] == name:
                return True
            parent = self.spans[parent]["parent"]
        return False

    def dump(self, path: str, t0: float) -> None:
        """Write spans as JSON, times in ms from `t0`."""
        rows = [{"name": s["name"], "start_ms": round((s["start"] - t0) * 1e3, 3),
                 "end_ms": round(((s["end"] or s["start"]) - t0) * 1e3, 3),
                 "parent": s["parent"], "op": s["op"], **({"error": True} if s.get("error") else {})}
                for s in self.spans]
        with open(path, "w") as f:
            json.dump(rows, f)
