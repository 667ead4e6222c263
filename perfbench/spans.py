"""In-memory span recorder for the traced run.

Each span records name, start, end, parent span and request id. Spans
are kept in a list and written out as JSON lines when the run ends.
With ``enabled=False`` every ``span()`` call returns one shared null
context, so the untraced run pays only a method call per layer call.
"""

from __future__ import annotations

import contextlib
import json
import time

_NULL = contextlib.nullcontext()


class _Span:
    __slots__ = ("tracer", "rec")

    def __init__(self, tracer: "Tracer", rec: dict):
        self.tracer = tracer
        self.rec = rec

    def __enter__(self) -> dict:
        self.tracer._stack.append(self.rec)
        self.rec["start"] = time.monotonic()
        return self.rec

    def __exit__(self, *exc) -> bool:
        self.rec["end"] = time.monotonic()
        self.tracer._stack.pop()
        self.tracer.spans.append(self.rec)
        return False


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next_id = 1

    def span(self, name: str, req: int | None = None, **attrs):
        """Context manager for one span; yields its record (a dict the
        caller may add counts to). ``req`` defaults to the parent's."""
        if not self.enabled:
            return _NULL
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": self._next_id,
            "parent": parent["id"] if parent else None,
            "req": req if req is not None else (parent["req"] if parent else None),
            "name": name,
            **attrs,
        }
        self._next_id += 1
        return _Span(self, rec)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["id"]):
                f.write(json.dumps(s, default=str) + "\n")


def span_cost_us(n: int = 2000) -> float:
    """Median cost of recording one nested span, in microseconds."""
    t = Tracer(True)
    costs = []
    with t.span("outer", req=0):
        for _ in range(n):
            t0 = time.perf_counter()
            with t.span("inner"):
                pass
            costs.append(time.perf_counter() - t0)
    costs.sort()
    return costs[len(costs) // 2] * 1e6
