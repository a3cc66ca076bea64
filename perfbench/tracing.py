"""Spark-free pieces of the benchmark: spans, self time, the tail
percentile rule, error counting and the final result line.

A span has a name, an id, a parent id, the operation it belongs to and a
start/end (``time.perf_counter`` seconds). Spans nest per thread: an
operation span (a query or a front-door command) holds phase spans
(build/plan/execute, or one front-door stage), which hold the spans of
wrapped engine calls. Spans are kept in memory and written out at the end.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager

# Readers that keep only the tail of stdout must still get the whole line.
MAX_RESULT_LINE_BYTES = 1536


class Tracer:
    """Records spans when ``enabled``; otherwise every method is a no-op
    (``span`` still yields, ``begin`` returns None)."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin(self, name: str, op: str | None = None, **attrs) -> dict | None:
        if not self.enabled:
            return None
        stack = self._stack()
        parent = stack[-1] if stack else None
        span = {
            "name": name,
            "id": next(self._ids),
            "parent": parent["id"] if parent else None,
            "op": op if op is not None else (parent["op"] if parent else None),
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        stack.append(span)
        return span

    def end(self, span: dict | None, **attrs) -> None:
        if span is None:
            return
        span["end"] = time.perf_counter()
        span.update(attrs)
        stack = self._stack()
        if stack and stack[-1] is span:
            stack.pop()
        with self._lock:
            self.spans.append(span)

    @contextmanager
    def span(self, name: str, op: str | None = None, **attrs):
        s = self.begin(name, op, **attrs)
        try:
            yield s
        finally:
            self.end(s)

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` with a version that runs inside a span
        called ``name``; ``on_result(span, args, kwargs, result)`` may add
        counts to the span. Patching a module or class attribute leaves
        the engine's source untouched."""
        inner = getattr(owner, attr)

        @functools.wraps(inner)
        def traced(*args, **kwargs):
            with self.span(name) as s:
                result = inner(*args, **kwargs)
                if on_result is not None and s is not None:
                    on_result(s, args, kwargs, result)
                return result

        setattr(owner, attr, traced)


def duration(span: dict) -> float:
    return span["end"] - span["start"]


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id → its duration minus the part its direct children cover."""
    covered: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            covered[s["parent"]] = covered.get(s["parent"], 0.0) + duration(s)
    return {s["id"]: duration(s) - covered.get(s["id"], 0.0) for s in spans}


def total(spans: list[dict], name: str, key: str | None = None) -> float:
    """Sum of durations (or of the ``key`` count) over spans named ``name``."""
    return sum(s.get(key, 0) if key else duration(s) for s in spans if s["name"] == name)


def has_ancestor(span: dict, name: str, by_id: dict[int, dict]) -> bool:
    p = by_id.get(span["parent"])
    while p is not None:
        if p["name"] == name:
            return True
        p = by_id.get(p["parent"])
    return False


def tail_percentile(samples: list[float], min_beyond: int = 10) -> tuple[float, int]:
    """(value, percentile) of the highest percentile that still has at
    least ``min_beyond`` samples beyond it: the (min_beyond+1)-th largest
    sample. With too few samples for that, the maximum (percentile 100)."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    if n <= min_beyond:
        return xs[-1], 100
    i = n - 1 - min_beyond
    return xs[i], (100 * (i + 1)) // n


def median(samples: list[float]) -> float:
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2


def count_failures(ops: list[dict]) -> tuple[int, int]:
    """(attempted, failed) over operation records. An operation fails when
    it raised, exited nonzero or failed an output check; it counts once
    however many of those apply."""
    failed = sum(
        1 for op in ops
        if op.get("error") or op.get("exit_code", 0) != 0 or op.get("check") is False
    )
    return len(ops), failed


def error_rate(ops: list[dict]) -> float:
    attempted, failed = count_failures(ops)
    return failed / attempted if attempted else 1.0


def result_line(
    attempted: int, failed: int, correct: bool, metrics: dict[str, tuple],
    max_bytes: int | None = MAX_RESULT_LINE_BYTES,
) -> str:
    """The final stdout line: ``metrics`` maps name → (value, unit). The
    end-to-end line must fit ``max_bytes``; the per-layer line is longer."""
    line = json.dumps(
        {
            "correct": bool(correct),
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        },
        separators=(",", ":"),
    )
    if max_bytes is not None and len(line.encode()) > max_bytes:
        raise ValueError(f"result line is {len(line.encode())} bytes")
    return line
