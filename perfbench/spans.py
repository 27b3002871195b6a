"""In-memory spans recorded around calls into the engine's layers, and
the reducer that turns them into per-layer self times.

A span is ``(name, start, end, parent, op)``: ``parent`` is the index
of the enclosing span (None at the root) and ``op`` the identifier of
the benchmark operation that caused it. The self time of a span is its
duration minus the part of it covered by its child spans.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager


class Tracer:
    """Span recorder. While ``on`` is False, :meth:`span` costs one
    attribute test and records nothing."""

    def __init__(self) -> None:
        self.on = False
        self.op: str | None = None
        self.spans: list[tuple] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.on:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append((name, time.perf_counter(), None, parent, self.op))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            name_, start, _end, parent_, op = self.spans[idx]
            self.spans[idx] = (name_, start, time.perf_counter(), parent_, op)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def self_times(spans: list[tuple]) -> list[float]:
    """Self time of every span, in seconds, by span index."""
    child_time = [0.0] * len(spans)
    for name, start, end, parent, _op in spans:
        if parent is not None:
            child_time[parent] += end - start
    return [
        (end - start) - child_time[i]
        for i, (_n, start, end, _p, _o) in enumerate(spans)
    ]


def op_layers(spans: list[tuple]) -> dict[str, dict[str, float]]:
    """Self time per operation and span name, in ms: ``{op: {name:
    total self time of the op's spans of that name}}``. Root spans are
    named after their operation, so their self time is the part of an
    operation no layer accounts for."""
    own = self_times(spans)
    per_op: dict[str, dict[str, float]] = {}
    for i, (name, _s, _e, _p, op) in enumerate(spans):
        if op is not None:
            layers = per_op.setdefault(op, {})
            layers[name] = layers.get(name, 0.0) + 1000 * own[i]
    return per_op


def reduce_ops(per_op: dict[str, dict[str, float]]) -> dict[str, float]:
    """Per-layer self time, in ms: for each span name, the median over
    the operations that entered it of its self time in that operation."""
    by_name: dict[str, list[float]] = {}
    for layers in per_op.values():
        for name, t in layers.items():
            by_name.setdefault(name, []).append(t)
    return {n: statistics.median(ts) for n, ts in by_name.items()}


if __name__ == "__main__":
    import sys

    # python3 perfbench/spans.py SPANS.jsonl: per-layer self times, in ms
    with open(sys.argv[1]) as fh:
        spans = [tuple(json.loads(line)) for line in fh]
    for name, ms in sorted(reduce_ops(op_layers(spans)).items()):
        print(f"{name:32s} {ms:10.1f}")
