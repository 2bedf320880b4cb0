"""In-memory spans: name, start, end, parent.  Written out once at the
end of a run; a span's self time is its duration minus the time its
direct children cover."""

from __future__ import annotations

import json
from contextlib import contextmanager, nullcontext
from time import perf_counter


class Tracer:
    def __init__(self):
        self.spans: list[list] = []  # [name, start, end, parent index]
        self._stack = [-1]

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        self.spans.append([name, perf_counter(), None, self._stack[-1]])
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx][2] = perf_counter()

    def wrap(self, name: str, fn):
        """``fn`` recording one span per call — inlined rather than via
        ``span`` because per-row kernels are wrapped too."""
        spans, stack = self.spans, self._stack

        def traced(*args, **kwargs):
            idx = len(spans)
            rec = [name, perf_counter(), None, stack[-1]]
            spans.append(rec)
            stack.append(idx)
            try:
                return fn(*args, **kwargs)
            finally:
                stack.pop()
                rec[2] = perf_counter()

        return traced

    def self_times(self) -> dict[str, tuple[float, int]]:
        """{name: (summed self seconds, span count)}."""
        child = [0.0] * len(self.spans)
        for name, t0, t1, parent in self.spans:
            if parent >= 0:
                child[parent] += t1 - t0
        out: dict[str, tuple[float, int]] = {}
        for (name, t0, t1, _), c in zip(self.spans, child):
            s, n = out.get(name, (0.0, 0))
            out[name] = (s + (t1 - t0) - c, n + 1)
        return out

    def total(self, name: str) -> float:
        return sum(t1 - t0 for n, t0, t1, _ in self.spans if n == name)

    def dump(self, path: str, limit: int = 5000) -> None:
        """Write the first ``limit`` spans plus the self-time table."""
        t0 = self.spans[0][1] if self.spans else 0.0
        with open(path, "w") as f:
            json.dump({
                "self_times": self.self_times(),
                "n_spans": len(self.spans),
                "spans": [[n, round(a - t0, 6), round(b - t0, 6), p]
                          for n, a, b, p in self.spans[:limit]],
            }, f)


class NullTracer:
    """A tracer that records nothing: the untimed twin of a traced run."""

    def span(self, name: str):
        return nullcontext()
