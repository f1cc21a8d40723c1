"""Measurement helpers: percentiles, spans with self time, failure
fraction and prefix-difference layer times. Pure Python, no Spark, so the
tests in this directory run without a session."""

from __future__ import annotations

import json
import math
import time
import uuid
from contextlib import contextmanager


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated ``q``-th percentile (0-100) of ``values``."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def samples_beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie above the ``q``-th percentile."""
    return int(n * (100.0 - q) / 100.0 + 1e-9)


def failed_fraction(attempted: int, failed: int) -> float:
    if attempted < 1:
        raise ValueError("no operations attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside 0..{attempted}")
    return failed / attempted


def prefix_layers(prefix_times: list[tuple[str, float]]) -> tuple[dict[str, float], list[str]]:
    """Layer times from cumulative prefix timings.

    ``prefix_times`` lists ``(layer, seconds)`` where each entry's plan is
    the previous one plus ``layer``; the first entry's time is its own.
    A difference below zero (the longer prefix ran faster, i.e. noise
    larger than the layer) is clamped to 0 and its layer name returned in
    the flagged list."""
    layers: dict[str, float] = {}
    flagged: list[str] = []
    prev = 0.0
    for name, t in prefix_times:
        d = t - prev
        if d < 0:
            flagged.append(name)
            d = 0.0
        layers[name] = d
        prev = t
    return layers, flagged


class Tracer:
    """In-memory spans: name, start, end, parent and run id; written as
    JSON once, at the end. A disabled tracer records nothing, so untraced
    runs pay one attribute check per span."""

    def __init__(self, enabled: bool, run_id: str | None = None):
        self.enabled = enabled
        self.run_id = run_id or uuid.uuid4().hex
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            **({"attrs": attrs} if attrs else {}),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, module, attr: str):
        """Replace ``module.attr`` with a spanned wrapper; returns an undo
        callable. Only the call itself is timed: for functions that return
        a lazy DataFrame that is plan building, not execution."""
        fn = getattr(module, attr)
        label = f"{module.__name__.rsplit('.', 1)[-1]}.{attr}"

        def traced(*args, **kwargs):
            with self.span(label):
                return fn(*args, **kwargs)

        setattr(module, attr, traced)
        return lambda: setattr(module, attr, fn)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans}, f)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id → duration minus the part of its interval that its child
    spans cover (children clipped to the parent, overlaps merged)."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        start, end = s["start"], s["end"]
        ivs = sorted(
            (max(c["start"], start), min(c["end"], end))
            for c in children.get(s["id"], [])
        )
        covered, cur_a, cur_b = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        out[s["id"]] = (end - start) - covered
    return out
