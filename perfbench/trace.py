"""In-memory spans and per-layer self time.

A span is (id, lane, layer, name, start, end) in epoch seconds. Spans
of one lane nest by time: a lane is one timeline that blocks the
workload's result (the stream's micro-batch loop, one HTTP client, the
analytics driver thread). At every instant of a lane the innermost
open span owns the time; time no span covers is ``unattributed``.
Layers plus ``unattributed`` therefore add up to the lane's wall
clock by construction.

With tracing off every entry point is a no-op, so the untraced run
pays nothing beyond one attribute test per call.
"""

from __future__ import annotations

import functools
import inspect
import itertools
import json
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[tuple] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list[tuple] = []

    # -- recording ---------------------------------------------------------
    def lane(self) -> str:
        return getattr(self._local, "lane", None) or threading.current_thread().name

    def set_lane(self, lane: str | None) -> None:
        self._local.lane = lane

    def add(self, layer: str, name: str, start: float, end: float, lane: str | None = None) -> None:
        if not self.enabled:
            return
        with self._lock:
            self.spans.append((next(self._ids), lane or self.lane(), layer, name, start, end))

    @contextmanager
    def span(self, layer: str, name: str, lane: str | None = None):
        if not self.enabled:
            yield
            return
        t0 = time.time()
        try:
            yield
        finally:
            self.add(layer, name, t0, time.time(), lane)

    def patch(self, owner, attr: str, replacement) -> None:
        """Set ``owner.attr`` to ``replacement`` until ``restore``."""
        self._patched.append((owner, attr, owner.__dict__.get(attr, getattr(owner, attr))))
        setattr(owner, attr, replacement)

    def wrap(self, owner, attr: str, layer: str, name: str | None = None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper (traced
        runs only); ``restore`` puts the original back."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)
        label = name or attr
        tracer = self

        @functools.wraps(orig)
        def traced(*a, **kw):
            with tracer.span(layer, label):
                return orig(*a, **kw)

        self.patch(owner, attr, traced)

    def wrap_module(self, mod, layer: str, name: str) -> None:
        """``wrap`` every public function defined in module ``mod``."""
        for attr, fn in list(vars(mod).items()):
            if inspect.isfunction(fn) and fn.__module__ == mod.__name__ and not attr.startswith("_"):
                self.wrap(mod, attr, layer, name)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -- analysis ----------------------------------------------------------
    def self_times(self, lanes: list[str], t0: float, t1: float) -> dict[str, float]:
        """Self seconds per layer (and per ``layer.name``) over
        ``[t0, t1]`` of each lane in ``lanes``, plus ``unattributed``."""
        out: dict[str, float] = {}
        for lane in lanes:
            ev = []
            for sid, ln, layer, name, s, e in self.spans:
                s, e = max(s, t0), min(e, t1)
                if ln != lane or e <= s:
                    continue
                ev.append((s, 1, -e, sid, layer, name))
                ev.append((e, 0, 0.0, sid, layer, name))
            ev.sort()
            stack: list[tuple] = []
            last = t0
            for when, is_start, _neg_end, sid, layer, name in ev:
                if when > last:
                    key = (stack[-1][1], stack[-1][2]) if stack else ("unattributed", "")
                    dt = when - last
                    out[key[0]] = out.get(key[0], 0.0) + dt
                    if key[1]:
                        full = f"{key[0]}.{key[1]}"
                        out[full] = out.get(full, 0.0) + dt
                    last = when
                if is_start:
                    stack.append((sid, layer, name))
                else:
                    for i in range(len(stack) - 1, -1, -1):
                        if stack[i][0] == sid:
                            del stack[i]
                            break
            if t1 > last:
                out["unattributed"] = out.get("unattributed", 0.0) + (t1 - last)
        return out

    def dump(self, path: str, extra: dict) -> None:
        rows = [
            {"id": sid, "lane": ln, "layer": layer, "name": name, "start": s, "end": e}
            for sid, ln, layer, name, s, e in self.spans
        ]
        with open(path, "w") as fh:
            json.dump({**extra, "spans": rows}, fh)


LANE_HEADER = "X-Perfbench-Lane"


def trace_rest_handlers(tracer: Tracer) -> None:
    """Handler threads record their spans on the calling client's lane
    (named by a request header), so server-side spans nest under the
    client's round trip."""
    from ureplicator_spark.api_http import _Handler

    for verb in ("do_GET", "do_POST", "do_PUT", "do_DELETE"):
        orig = getattr(_Handler, verb)

        def traced(self_, _orig=orig):
            tracer.set_lane(self_.headers.get(LANE_HEADER))
            try:
                return _orig(self_)
            finally:
                tracer.set_lane(None)

        tracer.patch(_Handler, verb, traced)


LAYERS = (
    "session",
    "sources",
    "streaming",
    "operators",
    "api",
    "api_http",
    "queries",
    "caching",
    "unattributed",
)


def layer_table(self_s: dict[str, float]) -> str:
    total = sum(self_s.get(layer, 0.0) for layer in LAYERS)
    lines = [f"{'layer':<14}{'self_s':>10}{'share':>8}"]
    for layer in LAYERS:
        v = self_s.get(layer, 0.0)
        lines.append(f"{layer:<14}{v:>10.3f}{(v / total if total else 0):>8.1%}")
    lines.append(f"{'total':<14}{total:>10.3f}")
    return "\n".join(lines)
