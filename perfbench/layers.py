"""Per-layer tracing for the benchmark's traced runs.

Layers are the ``uts_spark`` subpackages a lane calls into (``sources``,
``plans``, ``operators``, ``functions``, ``streaming``); the lane's own
build and action are the ``queries`` layer. ``install`` wraps every
public module-level function of those subpackages, and every public
method of the classes ``plans`` defines (``Series``, groupers,
comparators), so each call records a span. The query modules bind
library names at import, so ``install`` must run before
``uts_spark.registry`` is imported; it also re-binds names that
already-imported ``uts_spark`` modules took from one another.

Spans are kept in memory (one tuple each) and summarised or written out
when the run ends. A span's self time is its duration minus the time
covered by its direct children. Spark jobs are attributed afterwards,
from their submission times, to the innermost span open at submission.
"""

from __future__ import annotations

import bisect
import functools
import importlib
import inspect
import json
import pkgutil
import sys
import time

LAYERS = ("sources", "plans", "operators", "functions", "streaming")


class Tracer:
    """Span recorder. Single-threaded: the benchmark drives Spark from
    one thread, so a plain stack gives each span its parent."""

    def __init__(self) -> None:
        self.enabled = False
        # (span_id, parent_id, layer, name, start, end, lane_run)
        self.spans: list[tuple] = []
        self._stack: list[int] = []
        self._next = 0
        self.lane_run = ""
        # perf_counter() + epoch_offset = time.time()
        self.epoch_offset = time.time() - time.perf_counter()

    def __reduce__(self):
        # a wrapper can only be pickled by value if cloudpickle cannot
        # find it by name; Python workers then get no tracer at all
        return (type(None), ())

    def call(self, layer: str, name: str, fn, args, kwargs):
        if not self.enabled:
            return fn(*args, **kwargs)
        sid = self._next
        self._next += 1
        parent = self._stack[-1] if self._stack else -1
        self._stack.append(sid)
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            self.spans.append((sid, parent, layer, name, t0, t1, self.lane_run))

    def span(self, layer: str, name: str, fn, *args, **kwargs):
        """Run ``fn`` inside a span of ``layer`` (used for the queries
        layer: a lane's build and its action)."""
        return self.call(layer, name, fn, args, kwargs)


def _wrap(tracer: Tracer, fn, layer: str, name: str):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        if tracer is None:  # unpickled in a Python worker
            return fn(*args, **kwargs)
        return tracer.call(layer, name, fn, args, kwargs)

    return traced


def _public_functions(mod):
    for attr, obj in vars(mod).items():
        if (
            not attr.startswith("_")
            and inspect.isfunction(obj)
            and obj.__module__ == mod.__name__
            and obj.__name__ != "<lambda>"
        ):
            yield attr, obj


def install(tracer: Tracer) -> int:
    """Wrap the public surface of every layer; returns the number of
    functions and methods wrapped. Call before importing the registry."""
    if "uts_spark.registry" in sys.modules:
        raise RuntimeError("install() must run before uts_spark.registry is imported")
    wrapped: dict[int, object] = {}
    for layer in LAYERS:
        pkg = importlib.import_module(f"uts_spark.{layer}")
        mods = [pkg] + [
            importlib.import_module(m.name)
            for m in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + ".")
        ]
        for mod in mods:
            short = mod.__name__.removeprefix("uts_spark.")
            for attr, fn in _public_functions(mod):
                w = _wrap(tracer, fn, layer, f"{short}.{attr}")
                wrapped[id(fn)] = w
                setattr(mod, attr, w)
            if layer != "plans":
                continue
            for cname, cls in vars(mod).items():
                if (
                    cname.startswith("_")
                    or not inspect.isclass(cls)
                    or cls.__module__ != mod.__name__
                ):
                    continue
                for attr, fn in list(vars(cls).items()):
                    if attr.startswith("_") or not inspect.isfunction(fn):
                        continue
                    w = _wrap(tracer, fn, layer, f"{short}.{cname}.{attr}")
                    wrapped[id(fn)] = w
                    setattr(cls, attr, w)
    # names other uts_spark modules imported before the wrapping
    for mname, mod in list(sys.modules.items()):
        if mname == "uts_spark" or mname.startswith("uts_spark."):
            for attr, obj in list(vars(mod).items()):
                w = wrapped.get(id(obj))
                if w is not None and w is not obj and inspect.isfunction(obj):
                    setattr(mod, attr, w)
    return len(wrapped)


def attribute_jobs(
    spans: list[tuple], jobs: list[dict], epoch_offset: float
) -> dict[int, tuple]:
    """Map job id -> the innermost span (tuple) open when it was
    submitted, or ``None`` outside every span. ``spans`` are the spans
    of one lane run; a job's ``submitted`` is epoch seconds."""
    by_start = sorted(spans, key=lambda s: s[4])
    starts = [s[4] for s in by_start]
    out: dict[int, tuple] = {}
    for job in jobs:
        t = job["submitted"] - epoch_offset
        best = None
        for s in by_start[: bisect.bisect_right(starts, t)]:
            if s[5] >= t and (best is None or s[4] >= best[4]):
                best = s
        out[job["id"]] = best
    return out


def self_times(spans: list[tuple]) -> dict[int, float]:
    """span id -> duration minus its direct children's durations."""
    own = {s[0]: s[5] - s[4] for s in spans}
    for s in spans:
        if s[1] in own:
            own[s[1]] -= s[5] - s[4]
    return own


def check_nesting(spans: list[tuple]) -> list[str]:
    """Problems with the span tree: a child not inside its parent, or a
    negative self time. Empty when the spans nest."""
    by_id = {s[0]: s for s in spans}
    bad = []
    for s in spans:
        p = by_id.get(s[1])
        if s[1] != -1 and p is None:
            bad.append(f"span {s[0]} ({s[3]}) has unknown parent {s[1]}")
        elif p is not None and not (p[4] <= s[4] <= s[5] <= p[5]):
            bad.append(f"span {s[0]} ({s[3]}) is outside parent {p[0]} ({p[3]})")
    for sid, own in self_times(spans).items():
        if own < -1e-6:
            bad.append(f"span {sid} ({by_id[sid][3]}) has self time {own:.6f}")
    return bad


def write_spans(path: str, spans: list[tuple]) -> None:
    with open(path, "w") as fh:
        for s in spans:
            fh.write(json.dumps(s) + "\n")
