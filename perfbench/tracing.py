"""Layer tracing from outside the package.

:class:`Tracer` wraps the public functions of each ``gofast_spark``
layer and rebinds every alias of the same function object across the
``gofast_spark.*`` module namespaces (and the catalog's ``QUERIES``
registry, whose entries are the request roots).  Each call records a
span (name, layer, start, end, parent, query) and, on the driver thread,
sets a job group naming the span, so every Spark job the call submits is
attributed to the innermost open span.  Jobs a structured stream submits
run under the stream's own ``runId`` group; they are attributed to the
innermost driver-thread span open when they were submitted, which is the
call that started and drained the stream.

:class:`StreamProgress` is a ``StreamingQueryListener`` that keeps the
per-micro-batch progress reports.

Setting a job group submits no job, so a traced run must run exactly
the Spark jobs an untraced run does; the harness checks that.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import pkgutil
import sys
import threading
import time
from collections import Counter, defaultdict
from dataclasses import dataclass

from pyspark.sql.streaming import StreamingQueryListener

LAYERS = (
    "plans", "sources", "operators", "functions", "quality", "stats", "ts",
    "text", "dedup", "sim", "ml", "metrics", "multimodal", "streaming", "sql",
)
LAYER_FIELDS = ("calls", "self_s", "jobs", "driver_s")
SINK = "sink"


def import_all() -> list:
    """Import every ``gofast_spark`` module, so lazily imported functions
    exist (and can be rebound) before the first query runs."""
    import gofast_spark

    for info in pkgutil.walk_packages(gofast_spark.__path__, "gofast_spark."):
        importlib.import_module(info.name)
    return [m for n, m in sorted(sys.modules.items())
            if n == "gofast_spark" or n.startswith("gofast_spark.")]


@dataclass(slots=True)
class Span:
    sid: int
    name: str
    layer: str
    parent: int | None
    query: str
    group: str | None  # job group set while open; None off the driver thread
    t0: float
    t1: float = 0.0


class Tracer:
    """Wraps the layers' public functions; see the module docstring."""

    def __init__(self, spark, modules: list):
        self._jsc = spark.sparkContext._jsc
        self._modules = modules
        self._driver = threading.get_ident()
        self._local = threading.local()
        self._rebound: list[tuple[object, str, object]] = []
        self.spans: list[Span] = []
        self.wrapped: Counter = Counter()
        self.query = ""
        self.base_group = ""

    # -- installation -------------------------------------------------
    def install(self, registry: dict) -> None:
        """Wrap the public functions, and the public methods of public
        classes, defined in each layer's modules."""
        wrappers: dict[int, object] = {}
        for mod in self._modules:
            parts = mod.__name__.split(".")
            if len(parts) < 2 or parts[1] not in LAYERS:
                continue
            for name, obj in list(vars(mod).items()):
                if name.startswith("_") or getattr(
                    obj, "__module__", None
                ) != mod.__name__:
                    continue
                if inspect.isclass(obj):
                    for attr, fn in list(vars(obj).items()):
                        if not attr.startswith("_") and _traceable(fn):
                            self._rebound.append((obj, attr, fn))
                            setattr(obj, attr, self._wrap(fn, parts[1]))
                            self.wrapped[parts[1]] += 1
                elif _traceable(obj) and id(obj) not in wrappers:
                    wrappers[id(obj)] = self._wrap(obj, parts[1])
                    self.wrapped[parts[1]] += 1
        for mod in self._modules:
            for name, obj in list(vars(mod).items()):
                if id(obj) in wrappers and inspect.isfunction(obj):
                    self._rebound.append((mod, name, obj))
                    setattr(mod, name, wrappers[id(obj)])
        for name, fn in list(registry.items()):
            if id(fn) in wrappers:
                self._rebound.append((registry, name, fn))
                registry[name] = wrappers[id(fn)]

    def uninstall(self) -> None:
        for ns, name, obj in reversed(self._rebound):
            if isinstance(ns, dict):
                ns[name] = obj
            else:
                setattr(ns, name, obj)
        self._rebound.clear()

    def missing_layers(self) -> list[str]:
        return [layer for layer in LAYERS if not self.wrapped[layer]]

    # -- spans --------------------------------------------------------
    def _stack(self) -> list[Span]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def _open(self, name: str, layer: str) -> Span:
        stack = self._stack()
        on_driver = threading.get_ident() == self._driver
        sid = len(self.spans)
        span = Span(
            sid, name, layer, stack[-1].sid if stack else None, self.query,
            f"{self.base_group}|{sid}" if on_driver else None, time.time(),
        )
        self.spans.append(span)
        stack.append(span)
        if on_driver:
            self._jsc.setJobGroup(span.group, name, False)
        return span

    def _close(self, span: Span) -> None:
        span.t1 = time.time()
        stack = self._stack()
        stack.pop()
        if span.group is not None:
            outer = stack[-1].group if stack else self.base_group
            self._jsc.setJobGroup(outer, self.query, False)

    def _wrap(self, fn, layer: str):
        name = f"{fn.__module__}.{fn.__qualname__}"

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span = self._open(name, layer)
            try:
                return fn(*args, **kwargs)
            finally:
                self._close(span)

        return traced

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        """A span opened by the harness itself."""
        span = self._open(name, layer)
        try:
            yield span
        finally:
            self._close(span)


def _traceable(obj) -> bool:
    return inspect.isfunction(obj) and not inspect.isgeneratorfunction(obj)


class StreamProgress(StreamingQueryListener):
    """Keeps every micro-batch progress report until :meth:`take`."""

    def __init__(self):
        self._lock = threading.Lock()
        self._events: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        row = {
            "run_id": str(p.runId),
            "batch": p.batchId,
            "input_rows": p.numInputRows,
            "trigger_ms": p.durationMs.get("triggerExecution", 0),
            "wal_ms": p.durationMs.get("walCommit", 0),
            "state_rows": sum(op.numRowsTotal for op in p.stateOperators),
        }
        with self._lock:
            self._events.append(row)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def take(self) -> list[dict]:
        with self._lock:
            events, self._events = self._events, []
        return events


def streaming_metrics(events: list[dict]) -> dict[str, float]:
    last_state: dict[str, int] = {}
    for e in events:
        last_state[e["run_id"]] = e["state_rows"]
    return {
        "streaming.batches": float(len(events)),
        "streaming.input_rows": float(sum(e["input_rows"] for e in events)),
        "streaming.trigger_s": sum(e["trigger_ms"] for e in events) / 1e3,
        "streaming.wal_commit_s": sum(e["wal_ms"] for e in events) / 1e3,
        "streaming.state_rows": float(sum(last_state.values())),
    }


# -- attribution ------------------------------------------------------
def parse_group(group: str | None) -> tuple[str | None, int | None]:
    """(query, span id) named by a harness job group
    ``pb|<pass>|<query>[|<span>]``; (None, None) for any other group,
    such as a stream's runId."""
    if not group or not group.startswith("pb|"):
        return None, None
    parts = group.split("|")
    return parts[2], int(parts[3]) if len(parts) > 3 else None


def assign_jobs(jobs: list[dict], windows: dict[str, tuple[float, float]],
                spans: list[Span] = ()) -> dict[int, tuple[str | None, int | None]]:
    """jobId -> (query, span id).  Harness groups name both directly; a
    job under any other group (a stream's runId) belongs to the query
    whose run window holds its submission time and to the innermost
    driver-thread span of that query open at that time."""
    by_query = defaultdict(list)
    for s in spans:
        if s.group is not None:
            by_query[s.query].append(s)
    out = {}
    for j in jobs:
        query, sid = parse_group(j.get("jobGroup"))
        if query is None:
            t = j["submissionTime"] / 1e3
            query = next(
                (q for q, (a, b) in windows.items() if a <= t <= b), None
            )
            open_spans = [
                s for s in by_query.get(query, ()) if s.t0 <= t <= s.t1
            ]
            if open_spans:
                sid = max(open_spans, key=lambda s: s.t0).sid
        out[j["jobId"]] = (query, sid)
    return out


def _subtract(intervals, cuts):
    """Parts of ``intervals`` not covered by ``cuts`` (both (a, b) lists)."""
    out = []
    cuts = sorted(cuts)
    for a, b in intervals:
        cur = a
        for c, d in cuts:
            if d <= cur or c >= b:
                continue
            if c > cur:
                out.append((cur, c))
            cur = max(cur, d)
        if cur < b:
            out.append((cur, b))
    return out


def _length(intervals) -> float:
    return sum(b - a for a, b in intervals)


def layer_metrics(spans: list[Span], jobs: list[dict],
                  owner: dict[int, tuple[str | None, int | None]]) -> dict:
    """Per-layer calls, self time, jobs and driver time.  Self time is a
    span's duration minus what its child spans cover; driver time is the
    part of the self time during which none of the span's own jobs ran."""
    children = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.t0, s.t1))
    job_iv = defaultdict(list)
    for j in jobs:
        sid = owner[j["jobId"]][1]
        if sid is not None:
            end = j.get("completionTime") or j["submissionTime"]
            job_iv[sid].append((j["submissionTime"] / 1e3, end / 1e3))
    out = {f"{layer}.{f}": 0.0 for layer in (*LAYERS, SINK)
           for f in LAYER_FIELDS}
    for s in spans:
        own = _subtract([(s.t0, s.t1)], children[s.sid])
        out[f"{s.layer}.calls"] += 1
        out[f"{s.layer}.self_s"] += _length(own)
        out[f"{s.layer}.jobs"] += len(job_iv[s.sid])
        out[f"{s.layer}.driver_s"] += _length(_subtract(own, job_iv[s.sid]))
    return out
