"""Span recorder for the traced benchmark run.

Spans are recorded around calls into each layer's public functions by
patching those functions from the outside (nothing inside ``insar_spark``
is instrumented). A span holds its name, layer, start, end, parent span
and the id of the benchmark op it belongs to (``<workload>/<kind>-<n>`` for
timed ops, None for set-up, checks and probes); spans stay in memory and
are written out once, at the end of the run. The untraced run installs no
wrappers at all, and its tracer records nothing.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    op: str | None

    @property
    def dur(self) -> float:
        return self.end - self.start


def _tier_arg(args, kwargs) -> str:
    """The tier a TierStore method was called for (2nd positional of
    read_tier/read_tier_log, 1st of the rest)."""
    if "tier" in kwargs:
        return kwargs["tier"]
    for a in args[1:]:
        if isinstance(a, str):
            return a
    return "?"


# (module, attribute path, layer, span name suffix taken from the tier arg)
ENTRY_POINTS = [
    ("insar_spark.session", "get_spark", "session", False),
    ("jobs.rollup_job", "main", "jobs.rollup_job", False),
    ("insar_spark.operators.rollup", "rollup_turns", "operators.rollup", False),
    ("insar_spark.operators.rollup", "cascade", "operators.rollup", False),
    ("insar_spark.sources.catalog", "TierStore.write_tier", "sources.catalog", True),
    ("insar_spark.sources.catalog", "TierStore.write_tier_log", "sources.catalog", True),
    ("insar_spark.sources.catalog", "TierStore.read_tier", "sources.catalog", True),
    ("insar_spark.sources.catalog", "TierStore.read_tier_log", "sources.catalog", True),
    ("insar_spark.sources.catalog", "TierStore.expire", "sources.catalog", True),
    ("insar_spark.sources.catalog", "TierStore.drop_partitions", "sources.catalog", True),
    ("insar_spark.streaming.rollup_stream", "streaming_rollup_1m", "streaming.rollup_stream", False),
    ("insar_spark.streaming.rollup_stream", "stats_realtime_1h_view", "streaming.rollup_stream", False),
    ("insar_spark.streaming.rollup_stream", "realtime_1h_view", "streaming.rollup_stream", False),
    ("insar_spark.streaming.rollup_stream", "sealed_union_view", "streaming.rollup_stream", False),
    ("insar_spark.streaming.rollup_stream", "seal_and_compact", "streaming.rollup_stream", False),
    ("insar_spark.operators.compression", "compress_series", "operators.compression", False),
    ("insar_spark.operators.compression", "decompress_series", "operators.compression", False),
    ("insar_spark.operators.sbas", "invert_blobs", "operators.sbas", False),
    ("insar_spark.operators.gapfill", "resample_spline", "operators.gapfill", False),
    ("insar_spark.operators.gapfill", "observed_per_window", "operators.gapfill", False),
    ("insar_spark.operators.batched", "keyed_map", "operators.gapfill", False),
]

# entry points whose Spark job count is recorded per call (job group +
# status tracker)
JOB_COUNTED = {"write_tier", "write_tier_log"}


class Tracer:
    """In-memory span recorder; records only once ``install`` has run."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self.op: str | None = None
        # (span name, op id, Spark jobs launched) per call of the
        # JOB_COUNTED entry points
        self.jobs: list[tuple[str, str | None, int]] = []
        self._local = threading.local()  # per-thread stack of open spans
        self._ids = itertools.count()
        # seconds spent in the wrappers' own bookkeeping (tracing overhead)
        self.overhead_s = 0.0
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield sid
        finally:
            end = time.perf_counter()
            stack.pop()
            self.spans.append(Span(sid, name, layer, start, end, parent, self.op))

    def record(self, name: str, layer: str, start: float, end: float) -> None:
        """Add a root span timed elsewhere (e.g. work done in another
        thread)."""
        if self.enabled:
            sid = next(self._ids)
            self.spans.append(Span(sid, name, layer, start, end, None, self.op))

    def install(self) -> None:
        """Wrap every entry point in ENTRY_POINTS and start recording."""
        self.enabled = True
        for module, path, layer, by_tier in ENTRY_POINTS:
            owner = importlib.import_module(module)
            *outer, attr = path.split(".")
            for o in outer:
                owner = getattr(owner, o)
            orig = getattr(owner, attr)
            name = f"{layer}.{attr}"
            wrapped = self._wrap(orig, name, layer, by_tier, attr in JOB_COUNTED)
            setattr(owner, attr, wrapped)
            self._patched.append((owner, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def _wrap(self, fn, name: str, layer: str, by_tier: bool, count_jobs: bool):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            full = f"{name}.{_tier_arg(args, kwargs)}" if by_tier else name
            with self.span(full, layer) as sid:
                if count_jobs:
                    return self._count_jobs(full, sid, fn, args, kwargs, t0)
                self.overhead_s += time.perf_counter() - t0
                return fn(*args, **kwargs)

        return wrapper

    def _count_jobs(self, name: str, sid: int, fn, args, kwargs, t0: float):
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        group = f"perfbench-span-{sid}"
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(group, name)
        t1 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            t2 = time.perf_counter()
            n = len(sc.statusTracker().getJobIdsForGroup(group))
            self.jobs.append((name, self.op, n))
            sc.setLocalProperty("spark.jobGroup.id", prev)
            self.overhead_s += (t1 - t0) + (time.perf_counter() - t2)

    # ---------------------------------------------------------- analysis

    def durations(self, name: str) -> list[float]:
        """Durations of every span called ``name``."""
        return [s.dur for s in self.spans if s.name == name]

    def self_time_by_layer(self, spans: list[Span]) -> dict[str, float]:
        """Per layer: time of ``spans`` minus the time their direct
        children cover (calls are synchronous, so children nest and never
        overlap; a span's children belong to its op)."""
        child = {s.id: 0.0 for s in spans}
        for s in spans:
            if s.parent in child:
                child[s.parent] += s.dur
        out: dict[str, float] = {}
        for s in spans:
            out[s.layer] = out.get(s.layer, 0.0) + s.dur - child[s.id]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")
