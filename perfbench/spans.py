"""Spans and Spark counters for the traced run.

Spans are recorded from the benchmark's side of each layer boundary:

- every public function of ``flink_quickstart_spark.operators.*`` and
  ``flink_quickstart_spark.sources.*`` is replaced by a wrapper before the
  plan modules import it (``install``), so plan builders call the wrapped
  versions;
- the closed loop and the stream phases open their own spans around
  builder calls, collects and pipeline construction.

A span's self time is its duration minus the time its child spans
cover. Jobs launched inside a span are counted from the job group the
closed loop sets for each key execution. Per-stage counters come from
Spark's status store (``lastStageAttempt``), which is kept with the UI
off. Spans stay in memory and are summarised when the run ends.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import pkgutil
import sys
import time
from dataclasses import dataclass, field

PACKAGE = "flink_quickstart_spark"
WRAPPED_PACKAGES = ("operators", "sources")


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    jobs: int = 0
    children: list["Span"] = field(default_factory=list)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1e3

    @property
    def self_ms(self) -> float:
        return self.ms - sum(c.ms for c in self.children)

    @property
    def self_jobs(self) -> int:
        return self.jobs - sum(c.jobs for c in self.children)


class Tracer:
    """In-memory span recorder. Disabled, a wrapped function costs one
    attribute check."""

    def __init__(self) -> None:
        self.enabled = False
        self.roots: list[Span] = []
        self._stack: list[Span] = []
        self._job_count = lambda: 0

    def set_job_counter(self, fn) -> None:
        self._job_count = fn

    def open(self, name: str) -> Span:
        span = Span(name, time.perf_counter())
        span.jobs = -self._job_count()
        (self._stack[-1].children if self._stack else self.roots).append(span)
        self._stack.append(span)
        return span

    def close(self, span: Span) -> None:
        span.jobs += self._job_count()
        span.end = time.perf_counter()
        self._stack.pop()

    def span(self, name: str):
        return _SpanContext(self, name)

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            span = self.open(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.close(span)

        return traced

    def walk(self):
        todo = list(self.roots)
        while todo:
            s = todo.pop()
            todo.extend(s.children)
            yield s

    def reset(self) -> None:
        self.roots.clear()


class _SpanContext:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self.tracer, self.name = tracer, name
        self.span: Span | None = None

    def __enter__(self):
        if self.tracer.enabled:
            self.span = self.tracer.open(self.name)
        return self

    def __exit__(self, *exc):
        if self.span is not None:
            self.tracer.close(self.span)


TRACER = Tracer()


def install(tracer: Tracer = TRACER) -> None:
    """Wrap the public functions of the operator and source modules, as
    spans named ``<layer>.<module>.<function>``, and rebind every
    reference the package already holds to them. Must run before
    ``flink_quickstart_spark.plans`` is imported."""
    originals: dict[int, object] = {}
    for layer in WRAPPED_PACKAGES:
        pkg = importlib.import_module(f"{PACKAGE}.{layer}")
        for info in pkgutil.iter_modules(pkg.__path__):
            mod = importlib.import_module(f"{pkg.__name__}.{info.name}")
            for attr, obj in list(vars(mod).items()):
                if (attr.startswith("_") or not inspect.isfunction(obj)
                        or obj.__module__ != mod.__name__):
                    continue
                wrapped = tracer.wrap(obj, f"{layer}.{info.name}.{attr}")
                originals[id(obj)] = wrapped
                setattr(mod, attr, wrapped)
    for modname, mod in list(sys.modules.items()):
        if mod is None or not modname.startswith(PACKAGE):
            continue
        for attr, obj in list(vars(mod).items()):
            if id(obj) in originals and inspect.isfunction(obj):
                setattr(mod, attr, originals[id(obj)])


COUNTERS = ("jobs", "stages", "tasks", "cpu_ms", "gc_ms", "shuffle_bytes",
            "spill_bytes", "input_bytes")


class SparkCounters:
    """Job, stage and task counters of one job group, read from the
    status store after the group's jobs have finished."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store holds the finished jobs."""
        try:
            self._jsc.listenerBus().waitUntilEmpty(10_000)
        except Exception:  # noqa: BLE001 — best effort: counters may lag
            pass

    def job_ids(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def group(self, group: str) -> dict[str, float]:
        self.drain()
        out = dict.fromkeys(COUNTERS, 0.0)
        jobs = self.job_ids(group)
        out["jobs"] = float(len(jobs))
        store = self._jsc.statusStore()
        stage_ids = set()
        for jid in jobs:
            info = self.sc.statusTracker().getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in stage_ids:
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — skipped stage: no attempt
                continue
            out["stages"] += 1
            out["tasks"] += sd.numTasks()
            out["cpu_ms"] += sd.executorCpuTime() / 1e6
            out["gc_ms"] += sd.jvmGcTime()
            out["shuffle_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            out["input_bytes"] += sd.inputBytes()
        return out
