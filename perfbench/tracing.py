"""Spans and counters recorded from the benchmark's side of each call.

A ``Tracer`` keeps spans in memory (name, start, end, parent, request id)
and writes them out once, when the run ends.  Spans that call into Spark
tag their jobs with ``setJobGroup``; ``spark_stage_metrics`` then reads the
tagged jobs' stage metrics from Spark's status store.  ``Tracer(None)`` is
the untraced mode: ``span`` still runs the body but records nothing.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from dataclasses import asdict, dataclass, field

STAGE_FIELDS = ("tasks", "executor_run_s", "executor_cpu_s", "gc_s",
                "shuffle_write_bytes", "spill_bytes", "wait_s", "input_bytes")


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    request: int
    id: int
    spark: dict[str, float] = field(default_factory=dict)
    attrs: dict[str, float] = field(default_factory=dict)


class Tracer:
    """Records spans when ``enabled``; a no-op context otherwise."""

    def __init__(self, spark=None, cores: int = 1) -> None:
        self.spark = spark
        self.cores = cores
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.request = 0

    @contextlib.contextmanager
    def span(self, name: str, layer: str, *, spark_group: bool = False):
        """Time the body as one span.  With ``spark_group`` the body's Spark
        jobs carry a job group named after the span, and the span gets the
        stage metrics of those jobs."""
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        sp = Span(name, layer, time.perf_counter(), 0.0,
                  self._stack[-1] if self._stack else None, self.request, sid)
        self.spans.append(sp)
        self._stack.append(sid)
        group = f"perfbench-{sid}"
        sc = self.spark.sparkContext if spark_group else None
        if sc is not None:
            sc.setJobGroup(group, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                sc.setJobGroup("perfbench-untagged", "untagged")
                sp.spark = spark_stage_metrics(sc, group, self.cores)

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part its child spans cover."""
        covered: dict[int, float] = {}
        for sp in self.spans:
            if sp.parent is not None:
                covered[sp.parent] = covered.get(sp.parent, 0.0) + (sp.end - sp.start)
        return {sp.id: (sp.end - sp.start) - covered.get(sp.id, 0.0) for sp in self.spans}

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        selfs = self.self_times()
        with open(path, "w") as fh:
            for sp in self.spans:
                rec = asdict(sp) | {"self_s": selfs[sp.id]}
                fh.write(json.dumps(rec, sort_keys=True) + "\n")


def spark_stage_metrics(sc, group: str, cores: int) -> dict[str, float]:
    """Sum the stage metrics of every job tagged with ``group``.

    ``wait_s`` is stage wall time times the cores minus the executor run
    time: core time the stage held but did not run a task."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    out = dict.fromkeys(STAGE_FIELDS, 0.0)
    out["jobs"] = 0.0
    seen: set[int] = set()
    for job_id in sc.statusTracker().getJobIdsForGroup(group):
        out["jobs"] += 1
        it = store.job(job_id).stageIds().iterator()
        while it.hasNext():
            sid = it.next()
            if sid in seen:
                continue
            seen.add(sid)
            st = store.lastStageAttempt(sid)
            if st.status().toString() != "COMPLETE":
                continue  # skipped stages reuse earlier shuffle output
            run_s = st.executorRunTime() / 1e3
            out["tasks"] += st.numCompleteTasks()
            out["executor_run_s"] += run_s
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["gc_s"] += st.jvmGcTime() / 1e3
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            out["input_bytes"] += st.inputBytes()
            sub, done = st.submissionTime(), st.completionTime()
            if sub.isDefined() and done.isDefined():
                wall_s = (done.get().getTime() - sub.get().getTime()) / 1e3
                out["wait_s"] += max(0.0, wall_s * cores - run_s)
    return out


class CallCounter:
    """Counts calls to the methods of one object by wrapping them on the
    instance (defaults bound at import time keep pointing at the instance)."""

    def __init__(self, obj, methods: tuple[str, ...]) -> None:
        self.obj = obj
        self.count = 0
        self._methods = methods
        for m in methods:
            setattr(obj, m, self._wrap(getattr(obj, m)))

    def _wrap(self, fn):
        def counted(*a, **k):
            self.count += 1
            return fn(*a, **k)
        return counted

    def restore(self) -> None:
        for m in self._methods:
            delattr(self.obj, m)


class SnapshotCounter:
    """Wraps ``realparse_spark.cache.snapshot_path`` (and the modules that
    bound it at import) to count snapshot builds and cache hits."""

    def __init__(self, tracer: Tracer) -> None:
        import importlib

        self.tracer = tracer
        self.calls = 0
        self.builds = 0
        self.build_s = 0.0
        cache = importlib.import_module("realparse_spark.cache")
        self._orig = cache.snapshot_path
        self._patched = []
        for modname in ("realparse_spark.cache", "realparse_spark.operators.dedup"):
            mod = importlib.import_module(modname)
            if getattr(mod, "snapshot_path", None) is self._orig:
                setattr(mod, "snapshot_path", self._wrapped)
                self._patched.append(mod)

    @property
    def hits(self) -> int:
        return self.calls - self.builds

    def _wrapped(self, cache, key, prefix, build):
        self.calls += 1

        def timed_build(tmp):
            with self.tracer.span(f"cache.build.{prefix.rstrip('_')}", "cache"):
                t = time.perf_counter()
                try:
                    build(tmp)
                finally:
                    self.builds += 1
                    self.build_s += time.perf_counter() - t

        return self._orig(cache, key, prefix, timed_build)

    def restore(self) -> None:
        for mod in self._patched:
            setattr(mod, "snapshot_path", self._orig)
