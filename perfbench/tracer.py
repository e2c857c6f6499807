"""Per-layer tracing, applied from outside the engine.

A :class:`Tracer` wraps the public functions of the engine's modules and
the registry's query builders, records a span around every call, and
tags the Spark work each call launches with a job group of its own. After
each operation it reads the task metrics of those job groups from the
driver's status store and folds them into per-layer numbers.

Nothing here changes what the engine computes; an untraced run uses
:class:`NullTracer`, whose spans cost one context-manager entry.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import itertools
import os
import sys
import time
from dataclasses import dataclass, field

from pyspark import SparkContext

PACKAGE = "bigdata_electricity_spark"

# Layer name -> modules whose public functions the layer's spans wrap.
# ``functions/`` only builds Column expressions and ``streaming/`` is a
# test-harness memory sink, so neither is a layer here.
LAYER_MODULES: dict[str, tuple[str, ...]] = {
    "sources": (f"{PACKAGE}.sources.loaders",),
    "sinks": (f"{PACKAGE}.sources.sinks",),
    "operators.cleaning": (f"{PACKAGE}.operators.cleaning",),
    "operators.reduction": (f"{PACKAGE}.operators.reduction",),
    "operators.transformation": (f"{PACKAGE}.operators.transformation",),
    "ml.regression": (f"{PACKAGE}.ml.regression",),
    "operators.text": (f"{PACKAGE}.operators.text",),
    "operators.dedup": (f"{PACKAGE}.operators.dedup",),
    "operators.similarity": (f"{PACKAGE}.operators.similarity",),
}
WORK_LAYERS = ("operators.cleaning", "operators.reduction",
               "operators.transformation", "ml.regression")
CALL_LAYERS = ("operators.text", "operators.dedup", "operators.similarity")
MB = 1024.0 * 1024.0

_STAGE_FIELDS = ("tasks", "failed_tasks", "executor_run_s", "executor_cpu_s",
                 "input_bytes", "input_rows", "output_bytes", "shuffle_write_bytes",
                 "shuffle_read_bytes", "spill_bytes", "gc_s")


def per_layer_names() -> list[str]:
    """Every per-layer metric a traced run reports, in report order."""
    names = ["session.start_s", "session.warmup_s", "plans.build_s", "plans.eager_jobs",
             "sources.call_s", "sources.eager_jobs", "sources.input_mb",
             "sources.input_rows", "sources.scan_amplification",
             "sinks.call_s", "sinks.output_mb"]
    for layer in WORK_LAYERS:
        names += [f"{layer}.{m}" for m in
                  ("call_s", "jobs", "tasks", "executor_run_s", "shuffle_write_mb")]
    for layer in CALL_LAYERS:
        names += [f"{layer}.call_s", f"{layer}.jobs"]
    names += [f"exec.{m}" for m in
              ("s", "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
               "offcpu_s", "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "gc_s",
               "failed_tasks", "result_rows")]
    names.append("trace.overhead_s")
    return names


@dataclass
class Span:
    id: int
    layer: str
    name: str
    parent: Span | None
    start: float
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)

    @property
    def group(self) -> str:
        return f"perfbench-{os.getpid()}-{self.id}"

    def has_ancestor_in(self, layer: str) -> bool:
        p = self.parent
        while p is not None:
            if p.layer == layer:
                return True
            p = p.parent
        return False


class NullTracer:
    """Tracer stand-in for untraced runs."""

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        yield


class Tracer:
    """Spans plus job-group task metrics for one traced phase."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self._ids = itertools.count(1)
        self._stack: list[Span] = []
        self.spans: list[Span] = []
        self.files_read: set[str] = set()
        self._patched: list[tuple[object, str, object]] = []

    # -- spans -----------------------------------------------------------

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        sc = SparkContext._active_spark_context
        parent = self._stack[-1] if self._stack else None
        sp = Span(next(self._ids), layer, name, parent, time.perf_counter())
        prev_group = sc.getLocalProperty("spark.jobGroup.id")
        sc.setLocalProperty("spark.jobGroup.id", sp.group)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            self._stack.pop()
            sc.setLocalProperty("spark.jobGroup.id", prev_group)
            sp.end = time.perf_counter()
            self.spans.append(sp)

    def _wrap(self, layer: str, fn, name: str):
        tracer = self
        sig = inspect.signature(fn) if layer == "sources" else None

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if sig is not None:
                tracer._note_files(sig, args, kwargs)
            with tracer.span(layer, name):
                return fn(*args, **kwargs)

        return traced

    def _note_files(self, sig, args, kwargs) -> None:
        """Remember the files a source call reads (for scan amplification)."""
        try:
            bound = sig.bind(*args, **kwargs).arguments
        except TypeError:
            return
        if "sf_dir" in bound and "name" in bound:
            self.files_read.add(f"{bound['sf_dir']}/{bound['name']}.parquet")
        elif isinstance(bound.get("path"), str):
            self.files_read.add(bound["path"])

    # -- installing wrappers ---------------------------------------------

    def install(self) -> None:
        """Wrap every layer's public functions wherever the engine bound them."""
        originals = {}
        for layer, modules in LAYER_MODULES.items():
            for mod_name in modules:
                mod = sys.modules[mod_name]
                for attr, val in vars(mod).items():
                    if (inspect.isfunction(val) and not attr.startswith("_")
                            and val.__module__ == mod_name):
                        originals[val] = self._wrap(layer, val, f"{mod_name.rsplit('.', 1)[1]}.{attr}")
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(PACKAGE):
                continue
            for attr, val in list(vars(mod).items()):
                if inspect.isfunction(val) and val in originals:
                    self._patch(mod, attr, originals[val])

        from bigdata_electricity_spark.plans import REGISTRY

        for spec in REGISTRY.values():
            self._patch(spec, "fn", self._wrap("plans", spec.fn, spec.name))
        # spark.sql is the other way a plan gets built (the pipeline's Q1-Q5).
        self._patch(self.spark, "sql", self._wrap("plans", self.spark.sql, "spark.sql"))

    def _patch(self, owner, attr: str, new) -> None:
        self._patched.append((owner, attr, owner.__dict__.get(attr, _MISSING)))
        setattr(owner, attr, new)

    def uninstall(self) -> None:
        for owner, attr, old in reversed(self._patched):
            if old is _MISSING:
                delattr(owner, attr)
            else:
                setattr(owner, attr, old)
        self._patched.clear()

    # -- reading Spark work per op ---------------------------------------

    def take_op(self) -> dict[str, float]:
        """Fold the spans recorded since the last call into per-layer
        numbers for one operation, reading task metrics by job group."""
        spans, self.spans = self.spans, []
        files, self.files_read = self.files_read, set()
        sc = SparkContext._active_spark_context
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = sc.statusTracker()

        own: dict[int, dict[str, float]] = {}
        for sp in spans:
            sp.jobs = list(tracker.getJobIdsForGroup(sp.group))
            own[sp.id] = _jobs_metrics(store, sp.jobs)
        inclusive = {sp.id: dict(own[sp.id]) for sp in spans}
        # spans are appended on exit, so children precede their parents
        for sp in spans:
            if sp.parent is not None:
                _add(inclusive[sp.parent.id], inclusive[sp.id])

        def layer_total(layer: str) -> dict[str, float]:
            tot = _zero()
            tot["call_s"] = 0.0
            for sp in spans:
                if sp.layer == layer and not sp.has_ancestor_in(layer):
                    _add(tot, inclusive[sp.id])
                    tot["call_s"] += sp.end - sp.start
            return tot

        everything = _zero()
        for sp in spans:
            _add(everything, own[sp.id])

        out: dict[str, float] = {}
        plans = layer_total("plans")
        out["plans.build_s"] = plans["call_s"]
        out["plans.eager_jobs"] = plans["jobs"]
        src = layer_total("sources")
        out["sources.call_s"] = src["call_s"]
        out["sources.eager_jobs"] = src["jobs"]
        out["sources.input_mb"] = everything["input_bytes"] / MB
        out["sources.input_rows"] = everything["input_rows"]
        on_disk = sum(_disk_bytes(p) for p in files)
        out["sources.scan_amplification"] = (
            everything["input_bytes"] / on_disk if on_disk else 0.0)
        sinks = layer_total("sinks")
        out["sinks.call_s"] = sinks["call_s"]
        out["sinks.output_mb"] = sinks["output_bytes"] / MB
        for layer in WORK_LAYERS:
            t = layer_total(layer)
            out[f"{layer}.call_s"] = t["call_s"]
            out[f"{layer}.jobs"] = t["jobs"]
            out[f"{layer}.tasks"] = t["tasks"]
            out[f"{layer}.executor_run_s"] = t["executor_run_s"]
            out[f"{layer}.shuffle_write_mb"] = t["shuffle_write_bytes"] / MB
        for layer in CALL_LAYERS:
            t = layer_total(layer)
            out[f"{layer}.call_s"] = t["call_s"]
            out[f"{layer}.jobs"] = t["jobs"]
        ex = layer_total("exec")
        out["exec.s"] = ex["call_s"]
        for m in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
                  "gc_s", "failed_tasks"):
            out[f"exec.{m}"] = ex[m]
        out["exec.offcpu_s"] = ex["executor_run_s"] - ex["executor_cpu_s"]
        out["exec.shuffle_write_mb"] = ex["shuffle_write_bytes"] / MB
        out["exec.shuffle_read_mb"] = ex["shuffle_read_bytes"] / MB
        out["exec.spill_mb"] = ex["spill_bytes"] / MB
        return out


_MISSING = object()


def _zero() -> dict[str, float]:
    return {"jobs": 0.0, "stages": 0.0, **{f: 0.0 for f in _STAGE_FIELDS}}


def _add(into: dict[str, float], other: dict[str, float]) -> None:
    for k, v in other.items():
        if k != "call_s":
            into[k] = into.get(k, 0.0) + v


def _jobs_metrics(store, job_ids: list[int]) -> dict[str, float]:
    """Task metrics summed over the stages that ran for ``job_ids``.

    With adaptive execution a job's reused stages get fresh ids and are
    recorded as skipped with empty metrics, so summing every stage id of
    every job counts each task once."""
    tot = _zero()
    for jid in job_ids:
        tot["jobs"] += 1
        stage_ids = store.job(jid).stageIds()
        for i in range(stage_ids.size()):
            sd = store.lastStageAttempt(stage_ids.apply(i))
            if str(sd.status()) == "SKIPPED":
                continue
            tot["stages"] += 1
            tot["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
            tot["failed_tasks"] += sd.numFailedTasks()
            tot["executor_run_s"] += sd.executorRunTime() / 1e3
            tot["executor_cpu_s"] += sd.executorCpuTime() / 1e9
            tot["input_bytes"] += sd.inputBytes()
            tot["input_rows"] += sd.inputRecords()
            tot["output_bytes"] += sd.outputBytes()
            tot["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            tot["shuffle_read_bytes"] += sd.shuffleReadBytes()
            tot["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            tot["gc_s"] += sd.jvmGcTime() / 1e3
    return tot


def _disk_bytes(path: str) -> int:
    if os.path.isdir(path):
        return sum(os.path.getsize(os.path.join(r, f))
                   for r, _, fs in os.walk(path) for f in fs)
    return os.path.getsize(path) if os.path.exists(path) else 0
