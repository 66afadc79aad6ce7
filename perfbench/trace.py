"""Spans around calls into the program's layers, recorded from the
benchmark's side.

``Tracer.install()`` re-binds every public function of each traced
module to a wrapper, in the defining module and in every program module
that imported it by name (``plans.gem`` calls ``K.harmonize_coordinates``
through the module but ``join_lookup_dim`` through its own namespace).
A wrapper records a span (name, layer, start, end, parent, workload,
run) in memory and tags the Spark jobs launched inside the call with a
job group, read back with the status tracker. Self time is a span's
duration minus the part its child spans cover.

Calls that map a DataFrame to a DataFrame in the operator layers also
keep their input and output frames, so ``attribute_exec`` can time each
operator as a prefix difference: the noop-sink time of the plan ending
at the operator's output minus that of the plan ending at its input.
"""

from __future__ import annotations

import functools
import inspect
import itertools
import json
import os
import statistics
import sys
import threading
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

PKG = "gem_data_wrangle_spark"

# layer name -> modules whose public functions are wrapped
LAYERS = {
    "plans.gem": ["plans.gem"],
    "plans.corpus": ["plans.corpus"],
    "functions": ["functions.cleaning", "functions.strings", "functions.conditional"],
    "operators.kernels": ["operators.kernels"],
    "operators.aggregates": ["operators.aggregates"],
    "operators.joins": ["operators.joins"],
    "operators.textops": ["operators.textops"],
    "operators.sampling": ["operators.sampling"],
    "operators.dedup": ["operators.dedup"],
    "operators.graph": ["operators.graph"],
    "streaming.screening": ["streaming.screening"],
    "sources": ["sources.io"],
}
# layers whose DataFrame->DataFrame calls get a prefix-difference exec time
EXEC_LAYERS = ("operators.kernels", "operators.aggregates", "operators.joins",
               "operators.textops", "operators.sampling", "operators.dedup")
# layers that only build Column/DataFrame expressions: no job tagging
NO_JOBS = ("functions",)


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    workload: str = ""
    run: int = 0
    group: str | None = None
    children_s: float = 0.0
    jobs: int = 0
    frames: tuple = ()
    extra: dict = field(default_factory=dict)

    @property
    def self_s(self) -> float:
        return self.end - self.start - self.children_s


class Tracer:
    def __init__(self, spark, workload: str, pre_probes: dict | None = None):
        self.sc = spark.sparkContext
        self.workload = workload
        self.run = 0
        self.spans: list[Span] = []
        self.recording = False
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._restore: list[tuple[object, str, object]] = []
        # qualname -> cheap callable(span, args, kwargs) run before the
        # call, for state the call destroys (compaction's inputs)
        self.pre_probes = pre_probes or {}

    # ---------------------------------------------------------------
    def install(self) -> None:
        wrapped = {}
        for layer, mods in LAYERS.items():
            for mod_name in mods:
                mod = sys.modules[f"{PKG}.{mod_name}"]
                for name, fn in vars(mod).items():
                    if (name.startswith("_") or not inspect.isfunction(fn)
                            or fn.__module__ != mod.__name__):
                        continue
                    wrapped[fn] = self._wrap(fn, layer, f"{mod_name}.{name}")
        for mod_name, mod in list(sys.modules.items()):
            if not (mod_name == PKG or mod_name.startswith(PKG + ".")):
                continue
            for attr, val in list(vars(mod).items()):
                if inspect.isfunction(val) and val in wrapped:
                    self._restore.append((mod, attr, val))
                    setattr(mod, attr, wrapped[val])

    def uninstall(self) -> None:
        for mod, attr, val in reversed(self._restore):
            setattr(mod, attr, val)
        self._restore.clear()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _wrap(self, fn, layer: str, qualname: str):
        tracer = self
        tag_jobs = layer not in NO_JOBS
        keep_frames = layer in EXEC_LAYERS

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.recording:
                return fn(*args, **kwargs)
            stack = tracer._stack()
            parent = stack[-1] if stack else None
            span = Span(next(tracer._ids), qualname, layer, time.perf_counter(),
                        parent=parent.id if parent else None,
                        workload=tracer.workload, run=tracer.run)
            probe = tracer.pre_probes.get(qualname)
            if probe is not None:
                probe(span, args, kwargs)
            if tag_jobs:
                span.group = f"pb-{span.id}"
                tracer.sc.setLocalProperty("spark.jobGroup.id", span.group)
            stack.append(span)
            try:
                result = fn(*args, **kwargs)
            finally:
                span.end = time.perf_counter()
                stack.pop()
                if parent is not None:
                    parent.children_s += span.end - span.start
                if tag_jobs:
                    tracer.sc.setLocalProperty(
                        "spark.jobGroup.id", _enclosing_group(stack))
                tracer.spans.append(span)
            if keep_frames and isinstance(result, DataFrame) and args \
                    and isinstance(args[0], DataFrame) \
                    and threading.current_thread() is threading.main_thread():
                span.frames = (args[0], result)
            span.extra["args"] = args
            return result

        return wrapper

    # ---------------------------------------------------------------
    def count_jobs(self) -> None:
        st = self.sc.statusTracker()
        for s in self.spans:
            if s.group is not None:
                s.jobs = len(st.getJobIdsForGroup(s.group))

    def attribute_exec(self) -> dict[str, float]:
        """Prefix-difference exec seconds per layer over the recorded
        DataFrame->DataFrame operator calls of the last traced op."""
        timed: dict[int, float] = {}

        def noop(df: DataFrame) -> float:
            if id(df) not in timed:
                t0 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                timed[id(df)] = time.perf_counter() - t0
            return timed[id(df)]

        by_id = {s.id: s for s in self.spans}

        def nested_in_own_layer(s: Span) -> bool:
            p = by_id.get(s.parent)
            while p is not None:
                if p.layer == s.layer:
                    return True
                p = by_id.get(p.parent)
            return False

        self.sc.setLocalProperty("spark.jobGroup.id", "pb-attribution")
        out = {layer: 0.0 for layer in EXEC_LAYERS}
        for s in self.spans:
            if s.frames and s.run == self.run and not nested_in_own_layer(s):
                before, after = s.frames
                out[s.layer] += noop(after) - noop(before)
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        return out

    def last_run(self, name: str) -> list[Span]:
        """Spans of ``name`` recorded during the last traced op."""
        return [s for s in self.spans if s.name == name and s.run == self.run]

    def layer_totals(self) -> dict[str, dict[str, float]]:
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            d = out.setdefault(s.layer, {"self_s": 0.0, "jobs": 0})
            d["self_s"] += s.self_s
            d["jobs"] += s.jobs
        return out

    def records(self) -> list[dict]:
        return [{"id": s.id, "name": s.name, "layer": s.layer, "start": s.start,
                 "end": s.end, "parent": s.parent, "workload": s.workload,
                 "run": s.run, "jobs": s.jobs} for s in self.spans]


def _enclosing_group(stack: list[Span]) -> str | None:
    for s in reversed(stack):
        if s.group is not None:
            return s.group
    return None


# --------------------------------------------------------------------
# event log
# --------------------------------------------------------------------

def spark_metrics(event_dir: str, t0_ms: float, t1_ms: float, cores: int) -> dict:
    """Task-level totals of the jobs submitted in [t0_ms, t1_ms] (epoch
    milliseconds), read from the session's JSON event log."""
    stages: set[int] = set()
    tasks = []
    paths = [os.path.join(root, n) for root, _dirs, names in os.walk(event_dir)
             for n in names if not n.startswith(("appstatus", "."))]
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    if t0_ms <= ev.get("Submission Time", 0) <= t1_ms:
                        stages.update(ev.get("Stage IDs", []))
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(ev)
    cpu_ns = gc_ms = shuffle_w = shuffle_r = spill = 0
    failed = 0
    per_stage: dict[int, list[float]] = {}
    for ev in tasks:
        if ev.get("Stage ID") not in stages:
            continue
        info = ev.get("Task Info", {})
        m = ev.get("Task Metrics") or {}
        if info.get("Failed") or ev.get("Task End Reason", {}).get("Reason") != "Success":
            failed += 1
        cpu_ns += m.get("Executor CPU Time", 0)
        gc_ms += m.get("JVM GC Time", 0)
        spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        sw = m.get("Shuffle Write Metrics") or {}
        sr = m.get("Shuffle Read Metrics") or {}
        shuffle_w += sw.get("Shuffle Bytes Written", 0)
        shuffle_r += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        per_stage.setdefault(ev["Stage ID"], []).append(
            info.get("Finish Time", 0) - info.get("Launch Time", 0))
    skew = 0.0
    for durations in per_stage.values():
        if len(durations) >= 2:
            med = statistics.median(durations)
            skew = max(skew, max(durations) / med if med > 0 else 1.0)
    wall_s = max(t1_ms - t0_ms, 1) / 1000
    n_tasks = sum(len(d) for d in per_stage.values())
    return {
        "spark.tasks": n_tasks,
        "spark.executor_cpu_s": cpu_ns / 1e9,
        "spark.cpu_util": cpu_ns / 1e9 / (wall_s * cores),
        "spark.gc_s": gc_ms / 1000,
        "spark.shuffle_write_bytes": shuffle_w,
        "spark.shuffle_read_bytes": shuffle_r,
        "spark.spill_bytes": spill,
        "spark.task_skew": skew,
        "spark.failed_tasks": failed,
    }
