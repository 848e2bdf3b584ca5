"""Span recorder that wraps the engine's public layer functions at run time.

Each wrapped call becomes a span (name, start, end, parent).  Every span
runs under its own Spark job group, so after the listener bus drains the
jobs a span triggered can be read back from ``statusTracker`` and their
stages' task time, CPU time, GC, shuffle, input and spill from the
application status store.

Spark is lazy: a span is charged for the actions that run while it is
the innermost open span.  ``build_scd1_dimension`` returns a plan, so
most of its cost lands in ``versioned.merge``, which writes it.

Names are patched where they are looked up: a function imported by name
into another module (``plans.pipeline.build_scd1_dimension``) is replaced
in that module as well as in the one that defines it.
"""

from __future__ import annotations

import functools
import os
import sys
import time

PKG = "sales_azure_data_engineer_project_spark"

# span name -> (module, attribute path) of the function to wrap
LAYERS: dict[str, tuple[str, str]] = {
    "io.read_csv": ("io", "read_csv"),
    "io.write_parquet": ("io", "write_parquet"),
    "io.read_parquet": ("io", "read_parquet"),
    "io.load_testdata": ("io", "load_testdata"),
    "pipeline.run": ("plans.pipeline", "SalesPipeline.run"),
    "pipeline.ingest_bronze": ("plans.pipeline", "SalesPipeline.ingest_bronze"),
    "pipeline.build_silver": ("plans.pipeline", "SalesPipeline.build_silver"),
    "pipeline.build_dimensions": ("plans.pipeline", "SalesPipeline.build_dimensions"),
    "pipeline.build_fact": ("plans.pipeline", "SalesPipeline.build_fact"),
    "dimensions.build_scd1_dimension": ("operators.dimensions", "build_scd1_dimension"),
    "upsert.merge_upsert": ("operators.upsert", "merge_upsert"),
    "versioned.merge": ("operators.versioned", "VersionedTable.merge"),
    "fact.build_fact": ("operators.fact", "build_fact"),
    "fact.aggregate_to_grain": ("operators.fact", "aggregate_to_grain"),
    "caching.tracked_persist": ("caching", "tracked_persist"),
    "caching.release_caches": ("caching", "release_caches"),
}
# every public function of these modules is one layer span, named by module
OPERATOR_MODULES = ("operators.dedup", "operators.similarity", "operators.text")


class Span:
    __slots__ = ("sid", "name", "parent", "start", "end", "group", "counts", "children_s")

    def __init__(self, sid: int, name: str, parent: Span | None):
        self.sid, self.name, self.parent = sid, name, parent
        self.start = time.perf_counter()
        self.end = self.start
        self.group = f"perfbench-{os.getpid()}-{sid}"
        self.counts: dict[str, float] = {}
        self.children_s = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - self.children_s


STAGE_FIELDS = ("jobs", "stages", "tasks", "failed_tasks", "run_s", "cpu_s", "gc_s",
                "shuffle_write_bytes", "input_bytes", "output_bytes", "spill_bytes")


class SpanRecorder:
    """Records spans in memory; Spark counts are resolved by :meth:`resolve`."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.overhead_s = 0.0  # time spent in the recorder itself
        self._patches: list[tuple[object, str, object]] = []
        self._pending: list[Span] = []

    # -- spans -------------------------------------------------------------
    def open(self, name: str) -> Span:
        t = time.perf_counter()
        span = Span(len(self.spans), name, self.stack[-1] if self.stack else None)
        self.spans.append(span)
        self.stack.append(span)
        self.sc.setJobGroup(span.group, name)
        self.overhead_s += time.perf_counter() - t
        span.start = time.perf_counter()
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        self.stack.pop()
        if span.parent is not None:
            span.parent.children_s += span.dur
            self.sc.setJobGroup(span.parent.group, span.parent.name)
        self._pending.append(span)
        self.overhead_s += time.perf_counter() - span.end

    def wrap(self, name: str, fn, after=None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span = self.open(name)
            try:
                out = fn(*args, **kwargs)
                if after is not None:
                    after(span, args, out)
                return out
            finally:
                self.close(span)

        return traced

    # -- patching ----------------------------------------------------------
    def install(self) -> None:
        """Wrap every layer function in every module that binds it."""
        import importlib

        targets: list[tuple[str, object, str]] = []
        for name, (mod, path) in LAYERS.items():
            owner = importlib.import_module(f"{PKG}.{mod}")
            *cls, attr = path.split(".")
            if cls:
                owner = getattr(owner, cls[0])
            targets.append((name, owner, attr))
        for mod in OPERATOR_MODULES:
            m = importlib.import_module(f"{PKG}.{mod}")
            for attr in getattr(m, "__all__", ()):
                if callable(getattr(m, attr)) and not isinstance(getattr(m, attr), type):
                    targets.append((mod, m, attr))
        for name, owner, attr in targets:
            fn = getattr(owner, attr)
            after = {"versioned.merge": _versioned_after,
                     "caching.release_caches": _released_after}.get(name)
            wrapped = self.wrap(name, fn, after)
            self._set(owner, attr, wrapped)
            if isinstance(owner, type):
                continue
            for mname, module in list(sys.modules.items()):
                if mname.startswith(PKG) and module is not owner:
                    for k, v in list(vars(module).items()):
                        if v is fn:
                            self._set(module, k, wrapped)

    def _set(self, owner, attr: str, value) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, old = self._patches.pop()
            setattr(owner, attr, old)

    # -- Spark counts ------------------------------------------------------
    def resolve(self) -> None:
        """Drain the listener bus and attach job/stage counts to closed spans."""
        t = time.perf_counter()
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker, store = self.sc.statusTracker(), jsc.statusStore()
        for span in self._pending:
            c = dict.fromkeys(STAGE_FIELDS, 0.0)
            for job in tracker.getJobIdsForGroup(span.group):
                c["jobs"] += 1
                info = tracker.getJobInfo(job)
                for sid in info.stageIds if info else ():
                    sd = store.lastStageAttempt(int(sid))
                    if sd.status().toString() == "SKIPPED":
                        continue
                    c["stages"] += 1
                    c["tasks"] += sd.numCompleteTasks()
                    c["failed_tasks"] += sd.numFailedTasks()
                    c["run_s"] += sd.executorRunTime() / 1e3
                    c["cpu_s"] += sd.executorCpuTime() / 1e9
                    c["gc_s"] += sd.jvmGcTime() / 1e3
                    c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    c["input_bytes"] += sd.inputBytes()
                    c["output_bytes"] += sd.outputBytes()
                    c["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            span.counts.update(c)
        self._pending.clear()
        self.overhead_s += time.perf_counter() - t


def _versioned_after(span: Span, args, version) -> None:
    """Files and bytes the commit published (the new version directory)."""
    vdir = os.path.join(args[0].root, f"v={version}")
    files, size = 0, 0
    for dirpath, _, names in os.walk(vdir):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    span.counts["files_written"] = files
    span.counts["bytes_written"] = size


def _released_after(span: Span, args, released) -> None:
    span.counts["released"] = released

