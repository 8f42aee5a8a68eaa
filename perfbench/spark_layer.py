"""Measure Spark from the outside: stage metrics from the live status
store, Python self time from the PySpark UDF profiler.

Both sources work with ``spark.ui.enabled=false``: the status store is
kept by the driver's listener whether or not the UI serves it, and the
profiler ships cProfile results from the Python workers back through an
accumulator.
"""

from __future__ import annotations

import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class StageRecord:
    stage_id: int
    attempt: int
    status: str
    tasks: int
    failed_tasks: int
    run_ms: int
    cpu_ns: int
    gc_ms: int
    shuffle_write_bytes: int
    shuffle_read_bytes: int
    shuffle_read_records: int
    spill_bytes: int
    task_run_ms: list = field(default_factory=list)


def _drain(sc) -> None:
    """Block until the listener bus has delivered every event: the status
    store is fed asynchronously, and a read right after an action can miss
    the last stage."""
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)


def stage_records(sc) -> dict:
    """All stages the status store holds that ran (not skipped), keyed by
    (stage id, attempt), without their task lists."""
    _drain(sc)
    store = sc._jsc.sc().statusStore()
    jvm = sc._jvm
    stages = store.stageList(
        None, False, False, sc._gateway.new_array(jvm.double, 0),
        jvm.java.util.ArrayList(),
    )
    out = {}
    it = stages.iterator()
    while it.hasNext():
        s = it.next()
        status = str(s.status())
        if status not in ("COMPLETE", "FAILED"):
            continue
        rec = StageRecord(
            stage_id=s.stageId(), attempt=s.attemptId(), status=status,
            tasks=s.numTasks(), failed_tasks=s.numFailedTasks(),
            run_ms=s.executorRunTime(), cpu_ns=s.executorCpuTime(),
            gc_ms=s.jvmGcTime(),
            shuffle_write_bytes=s.shuffleWriteBytes(),
            shuffle_read_bytes=s.shuffleReadBytes(),
            shuffle_read_records=s.shuffleReadRecords(),
            spill_bytes=s.diskBytesSpilled(),
        )
        out[(rec.stage_id, rec.attempt)] = rec
    return out


def add_task_times(sc, records) -> None:
    """Fill ``task_run_ms`` of ``records`` from the status store: one
    task-list fetch per stage, so callers pass only the stages they need
    (a span's new ones), never the whole store."""
    store = sc._jsc.sc().statusStore()
    for rec in records:
        tasks = store.taskList(rec.stage_id, rec.attempt, 1 << 20).iterator()
        while tasks.hasNext():
            m = tasks.next().taskMetrics()
            if m.isDefined():
                rec.task_run_ms.append(m.get().executorRunTime())


def summarize_stages(records: list, jobs: int) -> dict:
    """The ``spark.*`` layer metrics of a set of stages (times in s,
    sizes in MB)."""
    def total(attr):
        return sum(getattr(r, attr) for r in records)

    run_s = total("run_ms") / 1e3
    cpu_s = total("cpu_ns") / 1e9
    skews = []
    for r in records:
        durs = sorted(r.task_run_ms)
        if len(durs) < 2:
            continue
        median = durs[len(durs) // 2] if len(durs) % 2 else (
            durs[len(durs) // 2 - 1] + durs[len(durs) // 2]) / 2
        if median >= 500:
            skews.append(durs[-1] / median)
    return {
        "spark.task_s": run_s,
        "spark.jvm_cpu_s": cpu_s,
        "spark.python_s": max(0.0, run_s - cpu_s),
        "spark.gc_s": total("gc_ms") / 1e3,
        "spark.shuffle_write_mb": total("shuffle_write_bytes") / 2**20,
        "spark.shuffle_read_mb": total("shuffle_read_bytes") / 2**20,
        "spark.spill_mb": total("spill_bytes") / 2**20,
        "spark.jobs": jobs,
        "spark.stages": len(records),
        "spark.tasks": total("tasks"),
        "spark.failed_tasks": total("failed_tasks"),
        "spark.task_skew": max(skews, default=0.0),
        "spark.serial_stage_s": sum(r.run_ms for r in records if r.tasks == 1) / 1e3,
    }


# ---------------------------------------------------------------------------
# UDF profiler rows -> gdal_spark modules
# ---------------------------------------------------------------------------


def source_index(package_dir: str) -> dict:
    """(file basename, first line, function name) -> dotted module name for
    every function and lambda under ``package_dir``.

    The profiler strips directories from its rows (``pstats.strip_dirs``),
    so ``codecs.py`` alone cannot tell the engine's codecs from the
    standard library's; the line and name of the function can."""
    import ast

    index = {}
    pkg = os.path.basename(os.path.normpath(package_dir))
    for dirpath, _dirs, files in os.walk(package_dir):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            rel = os.path.relpath(path, package_dir)[:-3].replace(os.sep, ".")
            mod = rel if rel != "__init__" else pkg
            with open(path, encoding="utf-8") as f:
                tree = ast.parse(f.read(), path)
            for node in ast.walk(tree):
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    lines = {node.lineno, *(d.lineno for d in node.decorator_list)}
                    name = node.name
                elif isinstance(node, ast.Lambda):
                    lines, name = {node.lineno}, "<lambda>"
                else:
                    continue
                for line in lines:
                    index[(fn, line, name)] = mod
    return index


@dataclass
class ModuleProfile:
    """Per-module self time, and per-function calls and cumulative time,
    summed over any number of cProfile stats tables."""

    index: dict
    self_s: dict = field(default_factory=lambda: defaultdict(float))
    native_s: dict = field(default_factory=lambda: defaultdict(float))
    calls: dict = field(default_factory=lambda: defaultdict(int))
    cum_s: dict = field(default_factory=lambda: defaultdict(float))

    def _module(self, key) -> str | None:
        filename, line, func = key
        return self.index.get((os.path.basename(filename), line, func))

    def add_stats(self, stats: dict) -> None:
        """``stats`` is a ``pstats.Stats.stats`` table: (file, line,
        function) -> (primitive calls, calls, self, cumulative, callers).
        Rows of Python code outside the package are ignored; built-in
        rows (numpy, zlib, ...) are charged to the package module that
        called them, as far as the callers table shows."""
        for key, (cc, _nc, tt, ct, callers) in stats.items():
            if key[0] == "~":
                for caller, (_ccc, _cnc, ctt, _cct) in callers.items():
                    mod = self._module(caller)
                    if mod is not None:
                        self.native_s[mod] += ctt
                continue
            mod = self._module(key)
            if mod is None:
                continue
            self.self_s[mod] += tt
            self.calls[f"{mod}.{key[2]}"] += cc
            self.cum_s[f"{mod}.{key[2]}"] += ct

    def module_time(self, *mods: str) -> float:
        """Self time of the modules' functions plus the built-ins they
        call directly."""
        return sum(self.self_s.get(m, 0.0) + self.native_s.get(m, 0.0) for m in mods)

    def func_cum(self, *funcs: str) -> float:
        return sum(self.cum_s.get(f, 0.0) for f in funcs)

    def func_calls(self, *funcs: str) -> int:
        return sum(self.calls.get(f, 0) for f in funcs)


def take_udf_profiles(spark) -> list:
    """The perf profiles collected since the last call, as stats tables;
    clears them so the next step starts empty."""
    collector = spark._profiler_collector
    tables = [s.stats for s in collector._perf_profile_results.values()]
    spark.profile.clear(type="perf")
    return tables


# ---------------------------------------------------------------------------
# the tracer the workloads call around each layer
# ---------------------------------------------------------------------------


class Tracer:
    """Spans around calls into the engine. Off, a span only sets the job
    group and costs nothing else. On, each span records its wall time,
    the stages that ran inside it (read from the status store) and the
    UDF-profiler rows its Python workers produced."""

    def __init__(self, spark, workload: str, enabled: bool, index: dict):
        self.spark = spark
        self.sc = spark.sparkContext
        self.workload = workload
        self.enabled = enabled
        self.spans = defaultdict(list)
        self.span_stages = defaultdict(list)
        self.span_jobs = defaultdict(int)
        self.index = index
        self.span_profiles = defaultdict(list)
        self.counts = defaultdict(float)
        self._n = 0

    def set_profiler(self, on: bool) -> None:
        if on:
            self.spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        else:
            self.spark.conf.unset("spark.sql.pyspark.udf.profiler")

    @contextmanager
    def span(self, name: str):
        self._n += 1
        # a traced span's group is unique, so the jobs counted are its own
        group = f"perfbench-{self.workload}-{name}"
        if self.enabled:
            group += f"-traced-{self._n}"
        self.sc.setJobGroup(group, name)
        if not self.enabled:
            try:
                yield
            finally:
                self.sc.setJobGroup(f"perfbench-{self.workload}", "idle")
            return
        before = stage_records(self.sc)
        take_udf_profiles(self.spark)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans[name].append(time.perf_counter() - t0)
            after = stage_records(self.sc)
            new = [after[k] for k in after.keys() - before.keys()]
            add_task_times(self.sc, new)
            self.span_stages[name].extend(new)
            self.span_jobs[name] += len(
                self.sc.statusTracker().getJobIdsForGroup(group)
            )
            self.span_profiles[name].extend(take_udf_profiles(self.spark))
            self.sc.setJobGroup(f"perfbench-{self.workload}", "idle")

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            self.counts[name] += value

    def span_s(self, *names: str) -> float:
        return sum(sum(self.spans.get(n, [])) for n in names)

    def profile_of(self, *names: str) -> ModuleProfile:
        """UDF-profiler rows of the named spans (all spans if none named)."""
        prof = ModuleProfile(self.index)
        for n in names or tuple(self.span_profiles):
            for table in self.span_profiles.get(n, []):
                prof.add_stats(table)
        return prof

    def stages(self, *names: str) -> list:
        names = names or tuple(self.span_stages)
        return [r for n in names for r in self.span_stages.get(n, [])]

    def jobs(self, *names: str) -> int:
        names = names or tuple(self.span_jobs)
        return sum(self.span_jobs.get(n, 0) for n in names)
