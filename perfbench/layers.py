"""Per-layer instrumentation for the traced run, installed from the
benchmark's own files: the package is never edited.

``Tracer`` wraps the public functions of the repo's layer modules
(``engine``, ``compat``, ``formats``, ``sources.catalog`` and every
``operators`` module) plus a few PySpark and py4j entry points, so each
call records a span. ``SparkProbe`` reads Spark's own counters through
py4j after each op: Catalyst phase times from the QueryExecution's
``QueryPlanningTracker``, and job, stage and task metrics from the
status store for the op's job group.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import pkgutil
import sys

from perfbench.spans import Recorder, Span, covered, self_times

PACKAGE = "datafusion_wasm_bindings_spark"
LAYER_MODULES = ("engine", "compat", "formats", "sources.catalog")
PHASES = ("parsing", "analysis", "optimization", "planning")
GC_COMMAND = "m\nd\n"  # py4j's memory-delete command prefix

# per-layer metric -> unit, in report order
UNITS = {
    "session.start_s": "s",
    "catalog.register_s": "s",
    "setup.warm_s": "s",
    "engine.split_s": "s",
    "engine.dispatch_s": "s",
    "compat.rewrite_s": "s",
    "compat.rewrite_calls": "count",
    "catalyst.parse_s": "s",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "scheduler.jobs": "count",
    "scheduler.stages": "count",
    "scheduler.tasks": "count",
    "scheduler.failed_tasks": "count",
    "scheduler.job_s": "s",
    "driver.gap_s": "s",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.input_rows": "count",
    "exec.input_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.output_bytes": "bytes",
    "exec.peak_exec_memory_bytes": "bytes",
    "exec.rows_in_per_row_out": "ratio",
    "transfer.s": "s",
    "transfer.rows": "count",
    "formats.render_s": "s",
    "formats.out_bytes": "bytes",
    "py4j.calls": "count",
    "py4j.s": "s",
    "queries.build_s": "s",
    "operators.checkpoints": "count",
    "driver.py_cpu_s": "s",
    "trace.overhead_s": "s",
}
SETUP_METRICS = ("session.start_s", "catalog.register_s", "setup.warm_s")


def _layer_modules():
    from datafusion_wasm_bindings_spark import operators

    names = [f"{PACKAGE}.{m}" for m in LAYER_MODULES]
    names += [f"{PACKAGE}.operators.{m.name}" for m in pkgutil.iter_modules(operators.__path__)]
    return [importlib.import_module(n) for n in names]


def _public_functions(mod):
    for name, obj in vars(mod).items():
        if not name.startswith("_") and inspect.isfunction(obj) and obj.__module__ == mod.__name__:
            yield name, obj


def _span_name(mod, fn_name: str) -> str:
    short = mod.__name__[len(PACKAGE) + 1:]
    short = short.replace("sources.catalog", "catalog")
    return f"{short}.{fn_name}"


class Tracer:
    """Installs the wrappers on construction; ``uninstall`` restores
    every patched attribute."""

    def __init__(self, rec: Recorder) -> None:
        self.rec = rec
        self.captured: list = []  # DataFrames whose plans ran in the current op
        self._undo: list[tuple[object, str, object]] = []
        self._install()

    # -- wrapping ------------------------------------------------------
    def _wrap(self, name: str, fn, count=None, before=None, capture=False):
        rec = self.rec

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if before is not None:
                before(*args)
            span = rec.begin(name)
            try:
                out = fn(*args, **kwargs)
            finally:
                rec.end(span)
            if span is not None:
                if count is not None:
                    span.n = count(out)
                if capture:
                    self.captured.append(out)
            return out

        return wrapper

    def _patch(self, owner, attr: str, new) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def _install(self) -> None:
        from pyspark.core.rdd import RDD
        from pyspark.sql.classic.dataframe import DataFrame
        from py4j.java_gateway import GatewayClient

        from datafusion_wasm_bindings_spark.engine import SQLEngine

        originals = {}
        for mod in _layer_modules():
            for fn_name, fn in _public_functions(mod):
                kwargs = {}
                if mod.__name__.endswith(".formats") and fn_name == "format_result":
                    kwargs["count"] = lambda out: len(out.encode())
                if mod.__name__.endswith(".formats") and fn_name == "format_json":
                    kwargs["before"] = self._plan_for_json
                originals[id(fn)] = self._wrap(_span_name(mod, fn_name), fn, **kwargs)
        # rebind every alias: ``from x import f`` copies f into the importer
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(PACKAGE):
                continue
            for attr, obj in list(vars(mod).items()):
                if inspect.isfunction(obj) and id(obj) in originals:
                    self._patch(mod, attr, originals[id(obj)])
        for meth in ("execute_sql", "sql"):
            self._patch(SQLEngine, meth, self._wrap(
                f"engine.{meth}", getattr(SQLEngine, meth), capture=meth == "sql"))
        self._patch(DataFrame, "collect", self._wrap("pyspark.collect", DataFrame.collect, count=len))
        self._patch(RDD, "collect", self._wrap("pyspark.collect", RDD.collect, count=len))
        for meth in ("localCheckpoint", "checkpoint"):
            self._patch(DataFrame, meth, self._wrap("pyspark.checkpoint", getattr(DataFrame, meth)))
        self._patch(GatewayClient, "send_command", self._wrap_py4j(GatewayClient.send_command))

    def _wrap_py4j(self, send):
        # py4j also sends a delete command whenever a Python-side Java
        # proxy is garbage-collected; those depend on when Python's
        # collector runs, so they get their own span name and are not
        # counted in py4j.calls
        rec = self.rec

        @functools.wraps(send)
        def wrapper(client, command, *args, **kwargs):
            span = rec.begin("py4j.gc" if command.startswith(GC_COMMAND) else "py4j")
            try:
                return send(client, command, *args, **kwargs)
            finally:
                rec.end(span)

        return wrapper

    def _plan_for_json(self, df, *_):
        # The JSON sink plans a fresh Dataset (toJSON) whose tracker is
        # out of reach, so plan the statement's own QueryExecution once
        # here, untraced: its optimization and planning phases stand in
        # for the sink's. The extra planning gets a span of its own, so
        # no layer's self time holds it; it shows in trace.overhead_s.
        span = self.rec.begin("tracer.plan")
        self.rec.enabled = False
        try:
            df._jdf.queryExecution().executedPlan()
        finally:
            self.rec.enabled = True
            self.rec.end(span)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, old = self._undo.pop()
            setattr(owner, attr, old)


class SparkProbe:
    """Reads Spark's counters for one op through py4j."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.store = jsc.statusStore()
        self.bus = jsc.listenerBus()
        self._d3 = getattr(self.store, "stageData$default$3")()
        self._d5 = getattr(self.store, "stageData$default$5")()

    def start_op(self, op_id: int) -> None:
        self.sc.setJobGroup(f"perfbench-op-{op_id}", "perfbench op", False)

    def op_counters(self, op_id: int, wall_start: float, wall_end: float, dataframes) -> dict:
        self.bus.waitUntilEmpty(30_000)
        m = dict.fromkeys((k for k in UNITS if k.startswith(("scheduler.", "exec.", "catalyst."))), 0.0)
        intervals, seen = [], set()
        for job_id in self.sc.statusTracker().getJobIdsForGroup(f"perfbench-op-{op_id}"):
            job = self.store.job(job_id)
            m["scheduler.jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                attempts = self.store.stageData(stage_ids.apply(i), False, self._d3, False, self._d5)
                for a in range(attempts.size()):
                    st = attempts.apply(a)
                    key = (st.stageId(), st.attemptId())
                    # a stage two jobs share is listed under both
                    if st.status().toString() == "SKIPPED" or key in seen:
                        continue
                    seen.add(key)
                    m["scheduler.stages"] += 1
                    m["scheduler.tasks"] += st.numCompleteTasks() + st.numFailedTasks() + st.numKilledTasks()
                    m["scheduler.failed_tasks"] += st.numFailedTasks()
                    m["exec.task_run_s"] += st.executorRunTime() / 1e3
                    m["exec.task_cpu_s"] += st.executorCpuTime() / 1e9
                    m["exec.gc_s"] += st.jvmGcTime() / 1e3
                    m["exec.input_rows"] += st.inputRecords()
                    m["exec.input_bytes"] += st.inputBytes()
                    m["exec.shuffle_write_bytes"] += st.shuffleWriteBytes()
                    m["exec.shuffle_read_bytes"] += st.shuffleReadBytes()
                    m["exec.spill_bytes"] += st.diskBytesSpilled()
                    m["exec.output_bytes"] += st.outputBytes()
                    m["exec.peak_exec_memory_bytes"] = max(
                        m["exec.peak_exec_memory_bytes"], st.peakExecutionMemory())
        m["scheduler.job_s"] = covered(intervals, wall_start, wall_end)
        m["driver.gap_s"] = (wall_end - wall_start) - m["scheduler.job_s"]
        for df in dataframes:
            phases = df._jdf.queryExecution().tracker().phases()
            for phase, key in zip(PHASES, ("parse", "analysis", "optimization", "planning")):
                got = phases.get(phase)
                if got.isDefined():
                    m[f"catalyst.{key}_s"] += got.get().durationMs() / 1e3
        return m


def span_metrics(spans: list[Span], op_id: int) -> dict:
    """Per-layer numbers the spans of op ``op_id`` give."""
    spans = [s for s in spans if s.op == op_id]
    selfs = self_times(spans)
    by_id = {s.sid: s for s in spans}

    def has_ancestor(s, prefixes) -> bool:
        p = s.parent
        while p is not None and p in by_id:
            if by_id[p].name.startswith(prefixes):
                return True
            p = by_id[p].parent
        return False

    m = dict.fromkeys(
        ("engine.split_s", "engine.dispatch_s", "compat.rewrite_s", "compat.rewrite_calls",
         "transfer.s", "transfer.rows", "formats.render_s", "formats.out_bytes",
         "py4j.calls", "py4j.s", "queries.build_s", "operators.checkpoints"), 0.0)
    for s in spans:
        name = s.name
        if name == "engine.split_statements":
            m["engine.split_s"] += s.duration
        elif name == "engine.sql":
            m["engine.dispatch_s"] += selfs[s.sid]
        elif name.startswith("compat."):
            m["compat.rewrite_s"] += selfs[s.sid]
            m["compat.rewrite_calls"] += name == "compat.rewrite"
        elif name.startswith("formats."):
            m["formats.render_s"] += selfs[s.sid]
            if name == "formats.format_result":
                m["formats.out_bytes"] += s.n
        elif name == "pyspark.collect" and has_ancestor(s, ("formats.", "bench.fetch")):
            m["transfer.s"] += s.duration
            m["transfer.rows"] += s.n
        elif name.startswith("py4j"):
            m["py4j.calls"] += name == "py4j"
            m["py4j.s"] += s.duration
        elif name == "queries.build":
            m["queries.build_s"] += s.duration
        elif name == "pyspark.checkpoint":
            m["operators.checkpoints"] += 1
    return m


def summarize(per_op: list[dict], setup: dict, overhead_s: float) -> dict:
    """Per-op means of every per-layer metric, plus setup and overhead."""
    out = {}
    for key in UNITS:
        if key in SETUP_METRICS:
            out[key] = setup[key]
        elif key == "trace.overhead_s":
            out[key] = overhead_s
        elif key == "exec.rows_in_per_row_out":
            rows_out = sum(m["transfer.rows"] for m in per_op)
            out[key] = sum(m["exec.input_rows"] for m in per_op) / rows_out if rows_out else 0.0
        else:
            out[key] = sum(m[key] for m in per_op) / len(per_op)
    return out

