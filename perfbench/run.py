"""End-to-end benchmark of the engine: one workload per process.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 20 --trace 0

Starts the engine the way a user does (``get_spark`` on
``local[<cpus>]``, ``register_tables`` over the workload's fixture
scale, ``SQLEngine``), runs every distinct statement of the seeded op list
once as warm-up, followed on some workloads by whole warm cycles, then
drives whole cycles of the op list from one client thread in a closed
loop, as many as fill ``--seconds`` on a quiet host (at least three).
Each timed op's
output must match its warm output, and every warm output is checked
against DuckDB or the registry oracle after the loop.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shlex
import shutil
import signal
import subprocess
import sys
import tempfile
import time
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import checks, measure, oplist  # noqa: E402

WORK_ROOT = os.path.join(ROOT, ".perfbench_work")  # removed at exit
OUT_DIR = os.path.join(ROOT, ".perfbench_out")  # span files of traced runs
# scale factor per workload: the SQL workloads run at the bench scale;
# the pipeline registry queries run at the scale their oracles are
# gated at, where plan building, py4j and job scheduling dominate
SF = {"interactive": "0.01", "export": "0.1", "pipeline": "0.01"}

END_TO_END_UNITS = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "latency_p90_s": "s",
    "ops_per_s": "1/s",
    "py_peak_rss_mb": "MB",
}


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _isolate(work: str) -> None:
    """Point every scratch path Spark and Python use into ``work``:
    temp files, Spark local dirs (shuffle, checkpoints), the SQL
    warehouse and the Derby home. Must run before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(_cpus()))
    # no hsperfdata files: the JVM would put them in the system temp dir
    os.environ["JDK_JAVA_OPTIONS"] = "-XX:-UsePerfData"
    java_opts = f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work}/derby"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={work}/warehouse"),
        "--conf", "spark.ui.showConsoleProgress=false",
        "--driver-java-options", shlex.quote(java_opts),
        "pyspark-shell",
    ])


def _git_revision() -> str:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "none"
    return out.stdout.strip() if out.returncode == 0 else "none"


def _fixture_dir(sf: str) -> str:
    # the fixture sets sit side by side, next to the catalog's default
    # scale factor directory; SPARK_GRAFT_SF_DIR moves them all
    from datafusion_wasm_bindings_spark.sources.catalog import DEFAULT_SF_DIR

    return os.path.join(os.path.dirname(os.path.normpath(DEFAULT_SF_DIR)), f"sf{sf}")


class Runner:
    """Runs one op and returns its output: the rendered string for the
    SQL workloads, the collected rows for ``pipeline``."""

    def __init__(self, workload: str, spark, sf_dir: str) -> None:
        self.workload = workload
        self.spark = spark
        self.sf_dir = sf_dir
        self.rec = None  # a spans.Recorder while tracing
        self.captured: list = []  # DataFrames built in the current op
        self.schemas: dict = {}
        if workload == "pipeline":
            from datafusion_wasm_bindings_spark.queries import load_all

            self.registry = load_all()
        else:
            from datafusion_wasm_bindings_spark import SQLEngine

            self.engine = SQLEngine(spark)
            self.engine.set_result_format("json" if workload == "interactive" else "table")

    def __call__(self, op: oplist.Op):
        if self.workload != "pipeline":
            return self.engine.execute_sql(op.text)
        rec = self.rec
        span = rec.begin("queries.build") if rec else None
        df = self.registry[op.text].spark_fn(self.spark, self.sf_dir)
        if rec:
            rec.end(span)
            self.captured.append(df)
            span = rec.begin("bench.fetch")
        rows = df.collect()
        if rec:
            rec.end(span)
        if op.key not in self.schemas:
            self.schemas[op.key] = df.schema
        return rows


class Loop:
    """Closed-loop, single-client runner of whole op-list cycles."""

    def __init__(self, ops, runner: Runner, warm_digest: dict) -> None:
        self.ops = ops
        self.runner = runner
        self.warm_digest = warm_digest
        self.by_template: dict[str, list[float]] = {}
        self.cycle_s: list[float] = []
        self.per_key = Counter()  # timed ops per distinct statement
        self.failed_per_key = Counter()
        self.errors: list[str] = []

    def run(self, cycles: int, on_op=None) -> list[float]:
        latencies: list[float] = []
        for _ in range(cycles):
            c0 = time.perf_counter()
            for op in self.ops:
                ctx = on_op.begin() if on_op else None
                t0 = time.perf_counter()
                try:
                    out = self.runner(op)
                except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
                    out = None
                    self.errors.append(f"{op.key}: {type(exc).__name__}: {exc}".splitlines()[0])
                latencies.append(time.perf_counter() - t0)
                self.by_template.setdefault(op.template, []).append(latencies[-1])
                if on_op:
                    on_op.end(ctx)
                self.per_key[op.key] += 1
                if out is None or checks.digest(out) != self.warm_digest.get(op.key):
                    self.failed_per_key[op.key] += 1
            self.cycle_s.append(time.perf_counter() - c0)
        return latencies


class Traced:
    """Per-op hooks of the traced loop: job group, spans, counters. The
    wrappers are installed only around traced cycles."""

    def __init__(self, spark, runner: Runner) -> None:
        from perfbench.layers import SparkProbe
        from perfbench.spans import Recorder

        self.rec = Recorder()
        self.probe = SparkProbe(spark)
        self.runner = runner
        self.tracer = None
        self.per_op: list[dict] = []

    def install(self) -> None:
        from perfbench.layers import Tracer

        self.tracer = Tracer(self.rec)
        self.runner.rec = self.rec
        self.runner.captured = self.tracer.captured

    def uninstall(self) -> None:
        self.tracer.uninstall()
        self.runner.rec = None

    def begin(self):
        op_id = len(self.per_op)  # unique per traced op: names its job group
        self.rec.enabled = False
        self.probe.start_op(op_id)
        self.tracer.captured.clear()
        self.rec.enabled = True
        self.rec.op = op_id
        return op_id, time.time(), time.process_time(), len(self.rec.spans)

    def end(self, ctx) -> None:
        from perfbench.layers import span_metrics

        op_id, wall0, cpu0, first = ctx
        wall1, cpu1 = time.time(), time.process_time()
        self.rec.op = None
        self.rec.enabled = False
        m = self.probe.op_counters(op_id, wall0, wall1, list(self.tracer.captured))
        m.update(span_metrics(self.rec.spans[first:], op_id))
        m["driver.py_cpu_s"] = cpu1 - cpu0
        self.per_op.append(m)
        self.rec.enabled = True


def _stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at end of input
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # a JVM that will not exit is killed
            proc.kill()
            proc.wait()


def _verify(workload: str, ops, warm_out: dict, runner: Runner, sf_dir: str) -> dict[str, str]:
    """Check each distinct statement's warm output; key -> reason for
    every one that is wrong."""
    from datafusion_wasm_bindings_spark.sources.catalog import TABLE_NAMES

    con = checks.duckdb_connection(sf_dir, TABLE_NAMES)
    bad = {}
    try:
        for op in ops:
            out = warm_out.get(op.key)
            if out is None:
                bad[op.key] = "warm-up raised"
                continue
            if workload == "pipeline":
                spec = runner.registry[op.text]
                why = checks.check_pipeline(
                    runner.spark, con, op.text, spec.oracle, out, runner.schemas[op.key], sf_dir)
            else:
                why = checks.check_sql(con, workload, out, op.check)
            if why:
                bad[op.key] = why
    finally:
        con.close()
    return bad


def run(args, work: str, env: dict) -> tuple[dict, list[str]]:
    """Set up, warm up, measure and verify one workload; returns the
    result object and the human-readable report lines."""
    from datafusion_wasm_bindings_spark.session import get_spark
    from datafusion_wasm_bindings_spark.sources.catalog import register_tables

    sf_dir = env["sf_dir"]
    ops = oplist.build(args.workload, args.seed, os.path.join(work, "export"))
    distinct = list({op.key: op for op in ops}.values())  # a cycle may repeat a statement
    t0 = time.perf_counter()
    spark = get_spark()
    try:
        t1 = time.perf_counter()
        register_tables(spark, sf_dir)
        t2 = time.perf_counter()
        runner = Runner(args.workload, spark, sf_dir)
        warm_out, warm_digest, warm_errors = {}, {}, []
        for op in distinct:
            try:
                warm_out[op.key] = runner(op)
                warm_digest[op.key] = checks.digest(warm_out[op.key])
            except Exception as exc:  # noqa: BLE001 - reported as a failed statement
                warm_errors.append(f"{op.key}: {type(exc).__name__}: {exc}".splitlines()[0])
        # whole warm cycles (oplist.WARM_CYCLES), checked like timed ones
        warm = Loop(ops, runner, warm_digest)
        warm.run(oplist.WARM_CYCLES[args.workload])
        t3 = time.perf_counter()
        setup = {"session.start_s": t1 - t0, "catalog.register_s": t2 - t1, "setup.warm_s": t3 - t2}
        env["java"] = spark.sparkContext._jvm.System.getProperty("java.version")

        loop = Loop(ops, runner, warm_digest)
        nominal = oplist.NOMINAL_CYCLE_S[args.workload]
        untraced, hooks = [], None
        if args.trace:
            # untraced and traced cycles alternate, half the budget each,
            # so the JVM's warming affects both alike: the difference of
            # their medians is the tracing overhead
            hooks, latencies = Traced(spark, runner), []
            for _ in range(measure.cycles_for(args.seconds / 2, nominal)):
                untraced += loop.run(1)
                hooks.install()
                try:
                    latencies += loop.run(1, on_op=hooks)
                finally:
                    hooks.uninstall()
        else:
            latencies = loop.run(measure.cycles_for(args.seconds, nominal))
        env["loadavg_after"] = os.getloadavg()
        rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        bad = _verify(args.workload, distinct, warm_out, runner, sf_dir)
    finally:
        _stop_spark(spark)
    import duckdb

    env["duckdb"] = duckdb.__version__

    # an op that matched a wrong warm output is wrong too
    attempted = len(latencies) + len(untraced) + sum(warm.per_key.values())
    failed = sum(lp.per_key[k] if k in bad else lp.failed_per_key[k]
                 for lp in (warm, loop) for k in lp.per_key)
    correct = failed == 0 and not bad
    n = len(latencies)
    q_tail, tail_ok = measure.tail_quantile(n)
    e2e = {
        "setup_s": t3 - t0,
        "latency_p50_s": measure.percentile(latencies, 0.5),
        "latency_p90_s": measure.percentile(latencies, q_tail),
        "ops_per_s": n / sum(latencies),
        "py_peak_rss_mb": rss_mb,
    }
    lines = [f"workload {args.workload}: {n} timed ops in {len(ops)}-op cycles"
             f" after {len(warm.cycle_s)} warm cycles"]
    lines += [f"{key} {value:.6g} {END_TO_END_UNITS[key]}" for key, value in e2e.items()]
    lines.append(f"latency_p90_s is the q={q_tail:.3f} quantile of {n} ops"
                 + ("" if tail_ok else f" (a p90 needs {round(measure.MIN_TAIL / (1 - measure.TAIL_Q))} ops)"))
    lines.append(f"error_rate {failed / attempted:.6g} ({failed}/{attempted})")
    lines.append(f"correct {correct}")
    lines.append("cycle seconds, warm | timed: " + " ".join(f"{c:.3f}" for c in warm.cycle_s)
                 + " | " + " ".join(f"{c:.3f}" for c in loop.cycle_s))
    lines.append("median latency by template: " + ", ".join(
        f"{t} {measure.percentile(v, 0.5):.4f}s" for t, v in sorted(loop.by_template.items())))
    lines += [f"WRONG {key}: {why}" for key, why in sorted(bad.items())]
    lines += [f"ERROR {e}" for e in (warm_errors + warm.errors + loop.errors)[:20]]

    if hooks is None:
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in e2e.items()}
    else:
        from perfbench.layers import UNITS, summarize

        overhead = measure.percentile(latencies, 0.5) - measure.percentile(untraced, 0.5)
        layer = summarize(hooks.per_op, setup, overhead)
        lines.append(f"per-layer over {n} traced ops: per-op mean, run total")
        for key, value in layer.items():
            per_run = key in setup or key in ("trace.overhead_s", "exec.rows_in_per_row_out")
            lines.append(f"  {key:30s} {value:14.6g} {value if per_run else value * n:14.6g} {UNITS[key]}")
        metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in layer.items()}
        os.makedirs(OUT_DIR, exist_ok=True)
        span_path = os.path.join(OUT_DIR, f"spans-{args.workload}-seed{args.seed}.jsonl")
        hooks.rec.write(span_path, header=env)
        lines.append(f"spans: {len(hooks.rec.spans)} written to {os.path.relpath(span_path, ROOT)}")
    result = {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}
    return result, lines


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=oplist.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    os.environ["TZ"] = "UTC"  # collected timestamps render in UTC
    time.tzset()
    import pyspark

    sf = SF[args.workload]
    sf_dir = _fixture_dir(sf)  # imports the package: fails fast without it
    if not os.path.isdir(sf_dir):
        print(f"fixture directory not found: {sf_dir}", file=sys.stderr)
        return 2
    env = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "sf": sf, "sf_dir": sf_dir, "nproc": _cpus(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "loadavg_before": os.getloadavg(), "pyspark": pyspark.__version__,
        "python": sys.version.split()[0], "git": _git_revision(),
    }
    os.makedirs(WORK_ROOT, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=WORK_ROOT)
    try:
        _isolate(work)
        env["SPARK_GRAFT_CPUS"] = os.environ["SPARK_GRAFT_CPUS"]
        result, lines = run(args, work, env)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)
        except OSError:
            pass  # another run's work dir is still there
    for line in lines:
        print(line)
    print("env " + json.dumps(env))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
