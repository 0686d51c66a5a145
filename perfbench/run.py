"""The repository benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload {analytics,medallion} --seed N \\
        --seconds S --trace {0,1}

Runs from the root of a source checkout and imports the engine package
found there. Each run is a closed loop with one client on
``local[nproc]``: set-up, a cold pass (``analytics`` only), warm passes
until ``S`` seconds have passed (at least the workload's minimum), then
untimed correctness checks. The last line of standard output is one
JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics of ``BENCHMARK.json`` with
``--trace 0``, its per-layer metrics with ``--trace 1``. The line
before it records the configuration, input sizes, samples, the op
tail, per-check results and host load (load average and hypervisor
steal, as annotations only: no run is retried or chosen because of
them).

``--trace 1`` runs the Spark event log for the whole run and, after
one pass that is in neither set, alternates warm passes without and
with the benchmark's own instrumentation (spans around every layer
call, Spark job groups per operation, Catalyst rule time) in the order
A B B A A B ..., at least the workload's minimum of each. Per-layer
metrics are per traced warm pass; ``trace.overhead_*`` compare the
traced with the untraced passes, so they exclude the event log's own
cost, which the difference to a ``--trace 0`` run includes. Spans are
written to ``.perfbench/trace-<workload>.jsonl``.

Everything a run writes goes under ``.perfbench/run-<pid>/`` in the
checkout (inputs, bronze, warehouse, state, Spark local dirs, temp
files, event log); its size is recorded, then it is removed.

End-to-end metrics (the same names on every workload):

- ``setup_s``: wall seconds from process start to session ready and
  warmed up, inputs generated and (``medallion``) the initial load
  done.
- ``pass_s``: wall seconds of the median warm pass (``analytics``: all
  11 queries; ``medallion``: one daily batch, from its first statement
  until the gold report is computed).
- ``pass_cpu_s``: the median over the warm passes of their CPU
  seconds: user + system time of every process of the run (the Python
  process, the Spark JVM, its Python workers), without the JVM's JIT
  compiler threads, whose background compiling varies from run to run.
  It moves when work is added or removed even where the wall clock
  hides it behind parallelism.

Also reported, on the line before the result: set-up CPU seconds
(``setup_cpu_s``), the cold pass (``cold_pass_s``,
``cold_pass_cpu_s``), per operation (``op_p50_s``, and the op tail
with its percentile; ``analytics``: one query; ``medallion``: one SQL
statement, ingest, flow update or report), input rows per second of
warm pass (``rows_per_s``; ``analytics``: rows of the tables each query
scans; ``medallion``: source rows extracted) and the time of the
untimed checks.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from pathlib import Path

T_START = time.perf_counter()
ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import analytics, medallion  # noqa: E402
from perfbench.stats import (  # noqa: E402
    check_names, du, host_marker, marker_delta, steal_seconds, tail, tree_cpu_seconds,
)
from perfbench.trace import Tracer, dur, spark_by_group, spark_layer, sum_groups  # noqa: E402

PACKAGE = "end_to_end_azure_databricks_data_engineering_project_spark"
WORKLOADS = ("analytics", "medallion")
# Per-layer metric prefixes a workload does not exercise; reported as 0.
BYPASSED = {
    "analytics": ("ingest.", "autoload.", "flows.", "cdc.", "tables.", "gold_analytics."),
    "medallion": (),
}


class Ctx:
    """State of one benchmark run, shared with the workload module."""

    def __init__(self, args, root: Path, spark, tracer):
        self.workload, self.seed = args.workload, args.seed
        self.seconds, self.scale = args.seconds, args.scale
        self.root, self.spark, self.tracer = root, spark, tracer
        self.label = ""
        self.attempted = self.failed = 0
        self.checks: dict[str, bool] = {}
        self.details: dict = {}
        self.input_rows: dict[str, int] = {}
        self.input_bytes = 0

    def record_check(self, name: str, ok: bool) -> None:
        self.attempted += 1
        self.failed += not ok
        self.checks[name] = ok


def spark_memory() -> str:
    """The Spark JVM's heap: a quarter of the box's RAM, capped at 8 GiB."""
    with open("/proc/meminfo") as fh:
        kb = int(next(ln for ln in fh if ln.startswith("MemTotal")).split()[1])
    return f"{max(1, min(8, kb // (4 << 20)))}g"


def _remove_stale_runs(base: Path) -> None:
    """Remove the work directories of runs whose process is gone (a run
    killed before its own clean-up), so disk use cannot grow."""
    for d in base.glob("run-*"):
        try:
            os.kill(int(d.name[4:]), 0)
        except ProcessLookupError:
            shutil.rmtree(d, ignore_errors=True)
        except (ValueError, PermissionError):
            continue


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def run_workload(args, root: Path, t_start: float) -> tuple[Ctx, dict, dict, dict]:
    """Set up, measure, check; returns the context, the end-to-end
    metrics, their samples, and (traced) the layer metrics."""

    mod = {"analytics": analytics, "medallion": medallion}[args.workload]
    from end_to_end_azure_databricks_data_engineering_project_spark.session import get_spark

    # the process's CPU counters start at zero, its wall clock at t_start
    start = {"s": t_start, "cpu_s": 0.0, "jit_cpu_s": 0.0, "steal_s": None}
    tracer = Tracer(bool(args.trace), run_id=f"{args.workload}-{args.seed}-{os.getpid()}")
    conf = {
        "spark.sql.warehouse.dir": str(root / "spark-warehouse"),
        # keep the JVM's temporary files in the run directory, write no
        # perf-data file to /tmp, and keep a fixed set of JIT compiler
        # threads so their CPU can be told apart from the engine's
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={root / 'tmp'} -XX:-UsePerfData"
            " -XX:-UseDynamicNumberOfCompilerThreads"),
        "spark.ui.showConsoleProgress": "false",
    }
    eventlog = root / "eventlog"
    if args.trace:
        eventlog.mkdir()
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": eventlog.as_uri(),
                     "spark.eventLog.compress": "false"})
    with tracer.span("session.start"):
        spark = get_spark(f"perfbench-{args.workload}", extra_conf=conf)
    ctx = Ctx(args, root, spark, tracer)
    tracer.spark = spark
    passes: dict[bool, list[dict]] = {False: [], True: []}
    try:
        with tracer.span("setup.warmup", group="warmup"):
            spark.range(1_000_000).selectExpr("sum(id)").collect()
        session = _since(start)
        if args.trace and hasattr(mod, "instrument"):
            mod.instrument(ctx)
        t0 = _clock()
        mod.generate(ctx)
        generate = _since(t0)
        t0 = _clock()
        mod.prepare(ctx)
        prepare = _since(t0)
        setup = _since(start)
        before = host_marker()
        cold = settle = None
        if mod.COLD_PASS:
            cold = _pass(mod, ctx, "c")
            ctx.attempted += 1
        if args.trace:
            # the first pass after the cold one still runs code paths
            # for the first time; kept out of the traced/untraced
            # comparison
            tracer.enabled = False
            settle = _pass(mod, ctx, "settle")
            ctx.attempted += 1
        kinds = (False, True) if args.trace else (False,)
        need = mod.MIN_WARM_PASSES
        t0, k = time.perf_counter(), 0
        while (any(len(passes[t]) < need for t in kinds)
               or time.perf_counter() - t0 < args.seconds):
            # untraced, traced, traced, untraced, ...: neither kind
            # always runs first, where the engine is least warm
            traced = bool(args.trace) and k % 4 in (1, 2)
            tracer.enabled = traced
            passes[traced].append(_pass(mod, ctx, f"w{k}{'t' if traced else ''}"))
            ctx.attempted += 1
            k += 1
        tracer.enabled = bool(args.trace)
        ctx.host = marker_delta(before, host_marker())
        t0 = time.perf_counter()
        mod.check(ctx)
        check_s = time.perf_counter() - t0
        layers = {}
        if args.trace:
            tracer.unwrap()
            traced_spans = [s for s in tracer.spans
                            if s["name"] == "pass" and s["label"].endswith("t")]
            layers = mod.layers(ctx, traced_spans)
            layers["session.start_s"] = dur(tracer.spans[0])
            layers["spark.plan_s"] = (
                sum(s["catalyst_s"] for s in traced_spans) / len(traced_spans))
    finally:
        _stop(spark)

    e2e, samples = end_to_end(passes[False])
    e2e["setup_s"] = setup["s"]
    e2e["setup_cpu_s"] = setup["cpu_s"]
    if cold is not None:
        e2e["cold_pass_s"] = cold["s"]
        e2e["cold_pass_cpu_s"] = cold["cpu_s"]
        samples["cold"] = cold
    samples.update(setup=setup, session=session, generate=generate, prepare=prepare,
                   check_s=check_s)
    if args.trace:
        groups = spark_by_group(eventlog)
        n = len(passes[True])

        def traced_group(g: str) -> bool:
            return g.split("|")[0].endswith("t")

        eager = sum_groups(groups, lambda g: traced_group(g) and g.endswith("|build"))
        layers["plans.eager_jobs"] = eager["jobs"] / n
        layers.update(spark_layer(sum_groups(groups, traced_group), n))
        traced_e2e, _ = end_to_end(passes[True])
        layers["trace.overhead_pass"] = traced_e2e["pass_s"] / e2e["pass_s"] - 1
        layers["trace.overhead_op_p50"] = traced_e2e["op_p50_s"] / e2e["op_p50_s"] - 1
        layers["trace.overhead_cpu"] = traced_e2e["pass_cpu_s"] / e2e["pass_cpu_s"] - 1
        layers["session.jit_cpu_s"] = statistics.median([p["jit_cpu_s"] for p in passes[True]])
        samples["traced_end_to_end"] = traced_e2e
        samples["settle"] = settle
        tracer.write(ROOT / ".perfbench" / f"trace-{args.workload}.jsonl")
        if tracer.missing:
            ctx.details["unwrapped_entry_points"] = tracer.missing
    return ctx, e2e, samples, layers


def _clock() -> dict:
    """Wall clock, CPU seconds of the run's processes without the JVM's
    JIT compiler threads, those threads' CPU seconds, and the box's
    cumulative hypervisor steal."""

    cpu, jit = tree_cpu_seconds()
    return {"s": time.perf_counter(), "cpu_s": cpu - jit, "jit_cpu_s": jit,
            "steal_s": steal_seconds()}


def _since(start: dict) -> dict:
    """What ``_clock`` counted since ``start``."""
    now = _clock()
    return {k: None if start[k] is None or now[k] is None else now[k] - start[k]
            for k in now}


def _pass(mod, ctx, label: str) -> dict:
    """One pass, with its wall clock, CPU and steal."""
    t0 = _clock()
    secs, ops, rows = mod.run_pass(ctx, label)
    return {**_since(t0), "s": secs, "ops": ops, "rows": rows}


def end_to_end(passes: list[dict]) -> tuple[dict, dict]:
    """Warm-pass metrics of one kind of pass (untraced or traced)."""

    secs = [p["s"] for p in passes]
    ops = [o for p in passes for o in p["ops"]]
    tail_s, pct = tail(ops)
    metrics = {
        "pass_s": statistics.median(secs),
        "pass_cpu_s": statistics.median([p["cpu_s"] for p in passes]),
        "op_p50_s": statistics.median(ops),
        "rows_per_s": sum(p["rows"] for p in passes) / sum(secs),
    }
    samples = {"warm_passes": passes, "op_tail_s": tail_s, "op_tail_percentile": pct}
    return metrics, samples


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=WORKLOADS, required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size factor (small values for smoke tests)")
    args = p.parse_args(argv)

    spec_path = ROOT / "BENCHMARK.json"
    if not (ROOT / PACKAGE / "session.py").is_file() or not spec_path.is_file():
        print(f"error: no engine package {PACKAGE!r} or BENCHMARK.json under {ROOT}",
              file=sys.stderr)
        return 2
    spec = json.loads(spec_path.read_text())

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    check_names(m["name"] for m in wanted)

    cpus = len(os.sched_getaffinity(0))
    mem = spark_memory()
    _remove_stale_runs(ROOT / ".perfbench")
    root = ROOT / ".perfbench" / f"run-{os.getpid()}"
    for d in ("tmp", "spark-local"):
        (root / d).mkdir(parents=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": mem,
        "SPARK_LOCAL_DIRS": str(root / "spark-local"),
        "TMPDIR": str(root / "tmp"),
        "TZ": "UTC",
    })
    time.tzset()
    tempfile.tempdir = str(root / "tmp")

    try:
        ctx, e2e, samples, layers = run_workload(args, root, T_START)
        run_bytes, run_files = du(root)
    finally:
        shutil.rmtree(root, ignore_errors=True)

    if args.trace:
        for name in (m["name"] for m in spec["per_layer"]):
            if name not in layers and name.startswith(BYPASSED[args.workload]):
                layers[name] = 0.0
    values = layers if args.trace else e2e
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        raise RuntimeError(f"workload did not produce metrics {missing}")
    print(json.dumps({"perfbench": {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "scale": args.scale, "nproc": cpus, "spark_memory": mem,
        "spark_local_dirs": ".perfbench/run-<pid>/spark-local",
        "input_rows": ctx.input_rows, "input_bytes": ctx.input_bytes,
        "samples": samples, "checks": ctx.checks, "host": ctx.host,
        "run_dir_bytes": run_bytes, "run_dir_files": run_files, "end_to_end": e2e,
        "details": ctx.details,
    }}))
    correct = ctx.failed == 0
    print(json.dumps({
        "correct": correct, "attempted": ctx.attempted, "failed": ctx.failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:  # noqa: BLE001 - report and fail without a result line
        traceback.print_exc()
        sys.exit(1)
