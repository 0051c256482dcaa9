"""Benchmark runner.

    python3 perfbench/run.py --workload paper_sim --seed 1 --seconds 5 --trace 0

Run from the repository root.  One process is the single closed-loop
client: it starts a Spark session on ``local[<nproc>]``, prepares the
workload's inputs from the seed and runs one warm-up operation (all
three are ``setup_s``), then times operations back to back until
``--seconds`` of operation time have passed.  Every operation's outputs
are checked outside the timed region; a failed operation is counted and
the run goes on.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` records
spans around the package's layer functions and reports the per-layer
metrics (see README.md).  The last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``.  A fuller
record of the run goes to ``.perfbench_work/results/``.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import hashlib
import importlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback

import procfs

PROCESS_START = time.perf_counter()
CPU_AT_START = procfs.cpu_times()

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "data_integration_with_pseudoweights_and_survey_calibration_spark"
WORK = os.path.join(ROOT, ".perfbench_work")

# (module, function) pairs the traced run wraps; the span is named
# "<module>.<function>".
LAYERS = [
    ("simulation", "generate_population"),
    ("simulation", "draw_samples"),
    ("survival", "lambda_star_pop"),
    ("survival", "breslow_cum_hazard"),
    ("survival", "gail_cum_hazard"),
    ("method_suite", "estimate_methods"),
    ("cox", "cox_fit"),
    ("glm", "weighted_logistic"),
    ("sampling", "assign_jk_groups"),
    ("dense_suite", "jk_suite_grouped"),
    ("pseudoweights", "kw_weights"),
    ("propensity", "integrate"),
    ("calibration", "post_stratify"),
]

# Per-layer metrics: (span name, quantity).  Setup spans are summed over
# the set-up phase; the rest are per measured operation.
SETUP_METRICS = [
    ("session.get_spark", "wall_s"),
    ("simulation.generate_population", "wall_s"),
    ("survival.lambda_star_pop", "wall_s"),
]
OP_METRICS = [
    ("method_suite.estimate_methods", q)
    for q in ("wall_s", "self_s", "jobs", "stages", "tasks", "py4j_calls")
] + [
    ("simulation.draw_samples", "wall_s"),
    ("simulation.draw_samples", "jobs"),
    ("cox.cox_fit", "calls"),
    ("cox.cox_fit", "wall_s"),
    ("cox.cox_fit", "jobs"),
    ("cox.cox_fit", "iterations"),
    ("cox.cox_fit", "exec_cpu_s"),
    ("glm.weighted_logistic", "calls"),
    ("glm.weighted_logistic", "wall_s"),
    ("glm.weighted_logistic", "iterations"),
    ("glm.weighted_logistic", "jobs"),
    ("survival.gail_cum_hazard", "calls"),
    ("survival.gail_cum_hazard", "wall_s"),
    ("survival.breslow_cum_hazard", "calls"),
    ("survival.breslow_cum_hazard", "wall_s"),
    ("survival.breslow_cum_hazard", "jobs"),
    ("sampling.assign_jk_groups", "wall_s"),
    ("dense_suite.jk_suite_grouped", "wall_s"),
    ("dense_suite.jk_suite_grouped", "tasks"),
    ("dense_suite.jk_suite_grouped", "exec_cpu_s"),
    ("dense_suite.jk_suite_grouped", "python_worker_s"),
] + [
    ("pseudoweights.kw_weights", q)
    for q in ("wall_s", "jobs", "tasks", "exec_cpu_s", "shuffle_mb", "python_worker_s")
] + [
    ("propensity.integrate", "wall_s"),
    ("propensity.integrate", "self_s"),
    ("calibration.post_stratify", "wall_s"),
] + [
    ("spark", q)
    for q in (
        "jobs", "stages", "tasks", "py4j_calls", "exec_run_s", "exec_cpu_s", "shuffle_mb",
        "spill_mb", "gc_s", "python_worker_s", "tasks_speculative", "tasks_failed",
    )
]
TRACE_METRICS = ["op_wall_s", "uncovered_s", "overhead_s"]


def per_layer_names() -> list[str]:
    return (
        [f"{n}.{q}" for n, q in SETUP_METRICS + OP_METRICS]
        + [f"trace.{q}" for q in TRACE_METRICS]
        + ["machine.pace"]
    )


# Driver heap.  The package default (16g) equals the RAM of a 16 GB
# machine; these workloads keep well under 1 GB live, and a small heap
# keeps the JVM's resident size, and so peak_rss_mb, from wandering with
# how far the collector lets the heap grow.
HEAP = "1g"


E2E_UNITS = {"setup_s": "s", "draw_s": "s", "peak_rss_mb": "MB"}
UNITS = {
    "wall_s": "s", "self_s": "s", "exec_run_s": "s", "exec_cpu_s": "s", "gc_s": "s",
    "python_worker_s": "s", "shuffle_mb": "MB", "spill_mb": "MB",
}


def launcher_env() -> dict:
    """Fit the Spark launcher to this machine and keep every file the
    run writes inside the checkout."""
    ncpu = len(os.sched_getaffinity(0))
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(ncpu)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # the JVM that spark-submit runs to build the driver's command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)
    return {"nproc": ncpu, "heap": HEAP, "phys_gb": round(phys / 2**30, 1)}


def spark_conf(trace: bool, run_id: str) -> dict:
    tmp = os.path.join(WORK, "tmp")
    conf = {
        "spark.local.dir": os.path.join(WORK, "local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        evdir = os.path.join(WORK, "eventlog", run_id)
        shutil.rmtree(evdir, ignore_errors=True)  # an earlier run's log
        os.makedirs(evdir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evdir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def source_digest() -> str:
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(ROOT, PACKAGE, "**", "*.py"), recursive=True)):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None  # the benchmark also runs from plain checkouts
    res = subprocess.run(
        ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True
    )
    return res.stdout.strip() or None


def stop_spark(spark) -> None:
    """Stop the session, the JVM it launched and the JVM's Python
    workers, and wait until each process has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    kids = procfs.descendants(proc.pid) if proc is not None else []
    spark.stop()
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 20
    while kids and time.monotonic() < deadline:
        kids = [p for p in kids if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for pid in kids:
        with contextlib.suppress(ProcessLookupError):
            os.kill(pid, 9)


def steal_share(c0: tuple[float, float], c1: tuple[float, float]) -> float:
    """Share of the CPU time this machine wanted between two
    ``procfs.cpu_times()`` readings that the host gave to someone else."""
    busy, steal = c1[0] - c0[0], c1[1] - c0[1]
    return steal / (busy + steal) if busy + steal > 0 else 0.0


# How a draw's wall grows with the stolen share s: by (1 - s) ** -1.5,
# not (1 - s) ** -1.  A stolen second on a virtual CPU costs the draw more
# than a second because the other side of each py4j round trip, and the
# other tasks of a stage, wait for it.  Fitted on 4-vCPU draws of both
# workloads with 4-28% steal, which matched the quiet draws at exponents
# of 1.4-2; an exponent of 1 left them 15-40% above the quiet ones.
STEAL_EXPONENT = 1.5


def at_reference(wall: float, steal: float, pace: float) -> float:
    """A wall in seconds at the reference machine speed: the slowdown
    from the stolen share taken out, then divided by the probe's
    slowness (pace.py)."""
    return wall * (1.0 - steal) ** STEAL_EXPONENT / pace


def layer_metrics(tracer, log, ops: list[str]) -> dict:
    """Per-layer values from spans and the parsed event log: setup spans
    summed over the set-up phase, the rest averaged over the measured
    operations."""
    from spans import job_totals, self_times

    spans = tracer.spans
    selfs = self_times(spans)
    values: dict[str, float] = {}

    def quantities(idx: list[int]) -> dict[str, float]:
        q = {"calls": len(idx), "wall_s": 0.0, "self_s": 0.0, "jobs": 0,
             "stages": 0, "tasks": 0, "py4j_calls": 0, "iterations": 0,
             "exec_run_s": 0.0, "exec_cpu_s": 0.0, "shuffle_mb": 0.0, "spill_mb": 0.0, "gc_s": 0.0,
             "python_worker_s": 0.0, "tasks_speculative": 0, "tasks_failed": 0}
        for i in idx:
            sp = spans[i]
            jobs, stages, tot = job_totals(log, sp.job_lo, sp.job_hi)
            q["wall_s"] += sp.wall
            q["self_s"] += selfs[i]
            q["jobs"] += jobs
            q["stages"] += stages
            q["tasks"] += tot.tasks
            q["py4j_calls"] += sp.py4j
            q["iterations"] += sp.iterations
            q["exec_run_s"] += tot.run_s
            q["exec_cpu_s"] += tot.cpu_s
            q["shuffle_mb"] += tot.shuffle_write_bytes / 1e6
            q["spill_mb"] += tot.spill_bytes / 1e6
            q["gc_s"] += tot.gc_s
            q["python_worker_s"] += tot.python_s
            q["tasks_speculative"] += tot.speculative
            q["tasks_failed"] += tot.failed
        return q

    for name, qty in SETUP_METRICS:
        if name == "session.get_spark":
            continue
        idx = [i for i, s in enumerate(spans) if s.phase == "setup" and s.name == name]
        values[f"{name}.{qty}"] = quantities(idx)[qty]
    n_ops = max(1, len(ops))
    for name, qty in OP_METRICS:
        span_name = "op" if name == "spark" else name
        idx = [i for i, s in enumerate(spans) if s.phase in ops and s.name == span_name]
        values[f"{name}.{qty}"] = quantities(idx)[qty] / n_ops
    roots = [i for i, s in enumerate(spans) if s.phase in ops and s.name == "op"]
    op_wall = statistics.median(spans[i].wall for i in roots)
    values["trace.op_wall_s"] = op_wall
    values["trace.uncovered_s"] = statistics.median(selfs[i] for i in roots)
    values["trace.overhead_s"] = statistics.median(tracer.own_s.get(op, 0.0) for op in ops)
    return values


def metric_unit(name: str) -> str:
    if name in E2E_UNITS:
        return E2E_UNITS[name]
    if name == "machine.pace":
        return "ratio"
    if name.startswith("trace."):
        return "s"
    return UNITS.get(name.rsplit(".", 1)[-1], "count")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    env = launcher_env()
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    from pace import PaceProbe

    probe = PaceProbe()
    try:
        result = measure(WORKLOADS[args.workload](), args, env, probe)
    finally:
        probe.stop()
    print(json.dumps(result))
    return 0


def measure(workload, args, env: dict, probe) -> dict:
    """Set up, run the measured window and stop Spark; print
    the report and return the result object."""
    from data_integration_with_pseudoweights_and_survey_calibration_spark.session import (
        get_spark,
    )

    trace = bool(args.trace)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}"
    t = time.perf_counter()
    spark = get_spark("perfbench", **spark_conf(trace, run_id))
    session_s = time.perf_counter() - t
    rss = procfs.PeakRss(os.getpid()).start()
    tracer = None
    span = lambda name: contextlib.nullcontext()  # noqa: E731
    findings: list[str] = []
    failed: set[int] = set()  # operations that raised or failed a check
    walls: list[float] = []  # measured draws
    paces: list[float] = []  # machine slowness during each measured draw
    steals: list[float] = []  # share of wanted CPU time the host took
    try:
        spark.sparkContext.setLogLevel("ERROR")
        if trace:
            from spans import Tracer

            tracer = Tracer(spark)
            span = tracer.span
            for mod, fn in LAYERS:
                module = importlib.import_module(f"{PACKAGE}.operators.{mod}")
                tracer.wrap(module, fn, f"{mod}.{fn}", prefixes=(PACKAGE, "workloads"))
        workload.prepare(spark, args.seed)

        def run_op(index: int, phase: str) -> float:
            """Run, time and check one operation; return its wall."""
            if tracer:
                tracer.phase = phase
            out = None
            t0 = time.perf_counter()
            try:
                with span("op"):
                    out = workload.operation(index, span)
            except Exception:  # noqa: BLE001 - a failed operation is a finding
                failed.add(index)
                findings.append(f"{phase} raised\n{traceback.format_exc()}")
            wall = time.perf_counter() - t0
            if out is not None:  # checked outside the timed region
                try:
                    problems = workload.check(out)
                except Exception:  # noqa: BLE001
                    problems = [f"check raised\n{traceback.format_exc()}"]
                if problems:
                    failed.add(index)
                    findings.extend(f"{phase}: {p}" for p in problems)
            return wall

        # Warm-up: the session's first operation pays for JIT compilation,
        # code generation, Python worker start and Arrow set-up (1.5-2x a
        # later one).  It is checked and counted like any other, and its
        # time is charged to setup_s.
        warmup_s = run_op(0, "warmup")
        setup_s = time.perf_counter() - PROCESS_START
        setup_steal = steal_share(CPU_AT_START, procfs.cpu_times())
        setup_pace = probe.factor(0.0, time.monotonic())
        while sum(walls) < args.seconds:
            m0, c0 = time.monotonic(), procfs.cpu_times()
            walls.append(run_op(len(walls) + 1, f"op{len(walls)}"))
            paces.append(probe.factor(m0, time.monotonic()))
            steals.append(steal_share(c0, procfs.cpu_times()))
        env["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
        env["spark"] = spark.version
    finally:
        if tracer:
            tracer.close()
        stop_spark(spark)
        peak = rss.stop()
    attempted = len(walls) + 1  # the warm-up counts

    env.update({
        "python": platform.python_version(),
        "loadavg": [round(v, 2) for v in os.getloadavg()],
        "git_commit": git_commit(),
        "source_sha256": source_digest(),
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
    })
    ops = [f"op{i}" for i in range(len(walls))]
    if trace:
        from spans import parse_event_log

        (log_path,) = glob.glob(os.path.join(WORK, "eventlog", run_id, "*"))
        with open(log_path) as f:
            log = parse_event_log(f)
        values = {"session.get_spark.wall_s": session_s}
        values.update(layer_metrics(tracer, log, ops))
        values["machine.pace"] = statistics.median(paces)
    else:
        values = {
            "setup_s": at_reference(setup_s, setup_steal, setup_pace),
            "draw_s": statistics.median(map(at_reference, walls, steals, paces)),
            "peak_rss_mb": peak / 1e6,
        }
    metrics = {k: {"value": float(v), "unit": metric_unit(k)} for k, v in values.items()}
    result = {"correct": not failed, "attempted": attempted, "failed": len(failed),
              "metrics": metrics}

    for finding in findings:
        print(f"perfbench finding: {finding}", file=sys.stderr)
    print("env " + json.dumps(env, sort_keys=True))
    print(f"set-up wall {setup_s:.3f} s (warm-up draw {warmup_s:.3f} s), steal"
          + f" {setup_steal:.4f}, pace {setup_pace:.3f}; measured draws {len(walls)}; wall s"
          + f" {[round(w, 3) for w in walls]}; steal {[round(x, 4) for x in steals]}"
          + f"; pace {[round(p, 3) for p in paces]}")
    print(f"error_rate {len(failed)}/{attempted} = {len(failed) / attempted:.4f} (ratio)")
    for k, m in metrics.items():
        print(f"{k} = {m['value']} {m['unit']}")
    record = dict(result, env=env, walls=walls, steals=steals, paces=paces,
                  warmup_s=warmup_s, setup_wall_s=setup_s, setup_steal=setup_steal,
                  setup_pace=setup_pace, findings=findings)
    if tracer:
        record["spans"] = [
            {"name": s.name, "phase": s.phase, "parent": s.parent, "wall_s": s.wall,
             "jobs": s.job_hi - s.job_lo, "py4j": s.py4j, "iterations": s.iterations}
            for s in tracer.spans
        ]
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", run_id + ".json"), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    return result


if __name__ == "__main__":
    sys.exit(main())
