"""RTCEF benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload detect_narrow --seed 1 --seconds 10 --trace 0

Run from the repository root.  ``--trace 0`` prints the end-to-end
metrics of an untraced pass.  ``--trace 1`` runs the same untraced
pass, then a traced pass (spans with Spark job groups, and Spark's
event log folded per group), and prints the per-layer metrics, the
tracing overhead (traced minus untraced, per end-to-end metric) and,
for ``detect_narrow``, a single-threaded ``local[1]`` drain baseline.
The command's own process only supervises: a child runs the benchmark,
and every process the run started is stopped before the command exits
(perfbench/procs.py).  See perfbench/README.md for what each workload
and metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import adapt, detect, measure, procs  # noqa: E402
from perfbench.trace import Tracer, event_log_conf, fold_event_log, union_ms  # noqa: E402

WORKLOADS = ("detect_narrow", "adapt_drift")
SETUP_REPEATS = 3
DRIVER_MEM = "2g"


def _configure_env(work: str) -> dict[str, str]:
    """Size the session from outside the program; every run records it."""
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        # python workers import the package by name
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    }
    os.environ.update(env)
    os.makedirs(env["SPARK_LOCAL_DIRS"], exist_ok=True)
    return env


def _session(work: str, master: str | None = None, extra: dict | None = None):
    from flink_rtcef_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.streaming.numRecentProgressUpdates": "100000",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        **(extra or {}),
    }
    return get_spark("perfbench", master=master, extra_conf=conf)


def units(section: str) -> dict[str, str]:
    """Metric -> unit for ``end_to_end`` or ``per_layer``, as
    BENCHMARK.json lists them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


def _metric_block(values: dict[str, float], section: str) -> dict:
    want = units(section)
    missing = set(want) - set(values)
    if missing:
        raise RuntimeError(f"{section} metrics not produced: {sorted(missing)}")
    return {k: {"value": float(values[k]), "unit": u} for k, u in want.items()}


class Bench:
    def __init__(self, workload: str, seed: int, seconds: int, work: str):
        self.workload, self.seed, self.seconds, self.work = workload, seed, seconds, work
        self.spark = None
        self.timings: dict[str, list[float]] = {"session_s": [], "compile_ms": [], "initial_train_s": []}
        self.pdf = None
        self.prepared = None

    def restart(self, master=None, extra=None) -> float:
        if self.spark is not None:
            self.spark.stop()
        t = time.perf_counter()
        self.spark = _session(self.work, master, extra)
        self.spark.range(1).count()
        return time.perf_counter() - t

    def setup_once(self) -> float:
        """Session (re)start, first action, pattern compile and, for the
        loop, the cached stream and the initial model."""
        t = time.perf_counter()
        self.timings["session_s"].append(self.restart())
        if self.workload == "adapt_drift":
            got: dict = {}
            self.prepared = adapt.setup(self.spark, self.pdf, got)
            self.timings["compile_ms"].append(got["compile_ms"])
            self.timings["initial_train_s"].append(got["initial_train_s"])
        else:
            from flink_rtcef_spark.plans.compiler import compile_pattern

            c = time.perf_counter()
            compile_pattern(detect.PATTERN, detect.DECLS)
            self.timings["compile_ms"].append((time.perf_counter() - c) * 1000)
            self.timings["initial_train_s"].append(0.0)
        return time.perf_counter() - t

    def measure(self, tracer, tag: str):
        work = os.path.join(self.work, tag)
        os.makedirs(work, exist_ok=True)
        if self.workload == "adapt_drift":
            run = adapt.run_adapt(self.spark, self.pdf, self.prepared, work, tracer)
            return run, adapt.end_to_end(run)
        run = detect.run_detect(self.spark, self.seed, self.seconds, work, tracer)
        return run, detect.end_to_end(run)


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else list(argv)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # the supervisor's pid, set on the child that runs the benchmark proper
    ap.add_argument("--inner", type=int, help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "flink_rtcef_spark")):
        print(f"error: package flink_rtcef_spark not found under {ROOT}", file=sys.stderr)
        return 2
    if args.inner is None:
        return _supervise(argv, args)
    procs.die_with_parent(signal.SIGTERM, args.inner)
    # a terminated run still stops its session and generator
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = _work_dir(args, args.inner)
    env = _configure_env(work)
    bench = Bench(args.workload, args.seed, args.seconds, work)
    try:
        return _run(bench, args, env)
    finally:
        if bench.spark is not None:
            bench.spark.stop()


def _supervise(argv: list[str], args) -> int:
    """Run the benchmark in a child, then stop and reap every process
    the run left (the Spark JVM shuts down only after its driver has
    exited), so that none outlives this one, and remove the run's
    scratch directory."""
    work = _work_dir(args, os.getpid())
    os.makedirs(work, exist_ok=True)
    procs.become_subreaper()
    child = subprocess.Popen([sys.executable, os.path.abspath(__file__), *argv, "--inner", str(os.getpid())])

    def forward(*_):
        if child.returncode is None:
            child.send_signal(signal.SIGTERM)

    signal.signal(signal.SIGTERM, forward)
    signal.signal(signal.SIGINT, forward)
    try:
        rc = child.wait()
    finally:
        procs.stop_descendants()
        shutil.rmtree(work, ignore_errors=True)
    return rc if rc >= 0 else 128 - rc


def _work_dir(args, supervisor: int) -> str:
    return os.path.join(HERE, "_work", f"{args.workload}-s{args.seed}-{supervisor}")


def _run(bench: Bench, args, env: dict) -> int:
    if args.workload == "adapt_drift":
        bench.pdf = adapt.synth_finance(args.seed)
    first = bench.restart()
    setups = [bench.setup_once() for _ in range(SETUP_REPEATS)]
    canary = measure.host_canary(bench.spark)

    run_u, e2e = bench.measure(Tracer("u"), "u")
    e2e["setup_s"] = measure.median(setups)
    failures = list(run_u.failures)
    ops = run_u.ops
    info = {"settings": env, "canary": canary, "setup_samples_s": setups, "first_session_s": first}
    if args.workload == "adapt_drift":
        info["instructions"] = run_u.instructions
    else:
        pct, _v, n = measure.tail_percentile(run_u.latencies_ms)
        info["latency_samples"], info["latency_tail_pct"] = n, pct
        lat = sorted(run_u.latencies_ms)
        info["latency_ms"] = {f"p{q}": measure.nearest_rank(lat, q) for q in (50, 90, 95, 99)}

    if not args.trace:
        metrics = _metric_block(e2e, "end_to_end")
    else:
        log_dir = os.path.join(bench.work, "eventlog")
        bench.restart(extra=event_log_conf(log_dir))
        if args.workload == "adapt_drift":
            bench.prepared = adapt.setup(bench.spark, bench.pdf, {})
        tracer = Tracer("t", bench.spark)
        run_t, e2e_t = bench.measure(tracer, "t")
        failures += [f"traced pass: {f}" for f in run_t.failures]
        ops += run_t.ops
        bench.spark.stop()
        bench.spark = None
        groups, intervals = fold_event_log(log_dir)
        layer = _spark_layer(tracer, groups, intervals, "loop.replay" if args.workload == "adapt_drift" else "streaming.batch")
        if args.workload == "adapt_drift":
            if run_t.instructions != run_u.instructions:
                failures.append(f"instruction sequence differs between passes of one seed: {run_u.instructions} vs {run_t.instructions}")
            layer.update(adapt.per_layer(run_t, tracer))
        else:
            layer.update(detect.per_layer(run_t, tracer))
            failures += _extra_drains(bench, args, layer)
        layer["setup.session_s"] = measure.median(bench.timings["session_s"])
        layer["setup.first_session_s"] = first
        layer["setup.compile_ms"] = measure.median(bench.timings["compile_ms"])
        layer["setup.initial_train_s"] = measure.median(bench.timings["initial_train_s"])
        layer.update(canary)
        for k in e2e:
            if k != "setup_s":
                layer[f"overhead.{k}"] = e2e_t[k] - e2e[k]
        # a layer this workload never calls reads 0
        metrics = _metric_block({**dict.fromkeys(units("per_layer"), 0.0), **layer}, "per_layer")
        os.makedirs(os.path.join(HERE, "_out"), exist_ok=True)
        out = os.path.join(HERE, "_out", f"{args.workload}-seed{args.seed}")
        tracer.dump(out + "-spans.json")
        with open(out + "-groups.json", "w") as f:
            json.dump({"groups": groups, "info": info, "per_layer": layer}, f, indent=1)

    for f in failures:
        print(f"# FAILED: {f}")
    print("# " + json.dumps(info))
    print(json.dumps({
        "correct": not failures,
        "attempted": max(1, ops),
        "failed": len(failures),
        "metrics": metrics,
    }))
    return 0


def _extra_drains(bench: Bench, args, layer: dict) -> list[str]:
    """Two drains outside the timed passes: one file above the driver
    bound, which takes the distributed sql route, and the run's backlog
    on ``local[1]``, the single-threaded baseline."""
    fails = []
    bench.restart()
    rate, routes, f = detect.drain_once(
        bench.spark, detect.sql_route_backlog(args.seed), os.path.join(bench.work, "sql"), Tracer("sql"),
        check=True,
    )
    layer["fastpath.sql_route_events_per_s"] = rate
    fails += [f"sql-route drain: {x}" for x in f]
    if routes != ["sql"]:
        fails.append(f"sql-route drain took routes {routes}, expected ['sql']")
    bench.restart(master="local[1]")
    rate, _routes, _ = detect.drain_once(
        bench.spark, detect.local1_backlog(args.seed, args.seconds), os.path.join(bench.work, "l1"), Tracer("l1"),
        check=False,
    )
    layer["baseline.local1_drain_events_per_s"] = rate
    return fails


def _spark_layer(tracer, groups: dict, intervals: dict, root: str) -> dict[str, float]:
    """``spark.*``/``python.*`` summed over the traced pass's job groups;
    driver time is the root spans' wall minus the union of their stage
    intervals."""
    prefix = tracer.run_id + "/"
    mine = {g: v for g, v in groups.items() if g.startswith(prefix)}

    def total(key):
        return float(sum(v.get(key, 0.0) for v in mine.values()))

    stage_ms = union_ms([iv for g, ivs in intervals.items() if g.startswith(prefix) for iv in ivs])
    root_ms = sum(tracer.ms(root))
    return {
        "spark.jobs": total("jobs"),
        "spark.stages": total("stages"),
        "spark.tasks": total("tasks"),
        "spark.driver_ms": root_ms - stage_ms,
        "spark.executor_cpu_ms": total("executor_cpu_ms"),
        "spark.shuffle_bytes": total("shuffle_bytes"),
        "spark.spill_bytes": total("spill_bytes"),
        "spark.gc_ms": total("gc_ms"),
        "python.eval_ms": total("python_ms"),
        "python.tasks": total("python_tasks"),
    }


if __name__ == "__main__":
    sys.exit(main())
