"""Tests of the benchmark's own machinery.

    python3 -m pytest perfbench/tests -q

The event-log test starts a small local Spark session; the others need
no session.
"""

from __future__ import annotations

import filecmp
import json
import os
import re
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, ROOT)

from perfbench import adapt, detect, gen, measure, run  # noqa: E402
from perfbench.trace import Tracer, event_log_conf, fold_event_log  # noqa: E402

SMALL = gen.StreamSpec(
    keys=50, zipf_s=1.1, tick_ms=500, tick_events=100,
    warmup_files=2, warmup_events=200, backlog_files=2, backlog_events=300,
)


def _write_all(seed: int, d: str) -> list[str]:
    paths = []
    for phase, tables in gen.phase_tables(seed, SMALL, 2).items():
        paths += gen.write_phase(tables, d, phase)
    return paths


def test_same_seed_gives_byte_identical_files(tmp_path):
    a = _write_all(3, str(tmp_path / "a"))
    b = _write_all(3, str(tmp_path / "b"))
    assert [os.path.basename(p) for p in a] == [os.path.basename(p) for p in b]
    for pa_, pb in zip(a, b):
        assert filecmp.cmp(pa_, pb, shallow=False), pa_


def test_other_seed_gives_other_files(tmp_path):
    a = _write_all(3, str(tmp_path / "a"))
    b = _write_all(4, str(tmp_path / "b"))
    assert not any(filecmp.cmp(x, y, shallow=False) for x, y in zip(a, b))


def test_generated_ids_and_times_increase_across_phases():
    tables = gen.phase_tables(5, SMALL, 2)
    ids, ts = [], []
    for phase in ("warmup", "tick", "backlog"):
        for t in tables[phase]:
            ids += t.column("id").to_pylist()
            ts += [v.value for v in t.column("ts")]
    assert ids == list(range(len(ids)))
    assert ts == sorted(ts)
    assert len(tables["tick"]) == gen.open_loop_ticks(SMALL, 2) == 4


@pytest.mark.parametrize(
    "n, pct",
    [(10_000, 99.0), (1_000, 99.0), (999, 95.0), (200, 95.0), (199, 90.0),
     (100, 90.0), (99, 75.0), (40, 75.0), (39, 50.0), (1, 50.0)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, pct):
    samples = list(range(n, 0, -1))
    got_pct, value, count = measure.tail_percentile(samples)
    assert (got_pct, count) == (pct, n)
    beyond = sum(1 for s in samples if s > value)
    assert beyond >= 10 or pct == 50.0
    assert value == measure.nearest_rank(sorted(samples), pct)


def test_self_time_subtracts_union_of_children():
    tr = Tracer("x")
    tr.spans = []
    from perfbench.trace import Span

    tr.spans.append(Span("root", 0.0, 1.0, None, "x", 0))
    tr.spans.append(Span("a", 0.1, 0.4, 0, "x", 1))
    tr.spans.append(Span("b", 0.3, 0.5, 0, "x", 2))   # overlaps a
    tr.spans.append(Span("c", 0.9, 1.2, 0, "x", 3))   # runs past the parent
    assert tr.self_ms(tr.spans[0]) == pytest.approx(1000 * (1.0 - 0.4 - 0.1))


def test_adapt_session_reaches_the_optimizer_surrogate():
    # ask() answers from its surrogate only after n_initial random points
    assert adapt.N_OPT_EVALS > adapt.N_INITIAL
    assert adapt.LAST_K < adapt.WINDOWS


def test_event_log_fold_agrees_with_status_tracker(tmp_path):
    from flink_rtcef_spark.session import get_spark

    log_dir = str(tmp_path / "log")
    spark = get_spark(
        "perfbench-test", master="local[2]",
        extra_conf={**event_log_conf(log_dir), "spark.ui.showConsoleProgress": "false"},
    )
    try:
        sc = spark.sparkContext
        tr = Tracer("r", spark)
        with tr.span("work"):
            spark.range(0, 10_000, numPartitions=3).selectExpr("id % 7 AS g").groupBy("g").count().collect()
            spark.range(0, 100, numPartitions=2).count()
        st = sc.statusTracker()
        jobs = st.getJobIdsForGroup("r/work")
        stage_ids = {s for j in jobs for s in st.getJobInfo(j).stageIds}
        infos = [st.getStageInfo(s) for s in stage_ids]
        ran = [i for i in infos if i is not None and i.numCompletedTasks > 0]
        expected = {
            "jobs": len(jobs),
            "stages": len(ran),
            "tasks": sum(i.numCompletedTasks for i in ran),
        }
    finally:
        spark.stop()
    groups, intervals = fold_event_log(log_dir)
    got = groups["r/work"]
    assert {k: int(got[k]) for k in expected} == expected
    assert expected["jobs"] >= 2
    assert len(intervals["r/work"]) == expected["stages"]


def test_stop_descendants_reaps_orphans():
    """A subreaper inherits a grandchild whose parent has exited (as the
    Spark JVM's workers are when the JVM goes) and stops it."""
    script = (
        "import os, subprocess, sys\n"
        f"sys.path.insert(0, {ROOT!r})\n"
        "from perfbench import measure, procs\n"
        "procs.become_subreaper()\n"
        "subprocess.run(['sh', '-c', 'sleep 60 & exit 0'], check=True)\n"
        "assert len(measure.tree_pids(os.getpid())) == 2\n"
        "procs.stop_descendants()\n"
        "assert measure.tree_pids(os.getpid()) == [os.getpid()]\n"
        "print('ok')\n"
    )
    out = subprocess.run([sys.executable, "-c", script], capture_output=True, text=True, timeout=60)
    assert out.stdout.strip() == "ok", out.stderr


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_names_are_well_formed_and_unique():
    b = _bench()
    names = [w["name"] for w in b["workloads"]]
    names += [m["name"] for m in b["end_to_end"] + b["per_layer"]]
    assert len(names) == len(set(names))
    for n in names:
        assert re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n), n


def test_every_workload_prints_every_metric():
    """Every end-to-end name comes from each workload's end_to_end; every
    per-layer name from some workload's per_layer or from run.py, and
    none of them is a name BENCHMARK.json does not list (run.py reads 0
    for the layers a workload does not call)."""
    b = _bench()
    assert [w["name"] for w in b["workloads"]] == list(run.WORKLOADS)
    e2e = {m["name"] for m in b["end_to_end"]}
    assert set(detect.end_to_end(detect.DetectRun(latencies_ms=[1.0], drain_rates=[1.0]))) | {"setup_s"} == e2e
    a_e2e = adapt.AdaptRun(windows=[{"ms": 1.0, "instruction": False}], loop_wall_s=1.0)
    assert set(adapt.end_to_end(a_e2e)) | {"setup_s"} == e2e
    per_layer = {m["name"] for m in b["per_layer"]}
    common = {
        "spark.jobs", "spark.stages", "spark.tasks", "spark.driver_ms",
        "spark.executor_cpu_ms", "spark.shuffle_bytes", "spark.spill_bytes",
        "spark.gc_ms", "python.eval_ms", "python.tasks", "setup.session_s",
        "setup.first_session_s", "setup.compile_ms", "setup.initial_train_s",
        "host.canary_spark_s", "host.canary_numpy_s",
        "fastpath.sql_route_events_per_s", "baseline.local1_drain_events_per_s",
    } | {f"overhead.{k}" for k in e2e if k != "setup_s"}
    d_run = detect.DetectRun(latencies_ms=[1.0] * 20, drain_rates=[1.0], generator={"late_ms": [0.0]})
    det = set(detect.per_layer(d_run, Tracer("x")))
    ada = set(adapt.per_layer(adapt.AdaptRun(), Tracer("x")))
    assert det | ada | common == per_layer
